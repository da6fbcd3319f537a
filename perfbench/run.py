"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (``social_ops``, ``relational_scan``, ``corpus_dedup``
or ``stream_drain``) in a fresh worker process (``worker.py``) on
``local[<usable cores>]``. The worker gets its own ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and JVM temp dir under ``.perfbench_work/`` in
the checkout, all deleted afterwards, so no run sees what an earlier
one staged (the engine's stream staging directories are content-keyed
under the temp dir and would otherwise survive across runs). This
process samples the worker tree's resident memory from ``/proc``.

Prints two JSON lines on stdout: a full report (host facts, every
metric with its unit and sample counts), then the result line
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Exits non-zero when any output check failed or the run could not
complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("social_ops", "relational_scan", "corpus_dedup", "stream_drain")
RUN_TIMEOUT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (the worker started
    a new session, so this is the worker, its JVM and Python workers)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "comm)": state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def tree_rss_mb(sid: int) -> float:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total / (1024.0 * 1024.0)


def host_facts(seed: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as f:
                    commit = f.read().strip()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "loadavg_start": os.getloadavg(),
        "seed": seed,
        "git_commit": commit,
    }


def main() -> int:
    t0 = time.time()
    # SIGTERM unwinds like an exception, so the finally blocks below
    # still kill and reap the worker's session.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: falsify one expected answer; the run must fail")
    args = ap.parse_args()
    facts = host_facts(args.seed)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    submit = []
    if args.trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{events}"]
    # JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM, which
    # would otherwise write its perf-data file under /tmp.
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               SPARK_GRAFT_CPUS=str(facts["nproc"]), PERFBENCH_T0=repr(t0),
               PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    if args.corrupt:
        cmd.append("--corrupt")

    log_path = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}.log")
    result = None
    peak = 0.0
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                while proc.poll() is None:
                    peak = max(peak, tree_rss_mb(proc.pid))
                    if time.time() - t0 > RUN_TIMEOUT_S:
                        print("perfbench: run timed out", file=sys.stderr)
                        break
                    time.sleep(0.1)
            finally:
                stop_session(proc)
        rpath = os.path.join(work, "result.json")
        if proc.returncode == 0 and os.path.exists(rpath):
            with open(rpath) as f:
                result = json.load(f)
        else:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass
    if result is None:
        print("perfbench: worker failed; no result", file=sys.stderr)
        return 2

    facts.update(result["facts"])
    result["phases"]["done"] = time.time() - t0
    if args.trace:
        metrics = result["per_layer"]
        metrics["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    else:
        metrics = result["end_to_end"]
    correct = result["failed"] == 0
    report = {k: v for k, v in result.items() if k not in ("ops", "per_layer")}
    report.update(facts=facts, metrics=metrics, peak_rss_mb=peak,
                  ops=[[o["name"], o["pass"], round(o["s"], 4), o["ok"]]
                       for o in result["ops"]])
    print(json.dumps(report))
    for failure in result["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


def stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's session and wait until every
    process in it has ended."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.time() + 15
    while True:
        pids = session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            print(f"perfbench: processes still alive: {pids}", file=sys.stderr)
            break
        time.sleep(0.1)
    proc.wait()


if __name__ == "__main__":
    sys.exit(main())
