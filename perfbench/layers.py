"""Per-layer metrics of a traced run, from its spans and event log.

Layer names are the package modules. A pass-level metric is the
median over warm passes of its per-pass total, so it is on the same
footing as ``warm_wall_s``; build counters (relayout, session caches)
count the whole run, since builds land in the cold pass.
"""

from __future__ import annotations

import os
import statistics

import eventlog

# name -> (unit, better); the order is the order BENCHMARK.json lists.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "engine.load_s": ("s", "lower"),
    "engine.q1_s": ("s", "lower"),
    "engine.q2_s": ("s", "lower"),
    "engine.m1_s": ("s", "lower"),
    "engine.m2_s": ("s", "lower"),
    "engine.m3_s": ("s", "lower"),
    "engine.delete_s": ("s", "lower"),
    "engine.maintain_s": ("s", "lower"),
    "csv_source.load_s": ("s", "lower"),
    "csv_source.rows_dropped": ("count", "lower"),
    "integrity.rejected_frac": ("ratio", "lower"),
    "integrity.ri_sweep_s": ("s", "lower"),
    "catalog.relayout_builds": ("count", "lower"),
    "catalog.relayout_s": ("s", "lower"),
    "snapshots.commit_s": ("s", "lower"),
    "snapshots.append_s": ("s", "lower"),
    "snapshots.read_s": ("s", "lower"),
    "snapshots.vacuum_s": ("s", "lower"),
    "snapshots.dirs_live": ("count", "lower"),
    "snapshots.bytes_written_per_op": ("bytes", "lower"),
    "materialize.cache_builds": ("count", "lower"),
    "materialize.cache_build_s": ("s", "lower"),
    "materialize.cache_hit_frac": ("ratio", "higher"),
    "materialize.parquet_passes": ("count", "lower"),
    "materialize.cached_mb": ("MB", "lower"),
    "workloads.call_s": ("s", "lower"),
    "workloads.exec_s": ("s", "lower"),
    **{f"workloads.{f}.exec_s": ("s", "lower") for f in
       ("parity", "analytics", "eventflow", "dedup", "similarity", "text")},
    "streaming.batches": ("count", "lower"),
    "streaming.batch_p50_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.sched_delay_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.python_udf_s": ("s", "lower"),
    "spark.task_retry_frac": ("ratio", "lower"),
    "read_p50_s": ("s", "lower"),
    "write_p50_s": ("s", "lower"),
    "write_tail_s": ("s", "lower"),
    "store_bytes_per_user_byte": ("ratio", "lower"),
    "ops_failed_frac": ("ratio", "lower"),
    "trace.cold_wall_s": ("s", "lower"),
    "trace.warm_wall_s": ("s", "lower"),
    "trace.lat_p50_s": ("s", "lower"),
    "trace.lat_tail_s": ("s", "lower"),
    "trace.span_cover_frac": ("ratio", "higher"),
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the time its children cover."""
    child: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            child.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = eventlog.union_s(
            [(c["start"], c["end"]) for c in child.get(s["id"], [])],
            s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _inside(span: dict, name: str, by_id: dict) -> bool:
    """Whether an ancestor of ``span`` is named ``name``."""
    parent = by_id.get(span["parent"])
    while parent is not None:
        if parent["name"] == name:
            return True
        parent = by_id.get(parent["parent"])
    return False


def _epoch(iso: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, 'Z')."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(run, spans: list[dict], app_id: str, e2e: dict, extra: dict,
              samples: dict) -> dict:
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    root_of = {s["id"]: by_id[s["op"]] for s in spans}

    def pass_of(s) -> int:
        return root_of[s["id"]].get("pass_no", -1)

    warm_passes = sorted({r["pass_no"] for r in roots if r.get("pass_no", 0) > 0})

    def per_pass(values: list[tuple[int, float]]) -> float:
        """Median over warm passes of the per-pass sum."""
        tot = {p: 0.0 for p in warm_passes}
        for p, v in values:
            if p in tot:
                tot[p] += v
        return _median(list(tot.values()))

    def dur(s) -> float:
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    m: dict[str, float] = {}
    m["session.start_s"] = run.setup_parts["session_s"]

    # engine: the social_ops operations themselves
    op_kind = {"load": "engine.load_s", "q1": "engine.q1_s", "q2": "engine.q2_s",
               "m1": "engine.m1_s", "m2": "engine.m2_s", "m3": "engine.m3_s",
               "delete": "engine.delete_s", "maintain": "engine.maintain_s"}
    for kind, metric in op_kind.items():
        xs = [o["s"] for o in run.ops if o["kind"] == kind and o["ok"]
              and (o["pass"] > 0 or kind == "load")]
        m[metric] = _median(xs)

    social = getattr(run, "social", {})
    load_ops = [r for r in roots if r.get("kind") == "load"]
    seed_commit = sum(dur(s) for s in spans if s["name"] == "snapshots.commit"
                      and load_ops and s["op"] == load_ops[0]["id"])
    m["csv_source.load_s"] = (dur(load_ops[0]) - seed_commit) if load_ops else 0.0
    m["csv_source.rows_dropped"] = social.get("rows_dropped", 0)
    m["integrity.rejected_frac"] = (
        social["m2_rejected"] / social["m2_submitted"]
        if social.get("m2_submitted") else 0.0)
    m["integrity.ri_sweep_s"] = social.get("ri_sweep_s", 0.0)

    relayouts = [s for s in named("catalog.relayout") if s.get("delta", 0) > 0]
    m["catalog.relayout_builds"] = sum(s["delta"] for s in relayouts)
    m["catalog.relayout_s"] = sum(dur(s) for s in relayouts)

    for meth in ("commit", "append", "read", "vacuum"):
        m[f"snapshots.{meth}_s"] = _median([dur(s) for s in named(f"snapshots.{meth}")])
    store = os.path.join(run.work, "store")
    m["snapshots.dirs_live"] = sum(
        1 for v in os.listdir(store) if v.startswith("v")
        for t in os.listdir(os.path.join(store, v))
        if os.path.isdir(os.path.join(store, v, t))
    ) if os.path.isdir(store) else 0
    writes = named("snapshots.commit") + named("snapshots.append")
    m["snapshots.bytes_written_per_op"] = (
        sum(s.get("bytes", 0) for s in writes) / len(writes) if writes else 0.0)

    builds = named("materialize.build")
    calls = named("materialize.session_cached")
    m["materialize.cache_builds"] = len(builds)
    # layered caches build inside each other: bill the outermost only
    m["materialize.cache_build_s"] = sum(
        dur(s) for s in builds if not _inside(s, "materialize.build", by_id))
    m["materialize.cache_hit_frac"] = (
        (len(calls) - len(builds)) / len(calls) if calls else 0.0)
    m["materialize.parquet_passes"] = len(named("materialize.parquet_pass"))
    m["materialize.cached_mb"] = getattr(run, "cached_mb", 0.0)

    m["workloads.call_s"] = per_pass([(pass_of(s), dur(s)) for s in named("workloads.call")])
    m["workloads.exec_s"] = per_pass([(pass_of(s), dur(s)) for s in named("workloads.exec")])
    for fam in ("parity", "analytics", "eventflow", "dedup", "similarity", "text"):
        m[f"workloads.{fam}.exec_s"] = per_pass(
            [(pass_of(s), dur(s)) for s in named("workloads.exec")
             if s.get("family") == fam])

    log = eventlog.parse(eventlog.find_log(run.event_dir, app_id))
    eventlog.attribute(log, spans)
    # streaming progress, billed to the pass whose span held the trigger
    prog = []
    for p in log.progress:
        t = _epoch(p["timestamp"])
        owner = next((r for r in roots if r["start"] <= t <= r["end"]), None)
        if owner is not None and owner.get("pass_no", 0) > 0:
            prog.append((owner["pass_no"], p))
    ms = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
    m["streaming.batches"] = per_pass([(n, 1) for n, _ in prog])
    m["streaming.batch_p50_s"] = _median([ms(p, "triggerExecution") for _, p in prog])
    m["streaming.add_batch_s"] = per_pass([(n, ms(p, "addBatch")) for n, p in prog])
    m["streaming.commit_s"] = per_pass(
        [(n, ms(p, "walCommit") + ms(p, "commitOffsets")) for n, p in prog])
    m["streaming.input_rows"] = per_pass(
        [(n, src.get("numInputRows", 0)) for n, p in prog for src in p.get("sources", [])])
    last_state: dict[tuple, float] = {}
    for n, p in prog:
        last_state[(n, p["runId"])] = sum(
            o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
    m["streaming.state_rows"] = per_pass([(n, v) for (n, _), v in last_state.items()])

    # spark runtime, per warm pass
    op_spans: dict[int, set[str]] = {p: set() for p in warm_passes}
    for s in spans:
        p = pass_of(s)
        if p in op_spans:
            op_spans[p].add(s["id"])
    per = {p: eventlog.totals(log, ids) for p, ids in op_spans.items()}
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                "sched_delay_s", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "gc_s", "python_udf_s"):
        m[f"spark.{key}"] = _median([t[key] for t in per.values()])
    all_warm = set().union(*op_spans.values()) if op_spans else set()
    m["spark.task_retry_frac"] = eventlog.totals(log, all_warm)["task_retry_frac"]
    jobs_by_root: dict[str, list] = {}
    for j in log.jobs.values():
        if j.span in by_id:
            jobs_by_root.setdefault(by_id[j.span]["op"], []).append(j)
    gaps = []
    for r in roots:
        if r.get("pass_no", 0) > 0:
            busy = eventlog.job_union_s(jobs_by_root.get(r["id"], []), r["start"], r["end"])
            gaps.append((r["pass_no"], dur(r) - busy))
    m["spark.driver_gap_s"] = per_pass(gaps)

    for k in ("read_p50_s", "write_p50_s", "write_tail_s", "store_bytes_per_user_byte"):
        m[k] = extra[k][0] if k in extra else 0.0
    m["ops_failed_frac"] = (sum(1 for o in run.ops if not o["ok"]) / len(run.ops)
                            if run.ops else 0.0)
    m["trace.cold_wall_s"] = e2e["cold_wall_s"][0]
    m["trace.warm_wall_s"] = e2e["warm_wall_s"][0]
    m["trace.lat_p50_s"] = e2e["lat_p50_s"][0]
    m["trace.lat_tail_s"] = samples["lat_tail_s"]
    # Span self times over the cold and warm passes against those
    # passes' wall from the phase marks, taken independently of the
    # spans: time between operations (the benchmark's own model and
    # fingerprint checks) is in the wall but in no span.
    selfs = self_times(spans)
    covered = sum(selfs[s["id"]] for s in spans if pass_of(s) >= 0)
    ph = run.phases
    traced_wall = (ph["cold"] - ph["setup"]) + (ph["warm"] - ph["warm_start"])
    m["trace.span_cover_frac"] = covered / traced_wall if traced_wall else 0.0
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return {k: {"value": float(m[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
