"""One benchmark run of one workload, in the isolated process that
``run.py`` starts. Writes its result as JSON to ``<work>/result.json``.

Structure of a run (closed loop, one client thread):

1. set-up: imports, seeded input generation, the SparkSession build
   (driver JVM launch included);
2. cold pass: the workload's operation list once, in the fresh
   session; every one-time build lands here;
3. warm passes: the same list in seed-permuted order, a fixed number
   of times derived from ``--seconds`` (at least two passes);
4. checks, outside every timed region: each query's cold-pass result
   (collected right after the cold pass) and last warm result against
   its DuckDB oracle, or (``social_ops``) every answer against the
   benchmark's own model.

With ``--trace 1`` the layer entry points are wrapped in spans, the
Spark job group follows the open span, and the event log is parsed
after the session stops; that run reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Query lists: subsets of bench.py's headline families, small enough
# that a run (set-up, cold pass, warm passes, oracle checks) stays near
# 30 s; see perfbench/METRICS.md for what was left out. An odd number
# of queries per list keeps the pooled median latency on one query's
# samples instead of on the gap between two queries' latencies.
QUERY_WORKLOADS = {
    "relational_scan": [
        "q_pricing_summary", "a2_orders_per_customer", "m1_apply_price_deltas",
        "orders_rfm_segments", "orders_market_basket", "events_sessionize",
        "events_value_percentiles",
    ],
    "corpus_dedup": [
        "dedup_minhash_lsh", "dedup_containment_pairs", "sim_topk_bruteforce",
        "sim_topk_lsh", "sim_topk_ivf", "sim_topk_pq", "text_quality_score",
        "text_bigram_lm_score", "pipeline_pretrain_mix",
    ],
    "stream_drain": [
        "events_stream_attribution", "events_stream_sessionize",
        "events_stream_ingest",
    ],
}
WORKLOADS = ["social_ops", *QUERY_WORKLOADS]
MIN_WARM_PASSES = 2
# Nominal warm-pass wall per workload (4-core host, sf0.1). The warm
# phase runs a FIXED number of passes, ceil(--seconds / nominal): warm
# passes keep speeding up as the JIT compiles (pass 1 is ~1.5x pass
# 5), so a time-bounded loop would change which passes the median
# sees whenever the engine's speed changes.
NOMINAL_PASS_S = {"social_ops": 5.0, "relational_scan": 3.5,
                  "corpus_dedup": 2.4, "stream_drain": 3.8}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not lie
    above the median, so the maximum is reported instead."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    if len(s) <= 20:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.data = os.path.join(self.work, "data")
        self.ops: list[dict] = []  # kind, name, pass, seconds, ok
        self.failures: list[str] = []
        self.facts: dict = {}
        self.phases: dict = {}

    # -- set-up ------------------------------------------------------------
    def setup(self, t_start: float) -> None:
        self.t_start = t_start
        import pyspark

        from flat_file_social_media_database_engine_spark import workloads
        from flat_file_social_media_database_engine_spark.session import build_session

        import spans as tr

        workloads.load_all()
        self.tracer = tr.Tracer(self.args.trace)
        if self.args.trace:
            self.tracer.instrument()
        t_imported = time.time()

        t0 = time.time()
        if self.args.workload == "social_ops":
            import social

            self.gen = social.generate(self.data, self.args.seed)
        else:
            import datagen

            self.gen = {"rows": datagen.generate(
                self.data, self.args.seed, datagen.TABLES[self.args.workload])}
        gen_s = time.time() - t0

        t0 = time.time()
        self.spark = build_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts = {
            "import_s": t_imported - t_start,
            "gen_s": gen_s,
            "session_s": time.time() - t0,
        }
        self.setup_s = time.time() - t_start
        self.facts["spark_version"] = pyspark.__version__
        self.app_id = self.spark.sparkContext.applicationId
        self.mark("setup")

    # -- operations --------------------------------------------------------
    def mark(self, phase: str) -> None:
        """Wall-clock end of a run phase, seconds after process start."""
        self.phases[phase] = time.time() - self.t_start

    def record(self, kind, name, pass_no, seconds, ok=True):
        self.ops.append({"kind": kind, "name": name, "pass": pass_no,
                         "s": seconds, "ok": ok})

    def run(self) -> None:
        if self.args.workload == "social_ops":
            self.run_social()
        else:
            self.run_queries()

    def warm_passes(self, one_pass) -> None:
        """Closed loop of the warm passes, one after another."""
        n = max(MIN_WARM_PASSES, math.ceil(
            self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        for p in range(1, n + 1):
            one_pass(p)

    # -- query workloads ---------------------------------------------------
    def run_queries(self) -> None:
        from flat_file_social_media_database_engine_spark.plans.materialize import (
            reset_session_caches,
        )
        from flat_file_social_media_database_engine_spark.workloads import QUERIES

        names = QUERY_WORKLOADS[self.args.workload]
        stream = self.args.workload == "stream_drain"
        rng = random.Random(self.args.seed)
        self.last_df = {}

        def one_pass(p, order):
            if stream:
                reset_session_caches()
            for name in order:
                self.query_op(QUERIES[name], name, p)

        one_pass(0, names)
        self.mark("cold")
        # The cold pass alone takes the relayout and cache-build paths,
        # so its answers are kept for the oracle check too; the next
        # pass's reset would drop what a stream result reads. DuckDB
        # answers the oracles on its own thread meanwhile; both finish
        # before the warm passes start.
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self.run_oracles, names)
            self.cold_results = {n: self.collect(n, df)
                                 for n, df in self.last_df.items()}
            self.oracles = oracles.result()
        self.mark("warm_start")
        self.warm_passes(lambda p: one_pass(p, rng.sample(names, len(names))))
        self.mark("warm")
        self.check_queries()
        self.mark("checks")

    def query_op(self, fn, name, p) -> None:
        tr = self.tracer
        family = fn.__module__.rsplit(".", 1)[-1]
        span = tr.begin(f"op.{name}", kind="query", query=name, family=family,
                        pass_no=p)
        t = time.time()
        try:
            df, _ = tr.timed("workloads.call", fn, self.spark, self.data,
                             family=family)
            tr.timed("workloads.exec",
                     lambda: df.write.format("noop").mode("overwrite").save(),
                     family=family)
            self.last_df[name] = df
            ok = True
        except Exception:
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            ok = False
        dt = time.time() - t
        tr.end(span)
        self.record("query", name, p, dt, ok)

    def run_oracles(self, names) -> dict:
        """name -> the DuckDB oracle's answer over the generated parquet,
        or the traceback when the oracle fails."""
        import duckdb

        from flat_file_social_media_database_engine_spark.workloads import ORACLE

        con = duckdb.connect()
        for f in os.listdir(self.data):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data, f)}')")
        out = {}
        for n in names:
            try:
                out[n] = con.sql(ORACLE[n]).df()
            except Exception:
                out[n] = traceback.format_exc(limit=3)
        con.close()
        return out

    def check_queries(self) -> None:
        from tools.selfcheck import dtype_drift, value_hash

        for name in QUERY_WORKLOADS[self.args.workload]:
            got = {"cold": self.cold_results.get(name),
                   "warm": self.collect(name, self.last_df.get(name))}
            for label, sdf in got.items():
                if sdf is None:
                    self.fail_query(name, f"no {label} result to check")
                elif problem := self.compare(sdf, self.oracles[name], dtype_drift,
                                             value_hash):
                    self.fail_query(name, f"{label} result: {problem}")

    def collect(self, name: str, df):
        """``df`` as pandas, or None when there is none or it fails."""
        if df is None:
            return None
        try:
            return df.toPandas()
        except Exception:
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def fail_query(self, name: str, why: str) -> None:
        """Record a wrong or missing result: every timed run of the
        query counts as failed."""
        self.failures.append(f"{name}: {why}")
        for o in self.ops:
            if o["name"] == name:
                o["ok"] = False

    def compare(self, sdf, odf, dtype_drift, value_hash) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        if isinstance(odf, str):
            return f"oracle failed: {odf}"
        try:
            if self.args.corrupt:
                odf = odf.iloc[1:]
            if len(sdf) != len(odf):
                return f"rows {len(sdf)} != {len(odf)}"
            if sorted(sdf.columns) != sorted(odf.columns):
                return "columns differ"
            if drift := dtype_drift(sdf, odf):
                return f"dtype drift {drift}"
            if value_hash(sdf) != value_hash(odf):
                return "value hash mismatch"
        except Exception:
            return traceback.format_exc(limit=3)
        return None

    # -- social_ops --------------------------------------------------------
    def run_social(self) -> None:
        import social
        from social import OpStream, engine_fingerprints

        from flat_file_social_media_database_engine_spark.engine import Engine

        store_root = os.path.join(self.work, "store")
        eng = Engine(self.spark, store_root)
        tr = self.tracer
        span = tr.begin("op.load", kind="load", pass_no=0)
        t = time.time()
        eng.load_flat_files(self.data)
        load_s = time.time() - t
        tr.end(span)

        model = social.Model(self.data)
        stream = OpStream(self.args.seed, model)
        self.social = {"m2_submitted": 0, "m2_rejected": 0}

        def check(cond, what):
            if not cond:
                self.failures.append(what)
            return cond

        self.engine_fp = {}

        def tables_match(names) -> bool:
            ok = True
            fps = engine_fingerprints({n: eng.tables[n] for n in names})
            for n in names:
                got = fps[n]
                self.engine_fp[n] = got
                want = model.fingerprint(n)
                if self.args.corrupt and n == "users":
                    want = (want[0] + 1,) + want[1:]
                ok &= check(got == want, f"{n} fingerprint {got} != model {want}")
            return ok

        loaded = {n: eng.tables[n].count() for n in social.COLUMNS}
        planted = sum(self.gen["planted_dirty"].values())
        lines = {n: self.gen["clean"][n] + self.gen["planted_dirty"][n]
                 for n in social.COLUMNS}
        self.social["rows_dropped"] = sum(lines[n] - loaded[n] for n in loaded)
        self.social["planted_dirty"] = planted
        ok = check(self.social["rows_dropped"] == planted,
                   f"rows dropped {self.social['rows_dropped']} != planted {planted}")
        ok &= tables_match(social.COLUMNS)
        self.record("load", "load", 0, load_s, ok)

        def one_pass(p):
            for kind, arg in stream.next_pass():
                self.social_op(eng, model, kind, arg, p, tables_match, check)

        one_pass(0)
        self.mark("cold")
        self.mark("warm_start")
        self.warm_passes(one_pass)
        self.mark("warm")

        # final invariants: RI sweep all zero, export round-trip
        span = tr.begin("op.ri_report", kind="ri_report", pass_no=-1)
        t = time.time()
        report = eng.ri_report().collect()
        self.social["ri_sweep_s"] = time.time() - t
        tr.end(span)
        self.record("ri_report", "ri_report", -1, self.social["ri_sweep_s"],
                    check(all(r["dangling_count"] == 0 for r in report),
                          f"ri_report not zero: {report}"))
        out = os.path.join(self.work, "export")
        span = tr.begin("op.export_csv", kind="export", pass_no=-1)
        t = time.time()
        eng.export_csv(out)
        dt = time.time() - t
        tr.end(span)
        ok = True
        user_bytes = 0
        for n in social.COLUMNS:
            path = os.path.join(out, f"{n}.csv")
            user_bytes += os.path.getsize(path)
            ok &= check(social.read_export(path, n) == sorted(model.rows(n)),
                        f"export of {n} differs from the model")
        self.record("export", "export_csv", -1, dt, ok)
        import spans

        self.social["store_bytes"] = spans.dir_bytes(store_root)
        self.social["user_bytes"] = user_bytes
        self.mark("checks")

    def social_op(self, eng, model, kind, arg, p, tables_match, check) -> None:
        import social

        tr = self.tracer
        spark = self.spark
        span = tr.begin(f"op.{kind}", kind=kind, pass_no=p)
        t = time.time()
        result = None
        try:
            if kind == "q1":
                result = [tuple(r) for r in eng.get_all_user_comments(arg).collect()]
            elif kind == "q2":
                result = tuple(eng.get_engagements_by_location(arg).collect()[0])
            elif kind == "m1":
                eng.update_post_views(spark.createDataFrame(arg, "id int, delta int"))
            elif kind == "m2":
                eng.add_engagement_records(spark.createDataFrame(
                    arg, "id int, postId int, username string, type string, "
                    "comment string, timestamp int"))
            elif kind == "m3":
                eng.update_user_name(*arg)
            elif kind == "delete":
                eng.delete_user(arg)
            elif kind == "maintain":
                eng.maintain()
            ok = True
        except Exception:
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
            ok = False
        dt = time.time() - t
        tr.end(span)
        if ok:
            if kind == "q1":
                want = model.q1(arg)
                if self.args.corrupt:
                    want = want + [(0, "corrupt")]
                ok = check(result == want, f"q1({arg}) {result[:3]} != model")
            elif kind == "q2":
                ok = check(result == model.q2(arg), f"q2({arg}) {result} != model")
            elif kind == "m1":
                model.m1(arg)
                ok = tables_match(["posts"])
            elif kind == "m2":
                before = self.engine_fp["engagements"][0]
                accepted = model.m2(arg)
                ok = tables_match(["engagements"])
                self.social["m2_submitted"] += len(arg)
                self.social["m2_rejected"] += (
                    len(arg) - (self.engine_fp["engagements"][0] - before))
                ok &= check(len(arg) - accepted == social.M2_INVALID,
                            "model did not reject exactly the planted M2 rows")
            elif kind == "m3":
                model.m3(*arg)
                ok = tables_match(social.COLUMNS)
            elif kind == "delete":
                model.delete(arg)
                ok = tables_match(social.COLUMNS)
            elif kind == "maintain":
                ok = tables_match(social.COLUMNS)
        self.record(kind, kind, p, dt, ok)


# -- metrics --------------------------------------------------------------
def end_to_end(run: Run) -> dict:
    cold = [o for o in run.ops if o["pass"] == 0]
    warm = [o for o in run.ops if o["pass"] > 0]
    per_pass: dict[int, float] = {}
    for o in warm:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["s"]
    lats = [o["s"] for o in warm if o["ok"]]
    tail_v, tail_p = tail(lats)
    return {
        "setup_s": (run.setup_s, "s"),
        "cold_wall_s": (sum(o["s"] for o in cold), "s"),
        "warm_wall_s": (median(list(per_pass.values())), "s"),
        "lat_p50_s": (median(lats), "s"),
    }, {
        "warm_passes": len(per_pass),
        "warm_samples": len(lats),
        "lat_tail_s": tail_v,
        "lat_tail_percentile": tail_p,
        "setup_parts": run.setup_parts,
    }


def social_split(run: Run) -> dict:
    import social

    warm = [o for o in run.ops if o["pass"] > 0 and o["ok"]]
    reads = [o["s"] for o in warm if o["kind"] in ("q1", "q2")]
    writes = [o["s"] for o in warm if o["kind"] in social.WRITE_KINDS]
    s = run.social
    return {
        "read_p50_s": (median(reads), "s"),
        "write_p50_s": (median(writes), "s"),
        "write_tail_s": (tail(writes)[0], "s"),
        "store_bytes_per_user_byte": (
            s["store_bytes"] / s["user_bytes"] if s.get("user_bytes") else 0.0,
            "ratio"),
    }


def cached_mb(spark) -> float:
    """Session-cache footprint at the end of the run: materialize_parquet
    directories on disk plus persisted blocks in memory and on disk."""
    import spans
    from flat_file_social_media_database_engine_spark.plans import materialize

    total = sum(spans.dir_bytes(d) for d in materialize._PARQUET_DIRS)
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total / (1024.0 * 1024.0)


def main() -> int:
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    run = Run(args)
    run.setup(t_start)
    run.run()
    e2e, samples = end_to_end(run)
    extra = social_split(run) if args.workload == "social_ops" else {}
    spans = run.tracer.spans
    result = {
        "workload": args.workload,
        "trace": args.trace,
        "attempted": len(run.ops),
        "failed": sum(1 for o in run.ops if not o["ok"]),
        "failures": run.failures[:20],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "samples": samples,
        "facts": run.facts,
        "phases": run.phases,
        "ops": run.ops,
    }
    app_id = run.app_id
    if args.trace:
        # the event log is complete only once the context has stopped
        run.event_dir = os.path.join(args.work, "eventlog")
        run.cached_mb = cached_mb(run.spark)
        run.spark.stop()
        run.mark("stopped")
        import layers

        result["per_layer"] = layers.per_layer(run, spans, app_id, e2e, extra,
                                               samples)
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Skip interpreter teardown: joining py4j's callback-server threads
    # can take many seconds after a streaming run. run.py kills and
    # reaps the JVM and every other process of the worker's session.
    os._exit(code)
