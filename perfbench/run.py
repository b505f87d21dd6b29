"""Benchmark for the PySpark engine: batch queries and streaming operators.

Run from the repository root:

    python3 perfbench/run.py --workload batch-sf0.001 --seed 1 --seconds 8 --trace 0

The batch workloads read the repository's test tables, shipped under
`perfbench/data/`; the seed permutes the query order.  The stream workload
splits the sf0.1 `events` table into seeded files under `.perfbench_work/`
in the current directory.  Each run starts one Spark session at
`local[<cores>]`, warms it up while checking every output (batch: one
more untimed pass), then runs the workload as a closed loop with one
client: as many whole passes as fill `--seconds` on a quiet host (see
`WORKLOADS`).  The last line of standard
output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With `--trace 0` the metrics are the end-to-end ones (`END_TO_END`); with
`--trace 1` calls into each layer are timed, batch runs read Spark's event
log and stream runs each micro-batch's progress, and the metrics are the
per-layer ones (`per_layer_units`).  The line before it
is the run's record: seed, pinned environment, versions, sample counts.
See perfbench/README.md for the workloads and what each metric predicts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

# name -> (kind, data directory under perfbench/data/, nominal seconds a
# pass takes on a quiet 4-core host, op_s_tail percentile).  A run makes
# round(--seconds / nominal) passes, at least one: the work is fixed, so a
# slow host does the same passes more slowly rather than fewer of them.  The
# tail percentile is the highest multiple of 5 with at least 10 ops beyond
# it at `run_seconds` 8: 2 passes, so 34 batch ops and 26 stream ops.
# batch-sf0.1 is runnable by hand with `--data-dir` but is not registered in
# BENCHMARK.json: it does not fit the time budget of a full benchmark round
# (perfbench/README.md).
WORKLOADS = {
    "batch-sf0.001": ("batch", "sf0.001", 4.0, 70),
    "batch-sf0.1": ("batch", "sf0.1", 15.0, 40),
    "stream-sf0.1": ("stream", "sf0.1", 4.0, 60),
}
DRIVER_MEM = "4g"
YOUNG_GEN = "1g"
WORK_DIR = ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "pass_s_p50": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "ok_frac": "ratio",
    "jvm_peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.build_session_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "plan.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scan_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_busy_frac": "ratio",
    "exec.task_skew_max": "ratio",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_rows_updated": "rows",
    "streaming.state_mb": "MB",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.dedup_rows_out": "rows",
    "trace.pass_s_p50": "s",
}
PER_QUERY_UNITS = {"build_s": "s", "plan_s": "s", "exec_s": "s", "stages": "count"}
# The queries the per-query metrics cover: fixed here, so the metric names
# stay those of BENCHMARK.json when the engine's registry changes.
QUERY_NAMES = (
    "pricing_summary", "top_customers_per_nation", "part_type_revenue", "resample_grid",
    "gap_stats", "sessionize", "behavior_classify", "dominant_behavior", "window_features",
    "zscore_normalize", "anomaly_users", "reliability_bins", "mae_eval", "dedup_docs",
    "doc_token_stats", "similarity_topk", "multimodal_align",
)


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_UNITS)
    for q in QUERY_NAMES:
        for k, u in PER_QUERY_UNITS.items():
            units[f"q.{q}.{k}"] = u
    return units


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, pct: float) -> float:
    """Linear-interpolation percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---------------------------------------------------------------------------
# Environment and session
# ---------------------------------------------------------------------------


def pin_env(work: str, event_log: bool) -> dict[str, str]:
    """Pin the engine's knobs and keep every file Spark writes under `work`.
    Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    }
    os.environ.update(env)
    os.environ["TMPDIR"] = tmp
    # Without this every JVM writes its perf counters under /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # A fixed heap (-Xms = -Xmx) and young generation (-Xmn): otherwise G1
    # sizes both from its measured pause times, so the JVM's peak resident
    # set follows the host's speed and moved by 15-40% between identical runs.
    heap = f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return dict(env, driver_heap=heap)


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM (peak resident set) in MB."""
    with open(f"/proc/{_jvm_pid(spark)}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


class Batch:
    """The 17 declared queries over one scale factor's tables."""

    def __init__(self, spark, data_dir: str, expected: dict, log):
        from engine.queries import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.dir = data_dir
        self.queries = QUERIES
        self.expected = expected
        self.log = log
        self.bad: set[str] = set()  # queries whose output failed the check

    def _check(self, name: str) -> str | None:
        from check import batch_mismatch

        self.sc.setJobDescription(f"warmup:{name}")
        try:
            return batch_mismatch(self.queries[name].fn(self.spark, self.dir), self.expected[name])
        except Exception:
            return traceback.format_exc()

    def warm_and_check(self) -> bool:
        """Untimed warm-up: collect every query, one after the other, and
        compare it with the oracle; then one pass into the noop sink.  The
        JIT compiler is still busy after the first pass, which makes the
        next pass 10-25% slower than later ones, by an amount that varies
        between runs (perfbench/README.md), so that pass is not timed."""
        for name in self.queries:
            why = self._check(name)
            if why:
                self.bad.add(name)
                self.log(f"check failed: {name}: {why}")
        for name in self.queries:
            if self.op("warmup", name, None) is None:
                self.bad.add(name)
        return not self.bad

    def op(self, p: int, name: str, lt) -> dict | None:
        """One query execution into the noop sink; with a LoadTimer `lt`,
        times build, plan and execution separately."""
        q = self.queries[name]
        self.sc.setJobDescription(f"{p}:{name}")
        try:
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.dir)
            t1 = time.perf_counter()
            if lt is not None:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:
            self.log(f"op failed: {name}: {traceback.format_exc()}")
            return None
        out = {"name": name, "s": t3 - t0, "ok": name not in self.bad}
        if lt is not None:
            out["load_calls"], out["load_s"] = lt.take()
            out.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        return out

    def run(self, seed: int, n_passes: int, trace: bool) -> dict:
        from layers import LoadTimer

        names = list(self.queries)
        rng = random.Random(seed)
        passes: list[dict] = []
        lt = LoadTimer() if trace else None
        while len(passes) < n_passes:
            order = rng.sample(names, len(names))
            t0 = time.perf_counter()
            if trace:
                with lt:
                    ops = [self.op(len(passes), n, lt) for n in order]
            else:
                ops = [self.op(len(passes), n, None) for n in order]
            passes.append({"s": time.perf_counter() - t0, "ops": ops})
        self.sc.setJobDescription(None)
        return {"passes": passes, "names": names}


def batch_e2e(res: dict, tail_pct: float) -> tuple[dict, int, int, list]:
    ops = [o for p in res["passes"] for o in p["ops"]]
    done = [o for o in ops if o is not None]
    failed = sum(1 for o in ops if o is None or not o["ok"])
    lat = [o["s"] for o in done]
    return ({"pass_s_p50": median([p["s"] for p in res["passes"]]),
             "op_s_p50": median(lat),
             "op_s_tail": percentile(lat, tail_pct) if lat else 0.0},
            len(ops), failed, lat)


def batch_layers(res: dict, log_stats: dict, cpus: int) -> dict:
    from eventlog import total

    per_pass: list[dict] = []
    for i, p in enumerate(res["passes"]):
        ops = [o for o in p["ops"] if o is not None]
        ex = total(log_stats, [f"{i}:{n}" for n in res["names"]])
        exec_s = sum(o["exec_s"] for o in ops)
        m = {
            "tables.load_calls": sum(o["load_calls"] for o in ops),
            "tables.load_s": sum(o["load_s"] for o in ops),
            "queries.build_s": sum(o["build_s"] for o in ops),
            "plan.plan_s": sum(o["plan_s"] for o in ops),
            "exec.s": exec_s,
            "exec.jobs": ex.jobs, "exec.stages": ex.stages, "exec.tasks": ex.tasks,
            "exec.task_run_s": ex.task_run_s, "exec.task_cpu_s": ex.task_cpu_s,
            "exec.gc_s": ex.gc_s, "exec.scan_mb": ex.scan_mb,
            "exec.shuffle_write_mb": ex.shuffle_write_mb,
            "exec.shuffle_read_mb": ex.shuffle_read_mb, "exec.spill_mb": ex.spill_mb,
            "exec.core_busy_frac": ex.task_run_s / (exec_s * cpus) if exec_s else 0.0,
            "exec.task_skew_max": ex.task_skew_max,
        }
        m["queries.build_self_s"] = m["queries.build_s"] - m["tables.load_s"]
        for o in ops:
            q = f"q.{o['name']}."
            m[q + "build_s"], m[q + "plan_s"], m[q + "exec_s"] = o["build_s"], o["plan_s"], o["exec_s"]
            m[q + "stages"] = log_stats[f"{i}:{o['name']}"].stages if f"{i}:{o['name']}" in log_stats else 0
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass if k in m]) for k in per_pass[0]}
    out["trace.pass_s_p50"] = median([p["s"] for p in res["passes"]])
    return out


# ---------------------------------------------------------------------------
# Stream workload
# ---------------------------------------------------------------------------


class Stream:
    """Drains the seeded event files through `stream_dedup` (append mode)
    and `windowed_counts` (complete mode), one after the other: one pass."""

    def __init__(self, spark, stream_input, log):
        from layers import ProgressLog

        self.spark = spark
        self.si = stream_input
        self.log = log
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)
        # windowed output of each pass, checked against the batch analog
        # after the timed region
        self.outputs: list[dict] = []

    def drain(self) -> dict:
        from pyspark.sql import functions as F

        from engine import streaming

        tag = len(self.outputs)
        t0 = time.perf_counter()
        ev = streaming.read_event_stream(self.spark, self.si.dir)
        d_name = streaming.run_to_memory(streaming.stream_dedup(ev), f"dedup_{tag}")
        a_name = streaming.run_aggregation_to_memory(streaming.windowed_counts(ev), f"counts_{tag}")
        t2 = time.perf_counter()
        prog = {"dedup": self.progress.wait(d_name), "counts": self.progress.wait(a_name)}
        # Untimed check of this pass's output.
        dedup_rows, dedup_keys = self.spark.table(d_name).agg(
            F.count(F.lit(1)), F.count_distinct("event_id", "ts")).first()
        why = []
        if not dedup_rows == dedup_keys == self.si.distinct:
            why.append(f"dedup emitted {dedup_rows} rows with {dedup_keys} distinct keys, "
                       f"expected {self.si.distinct}")
        for k, ps in prog.items():
            n_in = sum(p.numInputRows for p in ps)
            if n_in != self.si.rows:
                why.append(f"{k} read {n_in} rows, expected {self.si.rows}")
        self.outputs.append({(r.w_start, r.event_type): (r.n, r.sum_value_c)
                             for r in self.spark.table(a_name).collect()})
        self.spark.catalog.dropTempView(d_name)
        self.spark.catalog.dropTempView(a_name)
        for w in why:
            self.log(f"check failed: pass {tag}: {w}")
        return {"tag": tag, "s": t2 - t0, "progress": prog,
                "dedup_rows": dedup_rows, "ok": not why}

    def warm_and_check(self) -> bool:
        """Untimed warm-up: one checked pass."""
        try:
            return self.drain()["ok"]
        except Exception:
            self.log(f"warm-up pass failed: {traceback.format_exc()}")
            return False

    def run(self, n_passes: int) -> dict:
        passes: list[dict | None] = []
        while len(passes) < n_passes:
            try:
                p = self.drain()
            except Exception:
                self.log(f"pass failed: {traceback.format_exc()}")
                p = None
            passes.append(p)
        return {"passes": passes}

    def check_counts(self, expect: dict) -> set[int]:
        """Tags of the passes whose windowed counts differ from `expect`."""
        bad = {i for i, got in enumerate(self.outputs) if got != expect}
        for i in sorted(bad):
            self.log(f"check failed: pass {i}: windowed counts differ from the batch analog")
        return bad


def _batches(p: dict) -> list:
    return p["progress"]["dedup"] + p["progress"]["counts"]


def stream_e2e(res: dict, bad_tags: set[int], tail_pct: float) -> tuple[dict, int, int, list]:
    passes = [p for p in res["passes"] if p is not None]
    lat = [b.durationMs["triggerExecution"] / 1e3 for p in passes for b in _batches(p)]
    attempted = len(lat) + sum(1 for p in res["passes"] if p is None)
    failed = sum(1 for p in res["passes"] if p is None)
    for p in passes:
        if not p["ok"] or p["tag"] in bad_tags:
            failed += len(_batches(p))
    return ({"pass_s_p50": median([p["s"] for p in passes]),
             "op_s_p50": median(lat),
             "op_s_tail": percentile(lat, tail_pct) if lat else 0.0},
            attempted, failed, lat)


def stream_layers(res: dict) -> dict:
    passes = [p for p in res["passes"] if p is not None]
    batches = [b for p in passes for b in _batches(p)]

    def dur(key):
        return median([b.durationMs.get(key, 0) for b in batches])

    def state(b, attr):
        return sum(getattr(op, attr) for op in b.stateOperators)

    per_pass = [{
        "streaming.batches": len(_batches(p)),
        "streaming.input_rows": sum(b.numInputRows for b in p["progress"]["dedup"]),
        "streaming.state_rows": sum(state(q[-1], "numRowsTotal") for q in p["progress"].values() if q),
        "streaming.state_rows_updated": sum(state(b, "numRowsUpdated") for b in _batches(p)),
        "streaming.state_mb": max(state(b, "memoryUsedBytes") for b in _batches(p)) / 2**20,
        "streaming.dedup_rows_out": p["dedup_rows"],
    } for p in passes]
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update({
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.state_commit_ms_p50": median(
            [op.commitTimeMs for b in batches for op in b.stateOperators]),
    })
    out["trace.pass_s_p50"] = median([p["s"] for p in passes])
    return out


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def measure(args, kind: str, data_dir: str, n_passes: int, tail_pct: float, work: str,
            trace: bool, log) -> tuple[dict, dict, dict]:
    """Prepare inputs, set up, run, check.  Returns (counts, metrics, record)."""
    import gen
    from check import Oracle, windowed_analog
    from engine.queries import QUERIES
    from engine.session import build_session
    from engine.tables import TABLES

    t_gen = time.perf_counter()
    if kind == "batch":
        oracle = Oracle(data_dir, TABLES)
        expected = {n: oracle.expect(q.oracle) for n, q in QUERIES.items()}
        oracle.close()
        sf_dir = data_dir
    else:
        si = gen.write_stream(os.path.join(work, "stream"),
                              os.path.join(data_dir, "events.parquet"), args.seed)
        sf_dir = si.dir
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    inputs_s = t0 - t_gen
    spark = build_session(cpus, sf_dir=sf_dir, app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        wl = Batch(spark, sf_dir, expected, log) if kind == "batch" else Stream(spark, si, log)
        warm_ok = wl.warm_and_check()
        setup_s = time.perf_counter() - t0
        if kind == "batch":
            res = wl.run(args.seed, n_passes, trace)
        else:
            res = wl.run(n_passes)
            bad_tags = wl.check_counts(windowed_analog(spark, si.dir))
            warm_ok = warm_ok and 0 not in bad_tags
        rss = jvm_peak_rss_mb(spark)
        record = {"inputs_s": inputs_s, "session_s": session_s, "setup_s": setup_s,
                  "pyspark": spark.version,
                  "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    finally:
        stop_spark(spark)

    if kind == "batch":
        e2e, attempted, failed, lat = batch_e2e(res, tail_pct)
    else:
        e2e, attempted, failed, lat = stream_e2e(res, bad_tags, tail_pct)
        record.update(stream_rows=si.rows, stream_distinct=si.distinct, stream_files=si.files)
    record.update(passes=len(res["passes"]), pass_s=[p["s"] for p in res["passes"] if p],
                  ops=len(lat), op_s_tail_pct=tail_pct,
                  ops_beyond_tail=sum(1 for x in lat if x > e2e["op_s_tail"]))
    counts = {"correct": warm_ok and failed == 0, "attempted": attempted, "failed": failed}

    if not trace:
        e2e.update(setup_s=setup_s, ok_frac=1 - failed / attempted, jvm_peak_rss_mb=rss)
        return counts, {k: (e2e[k], u) for k, u in END_TO_END.items()}, record

    if kind == "batch":
        from eventlog import read

        (log_file,) = os.listdir(os.path.join(work, "eventlog"))
        layers = batch_layers(res, read(os.path.join(work, "eventlog", log_file)), cpus)
    else:
        layers = stream_layers(res)
    layers["session.build_session_s"] = session_s
    return counts, {k: (layers.get(k, 0), u) for k, u in per_layer_units().items()}, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="directory of the workload's parquet tables "
                    "(default: perfbench/data/<sf>; batch-sf0.1 needs all ten sf0.1 tables)")
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    kind, sf_name, nominal_pass_s, tail_pct = WORKLOADS[args.workload]
    n_passes = max(1, round(args.seconds / nominal_pass_s))

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import engine.queries  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    from engine.tables import TABLES
    from gen import DATA_DIR

    data_dir = os.path.abspath(args.data_dir or os.path.join(DATA_DIR, sf_name))
    needed = TABLES if kind == "batch" else ("events",)
    missing = [t for t in needed if not os.path.isfile(os.path.join(data_dir, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: {data_dir} has no {', '.join(missing)} table", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR, f"run-{os.getpid()}")
    failures: list[str] = []
    # On SIGTERM, unwind through the `finally` blocks that stop the JVM and
    # remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def log(msg: str) -> None:
        failures.append(msg.splitlines()[0][:300])
        print(f"perfbench: {msg}", file=sys.stderr)

    try:
        env = pin_env(work, event_log=trace and kind == "batch")
        counts, metrics, record = measure(args, kind, data_dir, n_passes, tail_pct, work, trace, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass

    env["SPARK_LOCAL_DIRS"] = os.path.relpath(env["SPARK_LOCAL_DIRS"], root)
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "python": platform.python_version(),
        "failures": failures,
    })
    print(json.dumps({"record": record}))
    print(json.dumps({**counts, "metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
