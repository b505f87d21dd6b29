"""Self-tests for the benchmark.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


EVENTS = os.path.join(gen.DATA_DIR, "sf0.1", "events.parquet")


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_data_matches_checksums():
    """The shipped tables are the repository's test tables, byte for byte."""
    with open(os.path.join(gen.DATA_DIR, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    for rel, want in sums.items():
        with open(os.path.join(gen.DATA_DIR, rel), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == want, rel


def test_generator_same_seed_same_bytes(tmp_path):
    def write(d, seed):
        si = gen.write_stream(str(tmp_path / d), EVENTS, seed, files=6)
        return _digest(tmp_path / d), si

    (a, sa), (b, sb), (c, sc) = write("a", 5), write("b", 5), write("c", 6)
    assert a == b and (sa.rows, sa.distinct) == (sb.rows, sb.distinct)
    assert a != c and sa.duplicates != sc.duplicates


def test_stream_split_counts(tmp_path):
    import pyarrow.parquet as pq

    si = gen.write_stream(str(tmp_path), EVENTS, 3, files=6)
    events = pq.read_table(EVENTS)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == si.files == 6
    rows = [pq.read_table(tmp_path / f) for f in files]
    assert sum(t.num_rows for t in rows) == si.rows == si.distinct + si.duplicates
    assert si.distinct == events.num_rows and si.duplicates > 0
    keys = [(i, t) for r in rows for i, t in zip(r["event_id"].to_pylist(), r["ts"].to_pylist())]
    assert set(keys) == set(zip(events["event_id"].to_pylist(), events["ts"].to_pylist()))
    # time order across files, and file mtimes in the same order
    assert [k[1] for k in keys] == sorted(k[1] for k in keys)
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_eventlog_totals_sf0001():
    """A real log of pricing_summary and top_customers_per_nation over the
    shipped sf0.001 tables."""
    stats = eventlog.read(os.path.join(HERE, "fixtures", "eventlog_sf0.001.jsonl"))
    assert set(stats) == {"0:pricing_summary", "0:top_customers_per_nation"}
    ps, tc = stats["0:pricing_summary"], stats["0:top_customers_per_nation"]
    assert (ps.jobs, ps.stages, ps.tasks) == (3, 3, 3)
    assert (tc.jobs, tc.stages, tc.tasks) == (11, 11, 11)
    # scans: the sizes of the parquet files each query reads
    # (lineitem; lineitem + orders + customer + nation)
    size = {t: os.path.getsize(os.path.join(gen.DATA_DIR, "sf0.001", f"{t}.parquet"))
            for t in ("lineitem", "orders", "customer", "nation")}
    assert ps.scan_mb * eventlog.MB == size["lineitem"]
    assert tc.scan_mb * eventlog.MB == sum(size.values())
    # the task totals taken straight from the TaskEnd records
    run_ms = shuffle = 0
    with open(os.path.join(HERE, "fixtures", "eventlog_sf0.001.jsonl")) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerTaskEnd":
                run_ms += ev["Task Metrics"]["Executor Run Time"]
                shuffle += ev["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    both = eventlog.total(stats, stats)
    assert both.task_run_s == pytest.approx(run_ms / 1e3)
    assert both.shuffle_write_mb == pytest.approx(shuffle / eventlog.MB)
    assert both.shuffle_read_mb == pytest.approx(both.shuffle_write_mb)


def test_eventlog_attribution_and_skew(tmp_path):
    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6, "JVM GC Time": 1,
            "Memory Bytes Spilled": 7,
            "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0}}}

    sql = "org.apache.spark.sql.execution.ui."
    scan_plan = {"nodeName": "Scan parquet", "children": [], "metrics": [
        {"name": "size of files read", "accumulatorId": 9},
        {"name": "number of files read", "accumulatorId": 8}]}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0, "description": "q",
         "sparkPlanInfo": {"nodeName": "Exchange", "metrics": [], "children": [scan_plan]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[8, 1], [9, 3 * 2**20]]},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.job.description": "q"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {"spark.job.description": "q"}},
        task(4, 10), task(4, 10), task(4, 50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
        {"Event": "SparkListenerJobStart", "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 5}, "Properties": {}},
        task(5, 3),
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    stats = eventlog.read(str(path))
    q = stats["q"]
    assert (q.jobs, q.stages, q.tasks) == (1, 1, 3)
    assert q.task_run_s == pytest.approx(0.07) and q.scan_mb == 3 and q.spill_mb == 3
    assert q.task_skew_max == 5.0
    assert stats[""].tasks == 1
    assert eventlog.total(stats, ["q", "missing"]).tasks == 3


def test_metric_names_and_counts():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.per_layer_units()
    assert len(e2e) <= 16 and len(layers) <= 128
    names = list(e2e) + list(layers) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n) and len(n) <= 64, n
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_query_names_match_engine():
    sys.path.insert(0, os.path.join(HERE, os.pardir))
    from engine.queries import QUERIES

    assert tuple(QUERIES) == run.QUERY_NAMES


def test_percentile():
    xs = list(range(1, 101))
    assert run.percentile(xs, 50) == pytest.approx(50.5)
    assert run.percentile(xs, 75) == pytest.approx(75.25)
    assert run.percentile([3.0], 75) == 3.0
