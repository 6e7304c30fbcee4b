"""The event-log fold: hand-built events, then a tiny real Spark job."""

import os

import pytest

from perfbench import eventlog


def _plan(*nodes):
    return {"nodeName": "Root", "metrics": [], "children": [
        {"nodeName": name, "children": [], "metrics": [
            {"name": m, "accumulatorId": i, "metricType": t}
            for m, i, t in metrics]}
        for name, metrics in nodes]}


def _task(stage, run_ms, updates, ok=True):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {"Executor Run Time": run_ms,
                         "Executor CPU Time": run_ms * 1_000_000,
                         "JVM GC Time": 1},
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": str(v), "Metadata": "sql"}
            for i, n, v in updates]},
    }


def test_fold_hand_built_events():
    xs = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": xs + "SparkListenerSQLExecutionStart", "executionId": 5,
         "sparkPlanInfo": _plan(
             ("ArrowEvalPython", [("time to run Python workers", 1, "timing"),
                                  ("data sent to Python workers", 2, "size")]),
             ("Exchange", [("shuffle write time", 3, "nsTiming")]),
             ("Scan parquet", [("size of files read", 4, "size")]))},
        {"Event": xs + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 5, "sparkPlanInfo": _plan(
             ("HashAggregate", [("avg hash probes per key", 9, "average")]))},
        # the driver-side scan metric arrives before the job starts
        {"Event": xs + "SparkListenerDriverAccumUpdates", "executionId": 5,
         "accumUpdates": [[4, 1234]]},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.pass": "1",
                        "spark.sql.execution.id": "5"}},
        # an untagged job (warm pass or set-up) is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 100, [(3, "shuffle write time", 2_000_000)]),
        _task(1, 200, [(1, "time to run Python workers", 150),
                       (2, "data sent to Python workers", 10)]),
        _task(1, 400, [(1, "time to run Python workers", 350),
                       (2, "data sent to Python workers", 30),
                       (9, "avg hash probes per key", 15)], ok=False),
        _task(1, 300, [(2, "data sent to Python workers", 20)]),
        _task(2, 999, [(1, "time to run Python workers", 999)]),
    ]
    folded = eventlog.fold(events)
    assert set(folded) == {"1"}
    m = folded["1"]
    assert m["spark.jobs"] == 1
    assert m["spark.task.count"] == 4
    assert m["spark.task.failed"] == 1
    assert m["spark.task.run_s"] == pytest.approx(1.0)
    assert m["spark.task.cpu_s"] == pytest.approx(1.0)
    assert m["spark.python.run_s"] == pytest.approx(0.5)
    assert m["spark.python.bytes_sent"] == 60
    assert m["spark.python.evals"] == 1
    assert m["spark.exchange.write_s"] == pytest.approx(0.002)
    assert m["spark.scan.bytes"] == 1234
    assert m["spark.hashagg.probes_per_key"] == pytest.approx(1.5)
    # only stage 1 ran Python: tasks 200, 400, 300 ms -> 400 / 300
    assert m["spark.task.max_over_p50"] == pytest.approx(4 / 3)


def test_fold_tiny_spark_job(tmp_path):
    """A tiny job with known node metrics: one parquet file scanned once,
    one Python node, a fixed number of partitions."""
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    data = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [i % 7 for i in range(1000)],
                             "v": list(range(1000))}), str(data))
    logs = tmp_path / "log"
    logs.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(logs))
        .config("spark.eventLog.compress", "true")
        .config("spark.eventLog.compression.codec", "zstd")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        app = sc.applicationId

        def plus_one(batches):
            for b in batches:
                b["v"] = b["v"] + 1
                yield b

        df = spark.read.parquet(str(data))  # schema job stays untagged
        sc.setLocalProperty(eventlog.PASS_PROP, "1")
        rows = (df.mapInPandas(plus_one, "k long, v long")
                .groupBy("k").sum("v").collect())
        sc.setLocalProperty(eventlog.PASS_PROP, None)
        assert len(rows) == 7
    finally:
        spark.stop()
    m = eventlog.fold(eventlog.read_events(eventlog.log_files(str(logs), app)))["1"]
    assert m["spark.scan.bytes"] == os.path.getsize(data)
    assert m["spark.python.evals"] == 1
    assert m["spark.python.bytes_sent"] > 0
    assert m["spark.python.bytes_returned"] > 0
    assert m["spark.exchange.write_bytes"] > 0
    assert m["spark.hashagg.probes_per_key"] >= 1
    # one scan+Python task per file split, then the 3 shuffle partitions
    assert m["spark.task.count"] == 4
    assert m["spark.task.failed"] == 0
    assert m["spark.jobs"] >= 1
