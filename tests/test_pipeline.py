"""End-to-end Spark pipeline tests (SURVEY.md §7 step 3).

Equality gate: the distributed pipeline must produce byte-identical
(main_text, spans, err_count, parse_status) to the pure-Python extractor
for every (conv_id, turn_idx) — the same per-turn text-equality contract
the driver applies against reference goldens.
"""

import os

import pytest

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.functions.extract import extract
from html_parser_spark.operators.pipeline import (
    extract_columns,
    extract_rows,
    extraction_metrics,
    run_extraction,
)

SF = 0.001


@pytest.fixture(scope="module")
def transcripts(spark):
    path = ensure_transcripts(SF)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def extracted(spark, transcripts):
    return run_extraction(transcripts, num_partitions=8).cache()


def test_row_level_equality_vs_pure_python(transcripts, extracted):
    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
    }
    got = extracted.collect()
    assert len(got) == len(raw) > 0
    for row in got:
        want = extract(raw[(row.conv_id, row.turn_idx)])
        assert row.main_text == want["main_text"], (row.conv_id, row.turn_idx)
        assert [[s.start, s.end] for s in row.spans] == [
            w[:2] for w in want["spans"]
        ]
        assert row.err_count == want["err_count"]
        assert row.parse_status == want["parse_status"]


@pytest.mark.parametrize(
    "outputs",
    [("main",), ("dom",), ("main", "links"), ("main", "dom", "links")],
    ids="-".join,
)
def test_plan_shape(transcripts, outputs):
    """Scan must prune to the 3 needed columns; UDF must run on the Arrow
    path; exactly one exchange (the salted repartition) — whichever
    policies the stage runs.

    clearCache first: if an earlier test persisted a matching plan
    subtree (the entry-contract frame cache does), Spark substitutes an
    InMemoryRelation whose stored plan text carries its own Exchange —
    the assertion is about the FRESH plan."""
    transcripts.sparkSession.catalog.clearCache()
    plan = (
        run_extraction(transcripts, outputs=outputs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    assert plan.count("Exchange") == 1
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    read_schema = scan_line.split("ReadSchema: ")[1]
    assert read_schema == "struct<conv_id:string,turn_idx:int,text:string>"


def test_metrics_rollup(spark, extracted):
    m = {r.parse_status: r for r in extraction_metrics(extracted).collect()}
    assert "ok" in m
    total = sum(r.turns for r in m.values())
    assert total == extracted.count()
    assert m["ok"].tokens > 0 and m["ok"].main_text_chars > 0


def test_salting_spreads_hot_conversations(spark, transcripts):
    """A hot conversation's turns must land in >1 partition after the
    salted repartition (the whole point of the salt)."""
    from pyspark.sql import functions as F

    hot = (
        transcripts.groupBy("conv_id")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    if hot["count"] < 16:
        pytest.skip("fixture too small to contain a hot conversation")
    parts = (
        run_extraction(transcripts, num_partitions=8)
        .filter(F.col("conv_id") == hot.conv_id)
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert parts > 1


def test_stable_turn_ordering_within_partitions(spark, transcripts):
    """north_star contract: rows are ordered by (conv_id, turn_idx)
    within every output partition (sortWithinPartitions)."""
    from pyspark.sql import functions as F

    out = run_extraction(transcripts, num_partitions=8).withColumn(
        "pid", F.spark_partition_id()
    )

    def check(it):
        import pandas as pd

        for pdf in it:
            keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
            yield pd.DataFrame({"ok": [keys == sorted(keys)]})

    res = (
        out.select("pid", "conv_id", "turn_idx")
        .mapInPandas(check, schema="ok boolean")
        .collect()
    )
    assert res and all(r.ok for r in res)


def test_layout_does_not_change_values(spark, transcripts):
    """Unsalted (one partition), salted, and no layout at all (the
    per-row stage straight over the pruned scan) give the same rows; the
    bare stage adds no exchange."""
    cols = ("conv_id", "turn_idx", "main_text", "spans", "err_count",
            "parse_status")

    def rows(df):
        return {tuple(map(str, r)) for r in df.select(*cols).collect()}

    transcripts.sparkSession.catalog.clearCache()  # see test_plan_shape
    bare = extract_columns(transcripts.select("conv_id", "turn_idx", "text"))
    assert "Exchange" not in bare._jdf.queryExecution().executedPlan().toString()
    want = rows(run_extraction(transcripts, num_partitions=8))
    assert len(want) == transcripts.count()
    assert rows(run_extraction(transcripts, num_partitions=1)) == want
    assert rows(bare) == want


def test_raising_row_lands_in_status(monkeypatch):
    """A row whose engine raises becomes parse_status='engine_error' with
    empty outputs; its neighbours in the batch are untouched."""
    import pandas as pd

    from html_parser_spark.operators import pipeline

    real = pipeline.tokenize

    def tokenize(text):
        if text == "<p>boom</p>":
            raise RuntimeError("injected")
        return real(text)

    monkeypatch.setattr(pipeline, "tokenize", tokenize)
    texts = pd.Series(["<p>good</p>", "<p>boom</p>", None])
    got = extract_rows(texts, ("main", "dom", "links"))
    assert list(got["parse_status"]) == ["ok", "engine_error", "null_input"]
    assert got["main_text"][0] == "good"
    bad = got.iloc[1]
    assert (bad["main_text"], bad["dom_main_text"]) == ("", "")
    assert (list(bad["spans"]), list(bad["links"])) == ([], [])
    assert (bad["err_count"], bad["n_tokens"], bad["dom_n_blocks"]) == (0, 0, 0)


def test_edge_inputs_flow_through(spark):
    """NULL / empty / whitespace / markup-only / huge-token turns survive
    the full distributed path with sane outputs."""
    rows = [
        ("c0", 0, None),
        ("c0", 1, ""),
        ("c0", 2, "   \t\n"),
        ("c0", 3, "<div></div>"),
        ("c0", 4, "x" * 100_000),
        ("c0", 5, "<p>" + "y" * 50_000 + "</p>"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: r for r in run_extraction(df, num_partitions=2).collect()}
    assert got[0].parse_status == "null_input" and got[0].main_text == ""
    assert got[1].main_text == "" and got[1].parse_status == "ok"
    assert got[2].main_text == ""
    assert got[3].main_text == "" and got[3].n_blocks == 0
    assert got[4].main_text == "x" * 100_000
    assert got[5].main_text == "y" * 50_000


def test_assemble_conversations_orders_turns(spark):
    """Assembly is (conv_id, turn_idx)-ordered regardless of input order,
    and the md5 fingerprints the joined text exactly."""
    import hashlib

    from html_parser_spark.operators.pipeline import assemble_conversations

    rows = [("c1", 2, "third"), ("c1", 0, "first"), ("c1", 1, "second"),
            ("c2", 0, "solo")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.conv_id: r for r in assemble_conversations(df).collect()}
    joined = "first\nsecond\nthird"
    assert got["c1"].n_turns == 3
    assert got["c1"].n_chars == len(joined)
    assert got["c1"].text_md5 == hashlib.md5(joined.encode()).hexdigest()
    assert got["c2"].text_md5 == hashlib.md5(b"solo").hexdigest()


def test_assemble_conversations_caps_mega_conversation(spark):
    """A pathological conversation past max_turns is truncated to the
    first max_turns turns and flagged overflow=1; normal conversations
    pass through overflow=0 untouched (VERDICT r03 item 7)."""
    import hashlib

    from html_parser_spark.operators.pipeline import assemble_conversations

    mega = [("mega", i, f"t{i}") for i in range(10)]
    tiny = [("tiny", 0, "a"), ("tiny", 1, "b")]
    df = spark.createDataFrame(
        mega + tiny, "conv_id string, turn_idx int, text string"
    )
    got = {r.conv_id: r for r in assemble_conversations(df, max_turns=4).collect()}
    kept = "\n".join(f"t{i}" for i in range(4))
    assert got["mega"].n_turns == 10           # true size still reported
    assert got["mega"].overflow == 1
    assert got["mega"].n_chars == len(kept)    # output bounded at the cap
    assert got["mega"].text_md5 == hashlib.md5(kept.encode()).hexdigest()
    assert got["tiny"].overflow == 0
    assert got["tiny"].text_md5 == hashlib.md5(b"a\nb").hexdigest()
