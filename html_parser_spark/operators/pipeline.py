"""The flagship operator: transcripts table → extracted main-content table.

Spark-first design (SURVEY.md §3.4): the whole job is scan → salted
repartition → sortWithinPartitions → one vectorized pandas UDF → project.
No RDDs, no custom Catalyst rules — Catalyst keeps column pruning and
predicate pushdown on the scan because the UDF consumes exactly one column
(``text``) and everything else passes through untouched.

Two parts, composed by :func:`run_extraction`:

- :func:`salted_layout` — the one partition policy (also used by the link
  harvest and the gate's token frame).  The reference tokenizer
  (mod.rs:17-37) holds no cross-turn state, so rows can be partitioned
  arbitrarily.  Conversation skew (1% of conversations have 100× turns)
  and text-length skew (64 KB P99 tail) are both *compute* skew inside the
  Python worker — invisible to AQE, which only rebalances shuffle bytes.
  The salt spreads any single conversation over ``SALT_K`` partitions
  while keeping (conv_id, salt) groups intact, and
  ``sortWithinPartitions(conv_id, turn_idx)`` restores the stable turn
  ordering the north_star requires.  The repartition is the only
  exchange in the plan.
- :func:`extract_columns` — the per-row stage: one Arrow UDF whose row
  loop (:func:`extract_rows`) tokenizes each turn once and runs every
  requested policy (``outputs``) over that one token stream, then the
  JVM-side span unpack.  Arrow batches bound worker memory: see
  plans/session.py.
"""

from __future__ import annotations

import logging
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.domextract import dom_extract_from_tokens
from ..functions.extract import extract_from_tokens
from ..functions.links import links_from_tokens
from ..functions.tokenizer import tokenize

# NB: no per-span `kind` string — every span the current policy emits is
# 'main', and a constant Python str per span cost ~30% of the UDF stage
# in Arrow serialization (measured sf0.1: 8.0k → 11.1k turns/s dropping
# it).  The pure-Python extract() API keeps kind; a future multi-kind
# policy should add a dictionary-encoded small-int column, not strings.
SPAN = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]
)

# Span TRANSPORT encoding (round-4 A/B, VERDICT r03 item 6): the UDF
# emits each span as ONE int64 (start<<32 | end) and the projection on
# top of the UDF unpacks to the public array<struct<start,end>> with a
# codegen'd transform().  Arrow then moves a primitive list<int64>
# instead of a list<struct<int32,int32>> built from Python tuples —
# the tuple→StructArray conversion inside the Python worker was the
# measurable cost, not the bytes.  The PUBLIC schema (and the driver
# contract / goldens) is unchanged: every ``*spans`` column is still
# array<struct<start,end>> on every DataFrame this module returns.
# start/end are source offsets < 2^31, so the packed value is always a
# non-negative int64.
SPAN_PACKED = ArrayType(LongType())

# per-link struct of the ``links`` output; the standalone harvest
# (linkops.run_link_extraction) emits the same fields as flat rows
LINK = StructType(
    [
        StructField("link_idx", IntegerType()),
        StructField("href", StringType()),
        StructField("anchor_text", StringType()),
        StructField("src_start", IntegerType()),
        StructField("src_end", IntegerType()),
    ]
)

OUTPUTS = ("main", "dom", "links")

# spread of one conversation over shuffle partitions (salted_layout)
SALT_K = 8

_STATUS_FIELDS = [
    StructField("err_count", IntegerType()),
    StructField("parse_status", StringType()),
]
# the token-stream policy (functions/extract.py)
_MAIN_FIELDS = [
    StructField("main_text", StringType()),
    StructField("spans", SPAN_PACKED),
    *_STATUS_FIELDS,
    StructField("n_tokens", IntegerType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_kept_blocks", IntegerType()),
]
# the DOM-heuristic policy (functions/domextract.py); err/status are
# shared — same tokenize, same stream
_DOM_FIELDS = [
    StructField("dom_main_text", StringType()),
    StructField("dom_spans", SPAN_PACKED),
    StructField("dom_n_blocks", IntegerType()),
    StructField("dom_n_kept_blocks", IntegerType()),
]
_LINK_FIELDS = [StructField("links", ArrayType(LINK))]

# value of each column type in a row that produced no output
_EMPTY = {StringType: "", ArrayType: [], IntegerType: 0}


def _schema(outputs) -> StructType:
    """UDF schema of the columns ``outputs`` asks for."""
    if not outputs or not set(outputs) <= set(OUTPUTS):
        raise ValueError(f"outputs must be a non-empty subset of {OUTPUTS}")
    fields = list(_MAIN_FIELDS if "main" in outputs else _STATUS_FIELDS)
    if "dom" in outputs:
        fields += _DOM_FIELDS
    if "links" in outputs:
        fields += _LINK_FIELDS
    return StructType(fields)


def _pack(spans) -> list:
    return [(s[0] << 32) | s[1] for s in spans]


def extract_rows(texts, outputs=("main",)) -> pd.DataFrame:
    """The row loop: one batch of turn texts → one frame of the columns
    ``outputs`` asks for (see :func:`run_extraction`).  Each turn is
    tokenized once and every requested policy runs over that one token
    stream.

    Failure contract: a NULL text gives an empty row with
    ``parse_status='null_input'``; a row whose engine raises gives an
    empty row with ``parse_status='engine_error'`` instead of failing the
    task (and with it the job) — :func:`extraction_metrics` counts both
    per status."""
    schema = _schema(outputs)
    main, dom, links = (o in outputs for o in OUTPUTS)

    def empty(status):
        return tuple(
            status if f.name == "parse_status" else _EMPTY[type(f.dataType)]
            for f in schema.fields
        )

    null_row = empty("null_input")
    rows = []
    for t in texts:
        if t is None:
            rows.append(null_row)
            continue
        try:
            tokens, status, err = tokenize(t)
            if main:
                r = extract_from_tokens(tokens, status, err)
                row = (
                    r["main_text"],
                    _pack(r["spans"]),
                    r["err_count"],
                    r["parse_status"],
                    r["n_tokens"],
                    r["n_blocks"],
                    r["n_kept_blocks"],
                )
            else:
                row = (err, status)
            if dom:
                d = dom_extract_from_tokens(tokens, status, err)
                row += (
                    d["main_text"],
                    _pack(d["spans"]),
                    d["n_blocks"],
                    d["n_kept_blocks"],
                )
            if links:
                row += (
                    [
                        (
                            lk["link_idx"],
                            lk["href"],
                            lk["anchor_text"],
                            lk["src_start"],
                            lk["src_end"],
                        )
                        for lk in links_from_tokens(tokens)
                    ],
                )
        except Exception:
            # the row's fault, not the task's: keep the traceback in the
            # worker log and the row in the output
            logging.getLogger(__name__).exception("extraction failed on one row")
            row = empty("engine_error")
        rows.append(row)
    return pd.DataFrame(rows, columns=schema.names)


def _span_unpack(col):
    """packed array<long> → public array<struct<start:int,end:int>>."""
    return F.transform(
        col,
        lambda p: F.struct(
            F.shiftright(p, 32).cast("int").alias("start"),
            p.bitwiseAND(F.lit(0xFFFFFFFF)).cast("int").alias("end"),
        ),
    )


def extract_columns(df: DataFrame, outputs=("main",)) -> DataFrame:
    """The per-row stage: ``df`` with ``text`` replaced by the columns
    ``outputs`` asks for (see :func:`run_extraction`); every other input
    column passes through.  Adds no exchange — layout is the caller's choice
    (:func:`salted_layout` for batch, input splits for streaming)."""
    schema = _schema(outputs)

    @pandas_udf(schema)
    def extract_batches(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # SCALAR_ITER: per-worker setup (entity dict, dispatch tables —
        # module globals, ~100 KB, no broadcast needed, SURVEY.md §1.2)
        # is paid once per task, not per batch
        for texts in batches:
            yield extract_rows(texts, outputs)

    def project(name):
        c = F.col(f"ext.{name}")
        return (_span_unpack(c) if name.endswith("spans") else c).alias(name)

    ext = df.withColumn("ext", extract_batches(F.col("text")))
    return ext.select(
        *[c for c in df.columns if c != "text"],
        *[project(name) for name in schema.names],
    )


def salted_layout(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(conv_id, turn_idx, text) repartitioned by (conv_id, salt) into an
    EXPLICIT partition count (CLAUDE.md invariant — a column-only
    repartition is AQE-coalescible, and compressed-text shuffles get
    merged under the Python compute), then sorted by (conv_id, turn_idx)
    within each partition."""
    pruned = df.select("conv_id", "turn_idx", "text")
    if num_partitions is None:
        # 2× cores.  4× was the r1 sweet spot (64→13.3k, 128→16.1k,
        # 256→10.8k turns/s) when per-task Python time dominated; the
        # round-4 fast paths (tag/entity memos, fused scan) shrank
        # per-task compute enough that task overhead flipped the curve —
        # re-measured clean-window sweep at local[32]/sf0.1: 32p→23.6k,
        # 48p→26.1k, 64p→26.0k, 128p→22.9k turns/s.  2× keeps one wave
        # of slack for text-length skew (the salt spreads hot
        # conversations; a single straggler can't serialize the stage).
        spark = pruned.sparkSession
        num_partitions = max(
            spark.sparkContext.defaultParallelism * 2,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SALT_K))
    return pruned.repartition(
        num_partitions, F.col("conv_id"), salt
    ).sortWithinPartitions("conv_id", "turn_idx")


def run_extraction(
    df: DataFrame,
    *,
    outputs=("main",),
    num_partitions: int | None = None,
) -> DataFrame:
    """transcripts DataFrame → ``conv_id, turn_idx`` + the columns of
    each policy in ``outputs`` ⊆ {"main", "dom", "links"}, in this order
    whatever order ``outputs`` lists them in:

    - ``"main"``: main_text, spans, err_count, parse_status, n_tokens,
      n_blocks, n_kept_blocks.
    - ``"dom"`` adds dom_main_text, dom_spans, dom_n_blocks,
      dom_n_kept_blocks (without "main", err_count/parse_status lead).
    - ``"links"`` adds a ``links`` array<struct> column with the
      ``linkops.run_link_extraction`` fields (explode it for the per-link
      table).

    Tokenization dominates every policy, so asking for several outputs
    costs about one pass instead of one per policy (bench at sf0.1:
    10.3 s for all three vs 4.5 + 8.2 + 3.5 s separately)."""
    return extract_columns(salted_layout(df, num_partitions), outputs)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-status metrics rollup (north_star: turns processed, parse
    errors, bytes of main text) — pure built-in aggregates, map-side
    partial agg + final, one small shuffle."""
    return extracted.groupBy("parse_status").agg(
        F.count(F.lit(1)).alias("turns"),
        F.sum("err_count").alias("dropped_end_tags"),
        F.sum(F.length("main_text")).alias("main_text_chars"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_kept_blocks").alias("kept_blocks"),
        F.sum("n_blocks").alias("blocks"),
    )


def assemble_conversations(df: DataFrame, max_turns: int = 4096) -> DataFrame:
    """Conversation-level corpus assembly: one row per conversation with
    its turns joined in (conv_id, turn_idx) order — the unit a
    conversation-tuned training run actually consumes.

    ``text_md5`` fingerprints the assembled text so the driver gate
    hashes 32 bytes per conversation instead of megabytes; real
    consumers drop the md5 and keep ``full_text``.

    Scale shape: ONE shuffle on conv_id (map-side partial collect_list),
    ordering restored inside each group by array_sort on the
    (turn_idx, text) struct — no global sort, no window.  Long-
    conversation skew is bounded by the corpus's max conversation size
    (the same P99 the salted extraction handles); a conversation is the
    atomic output unit here, so it must land on one reducer by
    definition.

    ``max_turns`` caps the assembled output (VERDICT r03: one
    pathological conversation must not widen downstream rows without
    bound): only the first ``max_turns`` turns are concatenated and
    ``overflow=1`` flags the truncation — the parse_status-style signal
    a pipeline uses to route monsters to a dedicated pass.  The cap
    bounds the OUTPUT row, not the collect_list buffer itself; if an
    adversarial corpus could hold single conversations past executor
    memory, pre-aggregate per-conv turn counts (ids-only) and anti-join
    the monsters out before assembly — same two-shuffle shape, documented
    here rather than paid by default."""
    collected = (
        df.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .agg(F.collect_list(F.struct("turn_idx", "text")).alias("turns"))
    )
    kept = F.slice(F.array_sort("turns"), 1, max_turns)
    full_text = F.concat_ws("\n", F.transform(kept, lambda s: s["text"]))
    return collected.select(
        "conv_id",
        F.size("turns").cast("long").alias("n_turns"),
        F.md5(full_text).alias("text_md5"),
        F.length(full_text).cast("long").alias("n_chars"),
        (F.size("turns") > max_turns).cast("long").alias("overflow"),
    ).orderBy("conv_id")
