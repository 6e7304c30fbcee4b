"""Spark surface for hyperlink harvesting (the corpus link graph).

Same physical shape as the flagship extraction (`pipeline.py`): pruned
scan → salted repartition with an EXPLICIT partition count → ordered
Arrow mapInPandas emitting FLAT columnar link rows (round 4: 2.2× over
the previous array<struct> UDF + JVM explode — Arrow converts flat
column lists at array speed instead of walking a per-row object graph).
One shuffle total for 10^12 turns; the flatten is local, so long
link-dense turns fan out without a second exchange.  Output is
link-graph-shaped: one row per (turn, link).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.links import extract_links
from .pipeline import salted_layout

_COLS = (
    "conv_id", "turn_idx", "link_idx", "href", "anchor_text", "src_start",
    "src_end",
)


def link_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of turns → its flat link rows.  NULL text emits nothing;
    a row whose harvest raises emits nothing and logs its traceback in
    the worker instead of failing the task."""
    rows: dict[str, list] = {k: [] for k in _COLS}
    for conv_id, turn_idx, text in zip(
        pdf["conv_id"], pdf["turn_idx"], pdf["text"]
    ):
        if text is None:
            continue
        try:
            links = extract_links(text)
        except Exception:
            logging.getLogger(__name__).exception("link harvest failed on one row")
            continue
        for r in links:
            rows["conv_id"].append(conv_id)
            rows["turn_idx"].append(turn_idx)
            rows["link_idx"].append(r["link_idx"])
            rows["href"].append(r["href"])
            rows["anchor_text"].append(r["anchor_text"])
            rows["src_start"].append(r["src_start"])
            rows["src_end"].append(r["src_end"])
    return pd.DataFrame(rows)


def run_link_extraction(
    df: DataFrame,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """transcripts DataFrame → (conv_id, turn_idx, link_idx, href,
    anchor_text, src_start, src_end), one row per harvested link.  For
    links alongside the extracted text from one tokenize, use
    ``pipeline.run_extraction(outputs=("main", "links"))``."""
    # flat mapInPandas instead of array<struct> UDF + explode: building a
    # per-row Python list of link tuples makes Arrow walk an object graph
    # per turn; emitting flat columnar batches (one list per COLUMN)
    # converts at array speed and drops the JVM Generate entirely.
    # Measured same-session ABAB at sf0.1: 7.66 s -> 3.52 s (2.2x),
    # value-identical over 1.25M links (see BENCH.md).
    return salted_layout(df, num_partitions).mapInPandas(
        lambda batches: map(link_rows, batches),
        schema=(
            "conv_id string, turn_idx int, link_idx int, href string, "
            "anchor_text string, src_start int, src_end int"
        ),
    )
