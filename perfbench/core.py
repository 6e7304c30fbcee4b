"""``core_fused``: the engine's per-turn functions on one thread, no Spark.

Each turn runs ``tokenize`` -> ``extract_from_tokens``, ``build_tree``
-> ``dom_extract_from_tree`` and ``links_from_tokens`` over one token
stream, in a closed loop: the next turn starts when the previous one
returns.  A pass is one sweep over the corpus; passes repeat until the
run's seconds are spent.
"""

from __future__ import annotations

import os
import random
import resource
import statistics
import subprocess
import sys
import time

from html_parser_spark.functions.domextract import (
    dom_extract,
    dom_extract_from_tree,
)
from html_parser_spark.functions.extract import extract, extract_from_tokens
from html_parser_spark.functions.links import extract_links, links_from_tokens
from html_parser_spark.functions.tokenizer import tokenize
from html_parser_spark.functions.treebuilder import build_tree

from . import corpus
from .common import Outcome, digest_check, percentile, sha
from .trace import Tracer, fold, uncovered

MB = 5.0  # ~2,000 turns
SETUP_RUNS = 5
SAMPLE = 16
# the host's single-thread speed drifts by up to ~1.6x over tens of
# seconds; a longer window averages more of it
MIN_PASSES = 6

# set-up in a fresh interpreter: import the functions modules, then run
# the five calls once; prints its own elapsed seconds
_SETUP = """
import time
t0 = time.perf_counter()
from html_parser_spark.functions.tokenizer import tokenize
from html_parser_spark.functions.extract import extract_from_tokens
from html_parser_spark.functions.treebuilder import build_tree
from html_parser_spark.functions.domextract import dom_extract_from_tree
from html_parser_spark.functions.links import links_from_tokens
toks, st, err = tokenize('<p>x &amp; y <a href="/u">z</a></p>')
extract_from_tokens(toks, st, err)
dom_extract_from_tree(build_tree(toks), st, err)
links_from_tokens(toks)
print(time.perf_counter() - t0)
"""


def _setup_once(root: str) -> float:
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", _SETUP], env=env, cwd=root,
        capture_output=True, text=True, timeout=120, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _turn(text: str):
    toks, st, err = tokenize(text)
    return (
        extract_from_tokens(toks, st, err),
        dom_extract_from_tree(build_tree(toks), st, err),
        links_from_tokens(toks),
        len(toks),
    )


def _traced_turn(tr: Tracer, i: int, text: str):
    with tr.span("tokenizer.tokenize", i):
        toks, st, err = tokenize(text)
    with tr.span("extract.extract_from_tokens", i):
        r = extract_from_tokens(toks, st, err)
    with tr.span("treebuilder.build_tree", i):
        tree = build_tree(toks)
    with tr.span("domextract.dom_extract_from_tree", i):
        d = dom_extract_from_tree(tree, st, err)
    with tr.span("links.links_from_tokens", i):
        links = links_from_tokens(toks)
    return r, d, links, len(toks)


def _sweep(texts: list[str], tr: Tracer | None, lat: list[float]) -> list:
    """One pass over the corpus; a turn that raises yields ("error", name)."""
    clock = time.perf_counter
    outs: list = []
    for i, text in enumerate(texts):
        t0 = clock()
        try:
            out = _traced_turn(tr, i, text) if tr else _turn(text)
        except Exception as e:  # a raising turn fails; the loop goes on
            out = ("error", type(e).__name__)
        lat.append(clock() - t0)
        outs.append(out)
    return outs


def run(root: str, work: str, seed: int, seconds: float, trace: bool,
        mb: float = MB) -> Outcome:
    texts = corpus.read_columns(corpus.ensure_parquet(work, seed, mb),
                                ["text"])["text"]
    o = Outcome(pass_bytes=sum(len(t.encode()) for t in texts))
    o.setups = [_setup_once(root) for _ in range(SETUP_RUNS)]

    # an unmeasured warm pass fills the tokenizer's memo tables; its
    # outputs are the reference every measured pass must repeat
    ref = _sweep(texts, None, [])
    first = [sha(out) for out in ref]
    ok = [out for out in ref if out[0] != "error"]
    counts = {
        "tokens": sum(x[3] for x in ok),
        "blocks": sum(x[0]["n_blocks"] for x in ok),
        "kept": sum(x[0]["n_kept_blocks"] for x in ok),
        "dom_blocks": sum(x[1]["n_blocks"] for x in ok),
        "dom_kept": sum(x[1]["n_kept_blocks"] for x in ok),
        "links": sum(len(x[2]) for x in ok),
    }
    # the fused calls agree with the public one-call entry points
    rng = random.Random(seed)
    for i in rng.sample(range(len(texts)), min(SAMPLE, len(texts))):
        if ref[i][0] != "error":
            r, d, links, _ = ref[i]
            t = texts[i]
            o.check("matches_one_call_api", r == extract(t)
                    and d == dom_extract(t) and links == extract_links(t), 1)

    tr = Tracer() if trace else None
    lat: list[float] = []
    other_s = 0.0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(o.walls) < MIN_PASSES:
        span0 = len(tr.spans) if tr else 0
        with o.timed_pass() as p:
            outs = _sweep(texts, tr, lat)
        o.attempted += len(texts)
        errors = sum(1 for out in outs if out[0] == "error")
        o.check("no_turn_raised", errors == 0, errors)
        o.check("one_output_per_turn", len(outs) == len(texts),
                len(texts) - len(outs))
        bad = sum(a != sha(b) for a, b in zip(first, outs))
        o.check("passes_agree", bad == 0, bad)
        if tr is not None:
            other_s += uncovered(tr.spans[span0:], p.t0, p.t0 + p.wall)

    digest = sha(first)
    o.check("digest_repeats", digest_check(
        work, f"core_fused-seed{seed}-{mb}MB", digest), o.attempted)
    o.report.update(
        digest=digest,
        turns=len(texts),
        turn_p50_ms={"value": statistics.median(lat) * 1e3, "unit": "ms",
                     "n": len(lat)},
        turn_p99_ms={"value": percentile(lat, 99) * 1e3, "unit": "ms",
                     "n": len(lat)},
        peak_rss_mb={"value": resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024, "unit": "MB", "n": 1},
    )
    if tr is not None:
        n = len(o.walls)
        f = fold(tr.spans)
        for name in ("tokenizer.tokenize", "extract.extract_from_tokens",
                     "treebuilder.build_tree",
                     "domextract.dom_extract_from_tree",
                     "links.links_from_tokens"):
            o.layers[f"{name}.self_s"] = f[name]["self_s"] / n
        o.layers["tokenizer.tokenize.calls"] = f["tokenizer.tokenize"]["calls"] / n
        o.layers["tokenizer.tokens"] = counts["tokens"]
        o.layers["extract.blocks"] = counts["blocks"]
        o.layers["extract.kept_ratio"] = counts["kept"] / max(1, counts["blocks"])
        o.layers["domextract.kept_ratio"] = (
            counts["dom_kept"] / max(1, counts["dom_blocks"]))
        o.layers["links.count"] = counts["links"]
        o.layers["core.other_s"] = other_s / n
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tr.dump(os.path.join(work, "traces", f"core_fused-seed{seed}.jsonl"))
    return o
