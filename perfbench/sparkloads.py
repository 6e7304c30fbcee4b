"""``spark_extract`` and ``link_rank``: engine operators on a local Spark.

Both run one driver process in a closed loop, one job at a time, at
``local[nproc]`` with explicit partition counts, so neither inherits the
session module's ``SPARK_GRAFT_CPUS`` default.  The engine is put on the
Python workers' path through ``PYTHONPATH``, scratch goes under the
work directory, and a traced run hands Spark's own event log (zstd) to
``get_spark(extra_conf=...)`` and folds it with :mod:`.eventlog`.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import tempfile
import time
import traceback

from . import corpus, eventlog
from .common import Outcome, digest_check, nproc, sha

# corpus sizes in MB of turn text: ~15,000 and ~1,000 turns
EXTRACT_MB = 36.0
LINK_MB = 2.4
SAMPLE = 16
TOP_K = 100
ITERATIONS = 4
# (unmeasured warm passes, least measured passes): the first pass after
# start-up is the slowest while the JVM compiles the plan's code;
# link_rank calls are long, so two measured ones fit a run
PASSES = {"spark_extract": (1, 3), "link_rank": (1, 2)}


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass  # Spark removed it mid-walk
    return total / 1e6


class Session:
    """Starts the Spark session the way a user would, times the start,
    and stops the JVM at the end.

    The session is started once per run.  A second session in the same
    JVM is not a fresh start: the engine's module-level pandas UDFs keep
    the first context's accumulator, so their updates fail after a
    restart.  A fresh JVM per start costs ~15 s, too much to pay more
    than once per run."""

    def __init__(self, root: str, work: str, trace: bool) -> None:
        self.cores = nproc()
        self.master = f"local[{self.cores}]"
        self.partitions = 2 * self.cores
        self.local_dir = os.path.join(work, "local", str(os.getpid()))
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.local_dir, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        # no JVM temp or perf-data files outside the work directory
        self.conf = {"spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData")}
        if trace:
            os.makedirs(self.log_dir, exist_ok=True)
            self.conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.log_dir),
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        self.spark = None
        self.app_id = ""
        self.get_spark_s = 0.0

    def start(self) -> float:
        """Start the session; return the seconds for get_spark plus a tiny
        warm action that spawns the Python workers and imports the
        engine."""
        from html_parser_spark.operators.pipeline import run_extraction
        from html_parser_spark.plans.session import get_spark
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=self.master,
            shuffle_partitions=self.partitions, extra_conf=self.conf,
        )
        self.get_spark_s = time.perf_counter() - t0
        self.app_id = self.spark.sparkContext.applicationId
        tiny = self.spark.createDataFrame(
            [(f"c{i}", i, "<p>warm</p>") for i in range(self.partitions)],
            "conv_id string, turn_idx int, text string",
        )
        run_extraction(tiny, num_partitions=self.partitions).agg(
            F.sum(F.length("main_text"))).first()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.local_dir, ignore_errors=True)

    def fold_log(self) -> dict[str, dict[str, float]]:
        """Fold the event log; call after stop(), which closes it."""
        files = eventlog.log_files(self.log_dir, self.app_id)
        return eventlog.fold(eventlog.read_events(files))


def _measure(o: Outcome, s: Session, seconds: float, one_pass,
             workload: str) -> None:
    """Closed loop of passes: the workload's unmeasured warm passes, then
    measured passes until ``seconds`` are spent and the least number ran.
    ``one_pass`` returns the number of turns that failed its checks; a
    raising pass fails all of them."""
    sc = s.spark.sparkContext
    scratch: list[float] = []
    warm, least = PASSES[workload]
    for _ in range(warm):
        _one(o, s, one_pass, measured=False)
    t_end = time.perf_counter() + seconds
    label = 1
    while time.perf_counter() < t_end or len(o.walls) < least:
        sc.setLocalProperty(eventlog.PASS_PROP, str(label))
        _one(o, s, one_pass, measured=True)
        scratch.append(_du_mb(s.local_dir))
        label += 1
    sc.setLocalProperty(eventlog.PASS_PROP, None)
    o.report["scratch_mb"] = {"value": max(scratch), "unit": "MB",
                              "n": len(scratch)}


def _one(o: Outcome, s: Session, one_pass, measured: bool) -> None:
    try:
        if measured:
            with o.timed_pass():
                bad = one_pass()
        else:
            bad = one_pass()
    except Exception as e:  # boundary: a failed action fails its turns
        traceback.print_exc()
        o.report.setdefault("errors", []).append(type(e).__name__)
        bad = o.report["turns"]
    if measured:
        o.attempted += o.report["turns"]
    o.check("pass_outputs_correct", bad == 0, bad if measured else 0)


def _layers(o: Outcome, s: Session, extra: dict[str, float]) -> None:
    """Per-layer metrics: event-log folds averaged per measured pass."""
    folded = s.fold_log()
    n = len(o.walls)
    keys = eventlog.LAYER_KEYS
    per = [folded.get(str(i + 1), dict.fromkeys(keys, 0.0)) for i in range(n)]
    for k in keys:
        vals = [p[k] for p in per]
        o.layers[k] = (statistics.median(vals) if k in (
            "spark.task.max_over_p50", "spark.hashagg.probes_per_key")
            else sum(vals) / n)
    coverage = [
        p["spark.task.run_s"] / (w * s.cores) for p, w in zip(per, o.walls)
    ]
    o.layers["spark.task.wall_coverage"] = statistics.median(coverage)
    o.layers["session.get_spark_s"] = s.get_spark_s
    o.layers.update(extra)


def _start(o: Outcome, s: Session) -> None:
    o.setups.append(s.start())
    o.report.update(master=s.master, partitions=s.partitions)


def run_extract(root: str, work: str, seed: int, seconds: float,
                trace: bool, mb: float = EXTRACT_MB) -> Outcome:
    from html_parser_spark.functions.extract import extract
    from html_parser_spark.operators.pipeline import run_extraction
    from pyspark.sql import functions as F

    path = corpus.ensure_parquet(work, seed, mb)
    cols = corpus.read_columns(path, ["conv_id", "turn_idx", "text"])
    n_turns = len(cols["text"])
    o = Outcome(pass_bytes=sum(len(t.encode()) for t in cols["text"]))
    o.report["turns"] = n_turns
    s = Session(root, work, trace)
    try:
        _start(o, s)
        df = s.spark.read.parquet(path)
        out_cols = ["conv_id", "turn_idx", "main_text", "spans", "err_count",
                    "parse_status", "n_tokens", "n_blocks", "n_kept_blocks"]
        digests: list[int] = []
        plan_s: list[float] = []

        def one_pass() -> int:
            t0 = time.perf_counter()
            ext = run_extraction(df, num_partitions=s.partitions)
            plan_s.append(time.perf_counter() - t0)
            row = ext.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("main_text")).alias("chars"),
                F.bit_xor(F.xxhash64(*out_cols)).alias("digest"),
            ).first()
            digests.append(row["digest"])
            if row["n"] != n_turns:
                return n_turns
            return n_turns if row["digest"] != digests[0] else 0

        _measure(o, s, seconds, one_pass, "spark_extract")

        # a seeded sample of turns against the in-process extract()
        rng = random.Random(seed)
        idx = rng.sample(range(n_turns), min(SAMPLE, n_turns))
        keys = {(cols["conv_id"][i], cols["turn_idx"][i]): i for i in idx}
        pick = F.concat_ws("#", "conv_id", "turn_idx").isin(
            [f"{c}#{t}" for c, t in keys])
        got = run_extraction(df.filter(pick), num_partitions=s.partitions)
        rows = {(r["conv_id"], r["turn_idx"]): r for r in got.collect()}
        bad = 0
        for key, i in keys.items():
            want = extract(cols["text"][i])
            r = rows.get(key)
            if r is None or (
                r["main_text"], [(x["start"], x["end"]) for x in r["spans"]],
                r["err_count"], r["parse_status"], r["n_tokens"],
                r["n_blocks"], r["n_kept_blocks"],
            ) != (
                want["main_text"], [(x[0], x[1]) for x in want["spans"]],
                want["err_count"], want["parse_status"], want["n_tokens"],
                want["n_blocks"], want["n_kept_blocks"],
            ):
                bad += 1
        o.check("sample_matches_in_process_extract", bad == 0, bad)
        digest = str(digests[0]) if digests else ""
        o.check("digest_repeats", digest_check(
            work, f"spark_extract-seed{seed}-{mb}MB", digest), o.attempted)
        o.report.update(digest=digest, plan_s=plan_s)
        if trace:
            s.stop()
            _layers(o, s, {
                "pipeline.run_extraction.plan_s": statistics.median(plan_s)})
    finally:
        s.stop()
    return o


def _harvest(args) -> list[tuple[str, int, str]]:
    from html_parser_spark.functions.links import extract_links

    return [(c, t, lk["href"]) for c, t, text in args
            for lk in extract_links(text)]


def expected_top(path: str) -> list:
    """DuckDB twin ``link_pagerank_sql`` over links harvested once
    in-process with ``extract_links``; cached per seed as input data."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from html_parser_spark.operators.linkrank import link_pagerank_sql

    out = os.path.join(os.path.dirname(path), "expected_top.json")
    if os.path.exists(out):
        with open(out) as f:
            return [tuple(r) for r in json.load(f)]
    cols = corpus.read_columns(path, ["conv_id", "turn_idx", "text"])
    rows = list(zip(cols["conv_id"], cols["turn_idx"], cols["text"]))
    links = [lk for part in corpus.parallel_map(
        _harvest, corpus.chunks(rows, corpus.GEN_PROCS)) for lk in part]
    lpath = os.path.join(os.path.dirname(path), "links.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array([x[0] for x in links], pa.string()),
        "turn_idx": pa.array([x[1] for x in links], pa.int32()),
        "href": pa.array([x[2] for x in links], pa.string()),
    }), lpath)
    con = duckdb.connect()
    try:
        top = [tuple(r) for r in con.execute(link_pagerank_sql(
            lpath, iterations=ITERATIONS, top_k=TOP_K)).fetchall()]
    finally:
        con.close()
    with open(out + ".tmp", "w") as f:
        json.dump(top, f)
    os.replace(out + ".tmp", out)
    return top


def run_link_rank(root: str, work: str, seed: int, seconds: float,
                  trace: bool, mb: float = LINK_MB) -> Outcome:
    from html_parser_spark.operators.linkrank import link_pagerank_fp
    from html_parser_spark.plans.session import clear_residents

    path = corpus.ensure_parquet(work, seed, mb)
    want = expected_top(path)
    texts = corpus.read_columns(path, ["text"])["text"]
    n_turns = len(texts)
    o = Outcome(pass_bytes=sum(len(t.encode()) for t in texts))
    o.report["turns"] = n_turns
    # link_pagerank_fp reads the corpus through ensure_transcripts, which
    # looks under SPARK_GRAFT_DATA_DIR for transcripts_sf<sf>
    os.environ["SPARK_GRAFT_DATA_DIR"] = corpus.seed_root(work, seed)
    sf_dir = corpus.sf_dir_of(path)
    s = Session(root, work, trace)
    try:
        _start(o, s)
        call_s: list[float] = []
        outputs: list[list] = []

        def one_pass() -> int:
            clear_residents()
            s.spark.catalog.clearCache()
            t0 = time.perf_counter()
            top = link_pagerank_fp(s.spark, sf_dir, iterations=ITERATIONS,
                                   top_k=TOP_K)
            call_s.append(time.perf_counter() - t0)
            got = [(r["node"], r["rank_fp"]) for r in top.collect()]
            outputs.append(got)
            return 0 if got == want and len(got) == TOP_K else n_turns

        _measure(o, s, seconds, one_pass, "link_rank")
        o.check("top_k_equals_duckdb_twin", bool(want) and o.failed == 0)
        digest = sha(outputs[0]) if outputs else ""
        o.check("digest_repeats", digest_check(
            work, f"link_rank-seed{seed}-{mb}MB", digest), o.attempted)
        o.report.update(digest=digest, call_s=call_s)
        if trace:
            s.stop()
            _layers(o, s, {
                "linkrank.link_pagerank_fp.call_s": statistics.median(call_s)})
    finally:
        s.stop()
    return o
