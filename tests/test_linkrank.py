"""Link-graph analytics: target stats semantics + the fixed-point
PageRank.  The ``link_pagerank`` gate row md5-checks its integer ranks
against the DuckDB twin; here ``rank_fp / FP_SCALE`` is pinned to an
independent dense NumPy float power iteration, plus the integer
invariants (mass conservation, teleport floor, dangling recirculation,
checkpoint release)."""

import numpy as np
import pytest

from html_parser_spark.operators import linkrank
from html_parser_spark.operators.linkrank import (
    FP_SCALE,
    link_pagerank_fp,
    link_target_stats,
    link_target_stats_sql,
    pagerank_fixed,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from html_parser_spark.plans.session import get_spark

    return get_spark(app_name="test_linkrank")


def _numpy_pagerank(edge_list, iterations=10, damping=0.85):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for u, _ in edge_list:
        deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for u, v in edge_list:
            contrib[idx[v]] += r[idx[u]] / deg[idx[u]]
        dangling = r[deg == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nd: r[idx[nd]] for nd in nodes}


def _fixed_ranks(df, iterations):
    return {
        r.node: r.rank_fp
        for r in pagerank_fixed(df, iterations=iterations).collect()
    }


def _mass_loss_bound(n_nodes, n_edges, iterations):
    # integer division drops <1 unit per node at each of the teleport,
    # dangling-share and damping divisions, and <deg(u) units per source
    # u at the out-degree division: under 3·N + E units per round
    return (3 * n_nodes + n_edges) * iterations


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),  # e: only inlink-free source
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _fixed_ranks(df, 12)
    want = _numpy_pagerank(edges, iterations=12)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] / FP_SCALE - want[k]) < 1e-10, (k, got[k], want[k])


def test_pagerank_mass_conserved_and_teleport_floor(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _fixed_ranks(df, 8)
    loss = FP_SCALE - sum(got.values())
    assert 0 <= loss <= _mass_loss_bound(len(got), len(edges), 8)
    floor = ((FP_SCALE * 15) // 100) // len(got)
    assert all(v >= floor for v in got.values())


def test_pagerank_dangling_sink_recirculates(spark):
    # star into a sink: without dangling redistribution the sink
    # swallows all mass and totals decay below 1
    edges = [("s1", "hub"), ("s2", "hub"), ("s3", "hub")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _fixed_ranks(df, 20)
    loss = FP_SCALE - sum(got.values())
    assert 0 <= loss <= _mass_loss_bound(len(got), len(edges), 20)
    assert got["hub"] > got["s1"]
    want = _numpy_pagerank(edges, iterations=20)
    for k in want:
        assert abs(got[k] / FP_SCALE - want[k]) < 1e-10


def test_corpus_pagerank_runs_and_orders_popular_targets_first(spark):
    # a top_k above the node count returns every node
    top_k = 100_000
    rows = link_pagerank_fp(spark, SF_DIR, iterations=4, top_k=top_k).collect()
    assert len(rows) < top_k
    ranks = {r.node: r.rank_fp for r in rows}
    assert [r.rank_fp for r in rows] == sorted(ranks.values(), reverse=True)
    urls = {k: v for k, v in ranks.items() if k.startswith("url:")}
    assert len(urls) > 3
    n_edges = linkrank._links(spark, SF_DIR).count()
    loss = FP_SCALE - sum(ranks.values())
    assert 0 <= loss <= _mass_loss_bound(len(ranks), n_edges, 4)
    # the most-cited target must outrank the median target
    top = max(urls.values())
    med = sorted(urls.values())[len(urls) // 2]
    assert top > med


def _n_stored(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_pagerank_releases_superseded_checkpoints(spark):
    spark.catalog.clearCache()
    base = _n_stored(spark)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    # 9 rounds at CHECKPOINT_EVERY=3 → 3 checkpoints; only the final
    # one (the returned frame) may remain, nodes/out_deg must be freed
    ranks = pagerank_fixed(edges, iterations=9)
    loss = FP_SCALE - sum(r.rank_fp for r in ranks.collect())
    assert 0 <= loss <= _mass_loss_bound(4, 4, 9)
    leaked = _n_stored(spark) - base
    assert leaked <= 1, f"{leaked} RDDs left in storage (expected ≤1: the returned frame)"


def test_pagerank_empty_graph_frees_its_checkpoints(spark):
    spark.catalog.clearCache()
    base = _n_stored(spark)
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank_fixed(edges, iterations=4).collect() == []
    assert _n_stored(spark) - base == 0


def test_pagerank_rejects_zero_iterations(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        pagerank_fixed(edges, iterations=0)


def test_link_pagerank_harvests_once_per_call(spark, plan_nodes):
    """The link harvest (one MapInPandas node) is evaluated once per
    call: the edge list is materialized before the node set, the
    out-degrees and the power rounds read it.  Left live, every action
    in the call re-ran the harvest (5 MapInPandas nodes)."""
    counts = plan_nodes(
        spark,
        lambda: link_pagerank_fp(spark, SF_DIR, iterations=4, top_k=10).collect(),
    )
    assert counts["MapInPandas"] == 1, counts


def test_target_stats_match_duckdb_twin_on_goldens(spark):
    """Same rows as the gate would check: Spark derives the stats from
    the live link harvest; DuckDB re-derives them from the committed
    engine-golden link rows."""
    import duckdb

    from html_parser_spark.goldens import link_golden_parquet

    golden = link_golden_parquet(0.001)
    got = link_target_stats(spark, SF_DIR, top_k=50).collect()
    want = duckdb.sql(link_target_stats_sql(golden, top_k=50)).fetchall()
    got_rows = [
        (
            r.href, r.n_inlinks, r.n_source_convs,
            r.n_distinct_anchors, r.top_anchor, r.top_anchor_n,
        )
        for r in got
    ]
    assert got_rows == [tuple(w) for w in want]


def test_target_stats_reuses_the_harvest_exchange(spark):
    """Both stat branches must route through ONE shared
    (href, anchor_text, conv_id) pre-aggregation so the harvest UDF
    executes once — the executed adaptive plan shows a ReusedExchange
    (without the shared pre-agg, each grouping keyed its own exchange
    and the UDF ran twice)."""
    df = link_target_stats(spark, SF_DIR, top_k=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan[:2000]


def test_target_stats_tie_break_is_deterministic(spark):
    rows = [
        ("c1", 0, 0, "/x", "alpha", 0, 1),
        ("c1", 1, 0, "/x", "beta", 0, 1),
        ("c2", 0, 0, "/x", "beta", 0, 1),
        ("c2", 1, 0, "/x", "zeta", 0, 1),
        ("c2", 2, 0, "/x", "alpha", 0, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, link_idx int, href string, "
        "anchor_text string, src_start int, src_end int",
    )
    # alpha and beta both occur twice: the contract picks the
    # lexicographically larger anchor on a count tie
    (got,) = linkrank.target_stats_from_links(df, top_k=10).collect()
    assert got.href == "/x"
    assert got.top_anchor == "beta"
    assert got.top_anchor_n == 2
    assert got.n_inlinks == 5


def test_pagerank_fixed_tracks_float_and_conserves_integer_mass(spark):
    """Integer mass stays within the floor-loss bound of FP_SCALE, every
    rank gets the teleport floor, and the ranks track the NumPy float
    iteration on the same graph (same ranking, within 1e-10)."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("c", "a")]
    fp = _fixed_ranks(spark.createDataFrame(edges, "src string, dst string"), 6)
    fl = _numpy_pagerank(edges, iterations=6)
    assert set(fp) == set(fl) == {"a", "b", "c", "d"}
    n = len(fp)
    loss = FP_SCALE - sum(fp.values())
    assert 0 <= loss <= _mass_loss_bound(n, len(edges), 6)
    teleport = ((FP_SCALE * 15) // 100) // n
    assert all(v >= teleport for v in fp.values())
    assert sorted(fp, key=fp.get) == sorted(fl, key=fl.get)
    for v in fp:
        assert abs(fp[v] / FP_SCALE - fl[v]) < 1e-10
