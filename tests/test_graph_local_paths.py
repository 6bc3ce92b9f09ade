"""Single-task local paths of the graph fixpoints (k-core, WL roles,
connected components) against their per-round loop paths: the shared
`hints.local_max_pairs` gate, parity at the gate boundary, NULL ids, the
loop path under the DuckDB oracle, the node-frame broadcast gate of
pagerank, HITS and LPA, and the Spark job count per query."""

from __future__ import annotations

import re

import pytest

from event_streaming_service_spark.operators import dedup, graph, hints
from event_streaming_service_spark.queries import REGISTRY, _load_all
from tests import parity

GATE = "spark.graft.cc.localMaxPairs"
MAX_BYTES = "spark.graft.broadcast.maxBytes"


def _with_gate(spark, value, build):
    spark.conf.set(GATE, str(value))
    try:
        df = build()
        rows = sorted((tuple(r) for r in df.collect()), key=repr)
        return rows, df.dtypes, _ran_local(df)
    finally:
        spark.conf.unset(GATE)


def _ran_local(df) -> bool:
    return "MapInPandas" in df._jdf.queryExecution().analyzed().toString()


def _assert_boundary_parity(spark, n_pairs, build):
    at = _with_gate(spark, n_pairs, build)
    below = _with_gate(spark, n_pairs - 1, build)
    assert at[2] and not below[2], "the gate must flip exactly at n_pairs"
    assert at[0] == below[0]
    assert at[1] == below[1]
    return at[0]


def test_local_max_pairs_clamps_and_falls_back(spark):
    default = hints._DEFAULT_LOCAL_MAX_PAIRS
    ceil = hints._LOCAL_MAX_PAIRS_CEIL
    assert hints.local_max_pairs(spark) == default
    for raw, want in (("1000", 1000), ("0", 0), ("-5", 0),
                      (str(10 * ceil), ceil), ("abc", default),
                      ("1e6", default), ("", default)):
        spark.conf.set(GATE, raw)
        try:
            assert hints.local_max_pairs(spark) == want, raw
        finally:
            spark.conf.unset(GATE)


# K5 on 1..5 with a pendant chain 5-6-7 (peeled in round one), a
# self-loop node 9 hanging off 1 and a reversed duplicate of (1, 2):
# round two changes nothing, so both paths exit early
_KCORE_EARLY = ([(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
                + [(5, 6), (6, 7), (9, 9), (9, 1), (2, 1)])
# a 20-node chain loses one node at each end per round: every round
# of four changes the graph
_KCORE_ALL_ROUNDS = [(i, i + 1) for i in range(1, 20)]


@pytest.mark.parametrize("edges,k,rounds", [
    (_KCORE_EARLY, 3, 6), (_KCORE_ALL_ROUNDS, 2, 4)],
    ids=["early_exit", "all_rounds"])
def test_kcore_local_matches_loop_at_gate(spark, edges, k, rounds):
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    rows = _assert_boundary_parity(
        spark, df.distinct().count(),
        lambda: graph.kcore_peel(df, k=k, rounds=rounds))
    got = dict(rows)
    if k == 3:
        assert got == {1: 6, 2: 5, 3: 4, 4: 4, 5: 4, 9: 3}
    else:
        assert sorted(got) == list(range(5, 17))
        assert got[5] == got[16] == 1 and got[10] == 2


def test_wl_local_matches_loop_at_gate(spark):
    edges = ([(100, x) for x in range(101, 106)]     # star
             + [(1, 2), (2, 3), (1, 3)]              # triangle
             + [(10, 11), (11, 12), (12, 13)]        # path
             + [(20, 21), (20, 21)])                 # duplicate edge
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    rows = _assert_boundary_parity(spark, df.count(),
                                   lambda: graph.wl_roles(df))
    role = {r[0]: r[2] for r in rows}
    assert len({role[x] for x in range(101, 106)}) == 1
    assert role[1] == role[2] == role[3] != role[100]
    assert role[10] == role[13] != role[11]


@pytest.mark.parametrize("id_t", ["bigint", "string"])
def test_local_kernels_match_loop_on_null_ids(spark, id_t):
    cast = int if id_t == "bigint" else str
    clique = [(cast(a), cast(b)) for a in range(1, 5)
              for b in range(a + 1, 5)]
    # 7 reaches degree 3 only through its NULL neighbour; 8's only
    # neighbour is NULL
    extra = [(cast(7), cast(1)), (cast(7), cast(2)), (cast(7), None),
             (None, cast(8)), (None, None)]
    df = spark.createDataFrame(clique + extra, f"a {id_t}, b {id_t}")
    for build in (lambda: graph.kcore_peel(df, k=3, rounds=1),
                  lambda: graph.kcore_peel(df, k=3, rounds=4),
                  lambda: graph.wl_roles(df, rounds=1),
                  lambda: graph.wl_roles(df, rounds=2)):
        local = _with_gate(spark, 1000, build)
        loop = _with_gate(spark, 0, build)
        assert local[2] and not loop[2]
        assert local[0] == loop[0]
        assert local[1] == loop[1]
    assert dict(_with_gate(
        spark, 1000, lambda: graph.kcore_peel(df, k=3, rounds=1))[0]
    )[cast(7)] == 2


def test_cc_union_find_drops_null_endpoints(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (None, None)],
        "doc_a bigint, doc_b bigint")
    rows = {(r["node"], r["component"])
            for r in dedup.connected_components(pairs).collect()}
    assert rows == {(1, 1), (2, 1), (3, 1)}


# two triangles joined by a bridge, a pendant and a one-way edge
_TRADE = [("c1", "s1"), ("s1", "c2"), ("c2", "c1"), ("c2", "s3"),
          ("s3", "c4"), ("c4", "s5"), ("s5", "s3"), ("s5", "c6"),
          ("c7", "s1")]


@pytest.mark.parametrize("build,hinted", [
    (lambda df: graph.pagerank(df, iterations=3), True),
    (lambda df: graph.pagerank(df, iterations=3, seeds=["c1", "c4"]), True),
    (lambda df: graph.hits(df, iterations=2), True),
    (lambda df: graph.label_propagation(df, rounds=2, a_col="src",
                                        b_col="dst"), False)],
    ids=["pagerank", "ppr", "hits", "lpa"])
def test_node_frame_gate_parity(spark, build, hinted):
    df = spark.createDataFrame(_TRADE, "src string, dst string")

    def run():
        out = build(df)
        strategies = set(re.findall(
            r"strategy=(\w+)",
            out._jdf.queryExecution().analyzed().toString()))
        return sorted(map(tuple, out.collect())), out.dtypes, strategies

    rows, dtypes, default_hints = run()
    spark.conf.set(MAX_BYTES, "0")
    try:
        rows0, dtypes0, zero_hints = run()
    finally:
        spark.conf.unset(MAX_BYTES)
    assert rows and rows == rows0
    assert dtypes == dtypes0
    # LPA's result sits on a checkpoint, so its plan keeps no hint
    if hinted:
        assert default_hints == {"broadcast"}
        assert zero_hints == {"shuffle_hash"}


@pytest.mark.parametrize("name", [
    "kcore_copurchase", "wl_roles_copurchase", "near_dup_clusters",
    "semdedup_survivors", "semantic_dedup_clusters"])
def test_graph_loop_path_matches_oracle(spark, sf_oracle, name):
    _load_all()
    spec = REGISTRY[name]
    spark.conf.set(GATE, "0")
    try:
        df = spec.builder(spark, sf_oracle)
        # CC results sit on a checkpoint, so their plans never show the
        # local path; gate 0 alone selects the loop there
        assert not _ran_local(df)
        parity.compare(df, parity.run_oracle(spec.oracle, sf_oracle), name)
    finally:
        spark.conf.unset(GATE)


def _job_count(spark, sf, name, path):
    # frames an earlier test left cached would shorten the plan
    spark.catalog.clearCache()
    _load_all()
    sc = spark.sparkContext
    group = f"job-count-{name}-{path}"
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].builder(spark, sf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Per-round barrier jobs cost 38 (kcore) and 21 (WL) jobs per query on
# this fixture; the single-task path needs a handful. The other bounds
# are the measured counts on this fixture.
@pytest.mark.parametrize("name,max_jobs", [
    ("kcore_copurchase", 8), ("wl_roles_copurchase", 8),
    ("pagerank_trade_graph", 28), ("ppr_trade_neighborhood", 28),
    ("hits_trade_hubs", 42), ("lpa_communities_copurchase", 22),
    ("near_dup_clusters", 34), ("semdedup_survivors", 23),
    ("semantic_dedup_clusters", 12)])
def test_graph_query_job_count(spark, sf_oracle, name, max_jobs):
    jobs = _job_count(spark, sf_oracle, name, "default")
    assert 0 < jobs <= max_jobs, jobs


# the per-round loop paths (gate 0), at their measured counts on this
# fixture
@pytest.mark.parametrize("name,max_jobs", [
    ("kcore_copurchase", 37), ("wl_roles_copurchase", 18)])
def test_graph_loop_path_job_count(spark, sf_oracle, name, max_jobs):
    spark.conf.set(GATE, "0")
    try:
        jobs = _job_count(spark, sf_oracle, name, "loop")
    finally:
        spark.conf.unset(GATE)
    assert 0 < jobs <= max_jobs, jobs
