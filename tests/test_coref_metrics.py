"""Published-paper clustering-metric tables, ported from the
reference's pinned fixtures (neleval/tests/test_coref_metrics.py):
Luo (2005) CEAF examples, Vilain et al. (1995) MUC Table 1, and the
reference-coreference-scorers TC-A / TC-M cases."""

import pytest

from neleval_spark.measures.clustering import CLUSTERING_FNS
from neleval_spark.measures.contingency import Matrix


def prf(p_num, p_den, r_num, r_den):
    """P/R/F of a clustering measure's (p_num, p_den, r_num, r_den),
    through the same Matrix mapping ``evaluate`` reports."""
    m = Matrix(p_num, p_den - p_num, r_num, r_den - r_num)
    return m.precision, m.recall, m.fscore


def _sets_to_df(spark, clusters):
    rows = [(str(k), str(m)) for k, ms in clusters.items() for m in ms]
    return spark.createDataFrame(rows, "eid string, item string") \
        .select("item", "eid")


def _fscores(spark, gold, resp, measures):
    gdf = _sets_to_df(spark, gold)
    sdf = _sets_to_df(spark, resp)
    out = {}
    for name in measures:
        res = CLUSTERING_FNS[name](gdf, sdf, ["item"], []).collect()[0]
        out[name] = round(
            prf(res["p_num"], res["p_den"], res["r_num"], res["r_den"])[2],
            3)
    return out


LUO_MEASURES = ["muc", "b_cubed", "mention_ceaf", "entity_ceaf"]

# neleval/tests/test_coref_metrics.py:25-64
RCS14_TCA_GOLD = {"0": {1}, "1": {2, 3}, "2": {4, 5, 6}}
RCS14_TCA_RESPS = [
    ("TC-A-1", {"0": {1}, "1": {2, 3}, "2": {4, 5, 6}},
     {"muc": 1.0, "b_cubed": 1.0, "mention_ceaf": 1.0, "entity_ceaf": 1.0}),
    ("TC-A-2", {"0": {1}, "2": {4, 5}},
     {"muc": 0.5, "b_cubed": 0.56, "mention_ceaf": 0.667,
      "entity_ceaf": 0.72}),
    ("TC-A-3", {"0": {1}, "1": {2, 3, 7}, "2": {4, 5, 6, 8}, "3": {9}},
     {"muc": 0.75, "b_cubed": 0.675, "mention_ceaf": 0.8,
      "entity_ceaf": 0.759}),
    ("TC-A-4", {"0": {1}, "1": {2, 3, 7}, "2": {4, 8}, "3": {9}},
     {"muc": 0.333, "b_cubed": 0.468, "mention_ceaf": 0.615,
      "entity_ceaf": 0.629}),
]


@pytest.mark.parametrize("name,resp,expected", RCS14_TCA_RESPS,
                         ids=[x[0] for x in RCS14_TCA_RESPS])
def test_rcs_tca(spark, name, resp, expected):
    assert _fscores(spark, RCS14_TCA_GOLD, resp, LUO_MEASURES) == expected


# neleval/tests/test_coref_metrics.py:105-136
def test_rcs_tcm(spark):
    gold = {"0": {1, 2, 3, 4, 5, 6}}
    resp = {"0": {1, 2, 3, 4, 5, 6}}
    expected = {"muc": 1.0, "b_cubed": 1.0, "mention_ceaf": 1.0,
                "entity_ceaf": 1.0}
    assert _fscores(spark, gold, resp, LUO_MEASURES) == expected


# neleval/tests/test_coref_metrics.py:184-202 (Luo 2005)
LUO05_GOLD = {"A": {1, 2, 3, 4, 5}, "B": {6, 7}, "C": {8, 9, 10, 11, 12}}
LUO05_RESPS = [
    ("sysa", {"A": {1, 2, 3, 4, 5}, "B": {6, 7, 8, 9, 10, 11, 12}},
     {"muc": 0.947, "b_cubed": 0.865, "mention_ceaf": 0.833,
      "entity_ceaf": 0.733}),
    ("sysb", {"A": {1, 2, 3, 4, 5, 8, 9, 10, 11, 12}, "B": {6, 7}},
     {"muc": 0.947, "b_cubed": 0.737, "mention_ceaf": 0.583,
      "entity_ceaf": 0.667}),
    ("sysc", {"A": {1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12}},
     {"muc": 0.900, "b_cubed": 0.545, "mention_ceaf": 0.417,
      "entity_ceaf": 0.294}),
    ("sysd", {i: {i} for i in range(1, 13)},
     {"muc": 0.0, "b_cubed": 0.400, "mention_ceaf": 0.250,
      "entity_ceaf": 0.178}),
]


@pytest.mark.parametrize("name,resp,expected", LUO05_RESPS,
                         ids=[x[0] for x in LUO05_RESPS])
def test_luo_ceaf(spark, name, resp, expected):
    assert _fscores(spark, LUO05_GOLD, resp, LUO_MEASURES) == expected


# neleval/tests/test_coref_metrics.py:212-241 (Vilain et al. 1995)
VILAIN95 = [
    ({1: {"A", "B", "C", "D"}}, {1: {"A", "B"}, 2: {"C", "D"}},
     (1.0, 0.667, 0.8)),
    ({1: {"A", "B"}, 2: {"C", "D"}}, {1: {"A", "B", "C", "D"}},
     (0.667, 1.0, 0.8)),
    ({1: {"A", "B", "C", "D"}}, {1: {"A", "B", "C", "D"}},
     (1.0, 1.0, 1.0)),
    ({1: {"A", "B", "C"}}, {1: {"A", "C"}}, (1.0, 0.5, 0.667)),
    ({1: {"B", "C", "D", "E", "G", "H", "J"}},
     {1: {"A", "B", "C"}, 2: {"D", "E", "F"}, 3: {"G", "H", "I"}},
     (0.5, 0.5, 0.5)),
    ({1: {"A", "B", "C"}, 2: {"D", "E", "F", "G"}},
     {1: {"A", "B"}, 2: {"C", "D"}, 3: {"F", "G", "H"}},
     (0.5, 0.4, 0.444)),
]


@pytest.mark.parametrize("gold,resp,expected", VILAIN95)
def test_vilain_muc(spark, gold, resp, expected):
    gdf = _sets_to_df(spark, gold)
    sdf = _sets_to_df(spark, resp)
    res = CLUSTERING_FNS["muc"](gdf, sdf, ["item"], []).collect()[0]
    got = tuple(round(v, 3) for v in prf(
        res["p_num"], res["p_den"], res["r_num"], res["r_den"]))
    assert got == expected


def test_pairwise_doctest(spark):
    """(neleval/coref_metrics.py:555-565 doctest)"""
    gold = {1: {"a", "b", "c"}, 2: {"d"}}
    resp = {1: {"b", "c"}, 2: {"d", "e"}}
    gdf = _sets_to_df(spark, gold)
    sdf = _sets_to_df(spark, resp)
    res = CLUSTERING_FNS["pairwise"](gdf, sdf, ["item"], []).collect()[0]
    assert (res["p_num"], res["p_den"], res["r_num"], res["r_den"]) == \
        (1.0, 2.0, 1.0, 3.0)


def test_pairwise_negative_doctest(spark):
    """(neleval/coref_metrics.py:574-585 doctest)"""
    gold = {1: {"a", "b", "c"}, 2: {"d"}}
    resp = {1: {"b", "c"}, 2: {"d", "e"}}
    gdf = _sets_to_df(spark, gold)
    sdf = _sets_to_df(spark, resp)
    res = CLUSTERING_FNS["pairwise_negative"](
        gdf, sdf, ["item"], []).collect()[0]
    assert (res["p_num"], res["p_den"], res["r_num"], res["r_den"]) == \
        (2.0, 4.0, 2.0, 3.0)


def test_pairwise_negative_vs_reference(spark):
    """Fuzz against the reference implementation imported as an oracle
    (coref_metrics.pairwise_negative) on random clusterings."""
    import random
    import sys

    import numpy as np
    np.bool = bool  # py2-era reference shim
    sys.path.insert(0, "/root/reference")
    try:
        from neleval.coref_metrics import pairwise_negative as ref_pn
    finally:
        sys.path.remove("/root/reference")

    rng = random.Random(42)
    for trial in range(5):
        n_items = rng.randint(2, 14)
        items = [f"m{i}" for i in range(n_items)]
        # gold/sys each cluster a random subset of items
        def clustering():
            ks = rng.randint(1, 4)
            out = {}
            for m in items:
                if rng.random() < 0.8:
                    out.setdefault(rng.randint(0, ks - 1), set()).add(m)
            return {k: v for k, v in out.items() if v}
        gold, resp = clustering(), clustering()
        if not gold or not resp:
            continue
        exp = ref_pn(gold, resp)
        res = CLUSTERING_FNS["pairwise_negative"](
            _sets_to_df(spark, gold), _sets_to_df(spark, resp),
            ["item"], []).collect()[0]
        got = tuple(int(res[c]) for c in ("p_num", "p_den",
                                          "r_num", "r_den"))
        assert got == exp, (trial, gold, resp, got, exp)


# --- round 2: distributed assignment path + A9 guard -------------------------

from pyspark.sql import functions as F  # noqa: E402

def _star_frames(spark):
    """sys clusters partition gold clusters → star overlap components;
    optimal assignment = Σ_gold max_sys |∩| (closed form)."""
    schema = "docid string, start long, end long, eid string"
    gold = spark.createDataFrame(
        [("d", i, i + 1, f"g{i % 5}") for i in range(60)], schema)
    sys_ = spark.createDataFrame(
        [("d", i, i + 1, f"s{i % 5}_{i % 3}") for i in range(60)], schema)
    return gold, sys_


def test_ceaf_distributed_matches_driver(spark, monkeypatch):
    """Force the distributed CC + applyInPandas assignment engine
    (normally engaged above 100k edges) and check it agrees with the
    driver fast path and the closed-form star answer."""
    from neleval_spark.measures import clustering

    gold, sys_ = _star_frames(spark)
    driver = clustering.mention_ceaf(
        gold, sys_, ["docid", "start", "end"], []).collect()[0]

    monkeypatch.setattr(clustering, "DRIVER_SOLVE_MAX_EDGES", 0)
    dist = clustering.mention_ceaf(
        gold, sys_, ["docid", "start", "end"], []).collect()[0]
    assert dist["p_num"] == driver["p_num"]
    assert dist["p_den"] == driver["p_den"]
    # closed form: 5 gold clusters of 12, split 3 ways (sizes 4,4,4)
    # → Σ max = 5 * 4 = 20
    assert dist["p_num"] == 20.0 and dist["p_den"] == 60.0


def test_ceaf_component_guard_zeroes(spark, monkeypatch):
    """A9: an over-large component contributes 0 instead of stalling
    (reference analogue: 900 s SIGALRM → zeros with warning,
    coref_metrics.py:443-471)."""
    from neleval_spark.measures import clustering

    # K3,3 biclique: one component, 9 edges, assignment total 3
    schema = "docid string, start long, end long, eid string"
    cells = [(g, s) for g in range(3) for s in range(3)]
    gold = spark.createDataFrame(
        [("d", 10 * g + s, 10 * g + s + 1, f"G{g}") for g, s in cells],
        schema)
    sys_ = spark.createDataFrame(
        [("d", 10 * g + s, 10 * g + s + 1, f"S{s}") for g, s in cells],
        schema)

    monkeypatch.setattr(clustering, "DRIVER_SOLVE_MAX_EDGES", 0)
    ok = clustering.mention_ceaf(
        gold, sys_, ["docid", "start", "end"], []).collect()[0]
    assert ok["p_num"] == 3.0

    monkeypatch.setattr(clustering, "MAX_COMPONENT_EDGES", 4)
    guarded = clustering.mention_ceaf(
        gold, sys_, ["docid", "start", "end"], []).collect()[0]
    assert guarded["p_num"] == 0.0
    assert guarded["p_den"] == ok["p_den"]


def test_ceaf_distributed_no_persist_leak(spark, monkeypatch):
    """The distributed assignment path persists the intersection table
    for its multi-consumer fan-out; it must unpersist it once the
    per-group totals are materialized (driver path already did)."""
    from neleval_spark.measures import clustering

    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty()

    gold, sys_ = _star_frames(spark)
    monkeypatch.setattr(clustering, "DRIVER_SOLVE_MAX_EDGES", 0)
    res = clustering.mention_ceaf(
        gold, sys_, ["docid", "start", "end"], []).collect()[0]
    assert res["p_num"] == 20.0  # sanity: distributed path ran

    # DataFrame persists register in the CacheManager and are NEVER
    # garbage-collected until unpersist — an empty manager proves the
    # intersection-table persist was released.  (connected_components'
    # internal localCheckpoints are RDD-level, context-cleaned, and
    # intentionally not asserted on here.)
    assert cache_mgr.isEmpty()
