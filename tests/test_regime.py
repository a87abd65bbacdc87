"""plans/regime.route, and the six hybrid operators routed through it:
each must give the driver-path result when the byte bound sends it to
the distributed loop."""

import pytest

from kbase_cdm_ontologies_spark.operators import canonicalize, closure, delta_entail
from kbase_cdm_ontologies_spark.plans import regime


def _edges(spark):
    # payload bytes: a + b + b + cc + cc + d = 8
    return spark.createDataFrame([("a", "b"), ("b", "cc"), ("cc", "d")], ["s", "o"])


def test_route_fetches_only_when_both_bounds_hold(spark, monkeypatch):
    df = _edges(spark)
    monkeypatch.setattr(regime, "DRIVER_MAX_BYTES", 8)
    n, pdf = regime.route(df, 3)
    assert n == 3
    assert sorted(zip(pdf["s"], pdf["o"])) == [("a", "b"), ("b", "cc"), ("cc", "d")]
    # either bound failing: no rows, the exact count for the loop
    assert regime.route(df, 2) == (3, None)
    monkeypatch.setattr(regime, "DRIVER_MAX_BYTES", 7)
    assert regime.route(df, 3) == (3, None)


def test_route_forced_distributed_runs_no_job(spark):
    sc = spark.sparkContext
    df = _edges(spark)
    group = "regime-forced-distributed"
    sc.setJobGroup(group, "route with max_rows=0")
    try:
        assert regime.route(df, 0) == (None, None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        regime.route(df, 10)  # control: a bounded route does run a job
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _transitive_closure(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "b")], ["s", "o"]
    )
    return _rows(closure.transitive_closure(edges))


def _keyed_transitive_closure(spark):
    edges = spark.createDataFrame(
        [("p", "a", "b"), ("p", "b", "a"), ("q", "a", "b"), ("q", "b", "c")],
        ["p", "s", "o"],
    )
    return _rows(closure.keyed_transitive_closure(edges, keep_self=True))


def _union_eliminated_subclass(spark):
    sub = spark.createDataFrame(
        [("x", "m1"), ("m1", "c"), ("m2", "c"), ("c", "d")], ["s", "o"]
    )
    membership = spark.createDataFrame(
        [("_:u", "m1"), ("_:u", "m2")], ["bn", "member"]
    )
    aug, tc = closure.union_eliminated_subclass(sub, membership)
    return _rows(aug), _rows(tc)


def _property_closure(spark):
    edges = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")], ["s", "p", "o"]
    )
    got = _rows(closure.property_closure(
        edges, hierarchy={"p": {"p", "q"}, "q": {"q"}}, transitive={"p"},
        chains=[],
    ))
    assert ("a", "p", "d") in got  # transitivity actually closed
    return got


def _warm_property_closure(spark):
    # links closed under the schema (p ⊑ q, p transitive); seed extends them
    links = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "b")], ["s", "p", "o"]
    )
    seed = spark.createDataFrame([("b", "p", "c")], ["s", "p", "o"])
    full, new = delta_entail._warm_property_closure(
        spark, links, seed, {"p": {"p", "q"}, "q": {"q"}}, {"p"}, [], None
    )
    return _rows(full), _rows(new)


def _connected_components(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "f")], ["src", "dst"]
    )
    return _rows(canonicalize.connected_components(pairs))


ROUTED = {
    "transitive_closure": (closure, _transitive_closure),
    "keyed_transitive_closure": (closure, _keyed_transitive_closure),
    "union_eliminated_subclass": (closure, _union_eliminated_subclass),
    "property_closure": (closure, _property_closure),
    "warm_property_closure": (delta_entail, _warm_property_closure),
    "connected_components": (canonicalize, _connected_components),
}


@pytest.mark.parametrize("name", sorted(ROUTED))
def test_byte_bound_falls_back_to_distributed(spark, monkeypatch, name):
    module, run = ROUTED[name]
    fetched = []

    def spy(*args, **kwargs):
        n_rows, pdf = regime.route(*args, **kwargs)
        fetched.append(pdf is not None)
        return n_rows, pdf

    monkeypatch.setattr(module, "route", spy)
    via_driver = run(spark)
    assert fetched and all(fetched)
    fetched.clear()
    monkeypatch.setattr(regime, "DRIVER_MAX_BYTES", 1)
    via_distributed = run(spark)
    assert fetched and not any(fetched)
    assert via_distributed == via_driver
