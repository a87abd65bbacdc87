"""Seeded inputs are reproducible, and a corrupted result flips the
verdict."""

import random

from perfbench import checks, federation, metrics


def test_federation_same_seed_is_byte_identical():
    assert federation.generate(5).digest() == federation.generate(5).digest()


def test_federation_different_seed_changes_only_the_graft():
    a, b = federation.generate(1), federation.generate(2)
    assert a.digest() != b.digest()
    assert a.base == b.base and a.base_classes == b.base_classes
    assert a.graft != b.graft
    # ~1-2% of the statements
    assert 0.01 <= len(a.graft) / len(a.base) <= 0.02


def test_query_order_is_a_seeded_permutation():
    def order(seed):
        o = list(metrics.QUERIES)
        random.Random(f"corpus_queries/{seed}").shuffle(o)
        return o

    assert order(3) == order(3)
    assert order(3) != order(4)
    assert sorted(order(3)) == sorted(metrics.QUERIES) and len(set(metrics.QUERIES)) == 27


def test_result_signature_ignores_row_and_column_order():
    a = checks.result_signature(["x", "y"], [(1, 0.5), (2, -0.0)])
    b = checks.result_signature(["y", "x"], [(0.0, 2), (0.5000000000001, 1)])
    assert a == b
    assert a != checks.result_signature(["x", "y"], [(1, 0.5), (2, 1.0)])


def test_corrupted_query_result_is_a_failure():
    exp = {"q": checks.result_signature(["a"], [(1,), (2,)])}
    ok = checks.Verdict()
    checks.check_queries(ok, exp, [{"q": exp["q"]}])
    assert ok.correct and ok.success_ratio == 1.0
    bad = checks.Verdict()
    corrupted = checks.result_signature(["a"], [(1,), (3,)])
    checks.check_queries(bad, exp, [{"q": exp["q"]}, {"q": corrupted}, {"q": None}])
    assert not bad.correct and bad.attempted == 3 and bad.failed == 2
    assert bad.success_ratio == 1 / 3


def test_reference_saturation_closes_the_chain_axiom():
    fed = federation.generate(1)
    ref = federation.reference_edges(fed.base + fed.graft, fed.base_classes + fed.graft_classes)
    foot = fed.graft_classes[-1]
    target = [o for s, p, o in fed.graft if p == "owl:someValuesFrom"][0]
    n = int(target.split(":")[1])
    # reflexive, up the lineage, and located_in the target and every
    # anatomy class the target is part of (located_in o part_of)
    assert (foot, federation.SUB, foot) in ref
    assert all((foot, federation.SUB, c) in ref for c in fed.graft_classes)
    above = [f"AN:{i:06d}" for i in range(n - n % federation.ANAT_CHAIN, n + 1)]
    assert all((foot, federation.LOC, a) in ref for a in above)
    assert (target, federation.OVERLAPS, above[0]) in ref
    assert not any(p == federation.LOC and s == target for s, p, o in ref)


def test_corrupted_saturation_is_a_failure():
    base = {("a", "rdfs:subClassOf", "a")}
    full = base | {("a", "RO:loc", "b")}
    ok = checks.Verdict()
    checks.check_entail(ok, set(base), base, [set(full), set(full)], full)
    assert ok.correct and (ok.attempted, ok.failed) == (3, 0)
    # a delta that dropped an edge, one that gained one, one that raised
    bad = checks.Verdict()
    checks.check_entail(bad, set(base), base, [set(full), set(base), full | {("b", "p", "c")}, None], full)
    assert not bad.correct and (bad.attempted, bad.failed) == (5, 3)
    # the base saturation has an edge the reference does not
    bad = checks.Verdict()
    checks.check_entail(bad, set(full), base, [set(full)], full)
    assert (bad.attempted, bad.failed) == (2, 1) and bad.success_ratio == 0.5


def _fresh_and_resume():
    tables = {"edges": 1}
    fresh = {"edges": 1, "nodes": 2, "precision": 1.0, "recall": 1.0, "exported_tables": tables,
             "stages_run": list(checks.STAGES), "stages_skipped": []}
    resume = {**fresh, "stages_run": [], "stages_skipped": list(checks.STAGES)}
    return fresh, checks.Run(0, resume)


def test_corrupted_resume_or_rebuild_is_a_failure():
    want = {("a", "p", "b")}
    same = [(4, 5), (4, 5)]
    fresh, resume = _fresh_and_resume()
    rebuilt = {**resume.report, "stages_run": ["m7_nodes"],
               "stages_skipped": [s for s in checks.STAGES if s != "m7_nodes"]}
    v = checks.Verdict()
    checks.check_build(v, want, want, fresh, [resume, resume], checks.Run(0, rebuilt), same, "m7_nodes")
    assert v.correct and (v.attempted, v.failed) == (3, 0)
    # a resume that re-ran a stage, one whose edge count moved, and a
    # rebuild that re-ran nothing
    rerun = checks.Run(0, {**resume.report, "stages_run": ["m7_edges"]})
    moved = checks.Run(0, {**resume.report, "edges": 2})
    v = checks.Verdict()
    checks.check_build(v, want, want, fresh, [resume, rerun, moved], resume, same, "m7_nodes")
    assert (v.attempted, v.failed) == (4, 3)
    # an extra edge on disk (precision < 1), and a table that differs
    # from the fresh run's: every call fails
    for got, tables in ((want | {("x", "p", "y")}, same), (want, [(4, 5), (4, 6)])):
        v = checks.Verdict()
        checks.check_build(v, got, want, fresh, [resume, resume], None, tables, "m7_nodes")
        assert (v.attempted, v.failed) == (2, 2) and v.success_ratio == 0.0
