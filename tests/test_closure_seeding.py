"""Regression tests for the round-3 ADVICE high finding: closure paths
(zeroOrMore/oneOrMore) must follow reachability through nodes that are
NOT in the evaluation's candidate set.

Pointer doubling composes R with itself, so every reachability
intermediate must be a source row of the base relation; seeding only
from df's candidate nodes truncated chains at distance 1 whenever an
intermediate node was not itself a candidate (e.g. a closure property
inside a nested record, or ``frame(candidates=[...])`` with a narrow
list).  The fix builds the base relation from the full graph
(paths._full_step_relation).
"""

import json

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.shapes import (
    OneOrMorePath, PredicatePath, ShapeBuilder, ZeroOrMorePath, prop,
)
from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri, lit

EX = "http://example.com/clo#"


def _chain_triples():
    # root --inner--> n  ;  n -next-> c1 -next-> c2 -next-> c3
    # only `root` and `n` are "candidates" for their shapes; c1..c3 are
    # reachable exclusively through the closure.
    return [
        (iri("root"), RDF_TYPE, iri(EX + "Root")),
        (iri("root"), EX + "inner", iri("n")),
        (iri("n"), EX + "label", lit("n")),
        (iri("n"), EX + "next", iri("c1")),
        (iri("c1"), EX + "next", iri("c2")),
        (iri("c2"), EX + "next", iri("c3")),
    ]


def _values(res):
    return [json.loads(r["value"]) for r in res.matches.collect()]


def test_closure_on_nested_record_property(spark):
    """A one-or-more closure on a property of a NESTED record reaches the
    full chain, not just distance 1 (pre-fix: reach == ["c1"])."""
    b = ShapeBuilder()
    inner_rec = b.record(
        EX + "Inner",
        properties=[
            prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
            prop("reach", OneOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True))),
        ],
    )
    root = b.record(
        EX + "Root",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Root")), transient=True)],
        properties=[prop("inner", EX + "inner", inner_rec)],
    )
    engine = FrameEngine(spark, b.catalog, triples_df(spark, _chain_triples()))
    rows = _values(engine.frame(root))
    assert len(rows) == 1
    assert sorted(rows[0]["inner"]["reach"]) == ["c1", "c2", "c3"]


def test_closure_with_narrow_candidates(spark):
    """frame(candidates=[n]) with a zero-or-more closure follows the whole
    chain even though c1..c3 are not candidates."""
    b = ShapeBuilder()
    node = b.record(
        EX + "Node",
        properties=[
            prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
            prop("reach", ZeroOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True))),
        ],
    )
    engine = FrameEngine(spark, b.catalog, triples_df(spark, _chain_triples()))
    rows = _values(engine.frame(node, candidates=[iri("n")]))
    assert len(rows) == 1
    assert sorted(rows[0]["reach"]) == ["c1", "c2", "c3", "n"]


def test_closure_universe_unchanged(spark):
    """Root-level closure over the universe still returns the same result
    (the pre-fix green path must stay green)."""
    b = ShapeBuilder()
    node = b.record(
        EX + "Node",
        properties=[
            prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
            prop("reach", OneOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True))),
        ],
    )
    engine = FrameEngine(spark, b.catalog, triples_df(spark, _chain_triples()))
    rows = _values(engine.frame(node))
    assert len(rows) == 1
    assert sorted(rows[0]["reach"]) == ["c1", "c2", "c3"]


def test_pathset_fast_route_parity(spark):
    """track_errors=False routes leaf sets over composite paths through
    the fast-tree pathset join; results must match the general compiler
    row for row (values and set contents)."""
    from ramp_shapes_spark.shapes import SELF_PATH, ZeroOrOnePath

    triples = _chain_triples() + [
        (iri("n"), EX + "label2", lit("m")),
        (iri("c1"), EX + "label", lit("c1")),
    ]

    def shape(b):
        return b.record(
            EX + "Node",
            type_properties=[],
            properties=[
                prop("id", SELF_PATH, b.resource(only_named=True)),
                prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
                prop("reach",
                     OneOrMorePath(PredicatePath(EX + "next")),
                     b.set_of(b.resource(only_named=True))),
                prop("maybe_next",
                     ZeroOrOnePath(PredicatePath(EX + "next")),
                     b.set_of(b.resource(only_named=True))),
            ],
        )

    results = {}
    for fast in (False, True):
        b = ShapeBuilder()
        node = shape(b)
        engine = FrameEngine(spark, b.catalog, triples_df(spark, triples),
                             track_errors=not fast)
        res = engine.frame(node)
        results[fast] = sorted(
            (json.loads(r["value"])["id"],
             sorted(json.loads(r["value"])["reach"]),
             sorted(json.loads(r["value"])["maybe_next"]))
            for r in res.matches.collect())
    assert results[True] == results[False]
    assert len(results[True]) == 2  # n and c1 carry labels


def test_pathset_error_parity(spark):
    """The typed form of the composite-path set shape above, with the
    fast error channel on: each failing subject's code equals the
    reference's first error — an item reached through the closure that
    fails the item leaf (221), a zeroOrOne set holding self and the
    next node over its maxCount (220), too few reached items (219)."""
    from fastparity import assert_error_parity, bundles

    from ramp_shapes_spark.shapes import SELF_PATH, ZeroOrOnePath

    def node(name, label, nxt=()):
        s = iri(name)
        t = [(s, RDF_TYPE, iri(EX + "Node")), (s, EX + "label", lit(label))]
        return t + [(s, EX + "next", o) for o in nxt]

    triples = (
        node("ok", "ok", [iri("c1")])
        + [(iri("c1"), EX + "next", iri("c2"))]
        + node("lit", "lit", [iri("d1")])
        + [(iri("d1"), EX + "next", lit("not-a-resource"))]
        + node("two", "two", [iri("e1"), iri("e2")])
        + node("none", "none")
        + node("self", "self", [iri("self")])
    )
    b = ShapeBuilder()
    root = b.record(
        EX + "Node",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Node")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
            prop("reach", OneOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True), min_count=1)),
            prop("maybe_next", ZeroOrOnePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True), max_count=2)),
        ],
    )
    subjects = bundles(triples, [iri(n) for n in
                                 ("ok", "lit", "two", "none", "self")])
    want = assert_error_parity(spark, b.catalog, root, subjects)
    assert {n: c for n, c in want.items() if isinstance(c, int)} == \
        {"lit": 221, "two": 220, "none": 219}


def test_fast_root_ordered_parity(spark):
    """ordered=True on the fast root must follow findAllCandidates order
    (first appearance as subject OR object) — here `b` appears first as
    an OBJECT, so it precedes `c` even though its subject triples come
    later."""
    triples = [
        (iri("x"), EX + "ref", iri("b")),      # tid 0: b first, as object
        (iri("c"), EX + "label", lit("c")),    # tid 1
        (iri("b"), EX + "label", lit("b")),    # tid 2
    ]

    def run(track_errors):
        b = ShapeBuilder()
        node = b.record(
            EX + "Node",
            properties=[prop("label", EX + "label",
                             b.literal(datatype=XSD_STRING))],
        )
        engine = FrameEngine(spark, b.catalog, triples_df(spark, triples),
                             track_errors=track_errors)
        res = engine.frame(node, ordered=True)
        return [json.loads(r["value"])["label"]
                for r in res.matches.collect()]

    assert run(False) == run(True) == ["b", "c"]


def test_dense_closure_growth_guard_raises(spark):
    """A reachability graph whose closure grows super-linearly must
    fail LOUDLY (MAX_CLOSURE_GROWTH) instead of silently going
    quadratic — a long chain's all-pairs closure is the canonical
    case."""
    import pytest

    from ramp_shapes_spark import paths
    from ramp_shapes_spark.paths import _closure, _full_step_relation

    n = 200  # chain: closure = n(n-1)/2 pairs ≈ 100x the edge count
    t = [(iri(f"c{i}"), EX + "next", iri(f"c{i+1}")) for i in range(n)]
    rel = _full_step_relation(PredicatePath(EX + "next"),
                              triples_df(spark, t), reverse=False)
    with pytest.raises(RuntimeError, match="refusing to go quadratic"):
        _closure(rel)

    # and a forest-shaped graph under the cap still closes fine
    short = [(iri(f"s{j}_{i}"), EX + "next", iri(f"s{j}_{i+1}"))
             for j in range(20) for i in range(5)]
    rel2 = _full_step_relation(PredicatePath(EX + "next"),
                               triples_df(spark, short), reverse=False)
    assert _closure(rel2).count() == 20 * (5 + 4 + 3 + 2 + 1)


def test_dense_closure_falls_back_to_seeded_frontier(spark):
    """When the growth guard trips, eval_path switches to the
    demand-driven frontier closure: correct reachable sets from the
    site seeds, bounded by THEIR reachability, not the whole graph."""
    from pyspark.sql import functions as F

    from ramp_shapes_spark.paths import eval_path
    from ramp_shapes_spark.dataset import term_key_col

    n = 200  # same guard-tripping chain as the guard test
    t = [(iri(f"c{i}"), EX + "next", iri(f"c{i+1}")) for i in range(n)]
    tri = triples_df(spark, t)

    def seeds(*names):
        rows = [(iri(x).as_row(), i) for i, x in enumerate(names)]
        df = spark.createDataFrame(
            rows, "node struct<kind:string,value:string,dt:string,"
                  "lang:string>, tord long")
        return df.select(term_key_col(F.col("node")).alias("k"),
                         "node", "tord")

    out = eval_path(OneOrMorePath(PredicatePath(EX + "next")),
                    seeds("c150"), ["k"], tri)
    got = sorted(r["node"]["value"] for r in out.collect())
    assert got == sorted(f"c{i}" for i in range(151, n + 1))

    out2 = eval_path(ZeroOrMorePath(PredicatePath(EX + "next")),
                     seeds("c198"), ["k"], tri)
    got2 = sorted(r["node"]["value"] for r in out2.collect())
    assert got2 == ["c198", "c199", "c200"]


def test_fast_tree_closure_guard_falls_back_to_general(spark):
    """A fast-tree-qualifying shape whose closure path trips the
    MAX_CLOSURE_GROWTH guard must fall back to the general compiler
    (which evaluates the closure demand-driven), not hard-fail — the
    same shape+data frames fine via the general path (round-5 review)."""
    # dense-but-shallow reachability: 150 sources fan into a hub that
    # fans out to 150 sinks, so the UNIVERSAL closure has ~150x150
    # pairs (> 64x the ~300-edge base -> guard trips in round 1) while
    # the demand-driven BFS from the one root is 3 cheap rounds
    k = 150
    t = [
        (iri("root"), RDF_TYPE, iri(EX + "Root")),
        (iri("root"), EX + "label", lit("r")),
        (iri("root"), EX + "next", iri("a1")),
    ]
    t += [(iri(f"a{i}"), EX + "next", iri("hub")) for i in range(1, k + 1)]
    t += [(iri("hub"), EX + "next", iri(f"b{j}")) for j in range(1, k + 1)]

    b = ShapeBuilder()
    root = b.record(
        EX + "Root",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Root")),
                              transient=True)],
        properties=[
            prop("label", EX + "label", b.literal(datatype=XSD_STRING)),
            prop("reach", OneOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True))),
        ],
    )
    from ramp_shapes_spark import fastframe
    engine = FrameEngine(spark, b.catalog, triples_df(spark, t))
    assert fastframe.qualifies(engine, b.catalog.get(root))
    rows = _values(engine.frame(root))
    assert len(rows) == 1
    assert sorted(rows[0]["reach"]) == sorted(
        ["a1", "hub"] + [f"b{j}" for j in range(1, k + 1)])


def test_seeded_closure_tord_matches_pointer_doubling(spark):
    """The seeded-frontier fallback must dedup to the MIN final-step tid
    like the pointer-doubling closure, not keep the first-discovery
    round's tid — otherwise framed-value ordering flips across the
    growth-guard threshold (round-5 review)."""
    from pyspark.sql import functions as F

    from ramp_shapes_spark.dataset import term_key_col
    from ramp_shapes_spark.paths import _closure_from_sites, _seeded_closure

    # v reachable at distance 1 via tid 2 AND at distance 2 via final
    # step tid 1: first-discovery keeps 2, min-dedup keeps 1
    t = [
        (iri("u"), EX + "next", iri("w")),   # tid 0
        (iri("w"), EX + "next", iri("v")),   # tid 1
        (iri("u"), EX + "next", iri("v")),   # tid 2
    ]
    tri = triples_df(spark, t)
    seeds = spark.createDataFrame(
        [(iri("u").as_row(), 0)],
        "node struct<kind:string,value:string,dt:string,lang:string>, "
        "tord long",
    ).select(term_key_col(F.col("node")).alias("k"), "node", "tord")

    inner = PredicatePath(EX + "next")
    rows = {}
    for name, fn in (("doubling", _closure_from_sites),
                     ("seeded", _seeded_closure)):
        out = fn(seeds, ["k"], inner, tri, False, False)
        rows[name] = sorted(
            (r["node"]["value"], r["tord"]) for r in out.collect())
    assert rows["seeded"] == rows["doubling"]
    assert ("v", 1) in rows["doubling"]
