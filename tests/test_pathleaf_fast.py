"""Fast-tree composite-path plain/optional leaf parity vs the general
compiler (fastframe ``pathleaf`` plan): sequence paths, zeroOrOne
self-inclusion, and every cardinality corner must match the general
error-channel compiler's match set exactly."""

import json

import pytest
from fastparity import assert_error_parity, bundles

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.fastframe import qualifies
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.shapes import (
    PredicatePath, SequencePath, ShapeBuilder, ZeroOrOnePath, prop,
)
from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri, lit

EX = "http://example.com/pl#"


def _graph():
    t = []
    for n in ("p0", "p1", "p2", "p3", "p4", "p5"):
        t.append((iri(n), RDF_TYPE, iri(EX + "Parent")))
        t.append((iri(n), EX + "pid", lit(n)))
    # p1: one value through a->b
    t.append((iri("p1"), EX + "a", iri("m1")))
    t.append((iri("m1"), EX + "b", lit("v1")))
    # p2: two values through a->b (two intermediates)
    t.append((iri("p2"), EX + "a", iri("m2")))
    t.append((iri("p2"), EX + "a", iri("m2x")))
    t.append((iri("m2"), EX + "b", lit("v2")))
    t.append((iri("m2x"), EX + "b", lit("v2x")))
    # p3: intermediate with no b edge -> zero reached values
    t.append((iri("p3"), EX + "a", iri("m3")))
    # p4: DIAMOND — two intermediates converging on the SAME value;
    # findByPath returns a term SET, so exactly-one must see one match
    # (regression: _compose_universal skipped dedup on the single-part
    # A∘B composition, emitting (p4, v4) twice)
    t.append((iri("p4"), EX + "a", iri("m4")))
    t.append((iri("p4"), EX + "a", iri("m4x")))
    t.append((iri("m4"), EX + "b", lit("v4")))
    t.append((iri("m4x"), EX + "b", lit("v4")))
    # p5: the one reached value is an IRI, not a string literal
    t.append((iri("p5"), EX + "a", iri("m5")))
    t.append((iri("m5"), EX + "b", iri("v5")))
    # zeroOrOne link targets (IRIs)
    t.append((iri("p1"), EX + "link", iri("q1")))
    return t


def _engine(spark, b, track_errors):
    return FrameEngine(spark, b.catalog, triples_df(spark, _graph()),
                       diagnostics=False, track_errors=track_errors)


def _vals(engine, root):
    res = engine.frame(root)
    return {json.loads(r["value"])["id"]: json.loads(r["value"])
            for r in res.matches.collect()}


def _seq_shape(b, optional):
    path = SequencePath((PredicatePath(EX + "a"), PredicatePath(EX + "b")))
    leaf = b.literal(datatype=XSD_STRING)
    return b.record(
        EX + "Parent",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Parent")),
                              transient=True)],
        properties=[
            prop("id", EX + "pid", b.literal(datatype=XSD_STRING)),
            prop("v", path, b.optional(leaf) if optional else leaf),
        ],
    )


@pytest.mark.parametrize("optional", [False, True])
def test_sequence_pathleaf_parity(spark, optional):
    b, root = ShapeBuilder(), None
    root = _seq_shape(b, optional)
    fast_engine = _engine(spark, b, False)
    assert qualifies(fast_engine, b.catalog.get(root)), \
        "sequence-path leaf should route through the fast tree"
    fast = _vals(fast_engine, root)

    b2 = ShapeBuilder()
    root2 = _seq_shape(b2, optional)
    general = _vals(_engine(spark, b2, True), root2)
    assert fast == general, (
        f"divergence (optional={optional}):\n  fast    {fast}\n"
        f"  general {general}"
    )
    # the diamond subject must survive exactly-one with its single
    # distinct value on BOTH engines
    assert "p4" in fast and fast["p4"]["v"] == "v4"


def _zoo_shape(b):
    return b.record(
        EX + "Parent",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Parent")),
                              transient=True)],
        properties=[
            prop("id", EX + "pid", b.literal(datatype=XSD_STRING)),
            # zeroOrOne over a resource leaf: the SELF is a candidate
            # (it is an IRI, so it matches) — subjects WITH a link have
            # two candidates and must fail exactly-one; subjects
            # without get themselves
            prop("me_or_link", ZeroOrOnePath(PredicatePath(EX + "link")),
                 b.resource(only_named=True)),
        ],
    )


def test_zero_or_one_self_parity(spark):
    b = ShapeBuilder()
    root = _zoo_shape(b)
    fast_engine = _engine(spark, b, False)
    assert qualifies(fast_engine, b.catalog.get(root))
    fast = _vals(fast_engine, root)

    b2 = ShapeBuilder()
    root2 = _zoo_shape(b2)
    general = _vals(_engine(spark, b2, True), root2)
    assert fast == general, (
        f"divergence:\n  fast    {fast}\n  general {general}"
    )
    # sanity on the semantics themselves: p1 has self + q1 -> fails;
    # p0/p2/p3 resolve to themselves
    assert "p1" not in fast and "p0" in fast


@pytest.mark.parametrize("kind", ["plain", "optional", "zero_or_one"])
def test_pathleaf_error_parity(spark, kind):
    """The fast error channel's code for each failing subject equals the
    reference's first error: no reached value (203), two reached values
    or self plus link (204), a reached value failing the leaf (221)."""
    b = ShapeBuilder()
    root = _zoo_shape(b) if kind == "zero_or_one" else \
        _seq_shape(b, kind == "optional")
    subjects = bundles(_graph(), [iri(f"p{k}") for k in range(6)])
    want = assert_error_parity(spark, b.catalog, root, subjects)
    codes = {n: c for n, c in want.items() if isinstance(c, int)}
    assert codes == {
        "plain": {"p0": 203, "p2": 204, "p3": 203, "p5": 221},
        "optional": {"p2": 204, "p5": 221},
        "zero_or_one": {"p1": 204},
    }[kind]


@pytest.mark.parametrize("composite", [True, False], ids=["path", "pred"])
@pytest.mark.parametrize("optional", [False, True])
def test_lenient_leaf_error_parity(spark, composite, optional):
    """A lenient leaf skips its mismatching candidates: the property
    fails only for zero (plain) or two or more matching candidates, and
    reports 203/204 like the reference — never a skipped candidate's
    own code.  Both the composite-path plan and the scalar base."""
    b = ShapeBuilder()
    leaf = b.literal(datatype=XSD_STRING, lenient=True)
    path = SequencePath((PredicatePath(EX + "a"), PredicatePath(EX + "b"))) \
        if composite else PredicatePath(EX + "b")
    root = b.record(
        EX + "Parent",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Parent")),
                              transient=True)],
        properties=[
            prop("id", EX + "pid", b.literal(datatype=XSD_STRING)),
            prop("v", path, b.optional(leaf) if optional else leaf),
        ],
    )
    t = []
    for name, vals in (("onebad", [iri("x")]),
                       ("goodbad", [lit("g"), iri("x")]),
                       ("twogood", [lit("g"), lit("h")]),
                       ("twogoodbad", [lit("g"), lit("h"), iri("x")])):
        t += [(iri(name), RDF_TYPE, iri(EX + "Parent")),
              (iri(name), EX + "pid", lit(name))]
        for j, v in enumerate(vals):
            mid = iri(f"{name}-m{j}") if composite else iri(name)
            if composite:
                t.append((iri(name), EX + "a", mid))
            t.append((mid, EX + "b", v))
    subjects = bundles(t, [iri(n) for n in
                           ("onebad", "goodbad", "twogood", "twogoodbad")])
    want = assert_error_parity(spark, b.catalog, root, subjects)
    codes = {n: c for n, c in want.items() if isinstance(c, int)}
    assert codes == {"twogood": 204, "twogoodbad": 204,
                     **({} if optional else {"onebad": 203})}
