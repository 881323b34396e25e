"""Fast-tree error channel (fastframe.root_errors) vs the general compiler.

With ``track_errors=True, diagnostics=False`` a qualifying root shape
now frames through the fast tree and derives error CODES lazily from
the same counter relations.  These tests pin the contract: match
parity with the general compiler, one error row per failing
gate-passing candidate with the general path's record-level code, and
empty channel on clean input.
"""

import json

import pytest
from pyspark.sql import functions as F

from ramp_shapes_spark import fastframe
from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pipeline.kgshapes import build_kg_catalog, kg
from ramp_shapes_spark.terms import (
    RDF_TYPE, XSD_DOUBLE, XSD_INTEGER, XSD_STRING, iri, lit,
)

XSD = "http://www.w3.org/2001/XMLSchema#"


def _turn(t, name, idx="0", role="user", typed=True):
    s = iri(name)
    if typed:
        t.append((s, RDF_TYPE, iri(kg("Turn"))))
    t.append((s, kg("inConversation"), iri("conv:c0")))
    if idx is not None:
        t.append((s, kg("turnIndex"), lit(idx, dt=XSD + "integer")))
    if role is not None:
        t.append((s, kg("role"), lit(role)))
    return s


def _mention(t, turn, name, entity=None, surface="alice", score="0.9",
             typed=True):
    m = iri(name)
    t.append((turn, kg("mentions"), m))
    if typed:
        t.append((m, RDF_TYPE, iri(kg("Mention"))))
    t.append((m, kg("entity"), entity or iri("entity:alice")))
    if surface is not None:
        t.append((m, kg("surface"), lit(surface)))
    t.append((m, kg("score"), lit(score, dt=XSD + "double")))
    return m


def _graph():
    """Six malformed turns (expected record-level codes in comments)
    plus two clean ones; one untyped turn that must NOT error."""
    t = []
    ok0 = _turn(t, "turn:ok0")
    _mention(t, ok0, "m:ok0")
    ok1 = _turn(t, "turn:ok1")

    _turn(t, "turn:norole", role=None)              # 203 (role missing)
    _turn(t, "turn:tworole")                         # 204 (two roles)
    t.append((iri("turn:tworole"), kg("role"), lit("assistant")))
    _turn(t, "turn:badidx", idx=None)                # 223 (idx not int)
    t.append((iri("turn:badidx"), kg("turnIndex"), lit("zero")))
    bent = _turn(t, "turn:badentity")                # 221 via mention
    _mention(t, bent, "m:bent", entity=lit("not-an-iri"))
    twos = _turn(t, "turn:twosurface")               # 204 via mention
    m = _mention(t, twos, "m:twos")
    t.append((m, kg("surface"), lit("bob")))
    noty = _turn(t, "turn:untypedmention")           # 203 via mention
    _mention(t, noty, "m:noty", typed=False)

    _turn(t, "turn:untyped", typed=False)            # no gate -> no error
    return t


EXPECTED_CODES = sorted([203, 204, 223, 221, 204, 203])


def _engines(spark):
    cat1, root1 = build_kg_catalog()
    fast = FrameEngine(spark, cat1, triples_df(spark, _graph()),
                       diagnostics=False, track_errors=True)
    cat2, root2 = build_kg_catalog()
    general = FrameEngine(spark, cat2, triples_df(spark, _graph()),
                          diagnostics=True, track_errors=True)
    return fast, root1, general, root2


def test_fast_error_channel_parity(spark):
    fast, root1, general, root2 = _engines(spark)
    shape = fast.catalog.get(root1)
    assert fastframe.qualifies(fast, shape)
    assert fastframe.error_capable(fast, shape)

    fres = fast.frame(root1)
    gres = general.frame(root2)

    # match parity: identical framed value multisets
    fvals = sorted(json.loads(r["value"])["id"]
                   for r in fres.matches.collect())
    gvals = sorted(json.loads(r["value"])["id"]
                   for r in gres.matches.collect())
    assert fvals == gvals == ["turn:ok0", "turn:ok1"]

    # fast channel: exactly one row per failing gate-passing candidate,
    # record-level code; stacks NULL by contract
    frows = fres.errors.collect()
    assert sorted(r["code"] for r in frows) == EXPECTED_CODES
    assert all(r["stack"] is None for r in frows)

    # the general channel reports the same failures (it may add deeper
    # per-site duplicate rows; every fast code must appear there)
    gcodes = [r["code"] for r in gres.errors.collect()]
    for c in set(EXPECTED_CODES):
        assert EXPECTED_CODES.count(c) <= gcodes.count(c), (c, gcodes)


def test_fast_error_channel_clean_is_empty(spark):
    cat, root = build_kg_catalog()
    t = []
    s = _turn(t, "turn:clean")
    _mention(t, s, "m:clean")
    eng = FrameEngine(spark, cat, triples_df(spark, t),
                      diagnostics=False, track_errors=True)
    res = eng.frame(root)
    assert res.matches.count() == 1
    assert res.errors.count() == 0


def test_fast_error_gate_fail_not_error(spark):
    """A candidate failing the TYPE gate is a mismatch, not an error
    (strictByType only applies after the gate matches)."""
    cat, root = build_kg_catalog()
    t = []
    _turn(t, "turn:untyped", typed=False)
    eng = FrameEngine(spark, cat, triples_df(spark, t),
                      diagnostics=False, track_errors=True)
    res = eng.frame(root)
    assert res.matches.count() == 0
    assert res.errors.count() == 0


def test_child_code_without_scalar_edges(spark):
    """A child record's object that has no edge on the child's plain /
    optional leaf predicates still reports the code of the child's
    first failing property — a record- or set-valued one before the
    anchor included — and a literal object is no record (205)."""
    from fastparity import assert_error_parity, bundles

    from ramp_shapes_spark.shapes import ShapeBuilder, prop

    ex = "http://example.com/fe#"
    b = ShapeBuilder()
    d = b.record(ex + "D", properties=[
        prop("dn", ex + "dn", b.literal(datatype=XSD_STRING))])
    c = b.record(ex + "C", properties=[
        prop("x", ex + "x", d),
        prop("tags", ex + "tag",
             b.set_of(b.literal(datatype=XSD_STRING), min_count=1)),
        prop("name", ex + "name", b.literal(datatype=XSD_STRING)),
    ])
    root = b.record(ex + "T", type_properties=[
        prop("t", RDF_TYPE, b.constant(iri(ex + "T")), transient=True)],
        properties=[prop("id", ex + "id", b.literal(datatype=XSD_STRING)),
                    prop("c", ex + "c", c)])
    t = []
    for name, child in (("good", ["x", "tag", "name"]), ("twox", ["x", "x"]),
                        ("badd", ["badx"]), ("badtag", ["x", "badtag"]),
                        ("notag", ["x"]), ("bare", []), ("lit", None)):
        s = iri(name)
        t += [(s, RDF_TYPE, iri(ex + "T")), (s, ex + "id", lit(name))]
        if child is None:
            t.append((s, ex + "c", lit("not-a-record")))
            continue
        o = iri(name + "-c")
        t.append((s, ex + "c", o))
        for j, edge in enumerate(child):
            if edge in ("x", "badx"):
                dd = iri(f"{name}-d{j}")
                t += [(o, ex + "x", dd), (dd, ex + "dn", lit(str(j)) if
                      edge == "x" else lit(str(j), dt=XSD_INTEGER))]
            elif edge == "tag":
                t.append((o, ex + "tag", lit("t")))
            elif edge == "badtag":
                t.append((o, ex + "tag", iri("not-a-literal")))
            else:
                t.append((o, ex + "name", lit("n")))
    subjects = bundles(t, [iri(n) for n in ("good", "twox", "badd", "badtag",
                                            "notag", "bare", "lit")])
    want = assert_error_parity(spark, b.catalog, root, subjects)
    assert {n: c for n, c in want.items() if isinstance(c, int)} == {
        "twox": 204, "badd": 223, "badtag": 221, "notag": 219, "bare": 203,
        "lit": 205}
