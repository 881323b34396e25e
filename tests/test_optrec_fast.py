"""Fast-tree optional-of-record parity vs the general compiler.

``optional(record)`` properties route through the fast path
(fastframe ``optrec`` plan) when ``track_errors=False``; the general
error-channel compiler is the reference-parity implementation
(golden-tested), so the fast path must produce the identical match
set on every cardinality corner: absent edge, one matching child, one
MISmatching child (it fails the property), two matching children
(exactly-one violation), and a matching+mismatching pair.  With the
error channel on, each failing subject's code must equal the reference
interpreter's first error.
"""

import json

import pytest
from fastparity import assert_error_parity, bundles

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.fastframe import qualifies
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.shapes import ShapeBuilder, prop
from ramp_shapes_spark.terms import RDF_TYPE, XSD_INTEGER, XSD_STRING, iri, lit

EX = "http://example.com/optrec#"


def _shapes(empty_is_null=False):
    b = ShapeBuilder()
    child = b.record(
        EX + "Child",
        properties=[prop("name", EX + "name",
                         b.literal(datatype=XSD_STRING))],
    )
    parent = b.record(
        EX + "Parent",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Parent")),
                              transient=True)],
        properties=[
            prop("id", EX + "pid", b.literal(datatype=XSD_STRING)),
            prop("child", EX + "child",
                 b.optional(child, empty_is_null=empty_is_null)),
        ],
    )
    return b, parent


def _graph():
    t = []
    for n in ("p0", "p1", "p2", "p3", "p4", "p5", "p6"):
        t.append((iri(n), RDF_TYPE, iri(EX + "Parent")))
        t.append((iri(n), EX + "pid", lit(n)))
    # p0: no child edge
    # p1: one matching child
    t.append((iri("p1"), EX + "child", iri("c1")))
    t.append((iri("c1"), EX + "name", lit("one")))
    # p2: one MISmatching child (no name)
    t.append((iri("p2"), EX + "child", iri("c2x")))
    t.append((iri("c2x"), EX + "other", lit("x")))
    # p3: two matching children
    t.append((iri("p3"), EX + "child", iri("c3a")))
    t.append((iri("p3"), EX + "child", iri("c3b")))
    t.append((iri("c3a"), EX + "name", lit("a")))
    t.append((iri("c3b"), EX + "name", lit("b")))
    # p4: matching + mismatching pair
    t.append((iri("p4"), EX + "child", iri("c4")))
    t.append((iri("p4"), EX + "child", iri("c4x")))
    t.append((iri("c4"), EX + "name", lit("four")))
    t.append((iri("c4x"), EX + "other", lit("x")))
    # p5: one child whose name has the wrong datatype
    t.append((iri("p5"), EX + "child", iri("c5")))
    t.append((iri("c5"), EX + "name", lit("5", dt=XSD_INTEGER)))
    # p6: the child is a literal, never a record
    t.append((iri("p6"), EX + "child", lit("c6")))
    return t


def _matches(spark, track_errors, empty_is_null):
    b, parent = _shapes(empty_is_null)
    engine = FrameEngine(spark, b.catalog, triples_df(spark, _graph()),
                         diagnostics=False, track_errors=track_errors)
    res = engine.frame(parent)
    vals = {}
    for r in res.matches.collect():
        v = json.loads(r["value"])
        vals[v["id"]] = v
    return vals


@pytest.mark.parametrize("empty_is_null", [False, True])
def test_optrec_fast_matches_general(spark, empty_is_null):
    b, parent = _shapes(empty_is_null)
    engine = FrameEngine(spark, b.catalog,
                         triples_df(spark, _graph()),
                         diagnostics=False, track_errors=False)
    assert qualifies(engine, b.catalog.get(parent)), \
        "optional-of-record should route through the fast tree"

    general = _matches(spark, True, empty_is_null)
    fast = _matches(spark, False, empty_is_null)
    assert fast == general, (
        f"fast/general divergence:\n  fast    {json.dumps(fast, sort_keys=True)}"
        f"\n  general {json.dumps(general, sort_keys=True)}"
    )


@pytest.mark.parametrize("empty_is_null", [False, True])
def test_optrec_error_parity(spark, empty_is_null):
    """The fast error channel's code for each failing subject equals the
    reference's first error: a mismatching child bubbles its own code
    (203, 223; 205 for a literal), two matching children fail
    exactly-one (204)."""
    b, parent = _shapes(empty_is_null)
    subjects = bundles(_graph(), [iri(f"p{k}") for k in range(7)])
    want = assert_error_parity(spark, b.catalog, parent, subjects)
    assert {n: c for n, c in want.items() if isinstance(c, int)} == \
        {"p2": 203, "p3": 204, "p4": 203, "p5": 223, "p6": 205}
