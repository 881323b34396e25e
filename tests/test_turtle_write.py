"""Turtle writer + blank grouping (reference blank-grouping.ts parity).

Structure tests pin the grouping decisions (inline vs flat, group vs
list, shared/cyclic blanks stay flat); roundtrip tests serialize the
pyflatten output of every parseable reference fixture shape and
re-parse it with the engine's own Turtle parser, asserting blank-node
isomorphism with the original triple set.  All driver-side — no Spark
session needed (the distributed sink shares the serializer and is
covered by test_pipeline's engine paths).
"""

import json
import os

import pytest

from ramp_shapes_spark.compare import triple_sets_isomorphic
from ramp_shapes_spark.pyflatten import (
    deterministic_bnode_generator, flatten_py,
)
from ramp_shapes_spark.shape_ttl import load_shapes_from_file
from ramp_shapes_spark.terms import (
    RDF_FIRST, RDF_NIL, RDF_REST, Term, bnode, iri, lit,
)
from ramp_shapes_spark.ttl import parse_turtle
from ramp_shapes_spark.turtle_write import (
    BlankGroup, BlankList, group_blanks, serialize_turtle,
)

EX = "http://example.com/t#"
TD = "/root/reference/test-data"


def _e(name):
    return iri(EX + name)


def test_contiguous_blank_object_inlines_as_group():
    b = bnode("b0")
    quads = [
        (_e("s"), EX + "p", b),
        (b, EX + "q", lit("x")),
        (b, EX + "r", lit("y")),
    ]
    out = group_blanks(quads)
    assert len(out) == 1
    s, p, o = out[0]
    assert isinstance(o, BlankGroup)
    assert [(q[1], q[2].value) for q in o.content] == [
        (EX + "q", "x"), (EX + "r", "y")]


def test_shared_blank_stays_flat():
    b = bnode("b0")
    quads = [
        (_e("s1"), EX + "p", b),
        (b, EX + "q", lit("x")),
        (_e("s2"), EX + "p", b),
    ]
    out = group_blanks(quads)
    # b occurs after its inline window (maxIndex > consumed span) →
    # no grouping anywhere
    assert all(isinstance(o, Term) for _s, _p, o in out)
    assert len(out) == 3


def test_first_rest_chain_collapses_to_list():
    b0, b1 = bnode("l0"), bnode("l1")
    quads = [
        (_e("s"), EX + "p", b0),
        (b0, RDF_FIRST, lit("a")),
        (b0, RDF_REST, b1),
        (b1, RDF_FIRST, lit("b")),
        (b1, RDF_REST, iri(RDF_NIL)),
    ]
    out = group_blanks(quads)
    assert len(out) == 1
    o = out[0][2]
    assert isinstance(o, BlankList)
    assert [t.value for t in o.items] == ["a", "b"]


def test_self_loop_blank_nests_with_dangling_backref():
    """Reference-exact: even a self-loop inlines — try_child's
    min-index gate (blank-grouping.ts:77-79) fails for the inner
    back-reference, so it is emitted as a plain ``_:c0`` term inside
    the group and the span test then passes.  The visiting set only
    rejects malformed first/rest chain loops."""
    b0 = bnode("c0")
    quads = [
        (_e("s"), EX + "p", b0),
        (b0, EX + "q", b0),
    ]
    out = group_blanks(quads)
    assert len(out) == 1
    o = out[0][2]
    assert isinstance(o, BlankGroup)
    assert o.content[0][2] == b0


def test_mutual_cycle_nests_with_dangling_backref():
    """Reference-exact: a 2-cycle b0→b1→b0 DOES inline (the max-index
    window test only checks that every occurrence lies inside the
    consumed span, and the back-reference at the innermost position
    does) — the inner ``_:c0`` label dangles in the text, exactly as
    groupBlanks + N3.js emit it.  Presentation-only semantics."""
    b0, b1 = bnode("c0"), bnode("c1")
    quads = [
        (_e("s"), EX + "p", b0),
        (b0, EX + "q", b1),
        (b1, EX + "q", b0),
    ]
    out = group_blanks(quads)
    assert len(out) == 1
    o = out[0][2]
    assert isinstance(o, BlankGroup)
    inner = o.content[0][2]
    assert isinstance(inner, BlankGroup)
    assert inner.content[0][2] == b0


def test_nested_group_in_list_item():
    b0 = bnode("l0")
    g = bnode("g0")
    quads = [
        (_e("s"), EX + "p", b0),
        (b0, RDF_FIRST, g),
        (g, EX + "q", lit("deep")),
        (b0, RDF_REST, iri(RDF_NIL)),
    ]
    out = group_blanks(quads)
    assert len(out) == 1
    o = out[0][2]
    assert isinstance(o, BlankList)
    assert len(o.items) == 1 and isinstance(o.items[0], BlankGroup)


def _roundtrip(quads, prefixes=None):
    text = serialize_turtle(quads, prefixes)
    parsed = parse_turtle(text)
    assert triple_sets_isomorphic(parsed, quads), (
        f"roundtrip diverged:\n{text}\n"
        f"parsed {len(parsed)} vs original {len(quads)}"
    )
    return text


def test_roundtrip_groups_lists_and_literals():
    b0, b1, g = bnode("l0"), bnode("l1"), bnode("g0")
    quads = [
        (_e("s"), EX + "items", b0),
        (b0, RDF_FIRST, lit("a")),
        (b0, RDF_REST, b1),
        (b1, RDF_FIRST, g),
        (g, EX + "q", lit("tief", lang="de")),
        (b1, RDF_REST, iri(RDF_NIL)),
        (_e("s"), EX + "n", lit("42", dt="http://www.w3.org/2001/XMLSchema#integer")),
        (_e("s"), EX + "text", lit('esc "q" \n tab\t')),
    ]
    text = _roundtrip(quads, {"ex": EX})
    assert "( " in text and "[" in text      # list and group syntax
    assert "ex:items" in text                 # prefix compaction


# every non-error frame fixture: flatten the golden matches with the
# reference-semantics interpreter, serialize, re-parse, compare
_HAVE_TD = os.path.isdir(TD)
_CASES = [
    c["name"] for c in json.load(open(f"{TD}/index.json"))
    if c["type"] == "frame" and "err" not in c["name"]
] if _HAVE_TD else []


@pytest.mark.skipif(not _HAVE_TD,
                    reason=f"reference golden fixtures not found at {TD}")
@pytest.mark.parametrize("name", _CASES)
def test_roundtrip_reference_fixture(name):
    golden = json.load(open(f"{TD}/frame/{name}.json"))
    if "matches" not in golden:
        pytest.skip("error fixture")
    catalog, root = load_shapes_from_file(
        f"{TD}/shapes/{golden['shapes']}.ttl")

    def has_ref(v):
        if isinstance(v, dict):
            return "@ref" in v or "@use" in v or any(
                has_ref(x) for x in v.values())
        if isinstance(v, list):
            return any(has_ref(x) for x in v)
        return False

    for i, value in enumerate(golden["matches"]):
        if has_ref(value):
            continue  # cyclic values need the @use resolver, not flatten
        quads = flatten_py(
            catalog, root, value,
            deterministic_bnode_generator(f"{name}:{i}"),
        )
        if not quads:
            continue
        _roundtrip(quads, {"": EX})
