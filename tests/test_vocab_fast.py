"""Vocabulary leaves in the fast tree: with the error channel off, every
fast-tree leaf site treats a vocabulary miss as the general compiler
does — the candidate is neither a match nor a mismatch.  A plain
property whose only candidate misses has no match (the record fails),
an optional one is empty, and a set drops the item.  Each case frames
the same graph through the fast tree and the general compiler, and
through ``pyframe`` on the subjects where nothing misses (the
reference throws on a miss)."""

import json

import pytest

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.fastframe import qualifies
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pyframe import encode_refs, frame_py
from ramp_shapes_spark.shapes import (
    SELF_PATH, PredicatePath, SequencePath, ShapeBuilder, ShapeReference,
    ZeroOrOnePath, prop,
)
from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri, lit

EX = "http://example.com/vf#"
A, B, Z = iri(EX + "A"), iri(EX + "B"), iri(EX + "Z")  # Z: a miss
VOCAB = {"a": A, "b": B}


def _record(b, *props):
    return b.record(
        EX + "T",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "T")),
                              transient=True)],
        properties=[prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
                    *props],
    )


def _subject(name, *edges):
    s = iri(name)
    return [(s, RDF_TYPE, iri(EX + "T")), (s, EX + "id", lit(name)),
            *[(s if len(e) == 2 else e[0], e[-2], e[-1]) for e in edges]]


def _canon(v):
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return sorted((_canon(x) for x in v), key=json.dumps)
    return v


def _frame(spark, b, root, triples, fast):
    engine = FrameEngine(spark, b.catalog, triples_df(spark, triples),
                         diagnostics=not fast, track_errors=not fast)
    assert qualifies(engine, b.catalog.get(root)) == fast
    rows = engine.frame(root).matches.collect()
    return {v["id"]: _canon(v) for v in (json.loads(r["value"]) for r in rows)}


def _check(spark, b, root, subjects, expected):
    """``subjects``: name -> triples; ``expected``: name -> framed
    value without its ``id`` (None = no match)."""
    triples = [t for ts in subjects.values() for t in ts]
    fast = _frame(spark, b, root, triples, fast=True)
    general = _frame(spark, b, root, triples, fast=False)
    assert fast == general
    want = {n: _canon({"id": n, **v}) for n, v in expected.items()
            if v is not None}
    assert fast == want
    # the reference throws on a vocabulary miss and (past the type gate)
    # on a failing property: compare the subjects that match with no miss
    hits = [n for n in subjects if n.startswith("h") and expected[n]]
    py = frame_py(b.catalog, [t for n in hits for t in subjects[n]], root)
    assert {v["id"]: v for v in (_canon(encode_refs(x)) for x in py)} == \
        {n: fast[n] for n in hits}


# subject names starting with "h" have no vocabulary miss in their graph

def test_plain_leaf_miss_fails_the_record(spark):
    b = ShapeBuilder()
    root = _record(b, prop("v", EX + "v", b.resource(vocabulary=VOCAB)))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "v", A)),
        "h2": _subject("h2", (EX + "v", A), (EX + "v", B)),  # two matches
        "h3": _subject("h3", (EX + "v", lit("x"))),          # mismatch
        "m1": _subject("m1", (EX + "v", Z)),
        # a miss beside one match: exactly one match, no mismatch
        "m2": _subject("m2", (EX + "v", A), (EX + "v", Z)),
    }, {"h1": {"v": "a"}, "h2": None, "h3": None, "m1": None,
        "m2": {"v": "a"}})


def test_optional_leaf_miss_is_empty(spark):
    b = ShapeBuilder()
    root = _record(b, prop("v", EX + "v",
                           b.optional(b.resource(vocabulary=VOCAB))))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "v", B)),
        "h2": _subject("h2"),
        "m1": _subject("m1", (EX + "v", Z)),
    }, {"h1": {"v": "b"}, "h2": {}, "m1": {}})


@pytest.mark.parametrize("max_count", [None, 4])
def test_set_leaf_miss_drops_the_item(spark, max_count):
    """Unbounded sets take the per-predicate join (bigset); bounded ones
    the gathered array stats, which then also frame the plain ``r``."""
    b = ShapeBuilder()
    leaf = b.resource(vocabulary=VOCAB)
    root = _record(
        b, prop("r", EX + "r", leaf),
        prop("vs", EX + "v", b.set_of(leaf, max_count=max_count)))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "r", A), (EX + "v", A), (EX + "v", B)),
        "h2": _subject("h2", (EX + "r", B), (EX + "v", lit("x"))),
        "m1": _subject("m1", (EX + "r", A), (EX + "v", A), (EX + "v", Z)),
        "m2": _subject("m2", (EX + "r", A), (EX + "v", Z)),
        "m3": _subject("m3", (EX + "r", Z), (EX + "v", A)),
    }, {"h1": {"r": "a", "vs": ["a", "b"]}, "h2": None,
        "m1": {"r": "a", "vs": ["a"]}, "m2": {"r": "a", "vs": []},
        "m3": None})


def test_anyof_leaf_miss_is_no_variant_match(spark):
    """A miss of the vocabulary variant that fails the other variant
    leaves the candidate unmatched — a mismatch of the union."""
    b = ShapeBuilder()
    u = b.any_of([b.resource(vocabulary=VOCAB),
                  b.literal(datatype=XSD_STRING)])
    root = _record(b, prop("v", EX + "v", u))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "v", A)),
        "h2": _subject("h2", (EX + "v", lit("x"))),
        "m1": _subject("m1", (EX + "v", Z)),
        "m2": _subject("m2", (EX + "v", A), (EX + "v", Z)),
    }, {"h1": {"v": "a"}, "h2": {"v": "x"}, "m1": None, "m2": None})


def test_sequence_path_leaf_misses(spark):
    """A missing node reached by a sequence path is no candidate."""
    b = ShapeBuilder()
    seq = SequencePath((PredicatePath(EX + "a"), PredicatePath(EX + "b")))
    leaf = b.resource(vocabulary=VOCAB)
    root = _record(b, prop("one", seq, leaf), prop("all", seq, b.set_of(leaf)))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "a", iri("n1")), (iri("n1"), EX + "b", A)),
        "m1": _subject("m1", (EX + "a", iri("n2")), (iri("n2"), EX + "b", A),
                       (EX + "a", iri("n3")), (iri("n3"), EX + "b", Z)),
        "m2": _subject("m2", (EX + "a", iri("n4")), (iri("n4"), EX + "b", Z)),
    }, {"h1": {"one": "a", "all": ["a"]}, "m1": {"one": "a", "all": ["a"]},
        "m2": None})


def test_zero_or_one_self_miss(spark):
    """zeroOrOne paths reach the subject itself, which is outside the
    vocabulary: a miss, so no candidate (every subject here misses)."""
    b = ShapeBuilder()
    z1 = ZeroOrOnePath(PredicatePath(EX + "link"))
    leaf = b.resource(vocabulary=VOCAB)
    root = _record(b, prop("one", z1, leaf), prop("opt", z1, b.optional(leaf)),
                   prop("all", z1, b.set_of(leaf)))
    _check(spark, b, root, {
        "m1": _subject("m1", (EX + "link", B)),
        "m2": _subject("m2", (EX + "link", Z)),
        "m3": _subject("m3", (EX + "link", lit("x"))),
    }, {"m1": {"one": "b", "opt": "b", "all": ["b"]}, "m2": None,
        "m3": None})


def test_self_path_and_map_item_misses(spark):
    """A self-path vocabulary leaf misses on subjects outside the
    vocabulary; a map item whose vocabulary leaf misses fails to frame,
    which fails the map."""
    b = ShapeBuilder()
    key = b.literal(datatype=XSD_STRING)
    entry = b.record(EX + "E", properties=[
        prop("k", EX + "key", key),
        prop("v", EX + "val", b.resource(vocabulary=VOCAB)),
    ])
    root = _record(
        b, prop("me", SELF_PATH, b.resource(vocabulary={"s": iri("h1"),
                                                        "t": iri("m1")})),
        prop("m", EX + "entry", b.map_of(ShapeReference(target=key), entry)))
    _check(spark, b, root, {
        "h1": _subject("h1", (EX + "entry", iri("e1")),
                       (iri("e1"), EX + "key", lit("x")),
                       (iri("e1"), EX + "val", A)),
        "m1": _subject("m1", (EX + "entry", iri("e2")),
                       (iri("e2"), EX + "key", lit("y")),
                       (iri("e2"), EX + "val", Z)),
        "m2": _subject("m2"),
    }, {"h1": {"me": "s", "m": {"x": {"k": "x", "v": "a"}}},
        "m1": None, "m2": None})


def test_vocabulary_region_routing(spark):
    """The vocabulary_region Nation shape takes the fast tree without
    the error channel; with it, misses must emit ERR_VOCABULARY rows,
    which only the general compiler does."""
    from ramp_shapes_spark.ops.relational import vocabulary_region_shape

    catalog, nation = vocabulary_region_shape()
    t = triples_df(spark, [(iri("nat:0"), RDF_TYPE, iri(EX + "Nation"))])
    for track in (False, True):
        engine = FrameEngine(spark, catalog, t, diagnostics=False,
                             track_errors=track)
        assert qualifies(engine, catalog.get(nation)) is not track
