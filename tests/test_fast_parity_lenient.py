"""Fast-tree parity: the fast-tree compiler must either express
lenient semantics exactly or route the shape to the general compiler;
anyOf match counting is per (triple, variant) like the general
compiler's _compile_anyof; mapref emits null entry values for NULL
referenced parts instead of failing the map; bounded leaf sets count
their items exactly, with the same matches and error codes as the
general compiler and the reference interpreter."""

import json

import pytest

from fastparity import assert_error_parity
from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.fastframe import error_capable, qualifies
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pyframe import RampError, frame_py
from ramp_shapes_spark.shapes import (
    ShapeBuilder, ShapeReference, prop,
)
from ramp_shapes_spark.terms import (
    RDF_TYPE, XSD_INTEGER, XSD_STRING, iri, lit,
)

EX = "http://example.com/fl#"


def _anchor_props(b):
    return [prop("t", RDF_TYPE, b.constant(iri(EX + "T")), transient=True)]


def _both(spark, b, root, triples):
    """(fast matches, general matches) as {focus: parsed value}."""
    out = {}
    for fast in (True, False):
        engine = FrameEngine(spark, b.catalog, triples_df(spark, triples),
                             diagnostics=not fast, track_errors=not fast)
        res = engine.frame(root)
        out[fast] = {tuple(r["focus"]): json.loads(r["value"])
                     for r in res.matches.collect()}
    return out[True], out[False]


def _bounded_root(b, anyleaf=False, **set_kw):
    props = [prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
             prop("vals", EX + "val",
                  b.set_of(b.literal(datatype=XSD_STRING), **set_kw))]
    if anyleaf:
        props.insert(1, prop("v", EX + "v", b.any_of(
            [b.literal(datatype=XSD_STRING),
             b.literal(datatype=XSD_INTEGER)])))
    return b.record(EX + "T", type_properties=_anchor_props(b),
                    properties=props)


def _bounded_subjects(anyleaf):
    def subj(name, vals, vs=(lit("x"),)):
        s = iri(name)
        out = [(s, RDF_TYPE, iri(EX + "T")), (s, EX + "id", lit(name))]
        out += [(s, EX + "v", v) for v in (vs if anyleaf else ())]
        return out + [(s, EX + "val", v) for v in vals]

    subjects = {
        "one": subj("one", [lit("a")]),
        "two": subj("two", [lit("a"), lit("b")]),
        "none": subj("none", []),
        "three": subj("three", [lit("a"), lit("b"), lit("c")]),
        "iri": subj("iri", [iri("x")]),  # the item fails its leaf
    }
    if anyleaf:
        subjects["twov"] = subj("twov", [lit("a")],
                                vs=(lit("x"), lit("7", dt=XSD_INTEGER)))
        subjects["nov"] = subj("nov", [lit("a")], vs=())
        # fails every variant: reported with the first variant's code
        subjects["iriv"] = subj("iriv", [lit("a")], vs=(iri("y"),))
    return subjects


@pytest.mark.parametrize("anyleaf, set_kw", [
    (False, {"min_count": 1, "max_count": 2}),
    (False, {"max_count": 2}),
    (True, {"min_count": 1, "max_count": 2}),
    (False, {"min_count": 1, "max_count": 2, "lenient": True}),
], ids=["min_max", "max_only", "anyleaf", "lenient_set"])
def test_bounded_leaf_set_parity(spark, anyleaf, set_kw):
    """A set with a maxCount takes the exact per-predicate set plan:
    the fast tree (with and without its error channel) and the general
    compiler agree with the reference interpreter on every subject's
    value, and on its error code when it fails."""
    b = ShapeBuilder()
    root = _bounded_root(b, anyleaf, **set_kw)
    subjects = _bounded_subjects(anyleaf)
    # the reference, one subject at a time: its value or first error
    want = {}
    for name, ts in subjects.items():
        try:
            [want[name]] = frame_py(b.catalog, ts, root)
        except RampError as exc:
            want[name] = exc.code
    triples = [t for ts in subjects.values() for t in ts]
    runs = {}
    for run, diag, track in (("fast", False, False),
                             ("fast_errors", False, True),
                             ("general", True, True)):
        engine = FrameEngine(spark, b.catalog, triples_df(spark, triples),
                             diagnostics=diag, track_errors=track)
        shape = b.catalog.get(root)
        assert qualifies(engine, shape)
        assert error_capable(engine, shape)
        runs[run] = engine.frame(root)
    matches = {n: v for n, v in want.items() if isinstance(v, dict)}
    for run, res in runs.items():
        got = {}
        for r in res.matches.collect():
            v = json.loads(r["value"])
            got[v["id"]] = v
        assert got == matches, run
    codes = {n: c for n, c in want.items() if isinstance(c, int)}
    assert sorted(r["code"] for r in runs["fast_errors"].errors.collect()) \
        == sorted(codes.values())
    # the general channel adds deeper per-site rows for the same
    # failure; each subject's rows (keyed by their stack's root focus)
    # all carry the subject's code
    general = {}
    for r in runs["general"].errors.collect():
        focus = json.loads(r["stack"])[0]["focus"].strip("<>")
        general.setdefault(focus, set()).add(r["code"])
    assert general == {n: {c} for n, c in codes.items()}


def test_anyleaf_overlapping_variants_counts_per_variant(spark):
    """A term matching TWO variants of an anyOf yields two matches in
    the general compiler (exactly-one then fails with 204); the fast
    anyleaf counters must agree instead of passing it."""
    b = ShapeBuilder()
    u = b.any_of([b.literal(), b.literal(datatype=XSD_STRING)])
    root = b.record(
        EX + "T",
        type_properties=_anchor_props(b),
        properties=[
            prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
            prop("v", EX + "v", u),
        ],
    )
    t = [
        # s1's v matches BOTH variants (an xsd:string literal matches
        # the untyped-literal variant and the typed variant)
        (iri("s1"), RDF_TYPE, iri(EX + "T")),
        (iri("s1"), EX + "id", lit("s1")),
        (iri("s1"), EX + "v", lit("x")),
        # s2 control: IRI object fails both variants
        (iri("s2"), RDF_TYPE, iri(EX + "T")),
        (iri("s2"), EX + "id", lit("s2")),
        (iri("s2"), EX + "v", iri("y")),
    ]
    engine = FrameEngine(spark, b.catalog, triples_df(spark, t))
    assert qualifies(engine, b.catalog.get(root))
    fast, general = _both(spark, b, root, t)
    assert fast == general


def test_lenient_union_routes_to_general(spark):
    """anyOf(lenient=True) empties its mismatches in the general
    compiler; the fast counters cannot express that, so the shape must
    not qualify — and results must equal the general compiler's."""
    b = ShapeBuilder()
    u = b.any_of([b.literal(datatype=XSD_STRING)], lenient=True)
    root = b.record(
        EX + "T",
        type_properties=_anchor_props(b),
        properties=[
            prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
            prop("v", EX + "v", u),
        ],
    )
    t = [
        (iri("s1"), RDF_TYPE, iri(EX + "T")),
        (iri("s1"), EX + "id", lit("s1")),
        (iri("s1"), EX + "v", lit("good")),
        (iri("s1"), EX + "v", iri("bad")),  # fails the variant, lenient
    ]
    engine = FrameEngine(spark, b.catalog, triples_df(spark, t))
    assert not qualifies(engine, b.catalog.get(root))
    fast, general = _both(spark, b, root, t)
    assert fast == general
    assert general[("iri", "s1", None, None)]["v"] == "good"


def test_lenient_set_item_routes_to_general(spark):
    """A set whose ITEM leaf is lenient silently drops failing items in
    the general compiler; nt = nm cannot express that."""
    b = ShapeBuilder()
    root = b.record(
        EX + "T",
        type_properties=_anchor_props(b),
        properties=[
            prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
            prop("vals", EX + "v",
                 b.set_of(b.literal(datatype=XSD_STRING, lenient=True))),
        ],
    )
    t = [
        (iri("s1"), RDF_TYPE, iri(EX + "T")),
        (iri("s1"), EX + "id", lit("s1")),
        (iri("s1"), EX + "v", lit("keep1")),
        (iri("s1"), EX + "v", iri("dropped")),
        (iri("s1"), EX + "v", lit("keep2")),
    ]
    engine = FrameEngine(spark, b.catalog, triples_df(spark, t))
    assert not qualifies(engine, b.catalog.get(root))
    fast, general = _both(spark, b, root, t)
    assert fast == general
    assert sorted(general[("iri", "s1", None, None)]["vals"]) == \
        ["keep1", "keep2"]


def test_lenient_child_record_routes_to_general(spark):
    """A lenient CHILD record passes its property with exactly one
    matching edge among mismatching ones; the join plan requires all
    edges to match, so the shape must route general."""
    b = ShapeBuilder()
    child = b.record(
        EX + "C",
        properties=[prop("name", EX + "name",
                         b.literal(datatype=XSD_STRING))],
        lenient=True,
    )
    root = b.record(
        EX + "T",
        type_properties=_anchor_props(b),
        properties=[
            prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
            prop("c", EX + "c", child),
        ],
    )
    t = [
        (iri("s1"), RDF_TYPE, iri(EX + "T")),
        (iri("s1"), EX + "id", lit("s1")),
        (iri("s1"), EX + "c", iri("c1")),
        (iri("s1"), EX + "c", iri("c2")),  # c2 fails the child, lenient
        (iri("c1"), EX + "name", lit("good")),
    ]
    engine = FrameEngine(spark, b.catalog, triples_df(spark, t))
    assert not qualifies(engine, b.catalog.get(root))
    fast, general = _both(spark, b, root, t)
    assert fast == general
    assert general[("iri", "s1", None, None)]["c"] == {"name": "good"}


def test_mapref_null_part_emits_null_value(spark):
    """A value reference on part='language' over plain literals emits
    "" entry values (reference literals store language as '' when
    absent, rdf-model.ts:62); the fast mapref must not count those
    items as failing, and neither engine may corrupt the JSON."""
    b = ShapeBuilder()
    key_shape = b.literal(datatype=XSD_STRING)
    val_shape = b.literal()
    entry = b.record(
        EX + "E",
        properties=[
            prop("k", EX + "key", key_shape),
            prop("v", EX + "val", val_shape),
        ],
    )
    m = b.map_of(ShapeReference(target=key_shape, part="value"), entry,
                 value=ShapeReference(target=val_shape, part="language"))
    root = b.record(
        EX + "T",
        type_properties=_anchor_props(b),
        properties=[
            prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
            prop("entries", EX + "entry", m),
        ],
    )
    t = [
        (iri("s1"), RDF_TYPE, iri(EX + "T")),
        (iri("s1"), EX + "id", lit("s1")),
        (iri("s1"), EX + "entry", iri("e1")),
        (iri("e1"), EX + "key", lit("alpha")),
        (iri("e1"), EX + "val", lit("novalue")),     # no language tag
        (iri("s1"), EX + "entry", iri("e2")),
        (iri("e2"), EX + "key", lit("beta")),
        (iri("e2"), EX + "val", lit("tagged", lang="en")),
    ]
    fast, general = _both(spark, b, root, t)
    assert fast == general
    assert general[("iri", "s1", None, None)]["entries"] == \
        {"alpha": "", "beta": "en"}


@pytest.mark.parametrize("value_ref", [False, True], ids=["map", "mapref"])
def test_map_error_parity(spark, value_ref):
    """A map whose item fails to frame fails the whole map with the
    item's own code (frame.ts:664-690); the fast error channel reports
    the reference's first error for every failing subject, for plain
    and value-reference maps."""
    b = ShapeBuilder()
    key_shape = b.literal(datatype=XSD_STRING)
    val_shape = b.literal()
    entry = b.record(EX + "E", properties=[
        prop("k", EX + "key", key_shape),
        prop("v", EX + "val", val_shape),
    ])
    m = b.map_of(ShapeReference(target=key_shape, part="value"), entry,
                 value=(ShapeReference(target=val_shape, part="value")
                        if value_ref else None))
    root = b.record(EX + "T", type_properties=_anchor_props(b), properties=[
        prop("id", EX + "id", b.literal(datatype=XSD_STRING)),
        prop("entries", EX + "entry", m),
    ])

    def subj(name, entries):
        s = iri(name)
        out = [(s, RDF_TYPE, iri(EX + "T")), (s, EX + "id", lit(name))]
        for j, (keys, vals) in enumerate(entries):
            e = iri(f"{name}-e{j}")
            out.append((s, EX + "entry", e))
            out += [(e, EX + "key", k) for k in keys]
            out += [(e, EX + "val", v) for v in vals]
        return out

    subjects = {
        "good": subj("good", [([lit("alpha")], [lit("x")]),
                              ([lit("beta")], [lit("y")])]),
        "empty": subj("empty", []),
        "nokey": subj("nokey", [([], [lit("x")])]),
        "twokeys": subj("twokeys", [([lit("a"), lit("b")], [lit("x")])]),
        "badkey": subj("badkey", [([lit("7", dt=XSD_INTEGER)], [lit("x")])]),
        "noval": subj("noval", [([lit("a")], [])]),
        "mixed": subj("mixed", [([lit("a")], [lit("x")]),
                                ([lit("b")], [iri("notalit")])]),
    }
    want = assert_error_parity(spark, b.catalog, root, subjects)
    assert sorted(c for c in want.values() if isinstance(c, int)) == \
        [203, 203, 204, 221, 223]
