"""Incremental frame maintenance (incremental.py): after any delta,
incremental_frame must equal a full re-frame of the new table — across
value edits, nested-record changes, appearing/disappearing matches,
closure-path edits and recursive shapes."""

import json

from pyspark.sql import functions as F

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.incremental import (
    affected_roots, changed_nodes, incremental_frame,
)
from ramp_shapes_spark.shapes import (
    PredicatePath, Property, RecordShape, ShapeBuilder, ZeroOrMorePath,
    prop,
)
from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri, lit

EX = "http://example.com/inc#"


def _canon(value_json: str) -> str:
    v = json.loads(value_json)
    if not isinstance(v, dict):  # leaf roots frame to scalar JSON
        return json.dumps(v, sort_keys=True, ensure_ascii=False)
    for k, x in list(v.items()):
        if isinstance(x, list):
            v[k] = sorted(x, key=repr)
    return json.dumps(v, sort_keys=True, ensure_ascii=False)


def _result_set(matches):
    return {(tuple(r["focus"]), _canon(r["value"]))
            for r in matches.collect()}


def _full(spark, b, root, triples):
    engine = FrameEngine(spark, b.catalog, triples,
                         diagnostics=False, track_errors=False)
    return engine.frame(root).matches


def _apply_delta(spark, base_data, add=(), remove=()):
    """Return (old_df, new_df, added_df, removed_df)."""
    removed = list(remove)
    new_data = [t for t in base_data if t not in removed] + list(add)
    old = triples_df(spark, base_data)
    new = triples_df(spark, new_data)
    added_df = triples_df(spark, list(add)) if add else None
    removed_df = triples_df(spark, removed) if removed else None
    return old, new, added_df, removed_df


def _supplier_shape(b):
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name",
                         b.literal(datatype=XSD_STRING))],
    )
    return b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )


def _supplier_data(n=4):
    out = []
    for i in range(n):
        out += [
            (iri(f"s{i}"), RDF_TYPE, iri(EX + "Supplier")),
            (iri(f"s{i}"), EX + "name", lit(f"sup{i}")),
            (iri(f"s{i}"), EX + "locatedIn", iri(f"n{i % 2}")),
        ]
    for j in range(2):
        out += [
            (iri(f"n{j}"), RDF_TYPE, iri(EX + "Nation")),
            (iri(f"n{j}"), EX + "name", lit(f"nat{j}")),
        ]
    return out


def _check(spark, b, root, base, add=(), remove=(),
           max_affected=None):
    old_t, new_t, added, removed = _apply_delta(spark, base, add, remove)
    old_matches = _full(spark, b, root, old_t).localCheckpoint(eager=True)
    got = incremental_frame(spark, b.catalog, root, old_matches, new_t,
                            added, removed,
                            diagnostics=False, track_errors=False)
    want = _full(spark, b, root, new_t)
    assert _result_set(got) == _result_set(want)
    # the delta-proportional machinery must satisfy the same contract
    # when forced (the auto path delegates to a full re-frame)
    forced = incremental_frame(spark, b.catalog, root, old_matches, new_t,
                               added, removed, force_incremental=True,
                               diagnostics=False, track_errors=False)
    assert _result_set(forced) == _result_set(want)
    if max_affected is not None:
        n = affected_roots(new_t, b.catalog, root,
                           changed_nodes(added, removed)).count()
        assert n <= max_affected, n


def test_value_edit_flat(spark):
    b = ShapeBuilder()
    root = _supplier_shape(b)
    base = _supplier_data()
    _check(spark, b, root, base,
           add=[(iri("s1"), EX + "name", lit("renamed"))],
           remove=[(iri("s1"), EX + "name", lit("sup1"))],
           max_affected=3)  # s1 + the two literal terms


def test_nested_change_propagates_to_parents(spark):
    b = ShapeBuilder()
    root = _supplier_shape(b)
    base = _supplier_data()
    # nation n0's name changes -> suppliers s0 and s2 must re-frame
    old_t, new_t, added, removed = _apply_delta(
        spark, base,
        add=[(iri("n0"), EX + "name", lit("renamed-nation"))],
        remove=[(iri("n0"), EX + "name", lit("nat0"))])
    roots = affected_roots(new_t, b.catalog, root,
                           changed_nodes(added, removed))
    names = {r["node"]["value"] for r in roots.collect()}
    assert {"s0", "s2"} <= names  # pulled back through locatedIn
    old_matches = _full(spark, b, root, old_t).localCheckpoint(eager=True)
    got = incremental_frame(spark, b.catalog, root, old_matches, new_t,
                            added, removed,
                            diagnostics=False, track_errors=False)
    assert _result_set(got) == _result_set(_full(spark, b, root, new_t))


def test_match_appears_and_disappears(spark):
    b = ShapeBuilder()
    root = _supplier_shape(b)
    base = _supplier_data()
    # s9 appears fully formed; s0 loses its name (required -> drops)
    _check(spark, b, root, base,
           add=[(iri("s9"), RDF_TYPE, iri(EX + "Supplier")),
                (iri("s9"), EX + "name", lit("new")),
                (iri("s9"), EX + "locatedIn", iri("n1"))],
           remove=[(iri("s0"), EX + "name", lit("sup0"))])


def test_unrelated_change_keeps_result(spark):
    b = ShapeBuilder()
    root = _supplier_shape(b)
    base = _supplier_data() + [(iri("x"), EX + "other", lit("junk"))]
    _check(spark, b, root, base,
           add=[(iri("x"), EX + "other", lit("junk2"))],
           remove=[(iri("x"), EX + "other", lit("junk"))])


def test_closure_path_deep_edit(spark):
    b = ShapeBuilder()
    walker = b.record(
        EX + "Head",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Head")),
                              transient=True)],
        properties=[prop("reach", ZeroOrMorePath(PredicatePath(EX + "next")),
                         b.set_of(b.resource(only_named=True)))],
    )
    base = [(iri("a0"), RDF_TYPE, iri(EX + "Head"))]
    for i in range(5):
        base.append((iri(f"a{i}"), EX + "next", iri(f"a{i+1}")))
    # cut the chain deep: a0's reach set shrinks
    _check(spark, b, walker, base,
           remove=[(iri("a3"), EX + "next", iri("a4"))])


def test_recursive_shape_deep_edit(spark):
    b = ShapeBuilder()
    tree_id = iri(EX + "TreeNode")
    child_opt = b.optional(tree_id, EX + "TreeChildOpt")
    tree = RecordShape(
        id=tree_id,
        type_properties=(Property("t", PredicatePath(RDF_TYPE),
                                  b.constant(iri(EX + "TreeNode")),
                                  transient=True),),
        properties=(
            Property("name", PredicatePath(EX + "name"),
                     b.literal(datatype=XSD_STRING)),
            Property("child", PredicatePath(EX + "child"), child_opt),
        ),
    )
    b.catalog.add(tree)
    base = []
    for i in range(5):
        base.append((iri(f"t{i}"), RDF_TYPE, iri(EX + "TreeNode")))
        base.append((iri(f"t{i}"), EX + "name", lit(f"level{i}")))
        if i + 1 < 5:
            base.append((iri(f"t{i}"), EX + "child", iri(f"t{i+1}")))
    old_t, new_t, added, removed = _apply_delta(
        spark, base,
        add=[(iri("t4"), EX + "name", lit("edited"))],
        remove=[(iri("t4"), EX + "name", lit("level4"))])
    # the leaf edit must pull back through 4 recursive references
    roots = affected_roots(new_t, b.catalog, tree_id,
                           changed_nodes(added, removed))
    names = {r["node"]["value"] for r in roots.collect()}
    assert {"t0", "t1", "t2", "t3", "t4"} <= names
    old_matches = _full(spark, b, tree_id, old_t).localCheckpoint(eager=True)
    got = incremental_frame(spark, b.catalog, tree_id, old_matches, new_t,
                            added, removed,
                            diagnostics=False, track_errors=False)
    want = _full(spark, b, tree_id, new_t)

    def canon_deep(matches):
        return sorted(
            json.dumps(json.loads(r["value"]), sort_keys=True)
            for r in matches.collect())
    assert canon_deep(got) == canon_deep(want)


def test_leaf_root_sees_new_terms(spark):
    """A leaf root (no traversal paths anywhere in the tree) must still
    pick up brand-new matching terms from the delta — the conservative
    fallback treats every changed term as a candidate (round-5
    review)."""
    b = ShapeBuilder()
    root = b.literal(datatype=XSD_STRING)
    base = [(iri("a"), EX + "p", lit("one"))]
    _check(spark, b, root, base,
           add=[(iri("b"), EX + "p", lit("two"))])


def test_self_only_record_root_sees_new_terms(spark):
    """A record whose only property is a self path gains matches when
    the universe grows (round-5 review: empty-sequence _sources must
    return the changed terms, not an empty frame)."""
    from ramp_shapes_spark.shapes import SELF_PATH

    b = ShapeBuilder()
    root = b.record(
        EX + "Node",
        properties=[prop("id", SELF_PATH, b.resource(only_named=True))],
    )
    base = [(iri("a"), EX + "p", iri("x"))]
    _check(spark, b, root, base,
           add=[(iri("b"), EX + "p", iri("y"))],
           remove=[(iri("a"), EX + "p", iri("x"))])
