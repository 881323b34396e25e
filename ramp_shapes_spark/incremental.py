"""Incremental frame maintenance over triple-table deltas.

At 10^12-turn scale the triple table is APPENDED TO continuously
(streaming ingest, snapshot deltas — ops/delta.py); re-framing every
candidate after each drop is infeasible.  This module maintains a
framed view incrementally: given the add/remove delta between two
table versions, it computes a conservative superset of the ROOT FOCI
whose framed value could have changed, re-frames only those against
the new table, and merges with the untouched remainder of the old
result — classic incremental view maintenance, specialized to the
shape algebra.

Affected-set computation (``affected_roots``) walks the shape graph in
REVERSE:

* every endpoint of a changed triple is a changed node;
* a record focus is affected if any of its property-path traversals
  could touch a changed triple.  For a single predicate step the
  touching focus IS the triple's subject (already a changed node); for
  sequences the changed intermediate is pulled back through each path
  prefix (inverse walks); for closures through an inverse closure
  (seeded BFS, demand-driven); alternatives union their branches;
* a nested shape's affected focus pulls back to its parent record
  through the parent's property path (inverse walk), identity through
  set/optional/map/anyOf wrappers, and through the ``tail*``/``head``
  spine for lists;
* recursive shape references propagate to a fixpoint with per-shape
  processed sets (same machinery as the subgraph walk, reversed).

The superset is CONSERVATIVE (it may re-frame foci whose value did not
change — re-framing is idempotent) but never misses: each affected
focus's value depends only on triples reachable via its shape paths,
and every changed triple pulls back to every focus that can reach it.

Caveats (documented, not silent): ``ord`` values of re-framed rows are
fresh (not comparable with the kept rows' ordinals — consumers needing
the reference's global candidate order must re-frame fully with
``ordered=True``), and the error channel reflects only the re-framed
foci."""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dataset import term_key_col
from .shapes import (
    AlternativePath, AnyOfShape, InversePath, ListShape, MapShape,
    OneOrMorePath, OptionalShape, PredicatePath, PropertyPath, RecordShape,
    SequencePath, SetShape, ShapeCatalog, ShapeID, ZeroOrMorePath,
    ZeroOrOnePath,
)
from .subgraph import _dedup_nodes, _minus, _union_nodes, _Walk
from .terms import RDF_FIRST, RDF_REST


def changed_nodes(added: Optional[DataFrame],
                  removed: Optional[DataFrame]) -> DataFrame:
    """All subject/object terms of a delta's added+removed triples."""
    parts = []
    for df in (added, removed):
        if df is not None:
            parts.append(df.select(F.col("s").alias("node")))
            parts.append(df.select(F.col("o").alias("node")))
    if not parts:
        raise ValueError("changed_nodes: empty delta")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return _dedup_nodes(out)


def _sources(w: _Walk, path: PropertyPath, changed: DataFrame,
             reverse: bool = False) -> DataFrame:
    """Foci whose traversal of ``path`` (in the given orientation)
    could touch a triple incident to a ``changed`` node."""
    if isinstance(path, PredicatePath):
        # the step departs from the triple's subject (forward) /
        # object (inverse) — both endpoints are changed nodes already
        return changed
    if isinstance(path, InversePath):
        return _sources(w, path.inverse, changed, not reverse)
    if isinstance(path, SequencePath):
        parts = list(path.sequence)
        if not parts:
            # self path: the property reads the focus itself, so every
            # changed term is a potentially (un)matching focus
            return changed
        if reverse:
            parts = parts[::-1]
        out: Optional[DataFrame] = None
        for i, part in enumerate(parts):
            back = _sources(w, part, changed, reverse)
            for prev in reversed(parts[:i]):
                back = w.walk_path(prev, back, reverse=not reverse)
            out = back if out is None else _union_nodes(out, back)
        return out if out is not None else changed.limit(0)
    if isinstance(path, AlternativePath):
        out = None
        for alt in path.alternatives:
            b = _sources(w, alt, changed, reverse)
            out = b if out is None else _union_nodes(out, b)
        return out if out is not None else changed.limit(0)
    if isinstance(path, ZeroOrOnePath):
        return _sources(w, path.path, changed, reverse)
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
        touched = _sources(w, path.path, changed, reverse)
        # pull back through any number of inner applications (zero
        # included: the touched node may itself be the focus)
        return w.walk_path(ZeroOrMorePath(path.path), touched,
                           reverse=not reverse)
    raise TypeError(f"unknown path {path!r}")


def _list_paths(shape: ListShape) -> Tuple[PropertyPath, PropertyPath]:
    head = shape.head_path or PredicatePath(RDF_FIRST)
    tail = shape.tail_path or PredicatePath(RDF_REST)
    return head, tail


def affected_roots(triples: DataFrame, catalog: ShapeCatalog,
                   root: ShapeID, changed: DataFrame) -> DataFrame:
    """Conservative superset of root foci whose frame could change,
    as a 1-column ``node`` DataFrame.  ``changed``: a ``node`` column
    of changed terms (see :func:`changed_nodes`)."""
    w = _Walk(triples, catalog)  # reverse path walker (tids unused)
    changed = _dedup_nodes(changed).localCheckpoint(eager=True)

    # --- shape graph: reverse edges child -> [(parent, pullback)] ----
    # pullback kinds: ("path", p) inverse-walk through a record
    # property; ("id", None) identity through wrappers; ("list", (h,t))
    # inverse head step then inverse tail closure
    parents: Dict[str, List[Tuple[str, Tuple]]] = {}
    base: Dict[str, Optional[DataFrame]] = {}
    seen_shapes: List[str] = []

    def visit(sid: ShapeID) -> None:
        key = sid.key()
        if key in base:
            return
        base[key] = None
        seen_shapes.append(key)
        shape = catalog.get(sid)
        if isinstance(shape, RecordShape):
            acc = None
            for p in tuple(shape.type_properties) + tuple(shape.properties):
                acc = _union_nodes(acc, _sources(w, p.path, changed))
                parents.setdefault(p.value_shape.key(), []).append(
                    (key, ("path", p.path)))
                visit(p.value_shape)
            base[key] = acc
        elif isinstance(shape, AnyOfShape):
            for v in shape.variants:
                parents.setdefault(v.key(), []).append((key, ("id", None)))
                visit(v)
        elif isinstance(shape, (SetShape, OptionalShape, MapShape)):
            parents.setdefault(shape.item_shape.key(), []).append(
                (key, ("id", None)))
            visit(shape.item_shape)
        elif isinstance(shape, ListShape):
            head, tail = _list_paths(shape)
            spine_head = SequencePath((ZeroOrMorePath(tail), head))
            base[key] = _sources(w, spine_head, changed)
            parents.setdefault(shape.item_shape.key(), []).append(
                (key, ("list", (head, tail))))
            visit(shape.item_shape)
        # resource / literal leaves: no own triples, no children

    visit(root)

    # a root tree with NO traversal sources anywhere (leaf roots,
    # wrapper-of-leaf roots, anyOf over leaves) still gains/loses
    # matches when the universe changes — fall back to "every changed
    # term is a candidate root" so incremental_frame re-frames them
    # instead of silently missing new matching terms
    if all(df is None for df in base.values()):
        base[root.key()] = changed

    # --- fixpoint: propagate affected foci up the reverse edges ------
    affected: Dict[str, Optional[DataFrame]] = {}
    work: List[Tuple[str, DataFrame]] = [
        (k, df) for k, df in base.items() if df is not None]
    rounds = 0
    while work:
        key, frontier = work.pop()
        rounds += 1
        if rounds > 10000:
            raise RuntimeError("affected_roots: fixpoint did not converge")
        new = _dedup_nodes(frontier)
        prev = affected.get(key)
        if prev is not None:
            new = _minus(new, prev)
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            continue
        affected[key] = (new if prev is None
                         else _union_nodes(prev, new)
                         .localCheckpoint(eager=True))
        for parent_key, (kind, arg) in parents.get(key, ()):  # noqa: B020
            if kind == "id":
                up = new
            elif kind == "path":
                up = w.walk_path(arg, new, reverse=True)
            else:  # list: item focus -> spine node -> list head
                head, tail = arg
                spine = w.walk_path(head, new, reverse=True)
                up = w.walk_path(ZeroOrMorePath(tail), spine, reverse=True)
            work.append((parent_key, up))

    out = affected.get(root.key())
    return out if out is not None else changed.limit(0)


def incremental_frame(spark: SparkSession, catalog: ShapeCatalog,
                      root: ShapeID, old_matches: DataFrame,
                      triples_new: DataFrame,
                      added: Optional[DataFrame],
                      removed: Optional[DataFrame],
                      force_incremental: bool = False,
                      **frame_kwargs) -> DataFrame:
    """Maintain ``frame(root)`` across a delta: returns the new
    ``matches`` relation (``focus``, ``ord``, ``value``) equal — up to
    ordinals — to a full re-frame of ``triples_new``.

    ``old_matches``: the previous result's ``matches`` (must include
    the ``focus`` column).  ``added``/``removed``: the delta as
    ``(s, p, o)`` DataFrames (either may be ``None``).

    **Crossover.**  The delta-proportional path (affected-root walk →
    membership probe → seeded re-frame → kept merge) costs a roughly
    CONSTANT handful of filtered passes over the triple table plus one
    pass over ``old_matches``, while the fast-tree full re-frame is ONE
    aggregation pass per record shape.  ``tools/incremental_bench.py``
    (200-row rename delta, 4-core host, ``local[4]``) measured the full
    re-frame ahead at both sizes it ran, with the gap closing as the
    table grows: 0.6 M triples full 2.5-4.1 s vs incremental 6.7-11.5 s,
    4.5 M triples full 9.5-9.9 s vs incremental 13.4-14.0 s.  By
    default this function therefore DELEGATES to the full re-frame,
    which satisfies the same contract (its output IS the maintained
    view).  Pass ``force_incremental=True`` to run the
    delta-proportional machinery anyway — the right call once the
    table is large enough that one aggregation pass over it costs more
    than the walk's predicate-pushed, delta-seeded scans (a
    pbucket-partitioned store, or a table far beyond cluster memory).
    """
    from .frame import FrameEngine

    if not force_incremental:
        engine = FrameEngine(spark, catalog, triples_new, **frame_kwargs)
        return engine.frame(root).matches.select(*old_matches.columns)

    roots = affected_roots(
        triples_new, catalog, root,
        changed_nodes(added, removed)).localCheckpoint(eager=True)
    kept = old_matches.join(
        roots.select(term_key_col(F.col("node")).alias("__ak")),
        term_key_col(old_matches["focus"]) == F.col("__ak"),
        "left_anti",
    )
    if roots.isEmpty():
        return kept
    # an explicit candidate is framed unconditionally, but a removal
    # can take an affected term OUT of the universe (a full re-frame
    # would never see it) — drop candidates no longer present.  Only
    # removed-triple endpoints can be absent: everything else in
    # `roots` came from added triples or walks over triples_new, so
    # the membership semi-join's left side is delta-sized.
    if removed is not None:
        rk = roots.select(
            "node", term_key_col(F.col("node")).alias("__k"))
        rmk = _dedup_nodes(changed_nodes(None, removed)).select(
            term_key_col(F.col("node")).alias("__rk"))
        safe = rk.join(rmk, rk["__k"] == rmk["__rk"], "left_anti")
        risky = rk.join(rmk, rk["__k"] == rmk["__rk"], "left_semi")
        ends = triples_new.select(
            term_key_col(F.col("s")).alias("__k2"),
        ).unionAll(triples_new.select(
            term_key_col(F.col("o")).alias("__k2")))
        # membership probe with the BIG side streamed: semi-joining
        # risky (delta-sized) against ends directly would put the big
        # relation on the build side (left_semi can only broadcast the
        # right), forcing a full-table shuffle per delta — instead scan
        # ends once against a broadcast of the delta keys (column-pruned
        # to s/o only), then shrink back to risky
        present_k = ends.join(
            F.broadcast(risky.select("__k").distinct()),
            F.col("__k2") == F.col("__k"), "left_semi",
        ).select(F.col("__k2").alias("__pk")).distinct()
        present = risky.join(F.broadcast(present_k),
                             risky["__k"] == F.col("__pk"), "left_semi")
        roots = safe.select("node").unionAll(present.select("node")) \
            .localCheckpoint(eager=True)
        if roots.isEmpty():
            return kept
    engine = FrameEngine(spark, catalog, triples_new, **frame_kwargs)
    # seeded=True when the affected set is delta-small (the common
    # case): the re-frame's base relations are then restricted to the
    # affected subjects via broadcast semi-joins instead of
    # aggregating one group per table subject (frame.py / fastframe.py
    # seeded path); `roots` is an eager checkpoint, so the count is a
    # cheap cached action
    res = engine.frame(
        root, candidates=roots.select(F.col("node").alias("focus")),
        seeded=roots.count() <= 1_000_000)
    fresh = res.matches.select(*old_matches.columns)
    return kept.unionByName(fresh)
