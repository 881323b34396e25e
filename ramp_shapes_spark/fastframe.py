"""Fast-tree record compiler: whole-shape-tree evaluation as one
aggregation pass per record plus one join per nested value.

The general record compiler (:mod:`ramp_shapes_spark.frame`) threads
candidate sets and error groups through every evaluation site — ~40
DataFrame operations per record site, each costing a full JVM analysis
pass, plus one exchange per site join.  For the common KG case — a
record tree whose properties are leaf values, optional/set wrappers,
nested records, or reference-keyed maps over single forward/inverse
predicates — the whole tree collapses to:

* ONE relation per record shape: ``(fkey, __fval)`` for every matching
  subject, derived from ONE record base — the scalar base, a single
  groupBy of the record's plain/optional/anyOf-leaf predicates with
  O(1)-state counters per property (:func:`scalar_counts`) — plus one
  left join per record-valued / set-valued / map-valued / path-valued
  property;
* relations are memoized per (shape, capture) on the engine, so a
  shape referenced from several sites is compiled and executed once —
  the distributed analog of the reference's ``(shape, term)`` match
  memoization (frame.ts:228-236);
* evaluation sites join the relation on the candidate key — matches
  and mismatch rows in two operations.

Semantics parity: leaf checks and values reuse the general path's
``_s_node_checks`` / ``_s_node_value`` SQL helpers verbatim;
exactly-one enforcement for record-valued properties follows
frame.ts:281-305 (any path candidate that mismatches fails the
property, so a single-object edge must both be unique and match); set
item mismatches fail the set and ``minCount``/``maxCount`` bound the
exact per-predicate item count (frame.ts:429-469); map entries are
keyed by a captured sub-match part (frame.ts:642-696).

Error channel: each property plan builds its ok condition, value
fragment and reference error code (errors.ts:16-59) together, from the
same counters — a property is checked once and either matches or
yields its code, as in frame.ts:281-305.  The match relation keeps the
subjects where every ok holds; the outcome relation adds the codes
(and, per record-valued edge, the child's own outcome) and is built
only when a ``FrameResult.errors`` thunk asks for it
(``track_errors=True, diagnostics=False``).  :func:`root_errors` emits
ONE row per failing gate-passing root candidate, carrying the first
failing property's code in declaration order — the general compiler's
record-level ``prop_fail`` row; the general path additionally re-emits
deeper per-site rows for the same failure.  ``stack`` is NULL by
construction and ``ord`` is the scalar-base order surrogate (min tid
as subject), not the universe first-appearance order.  Failure
DETECTION is exact; one tie-break differs: a property with BOTH a
mismatching candidate and 2+ matching candidates reports the
mismatching candidate's code (the general path picks whichever has the
smaller tid).

100 TB shape: everything is one pass over the triples per record plus
per-predicate aggregations — no per-site candidate shuffles, no md5
key chains, no per-subject arrays or degree caps.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frame import (
    ERR_MAX_COUNT, ERR_MIN_COUNT, ERR_MULTIPLE_PROPERTY_MATCHES,
    ERR_NO_PROPERTY_MATCHES, ERR_NON_RESOURCE_TERM,
)
from .shapes import (
    AnyOfShape, InversePath, MapShape, OptionalShape, PredicatePath,
    Property, RecordShape, SetShape, Shape, ShapeID, is_self_path,
)
from .sqlutil import (
    s_is_resource, s_json_quote as _s_json_quote, s_str, s_term_key,
)

__all__ = ["error_capable", "qualifies", "record_rel", "root_errors",
           "scalar_counts"]


def _pred_of(path) -> Optional[Tuple[str, bool]]:
    """(predicate, is_inverse) for single-step paths, else None."""
    if isinstance(path, PredicatePath):
        return path.predicate, False
    if isinstance(path, InversePath) and \
            isinstance(path.inverse, PredicatePath):
        return path.inverse.predicate, True
    return None


def _anyof_leaves(engine, sid: ShapeID) -> Optional[List[Shape]]:
    """Flattened leaf variants of an anyOf (nested unions inlined),
    or None when any variant is not a plain leaf."""
    shape = engine.catalog.get(sid)
    if not isinstance(shape, AnyOfShape):
        return None
    out: List[Shape] = []
    for vid in shape.variants:
        v = engine.catalog.get(vid)
        if isinstance(v, AnyOfShape):
            sub = _anyof_leaves(engine, vid)
            if sub is None:
                return None
            out.extend(sub)
            continue
        leaf = engine._fast_leaf(vid)
        if leaf is None:
            return None
        out.append(leaf)
    return out


def _classify(engine, prop: Property):
    """Property plan: ('scalar', kind, wrapper, leaf) — a plain or
    optional leaf over a forward predicate, or a self leaf, evaluated
    by the scalar base's counters; ('anyleaf', leaves) — an anyOf whose
    variants are all plain leaves, evaluated like a plain property with
    a disjunctive term check; ('record', pred, inv, child_sid);
    ('bigset', pred, inv, set, leaf) — every leaf set, bounded or not,
    its items counted exactly per predicate; ('bigsetrec', pred, inv,
    set, child_sid); ('pathset', path, set, leaf) — a leaf set over an
    arbitrary property path (sequence/alternative/zeroOrOne/closure),
    its relation built by the shared path evaluator from the universe
    seed; ('map', pred, inv, map, item_sid, key_prop, part); or None."""
    fk = engine._fast_kind(prop)
    if fk is not None and fk[0] != "set":
        return ("scalar", fk[0], fk[1], fk[2])
    pi = _pred_of(prop.path)
    if pi is None:
        if is_self_path(prop.path):
            return None
        vs = engine.catalog.get(prop.value_shape)
        if isinstance(vs, SetShape):
            leaf = engine._fast_leaf(vs.item_shape)
            if leaf is not None and not leaf.lenient:
                # lenient items: the general path silently drops failing
                # items and matches the set with the rest; the pathset
                # ok (nt = nm) cannot express that — route general
                return ("pathset", prop.path, vs, leaf)
            if leaf is not None:
                return None
        leaf = engine._fast_leaf(prop.value_shape)
        if leaf is not None:
            # exactly-one leaf over a composite path (sequence /
            # alternative / zeroOrOne / closure)
            return ("pathleaf", prop.path, None, leaf)
        if isinstance(vs, OptionalShape):
            oleaf = engine._fast_leaf(vs.item_shape)
            if oleaf is not None:
                return ("pathleaf", prop.path, vs, oleaf)
        return None
    pred, inv = pi
    vs = engine.catalog.get(prop.value_shape)
    if not inv:
        leaves = _anyof_leaves(engine, prop.value_shape)
        if leaves is not None:
            # lenient unions (or lenient variants) empty their
            # mismatches in the general compiler; the anyleaf counters
            # cannot express that — route general
            if vs.lenient or any(lf.lenient for lf in leaves):
                return None
            return ("anyleaf", leaves)
    if isinstance(vs, RecordShape) and qualifies(engine, vs):
        # a lenient child record passes the property with exactly one
        # matching edge among mismatching ones (frame.py empties its
        # mismatches); the join plan requires ALL edges to match
        if vs.lenient:
            return None
        return ("record", pred, inv, prop.value_shape)
    if isinstance(vs, OptionalShape):
        inner = engine.catalog.get(vs.item_shape)
        if isinstance(inner, RecordShape) and qualifies(engine, inner):
            if vs.lenient or inner.lenient:
                return None
            return ("optrec", pred, inv, vs, vs.item_shape)
    if isinstance(vs, SetShape):
        leaf = engine._fast_leaf(vs.item_shape)
        if leaf is not None:
            # lenient items are silently skipped by the general path
            # while the set matches with the rest; nt = nm cannot say so
            if leaf.lenient:
                return None
            return ("bigset", pred, inv, vs, leaf)
        its = engine.catalog.get(vs.item_shape)
        if isinstance(its, RecordShape) and qualifies(engine, its):
            if its.lenient:
                return None
            return ("bigsetrec", pred, inv, vs, vs.item_shape)
        return None
    if isinstance(vs, MapShape):
        item = engine.catalog.get(vs.item_shape)
        if not (isinstance(item, RecordShape) and qualifies(engine, item)):
            return None
        if item.lenient:
            return None  # same rule as bigsetrec: failing items skipped
        # key (and a value reference's target) must be captured from a
        # PLAIN (exactly-one) direct leaf property of the item record,
        # so every matching item has exactly one captured term
        # (no code-217 cases)
        key_prop = _plain_leaf_prop(engine, item, vs.key.target.key())
        if key_prop is None:
            return None
        if vs.value is not None:
            value_prop = _plain_leaf_prop(engine, item,
                                          vs.value.target.key())
            if value_prop is None:
                return None
            return ("mapref", pred, inv, vs, vs.item_shape, key_prop,
                    vs.key.part or "value", value_prop, vs.value.part)
        return ("map", pred, inv, vs, vs.item_shape, key_prop,
                vs.key.part or "value")
    return None


def _plain_leaf_prop(engine, item: RecordShape,
                     target_key: str) -> Optional[Property]:
    """The item record's plain (exactly-one) direct-leaf property whose
    value shape is the referenced target, or None."""
    for p in item.type_properties + item.properties:
        if p.value_shape.key() == target_key:
            pf = engine._fast_kind(p)
            if pf is not None and pf[0] == "plain" and \
                    not is_self_path(p.path):
                return p
            return None
    return None


def _anchored(engine, props) -> bool:
    """Does ``props`` hold an exactly-one forward leaf property?  Every
    subject that passes such a property has an edge it counts, so it
    appears in the predicate-filtered scalar base."""
    return any(
        (engine._fast_kind(p) or ("",))[0] == "plain"
        and not is_self_path(p.path)
        for p in props
    )


def qualifies(engine, shape: Shape) -> bool:
    """Whole record tree expressible as fast relations?"""
    if not isinstance(shape, RecordShape):
        return False
    key = shape.id.key()
    cached = engine._fast_ok.get(key)
    if cached is not None:
        return cached
    engine._fast_ok[key] = False  # cycle guard (recursive → general path)
    plans = [_classify(engine, p)
             for p in shape.type_properties + shape.properties]
    ok = (
        key not in engine.recursive_ids
        and not shape.computed_properties
        and all(
            engine._fast_kind(p) is not None
            for p in shape.type_properties
        )
        and all(pl is not None for pl in plans)
        # anchor: every match appears in the scalar base
        and _anchored(engine, shape.type_properties + shape.properties)
    )
    engine._fast_ok[key] = ok
    return ok


def error_capable(engine, shape: Shape) -> bool:
    """Fast error channel available for this root shape?

    Requires :func:`qualifies` plus an anchor among the TYPE
    properties: then any candidate that passes the type gate appears in
    the scalar base, so the base's complement can never hide a
    gate-passing failure (the general path's universe scan is not
    needed)."""
    return qualifies(engine, shape) and \
        _anchored(engine, shape.type_properties)


# subjects are IRIs/bnodes → dt/lang components of the key are always
# the null sentinel; reconstruct the TERM struct from the string key
_FOCUS_SQL = (
    "named_struct("
    f"'kind', split(skey, {s_str(chr(31))})[0], "
    f"'value', split(skey, {s_str(chr(31))})[1], "
    "'dt', CAST(NULL AS STRING), 'lang', CAST(NULL AS STRING))"
)

def _len_guard(engine, col: str, what: str, key: str = "__ek") -> str:
    """Fail LOUDLY (raise_error) when a single subject's serialized
    set/map value exceeds ``engine.max_set_value_len`` — a hub subject
    must produce a clean error, never a silent executor OOM."""
    mx = engine.max_set_value_len
    return (
        f"CASE WHEN length({col}) > {mx} THEN CAST(raise_error(concat("
        f"'fast-tree {what} value exceeds max_set_value_len={mx} "
        f"serialized bytes for subject key ', {key})) AS STRING) "
        f"ELSE {col} END"
    )


def _drop_misses(engine, df: DataFrame, leaf: Shape, t: str) -> DataFrame:
    """``df`` without the rows whose TERM column ``t`` misses ``leaf``'s
    vocabulary: a miss is neither a set item nor a path candidate."""
    miss = engine._s_node_miss(leaf, t)
    return df if miss is None else df.where(f"NOT {miss}")


def _edges(engine, pred: str, inv: bool) -> DataFrame:
    src, dst = ("o", "s") if inv else ("s", "o")
    t = engine.triples.where(F.col("p") == F.lit(pred))
    return t.select(
        F.expr(s_term_key(src)).alias("__ek"),
        F.col(dst).alias("__eo"), F.col("tid").alias("__etid"),
    )


def _path_rel(engine, path):
    """``eval_path_universal`` over the engine's triples, memoized: the
    match and outcome relations share one closure run."""
    from .paths import eval_path_universal

    key = "path\x1d" + repr(path)
    if key not in engine._fast_rel:
        engine._fast_rel[key] = eval_path_universal(path, engine.triples)
    return engine._fast_rel[key]


def _resources(engine) -> DataFrame:
    """Keys of every IRI / blank node of the graph, as subject or
    object."""
    key = "resources"
    if key not in engine._fast_rel:
        t = engine.triples
        engine._fast_rel[key] = t.selectExpr(
            f"{s_term_key('s')} AS skey").union(
            t.where(s_is_resource("o")).selectExpr(
                f"{s_term_key('o')} AS skey")).distinct()
    return engine._fast_rel[key]


def _plans(engine, shape: RecordShape) -> List[Tuple[Property, tuple]]:
    return [(p, _classify(engine, p))
            for p in list(shape.type_properties) + list(shape.properties)]


def _relation(engine, sid: ShapeID, captures: Tuple[Property, ...] = (),
              seeds: Optional[DataFrame] = None,
              errors: bool = False) -> DataFrame:
    """The record's match relation or, with ``errors``, its outcome
    relation (see :class:`_Build`); memoized per (shape, captures,
    errors) when unseeded."""
    if seeds is not None:
        return _Build(engine, sid, captures, seeds).matches()
    key = "\x1e".join([sid.key(), *(p.name for p in captures)])
    if errors:
        key += "\x1derrors"
    rel = engine._fast_rel.get(key)
    if rel is None:
        b = _Build(engine, sid, captures, errors=errors)
        rel = b.outcomes() if errors else b.matches()
        engine._fast_rel[key] = rel
    return rel


def record_rel(engine, sid: ShapeID,
               seeds: Optional[DataFrame] = None) -> DataFrame:
    """Match relation (fkey, __fval, __ffocus, __ford) of a qualifying
    record; memoized when unseeded.  ``seeds`` (a 1-column ``fkey``
    DataFrame of subject keys, expected delta-small) restricts every
    base relation to the seeds' neighborhood BEFORE aggregation: the
    per-predicate scans survive (one pass each, broadcast semi-joined)
    but the groupBys shuffle seed-proportional row counts instead of one
    group per subject in the table — the shape incremental maintenance
    needs."""
    return _relation(engine, sid, seeds=seeds)


def root_errors(engine, sid: ShapeID) -> DataFrame:
    """ERROR_FIELDS rows for a non-strict root frame over a fast tree:
    gate-passing candidates that fail a regular property — exactly the
    rows the general compiler emits from its record-level ``prop_fail``
    channel (frame.ts:248-253 strictByType semantics)."""
    return _relation(engine, sid, errors=True).where(
        "__gok AND NOT __ok").selectExpr(
        "__code AS code", "CAST(NULL AS STRING) AS stack",
        "CAST(0 AS BIGINT) AS gord", "__ord AS ord",
        "CAST(1 AS BIGINT) AS site",
    )


def scalar_counts(engine, all_props, first_fail: bool = False,
                  seeds: Optional[DataFrame] = None) -> DataFrame:
    """The record's scalar base: ONE groupBy of the predicates of its
    plain / optional / anyOf-leaf properties, with O(1)-state
    aggregates per property ``i`` — ``__nm{i}`` matching and ``__nf{i}``
    failing objects, the first (by tid) matching ``__m1{i}`` and, with
    ``first_fail``, failing ``__ff{i}`` struct(tid, o).
    Exactly-one and 0-or-1 semantics need nothing more, all partial-
    aggregatable map-side, so there is no sort, no per-subject array
    buffering and no degree cap: a Zipf-head subject costs the same
    counters as any other.  Returns (skey, sord, counters…); ``sord``
    (min tid as subject) is the dataset-order surrogate."""
    agg_exprs: List[str] = ["min(tid) AS sord"]
    preds: List[str] = []
    for i, (prop, plan) in enumerate(all_props):
        nmatch = None
        if plan[0] == "anyleaf":
            # fail = no variant matches (a vocabulary miss is no match
            # of its variant); matches are counted PER (triple, variant)
            # — the general compiler emits one match row per matching
            # variant, so a term matching two variants must count 2
            # (exactly-one then fails with 204)
            checks = [engine._s_node_nomatch(leaf, "o")
                      for leaf in plan[1]]
            fail = "(" + " AND ".join(checks) + ")"
            hit = f"NOT {fail}"
            nmatch = "(" + " + ".join(
                f"IF(NOT {c}, 1, 0)" for c in checks) + ")"
        elif plan[0] == "scalar" and not is_self_path(prop.path):
            fail, _ = engine._s_node_checks(plan[3], "o")
            # a vocabulary miss counts in neither __nm nor __nf
            hit = f"NOT {engine._s_node_nomatch(plan[3], 'o')}"
        else:
            continue
        pc = f"p = {s_str(prop.path.predicate)}"
        if nmatch is not None:
            agg_exprs.append(
                f"coalesce(sum(CASE WHEN {pc} THEN {nmatch} ELSE 0 END), "
                f"0) AS __nm{i}")
        else:
            agg_exprs.append(
                f"count(CASE WHEN {pc} AND {hit} THEN 1 END) "
                f"AS __nm{i}")
        agg_exprs.append(
            f"count(CASE WHEN {pc} AND ({fail}) THEN 1 END) AS __nf{i}")
        if first_fail:
            agg_exprs.append(
                f"min(CASE WHEN {pc} AND ({fail}) "
                f"THEN struct(tid, o) END) AS __ff{i}")
        agg_exprs.append(
            f"min(CASE WHEN {pc} AND {hit} "
            f"THEN struct(tid, o) END) AS __m1{i}")
        if prop.path.predicate not in preds:
            preds.append(prop.path.predicate)
    t = engine.triples.where(F.col("p").isin(preds)).selectExpr(
        f"{s_term_key('s')} AS skey", "p", "tid", "o")
    if seeds is not None:
        t = t.join(F.broadcast(seeds.selectExpr("fkey AS skey")),
                   "skey", "leftsemi")
    return t.groupBy("skey").agg(
        F.expr(agg_exprs[0]), *[F.expr(e) for e in agg_exprs[1:]])


def _one_outcome(optional: bool, skip_fails: bool, clean: str, nm: str,
                 fc: str) -> Tuple[str, str]:
    """(ok, code) SQL of an exactly-one or (``optional``) 0-or-1
    property from its candidate counters: ``clean`` holds when no
    candidate mismatches, ``nm`` counts the matching ones and ``fc`` is
    the first mismatching candidate's code.  ``skip_fails`` (a lenient
    leaf or optional) ignores mismatching candidates."""
    bound = f"{nm} <= 1" if optional else f"{nm} = 1"
    ok = f"({bound})" if skip_fails else f"({clean} AND {bound})"
    whens = "" if skip_fails else f"WHEN NOT ({clean}) THEN {fc} "
    if not optional:
        whens += f"WHEN {nm} = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
    if not whens:  # the only failure left: two matching candidates
        return ok, f"{ERR_MULTIPLE_PROPERTY_MATCHES}"
    return ok, f"CASE {whens}ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END"


def _set_outcome(sshape, nt: str, nm: str, fc: str) -> Tuple[str, str]:
    """(ok, code) SQL of a set property from its item counters ``nt``
    (all items) and ``nm`` (matching items): every item must match —
    else ``fc``, the first failing item's code — and ``nm`` must lie
    within minCount/maxCount (219/220; frame.ts:429-469).  The general
    compiler skips a failing LENIENT set, so the record then reports
    the property as unmatched (203)."""
    min_c = sshape.min_count or 0
    max_c = sshape.max_count
    ok = f"({nt} = {nm} AND {nm} >= {min_c}"
    if max_c is not None:
        ok += f" AND {nm} <= {max_c}"
    ok += ")"
    if sshape.lenient:
        return ok, f"{ERR_NO_PROPERTY_MATCHES}"
    code = f"CASE WHEN {nt} != {nm} THEN {fc} "
    code += f"WHEN {nm} < {min_c} THEN {ERR_MIN_COUNT} "
    if max_c is not None:
        code += f"WHEN {nm} > {max_c} THEN {ERR_MAX_COUNT} "
    return ok, code + "END"


class _Build:
    """One record's relation: the scalar base (one ``__st{i}`` stat
    struct per plain / optional / self / anyOf-leaf property) plus one
    left join per record / set / map / path valued property.  Each
    property's plan builds its ok condition, value fragment and — with
    ``errors`` — error code once, into ``self.out[i]``; :meth:`matches`
    and :meth:`outcomes` are two projections of them.

    ``captures`` (plain leaf properties of this record) additionally
    export ``__capt{i}`` — the matched object TERM of each — for map
    key/value referencing.  ``seeds`` restricts the base scan and the
    per-predicate edge aggregations to the given subject keys (and
    child records to the seed edges' objects); composite-path
    (pathset/pathleaf) relations stay global — reachability may pass
    through non-seed intermediates.  ``errors`` adds the code columns:
    the scalar base's first failing object per property and, on every
    record-valued edge, the child's outcome relation instead of its
    match relation (a child that does not match contributes its own
    code).  The outcome relation's base holds every resource of the
    graph, not only the subjects with a scalar-predicate edge, so every
    resource object finds its code; a literal object is no record
    (205)."""

    def __init__(self, engine, sid: ShapeID,
                 captures: Tuple[Property, ...] = (),
                 seeds: Optional[DataFrame] = None, errors: bool = False):
        self.engine = engine
        self.shape: RecordShape = engine.catalog.get(sid)
        self.captures = captures
        self.seeds = seeds
        self.errors = errors
        self.props = _plans(engine, self.shape)
        self.out: Dict[int, Tuple[str, Optional[str], str]] = {}
        self.rel = self._scalar_base()
        for i, (prop, plan) in enumerate(self.props):
            kind = plan[0]
            if kind in ("scalar", "anyleaf"):
                continue
            if kind in ("pathset", "pathleaf"):
                # relation comes from the universal path evaluator
                self.out[i] = self._path(i, prop, plan)
                continue
            e = _edges(engine, plan[1], plan[2])
            if seeds is not None:
                e = e.join(F.broadcast(seeds.selectExpr("fkey AS __ek")),
                           "__ek", "leftsemi")
            build = {"record": self._record, "optrec": self._optrec,
                     "bigset": self._set, "bigsetrec": self._set,
                     "map": self._map, "mapref": self._map}[kind]
            self.out[i] = build(i, prop, plan, e)

    # -- helpers ------------------------------------------------------
    def _frag(self, prop: Property, ok: str, val: str) -> Optional[str]:
        if prop.transient:
            return None
        return f"CASE WHEN {ok} THEN concat({s_str(_jkey(prop))}, {val}) END"

    def _join(self, agg: DataFrame, i: int) -> None:
        """Left-join a per-subject aggregate keyed ``__sk{i}``."""
        self.rel = self.rel.join(
            agg, self.rel["skey"] == agg[f"__sk{i}"], "left"
        ).drop(f"__sk{i}")

    def _child(self, sid: ShapeID, e: DataFrame,
               captures: Tuple[Property, ...] = ()) -> DataFrame:
        """The child record's match relation (seeded by the seed edges'
        objects) or, with ``errors``, its outcome relation."""
        if self.errors:
            return _relation(self.engine, sid, captures, errors=True)
        seeds = None if self.seeds is None else \
            e.selectExpr(f"{s_term_key('__eo')} AS fkey").distinct()
        return _relation(self.engine, sid, captures, seeds)

    def _edge_code(self, v: str) -> List[str]:
        """``__ec``: a record-valued edge's code when its object does not
        match the child (``v`` NULL)."""
        if not self.errors:
            return []
        return [f"CASE WHEN {v} IS NULL THEN "
                f"coalesce(__cc, {ERR_NON_RESOURCE_TERM}) END AS __ec"]

    def _fail_agg(self, i: int, v: str = "__ev"):
        """``__fc{i}``: the first (by tid) failing edge's ``__ec``."""
        if not self.errors:
            return []
        return [F.expr(f"min(CASE WHEN {v} IS NULL THEN "
                       f"struct(__etid, __ec) END).__ec").alias(f"__fc{i}")]

    # -- record base --------------------------------------------------
    def _scalar_base(self) -> DataFrame:
        """:func:`scalar_counts` turned into one stat struct ``__st{i}``
        (ok, value[, code]) per plain / optional / self / anyOf-leaf
        property.  Returns (skey, focus, ord, __st{i}…
        [, __capt{ci}…]).  ``qualifies`` guarantees an exactly-one
        forward anchor, so the base always scans at least one
        predicate."""
        engine = self.engine
        base = scalar_counts(engine, self.props, first_fail=self.errors,
                             seeds=self.seeds)
        if self.errors:
            # a resource without scalar-predicate edges counts zero
            base = _resources(engine).join(base, "skey", "left").selectExpr(
                *(f"coalesce({c}, 0) AS {c}"
                  if c.startswith(("__nm", "__nf")) else c
                  for c in base.columns))
        exprs = ["skey", f"{_FOCUS_SQL} AS focus", "sord AS ord"]
        for i, (prop, plan) in enumerate(self.props):
            nm, clean = f"__nm{i}", f"__nf{i} = 0"
            if plan[0] == "anyleaf":
                m1 = f"(__m1{i}).o"
                whens = " ".join(
                    f"WHEN NOT {engine._s_node_nomatch(leaf, m1)} "
                    f"THEN {engine._s_node_value(leaf, m1)}"
                    for leaf in plan[1]
                )
                # an object failing every variant reports the first
                # flattened variant's own check (frame.ts:415-422)
                _, fc = engine._s_node_checks(plan[1][0], f"(__ff{i}).o")
                ok, code = _one_outcome(False, False, clean, nm, f"({fc})")
                val = f"CASE WHEN {ok} THEN (CASE {whens} END) END"
            elif plan[0] != "scalar":
                continue
            elif is_self_path(prop.path):
                leaf = plan[3]
                nohit_f = engine._s_node_nomatch(leaf, "focus")
                ok = f"(NOT {nohit_f})"
                code = engine._s_node_checks(leaf, "focus")[1]
                val = (f"CASE WHEN NOT {nohit_f} "
                       f"THEN {engine._s_node_value(leaf, 'focus')} END")
            else:
                kind, wrapper, leaf = plan[1], plan[2], plan[3]
                val1 = engine._s_node_value(leaf, f"(__m1{i}).o")
                _, fc = engine._s_node_checks(leaf, f"(__ff{i}).o")
                optional = kind == "optional"
                ok, code = _one_outcome(
                    optional, leaf.lenient or optional and wrapper.lenient,
                    clean, nm, f"({fc})")
                if not optional:
                    val = f"CASE WHEN {ok} THEN {val1} END"
                else:
                    val = f"CASE WHEN {ok} AND {nm} = 1 THEN {val1} END"
                    if wrapper.empty_is_null:
                        val = (f"CASE WHEN {ok} THEN "
                               f"coalesce({val}, 'null') END")
            st = f"named_struct('ok', {ok}, 'value', CAST(({val}) AS STRING)"
            if self.errors:
                st += f", 'code', CAST(({code}) AS INT)"
            exprs.append(f"{st}) AS __st{i}")
            self.out[i] = (f"(__st{i}.ok)", self._frag(
                prop, f"(__st{i}).value IS NOT NULL", f"(__st{i}).value"),
                f"(__st{i}).code")
            for ci, cp in enumerate(self.captures):
                if prop is cp:
                    exprs.append(f"(__m1{i}).o AS __capt{ci}")
        return base.selectExpr(*exprs)

    # -- per-predicate joins ------------------------------------------
    def _record(self, i, prop, plan, e):
        child = self._child(plan[3], e).selectExpr(
            f"fkey AS __ck{i}", f"__fval AS __cv{i}",
            *([f"__code AS __cc{i}"] if self.errors else []))
        # exactly-one: the subject must have exactly one edge AND
        # its object must match the child shape (frame.ts:281-305)
        agg = e.groupBy("__ek").agg(
            F.expr("count(1)").alias(f"__n{i}"),
            F.expr("min(struct(__etid, __eo))").alias(f"__e1{i}"),
        )
        rel = self.rel.join(agg, self.rel["skey"] == agg["__ek"], "left") \
            .drop("__ek")
        rel = rel.withColumn(
            f"__ok1{i}", F.expr(f"coalesce(__n{i}, 0) = 1"))
        okey = f"CASE WHEN __ok1{i} THEN " \
            f"{s_term_key(f'(__e1{i}).__eo')} END"
        # the error code reads the edge count and object
        drop = [] if self.errors else [f"__n{i}", f"__e1{i}"]
        rel = rel.selectExpr("*", f"({okey}) AS __okey{i}").drop(*drop)
        self.rel = rel.join(
            child, rel[f"__okey{i}"] == child[f"__ck{i}"], "left",
        ).drop(f"__ck{i}", f"__okey{i}")
        ok = f"(__ok1{i} AND __cv{i} IS NOT NULL)"
        code = (f"CASE WHEN coalesce(__n{i}, 0) = 0 "
                f"THEN {ERR_NO_PROPERTY_MATCHES} "
                f"WHEN __n{i} >= 2 THEN {ERR_MULTIPLE_PROPERTY_MATCHES} "
                f"ELSE coalesce(__cc{i}, {ERR_NON_RESOURCE_TERM}) END")
        return ok, self._frag(prop, ok, f"__cv{i}"), code

    def _rec_edges(self, i, e, child_sid) -> DataFrame:
        """(__ek, __etid, __ev[, __ec]): every edge with its object's
        framed child value (NULL when the object does not match)."""
        child = self._child(child_sid, e).selectExpr(
            f"fkey AS __ck{i}", "__fval AS __cv",
            *(["__code AS __cc"] if self.errors else []))
        return e.join(
            child, F.expr(s_term_key("__eo")) == child[f"__ck{i}"], "left",
        ).selectExpr("__ek", "__etid", "__cv AS __ev",
                     *self._edge_code("__cv"))

    def _optrec(self, i, prop, plan, e):
        oshape = plan[3]
        agg = self._rec_edges(i, e, plan[4]).groupBy("__ek").agg(
            F.expr("count(1)").alias(f"__nt{i}"),
            F.expr("count(__ev)").alias(f"__nm{i}"),
            F.expr("min(CASE WHEN __ev IS NOT NULL THEN "
                   "struct(__etid, __ev) END)").alias(f"__e1{i}"),
            *self._fail_agg(i),
        ).withColumnRenamed("__ek", f"__sk{i}")
        self._join(agg, i)
        # parity with the general compiler (verified by
        # tests/test_optrec_fast.py): ANY candidate that mismatches
        # the child record fails the property — optional only
        # permits ZERO candidates (empty value) or exactly one
        # matching candidate; it does not absorb present-but-
        # mismatching edges (same rule as the plain record plan,
        # frame.ts:281-305, with the zero case allowed)
        n = f"coalesce(__nm{i}, 0)"
        ok, code = _one_outcome(True, False, f"coalesce(__nt{i}, 0) = {n}",
                                n, f"__fc{i}")
        val1 = f"(__e1{i}).__ev"
        if oshape.empty_is_null:
            frag = self._frag(
                prop, ok, f"CASE WHEN {n} = 1 THEN {val1} ELSE 'null' END")
        else:
            frag = self._frag(prop, f"{ok} AND {n} = 1", val1)
        return ok, frag, code

    def _set(self, i, prop, plan, e):
        engine = self.engine
        if plan[0] == "bigset":
            leaf = plan[4]
            fail_x, code_x = engine._s_node_checks(leaf, "__eo")
            vj = engine._s_node_value(leaf, "__eo")
            ec = [f"CASE WHEN ({fail_x}) THEN ({code_x}) END AS __ec"] \
                if self.errors else []
            ee = _drop_misses(engine, e, leaf, "__eo").selectExpr(
                "__ek", "__etid",
                f"CASE WHEN NOT ({fail_x}) THEN ({vj}) END AS __ev", *ec)
        else:
            ee = self._rec_edges(i, e, plan[4])
        fc = [f"__fc{i}"] if self.errors else []
        agg = ee.groupBy("__ek").agg(
            F.expr("count(1)").alias("__nt"),
            F.expr("count(__ev)").alias("__nm"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN __ev IS NOT NULL THEN "
                "struct(__etid, __ev) END)), x -> x.__ev), ',')"
            ).alias("__items"),
            *self._fail_agg(i),
        ).selectExpr(
            "__ek", "__nt", "__nm",
            f"concat('[', {_len_guard(engine, '__items', 'set')}, "
            f"']') AS __sv", *fc,
        )
        agg = agg.selectExpr(
            f"__ek AS __sk{i}", f"__nt AS __nt{i}",
            f"__nm AS __nm{i}", f"__sv AS __sv{i}", *fc)
        self._join(agg, i)
        # any mismatching item fails the set (frame.ts:436-447); a
        # lenient set's failure is silently skipped but the parent
        # property then has no match — same record-level outcome
        ok, code = _set_outcome(plan[3], f"coalesce(__nt{i}, 0)",
                                f"coalesce(__nm{i}, 0)", f"__fc{i}")
        return ok, self._frag(prop, ok, f"coalesce(__sv{i}, '[]')"), code

    def _map(self, i, prop, plan, e):
        engine = self.engine
        item_sid, key_prop, part = plan[4], plan[5], plan[6]
        caps = (key_prop,) if plan[0] == "map" else (key_prop, plan[7])
        child = self._child(item_sid, e, caps)
        part_col = (
            "(__capt0).value" if part == "value" else
            "(__capt0).dt" if part == "datatype" else
            # missing language is '' in the reference model
            # (rdf-model.ts:62) — valid "" JSON key, never NULL
            "coalesce((__capt0).lang, '')"
        )
        if plan[0] == "mapref":
            # value-reference map: the entry VALUE is the referenced
            # part of the captured term (compactByReference,
            # synthesize.ts:11-36) — a json-quoted term part, or the
            # target leaf's framed value for a part-less reference
            vpart = plan[8]
            vshape2 = engine.catalog.get(plan[7].value_shape)
            part_src = {"value": "(__capt1).value",
                        "datatype": "(__capt1).dt",
                        # reference literals store language as ''
                        # when absent (rdf-model.ts:62), so the
                        # compacted part is "" — never null; the
                        # coalesce keeps s_json_quote away from
                        # NULL (it would emit '' and corrupt the
                        # JSON).  Computed on matching child rows
                        # only, so a join miss still yields NULL __cv.
                        "language": "coalesce((__capt1).lang, '')",
                        }.get(vpart)
            if part_src is not None:
                cval = _s_json_quote(part_src)
            else:  # part None: the framed value of the target
                cval = f"coalesce(" \
                    f"{engine._s_node_value(vshape2, '__capt1')}, " \
                    f"'null')"
        else:
            cval = "__fval"
        if self.errors:
            cval = f"CASE WHEN __ok THEN {cval} END"
        cj = child.selectExpr(
            f"fkey AS __ck{i}", f"({cval}) AS __cv",
            f"{part_col} AS __ckey",
            *(["__code AS __cc"] if self.errors else []))
        ee = e.join(
            cj, F.expr(s_term_key("__eo")) == cj[f"__ck{i}"], "left",
        ).selectExpr(
            "__ek", "__etid", "__cv",
            f"CASE WHEN __cv IS NOT NULL THEN concat("
            f"{_s_json_quote('__ckey')}, ':', __cv) END AS __entry",
            *self._edge_code("__cv"),
        )
        agg = ee.groupBy("__ek").agg(
            F.expr("count(1)").alias("__nt"),
            F.expr("count(__cv)").alias("__nm"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN __entry IS NOT NULL THEN "
                "struct(__etid, __entry) END)), x -> x.__entry), ',')"
            ).alias("__body"),
            *self._fail_agg(i, "__cv"),
        ).selectExpr(
            f"__ek AS __sk{i}", f"__nt AS __nt{i}",
            f"__nm AS __nm{i}",
            f"concat('{{', {_len_guard(engine, '__body', 'map')}, "
            f"'}}') AS __mv{i}",
            *([f"__fc{i}"] if self.errors else []),
        )
        self._join(agg, i)
        # any item that fails to frame (or key to capture) fails
        # the whole map (frame.ts:664-690 / code 217 replay)
        ok = f"(coalesce(__nt{i}, 0) = coalesce(__nm{i}, 0))"
        return ok, self._frag(prop, ok, f"coalesce(__mv{i}, '{{}}')"), \
            f"__fc{i}"

    def _path(self, i, prop, plan):
        """Leaf set (pathset) or exactly-one / optional leaf (pathleaf)
        over a composite path: the UNIVERSAL keyed path relation (no
        seed join — extra sources fall out of the left join back to
        sites) feeds one groupBy; the self item of self-including paths
        (zeroOrOne/zeroOrMore) is spliced expression-side from the site
        row's own columns, so no universe scan and no extra union ever
        runs.  A cycle that reaches the subject collapses onto the path
        item with the smaller tid, matching the seeded evaluator's
        (keys, node) min-tord dedup; a self that misses the vocabulary
        is no candidate."""
        engine = self.engine
        kind, leaf = plan[0], plan[3]
        prel, inc_self = _path_rel(engine, plan[1])
        item_t = "array<struct<__etid:bigint,__enk:string,__ev:string>>"
        if prel is not None:
            prel = _drop_misses(engine, prel, leaf, "node")
            fail_x, code_x = engine._s_node_checks(leaf, "node")
            vj = engine._s_node_value(leaf, "node")
            if kind == "pathset":
                aggs = [F.expr(
                    "collect_list(CASE WHEN __ev IS NOT NULL THEN "
                    "named_struct('__etid', __etid, '__enk', __enk, "
                    "'__ev', __ev) END)").alias(f"__pi{i}")]
            else:
                aggs = [
                    F.expr("min(CASE WHEN __ev IS NOT NULL THEN "
                           "struct(__etid, __ev) END)").alias(f"__p1{i}"),
                    F.expr("max(CASE WHEN __enk = __ek THEN 1 ELSE 0 "
                           "END)").alias(f"__sd{i}")]
            ec = [f"CASE WHEN ({fail_x}) THEN ({code_x}) END AS __ec"] \
                if self.errors else []
            agg = prel.selectExpr(
                "__u AS __ek", "tord AS __etid",
                f"{s_term_key('node')} AS __enk",
                f"CASE WHEN NOT ({fail_x}) THEN ({vj}) END AS __ev", *ec,
            ).groupBy("__ek").agg(
                F.expr("count(1)").alias(f"__pt{i}"),
                F.expr("count(__ev)").alias(f"__pm{i}"),
                *aggs, *self._fail_agg(i),
            ).withColumnRenamed("__ek", f"__sk{i}")
            self._join(agg, i)
        else:  # pure-identity path (empty sequence)
            if kind == "pathset":
                empty = [f"CAST(array() AS {item_t}) AS __pi{i}"]
            else:
                empty = ["CAST(NULL AS struct<__etid:bigint,__ev:string>) "
                         f"AS __p1{i}", f"0 AS __sd{i}"]
            if self.errors:
                empty.append(f"CAST(NULL AS INT) AS __fc{i}")
            self.rel = self.rel.selectExpr(
                "*", f"CAST(0 AS BIGINT) AS __pt{i}",
                f"CAST(0 AS BIGINT) AS __pm{i}", *empty)
        pt = f"coalesce(__pt{i}, 0)"
        pm = f"coalesce(__pm{i}, 0)"
        fc = f"__fc{i}"
        if inc_self:
            nohit_f = engine._s_node_nomatch(leaf, "focus")
            miss_f = engine._s_node_miss(leaf, "focus")
            vf = engine._s_node_value(leaf, "focus")
            self_ok = f"(NOT ({nohit_f}))"
            fc = (f"coalesce(__fc{i}, CASE WHEN NOT {self_ok} THEN "
                  f"({engine._s_node_checks(leaf, 'focus')[1]}) END)")
        if kind == "pathset":
            items = f"coalesce(__pi{i}, CAST(array() AS {item_t}))"
            if inc_self:
                dup = f"exists({items}, x -> x.__enk = skey)"
                self_skip = f"{self_ok} AND ({dup})"
                if miss_f is not None:
                    self_skip = f"({self_skip}) OR {miss_f}"
                self_item = (f"named_struct('__etid', ord, '__enk', skey, "
                             f"'__ev', ({vf}))")
                merged = (
                    f"CASE WHEN {self_ok} AND NOT ({dup}) THEN "
                    f"array_append({items}, {self_item}) "
                    f"WHEN {self_ok} THEN transform({items}, x -> "
                    f"IF(x.__enk = skey, named_struct('__etid', "
                    f"least(x.__etid, ord), '__enk', x.__enk, "
                    f"'__ev', x.__ev), x)) "
                    f"ELSE {items} END")
                # a failing self overcounts __nt on a dup cycle, but the
                # set already fails (nt > nm) either way
                nt = f"({pt} + IF({self_skip}, 0, 1))"
                nm = f"({pm} + IF({self_ok} AND NOT ({dup}), 1, 0))"
            else:
                merged, nt, nm = items, pt, pm
            body = (f"array_join(transform(array_sort({merged}), "
                    f"x -> x.__ev), ',')")
            rel = self.rel.selectExpr(
                "*", f"({nt}) AS __nt{i}", f"({nm}) AS __nm{i}",
                f"({body}) AS __bd{i}")
            self.rel = rel.selectExpr(
                "*",
                f"concat('[', {_len_guard(engine, f'__bd{i}', 'set', 'skey')}, "
                f"']') AS __sv{i}",
            ).drop(f"__pt{i}", f"__pm{i}", f"__pi{i}", f"__bd{i}")
            ok, code = _set_outcome(plan[2], f"coalesce(__nt{i}, 0)",
                                    f"coalesce(__nm{i}, 0)", fc)
            return ok, self._frag(prop, ok, f"__sv{i}"), code
        # pathleaf: candidates are a SET, so a self already among the
        # reached nodes adds nothing
        if inc_self:
            dup = f"(coalesce(__sd{i}, 0) = 1)"
            self_skip = dup if miss_f is None else f"{dup} OR {miss_f}"
            nt = f"({pt} + IF({self_skip}, 0, 1))"
            nm = f"({pm} + IF({self_ok} AND NOT {dup}, 1, 0))"
            val1 = (f"CASE WHEN {pm} >= 1 THEN (__p1{i}).__ev "
                    f"WHEN {self_ok} THEN ({vf}) END")
        else:
            nt, nm = pt, pm
            val1 = f"(__p1{i}).__ev"
        wrapper = plan[2]  # None = plain, OptionalShape = optional
        optional = wrapper is not None
        ok, code = _one_outcome(
            optional, leaf.lenient or optional and wrapper.lenient,
            f"{nt} = {nm}", nm, fc)
        if not optional:
            return ok, self._frag(prop, ok, val1), code
        val = f"CASE WHEN {nm} = 1 THEN {val1} END"
        if wrapper.empty_is_null:
            val = f"coalesce({val}, 'null')"
        frag = self._frag(prop, f"({val}) IS NOT NULL", val)
        return ok, frag and f"CASE WHEN {ok} THEN {frag} END", code

    # -- projections --------------------------------------------------
    def _ok_all(self) -> str:
        oks = [ok for ok, _, _ in self.out.values()]
        return " AND ".join(oks) if oks else "true"

    def _fval(self) -> str:
        # the general path's key order: type props, then props, in
        # declaration order
        frags = [self.out[i][1] for i in range(len(self.props))
                 if self.out[i][1] is not None]
        body = f"concat_ws(',', {', '.join(frags)})" if frags else "''"
        return f"concat('{{', {body}, '}}')"

    def matches(self) -> DataFrame:
        """(fkey, __fval, __ffocus, __ford[, __capt0…]) of every
        subject where every ok holds."""
        out_cols = ["skey AS fkey", f"{self._fval()} AS __fval",
                    "focus AS __ffocus", "ord AS __ford"]
        out_cols.extend(f"__capt{ci}" for ci in range(len(self.captures)))
        return self.rel.where(self._ok_all()).selectExpr(*out_cols)

    def outcomes(self) -> DataFrame:
        """(fkey, __ok, __fval, __code, __gok, __ord[, __capt0…]) of
        every scalar-base subject: ``__fval`` when it matches, else
        ``__code`` — the first failing property's code in declaration
        order (type properties first); ``__gok`` — it passed the
        type-property gate (its failure is an ERROR at a non-strict
        root, frame.ts:248-253); ``__ord`` — the order surrogate (min
        tid as subject)."""
        n_type = len(self.shape.type_properties)
        gate = [self.out[i][0] for i in range(n_type)]
        code = "coalesce(" + ", ".join(
            f"CASE WHEN NOT {ok} THEN ({c}) END"
            for ok, _, c in (self.out[i] for i in range(len(self.props)))
        ) + ")"
        return self.rel.selectExpr("*", f"({self._ok_all()}) AS __ok") \
            .selectExpr(
                "skey AS fkey", "__ok",
                f"CASE WHEN __ok THEN {self._fval()} END AS __fval",
                f"CASE WHEN NOT __ok THEN CAST(({code}) AS INT) END "
                f"AS __code",
                f"({' AND '.join(gate) or 'true'}) AS __gok",
                "ord AS __ord",
                *(f"__capt{ci}" for ci in range(len(self.captures))))


def _jkey(prop: Property) -> str:
    import json
    return json.dumps(prop.name) + ":"
