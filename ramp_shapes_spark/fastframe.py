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

Error codes for the same trees come from :mod:`fasterrors`, which
builds its counters with the same :func:`scalar_counts`.  100 TB
shape: everything is one pass over the triples per record plus
per-predicate aggregations — no per-site candidate shuffles, no md5
key chains, no per-subject arrays or degree caps.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .shapes import (
    AnyOfShape, InversePath, LiteralShape, MapShape, OptionalShape,
    PredicatePath, Property, RecordShape, ResourceShape, SetShape, Shape,
    ShapeID, is_self_path,
)
from .sqlutil import s_json_quote as _s_json_quote, s_str, s_term_key

__all__ = ["qualifies", "record_rel", "scalar_counts"]


def _leaf(engine, sid: ShapeID) -> Optional[Shape]:
    s = engine.catalog.get(sid)
    if not isinstance(s, (ResourceShape, LiteralShape)):
        return None
    if engine._track and isinstance(s, ResourceShape) and \
            s.vocabulary is not None:
        # every site here treats a miss as no match and no mismatch
        # (_s_node_miss), but none emits its ERR_VOCABULARY row
        return None
    if sid.key() in engine._collectors:
        return None  # captured by an outer computed-property/map context
    return s


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
        leaf = _leaf(engine, vid)
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
            leaf = _leaf(engine, vs.item_shape)
            if leaf is not None and not leaf.lenient:
                # lenient items: the general path silently drops failing
                # items and matches the set with the rest; the pathset
                # ok (nt = nm) cannot express that — route general
                return ("pathset", prop.path, vs, leaf)
            if leaf is not None:
                return None
        leaf = _leaf(engine, prop.value_shape)
        if leaf is not None:
            # exactly-one leaf over a composite path (sequence /
            # alternative / zeroOrOne / closure)
            return ("pathleaf", prop.path, None, leaf)
        if isinstance(vs, OptionalShape):
            oleaf = _leaf(engine, vs.item_shape)
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
        leaf = _leaf(engine, vs.item_shape)
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
        # anchor: at least one exactly-one forward property guarantees
        # every match appears in the scalar base
        and any(
            (engine._fast_kind(p) or ("",))[0] == "plain"
            and not is_self_path(p.path)
            for p in shape.type_properties + shape.properties
        )
    )
    engine._fast_ok[key] = ok
    return ok


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


def record_rel(engine, sid: ShapeID,
               seeds: Optional[DataFrame] = None) -> DataFrame:
    """Match relation (fkey, __fval) of a qualifying record; memoized
    when unseeded.  ``seeds`` (a 1-column ``fkey`` DataFrame of subject
    keys, expected delta-small) restricts every base relation to the
    seeds' neighborhood BEFORE aggregation: the per-predicate scans
    survive (one pass each, broadcast semi-joined) but the groupBys
    shuffle seed-proportional row counts instead of one group per
    subject in the table — the shape incremental maintenance needs."""
    if seeds is not None:
        return _build_rel(engine, sid, captures=None, seeds=seeds)
    key = sid.key()
    rel = engine._fast_rel.get(key)
    if rel is not None:
        return rel
    rel = _build_rel(engine, sid, captures=None)
    engine._fast_rel[key] = rel
    return rel


def scalar_counts(engine, all_props, first_fail: bool = False,
                  seeds: Optional[DataFrame] = None) -> DataFrame:
    """The record's scalar base: ONE groupBy of the predicates of its
    plain / optional / anyOf-leaf properties, with O(1)-state
    aggregates per property ``i`` — ``__nm{i}`` matching and ``__nf{i}``
    failing objects, and the first (by tid) matching ``__m1{i}`` or,
    with ``first_fail``, failing ``__ff{i}`` struct(tid, o).
    Exactly-one and 0-or-1 semantics need nothing more, all partial-
    aggregatable map-side, so there is no sort, no per-subject array
    buffering and no degree cap: a Zipf-head subject costs the same
    counters as any other.  Returns (skey, sord, counters…); ``sord``
    (min tid as subject) is the dataset-order surrogate.  The match
    relation and the error channel (:mod:`fasterrors`) both build their
    counters here."""
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
        else:
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


def _scalar_base(engine, all_props,
                 captures: Optional[List[Property]] = None,
                 seeds: Optional[DataFrame] = None) -> DataFrame:
    """The record base: :func:`scalar_counts` turned into one stat
    struct ``__st{i}`` (ok, value) per plain / optional / self /
    anyOf-leaf property.  Returns (skey, focus, ord, __st{i}…
    [, __capt{ci}…]).  ``qualifies`` guarantees an exactly-one forward
    anchor, so the base always scans at least one predicate."""
    base = scalar_counts(engine, all_props, seeds=seeds)

    exprs = ["skey", f"{_FOCUS_SQL} AS focus", "sord AS ord"]
    for i, (prop, plan) in enumerate(all_props):
        if plan[0] == "anyleaf":
            m1 = f"(__m1{i}).o"
            whens = " ".join(
                f"WHEN NOT {engine._s_node_nomatch(leaf, m1)} "
                f"THEN {engine._s_node_value(leaf, m1)}"
                for leaf in plan[1]
            )
            ok = f"(__nf{i} = 0 AND __nm{i} = 1)"
            val = f"CASE WHEN {ok} THEN (CASE {whens} END) END"
            exprs.append(
                f"named_struct('ok', {ok}, "
                f"'value', CAST(({val}) AS STRING)) AS __st{i}")
            continue
        if plan[0] != "scalar":
            continue
        kind, wrapper, leaf = plan[1], plan[2], plan[3]
        if is_self_path(prop.path):
            nohit_f = engine._s_node_nomatch(leaf, "focus")
            ok = f"(NOT {nohit_f})"
            val = (f"CASE WHEN NOT {nohit_f} "
                   f"THEN {engine._s_node_value(leaf, 'focus')} END")
        else:
            m1 = f"(__m1{i}).o"
            val1 = engine._s_node_value(leaf, m1)
            if kind == "plain":
                ok = (f"(__nm{i} = 1)" if leaf.lenient else
                      f"(__nf{i} = 0 AND __nm{i} = 1)")
                val = f"CASE WHEN {ok} THEN {val1} END"
            else:  # optional
                fails_ok = wrapper.lenient or leaf.lenient
                ok = (f"(__nm{i} <= 1)" if fails_ok else
                      f"(__nf{i} = 0 AND __nm{i} <= 1)")
                val = f"CASE WHEN {ok} AND __nm{i} = 1 THEN {val1} END"
                if wrapper.empty_is_null:
                    val = f"CASE WHEN {ok} THEN coalesce({val}, 'null') END"
        exprs.append(
            f"named_struct('ok', {ok}, 'value', CAST(({val}) AS STRING)) "
            f"AS __st{i}")
        if captures:
            for ci, cp in enumerate(captures):
                if prop is cp:
                    exprs.append(f"(__m1{i}).o AS __capt{ci}")
    return base.selectExpr(*exprs)


def _build_rel(engine, sid: ShapeID,
               captures: Optional[List[Property]],
               seeds: Optional[DataFrame] = None):
    """Build the match relation.  ``captures`` (plain leaf properties
    of this record) additionally export ``__capt{i}`` — the matched
    object TERM of each — for map key/value referencing.  ``seeds``
    restricts the base scan and the per-predicate edge aggregations to
    the given subject keys (and child records to the seed edges'
    objects); composite-path (pathset/pathleaf) relations stay global —
    reachability may pass through non-seed intermediates.  Returns
    (fkey, __fval[, __capt0…])."""
    shape: RecordShape = engine.catalog.get(sid)

    all_props: List[Tuple[Property, tuple]] = [
        (p, _classify(engine, p))
        for p in list(shape.type_properties) + list(shape.properties)
    ]
    join_specs = []  # (prop index, ok_sql, frag_sql or None)
    stat_cols: Dict[int, str] = {
        i: f"__st{i}" for i, (_, plan) in enumerate(all_props)
        if plan[0] in ("scalar", "anyleaf")
    }

    rel = _scalar_base(engine, all_props, captures, seeds)

    # --- per-predicate joins for record/set/map-valued properties
    for i, (prop, plan) in enumerate(all_props):
        kind = plan[0]
        if kind in ("scalar", "anyleaf"):
            continue
        if kind in ("pathset", "pathleaf"):
            e = None  # relation comes from the universal path evaluator
        else:
            pred, inv = plan[1], plan[2]
            e = _edges(engine, pred, inv)
            if seeds is not None:
                e = e.join(F.broadcast(seeds.selectExpr("fkey AS __ek")),
                           "__ek", "leftsemi")

        def _child_seeds():
            """Seed keys for a child record: the seed edges' objects."""
            if seeds is None:
                return None
            return e.selectExpr(f"{s_term_key('__eo')} AS fkey").distinct()

        if kind == "record":
            child = record_rel(engine, plan[3], _child_seeds()).selectExpr(
                f"fkey AS __ck{i}", f"__fval AS __cv{i}")
            # exactly-one: the subject must have exactly one edge AND
            # its object must match the child shape (frame.ts:281-305)
            agg = e.groupBy("__ek").agg(
                F.expr("count(1)").alias(f"__n{i}"),
                F.expr("min(struct(__etid, __eo))").alias(f"__e1{i}"),
            )
            rel = rel.join(agg, rel["skey"] == agg["__ek"], "left") \
                .drop("__ek")
            rel = rel.withColumn(
                f"__ok1{i}", F.expr(f"coalesce(__n{i}, 0) = 1"))
            okey = f"CASE WHEN __ok1{i} THEN " \
                f"{s_term_key(f'(__e1{i}).__eo')} END"
            rel = rel.selectExpr("*", f"({okey}) AS __okey{i}") \
                .drop(f"__n{i}", f"__e1{i}")
            rel = rel.join(
                child, rel[f"__okey{i}"] == child[f"__ck{i}"], "left",
            ).drop(f"__ck{i}", f"__okey{i}")
            ok = f"(__ok1{i} AND __cv{i} IS NOT NULL)"
            frag = None if prop.transient else (
                f"CASE WHEN {ok} THEN "
                f"concat({s_str(_jkey(prop))}, __cv{i}) END")
            join_specs.append((i, ok, frag))
        elif kind == "pathset":
            # leaf set over a composite path: the UNIVERSAL keyed path
            # relation (no seed join — extra sources fall out of the
            # left join back to sites) feeds one groupBy; the self item
            # of self-including paths (zeroOrOne/zeroOrMore) is spliced
            # expression-side from the site row's own columns, so no
            # universe scan and no extra union ever runs.  A cycle that
            # reaches the subject collapses onto the path item with the
            # smaller tid, matching the seeded evaluator's (keys, node)
            # min-tord dedup.
            from .paths import eval_path_universal

            sshape = plan[2]
            leaf = plan[3]
            prel, inc_self = eval_path_universal(plan[1], engine.triples)
            item_t = "array<struct<__etid:bigint,__enk:string,__ev:string>>"
            if prel is not None:
                prel = _drop_misses(engine, prel, leaf, "node")
                fail_x, _ = engine._s_node_checks(leaf, "node")
                vj = engine._s_node_value(leaf, "node")
                agg = prel.selectExpr(
                    "__u AS __ek", "tord AS __etid",
                    f"{s_term_key('node')} AS __enk",
                    f"CASE WHEN NOT ({fail_x}) THEN ({vj}) END AS __ev",
                ).groupBy("__ek").agg(
                    F.expr("count(1)").alias(f"__pt{i}"),
                    F.expr("count(__ev)").alias(f"__pm{i}"),
                    F.expr(
                        "collect_list(CASE WHEN __ev IS NOT NULL THEN "
                        "named_struct('__etid', __etid, '__enk', __enk, "
                        "'__ev', __ev) END)").alias(f"__pi{i}"),
                ).withColumnRenamed("__ek", f"__sk{i}")
                rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"],
                               "left").drop(f"__sk{i}")
            else:  # pure-identity path (empty sequence)
                rel = rel.selectExpr(
                    "*", "CAST(0 AS BIGINT) AS __pt" + str(i),
                    "CAST(0 AS BIGINT) AS __pm" + str(i),
                    f"CAST(array() AS {item_t}) AS __pi{i}")
            items = f"coalesce(__pi{i}, CAST(array() AS {item_t}))"
            if inc_self:
                nohit_f = engine._s_node_nomatch(leaf, "focus")
                miss_f = engine._s_node_miss(leaf, "focus")
                vf = engine._s_node_value(leaf, "focus")
                self_ok = f"(NOT ({nohit_f}))"
                dup = f"exists({items}, x -> x.__enk = skey)"
                # a self that misses the vocabulary is no item at all
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
                nt = f"(coalesce(__pt{i}, 0) + IF({self_skip}, 0, 1))"
                nm = (f"(coalesce(__pm{i}, 0) + "
                      f"IF({self_ok} AND NOT ({dup}), 1, 0))")
            else:
                merged = items
                nt = f"coalesce(__pt{i}, 0)"
                nm = f"coalesce(__pm{i}, 0)"
            body = (f"array_join(transform(array_sort({merged}), "
                    f"x -> x.__ev), ',')")
            rel = rel.selectExpr(
                "*", f"({nt}) AS __nt{i}", f"({nm}) AS __nm{i}",
                f"({body}) AS __bd{i}")
            rel = rel.selectExpr(
                "*",
                f"concat('[', {_len_guard(engine, f'__bd{i}', 'set', 'skey')}, "
                f"']') AS __sv{i}",
            ).drop(f"__pt{i}", f"__pm{i}", f"__pi{i}", f"__bd{i}")
            min_c = sshape.min_count or 0
            max_c = sshape.max_count
            n = f"coalesce(__nm{i}, 0)"
            ok = f"(coalesce(__nt{i}, 0) = {n} AND ({n}) >= {min_c}"
            if max_c is not None:
                ok += f" AND ({n}) <= {max_c}"
            ok += ")"
            frag = None if prop.transient else (
                f"CASE WHEN {ok} THEN "
                f"concat({s_str(_jkey(prop))}, __sv{i}) END")
            join_specs.append((i, ok, frag))
        elif kind == "pathleaf":
            # exactly-one / optional leaf over a composite path: the
            # universal path relation aggregates to three counters per
            # subject (total reached, matching, first match by tord);
            # self-including paths splice the subject expression-side,
            # deduplicated against a cycle reaching the subject (same
            # rule as pathset).  Candidates are a SET, so a self
            # already among the reached nodes adds nothing.
            from .paths import eval_path_universal

            wrapper = plan[2]  # None = plain, OptionalShape = optional
            leaf = plan[3]
            prel, inc_self = eval_path_universal(plan[1], engine.triples)
            if prel is not None:
                prel = _drop_misses(engine, prel, leaf, "node")
                fail_x, _ = engine._s_node_checks(leaf, "node")
                vj = engine._s_node_value(leaf, "node")
                agg = prel.selectExpr(
                    "__u AS __ek", "tord AS __etid",
                    f"{s_term_key('node')} AS __enk",
                    f"CASE WHEN NOT ({fail_x}) THEN ({vj}) END AS __ev",
                ).groupBy("__ek").agg(
                    F.expr("count(1)").alias(f"__pt{i}"),
                    F.expr("count(__ev)").alias(f"__pm{i}"),
                    F.expr("min(CASE WHEN __ev IS NOT NULL THEN "
                           "struct(__etid, __ev) END)").alias(f"__p1{i}"),
                    F.expr("max(CASE WHEN __enk = __ek THEN 1 ELSE 0 "
                           "END)").alias(f"__sd{i}"),
                ).withColumnRenamed("__ek", f"__sk{i}")
                rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"],
                               "left").drop(f"__sk{i}")
            else:  # pure-identity path (empty sequence)
                rel = rel.selectExpr(
                    "*", f"CAST(0 AS BIGINT) AS __pt{i}",
                    f"CAST(0 AS BIGINT) AS __pm{i}",
                    f"CAST(NULL AS struct<__etid:bigint,__ev:string>) "
                    f"AS __p1{i}",
                    f"0 AS __sd{i}")
            pt = f"coalesce(__pt{i}, 0)"
            pm = f"coalesce(__pm{i}, 0)"
            if inc_self:
                nohit_f = engine._s_node_nomatch(leaf, "focus")
                miss_f = engine._s_node_miss(leaf, "focus")
                vf = engine._s_node_value(leaf, "focus")
                self_ok = f"(NOT ({nohit_f}))"
                dup = f"(coalesce(__sd{i}, 0) = 1)"
                # a self that misses the vocabulary is no candidate
                self_skip = dup if miss_f is None else f"{dup} OR {miss_f}"
                nt = f"({pt} + IF({self_skip}, 0, 1))"
                nm = f"({pm} + IF({self_ok} AND NOT {dup}, 1, 0))"
                val1 = (f"CASE WHEN {pm} >= 1 THEN (__p1{i}).__ev "
                        f"WHEN {self_ok} THEN ({vf}) END")
            else:
                nt, nm = pt, pm
                val1 = f"(__p1{i}).__ev"
            if wrapper is None:  # plain, exactly-one
                ok = (f"({nm} = 1)" if leaf.lenient else
                      f"({nt} = {nm} AND {nm} = 1)")
                frag = None if prop.transient else (
                    f"CASE WHEN {ok} THEN "
                    f"concat({s_str(_jkey(prop))}, {val1}) END")
            else:  # optional
                fails_ok = wrapper.lenient or leaf.lenient
                ok = (f"({nm} <= 1)" if fails_ok else
                      f"({nt} = {nm} AND {nm} <= 1)")
                val = f"CASE WHEN {nm} = 1 THEN {val1} END"
                if wrapper.empty_is_null:
                    val = f"coalesce({val}, 'null')"
                frag = None if prop.transient else (
                    f"CASE WHEN {ok} THEN CASE WHEN ({val}) IS NOT NULL "
                    f"THEN concat({s_str(_jkey(prop))}, {val}) END END")
            join_specs.append((i, ok, frag))
        elif kind == "optrec":
            oshape = plan[3]
            child = record_rel(engine, plan[4], _child_seeds()).selectExpr(
                f"fkey AS __ck{i}", "__fval AS __cv")
            ee = e.join(
                child, F.expr(s_term_key("__eo")) == child[f"__ck{i}"],
                "left",
            ).selectExpr("__ek", "__etid", "__cv AS __ev")
            agg = ee.groupBy("__ek").agg(
                F.expr("count(1)").alias(f"__nt{i}"),
                F.expr("count(__ev)").alias(f"__nm{i}"),
                F.expr("min(CASE WHEN __ev IS NOT NULL THEN "
                       "struct(__etid, __ev) END)").alias(f"__e1{i}"),
            ).withColumnRenamed("__ek", f"__sk{i}")
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            # parity with the general compiler (verified by
            # tests/test_optrec_fast.py): ANY candidate that mismatches
            # the child record fails the property — optional only
            # permits ZERO candidates (empty value) or exactly one
            # matching candidate; it does not absorb present-but-
            # mismatching edges (same rule as the plain record plan,
            # frame.ts:281-305, with the zero case allowed)
            n = f"coalesce(__nm{i}, 0)"
            ok = f"(coalesce(__nt{i}, 0) = {n} AND {n} <= 1)"
            val1 = f"(__e1{i}).__ev"
            if oshape.empty_is_null:
                val = f"CASE WHEN {n} = 1 THEN {val1} ELSE 'null' END"
                frag = None if prop.transient else (
                    f"CASE WHEN {ok} THEN "
                    f"concat({s_str(_jkey(prop))}, {val}) END")
            else:
                frag = None if prop.transient else (
                    f"CASE WHEN {ok} AND {n} = 1 THEN "
                    f"concat({s_str(_jkey(prop))}, {val1}) END")
            join_specs.append((i, ok, frag))
        elif kind in ("bigset", "bigsetrec"):
            sshape: SetShape = plan[3]
            if kind == "bigset":
                leaf = plan[4]
                fail_x, _ = engine._s_node_checks(leaf, "__eo")
                vj = engine._s_node_value(leaf, "__eo")
                ee = _drop_misses(engine, e, leaf, "__eo").selectExpr(
                    "__ek", "__etid",
                    f"CASE WHEN NOT ({fail_x}) THEN ({vj}) END AS __ev")
            else:
                child = record_rel(engine, plan[4], _child_seeds()) \
                    .selectExpr(f"fkey AS __ck{i}", "__fval AS __cv")
                ee = e.join(
                    child,
                    F.expr(s_term_key("__eo")) == child[f"__ck{i}"], "left",
                ).selectExpr("__ek", "__etid", "__cv AS __ev")
            agg = ee.groupBy("__ek").agg(
                F.expr("count(1)").alias("__nt"),
                F.expr("count(__ev)").alias("__nm"),
                F.expr(
                    "array_join(transform(array_sort(collect_list("
                    "CASE WHEN __ev IS NOT NULL THEN "
                    "struct(__etid, __ev) END)), x -> x.__ev), ',')"
                ).alias("__items"),
            ).selectExpr(
                "__ek", "__nt", "__nm",
                f"concat('[', {_len_guard(engine, '__items', 'set')}, "
                f"']') AS __sv",
            )
            agg = agg.selectExpr(
                f"__ek AS __sk{i}", f"__nt AS __nt{i}",
                f"__nm AS __nm{i}", f"__sv AS __sv{i}")
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            min_c = sshape.min_count or 0
            max_c = sshape.max_count
            n = f"coalesce(__nm{i}, 0)"
            # any mismatching item fails the set (frame.ts:436-447); a
            # lenient set's failure is silently skipped but the parent
            # property then has no match — same record-level outcome
            ok = f"(coalesce(__nt{i}, 0) = {n} AND ({n}) >= {min_c}"
            if max_c is not None:
                ok += f" AND ({n}) <= {max_c}"
            ok += ")"
            val = f"coalesce(__sv{i}, '[]')"
            frag = None if prop.transient else (
                f"CASE WHEN {ok} THEN "
                f"concat({s_str(_jkey(prop))}, {val}) END")
            join_specs.append((i, ok, frag))
        elif kind in ("map", "mapref"):
            item_sid, key_prop, part = plan[4], plan[5], plan[6]
            caps = [key_prop]
            if kind == "mapref":
                caps.append(plan[7])
            ikey = item_sid.key() + "\x1e" + \
                "\x1e".join(p.name for p in caps)
            if seeds is not None:  # seeded children are not memoizable
                child = _build_rel(engine, item_sid, captures=caps,
                                   seeds=_child_seeds())
            else:
                child = engine._fast_rel.get(ikey)
                if child is None:
                    child = _build_rel(engine, item_sid, captures=caps)
                    engine._fast_rel[ikey] = child
            part_col = (
                "(__capt0).value" if part == "value" else
                "(__capt0).dt" if part == "datatype" else
                # missing language is '' in the reference model
                # (rdf-model.ts:62) — valid "" JSON key, never NULL
                "coalesce((__capt0).lang, '')"
            )
            if kind == "mapref":
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
                            # JSON).  Computed on child rows only, so
                            # a join miss still yields NULL __cv.
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
            cj = child.selectExpr(
                f"fkey AS __ck{i}", f"({cval}) AS __cv",
                f"{part_col} AS __ckey")
            ee = e.join(
                cj, F.expr(s_term_key("__eo")) == cj[f"__ck{i}"], "left",
            ).selectExpr(
                "__ek", "__etid", "__cv",
                f"CASE WHEN __cv IS NOT NULL THEN concat("
                f"{_s_json_quote('__ckey')}, ':', __cv) END AS __entry",
            )
            agg = ee.groupBy("__ek").agg(
                F.expr("count(1)").alias("__nt"),
                F.expr("count(__cv)").alias("__nm"),
                F.expr(
                    "array_join(transform(array_sort(collect_list("
                    "CASE WHEN __entry IS NOT NULL THEN "
                    "struct(__etid, __entry) END)), x -> x.__entry), ',')"
                ).alias("__body"),
            ).selectExpr(
                f"__ek AS __sk{i}", f"__nt AS __nt{i}",
                f"__nm AS __nm{i}",
                f"concat('{{', {_len_guard(engine, '__body', 'map')}, "
                f"'}}') AS __mv{i}",
            )
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            # any item that fails to frame (or key to capture) fails
            # the whole map (frame.ts:664-690 / code 217 replay)
            ok = f"(coalesce(__nt{i}, 0) = coalesce(__nm{i}, 0))"
            val = f"coalesce(__mv{i}, '{{}}')"
            frag = None if prop.transient else (
                f"CASE WHEN {ok} THEN "
                f"concat({s_str(_jkey(prop))}, {val}) END")
            join_specs.append((i, ok, frag))

    # --- final assembly: gate + value JSON in one selectExpr
    ok_parts: List[str] = []
    for i, (prop, plan) in enumerate(all_props):
        if plan[0] in ("scalar", "anyleaf"):
            ok_parts.append(f"({stat_cols[i]}.ok)")
    for i, ok, frag in join_specs:
        ok_parts.append(ok)
    # preserve the general path's key order (type props, then props,
    # declaration order)
    ordered: List[str] = []
    for i, (prop, plan) in enumerate(all_props):
        if prop.transient:
            continue
        if plan[0] in ("scalar", "anyleaf"):
            st = stat_cols[i]
            ordered.append(
                f"CASE WHEN ({st}).value IS NOT NULL THEN "
                f"concat({s_str(_jkey(prop))}, ({st}).value) END")
        else:
            spec = next(f for j, _, f in join_specs if j == i)
            if spec is not None:
                ordered.append(spec)
    body = f"concat_ws(',', {', '.join(ordered)})" if ordered else "''"
    ok_all = " AND ".join(ok_parts) if ok_parts else "true"
    out_cols = ["skey AS fkey", f"concat('{{', {body}, '}}') AS __fval",
                "focus AS __ffocus", "ord AS __ford"]
    if captures:
        out_cols.extend(f"__capt{ci}" for ci in range(len(captures)))
    return rel.where(ok_all).selectExpr(*out_cols)


def _jkey(prop: Property) -> str:
    import json
    return json.dumps(prop.name) + ":"
