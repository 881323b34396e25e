"""Error channel for the fast-tree record compiler.

Derives reference error codes (errors.ts:16-59) for record candidates
that fail a qualifying fast tree from the SAME counter aggregations the
match relation uses (``__nm``/``__nf``/``__nt`` + first-failing-term;
both build the scalar base with :func:`fastframe.scalar_counts`), so
``track_errors=True`` no longer forces the ~40-op-per-site general
compiler when shape stacks are not requested (``diagnostics=False``).
The channel is assembled INSIDE the lazy ``FrameResult.errors`` thunk —
consumers that never read it (the benchmark queries, most pipelines)
never pay for it at all.

Contract: ONE error row per failing gate-passing root candidate,
carrying the first failing property's code in declaration order — the
general compiler's record-level error row (frame.py ``prop_fail``).
The general path additionally re-emits deeper per-site rows for the
same failure (one per nested evaluation site); consumers routing or
counting failures by code see the same failures either way.  ``stack``
is NULL by construction (this path only runs with
``diagnostics=False``); ``ord`` is the scalar-base order surrogate
(min tid as subject), not the universe first-appearance order.

Known tie-break approximations vs the general compiler (failure
DETECTION is exact; only which of several simultaneous defects is
reported can differ):

* a property with BOTH a mismatching candidate and 2+ matching
  candidates reports the mismatching candidate's code (the general
  path picks whichever has the smaller tid);
* an anyOf-leaf candidate failing every variant reports 201
  (shape mismatch) rather than the first variant's specific code.

Scale shape: identical to the match relation — one O(1)-state groupBy
over the relevant predicates plus one N:1 join per record/set/map
valued property; child codes bubble through per-shape memoized
mismatch relations, so a shape referenced from several sites is
compiled once.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import fastframe
from .fastframe import _FOCUS_SQL, _classify, _edges
from .shapes import Property, RecordShape, Shape, ShapeID, is_self_path
from .sqlutil import s_term_key

ERR_SHAPE_MISMATCH = 201
ERR_NO_PROPERTY_MATCHES = 203
ERR_MULTIPLE_PROPERTY_MATCHES = 204
ERR_MIN_COUNT = 219
ERR_MAX_COUNT = 220

__all__ = ["error_capable", "root_errors", "mismatch_rel"]


def error_capable(engine, shape: Shape) -> bool:
    """Fast error channel available for this root shape?

    Requires :func:`fastframe.qualifies` plus at least one exactly-one
    forward TYPE property: then any candidate that passes the type
    gate necessarily appears in the predicate-filtered scalar base, so
    the base's complement can never hide a gate-passing failure (the
    general path's universe scan is not needed)."""
    if not isinstance(shape, RecordShape) or \
            not fastframe.qualifies(engine, shape):
        return False
    return any(
        (engine._fast_kind(p) or ("",))[0] == "plain"
        and not is_self_path(p.path)
        for p in shape.type_properties
    )


def _absent_code_sql(engine, sid: ShapeID, term: str) -> str:
    """Code the record assigns a candidate with NO edges in the graph
    (absent from its scalar base): first property in declaration order
    that cannot tolerate emptiness, evaluated statically (self-path
    leaves evaluate their checks against ``term`` expression-side)."""
    shape: RecordShape = engine.catalog.get(sid)
    cases: List[str] = []
    settled = False
    for p in list(shape.type_properties) + list(shape.properties):
        plan = _classify(engine, p)
        kind = plan[0]
        if kind == "scalar":
            if is_self_path(p.path):
                fail, code = engine._s_node_checks(plan[3], term)
                cases.append(f"WHEN {fail} THEN ({code})")
                continue
            if plan[1] == "plain":
                cases.append(f"WHEN true THEN {ERR_NO_PROPERTY_MATCHES}")
                settled = True
                break
            continue  # optional: matches empty
        if kind == "anyleaf":
            cases.append(f"WHEN true THEN {ERR_NO_PROPERTY_MATCHES}")
            settled = True
            break
        if kind == "record":
            cases.append(f"WHEN true THEN {ERR_NO_PROPERTY_MATCHES}")
            settled = True
            break
        if kind == "pathleaf" and plan[2] is None:  # plain composite
            cases.append(f"WHEN true THEN {ERR_NO_PROPERTY_MATCHES}")
            settled = True
            break
        if kind in ("bigset", "bigsetrec", "pathset"):
            sshape = plan[2] if kind == "pathset" else plan[3]
            if (sshape.min_count or 0) > 0:
                # a failing lenient set leaves the property unmatched
                code = (ERR_NO_PROPERTY_MATCHES if sshape.lenient
                        else ERR_MIN_COUNT)
                cases.append(f"WHEN true THEN {code}")
                settled = True
                break
        # optrec / map / mapref / optional pathleaf tolerate emptiness
    if not settled:
        # every property tolerates emptiness — unreachable for shapes
        # passing qualifies() (the anchor plain property always fails
        # empty), kept as a loud generic fallback
        cases.append(f"WHEN true THEN {ERR_SHAPE_MISMATCH}")
    return "CASE " + " ".join(cases) + " END"


def _set_outcome(sshape, nt: str, nm: str, fc: str) -> Tuple[str, str]:
    """(ok, code) SQL of a set property from its item counters ``nt``
    (all items) and ``nm`` (matching items): every item must match —
    else ``fc``, the first failing item's code — and ``nm`` must lie
    within minCount/maxCount (219/220).  The general compiler skips a
    failing LENIENT set, so the record then reports the property as
    unmatched (203)."""
    min_c = sshape.min_count or 0
    max_c = sshape.max_count
    bounds = f"({nm} >= {min_c})"
    if max_c is not None:
        bounds += f" AND ({nm} <= {max_c})"
    ok = f"({nt} = {nm} AND {bounds})"
    if sshape.lenient:
        return ok, f"{ERR_NO_PROPERTY_MATCHES}"
    code = f"CASE WHEN {nt} != {nm} THEN {fc} "
    code += f"WHEN {nm} < {min_c} THEN {ERR_MIN_COUNT} "
    if max_c is not None:
        code += f"WHEN {nm} > {max_c} THEN {ERR_MAX_COUNT} "
    return ok, code + "END"


def _child_coded_edges(engine, e: DataFrame, child_sid: ShapeID,
                       i: int) -> DataFrame:
    """Per-edge child outcome: (__ek, __etid, __cok boolean, __ccode).

    ``__cok`` is true when the edge object matches the child record;
    ``__ccode`` the child's first-fail code otherwise (bubbled from the
    memoized child mismatch relation, or the static absent-subject
    code when the object has no edges at all)."""
    cm = fastframe.record_rel(engine, child_sid).selectExpr(
        f"fkey AS __mk{i}", "true AS __isack")
    cerr = mismatch_rel(engine, child_sid).selectExpr(
        f"fkey AS __ok{i}", "__code AS __bub")
    okey = s_term_key("__eo")
    ee = (
        e.join(cm, F.expr(okey) == cm[f"__mk{i}"], "left")
        .join(cerr, F.expr(okey) == cerr[f"__ok{i}"], "left")
    )
    absent = _absent_code_sql(engine, child_sid, "__eo")
    return ee.selectExpr(
        "__ek", "__etid",
        "coalesce(__isack, false) AS __cok",
        f"CASE WHEN __isack IS NULL THEN "
        f"coalesce(__bub, {absent}) END AS __ccode",
    )


def _agg_item_outcomes(ee: DataFrame, i: int) -> DataFrame:
    """(__sk{i}, __nt{i}, __nm{i}, __fc{i}): total items, matching
    items, first (by tid) failing item's code."""
    return ee.groupBy("__ek").agg(
        F.expr("count(1)").alias(f"__nt{i}"),
        F.expr("count(CASE WHEN __cok THEN 1 END)").alias(f"__nm{i}"),
        F.expr("min(CASE WHEN NOT __cok THEN struct(__etid, __ccode) "
               "END).__ccode").alias(f"__fc{i}"),
    ).withColumnRenamed("__ek", f"__sk{i}")


def mismatch_rel(engine, sid: ShapeID) -> DataFrame:
    """Memoized (fkey, __gok, __code, __ord) relation of every scalar-
    base subject that does NOT match the record ``sid``:

    * ``__gok`` — the candidate passed the type-property gate (its
      failure is an ERROR at a non-strict root, frame.ts:248-253);
    * ``__code`` — the first failing property's reference error code
      in declaration order (type properties first);
    * ``__ord`` — subject order surrogate (min tid as subject).
    """
    key = sid.key()
    cached = engine._fast_errrel.get(key)
    if cached is not None:
        return cached

    shape: RecordShape = engine.catalog.get(sid)
    all_props: List[Tuple[Property, tuple]] = [
        (p, _classify(engine, p))
        for p in list(shape.type_properties) + list(shape.properties)
    ]
    n_type = len(shape.type_properties)

    # ---- scalar base with first-failing terms (one groupBy)
    rel = fastframe.scalar_counts(engine, all_props, first_fail=True)
    rel = rel.selectExpr("*", f"{_FOCUS_SQL} AS focus")

    oks: List[Optional[str]] = [None] * len(all_props)
    codes: List[Optional[str]] = [None] * len(all_props)

    # ---- scalar / anyleaf properties: counter expressions
    for i, (prop, plan) in enumerate(all_props):
        if plan[0] == "anyleaf":
            nm, nf = f"__nm{i}", f"__nf{i}"
            oks[i] = f"({nf} = 0 AND {nm} = 1)"
            codes[i] = (
                f"CASE WHEN {nf} > 0 THEN {ERR_SHAPE_MISMATCH} "
                f"WHEN {nm} = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
            continue
        if plan[0] != "scalar":
            continue
        kind, wrapper, leaf = plan[1], plan[2], plan[3]
        if is_self_path(prop.path):
            fail_f, code_f = engine._s_node_checks(leaf, "focus")
            oks[i] = f"(NOT {fail_f})"
            codes[i] = f"({code_f})"
            continue
        nm, nf = f"__nm{i}", f"__nf{i}"
        _, code_ff = engine._s_node_checks(leaf, f"(__ff{i}).o")
        if kind == "plain":
            oks[i] = (f"({nm} = 1)" if leaf.lenient else
                      f"({nf} = 0 AND {nm} = 1)")
            if leaf.lenient:
                codes[i] = (
                    f"CASE WHEN {nm} = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                    f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
            else:
                codes[i] = (
                    f"CASE WHEN {nf} > 0 THEN ({code_ff}) "
                    f"WHEN {nm} = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                    f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
        else:  # optional
            fails_ok = wrapper.lenient or leaf.lenient
            oks[i] = (f"({nm} <= 1)" if fails_ok else
                      f"({nf} = 0 AND {nm} <= 1)")
            mism = ("" if fails_ok else
                    f"WHEN {nf} > 0 THEN ({code_ff}) ")
            codes[i] = (
                f"CASE {mism}ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")

    # ---- join-kind properties (one N:1 join each)
    for i, (prop, plan) in enumerate(all_props):
        kind = plan[0]
        if kind in ("scalar", "anyleaf"):
            continue
        if kind == "record":
            e = _edges(engine, plan[1], plan[2])
            ce = _child_coded_edges(engine, e, plan[3], i)
            agg = _agg_item_outcomes(ce, i)
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            nt, nm = f"coalesce(__nt{i}, 0)", f"coalesce(__nm{i}, 0)"
            oks[i] = f"({nt} = 1 AND {nm} = 1)"
            codes[i] = (
                f"CASE WHEN {nt} = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                f"WHEN {nt} >= 2 THEN {ERR_MULTIPLE_PROPERTY_MATCHES} "
                f"ELSE __fc{i} END")
        elif kind == "optrec":
            e = _edges(engine, plan[1], plan[2])
            ce = _child_coded_edges(engine, e, plan[4], i)
            agg = _agg_item_outcomes(ce, i)
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            nt, nm = f"coalesce(__nt{i}, 0)", f"coalesce(__nm{i}, 0)"
            oks[i] = f"({nt} = {nm} AND {nm} <= 1)"
            codes[i] = (
                f"CASE WHEN {nt} != {nm} THEN __fc{i} "
                f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
        elif kind in ("bigset", "bigsetrec"):
            e = _edges(engine, plan[1], plan[2])
            sshape = plan[3]
            if kind == "bigset":
                leaf = plan[4]
                fail_x, code_x = engine._s_node_checks(leaf, "__eo")
                ce = e.selectExpr(
                    "__ek", "__etid", f"(NOT ({fail_x})) AS __cok",
                    f"CASE WHEN ({fail_x}) THEN ({code_x}) END AS __ccode")
            else:
                ce = _child_coded_edges(engine, e, plan[4], i)
            agg = _agg_item_outcomes(ce, i)
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            oks[i], codes[i] = _set_outcome(
                sshape, f"coalesce(__nt{i}, 0)", f"coalesce(__nm{i}, 0)",
                f"__fc{i}")
        elif kind in ("map", "mapref"):
            e = _edges(engine, plan[1], plan[2])
            ce = _child_coded_edges(engine, e, plan[4], i)
            agg = _agg_item_outcomes(ce, i)
            rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"], "left") \
                .drop(f"__sk{i}")
            nt, nm = f"coalesce(__nt{i}, 0)", f"coalesce(__nm{i}, 0)"
            oks[i] = f"({nt} = {nm})"
            codes[i] = f"__fc{i}"
        elif kind in ("pathset", "pathleaf"):
            from .paths import eval_path_universal

            leaf = plan[3]
            prel, inc_self = eval_path_universal(plan[1], engine.triples)
            if prel is not None:
                fail_x, code_x = engine._s_node_checks(leaf, "node")
                ce = prel.selectExpr(
                    "__u AS __ek", "tord AS __etid",
                    f"(NOT ({fail_x})) AS __cok",
                    f"CASE WHEN ({fail_x}) THEN ({code_x}) END AS __ccode",
                    f"({s_term_key('node')} = __u) AS __isself",
                )
                agg = ce.groupBy("__ek").agg(
                    F.expr("count(1)").alias(f"__nt{i}"),
                    F.expr("count(CASE WHEN __cok THEN 1 END)")
                    .alias(f"__nm{i}"),
                    F.expr("min(CASE WHEN NOT __cok THEN "
                           "struct(__etid, __ccode) END).__ccode")
                    .alias(f"__fc{i}"),
                    F.expr("max(CASE WHEN __isself THEN 1 ELSE 0 END)")
                    .alias(f"__sd{i}"),
                ).withColumnRenamed("__ek", f"__sk{i}")
                rel = rel.join(agg, rel["skey"] == agg[f"__sk{i}"],
                               "left").drop(f"__sk{i}")
            else:
                rel = rel.selectExpr(
                    "*", f"CAST(0 AS BIGINT) AS __nt{i}",
                    f"CAST(0 AS BIGINT) AS __nm{i}",
                    f"CAST(NULL AS INT) AS __fc{i}", f"0 AS __sd{i}")
            pt = f"coalesce(__nt{i}, 0)"
            pm = f"coalesce(__nm{i}, 0)"
            if inc_self:
                fail_f, code_f = engine._s_node_checks(leaf, "focus")
                self_ok = f"(NOT ({fail_f}))"
                dup = f"(coalesce(__sd{i}, 0) = 1)"
                nt = f"({pt} + IF({dup}, 0, 1))"
                nm = f"({pm} + IF({self_ok} AND NOT {dup}, 1, 0))"
                fc = (f"coalesce(__fc{i}, CASE WHEN NOT {self_ok} "
                      f"THEN ({code_f}) END)")
            else:
                nt, nm = pt, pm
                fc = f"__fc{i}"
            if kind == "pathleaf":
                wrapper = plan[2]
                if wrapper is None:
                    oks[i] = (f"({nm} = 1)" if leaf.lenient else
                              f"({nt} = {nm} AND {nm} = 1)")
                    codes[i] = (
                        f"CASE WHEN {nt} != {nm} THEN {fc} "
                        f"WHEN ({nm}) = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                        f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
                else:
                    fails_ok = wrapper.lenient or leaf.lenient
                    oks[i] = (f"({nm} <= 1)" if fails_ok else
                              f"({nt} = {nm} AND {nm} <= 1)")
                    codes[i] = (
                        f"CASE WHEN {nt} != {nm} THEN {fc} "
                        f"ELSE {ERR_MULTIPLE_PROPERTY_MATCHES} END")
            else:  # pathset
                oks[i], codes[i] = _set_outcome(plan[2], nt, nm, fc)
        else:  # pragma: no cover - _classify is exhaustive for fast trees
            raise AssertionError(f"unhandled fast plan kind {kind!r}")

    gate_parts = [oks[i] for i in range(n_type)]
    gok = "(" + " AND ".join(gate_parts) + ")" if gate_parts else "true"
    ok_all = "(" + " AND ".join(x for x in oks if x) + ")" if any(oks) \
        else "true"
    code_all = "coalesce(" + ", ".join(
        f"CASE WHEN NOT {oks[i]} THEN ({codes[i]}) END"
        for i in range(len(all_props))
    ) + ")"

    out = rel.where(f"NOT {ok_all}").selectExpr(
        "skey AS fkey", f"({gok}) AS __gok",
        f"CAST(({code_all}) AS INT) AS __code", "sord AS __ord",
    )
    engine._fast_errrel[key] = out
    return out


def root_errors(engine, sid: ShapeID) -> DataFrame:
    """ERROR_FIELDS rows for a non-strict root frame over a fast tree:
    gate-passing candidates that fail a regular property — exactly the
    rows the general compiler emits from its record-level ``prop_fail``
    channel (frame.ts:248-253 strictByType semantics)."""
    return mismatch_rel(engine, sid).where("__gok").selectExpr(
        "__code AS code", "CAST(NULL AS STRING) AS stack",
        "CAST(0 AS BIGINT) AS gord", "__ord AS ord",
        "CAST(1 AS BIGINT) AS site",
    )
