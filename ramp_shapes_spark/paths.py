"""Property-path evaluation over a triples DataFrame.

Semantics mirror the reference path evaluator (frame.ts:361-388 fast
paths; frame.ts:730-802 general ``findByPath``): every step produces a
*set* of terms per source row, so each step deduplicates; closure paths
(``zeroOrMore``/``oneOrMore``) run a breadth-first frontier loop with
dedup against the seen set.

Spark mapping: a step is an equi-join of the working set against the
triples table on ``(node == s, p == const)`` (forward) or
``(node == o, p == const)`` (inverse); closures are a driver-side loop
of such joins with ``localCheckpoint`` every few rounds to cut lineage
(the standard iterative-algorithm pattern on Spark; same shape as
connected components).

Note: the reference's *general* path evaluator has a reversed-predicate
slow-path bug (frame.ts:739 adds ``q.object`` even when matching
``(null, p, source)``); this engine implements the documented SPARQL
semantics instead — the fixtures only exercise the correct fast path.

The working-set DataFrame contract: one column ``node`` (TERM) plus
arbitrary carry-through key columns; the result replaces ``node`` with
reached terms, carries ``tord`` (min tid along the final step, used as
the dataset-order surrogate) and deduplicates per (keys, node).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dataset import term_key_col
from .shapes import (
    AlternativePath,
    InversePath,
    OneOrMorePath,
    PredicatePath,
    PropertyPath,
    SequencePath,
    ZeroOrMorePath,
    ZeroOrOnePath,
)

MAX_CLOSURE_ITERATIONS = 200

# The all-source universal closure is O(edges · diameter) on the
# chain/forest graphs shape workloads produce, but a DENSE reachability
# subgraph (or one very long chain) makes |R| grow toward |V|² — at
# 100× data that is a silent quadratic blow-up.  Cap the closure's
# growth at this multiple of the one-step relation and fail LOUDLY:
# callers can partition the graph or evaluate demand-driven instead.
MAX_CLOSURE_GROWTH = 64


class ClosureGrowthError(RuntimeError):
    """The all-source closure outgrew ``MAX_CLOSURE_GROWTH`` times its
    one-step relation; callers fall back to demand-driven evaluation."""


def _dedup(df: DataFrame, keys: List[str]) -> DataFrame:
    """Keep one row per (keys, node) with the smallest tord."""
    return df.groupBy(*keys, "node").agg(F.min("tord").alias("tord"))


def _predicate_step(
    df: DataFrame, keys: List[str], predicate: str, triples: DataFrame,
    reverse: bool,
) -> DataFrame:
    src, dst = ("o", "s") if reverse else ("s", "o")
    t = triples.filter(F.col("p") == F.lit(predicate)).select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"),
        F.col("tid").alias("__tid"),
    )
    joined = df.join(t, term_key_col(df["node"]) == term_key_col(t["__src"]))
    out = joined.select(*keys, F.col("__dst").alias("node"),
                        F.col("__tid").alias("tord"))
    return _dedup(out, keys)


def _full_step_relation(
    inner: PropertyPath, triples: DataFrame, reverse: bool,
) -> DataFrame:
    """One application of ``inner`` from every term in the graph.

    Returns the full edge relation (__u = source term key, node =
    reached term, tord = min tid over the final step), which is the
    correct pointer-doubling base: every possible reachability
    intermediate is a source row.  Plain predicate paths (the common
    case) project the filtered triples directly — zero joins.
    """
    if isinstance(inner, InversePath):
        return _full_step_relation(inner.inverse, triples, not reverse)
    if isinstance(inner, PredicatePath):
        src, dst = ("o", "s") if reverse else ("s", "o")
        # no dedup shuffle: dataset-built triples are distinct per
        # (s, p, o) (dataset.py build), so single-predicate (u, node)
        # pairs are already unique
        return triples.filter(F.col("p") == F.lit(inner.predicate)).select(
            term_key_col(F.col(src)).alias("__u"),
            F.col(dst).alias("node"),
            F.col("tid").alias("tord"),
        )
    # Composite inner (sequence/alternative/nested closure): seed from
    # every distinct term appearing anywhere in the graph; the first
    # join of the path prunes non-starters.
    seeds = (
        triples.select(F.col("s").alias("node"))
        .unionAll(triples.select(F.col("o").alias("node")))
        .groupBy("node").agg(F.lit(0).alias("__z"))
        .select(
            term_key_col(F.col("node")).alias("__u"),
            "node", F.lit(0).cast("long").alias("tord"),
        )
    )
    return eval_path(inner, seeds, ["__u"], triples, reverse)


def eval_path(
    path: PropertyPath,
    df: DataFrame,
    keys: List[str],
    triples: DataFrame,
    reverse: bool = False,
) -> DataFrame:
    """Evaluate ``path`` from every row of ``df`` (column ``node``).

    Returns a DataFrame with the same ``keys`` columns, reached terms in
    ``node`` and ``tord``.  ``df`` must already carry a ``tord`` column
    (source order; kept for empty-sequence identity).
    """
    if isinstance(path, PredicatePath):
        return _predicate_step(df, keys, path.predicate, triples, reverse)

    if isinstance(path, SequencePath):
        steps = list(path.sequence)
        if reverse:
            steps = [InversePath(s) for s in reversed(steps)]
        out = df
        if not steps:
            return _dedup(out.select(*keys, "node", "tord"), keys)
        for step in steps:
            out = eval_path(step, out, keys, triples, reverse=False)
        return out

    if isinstance(path, InversePath):
        return eval_path(path.inverse, df, keys, triples, reverse=not reverse)

    if isinstance(path, AlternativePath):
        outs = [
            eval_path(alt, df, keys, triples, reverse)
            for alt in path.alternatives
        ]
        union = outs[0]
        for other in outs[1:]:
            union = union.unionAll(other)
        return _dedup(union, keys)

    if isinstance(path, ZeroOrOnePath):
        # self ∪ one step — no iteration, no driver actions
        step = eval_path(path.path, df, keys, triples, reverse)
        return _dedup(df.select(*keys, "node", "tord").unionAll(step), keys)

    if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
        inner = path.path
        include_self = isinstance(path, ZeroOrMorePath)
        return _closure_from_sites(df, keys, inner, triples, reverse,
                                   include_self)

    raise TypeError(f"unknown path {path!r}")


def _closure_from_sites(df: DataFrame, keys: List[str], inner,
                        triples: DataFrame, reverse: bool,
                        include_self: bool) -> DataFrame:
    # Transitive closure by POINTER DOUBLING over the FULL one-step
    # relation: R_{k+1} = R_k ∪ R_k∘R_k covers distances 1..2^(k+1),
    # so the driver loop runs ceil(log2(diameter)) rounds instead of
    # `diameter` (a 7-hop chain closes in 3 rounds, a 10^6-hop chain
    # in 20).  The base relation E is ``inner`` applied from EVERY
    # term in the graph — NOT just df's candidate nodes — because
    # R∘R composition requires every reachability intermediate to be
    # a source already present in R; seeding only from candidates
    # truncates reachability through non-candidate nodes at distance
    # 1 (round-3 ADVICE, high).  For a plain predicate path E is a
    # direct projection of the filtered triples (no seed join at
    # all).  The relation is keyed by the source TERM, not the
    # per-site candidate key — sites re-join at the end, so the
    # loop's shuffles move (u, v) term pairs only.  Closure components
    # in shape workloads are chains/forests, so the all-source closure
    # is O(edges · diameter), not all-pairs dense; when the growth
    # guard trips anyway (dense or very deep reachability), evaluation
    # FALLS BACK to the demand-driven frontier loop below — bounded by
    # the seeds' actual reachable set, at diameter-many rounds.
    try:
        r = _closure(_full_step_relation(inner, triples, reverse))
    except ClosureGrowthError:
        return _seeded_closure(df, keys, inner, triples, reverse,
                               include_self)

    # re-attach per-site keys; self pairs keep the site row's tord
    # (distinct internal join name: callers may key on "__u")
    back = df.select(*keys,
                     term_key_col(F.col("node")).alias("__closure_src"))
    rr = r.withColumnRenamed("__u", "__closure_src")
    reached = back.join(rr, "__closure_src").select(*keys, "node", "tord")
    if include_self:
        reached = df.select(*keys, "node", "tord").unionAll(reached)
    return _dedup(reached, keys)


def _seeded_closure(df: DataFrame, keys: List[str], inner,
                    triples: DataFrame, reverse: bool,
                    include_self: bool) -> DataFrame:
    """Demand-driven closure: breadth-first frontier expansion from the
    site rows' own nodes, one ``inner`` hop per round, each round
    anti-joined against everything already reached.  O(reachable-set)
    work regardless of how dense the rest of the graph is — the
    fallback when the all-source pointer-doubling closure would go
    quadratic.  No composition is involved, so reaching THROUGH
    non-candidate intermediates is naturally covered (each hop starts
    from the previous hop's frontier, whatever its nodes are)."""
    frontier = _dedup(df.select(*keys, "node", "tord"), keys)
    acc: DataFrame | None = None  # reached at distance >= 1, with __nk
    for _ in range(MAX_CLOSURE_ITERATIONS):
        step = eval_path(inner, frontier, keys, triples, reverse)
        stepk = step.withColumn("__nk", term_key_col(F.col("node")))
        if acc is not None:
            # explicit re-projection: a USING-columns anti-join moves
            # the join keys to the front and unionAll is positional
            new = stepk.join(acc.select(*keys, "__nk"),
                             [*keys, "__nk"], "left_anti") \
                .select(*keys, "node", "tord", "__nk")
        else:
            new = stepk.select(*keys, "node", "tord", "__nk")
        new = new.localCheckpoint(eager=False)
        if new.count() == 0:
            break
        acc = new if acc is None else \
            acc.unionAll(new).localCheckpoint(eager=False)
        frontier = new.drop("__nk")
    else:
        raise RuntimeError("seeded property-path closure exceeded "
                           "iteration cap")
    parts = []
    if include_self:
        parts.append(df.select(*keys, "node", "tord"))
    if acc is not None:
        # BFS discovery kept each node's first-round tord, but the
        # pointer-doubling closure dedups to the MIN final-step tid
        # over all derivations — recompute the same semantics with one
        # extra hop over the full reached set S = seeds ∪ acc: S is
        # closed under ``inner``, so the hop's targets are exactly
        # acc's nodes, and eval_path's dedup takes the min tid over
        # ALL in-edges from S.  Keeps framed-value ordering identical
        # whichever side of the growth-guard threshold the data lands.
        reached = _dedup(
            df.select(*keys, "node", "tord").unionAll(acc.drop("__nk")),
            keys)
        parts.append(eval_path(inner, reached, keys, triples, reverse))
    if not parts:
        return _dedup(df.select(*keys, "node", "tord").limit(0), keys)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return _dedup(out, keys)


def _closure(base: DataFrame) -> DataFrame:
    """Transitive closure (distance >= 1) of a keyed one-step relation
    (__u, node, tord); see the closure commentary in :func:`eval_path`.

    The doubling loop runs over COMPACT rows (__u, __vk, tord) — the
    reached term collapsed to its flat string key — instead of carrying
    the 4-field TERM struct through every join, dedup and checkpoint of
    every round; the struct is restored once at exit by one join
    against the (much smaller) distinct-node side map.  Per-round
    shuffle bytes roughly halve and the dedup groups by two flat
    strings instead of (string, struct)."""
    nodes = base.select(
        term_key_col(F.col("node")).alias("__vk"), "node"
    ).dropDuplicates(["__vk"]).localCheckpoint(eager=False)
    r = base.select(
        "__u", term_key_col(F.col("node")).alias("__vk"), "tord"
    ).localCheckpoint(eager=False)
    total = r.count()
    base_rows = max(total, 1)
    iterations = 0
    while total > 0:
        iterations += 1
        if iterations > MAX_CLOSURE_ITERATIONS:
            raise RuntimeError("property-path closure exceeded iteration cap")
        right = r.selectExpr("__u AS __w", "__vk", "tord")
        # shuffle_hash: both sides are narrow flat-string rows and the
        # sort-merge sorts repeat every doubling round — pure overhead
        # (same trade as the CC loop joins, canonicalize.py)
        comp = r.select("__u", F.col("__vk").alias("__w")) \
            .join(right.hint("shuffle_hash"), "__w") \
            .select("__u", "__vk", "tord")
        nxt = r.unionAll(comp) \
            .groupBy("__u", "__vk").agg(F.min("tord").alias("tord")) \
            .localCheckpoint(eager=False)
        n = nxt.count()
        if n > base_rows * MAX_CLOSURE_GROWTH:
            raise ClosureGrowthError(
                f"property-path closure grew to {n} pairs from a "
                f"{base_rows}-row one-step relation (> "
                f"{MAX_CLOSURE_GROWTH}x): the reachability graph is too "
                f"dense/deep for the all-source closure — partition the "
                f"graph or evaluate the path demand-driven (refusing to "
                f"go quadratic)")
        r = nxt
        if n == total:
            break
        total = n
    return r.join(nodes.hint("shuffle_hash"), "__vk") \
        .select("__u", "node", "tord")


def _compose_universal(a, a_self: bool, b, b_self: bool):
    """Compose two universal keyed relations: (A ∪ I?)∘(B ∪ I?) =
    A∘B ∪ (A if B has identity) ∪ (B if A has identity), identity iff
    both have it.  ``None`` stands for the empty relation (pure
    identity when the flag is set)."""
    parts = []
    joined = False
    if a is not None and b is not None:
        left = a.select("__u", term_key_col(F.col("node")).alias("__vk"))
        right = b.select(F.col("__u").alias("__vk"), "node", "tord")
        parts.append(left.join(right, "__vk").select("__u", "node", "tord"))
        joined = True
    if a is not None and b_self:
        parts.append(a)
    if b is not None and a_self:
        parts.append(b)
    if not parts:
        return None, a_self and b_self
    rel = parts[0]
    for other in parts[1:]:
        rel = rel.unionAll(other)
    # The A∘B join multiplies rows per reachability intermediate (a
    # diamond u-a->m1/m2, both -b->v emits (u, v) twice); the path
    # contract is a term SET per source, so dedup whenever the join
    # contributed a part — not only on multi-part unions.
    if joined or len(parts) > 1:
        rel = _dedup(rel, ["__u"])
    return rel, a_self and b_self


def eval_path_universal(
    path: PropertyPath, triples: DataFrame, reverse: bool = False,
):
    """``(rel, includes_self)``: ``path`` applied from EVERY term of the
    graph as a keyed relation (``__u`` = source term key, ``node``
    reached term, ``tord`` = min tid of the final step) that EXCLUDES
    identity pairs; ``includes_self`` reports whether the path's
    semantics add the source itself (zeroOrOne/zeroOrMore/empty
    sequence).  Callers holding per-site seed rows splice the self item
    from their own columns — no seed join, no universe scan; extra
    sources are pruned by the caller's join back to its sites.
    ``rel`` is ``None`` for the pure-identity path."""
    if isinstance(path, InversePath):
        return eval_path_universal(path.inverse, triples, not reverse)
    if isinstance(path, PredicatePath):
        return _full_step_relation(path, triples, reverse), False
    if isinstance(path, SequencePath):
        steps = list(path.sequence)
        if reverse:
            steps = [InversePath(s) for s in reversed(steps)]
        rel, inc = None, True
        for step in steps:
            srel, sinc = eval_path_universal(step, triples)
            rel, inc = _compose_universal(rel, inc, srel, sinc)
        return rel, inc
    if isinstance(path, AlternativePath):
        rels, inc = [], False
        for alt in path.alternatives:
            arel, ainc = eval_path_universal(alt, triples, reverse)
            if arel is not None:
                rels.append(arel)
            inc = inc or ainc
        if not rels:
            return None, inc
        u = rels[0]
        for other in rels[1:]:
            u = u.unionAll(other)
        return (_dedup(u, ["__u"]) if len(rels) > 1 else u), inc
    if isinstance(path, ZeroOrOnePath):
        rel, _ = eval_path_universal(path.path, triples, reverse)
        return rel, True
    if isinstance(path, (ZeroOrMorePath, OneOrMorePath)):
        inner_rel, inner_inc = eval_path_universal(path.path, triples,
                                                   reverse)
        include_self = isinstance(path, ZeroOrMorePath) or inner_inc
        if inner_rel is None:
            return None, include_self
        return _closure(inner_rel), include_self
    raise TypeError(f"unknown path {path!r}")
