"""Entity canonicalization: connected components over candidate-link
edges, with explicit skew defenses.

Algorithm: **contraction with pointer jumping** (the logarithmic-round
MapReduce CC family of Rastogi et al., ICDE'13, and Kiveris et al.,
SoCC'14).  Each phase builds the min-parent forest parent(n) = min(n,
min neighbor), pointer-jumps every node to its forest root in
⌈log₂ depth⌉ narrow self-joins, then contracts the edge set through
the root map and recurses on the root graph — which is orders of
magnitude smaller after one phase on skewed graphs.

Skew defenses (the Zipf head entity can carry a double-digit share of
all edges):

* the only per-node aggregation is ``groupBy().min()`` — Spark's
  partial (map-side) aggregation collapses hot keys before shuffle;
* every join in the loop is N:1 against a functional map (one row per
  node), so no join can explode rows; AQE skew-join splitting handles
  residual reducer imbalance (the engine never touches session confs);
* mention↔entity bipartite graphs contract to (near) nothing in one
  phase: every mention's parent is its entity's minimum directly.

Driver loop cost: exactly ONE action per jump round (the changed-row
count) and one per phase (surviving-edge count); each action also
materializes that step's lazy ``localCheckpoint`` (lineage cut and
convergence probe share a job).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 50


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint`` DataFrame.
    ``DataFrame.unpersist`` does not reach them: they belong to the RDD
    the checkpoint wraps, not to the cache manager.  ``df`` must not be
    read afterwards."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _nbrs(edges: DataFrame) -> DataFrame:
    """Undirected adjacency (n, x), self-loops removed.

    NOT deduplicated: every consumer (min aggregation, degree ranking,
    star connection followed by a final ``distinct``) is duplicate-
    tolerant, and skipping the dedup saves one full shuffle per use."""
    fwd = edges.select(F.col("src").alias("n"), F.col("dst").alias("x"))
    rev = edges.select(F.col("dst").alias("n"), F.col("src").alias("x"))
    return fwd.unionAll(rev).filter(F.col("n") != F.col("x"))


def _min_nbr(nbrs: DataFrame) -> DataFrame:
    """m(n) = min over neighbors and self (map-side combine collapses
    hot keys)."""
    return (
        nbrs.groupBy("n")
        .agg(F.min("x").alias("mn"))
        .select("n", F.least(F.col("n"), F.col("mn")).alias("m"))
    )


def _jump_to_roots(parent: DataFrame, round_secs: list) -> DataFrame:
    """(n, r): the root of every node in a min-parent forest, by
    pointer jumping — r <- r(r(n)) until fixpoint.

    ``parent`` is functional (one row per node) and decreasing
    (m <= n), so each jump is an N:1 equi-join with no row explosion,
    and ⌈log₂(max tree depth)⌉ + 1 rounds suffice.  Each round runs
    exactly ONE action: the changed-row count, which also materializes
    the round's lazy checkpoint.

    **Frontier optimization**: a row whose target didn't move points at
    a fixpoint of the map — a root — and can never change again, so
    only the changed rows stay in the join's left side.  The active
    set shrinks geometrically (most mass sits 1-2 hops from a root on
    skewed graphs); once it's small, its distinct lookup keys
    broadcast-semi-prune the map side too, so late rounds scan the big
    checkpointed map map-side instead of re-shuffling all of it."""
    import time as _time

    # roots (m == n) are fixpoints of the map from the start: they can
    # never change, so they go straight to the done set — on hub-major
    # forests that removes the (large) root fraction from round 1's
    # left side for free (they stay visible as right-side targets)
    done_parts: list = [
        parent.filter(F.col("m") == F.col("n"))
        .select("n", F.col("m").alias("r"))
    ]
    active = parent.filter(F.col("m") != F.col("n")) \
        .select("n", F.col("m").alias("r"))
    # Round 1 has no changed-row count yet, so it used to join the FULL
    # map as its right side — on a 10M-node graph that is the single
    # biggest shuffle of the jump loop, while the lookup keys it needs
    # (the distinct PARENT values) are only the non-leaf nodes, a small
    # set on hub-major forests.  Probe their count once (map-side
    # combine collapses the 10M rows to the distinct parents before the
    # exchange) and, when small, broadcast-semi-prune round 1's right
    # side exactly like the later rounds.
    first_keys = active.select(F.col("r").alias("__n2")).distinct() \
        .localCheckpoint(eager=False)
    n_keys = first_keys.count()
    n_active = None
    for _ in range(MAX_ROUNDS):
        _t0 = _time.time()
        full = active
        for part in done_parts:
            full = full.unionAll(part)
        right = full.selectExpr("n AS __n2", "r AS __r2")
        if n_active is None:
            if n_keys <= 1_000_000:
                right = right.join(F.broadcast(first_keys), "__n2",
                                   "leftsemi")
        elif n_active <= 1_000_000:
            keys = active.select(F.col("r").alias("__n2")).distinct()
            right = right.join(F.broadcast(keys), "__n2", "leftsemi")
        nxt = (
            # shuffle_hash: both sides are narrow (n, r) long pairs —
            # the sort-merge sorts are pure overhead per round
            active.join(right.hint("shuffle_hash"),
                        F.col("r") == F.col("__n2"))
            .select(F.col("n"),
                    (F.col("__r2") != F.col("r")).alias("__chg"),
                    F.col("__r2").alias("r"))
            .localCheckpoint(eager=False)
        )
        n_active = nxt.agg(
            F.coalesce(F.sum(F.col("__chg").cast("long")), F.lit(0))
        ).collect()[0][0]
        done_parts.append(nxt.filter(~F.col("__chg")).select("n", "r"))
        active = nxt.filter(F.col("__chg")).select("n", "r")
        round_secs.append(round(_time.time() - _t0, 2))
        if n_active == 0:
            out = done_parts[0]
            for part in done_parts[1:]:
                out = out.unionAll(part)
            return out
    raise RuntimeError("pointer jumping did not converge")



def _union_find(edges: DataFrame) -> dict:
    """node → component-minimum for graphs that fit trivially in driver
    memory — ~10 driver-loop rounds of cluster jobs on a 1k-edge graph
    is pure scheduling overhead."""
    parent: dict = {}

    def find(a: str) -> str:
        r = a
        while parent[r] != r:
            r = parent[r]
        while parent[a] != r:
            parent[a], a = r, parent[a]
        return r

    for row in edges.select("src", "dst").collect():
        a, b = row["src"], row["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by lexicographic minimum keeps the invariant that
            # the final representative is the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _driver_cc(edges: DataFrame) -> DataFrame:
    """Distributed contract over :func:`_union_find`."""
    comp = _union_find(edges)
    return edges.sparkSession.createDataFrame(
        list(comp.items()), "node string, component string")


def connected_components(edges: DataFrame, hot_k: int = 64,
                         stats: dict | None = None,
                         driver_threshold: int = 500_000) -> DataFrame:
    """(node, component) for every node in ``edges`` (src/dst string
    columns); component = lexicographic minimum of the component.

    Distributed algorithm: **contraction** (Rastogi et al., "Finding
    Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13
    family).  Each phase (a) builds the min-parent forest parent(n) =
    min(n, min neighbor) — one map-side-combined groupBy, so Zipf-head
    hubs collapse before the shuffle; (b) pointer-jumps every node to
    its forest root in ⌈log₂ depth⌉ narrow self-joins; (c) contracts
    the edge set through the root map and recurses on the (much
    smaller) root graph.  A Zipf-skewed 10⁷-edge graph contracts to
    under ``driver_threshold`` in 1-2 phases, vs ~11 alternating
    large-/small-star rounds of 4-5 full-width shuffles each — the
    phase joins are all N:1 (no explosion), need no hot-key broadcast,
    and every action per round is a count.

    ``hot_k`` is retained for API compatibility; the contraction path
    needs no hot-node dictionary (partial aggregation absorbs skew).
    Graphs at or below ``driver_threshold`` edges (initially or after
    any contraction) finish on the driver via union-find; pass 0 to
    force full distributed convergence.  The default crossover is set
    from measurement: one distributed contraction phase has ~6 s of
    fixed driver-round cost at ANY size (min-parent groupBy + ~5 jump
    rounds + contraction joins), while collect + union-find on 500 k
    narrow edge rows is ~2.5 s and ~20 MB of driver memory.

    Pass a dict as ``stats`` to receive ``{"rounds", "phases",
    "round_secs", "round_edges"}`` (rounds = total pointer-jump rounds
    across phases; round_edges = surviving edges after each phase).

    **Long-id encoding**: before the distributed loop, node strings are
    dictionary-encoded to dense 64-bit ids and every phase runs on
    longs — roughly half the shuffle bytes and O(1) hash/compare in
    every groupBy/join of the O(log n)-round loop, paid for with a
    handful of one-off encode/decode exchanges (the trade that LOSES on
    the 4-round path closures at 10⁶ rows wins here: 10-20M-row
    relations × ~14 rounds).  Contraction is correct under ANY total
    order, so the ids need not preserve string order; the public
    contract (component = lexicographic minimum node string) is
    restored at exit by one per-component min-string aggregation."""
    import time as _time

    # NO initial distinct: every consumer is duplicate-tolerant (the
    # degree groupBy absorbs multiplicity map-side, _min_nbr is a min,
    # and the first contraction's distinct dedups in cheap long space),
    # so the full-width string dedup shuffle of the raw edge list was
    # pure overhead (measured 7.0 s -> 3.7 s on the 10M-edge bench).
    # ``n_edges`` is then the RAW count — the driver-threshold check
    # only becomes more conservative (a dup-heavy small graph may take
    # the distributed path it didn't need; never the reverse).
    import os as _os
    _dbg = _os.environ.get("SPARK_GRAFT_CC_DEBUG")

    def _dlog(msg: str, t0: float) -> None:
        if _dbg:
            print(f"[cc] {msg}: {_time.time() - t0:.2f}s", flush=True)

    _t = _time.time()
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst")) \
        .localCheckpoint(eager=False)
    n_edges = cur.count()  # materializes the checkpoint
    _dlog(f"edge checkpoint+count ({n_edges})", _t)
    if driver_threshold > 0 and n_edges <= driver_threshold:
        if stats is not None:
            stats["rounds"] = 0
            stats["phases"] = 0
        return _driver_cc(cur)

    # Dictionary ids are DEGREE-MAJOR: the id's high 20 bits hold the
    # inverted (capped) degree, low bits a deterministic counter — so
    # the MINIMUM id of any neighborhood is its highest-degree node and
    # the min-parent forest roots at hubs.  On skewed graphs that is
    # what makes one phase contract the Zipf head; an arbitrary id
    # order was measured to leave 4.6M of 10M edges alive after phase 1
    # vs ~0.5M with hub-major order.
    #
    # The low-bit counter only needs to be UNIQUE and CONSISTENT for
    # the run — contraction is correct under any total order, component
    # MEMBERSHIP is id-invariant, and the public representative (min
    # node STRING per component) is restored from membership at exit —
    # so the cheap counter is ``monotonically_increasing_id`` frozen by
    # an EAGER checkpoint: materialization happens in ONE job before
    # either ``enc`` join subtree reads it, each partition's block is
    # written exactly once, and every consumer sees the same frozen
    # ids (the round-5 hazard — two lazy first-computations of a
    # partition handing a node two ids — cannot occur on materialized
    # blocks).  This drops the row_number window's full shuffle + sort
    # of the node table that the r5 dictionary paid.  mid values are
    # bounded by partitions·2^33, so the degree bits at 42+ stay
    # collision-free only when the shuffle produces <= 512 partitions —
    # guarded below, with the r5 window path as the fallback for
    # higher-parallelism sessions.
    cap = (1 << 20) - 1
    spark = cur.sparkSession
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_shuffle = 1 << 30
    try:
        n_initial = int(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    except Exception:
        n_initial = 0
    _t = _time.time()
    deg = (
        cur.select(F.col("src").alias("__ns"))
        .unionAll(cur.select(F.col("dst").alias("__ns")))
        .groupBy("__ns").agg(F.count(F.lit(1)).alias("__deg"))
    )
    inv_deg = F.shiftleft(
        (F.lit(cap) - F.least(F.col("__deg"), F.lit(cap))).cast("long"), 42)
    if max(n_shuffle, n_initial) <= 512:
        dic = deg.select(
            "__ns",
            (inv_deg + F.monotonically_increasing_id()).alias("__nid"),
        ).localCheckpoint(eager=True)
    else:
        # r5 path: counter = hash partition (10 bits) + row_number over
        # the partition ordered by (xxhash64, string) — a deterministic
        # pure function of the node string at any parallelism
        from pyspark.sql import Window

        w = Window.partitionBy("__part").orderBy(F.xxhash64("__ns"), "__ns")
        dic = (
            deg.withColumn(
                "__part",
                F.pmod(F.xxhash64("__ns"), F.lit(1024)).cast("long"))
            .select(
                "__ns",
                (inv_deg + F.shiftleft(F.col("__part"), 32)
                 + F.row_number().over(w).cast("long")).alias("__nid"),
            )
            .localCheckpoint(eager=True)
        )
    _dlog("dictionary build", _t)
    # shuffle_hash hints on the dictionary joins: every row is narrow
    # (string key + long id), per-partition hash builds are a few MB at
    # bench scale and stay proportional when shuffle partitions scale
    # with the data; the sort-merge sorts they replace are pure CPU
    enc = (
        cur.join(dic.selectExpr("__ns AS src", "__nid AS __se")
                 .hint("shuffle_hash"), "src")
        .join(dic.selectExpr("__ns AS dst", "__nid AS __de")
              .hint("shuffle_hash"), "dst")
        .select(F.col("__se").alias("src"), F.col("__de").alias("dst"))
        .localCheckpoint(eager=False)
    )
    if _dbg:
        _t = _time.time()
        enc.count()
        _dlog("edge encode", _t)
    _t = _time.time()
    ids = _cc_core(enc, n_edges, stats=stats,
                   driver_threshold=driver_threshold)
    _dlog("cc core", _t)
    dec = ids.join(dic.selectExpr("__nid AS node", "__ns")
                   .hint("shuffle_hash"), "node")
    reps = dec.groupBy("component").agg(F.min("__ns").alias("__rep"))
    # no join hint on the reps side: it holds ONE row per component, so
    # AQE usually turns this into a broadcast join at runtime (a forced
    # shuffle_hash re-shuffled all 10.7M decoded rows a third time)
    return dec.join(reps, "component").select(
        F.col("__ns").alias("node"), F.col("__rep").alias("component"))


def _cc_core(cur: DataFrame, n_edges: int,
             stats: dict | None = None,
             driver_threshold: int = 100_000) -> DataFrame:
    """Contraction loop over long-encoded, deduped, self-loop-free
    edges; returns (node, component) as longs (component = minimum
    encoded id, an arbitrary but consistent representative)."""
    import time as _time

    spark = cur.sparkSession
    mapping = None          # (n, r): original node -> current root
    jump_secs: list = []
    phase_secs: list = []
    phase_edges: list = []
    comp_small: dict | None = None
    for _phase in range(MAX_ROUNDS):
        _t0 = _time.time()
        parent = _min_nbr(_nbrs(cur)).localCheckpoint(eager=False)
        root = _jump_to_roots(parent, jump_secs)
        if mapping is None:
            mapping = root
        else:
            # singleton roots (no surviving edges last phase) are
            # absent from this phase's forest -> left join + coalesce
            mapping = (
                mapping.join(
                    root.selectExpr("n AS __rn", "r AS __rr"),
                    mapping["r"] == F.col("__rn"), "left")
                .select("n", F.coalesce("__rr", "r").alias("r"))
            )
        mapping = mapping.localCheckpoint(eager=False)
        cur = (
            cur.join(root.selectExpr("n AS __sn", "r AS __sr")
                     .hint("shuffle_hash"),
                     F.col("src") == F.col("__sn"))
            .select(F.col("__sr").alias("src"), "dst")
            .join(root.selectExpr("n AS __dn", "r AS __dr")
                  .hint("shuffle_hash"),
                  F.col("dst") == F.col("__dn"))
            .select("src", F.col("__dr").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct().localCheckpoint(eager=False)
        )
        n_edges = cur.count()
        phase_secs.append(round(_time.time() - _t0, 2))
        phase_edges.append(n_edges)
        if __import__("os").environ.get("SPARK_GRAFT_CC_DEBUG"):
            print(f"[cc] phase {_phase + 1}: {phase_secs[-1]}s "
                  f"edges={n_edges} jumps={len(jump_secs)} "
                  f"jump_secs={jump_secs}", flush=True)
        if n_edges == 0:
            break
        if driver_threshold > 0 and n_edges <= driver_threshold:
            comp_small = _union_find(cur)
            break
    else:
        raise RuntimeError("connected components did not converge")

    if stats is not None:
        stats["rounds"] = len(jump_secs)
        stats["phases"] = len(phase_secs)
        stats["round_secs"] = phase_secs
        stats["round_edges"] = phase_edges

    result = mapping.select(F.col("n").alias("node"),
                            F.col("r").alias("component"))
    if comp_small:
        # residual roots resolved on the driver: small broadcast map,
        # roots not in it are already component minima
        cm = spark.createDataFrame(
            list(comp_small.items()), "rt long, comp long")
        result = (
            result.join(F.broadcast(cm),
                        result["component"] == cm["rt"], "left")
            .select("node",
                    F.coalesce("comp", "component").alias("component"))
        )
    return result



def canonical_entity_map(link_edges: DataFrame, hot_k: int = 64,
                         driver_threshold: int = 500_000) -> DataFrame:
    """(node, canonical) where canonical is the component's entity id
    (prefer ``entity:`` nodes as representatives over mention nodes).

    Small graphs resolve entirely on the driver (union-find plus rep
    selection in one pass — the distributed rep groupBy/join is 3-4
    cluster jobs of pure overhead at that size).  No dedup pass: the
    union-find and the distributed contraction are both duplicate-
    tolerant, so the distinct shuffle was pure overhead."""
    cur = link_edges.select("src", "dst") \
        .filter(F.col("src") != F.col("dst")) \
        .localCheckpoint(eager=False)
    if driver_threshold > 0 and cur.count() <= driver_threshold:
        comp = _union_find(cur)
        release_checkpoint(cur)
        by_comp: dict = {}
        for n, c in comp.items():
            key = (0 if n.startswith("entity:") else 1, n)
            if c not in by_comp or key < by_comp[c]:
                by_comp[c] = key
        rows = [(n, by_comp[c][1]) for n, c in comp.items()]
        return link_edges.sparkSession.createDataFrame(
            rows, "node string, canonical string")
    cc = connected_components(cur, hot_k=hot_k, driver_threshold=0)
    reps = (
        cc.withColumn(
            "__pref",
            F.when(F.col("node").startswith("entity:"), 0).otherwise(1),
        )
        .groupBy("component")
        .agg(F.min(F.struct("__pref", "node")).alias("rep"))
        .select("component", F.col("rep")["node"].alias("canonical"))
    )
    return cc.join(reps, "component").select("node", "canonical")
