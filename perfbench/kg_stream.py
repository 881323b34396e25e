"""``kg_stream``: a backlog of small, event-time-ordered transcript drops
drained by ``stream_kg_ingest(max_files_per_trigger=1)``, one drop per
micro-batch, each batch writing its own bucketed triple table.

One timed operation is one drain of the whole backlog into a fresh
table root and checkpoint (closed loop, one client).  The warm-up drains
the first drop alone, which compiles every plan a micro-batch runs and
gives the reference that batch 0 of every later drain must equal.  The
traced run calls the layers of one micro-batch one at a time over the
same backlog, then drains the stream once more under its own span.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from checks import UnionFind, precision_recall
from harness import Measured, host_cpus, median

from ramp_shapes_spark.flatten import flatten_triples
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pipeline.canonicalize import (
    canonical_entity_map, connected_components,
)
from ramp_shapes_spark.pipeline.datagen import (
    generate_transcripts, ground_truth_mentions,
)
from ramp_shapes_spark.pipeline.kgshapes import build_kg_catalog, kg
from ramp_shapes_spark.pipeline.materialize import (
    materialize_triples, read_triples,
)
from ramp_shapes_spark.pipeline.mentions import (
    detect_mentions, link_edges, score_links,
)
from ramp_shapes_spark.pipeline.run import (
    canonicalize_triples, extraction_triples, run_pipeline,
)
from ramp_shapes_spark.streaming.ingest import (
    TURN_SCHEMA, read_stream_triples, stream_kg_ingest,
)

N_DROPS = 2
CONVS_PER_DROP = 40
N_ENTITIES = 200
N_BUCKETS = 16

P_MENTIONS, P_SURFACE, P_ENTITY = kg("mentions"), kg("surface"), kg("entity")


# ------------------------------------------------------------------ inputs

def write_drops(spark, seed: int, dest: str) -> None:
    """Write the backlog: drop k holds conversations
    ``[k*CONVS_PER_DROP, (k+1)*CONVS_PER_DROP)``.  Event time grows with
    the conversation number, and file names and modification times grow
    with k, so the file source replays drops in event-time order and the
    watermark never drops a turn."""
    shutil.rmtree(dest, ignore_errors=True)
    stage = dest + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    turns = generate_transcripts(spark, N_DROPS * CONVS_PER_DROP, seed=seed,
                                 n_entities=N_ENTITIES,
                                 partitions=host_cpus())
    conv_n = F.substring("conv_id", 5, 8).cast("long")
    (turns.withColumn("drop", (conv_n / CONVS_PER_DROP).cast("int"))
     .repartition("drop").write.partitionBy("drop").parquet(stage))
    os.makedirs(dest)
    t0 = time.time() - 3600
    for k in range(N_DROPS):
        [part] = glob.glob(os.path.join(stage, f"drop={k}", "*.parquet"))
        target = os.path.join(dest, f"drop-{k:05d}.parquet")
        os.replace(part, target)
        os.utime(target, (t0 + k, t0 + k))
    shutil.rmtree(stage)


def expected_mentions(spark, seed: int) -> dict:
    """Per drop, the mention tuples ``(conv_id, turn_idx, surface,
    canonical entity)`` the stream must materialize.  The canonical
    entity comes from an independent union-find over the drop's link
    graph (mention surface node -- entity node), with the pipeline's
    representative rule: an ``entity:`` node first, then the least id."""
    rows = ground_truth_mentions(
        spark, N_DROPS * CONVS_PER_DROP, seed=seed, n_entities=N_ENTITIES,
        partitions=host_cpus()).collect()
    by_drop: dict = {}
    for r in rows:
        by_drop.setdefault(int(r["conv_id"][4:]) // CONVS_PER_DROP,
                           []).append(r)
    out = {}
    for k, drop_rows in by_drop.items():
        uf = UnionFind()
        for r in drop_rows:
            uf.union(mention_node(r["surface"]), "entity:acme%05d" % r["rank"])
        rep = {root: min(g, key=lambda n: (not n.startswith("entity:"), n))
               for root, g in uf.groups().items()}
        out[k] = {(r["conv_id"], r["turn_idx"], r["surface"],
                   rep[uf.find(mention_node(r["surface"]))])
                  for r in drop_rows}
    return out


def mention_node(surface: str) -> str:
    return "mention:" + "_".join(surface.split())


# --------------------------------------------------------------- operation

def drain(spark, drops: str, root: str) -> list:
    """One closed-loop operation: drain the backlog into ``root``; the
    progress records of the micro-batches that read rows."""
    q = stream_kg_ingest(spark, drops, root, n_buckets=N_BUCKETS,
                         max_files_per_trigger=1)
    q.awaitTermination()
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def manifests(root: str) -> dict:
    out = {}
    for path in glob.glob(os.path.join(root, "batches", "*", "manifests",
                                       "*.json")):
        with open(path) as fh:
            m = json.load(fh)
        out[os.path.relpath(path, root)] = (m["rows"], m["checksum"])
    return out


def batch_dirs(root: str) -> list:
    return sorted(glob.glob(os.path.join(root, "batches", "*")))


def first_batch(mf: dict) -> dict:
    """The manifests of micro-batch 0."""
    prefix = os.path.join("batches", f"{0:010d}") + os.sep
    return {k: v for k, v in mf.items() if k.startswith(prefix)}


def check_drain(spark, root: str, progress: list, reference: dict):
    """Cheap per-drain checks; returns (problems, rows)."""
    problems = []
    if len(progress) != N_DROPS:
        problems.append(f"{len(progress)} non-empty micro-batches, "
                        f"expected {N_DROPS}")
    dirs = batch_dirs(root)
    if len(dirs) != N_DROPS:
        problems.append(f"{len(dirs)} batch tables written, "
                        f"expected {N_DROPS}")
    mf = manifests(root)
    for d in dirs:
        rows = sum(r for k, (r, _) in mf.items()
                   if k.startswith(os.path.relpath(d, root) + os.sep))
        if rows <= 0:
            problems.append(f"{os.path.basename(d)} wrote no rows")
    total = sum(r for r, _ in mf.values())
    read_back = read_stream_triples(spark, root).count()
    if read_back != total:
        problems.append(f"read back {read_back} rows, manifests say {total}")
    if not reference or first_batch(mf) != reference:
        problems.append("batch 0 manifest checksums differ from the "
                        "warm-up drain of the same drop")
    return problems, total


def materialized_mentions(spark, root: str) -> dict:
    """Per batch (in batch order), the materialized mention tuples, read
    back through ``read_triples``."""
    out = {}
    for k, d in enumerate(batch_dirs(root)):
        rows = (read_triples(spark, d)
                .filter(F.col("p").isin(P_MENTIONS, P_SURFACE, P_ENTITY))
                .select(F.col("s")["value"].alias("s"), "p",
                        F.col("o")["value"].alias("o"))
                .collect())
        by_p: dict = {P_MENTIONS: {}, P_SURFACE: {}, P_ENTITY: {}}
        for r in rows:
            by_p[r["p"]][r["o"] if r["p"] == P_MENTIONS else r["s"]] = (
                r["s"] if r["p"] == P_MENTIONS else r["o"])
        tuples = set()
        for node, turn in by_p[P_MENTIONS].items():
            _, conv, idx = turn.split(":")
            tuples.add((conv, int(idx), by_p[P_SURFACE].get(node),
                        by_p[P_ENTITY].get(node)))
        out[k] = tuples
    return out


def check_mentions(got: dict, expected: dict):
    """(problems, precision, recall) of the materialized mention tuples."""
    problems = []
    all_got = set().union(*got.values()) if got else set()
    all_exp = set().union(*expected.values())
    p, r = precision_recall(all_got, all_exp)
    if p < 0.95 or r < 0.95:
        problems.append(f"mention triples P={p:.4f} R={r:.4f}")
    if all_got != all_exp:
        problems.append(f"{len(all_got)} mention triples materialized, "
                        f"ground truth has {len(all_exp)}")
    return problems, p, r


# ---------------------------------------------------------------- workload

class KgStream:
    name = "kg_stream"
    unit = "turns"
    part = "batch"  # what one latency sample times
    min_ops = 1

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.drops = os.path.join(workdir, "drops")
        self.first_drop = os.path.join(workdir, "first-drop")
        self._n = 0
        self.samples: list = []      # per drain: dict
        self.turns = 0
        self.reference: dict = {}    # batch 0 manifests of the warm-up

    def _root(self) -> str:
        self._n += 1
        return os.path.join(self.workdir, f"out-{self._n:03d}")

    def build_inputs(self) -> None:
        write_drops(self.spark, self.seed, self.drops)
        self.turns = self._backlog().count()
        os.makedirs(self.first_drop)
        name = "drop-00000.parquet"
        shutil.copy2(os.path.join(self.drops, name),
                     os.path.join(self.first_drop, name))

    def warm_up(self) -> None:
        """Drain the first drop alone: one micro-batch compiles every
        plan a micro-batch runs, and its manifests are the reference
        batch 0 of every later drain must equal."""
        root = self._root()
        drain(self.spark, self.first_drop, root)
        self.reference = first_batch(manifests(root))

    def timed_op(self, counters) -> dict:
        root = self._root()
        with Measured(counters) as m:
            progress = drain(self.spark, self.drops, root)
        rec = {"root": root, "wall_s": m.wall_s, "cpu_s": m.cpu_s,
               "progress": progress,
               "unit_s": [p["durationMs"]["triggerExecution"] / 1000.0
                          for p in progress]}
        self.samples.append(rec)
        return rec

    def units_per_op(self) -> int:
        return self.turns

    def check(self) -> dict:
        """Checks over every drain; the mention check on the last one.
        Returns per-drain problem lists and quality numbers."""
        expected = expected_mentions(self.spark, self.seed)
        per_op, rows = [], 0
        for rec in self.samples:
            problems, rows = check_drain(self.spark, rec["root"],
                                         rec["progress"], self.reference)
            per_op.append(problems)
        p = r = 0.0
        if self.samples:
            got = materialized_mentions(self.spark, self.samples[-1]["root"])
            problems, p, r = check_mentions(got, expected)
            per_op[-1].extend(problems)
        return {"problems": per_op, "output_rows": rows,
                "triple_precision": p, "triple_recall": r}

    def extra_report(self) -> dict:
        lat = [s for rec in self.samples for s in rec["unit_s"]]
        return {"batch_latency_s": lat,
                "turns_per_drop": self.turns / N_DROPS}

    # ------------------------------------------------------------ traced

    def baseline_op(self) -> None:
        """The traced layers' work done plainly: one ``run_pipeline``
        over the backlog as one batch."""
        run_pipeline(self.spark, self._backlog(), workdir=self._root(),
                     n_buckets=N_BUCKETS, track_errors=False)

    def _backlog(self):
        return self.spark.read.schema(TURN_SCHEMA).parquet(self.drops)

    def traced_op(self, tracer) -> dict:
        """The backlog as one batch, layer by layer (``traced_s`` is
        its wall time, to set against ``baseline_op``), then one stream
        drain under its own span, kept for ``check``.  Returns
        layer-specific numbers."""
        spark = self.spark
        t0 = time.perf_counter()
        turns = self._backlog().persist()
        n_in = turns.count()
        call = tracer.call
        mentions, a = call("detect_mentions", "pipeline.mentions",
                           detect_mentions, turns, rows_in=n_in)
        scored, b = call("score_links", "pipeline.mentions", score_links,
                         mentions, rows_in=a["rows_out"])
        ext, c = call("extraction_triples", "pipeline.run",
                      extraction_triples, turns, scored,
                      rows_in=n_in + b["rows_out"])
        edges, d = call("link_edges", "pipeline.mentions", link_edges,
                        scored, rows_in=b["rows_out"])
        node_map, e = call("canonical_entity_map", "pipeline.canonicalize",
                           canonical_entity_map, edges,
                           rows_in=d["rows_out"])
        cc_stats: dict = {}
        call("connected_components", "pipeline.canonicalize",
             connected_components, edges, stats=cc_stats,
             rows_in=d["rows_out"])
        catalog, turn_shape = build_kg_catalog()
        engine = FrameEngine(spark, catalog, ext, diagnostics=False,
                             track_errors=False)
        framed, f = call("FrameEngine.frame", "frame",
                         lambda: engine.frame(turn_shape).matches,
                         rows_in=c["rows_out"])
        values = framed.select(F.col("focus")["value"].alias("seed"),
                               "value")
        flat, g = call("flatten_triples", "flatten", flatten_triples,
                       values, catalog, turn_shape, seed_col="seed",
                       rows_in=f["rows_out"])
        python_ops = count_python_ops(flat)
        canonical, h = call("canonicalize_triples", "pipeline.run",
                            canonicalize_triples, flat, node_map,
                            rows_in=g["rows_out"] + e["rows_out"])
        store = self._root()
        written, i = call("materialize_triples", "pipeline.materialize",
                          materialize_triples, canonical, store,
                          n_buckets=N_BUCKETS, spark=spark,
                          rows_in=h["rows_out"])
        i["rows_out"] = written["rows_written"]
        call("read_triples", "pipeline.materialize", read_triples, spark,
             store, rows_in=written["rows_written"])
        traced_s = time.perf_counter() - t0

        with tracer.span("stream_kg_ingest", "streaming.ingest") as s:
            t1 = time.perf_counter()
            root = self._root()
            q = stream_kg_ingest(spark, self.drops, root,
                                 n_buckets=N_BUCKETS,
                                 max_files_per_trigger=1)
            s["call_s"] = time.perf_counter() - t1
            q.awaitTermination()
            s["exec_s"] = time.perf_counter() - t1 - s["call_s"]
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            s["rows_in"] = sum(p["numInputRows"] for p in progress)
            s["rows_out"] = sum(r for r, _ in manifests(root).values())
        self.samples.append({"root": root, "progress": progress})
        for df in (turns, mentions, scored, ext, edges, node_map, framed,
                   flat, canonical):
            df.unpersist()

        files = glob.glob(os.path.join(store, "data", "*", "*.parquet"))
        nbytes = sum(os.path.getsize(f) for f in files)
        phases = cc_stats.get("phases", 0)
        return {
            "traced_s": traced_s,
            "flatten.python_ops": python_ops,
            "pipeline.canonicalize.rounds": cc_stats.get("rounds", 0),
            "pipeline.canonicalize.phases": phases,
            "pipeline.canonicalize.contraction_ratio": (
                d["rows_out"] / max(cc_stats["round_edges"][-1], 1)
                if phases else 1.0),
            "pipeline.materialize.bytes_written": nbytes,
            "pipeline.materialize.files_written": len(files),
            "pipeline.materialize.bytes_per_triple":
                nbytes / max(written["rows_written"], 1),
            "streaming.ingest.planning_ms": median(
                [p["durationMs"].get("queryPlanning", 0) for p in progress]),
            "streaming.ingest.add_batch_ms": median(
                [p["durationMs"].get("addBatch", 0) for p in progress]),
            "streaming.ingest.state_rows": max(
                [sum(o.get("numRowsTotal", 0)
                     for o in p.get("stateOperators") or [])
                 for p in progress] or [0]),
        }


PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
               "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
               "FlatMapCoGroupsInPandas", "AggregateInPandas",
               "WindowInPandas")


def count_python_ops(df) -> int:
    """Python-evaluation operators in the physical plan of ``df`` (for a
    cached frame, the plan that filled the cache)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b(?:%s)\b" % "|".join(PYTHON_EVAL), plan))
