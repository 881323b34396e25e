"""Incremental KG construction over streaming transcript drops.

The reference engine is batch-only; at pipeline scale, transcripts
arrive continuously.  This module runs the SAME batch pipeline
(mentions → frame → flatten → canonicalize → materialize) incrementally
under Structured Streaming:

* **source**: a file-source stream over a parquet drop directory with
  the transcript schema ``(conv_id, turn_idx, role, text, tool, ts)``;
  the streaming checkpoint tracks processed files, so re-starting the
  query picks up exactly the new drops;
* **late/duplicate turns**: an event-time watermark on ``ts`` plus
  ``dropDuplicatesWithinWatermark`` on (conv_id, turn_idx) — re-sent
  turns inside the lateness bound are suppressed with bounded state;
* **sink**: ``foreachBatch`` → the batch pipeline with
  ``workdir=<root>/batches/<batch_id>`` and
  ``input_fingerprint="stream-batch-<batch_id>"``.  The materializer
  is idempotent per (bucket, fingerprint), so a batch re-run after a
  crash rewrites only unfinished buckets — exactly-once output on top
  of Structured Streaming's at-least-once batch replay;
* **entity canonicalization scope**: connected components run WITHIN
  each micro-batch (cross-batch aliasing is a compaction concern: the
  alias edges accumulate in the triple table and a periodic batch CC
  over ``kg:canonicalEntity`` edges folds them globally — same design
  as log-structured merge of graph updates).

100 TB shape: each micro-batch is the already-audited batch plan; the
streaming layer adds only file tracking and watermark state (keyed by
(conv_id, turn_idx), bounded by the watermark horizon).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

TURN_SCHEMA = ("conv_id string, turn_idx int, role string, "
               "text string, tool string, ts timestamp")


def stream_kg_ingest(
    spark: SparkSession,
    input_path: str,
    root: str,
    n_buckets: int = 16,
    watermark: str = "1 hour",
    track_errors: bool = False,
    checkpoint: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
):
    """Start an ``availableNow`` streaming query that drains every
    unprocessed drop under ``input_path`` into the bucketed triple
    table at ``root`` and terminates.  Call again after new drops land
    (or swap the trigger for a continuous ``processingTime`` one on a
    real cluster) — the checkpoint carries the file log and dedup
    state across invocations.  Returns the StreamingQuery."""
    from ramp_shapes_spark.pipeline.run import run_pipeline

    reader = spark.readStream.schema(TURN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    turns = (
        reader.parquet(input_path)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the batch is materialized on return: release its caches, or
        # every micro-batch would leave its own behind
        run_pipeline(
            spark, batch_df,
            workdir=os.path.join(root, "batches", f"{batch_id:010d}"),
            n_buckets=n_buckets,
            input_fingerprint=f"stream-batch-{batch_id}",
            track_errors=track_errors,
        ).close()

    return (
        turns.writeStream
        .foreachBatch(process)
        .option("checkpointLocation",
                checkpoint or os.path.join(root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_stream_triples(spark: SparkSession, root: str) -> DataFrame:
    """Union view over every materialized micro-batch (flat triple
    layout, with ``pbucket`` partition pruning intact).  Each batch
    directory is its own partitioned table root, so they are read
    separately and unioned (mixed batch/partition levels confuse a
    single multi-root scan)."""
    import glob

    dirs = sorted(glob.glob(os.path.join(root, "batches", "*", "data")))
    if not dirs:
        raise FileNotFoundError(f"no materialized batches under {root}")
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d))
    return out


def compact_stream_aliases(spark: SparkSession, root: str,
                           n_buckets: int = 16) -> DataFrame:
    """Global entity-alias compaction over every materialized batch.

    Per-batch canonicalization only sees its own micro-batch's link
    edges, so entity clusters split across batches leave CHAINS of
    ``kg:canonicalEntity`` aliases (batch 1: B→A, batch 2: C→B).  This
    periodic batch job folds them: connected components over the union
    of all alias edges produce one global representative per cluster
    (the same log-round contraction CC as the pipeline), then every
    triple's entity references are rewritten to it — alias edges become
    a flat forest (no chains) and mention→entity edges point at global
    canonicals.  Returns the compacted flat triple DataFrame; callers
    write it as a new snapshot generation.  This is the LSM-style merge
    step of the streaming design: cheap incremental batches, periodic
    global fold."""
    from pyspark.sql import functions as F

    from ramp_shapes_spark.pipeline.canonicalize import (
        connected_components,
    )
    from ramp_shapes_spark.pipeline.kgshapes import kg

    flat = read_stream_triples(spark, root)
    canon_p = kg("canonicalEntity")
    alias = flat.filter(F.col("p") == F.lit(canon_p))
    edges = alias.select(F.col("s_value").alias("src"),
                         F.col("o_value").alias("dst"))
    cc = connected_components(edges)  # (node, component=min id)
    cmap = cc.select(F.col("node").alias("__n"),
                     F.col("component").alias("__c"))

    rest = flat.filter(F.col("p") != F.lit(canon_p))
    rewritten = (
        rest.join(cmap, (rest["o_value"] == F.col("__n"))
                  & (rest["o_kind"] == "iri"), "left")
        .select(
            "s_kind", "s_value", "p", "o_kind",
            F.coalesce("__c", "o_value").alias("o_value"),
            "o_dt", "o_lang", "pbucket",
        )
    )
    folded_aliases = (
        cc.filter(F.col("node") != F.col("component"))
        .select(
            F.lit("iri").alias("s_kind"), F.col("node").alias("s_value"),
            F.lit(canon_p).alias("p"),
            F.lit("iri").alias("o_kind"),
            F.col("component").alias("o_value"),
            F.lit(None).cast("string").alias("o_dt"),
            F.lit(None).cast("string").alias("o_lang"),
            F.pmod(F.xxhash64(F.lit(canon_p)), F.lit(n_buckets))
            .cast("int").alias("pbucket"),
        )
    )
    return rewritten.unionByName(folded_aliases).dropDuplicates(
        ["s_kind", "s_value", "p", "o_kind", "o_value", "o_dt", "o_lang"])


DOC_SCHEMA = "doc_id long, text string"


def stream_document_ingest(
    spark: SparkSession,
    input_path: str,
    root: str,
    checkpoint: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
):
    """``availableNow`` ingest of document drops ``(doc_id, text)``
    into the accumulated corpus at ``<root>/docs/<batch_id>``.

    Each micro-batch lands in its OWN directory with ``overwrite``
    mode, so Structured Streaming's at-least-once batch replay is
    idempotent (a replayed batch rewrites its directory, never
    duplicates the corpus).  Within-batch EXACT duplicates are dropped
    here (cheap, bounded); document-level NEAR-dup state is
    deliberately per-batch — the global fold across drops is
    :func:`compact_stream_document_dedup`, the same LSM-style merge
    design as :func:`compact_stream_aliases`."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    docs = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("text").orderBy("doc_id")
        deduped = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        deduped.write.mode("overwrite").parquet(
            os.path.join(root, "docs", f"{batch_id:010d}"))

    return (
        docs.writeStream
        .foreachBatch(process)
        .option("checkpointLocation",
                checkpoint or os.path.join(root, "_doc_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_stream_documents(spark: SparkSession, root: str) -> DataFrame:
    """Union view over every ingested document drop."""
    import glob

    dirs = sorted(glob.glob(os.path.join(root, "docs", "*")))
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        raise FileNotFoundError(f"no ingested document drops under {root}")
    # one multi-path read, not a per-drop Union loop: a corpus built
    # from thousands of micro-batches would otherwise pay per-drop
    # plan/schema cost and a thousands-deep Union plan on the driver
    return spark.read.parquet(*dirs)


def compact_stream_document_dedup(spark: SparkSession, root: str,
                                  bands: int = 4,
                                  rows: int = 2) -> DataFrame:
    """Global document near-dup compaction over the accumulated corpus.

    Per-batch ingest only deduplicates WITHIN a drop, so a near-copy
    arriving in a later drop survives with its own id.  This periodic
    batch job folds the whole corpus through the banded-LSH cluster map
    (:func:`ramp_shapes_spark.ops.dedup.neardup_clusters` — bucket-star
    edges + contraction CC, the O(docs×bands) shape), producing one
    ``(doc_id, canonical)`` row per document where ``canonical`` is the
    cluster's numeric-minimum id — i.e. a near-duplicate from drop 2
    maps to drop 1's original.  Callers apply it as the corpus'
    keep/drop map or rewrite references, then snapshot — the LSM merge
    step of the streaming dedup design."""
    from ramp_shapes_spark.ops.dedup import neardup_clusters

    return neardup_clusters(read_stream_documents(spark, root),
                            bands=bands, rows=rows)


def stream_turn_rates(
    spark: SparkSession,
    input_path: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """Windowed streaming aggregate: turns and active conversations per
    event-time window — the monitoring metric a live ingest pipeline
    exports.  Returns the streaming DataFrame (caller picks the sink);
    late turns beyond the watermark are dropped by the engine."""
    from pyspark.sql import functions as F

    turns = spark.readStream.schema(TURN_SCHEMA).parquet(input_path)
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_conversations"),
        )
        .select(
            F.col("w")["start"].alias("window_start"),
            F.col("w")["end"].alias("window_end"),
            "n_turns", "n_conversations",
        )
    )


def stream_ntriples_ingest(
    spark: SparkSession,
    input_path: str,
    root: str,
    n_buckets: int = 16,
    checkpoint: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
):
    """Stream raw N-Triples drops straight into the bucketed triple
    table — the 100 TB RDF-dump ingest path.

    The parser (ntriples.py:parse_ntriples_lines) is expression-only,
    so the same code runs under Structured Streaming: each micro-batch
    splits into valid triples (materialized exactly-once via the
    idempotent per-batch writer, like stream_kg_ingest) and a
    DEAD-LETTER text sink of malformed lines at
    ``<root>/deadletter/<batch_id>`` — a trillion-line dump must
    neither kill the job on one bad line (batch strict mode) nor
    silently shrink (non-strict drop); the dead-letter channel makes
    every rejected line auditable.  Returns the StreamingQuery."""
    from ramp_shapes_spark.ntriples import (
        dataset_from_parsed, parse_ntriples_lines,
    )
    from ramp_shapes_spark.pipeline.materialize import materialize_triples

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F

        parsed = parse_ntriples_lines(
            batch_df.select(F.col("value").alias("line"))
        ).localCheckpoint(eager=True)  # one parse feeds both splits
        bad = parsed.filter("invalid").select(F.col("line").alias("value"))
        if not bad.isEmpty():
            bad.write.mode("overwrite").text(
                os.path.join(root, "deadletter", f"{batch_id:010d}"))
        materialize_triples(
            dataset_from_parsed(parsed),
            os.path.join(root, "batches", f"{batch_id:010d}"),
            n_buckets=n_buckets,
            input_fingerprint=f"nt-stream-batch-{batch_id}",
            spark=spark,
        )

    return (
        lines.writeStream
        .foreachBatch(process)
        .option("checkpointLocation",
                checkpoint or os.path.join(root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
