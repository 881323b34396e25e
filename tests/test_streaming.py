"""Structured Streaming ingest: incremental drops, checkpointed file
tracking, exactly-once materialization, windowed metrics.

Scenario: two transcript drops land in sequence.  The first
``availableNow`` run drains drop 1; drop 2 lands; the second run (same
checkpoint) processes ONLY drop 2.  Each micro-batch's triples must
equal the batch pipeline run on the same turns, and re-running with
nothing new must write nothing (idempotent resume)."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from ramp_shapes_spark.pipeline.datagen import generate_transcripts
from ramp_shapes_spark.pipeline.run import run_pipeline
from ramp_shapes_spark.streaming.ingest import (
    read_stream_triples, stream_kg_ingest, stream_turn_rates,
)


@pytest.fixture()
def drops(spark, tmp_path):
    d = str(tmp_path / "drops")
    os.makedirs(d)
    t1 = generate_transcripts(spark, 12, n_entities=32, partitions=2)
    t2 = generate_transcripts(spark, 20, n_entities=32, partitions=2) \
        .filter(F.col("conv_id") > "conv00000011")
    return d, t1, t2


def _drain(spark, d, root):
    q = stream_kg_ingest(spark, d, root, n_buckets=8)
    q.awaitTermination()


def _manifest_rows(root):
    out = {}
    for m in glob.glob(os.path.join(root, "batches", "*", "manifests",
                                    "*.json")):
        with open(m) as fh:
            j = json.load(fh)
        out[(m.split("batches" + os.sep)[1].split(os.sep)[0],
             j["pbucket"])] = (j["rows"], j["input_fingerprint"],
                               j["written_at"])
    return out


def test_incremental_drops_and_exactly_once(spark, drops, tmp_path):
    d, t1, t2 = drops
    root = str(tmp_path / "kgroot")

    t1.write.mode("append").parquet(d)
    _drain(spark, d, root)
    rows1 = _manifest_rows(root)
    assert rows1, "first drop produced no manifests"
    n_after_1 = read_stream_triples(spark, root).count()
    exp1 = run_pipeline(spark, t1, track_errors=False).triples.count()
    assert n_after_1 == exp1

    # second drop: only the new files are processed, first batch's
    # manifests are untouched
    t2.write.mode("append").parquet(d)
    _drain(spark, d, root)
    rows2 = _manifest_rows(root)
    batches = {b for b, _k in rows2}
    assert len(batches) >= 2, f"expected a second micro-batch, got {batches}"
    for key, v in rows1.items():
        assert rows2[key] == v, "drop-1 manifests were rewritten"
    exp2 = run_pipeline(spark, t2, track_errors=False).triples.count()
    assert read_stream_triples(spark, root).count() == exp1 + exp2

    # nothing new -> nothing written
    _drain(spark, d, root)
    assert _manifest_rows(root) == rows2


def test_drain_releases_batch_caches(spark, drops, tmp_path):
    """Each micro-batch releases its persisted extraction graph and
    checkpointed entity maps once materialized: a two-drop drain adds
    no persistent RDD to the session (earlier tests' RDDs may be
    cleaned meanwhile, so the check is on new ids, not the count)."""
    d, t1, t2 = drops
    root = str(tmp_path / "kgroot")

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    t1.write.mode("append").parquet(d)
    _drain(spark, d, root)
    t2.write.mode("append").parquet(d)
    _drain(spark, d, root)
    assert len(glob.glob(os.path.join(root, "batches", "*"))) == 2
    assert persistent() - before == set()


def test_windowed_turn_rates(spark, drops, tmp_path):
    d, t1, _t2 = drops
    t1.write.mode("append").parquet(d)
    rates = stream_turn_rates(spark, d, window="10 minutes",
                              watermark="1 minute")
    q = (
        rates.writeStream.format("memory")
        .queryName("turn_rates")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rates_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT sum(n_turns) AS n FROM turn_rates").collect()[0]["n"]
    # append mode only emits windows the watermark has closed; the
    # corpus spans many windows, so all but the newest are final
    assert got is not None and got > 0
    total = t1.count()
    assert got <= total
    last_window = spark.sql(
        "SELECT max(window_end) AS we FROM turn_rates").collect()[0]["we"]
    assert last_window is not None


def test_compact_stream_aliases_folds_chains(spark, tmp_path):
    """Two batches whose alias edges chain (B->A, then C->B) must fold
    to a flat forest pointing at the global canonical, with mention
    entity references rewritten."""
    from ramp_shapes_spark.pipeline.kgshapes import kg
    from ramp_shapes_spark.pipeline.materialize import materialize_triples
    from ramp_shapes_spark.streaming.ingest import compact_stream_aliases
    from ramp_shapes_spark.terms import TERM_TYPE

    root = str(tmp_path / "kgroot")
    canon = kg("canonicalEntity")

    def term(kind, value):
        return {"kind": kind, "value": value, "dt": None, "lang": None}

    def triple_rows(rows):
        from pyspark.sql.types import (LongType, StringType, StructField,
                                       StructType)
        schema = StructType([
            StructField("tid", LongType()),
            StructField("s", TERM_TYPE), StructField("p", StringType()),
            StructField("o", TERM_TYPE),
        ])
        return spark.createDataFrame(
            [(i, term("iri", s), p, term("iri", o))
             for i, (s, p, o) in enumerate(rows)], schema)

    b1 = triple_rows([
        ("entity:B", canon, "entity:A"),
        ("mo:1", kg("entity"), "entity:A"),
    ])
    b2 = triple_rows([
        ("entity:C", canon, "entity:B"),
        ("mo:2", kg("entity"), "entity:B"),
        ("mo:3", kg("entity"), "entity:C"),
    ])
    materialize_triples(b1, os.path.join(root, "batches", "0000000000"),
                        n_buckets=8, input_fingerprint="b1")
    materialize_triples(b2, os.path.join(root, "batches", "0000000001"),
                        n_buckets=8, input_fingerprint="b2")

    out = compact_stream_aliases(spark, root, n_buckets=8).persist()
    aliases = {(r["s_value"], r["o_value"])
               for r in out.filter(F.col("p") == canon).collect()}
    assert aliases == {("entity:B", "entity:A"),
                       ("entity:C", "entity:A")}, aliases
    entity_targets = {r["o_value"] for r in
                      out.filter(F.col("p") == kg("entity")).collect()}
    assert entity_targets == {"entity:A"}
    out.unpersist()


def test_stream_document_dedup_compaction(spark, tmp_path):
    """Cross-batch near-dup fold: a near-duplicate document arriving in
    drop 2 maps to drop 1's canonical after compaction, exact
    duplicates WITHIN a drop are dropped at ingest, and re-draining
    with nothing new is a no-op."""
    from ramp_shapes_spark.streaming.ingest import (
        compact_stream_document_dedup, read_stream_documents,
        stream_document_ingest,
    )

    d = str(tmp_path / "docdrops")
    root = str(tmp_path / "docroot")
    os.makedirs(d)

    base = ("the quick brown fox jumps over the lazy dog "
            "and then runs far away into the deep dark woods tonight")
    uniq = "completely different content about spark and parquet tables"
    drop1 = spark.createDataFrame(
        [(1, base), (2, uniq), (3, uniq)],  # 2/3 exact dups in-drop
        "doc_id long, text string")
    drop1.coalesce(1).write.mode("append").parquet(d)
    stream_document_ingest(spark, d, root).awaitTermination()

    corpus1 = read_stream_documents(spark, root)
    assert corpus1.count() == 2  # in-drop exact dup removed
    assert {r["doc_id"] for r in corpus1.collect()} == {1, 2}

    # drop 2: a near-duplicate of doc 1 (one token appended) + a fresh doc
    drop2 = spark.createDataFrame(
        [(101, base + " extra"), (102, "unrelated new text entirely")],
        "doc_id long, text string")
    drop2.coalesce(1).write.mode("append").parquet(d)
    stream_document_ingest(spark, d, root).awaitTermination()

    assert read_stream_documents(spark, root).count() == 4

    cmap = {r["doc_id"]: r["canonical"]
            for r in compact_stream_document_dedup(spark, root).collect()}
    assert set(cmap) == {1, 2, 101, 102}
    assert cmap[101] == 1, cmap   # drop-2 near-dup folds to drop-1 canonical
    assert cmap[1] == 1 and cmap[2] == 2 and cmap[102] == 102

    # idempotent re-drain: no new batch directories, same corpus
    stream_document_ingest(spark, d, root).awaitTermination()
    assert read_stream_documents(spark, root).count() == 4
