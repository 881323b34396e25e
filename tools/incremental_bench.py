"""Incremental-vs-full frame maintenance evidence.

Builds a synthetic supplier/nation graph (``N_SUP`` suppliers, 1k
nations, ~3.004·N_SUP triples), frames it once, applies a small rename
delta (``N_DELTA`` suppliers), and times two ways to obtain the
post-delta framed view:

* full re-frame of the new table (the baseline a naive pipeline pays
  on every drop);
* incremental_frame(force_incremental=True) (affected-roots reverse
  walk + seeded candidate re-frame against the full table).  Without
  ``force_incremental`` the function delegates to the full re-frame,
  so timing it would time the full re-frame twice.

Usage: python tools/incremental_bench.py [n_sup] [n_delta] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_sup = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    out_json = sys.argv[3] if len(sys.argv) > 3 else None

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .appName("incremental-bench").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ramp_shapes_spark.frame import FrameEngine
    from ramp_shapes_spark.incremental import incremental_frame
    from ramp_shapes_spark.shapes import ShapeBuilder, prop
    from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri
    from ramp_shapes_spark.ops.relational import EX, _iri, _lit

    b = ShapeBuilder()
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name",
                         b.literal(datatype=XSD_STRING))],
    )
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )

    sup = spark.range(n_sup).select(
        F.concat(F.lit("sup:"), F.col("id").cast("string")).alias("si"),
        F.concat(F.lit("supplier "), F.col("id").cast("string")).alias("nm"),
        F.concat(F.lit("nat:"),
                 (F.col("id") % 1000).cast("string")).alias("ni"),
    )
    nat = spark.range(1000).select(
        F.concat(F.lit("nat:"), F.col("id").cast("string")).alias("ni"),
        F.concat(F.lit("nation "), F.col("id").cast("string")).alias("nm"),
    )
    parts = [
        sup.select(_iri(F.col("si")).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Supplier")).alias("o")),
        sup.select(_iri(F.col("si")).alias("s"),
                   F.lit(EX + "name").alias("p"),
                   _lit(F.col("nm"), XSD_STRING).alias("o")),
        sup.select(_iri(F.col("si")).alias("s"),
                   F.lit(EX + "locatedIn").alias("p"),
                   _iri(F.col("ni")).alias("o")),
        nat.select(_iri(F.col("ni")).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Nation")).alias("o")),
        nat.select(_iri(F.col("ni")).alias("s"),
                   F.lit(EX + "name").alias("p"),
                   _lit(F.col("nm"), XSD_STRING).alias("o")),
    ]
    old_t = parts[0]
    for p in parts[1:]:
        old_t = old_t.unionAll(p)
    old_t = old_t.select(
        F.monotonically_increasing_id().alias("tid"), "s", "p", "o"
    ).localCheckpoint(eager=True)
    n_triples = old_t.count()

    # delta: rename n_delta suppliers spread across the id space
    step = max(1, n_sup // n_delta)
    touched = sup.filter((F.col("si").substr(F.lit(5), F.lit(20))
                          .cast("long") % step) == 0).limit(n_delta)
    removed = touched.select(
        _iri(F.col("si")).alias("s"), F.lit(EX + "name").alias("p"),
        _lit(F.col("nm"), XSD_STRING).alias("o")).localCheckpoint(eager=True)
    added = touched.select(
        _iri(F.col("si")).alias("s"), F.lit(EX + "name").alias("p"),
        _lit(F.concat(F.lit("RENAMED "), F.col("nm")),
             XSD_STRING).alias("o")).localCheckpoint(eager=True)
    from ramp_shapes_spark.dataset import term_key_col
    rk = removed.select(F.concat_ws(
        "\x1f", term_key_col(F.col("s")), "p",
        term_key_col(F.col("o"))).alias("__rk"))
    new_t = (
        old_t.join(rk, F.concat_ws(
            "\x1f", term_key_col(F.col("s")), F.col("p"),
            term_key_col(F.col("o"))) == F.col("__rk"), "left_anti")
        .unionByName(added.select(
            F.monotonically_increasing_id().alias("tid"), "s", "p", "o"))
        .localCheckpoint(eager=True)
    )

    def frame_full(table):
        eng = FrameEngine(spark, b.catalog, table,
                          diagnostics=False, track_errors=False)
        return eng.frame(supplier).matches

    # untimed warmup (codegen/JIT), then timed runs
    frame_full(old_t).count()
    t0 = time.time()
    old_matches = frame_full(old_t).localCheckpoint(eager=True)
    n_old = old_matches.count()
    t_initial = time.time() - t0

    t0 = time.time()
    n_full = frame_full(new_t).count()
    t_full = time.time() - t0

    t0 = time.time()
    n_inc = incremental_frame(
        spark, b.catalog, supplier, old_matches, new_t, added, removed,
        force_incremental=True, diagnostics=False,
        track_errors=False).count()
    t_inc = time.time() - t0

    assert n_full == n_inc == n_old, (n_old, n_full, n_inc)
    report = {
        "n_suppliers": n_sup,
        "n_triples": int(n_triples),
        "n_delta": n_delta,
        "full_reframe_sec": round(t_full, 2),
        "incremental_sec": round(t_inc, 2),
        "initial_frame_sec": round(t_initial, 2),
        "speedup_incremental": round(t_full / t_inc, 2),
        "matches": int(n_full),
    }
    print(json.dumps(report))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(report, fh, indent=2)


if __name__ == "__main__":
    main()
