"""Shape-engine queries over TPC-H-derived triple graphs.

Each query builds a small RDF graph from the benchmark tables
(relational → triples), runs the *generic* frame engine (the compiled
shape programs — the same code path the fixtures validate), and
projects the framed JSON values back to flat columns that an ANSI-SQL
oracle can reproduce.  This is the operator-parity surface: record
matching, exactly-one property enforcement, sets with cardinality
bounds, optionals, unions, inverse/sequence/closure property paths and
the flatten inverse all appear here against real tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pyflatten import deterministic_bnode_generator
from ramp_shapes_spark.flatten import flatten_df
from ramp_shapes_spark.shapes import (
    InversePath, PredicatePath, SELF_PATH, SequencePath, ShapeBuilder,
    ZeroOrMorePath, prop,
)
from ramp_shapes_spark.terms import RDF_TYPE, XSD_INTEGER, XSD_STRING, iri, lit

EX = "http://example.com/bench#"


def _iri(col) -> F.Column:
    return F.struct(
        F.lit("iri").alias("kind"), col.alias("value"),
        F.lit(None).cast("string").alias("dt"),
        F.lit(None).cast("string").alias("lang"),
    )


def _lit(col, dt: str) -> F.Column:
    return F.struct(
        F.lit("lit").alias("kind"), col.cast("string").alias("value"),
        F.lit(dt).alias("dt"), F.lit(None).cast("string").alias("lang"),
    )


def _triples(parts, checkpoint: bool = True,
             dedup: bool = True) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    if dedup:
        out = out.dropDuplicates(["s", "p", "o"])
    # ``dedup=False`` is for graphs whose construction is INJECTIVE
    # (each part emits at most one triple per source row and parts use
    # distinct predicates), where the full-width struct shuffle is a
    # provable no-op — same rule as pipeline/run.extraction_triples.
    out = (
        out.withColumn("tid", F.monotonically_increasing_id())
        .select("tid", "s", "p", "o")
    )
    if not checkpoint:
        return out
    # one materialization for the whole engine: the frame compiler
    # reads the triple table from several independent subtrees
    # (scalar base, per-predicate edge relations, closure bases),
    # and without the checkpoint each one re-runs the graph
    # construction (window + dedup + id assignment) from scratch —
    # measured 1.3 s per redundant rebuild on the 1M-row chain
    # graph.  Also freezes the monotonically-increasing tids, so
    # every consumer provably sees identical dataset order.
    # ``checkpoint=False`` is for SMALL graphs (a few thousand triples)
    # whose rebuilds are cheaper than the materialization barrier —
    # per-subtree predicate pushdown prunes most branches there.
    return out.localCheckpoint(eager=False)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    reg = _load(spark, sf_dir, "region")
    sup_iri = F.concat(F.lit("sup:"), F.col("s_suppkey").cast("string"))
    nat_iri = F.concat(F.lit("nat:"), F.col("n_nationkey").cast("string"))
    reg_iri = F.concat(F.lit("reg:"), F.col("r_regionkey").cast("string"))
    # checkpoint=False: this graph is a few thousand triples at bench
    # scale — per-subtree predicate pushdown prunes the rebuilds to the
    # branches a shape actually reads, which beats materializing the
    # full union first (vocabulary_region 4.0 s -> 1.8 s in the warm
    # frame-family window; identical r5-verified construction)
    return _triples([
        sup.select(_iri(sup_iri).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Supplier")).alias("o")),
        sup.select(_iri(sup_iri).alias("s"), F.lit(EX + "name").alias("p"),
                   _lit(F.col("s_name"), XSD_STRING).alias("o")),
        sup.select(_iri(sup_iri).alias("s"),
                   F.lit(EX + "locatedIn").alias("p"),
                   _iri(F.concat(F.lit("nat:"),
                                 F.col("s_nationkey").cast("string"))).alias("o")),
        nat.select(_iri(nat_iri).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Nation")).alias("o")),
        nat.select(_iri(nat_iri).alias("s"), F.lit(EX + "name").alias("p"),
                   _lit(F.col("n_name"), XSD_STRING).alias("o")),
        nat.select(_iri(nat_iri).alias("s"), F.lit(EX + "inRegion").alias("p"),
                   _iri(F.concat(F.lit("reg:"),
                                 F.col("n_regionkey").cast("string"))).alias("o")),
        reg.select(_iri(reg_iri).alias("s"), F.lit(EX + "name").alias("p"),
                   _lit(F.col("r_name"), XSD_STRING).alias("o")),
    ], checkpoint=False)


def q_frame_supplier_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record + nested record + exactly-one joins; projected flat."""
    b = ShapeBuilder()
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name", b.literal(datatype=XSD_STRING))],
    )
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    return res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.get_json_object("value", "$.name").alias("s_name"),
        F.get_json_object("value", "$.nation.name").alias("n_name"),
    )


def oracle_frame_supplier_record() -> str:
    return """
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR) AS subject,
               s_name,
               n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """


def q_frame_nation_suppliers_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse property path + Set aggregation (size projected)."""
    b = ShapeBuilder()
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("suppliers", InversePath(PredicatePath(EX + "locatedIn")),
                 b.set_of(b.resource(only_named=True))),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(nation)
    parsed = res.matches.select(
        F.get_json_object("value", "$.name").alias("n_name"),
        F.from_json(
            F.get_json_object("value", "$.suppliers"), "array<string>"
        ).alias("sups"),
    )
    return parsed.select(
        "n_name", F.size("sups").cast("long").alias("n_suppliers")
    )


def oracle_frame_nation_suppliers_set() -> str:
    return """
        SELECT n_name, count(s_suppkey) AS n_suppliers
        FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        GROUP BY n_name
    """


def orders_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    ord_iri = F.concat(F.lit("ord:"), F.col("o_orderkey").cast("string"))
    parts = [
        orders.select(_iri(ord_iri).alias("s"), F.lit(RDF_TYPE).alias("p"),
                      _iri(F.lit(EX + "Order")).alias("o")),
        orders.select(_iri(ord_iri).alias("s"), F.lit(EX + "status").alias("p"),
                      _lit(F.col("o_orderstatus"), XSD_STRING).alias("o")),
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            _iri(ord_iri).alias("s"), F.lit(EX + "urgent").alias("p"),
            _lit(F.lit("U"), XSD_STRING).alias("o")),
    ]
    # injective construction (<=1 triple per order per distinct
    # predicate), so the struct dedup is a provable no-op too
    return _triples(parts, checkpoint=False, dedup=False)


def q_frame_order_optional_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional (edge present-or-absent) + anyOf over literal constants."""
    b = ShapeBuilder()
    status_union = b.any_of([
        b.constant(lit("O")), b.constant(lit("F")), b.constant(lit("P")),
    ])
    order = b.record(
        EX + "Order",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Order")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("status", EX + "status", status_union),
            prop("urgent", EX + "urgent",
                 b.optional(b.literal(datatype=XSD_STRING))),
        ],
    )
    engine = FrameEngine(spark, b.catalog, orders_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(order)
    return res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.get_json_object("value", "$.status").alias("status"),
        F.get_json_object("value", "$.urgent").alias("urgent"),
    )


def oracle_frame_order_optional_union() -> str:
    return """
        SELECT 'ord:' || CAST(o_orderkey AS VARCHAR) AS subject,
               o_orderstatus AS status,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'U' END AS urgent
        FROM orders
    """


def q_path_sequence_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step sequence property path supplier→nation→region."""
    b = ShapeBuilder()
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("region",
                 SequencePath((PredicatePath(EX + "locatedIn"),
                               PredicatePath(EX + "inRegion"))),
                 b.resource(only_named=True)),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    return res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.get_json_object("value", "$.region").alias("region"),
    )


def oracle_path_sequence_region() -> str:
    return """
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR) AS subject,
               'reg:' || CAST(n_regionkey AS VARCHAR) AS region
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """


def lineitem_chain_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order chains li:<order>:<pos> --ex:next--> li:<order>:<pos+1>.

    ``pos`` is a row_number within the order — a bijection, so every
    downstream count depends only on (order size, pos) and is
    tie-order-independent."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    pos = li.select(
        "l_orderkey",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(
            Window.partitionBy("l_orderkey")
        ).alias("n"),
    )
    li_iri = F.concat(F.lit("li:"), F.col("l_orderkey").cast("string"),
                      F.lit(":"), F.col("pos").cast("string"))
    parts = [
        pos.select(_iri(li_iri).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Line")).alias("o")),
        pos.filter(F.col("pos") < F.col("n")).select(
            _iri(li_iri).alias("s"),
            F.lit(EX + "next").alias("p"),
            _iri(F.concat(F.lit("li:"), F.col("l_orderkey").cast("string"),
                          F.lit(":"),
                          (F.col("pos") + 1).cast("string"))).alias("o"),
        ),
    ]
    # dedup=False: (orderkey, pos) is a bijection per part and the two
    # parts use distinct predicates, so construction is injective and
    # the 1M-row struct dedup shuffle is a provable no-op; the chain
    # queries' outputs are reach COUNTS, tid-order-insensitive
    return _triples(parts, dedup=False)


def q_path_closure_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zeroOrMore closure over lineitem next-chains: reachable count
    per starting line (iterative frontier loop on the engine side,
    WITH RECURSIVE on the oracle side)."""
    b = ShapeBuilder()
    line = b.record(
        EX + "Line",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Line")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("reach", ZeroOrMorePath(PredicatePath(EX + "next")),
                 b.set_of(b.resource(only_named=True), min_count=1)),
        ],
    )
    engine = FrameEngine(spark, b.catalog,
                         lineitem_chain_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(line)
    parsed = res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.from_json(F.get_json_object("value", "$.reach"),
                    "array<string>").alias("reach"),
    )
    return parsed.select(
        "subject", F.size("reach").cast("long").alias("n_reach")
    )


def oracle_path_closure_chain() -> str:
    # positions are a per-order bijection → reach(pos) = n - pos + 1
    return """
        SELECT 'li:' || CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(pos AS VARCHAR) AS subject,
               CAST(n - pos + 1 AS BIGINT) AS n_reach
        FROM (
            SELECT l_orderkey,
                   row_number() OVER (
                     PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice) AS pos,
                   count(*) OVER (PARTITION BY l_orderkey) AS n
            FROM lineitem
        )
    """


def q_flatten_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frame → flatten inverse; per-predicate triple counts."""
    b = ShapeBuilder()
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name", b.literal(datatype=XSD_STRING))],
    )
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    values = res.matches.select(
        F.get_json_object("value", "$.id").alias("seed"), "value"
    )
    flat = flatten_df(values, b.catalog, supplier, seed_col="seed")
    return (
        flat.filter(F.col("err_code").isNull())
        .groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    )


def oracle_flatten_roundtrip_counts() -> str:
    # per supplier: 1 rdf:type (transient synthesis), 1 own name,
    # 1 locatedIn edge, 1 nested nation rdf:type + name (fresh blank
    # node per supplier)
    return f"""
        WITH n AS (SELECT count(*) AS c FROM supplier)
        SELECT '{RDF_TYPE}' AS p, CAST(2 * c AS BIGINT) AS n FROM n
        UNION ALL
        SELECT '{EX}name', CAST(2 * c AS BIGINT) FROM n
        UNION ALL
        SELECT '{EX}locatedIn', CAST(c AS BIGINT) FROM n
    """


def q_turtle_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Turtle sink end-to-end: frame → flatten →
    :func:`ramp_shapes_spark.turtle_write.write_turtle` (blank-grouped
    Turtle, one document per seed partition) → re-parse every document
    with the engine's own Turtle parser → per-predicate triple counts.

    The oracle is the same as flatten_roundtrip_counts: a correct
    writer/parser pair preserves the triple multiset exactly (blank
    labels may differ; predicates and counts cannot)."""
    from ramp_shapes_spark.flatten import flatten_df
    from ramp_shapes_spark.turtle_write import write_turtle

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
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    values = res.matches.select(
        F.get_json_object("value", "$.id").alias("seed"), "value"
    )
    flat = flatten_df(values, b.catalog, supplier, seed_col="seed")
    good = flat.filter(F.col("err_code").isNull()) \
        .select("seed", "tid", "s", "p", "o")

    # per-run sink: the applicationId keys the path so concurrent
    # bench/correctness runs can't clobber each other's output between
    # the write and the wholeTextFiles parse-back
    sink = f"/tmp/ramp_turtle_sink_{spark.sparkContext.applicationId}"
    write_turtle(good, sink, prefixes={"ex": EX}, n_documents=8,
                 order_cols=("seed", "tid"), partition_col="seed")

    def parse_doc(kv):
        from ramp_shapes_spark.ttl import parse_turtle
        return [(p,) for (_s, p, _o) in parse_turtle(kv[1])]

    preds = (
        spark.sparkContext.wholeTextFiles(sink)
        .flatMap(parse_doc).toDF(["p"])
    )
    return preds.groupBy("p").agg(F.count(F.lit(1)).alias("n"))


def oracle_turtle_roundtrip_counts() -> str:
    return oracle_flatten_roundtrip_counts()


def q_path_alternative_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternative property path (nation | nation/region), exploded to
    (subject, place) pairs — covers AlternativePath set semantics."""
    from ramp_shapes_spark.shapes import AlternativePath

    b = ShapeBuilder()
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("places",
                 AlternativePath((
                     PredicatePath(EX + "locatedIn"),
                     SequencePath((PredicatePath(EX + "locatedIn"),
                                   PredicatePath(EX + "inRegion"))),
                 )),
                 b.set_of(b.resource(only_named=True), min_count=1)),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    parsed = res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.explode(F.from_json(
            F.get_json_object("value", "$.places"), "array<string>"
        )).alias("place"),
    )
    return parsed


def oracle_path_alternative_places() -> str:
    return """
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR) AS subject,
               'nat:' || CAST(s_nationkey AS VARCHAR) AS place
        FROM supplier
        UNION ALL
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR),
               'reg:' || CAST(n_regionkey AS VARCHAR)
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """


def _chain_shape(b: ShapeBuilder, path) -> "object":
    return b.record(
        EX + "Line",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Line")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("reach", path, b.set_of(b.resource(only_named=True))),
        ],
    )


def q_path_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oneOrMore closure over the next-chains: strictly-forward reach
    count (0 for chain tails)."""
    from ramp_shapes_spark.shapes import OneOrMorePath

    b = ShapeBuilder()
    line = _chain_shape(b, OneOrMorePath(PredicatePath(EX + "next")))
    engine = FrameEngine(spark, b.catalog,
                         lineitem_chain_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(line)
    parsed = res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.from_json(F.get_json_object("value", "$.reach"),
                    "array<string>").alias("reach"),
    )
    return parsed.select(
        "subject", F.size("reach").cast("long").alias("n_reach")
    )


def oracle_path_one_or_more() -> str:
    return """
        SELECT 'li:' || CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(pos AS VARCHAR) AS subject,
               CAST(n - pos AS BIGINT) AS n_reach
        FROM (
            SELECT l_orderkey,
                   row_number() OVER (
                     PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice) AS pos,
                   count(*) OVER (PARTITION BY l_orderkey) AS n
            FROM lineitem
        )
    """


def q_path_zero_or_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zeroOrOne path: self plus the direct successor when present."""
    from ramp_shapes_spark.shapes import ZeroOrOnePath

    b = ShapeBuilder()
    line = _chain_shape(b, ZeroOrOnePath(PredicatePath(EX + "next")))
    engine = FrameEngine(spark, b.catalog,
                         lineitem_chain_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(line)
    parsed = res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.from_json(F.get_json_object("value", "$.reach"),
                    "array<string>").alias("reach"),
    )
    return parsed.select(
        "subject", F.size("reach").cast("long").alias("n_reach")
    )


def oracle_path_zero_or_one() -> str:
    return """
        SELECT 'li:' || CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(pos AS VARCHAR) AS subject,
               CAST(CASE WHEN pos < n THEN 2 ELSE 1 END AS BIGINT) AS n_reach
        FROM (
            SELECT l_orderkey,
                   row_number() OVER (
                     PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice) AS pos,
                   count(*) OVER (PARTITION BY l_orderkey) AS n
            FROM lineitem
        )
    """


def vocabulary_region_shape():
    """(catalog, Nation record) of :func:`q_vocabulary_region`: a
    nation's region IRI framed through a five-key vocabulary."""
    b = ShapeBuilder()
    vocab = {f"r{k}": iri(f"reg:{k}") for k in range(5)}
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("region", EX + "inRegion",
                 b.resource(vocabulary=vocab)),
        ],
    )
    return b.catalog, nation


def q_vocabulary_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary resolution: region IRIs map to static keys
    (frame.ts vocabulary branch of frameNode)."""
    catalog, nation = vocabulary_region_shape()
    engine = FrameEngine(spark, catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(nation)
    return res.matches.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.get_json_object("value", "$.region").alias("region_key"),
    )


def oracle_vocabulary_region() -> str:
    return """
        SELECT 'nat:' || CAST(n_nationkey AS VARCHAR) AS subject,
               'r' || CAST(n_regionkey AS VARCHAR) AS region_key
        FROM nation
    """


def q_frame_error_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast-tree ERROR CHANNEL (fastframe.root_errors) over a
    deterministically malformed supplier graph: suppliers with suppkey % 7 == 0 lose
    their name triple (code 203 NO_PROPERTY_MATCHES), suppkey % 11 == 0
    get a duplicate acct edge (204 MULTIPLE_PROPERTY_MATCHES); a
    subject with both defects reports the FIRST failing property in
    declaration order (name → 203), exactly like the general
    compiler's record-level error row.  ``track_errors=True`` with
    ``diagnostics=False`` routes through the fast tree; the error
    relation is derived lazily from the same per-property outcomes as
    the matches."""
    sup = _load(spark, sf_dir, "supplier")
    sup_iri = F.concat(F.lit("sup:"), F.col("s_suppkey").cast("string"))
    acct = F.col("s_acctbal").cast("string")
    triples = _triples([
        sup.select(_iri(sup_iri).alias("s"), F.lit(RDF_TYPE).alias("p"),
                   _iri(F.lit(EX + "Supplier")).alias("o")),
        sup.filter(F.col("s_suppkey") % 7 != 0).select(
            _iri(sup_iri).alias("s"), F.lit(EX + "name").alias("p"),
            _lit(F.col("s_name"), XSD_STRING).alias("o")),
        sup.select(_iri(sup_iri).alias("s"), F.lit(EX + "acct").alias("p"),
                   _lit(acct, XSD_STRING).alias("o")),
        sup.filter(F.col("s_suppkey") % 11 == 0).select(
            _iri(sup_iri).alias("s"), F.lit(EX + "acct").alias("p"),
            _lit(F.concat(acct, F.lit("x")), XSD_STRING).alias("o")),
    ], checkpoint=False)  # small supplier-sized graph (see supplier_graph)
    b = ShapeBuilder()
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("acct", EX + "acct", b.literal(datatype=XSD_STRING)),
        ],
    )
    engine = FrameEngine(spark, b.catalog, triples,
                         diagnostics=False, track_errors=True)
    res = engine.frame(supplier)
    return res.errors.groupBy("code").agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"))


def oracle_frame_error_codes() -> str:
    return """
        SELECT code, CAST(COUNT(*) AS BIGINT) AS n_subjects
        FROM (
            SELECT CASE WHEN s_suppkey % 7 = 0 THEN 203 ELSE 204 END
                   AS code
            FROM supplier
            WHERE s_suppkey % 7 = 0 OR s_suppkey % 11 = 0
        ) d
        GROUP BY code
    """


def q_frame_map_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map shape keyed by a ShapeReference to the nation-name literal:
    per region, {n_name: nation record}; exploded to (region, n_name)."""
    from ramp_shapes_spark.shapes import InversePath, ShapeReference

    b = ShapeBuilder()
    name_key = b.literal(datatype=XSD_STRING)
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name", name_key)],
    )
    nation_map = b.map_of(ShapeReference(target=name_key, part="value"),
                          nation)
    region = b.record(
        EX + "Region",
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nations", InversePath(PredicatePath(EX + "inRegion")),
                 nation_map),
        ],
    )
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(region)
    return res.matches.select(
        F.get_json_object("value", "$.id").alias("region"),
        F.explode(F.map_keys(F.from_json(
            F.get_json_object("value", "$.nations"), "map<string,string>"
        ))).alias("n_name"),
    )


def oracle_frame_map_nations() -> str:
    return """
        SELECT 'reg:' || CAST(n_regionkey AS VARCHAR) AS region, n_name
        FROM nation
    """


def q_flatten_relational_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frame → RELATIONAL flatten (the compiled JVM emitter path of
    flatten_triples); per-predicate triple counts."""
    from ramp_shapes_spark.flatten import flatten_triples
    from ramp_shapes_spark.relational_flatten import supports_shape

    b = ShapeBuilder()
    nation = b.record(
        EX + "Nation",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Nation")),
                              transient=True)],
        properties=[prop("name", EX + "name", b.literal(datatype=XSD_STRING))],
    )
    supplier = b.record(
        EX + "Supplier",
        type_properties=[prop("t", RDF_TYPE,
                              b.constant(iri(EX + "Supplier")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )
    assert supports_shape(b.catalog, supplier)
    engine = FrameEngine(spark, b.catalog, supplier_graph(spark, sf_dir),
                         diagnostics=False, track_errors=False)
    res = engine.frame(supplier)
    values = res.matches.select(
        F.get_json_object("value", "$.id").alias("seed"), "value"
    )
    flat = flatten_triples(values, b.catalog, supplier, seed_col="seed")
    return flat.groupBy("p").agg(F.count(F.lit(1)).alias("n"))


def oracle_flatten_relational_counts() -> str:
    return oracle_flatten_roundtrip_counts()


def q_flatten_list_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST-shape relational flatten (the head/tail chain JVM emitter,
    flatten.ts:470-512): per order, an rdf list of its high-quantity
    lineitem quantity strings (linenumber order; empty list → rdf:nil
    edge); per-predicate triple counts."""
    from ramp_shapes_spark.flatten import flatten_triples
    from ramp_shapes_spark.relational_flatten import supports_shape

    b = ShapeBuilder()
    order = b.record(
        EX + "Order",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(EX + "Order")),
                              transient=True)],
        properties=[
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("qtys", EX + "qtys",
                 b.list_of(b.literal(datatype=XSD_STRING))),
        ],
    )
    assert supports_shape(b.catalog, order)

    ords = _load(spark, sf_dir, "orders").select(
        F.concat(F.lit("ord:"), F.col("o_orderkey").cast("string"))
        .alias("id"),
        F.col("o_orderkey").alias("k"),
    )
    li = (
        _load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").cast("bigint").cast("string")
                .alias("q")))),
            lambda e: e["q"]).alias("qtys"))
    )
    values = ords.join(li, "k", "left").select(
        F.col("id").alias("seed"),
        F.to_json(F.struct(
            F.col("id"),
            F.coalesce("qtys", F.array().cast("array<string>"))
            .alias("qtys"))).alias("value"),
    )
    flat = flatten_triples(values, b.catalog, order, seed_col="seed")
    return flat.groupBy("p").agg(F.count(F.lit(1)).alias("n"))


def oracle_flatten_list_counts() -> str:
    from ramp_shapes_spark.terms import RDF_FIRST, RDF_REST
    # per order: 1 rdf:type + 1 qtys edge (head node or rdf:nil); per
    # filtered lineitem: 1 rdf:first + 1 rdf:rest link
    return f"""
        WITH o AS (SELECT count(*) AS c FROM orders),
             l AS (SELECT count(*) AS c FROM lineitem
                   WHERE l_quantity > 45)
        SELECT '{RDF_TYPE}' AS p, CAST(c AS BIGINT) AS n FROM o
        UNION ALL
        SELECT '{EX}qtys', CAST(c AS BIGINT) FROM o
        UNION ALL
        SELECT '{RDF_FIRST}', CAST(c AS BIGINT) FROM l
        UNION ALL
        SELECT '{RDF_REST}', CAST(c AS BIGINT) FROM l
    """


def q_shape_subgraph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-driven subgraph extraction (subgraph.py — the Spark-native
    ``generateQuery``, generate-query.ts:25-114): seed at the Supplier
    candidates and walk supplier{name, nation{name}} over the
    supplier graph; the extracted subgraph must contain exactly the
    type/name/locatedIn triples of suppliers and supplier-referenced
    nations — inRegion edges and region/unreferenced-nation names are
    pruned.  Reported as per-predicate triple counts."""
    from ramp_shapes_spark.subgraph import roots_of_type, shape_subgraph

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
    # materialize the graph once: the walk's frontier checkpoints and
    # the final semi-join are separate actions, and in production the
    # triple table is already-stored parquet, not a live union/dedup
    triples = supplier_graph(spark, sf_dir).localCheckpoint(eager=True)
    roots = roots_of_type(triples, EX + "Supplier", RDF_TYPE)
    sub = shape_subgraph(triples, b.catalog, supplier, roots=roots)
    return sub.groupBy("p").agg(F.count(F.lit(1)).alias("triples"))


def oracle_shape_subgraph_counts() -> str:
    # suppliers contribute 1 type + 1 name + 1 locatedIn each; every
    # nation REFERENCED BY a supplier contributes 1 type + 1 name
    # (regions and their names never enter the walk)
    return f"""
        WITH s AS (SELECT count(*) AS c FROM supplier),
             n AS (SELECT count(DISTINCT s_nationkey) AS c FROM supplier)
        SELECT '{RDF_TYPE}' AS p,
               CAST(s.c + n.c AS BIGINT) AS triples FROM s, n
        UNION ALL
        SELECT '{EX}name', CAST(s.c + n.c AS BIGINT) FROM s, n
        UNION ALL
        SELECT '{EX}locatedIn', CAST(c AS BIGINT) FROM s
    """


def q_store_frame_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end store path: materialize the supplier graph to the
    predicate-bucketed parquet sink (per-partition manifests), then
    frame the supplier shape straight off the store via
    frame_from_store — the subgraph walk pins each predicate's pbucket
    partition so the scan prunes (pipeline/materialize.py,
    subgraph.py).  Projects (supplier name, nation name) pairs."""
    import shutil

    from ramp_shapes_spark.pipeline.materialize import (
        frame_from_store, materialize_triples,
    )

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
    # per-run sink: the applicationId keys the path so concurrent runs
    # cannot clobber each other between write and read-back
    root = f"/tmp/ramp_store_frame_{spark.sparkContext.applicationId}"
    shutil.rmtree(root, ignore_errors=True)
    materialize_triples(supplier_graph(spark, sf_dir), root,
                        n_buckets=16, input_fingerprint=sf_dir,
                        spark=spark)
    res = frame_from_store(spark, root, b.catalog, supplier,
                           diagnostics=False, track_errors=False)
    return res.matches.select(
        F.get_json_object("value", "$.name").alias("sup_name"),
        F.get_json_object("value", "$.nation.name").alias("nat_name"),
    )


def oracle_store_frame_names() -> str:
    return """
        SELECT s_name AS sup_name, n_name AS nat_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """


def q_ntriples_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed N-Triples sink + source (ntriples.py — pure column
    expressions both ways, strict parse): serialize the supplier graph
    to .nt text, parse it back, and report per-predicate triple counts
    — the line format's roundtrip is exact by construction."""
    from ramp_shapes_spark.ntriples import read_ntriples, write_ntriples

    sink = f"/tmp/ramp_nt_sink_{spark.sparkContext.applicationId}"
    write_ntriples(supplier_graph(spark, sf_dir), sink)
    back = read_ntriples(spark, sink, strict=True)
    return back.groupBy("p").agg(F.count(F.lit(1)).alias("triples"))


def oracle_ntriples_roundtrip_counts() -> str:
    return f"""
        WITH s AS (SELECT count(*) AS c FROM supplier),
             n AS (SELECT count(*) AS c FROM nation),
             r AS (SELECT count(*) AS c FROM region)
        SELECT '{RDF_TYPE}' AS p,
               CAST(s.c + n.c AS BIGINT) AS triples FROM s, n
        UNION ALL
        SELECT '{EX}name', CAST(s.c + n.c + r.c AS BIGINT) FROM s, n, r
        UNION ALL
        SELECT '{EX}locatedIn', CAST(c AS BIGINT) FROM s
        UNION ALL
        SELECT '{EX}inRegion', CAST(c AS BIGINT) FROM n
    """


def q_incremental_frame_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental frame maintenance (incremental.py): frame the
    supplier shape, then apply a deterministic delta — suppliers with
    ``s_suppkey % 10 == 0`` get a renamed name triple — and maintain
    the framed view incrementally (affected-roots reverse walk +
    re-frame of only those foci).  The result must equal a full
    re-frame of the post-delta graph; projected as (supplier, name,
    nation name) so the oracle is one CASE expression."""
    from ramp_shapes_spark.incremental import incremental_frame

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
            prop("id", SELF_PATH, b.resource(only_named=True)),
            prop("name", EX + "name", b.literal(datatype=XSD_STRING)),
            prop("nation", EX + "locatedIn", nation),
        ],
    )

    old_t = supplier_graph(spark, sf_dir).localCheckpoint(eager=True)
    sup = _load(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 10 == 0)
    sup_iri = F.concat(F.lit("sup:"), F.col("s_suppkey").cast("string"))
    removed = sup.select(
        _iri(sup_iri).alias("s"), F.lit(EX + "name").alias("p"),
        _lit(F.col("s_name"), XSD_STRING).alias("o"))
    added = sup.select(
        _iri(sup_iri).alias("s"), F.lit(EX + "name").alias("p"),
        _lit(F.concat(F.lit("RENAMED "), F.col("s_name")),
             XSD_STRING).alias("o"))
    rem_keys = removed.select(
        F.concat_ws("\x1f", F.col("s")["value"], "p",
                    F.col("o")["value"]).alias("__rk"))
    new_t = (
        old_t.join(
            rem_keys,
            F.concat_ws("\x1f", F.col("s")["value"], F.col("p"),
                        F.col("o")["value"]) == F.col("__rk"),
            "left_anti")
        .unionByName(added.select(
            F.monotonically_increasing_id().alias("tid"), "s", "p", "o"))
        .localCheckpoint(eager=True)
    )

    engine = FrameEngine(spark, b.catalog, old_t,
                         diagnostics=False, track_errors=False)
    old_matches = engine.frame(supplier).matches.localCheckpoint(eager=True)
    got = incremental_frame(spark, b.catalog, supplier, old_matches, new_t,
                            added, removed,
                            diagnostics=False, track_errors=False)
    return got.select(
        F.get_json_object("value", "$.id").alias("subject"),
        F.get_json_object("value", "$.name").alias("sup_name"),
        F.get_json_object("value", "$.nation.name").alias("nat_name"),
    )


def oracle_incremental_frame_names() -> str:
    return """
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR) AS subject,
               CASE WHEN s_suppkey % 10 = 0
                    THEN 'RENAMED ' || s_name ELSE s_name END AS sup_name,
               n_name AS nat_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """
