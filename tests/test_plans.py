"""Physical-plan regression tests: the 100 TB properties the ops are
designed around — predicate pushdown into the parquet scan, column
pruning, broadcast on intentionally-small sides, and NO row-at-a-time
Python in relational hot paths — asserted on the real query surface so
a refactor cannot silently regress them."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _entry():
    import __spark_entry__ as e
    return e.queries()


def test_asof_join_pushes_event_type_filter(spark):
    df = _entry()["events_asof_view"](spark, SF)
    p = _plan(df)
    assert "PushedFilters" in p
    # the click/view filters must reach the two parquet scans
    assert p.count("EqualTo(event_type,") >= 2, p


def test_token_stats_prunes_columns(spark):
    df = _entry()["token_stats"](spark, SF)
    p = _plan(df)
    # the documents scan must read only the two referenced columns,
    # not the full row (lang, url, media, embedding, ...)
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    assert "text" in scan[0]
    for unused in ("url", "media"):
        assert unused not in scan[0], scan[0]


def test_ann_brute_broadcasts_query_side(spark):
    df = _entry()["ann_brute_topk"](spark, SF)
    p = _plan(df)
    assert "Broadcast" in p, p


def test_snapshot_delta_single_join_no_python(spark):
    df = _entry()["snapshot_delta"](spark, SF)
    p = _plan(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # one full-outer join of two pre-aggregated sides, no more
    # (the operator tree is the first block of the formatted plan;
    # the detail section repeats each operator once)
    tree = p.split("\n\n")[0]
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") \
        + tree.count("BroadcastHashJoin") == 1, tree


@pytest.mark.parametrize("name", [
    "token_stats", "quality_score", "lang_guess", "doc_fingerprint",
    "simhash64", "bpe_token_counts", "tool_transitions", "conv_dedup",
    "inverted_index", "tfidf_top_terms", "value_quantiles",
    "vocab_topk", "pii_redaction", "repetition_stats",
])
def test_hot_paths_have_no_python_stage(spark, name):
    df = _entry()[name](spark, SF)
    p = _plan(df)
    assert "BatchEvalPython" not in p, f"{name} has row-Python"
    assert "ArrowEvalPython" not in p, f"{name} has a pandas UDF"


def test_snapshot_delta_key_validation(spark):
    """Bad key columns raise a clear ValueError, not a downstream
    unresolved-column AnalysisException (round-5 review)."""
    import pytest

    from ramp_shapes_spark.ops.delta import snapshot_delta

    old = spark.createDataFrame([(1, "a")], ["k", "v"])
    new = spark.createDataFrame([(1, "a")], ["k", "w"])
    with pytest.raises(ValueError, match="missing"):
        snapshot_delta(old, new, key_cols=["k", "v"])
    assert snapshot_delta(old, new, key_cols=["k"]).count() == 0


def test_vocabulary_region_single_aggregation_pass(spark):
    """vocabulary_region frames through the fast tree: ONE aggregation
    over the triples on top of the graph's own plan, and no join (the
    general compiler ran ~40 operations per record site)."""
    import re

    from ramp_shapes_spark.ops.relational import supplier_graph

    def n_ops(df, op):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(rf"\b{op} ", opt))

    df = _entry()["vocabulary_region"](spark, SF)
    graph = supplier_graph(spark, SF)
    assert n_ops(df, "Aggregate") == n_ops(graph, "Aggregate") + 1
    assert n_ops(df, "Join") == 0


def test_bounded_set_record_has_no_window(spark):
    """A record with a maxCount-bounded leaf set frames through the
    fast tree's exact per-predicate set plan: no ranked window (the
    degree-capped per-subject gather is general-compiler-only)."""
    from ramp_shapes_spark.dataset import triples_df
    from ramp_shapes_spark.frame import FrameEngine
    from ramp_shapes_spark.shapes import ShapeBuilder, prop
    from ramp_shapes_spark.terms import RDF_TYPE, XSD_STRING, iri, lit

    ex = "http://example.com/plan#"
    b = ShapeBuilder()
    root = b.record(
        ex + "T",
        type_properties=[prop("t", RDF_TYPE, b.constant(iri(ex + "T")),
                              transient=True)],
        properties=[
            prop("id", ex + "id", b.literal(datatype=XSD_STRING)),
            prop("vals", ex + "val",
                 b.set_of(b.literal(datatype=XSD_STRING), max_count=2)),
        ],
    )
    t = [(iri("s"), RDF_TYPE, iri(ex + "T")), (iri("s"), ex + "id", lit("s")),
         (iri("s"), ex + "val", lit("a"))]
    for track in (False, True):
        engine = FrameEngine(spark, b.catalog, triples_df(spark, t),
                             diagnostics=False, track_errors=track)
        res = engine.frame(root)
        for df in (res.matches, res.errors):
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            assert "Window" not in opt, opt
