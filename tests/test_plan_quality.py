"""Physical-plan assertions: the optimizations SURVEY §4 promises must
actually appear in the executed plans — pushed filters, broadcast for
the small dim, no Python eval in JVM-only paths, whole-stage codegen."""

import os

import __spark_entry__ as entry
from pyspark.sql import functions as F

from replicator_spark.dedup import lww_latest
from replicator_spark.model import KEY_COLS
from .conftest import formatted_plan

SF = "/root/testdata/sf0.001"


def test_source_filter_pushdown(spark):
    plan = formatted_plan(entry.q_cdc_source_filter(spark, SF))
    assert "PushedFilters: [" in plan
    # the typed value threshold must reach the parquet scan
    assert "GreaterThan(value,100.0)" in plan.replace(" ", ""), plan[:2000]


def test_jq_select_pushed_to_scan(spark):
    """A jq select() compiles to a native predicate that must reach the
    parquet scan — the filter is not trapped above a Python boundary."""
    plan = formatted_plan(entry.q_transform_jq_engine(spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice,100000.0)" in plan.replace(" ", ""), plan[:2000]


def test_js_custom_filter_pushed_to_scan(spark):
    """The JS CustomFilter predicate (types.go:226) compiles to native
    comparisons that must reach the parquet scan."""
    plan = formatted_plan(entry.q_transform_js_engine(spark, SF))
    assert "PushedFilters: [" in plan
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_quantity,30.0)" in flat, plan[:2000]
    assert "LessThan(l_extendedprice,60000.0)" in flat, plan[:2000]


def test_projection_pruning_reaches_scan(spark):
    plan = formatted_plan(entry.q_transform_shift_rename(spark, SF))
    # only the needed columns are read
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read and "props" in read
    assert "value" not in read, read


def test_lookup_join_is_broadcast(spark):
    plan = formatted_plan(entry.q_lookup_join_enrich(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_lww_is_partial_aggregate_not_window(spark):
    df = spark.range(100).select(
        F.lit("r").alias("repo"),
        (F.col("id") % 10).cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.col("id").alias("seq"),
        F.col("id").cast("string").alias("event_id"),
        F.lit("x").alias("content"),
    )
    plan = formatted_plan(lww_latest(df, KEY_COLS, "seq"), execute=True)
    # max_by over a struct buffer plans as SortAggregate (complex-typed
    # buffer → no HashAggregate), but crucially WITH a partial (map-side)
    # aggregate below the exchange — duplicates collapse before shuffle
    assert "Aggregate" in plan, plan
    pre_exchange = plan.split("Exchange")[0]
    assert "Aggregate" in pre_exchange, "partial aggregate must sit below the shuffle"
    assert "Window" not in plan  # the sort-based ranking form is not the hot path


def test_no_python_eval_in_cdc_queries(spark):
    jvm_only = [
        "cdc_final_state", "cdc_lww_latest", "cdc_op_stats",
        "transform_shift_rename", "lookup_join_enrich", "knn_bruteforce",
        "text_quality_ops", "lang_id",
        "transform_engine_chain", "transform_jq_engine", "filter_regex_in",
        "transform_lua_engine", "transform_js_engine",
        "cdc_event_filter", "cdc_point_lookup",
        "decimal_generated_column", "source_cosmos_normalize",
        "boilerplate_lines", "dataset_split", "pii_redaction",
        "dedup_clusters", "decontaminate", "repetition_filter",
        "doc_chunking", "sessionize_events", "quality_unigram_logprob",
        "sample_mixture", "tfidf_keywords", "ngram_novelty",
        "substring_dedup", "embedding_kmeans",
    ]
    qs = entry.queries()
    for name in jvm_only:
        plan = formatted_plan(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    # Python is allowed ONLY via the Arrow-vectorized runner — never
    # row-at-a-time pickling
    arrow_ok = ["simhash_dedup", "extjson_decode"]
    for name in arrow_ok:
        plan = formatted_plan(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" in plan, name
    # minhash_lsh's contract query checkpoints the banding (it feeds
    # both pairs and stats from one pass), so ITS final plan is
    # checkpoint-rooted — pin the Arrow runner on the banding plan
    # directly instead
    from replicator_spark.ops.dedup_text import (
        lsh_band_buckets,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(
        lsh_band_buckets(minhash_signatures(docs, num_hashes=32), "doc_id", 16)
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    plan = formatted_plan(qs["minhash_lsh"](spark, SF))
    assert "BatchEvalPython" not in plan
    # grouped-Arrow operators (applyInPandas) — FlatMapGroupsInPandas,
    # still never row-at-a-time pickling
    plan = formatted_plan(qs["pack_sequences"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    # semdedup (r6): the per-cluster quadratic verify runs as a blocked
    # BLAS kernel via mapInPandas — grouped-Arrow, never row-at-a-time
    plan = formatted_plan(qs["semdedup"](spark, SF))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cosmos_high_water_pushed_to_scan(spark, tmp_path):
    """The continuation-token analog (_ts > high_water) must reach the
    parquet scan as a pushed filter — the incremental-scan property the
    reference's token provides."""
    from replicator_spark.sources.normalize import from_cosmos_documents

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f'{{"id":"d{i}","_ts":{i}}}') for i in range(100)],
        "seq long, doc string",
    ).write.parquet(p)
    # materialize _ts as a column on write for real feeds; for the JSON
    # form the filter applies post-extract but BEFORE any join/agg
    df = spark.read.parquet(p)
    out = from_cosmos_documents(
        df, db="d", container="c", now_ts=100, high_water_ts=50
    )
    plan = formatted_plan(out)
    assert "Filter" in plan and "BatchEvalPython" not in plan
    assert out.count() == 49


def test_partial_collapse_is_partial_aggregate_not_window(spark):
    """lww_collapse_partial must keep the map-side-combine aggregation
    shape of lww_latest — one shuffle, no window ranking."""
    from replicator_spark.dedup import lww_collapse_partial

    df = spark.range(100).select(
        F.lit("r").alias("repo"),
        (F.col("id") % 10).cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.col("id").alias("seq"),
        (F.col("id") % 3 == 0).alias("_partial"),
        F.lit("insert").alias("op"),
        F.col("id").cast("string").alias("event_id"),
        F.lit("x").alias("content"),
    )
    plan = formatted_plan(lww_collapse_partial(df, KEY_COLS, "seq"), execute=True)
    pre_exchange = plan.split("Exchange")[0]
    assert "Aggregate" in pre_exchange, "partial aggregate must sit below the shuffle"
    assert "Window" not in plan
    # exactly one shuffle in the final plan tree (formatted output lists
    # the tree again in the AQE initial-plan section — count the tree)
    tree = plan.split("(1) ")[0]
    assert tree.count("Exchange") <= 2, tree


def test_whole_stage_codegen_in_final_state(spark):
    plan = formatted_plan(entry.q_cdc_final_state(spark, SF), execute=True)
    # formatted mode marks whole-stage-codegen operators with a '*'
    assert "* Project" in plan or "* HashAggregate" in plan or "WholeStageCodegen" in plan


def test_feed_scan_partition_pruned(spark, tmp_path):
    """Reading one feed batch dir must not list the others."""
    from replicator_spark.feedgen import gen_changes, write_feed

    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, 500, n_batches=4), feed)
    df = spark.read.parquet(f"{feed}/batch_id=1")
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("batch_id=1" in f for f in files)


def test_decontaminate_benchmark_side_is_broadcast(spark):
    """The eval-corpus gram set must broadcast — the training side
    streams through the join without shuffling on gram hash."""
    plan = formatted_plan(entry.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:1500]
