"""Physical-plan property assertions: the scale guarantees this engine
claims (scan pruning, filter pushdown, broadcast shapes, codegen,
shuffle-freedom) pinned against the plans Catalyst actually produces — so
a refactor that silently breaks one fails a test, not a 100 TB run."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_typed_validation_prunes_scan_columns(spark):
    """A schema touching only `lang` must scan only (doc_id, lang) — at
    100 TB the difference between reading 2 columns and the whole table."""
    from json_schema_spark.engine import ValidationEngine

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    eng = ValidationEngine(spark)
    res = eng.validate_typed(
        docs, {"properties": {"lang": {"type": ["string"]}},
               "required": ["lang"]},
        id_cols=["doc_id"])
    plan = _plan(res.annotated.select("doc_id", "is_valid"))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert all("text" not in ln for ln in scan_lines), scan_lines
    assert any("lang" in ln for ln in scan_lines), scan_lines


def test_asof_pushes_event_type_filter_to_scan(spark):
    """The as-of join's union must not block predicate pushdown: both
    side filters (purchase/click) reach the parquet scan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["asof_click_before_purchase"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "purchase" in plan and "click" in plan, plan[:2000]


def test_cosine_topk_broadcasts_query_side(spark):
    from json_schema_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.cosine_topk(emb, k=3,
                                 queries=emb.where(F.col("vec_id") < 5))
    assert "Broadcast" in _plan(out)


def test_validation_runs_in_wholestage_codegen(spark):
    from json_schema_spark.engine import ValidationEngine

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    eng = ValidationEngine(spark)
    res = eng.validate_typed(
        docs, {"properties": {"lang": {"type": ["string"]},
                              "n_chars": {"type": ["integer"],
                                          "minimum": 0}}},
        id_cols=["doc_id"])
    # executedPlan().toString() marks codegen'd stages with a "*(n)"
    # prefix (the literal WholeStageCodegen node name only appears in
    # formatted explain output)
    assert "*(" in _plan(res.annotated)


def test_doc_chunking_is_shuffle_free(spark):
    """Chunking is row-local fan-out: no Exchange anywhere in the plan —
    it pipelines inside the scan stage at any scale."""
    from json_schema_spark.pipeline import text as text_ops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text_ops.chunk_documents(docs, chunk_tokens=32, overlap=8))
    assert "Exchange" not in plan, plan


def test_exact_dedup_single_shuffle(spark):
    """dedup_exact = one aggregation shuffle (fingerprint groupBy) + the
    semi-join reusing it; no second data-wide exchange of the full rows
    beyond the join's own."""
    from json_schema_spark.pipeline.dedup import exact_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_duplicates(docs))
    # partial_count then final count = map-side combine visible in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_contamination_broadcasts_probe_side(spark):
    """Decontamination must broadcast the (bounded) probe shingle set —
    a shuffle join on the shingle would move the whole corpus's shingle
    table for what is a map-side lookup against a benchmark suite."""
    from json_schema_spark.pipeline.dedup import contamination_overlap

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probes = docs.where(F.col("doc_id") % 200 == 3)
    plan = _plan(contamination_overlap(docs, probes, n=8))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan

    # fallback: with auto-broadcast disabled and the flag off, the probe
    # join must NOT broadcast (a refactor dropping the flag would) —
    # conf-pinned so the assertion is falsifiable
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        noplan = _plan(contamination_overlap(docs, probes, n=8,
                                             broadcast_probes=False))
        assert "BroadcastHashJoin" not in noplan, noplan
        assert "SortMergeJoin" in noplan or "ShuffledHashJoin" in noplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_fires_on_referential_join(spark):
    """north_star names Bloom-filter semi-join reduction for referential
    checks: Spark 4 injects a bloom `might_contain` on the streamed side
    of a shuffle join when the build side is small+filtered. On by
    default but gated by a 10 GB application-side scan threshold (why
    test-scale plans never show it) — pinned here with the threshold
    lowered so a conf regression or a join-shape refactor that breaks
    injection fails a test. Anti-joins can't take it (a false positive
    would wrongly DROP a non-matching row), which is why the dangling-ref
    check broadcasts instead."""
    old_b = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_t = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        ok = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
              .where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey"))
        plan = _plan(li.join(ok, li.l_orderkey == ok.o_orderkey))
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_b)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", old_t)


def test_lsh_stream_store_read_partition_prunes(spark, tmp_path):
    """The streaming LSH signature store is partitioned by a bucket-hash
    shard; the per-batch read must turn the batch's shard set into
    PartitionFilters so the scan touches only those directories — at
    100 TB of accumulated signatures the difference between O(batch
    buckets) and O(store) per micro-batch."""
    from json_schema_spark.pipeline.dedup import minhash_bands
    from json_schema_spark.streaming.lsh_stream import (
        SHARD_COL, pruned_store_read, with_shard)

    docs = spark.createDataFrame(
        [(i, f"plan probe doc {i} tok_{i * 5 % 17}") for i in range(50)],
        "doc_id bigint, text string")
    store = str(tmp_path / "plan_store")
    with_shard(minhash_bands(docs), 64) \
        .write.partitionBy(SHARD_COL).parquet(store)

    pruned = pruned_store_read(spark, store, [3, 7, 11])
    plan = _plan(pruned)
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines, plan
    assert any(SHARD_COL in ln and "IN" in ln.upper() for ln in part_lines), \
        part_lines


def test_gopher_rules_is_shuffle_free(spark):
    """Every Gopher rule signal is a row-local codegen expression: no
    Exchange, no Python evaluation anywhere in the plan — the filter
    pipelines inside the scan."""
    from json_schema_spark.pipeline import text as text_ops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text_ops.gopher_rules(docs))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_dsir_lambda_join_broadcasts(spark):
    """The per-feature lambda table is bounded by n_buckets, so the
    scoring join must broadcast — the corpus-side feature table is never
    shuffled a second time."""
    from json_schema_spark.pipeline import cache, sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = sampling.dsir_weights(docs, docs.limit(50), n_buckets=512)
    plan = _plan(res)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    cache.release(res)


def test_substring_dedup_single_arrow_stage(spark):
    """Anchor build + marking stay JVM-side (md5 expressions, joins);
    Python appears exactly once — the Arrow coverage UDF."""
    from json_schema_spark.pipeline import cache, dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = dedup.substring_dedup(docs, min_tokens=8)
    plan = _plan(res)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time UDF
    cache.release(res)


def test_bloom_dedup_against_definite_new_branch_avoids_join(spark):
    """The Bloom pre-filter's value is structural: definite-new rows take
    a join-free branch (scan -> probe -> filter), and only the
    Bloom-positive branch carries the exact anti-join."""
    from json_schema_spark.pipeline import cache, dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = docs.where(F.col("doc_id") % 4 == 0).select("text")
    res = dedup.dedup_against(docs.select("doc_id", "text"), ref,
                              bloom_fpp=0.01)
    plan = _plan(res)
    assert "Union" in plan, plan
    # exactly one anti-join in the whole plan — the correction join
    assert plan.count("LeftAnti") == 1, plan
    # the membership test is Arrow-vectorized, never row-at-a-time
    assert "BatchEvalPython" not in plan, plan
    cache.release(res)


def test_importance_sample_is_takeordered(spark):
    """Gumbel-top-k must rank via per-partition heaps (TakeOrdered), never
    a global sort — the difference between O(n log k) per partition and a
    full-corpus range shuffle."""
    from json_schema_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = docs.select("doc_id", (F.col("n_chars") / 100.0).alias("logw"))
    plan = _plan(sampling.importance_sample(w, n=50))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


def test_temperature_mix_broadcasts_cuts(spark):
    """The per-source cut table is O(#sources) — it must broadcast; the
    corpus side sees only the row-local bucket filter, no shuffle."""
    from json_schema_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(sampling.temperature_mix(docs, budget_docs=100, tau=0.5))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bm25_is_takeordered_pruned_and_python_free(spark):
    """BM25 rescoring must stay row-local codegen (lookaround regexp_count,
    no token arrays, no Python), read only (id, text), and rank via
    TakeOrdered — never a global sort over the corpus."""
    from json_schema_spark.pipeline import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text.bm25_topk(docs, ["hash", "join"], n=50))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_kmeans_assignment_has_no_exchange_or_join(spark):
    """The k-means scoring pass is row-local against the O(k·dim) centroid
    matrix the scorer UDF carries — the corpus is never shuffled or joined
    for assignment."""
    from json_schema_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cen, assign = similarity.kmeans(emb, k=4, n_iters=1)
    plan = _plan(assign)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    spark.catalog.clearCache()


def test_ivf_family_has_no_nested_loop_join(spark):
    """Centroid scoring is one row-local pass for every IVF-family
    operator: no n×C CartesianProduct or BroadcastNestedLoopJoin anywhere
    in their plans, and ivf_topk's candidate pairs come out of one cid
    join already unique — no aggregate over (query_id, neighbor_id)."""
    import re

    from json_schema_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plans = {
        "ivf_topk": _plan(similarity.ivf_topk(emb, k=3, n_centroids=8,
                                              nprobe=2)),
        "prototypicality": _plan(similarity.prototypicality(
            emb, n_centroids=8)),
        "semantic_dedup": _plan(similarity.semantic_dedup(
            emb, n_centroids=8)),
        "ivfpq_topk": _plan(similarity.ivfpq_topk(
            emb, k=3, n_queries=2, n_cells=4, nprobe=2, m=4, k_sub=4,
            n_iters=1)),
        "kmeans": _plan(similarity.kmeans(emb, k=4, n_iters=1)[1]),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
    assert not re.search(r"Aggregate\(keys=\[query_id#\d+L?, "
                         r"neighbor_id#\d+L?\]", plans["ivf_topk"]), plans
    spark.catalog.clearCache()


def test_pq_topk_broadcasts_queries_no_global_sort(spark):
    """PQ ADC scoring must broadcast the tiny (query_id, qidx, qn) frame
    against the codes scan and rank via hash-partitioned two-phase windows
    — never a range partition (global sort) of the scored corpus."""
    from json_schema_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.pq_topk(emb, k=3, n_queries=2, m=4, k_sub=4,
                                    n_iters=1))
    assert "BroadcastExchange" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_bpe_encode_broadcasts_vocab(spark):
    """The corpus-facing BPE application pass must be explode + BROADCAST
    vocab join + partial-aggregated sum — the corpus side shuffles only
    the per-doc partial sums, and never enters Python (the Arrow merge
    UDF lives on the vocab branch only)."""
    from json_schema_spark.pipeline import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text.bpe_encode_stats(docs, n_merges=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_ivfpq_probe_filter_precedes_scoring(spark):
    """IVF-PQ must prune candidates with a broadcast hash join of the
    (query, probed cell) rows on the neighbor's cell id — the ADC Arrow
    UDF only sees probed-cell rows, and nothing range-partitions."""
    import re

    from json_schema_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(similarity.ivfpq_topk(emb, k=3, n_queries=2, n_cells=4,
                                       nprobe=2, m=4, k_sub=4, n_iters=1))
    assert re.search(r"BroadcastHashJoin \[cid#\d+\], \[cid#\d+\]", plan), plan
    assert "BroadcastExchange" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_bigram_nll_prunes_scans_no_global_sort(spark):
    """Perplexity scoring must read only (id, text) / (text, lang) from
    the corpus scans and never range-partition; the ln pass is Arrow on
    the model-sized table, not the corpus."""
    from json_schema_spark.pipeline import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = text.bigram_nll(docs, reference=docs.where("lang = 'en'"))
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "ReadSchema: struct<text:string,lang:string>" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_tfidf_prunes_scan_no_global_sort(spark):
    from json_schema_spark.pipeline import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text.tfidf_topk_terms(docs, j=3))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
