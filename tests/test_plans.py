"""Physical-plan assertions — the 100 TB checklist: filters reach the
parquet scan, projections prune columns, small dims broadcast, the
pure-Catalyst generation path has zero Python nodes, partitioned writes
prune directories, bucketed joins run shuffle-free."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from datafusion_randgen_spark import plans
from datafusion_randgen_spark.sources import load_table
from datafusion_randgen_spark.sources.synthetic import synthetic_table

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    o = load_table(spark, SF, "orders").filter(F.col("o_custkey") < 100)
    assert plans.has_pushed_filters(o)


def test_projection_prunes_scan_columns(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    [schema_line] = plans.scan_read_schema(li)
    assert "l_orderkey" in schema_line and "l_quantity" in schema_line
    assert "l_comment" not in schema_line  # untouched columns never read


def test_small_dim_join_broadcasts(spark):
    n = load_table(spark, SF, "nation")
    r = load_table(spark, SF, "region")
    joined = n.join(r, n.n_regionkey == r.r_regionkey)
    assert plans.has_broadcast_join(joined)


def test_volatile_synthetic_table_is_pure_codegen(spark):
    """The exprs fast path must never fall back to a Python worker —
    that's the whole point of having it next to the pandas-UDF family."""
    df = synthetic_table(
        spark,
        1000,
        {
            "a": {"kind": "int64_uniform", "lo": 1, "hi": 10},
            "b": {"kind": "float64_normal", "mean": 0.0, "std": 1.0},
            "c": {"kind": "element_from_weighted", "values": ["x", "y"], "weights": [1, 3]},
            "d": {"kind": "zipf", "n": 100, "s": 1.5},
        },
    )
    assert plans.python_eval_nodes(df) == 0


def test_seeded_synthetic_table_is_pure_codegen(spark):
    df = synthetic_table(
        spark,
        1000,
        {
            "a": {"kind": "int64_uniform", "lo": 1, "hi": 10},
            "s": {"kind": "string_alpha", "length": 4},
        },
        seed=7,
    )
    assert plans.python_eval_nodes(df) == 0


def test_pandas_udf_family_is_arrow_vectorized(spark):
    """The parity family must go through ArrowEvalPython (vectorized
    batches), never row-at-a-time BatchEvalPython."""
    from datafusion_randgen_spark import add_udfs

    add_udfs(spark)
    df = spark.sql("SELECT randgen_float64_uniform(0, 1) AS x FROM range(1, 101)")
    plan = plans.physical_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("bounds", ["literals", "columns", "nullable_column"])
def test_int64_uniform_builder_plan_matches_sql_function(spark, bounds):
    """``exprs.int64_uniform_expr`` and the SQL function
    ``randgen_int64_uniform`` spell one formula: their optimized plans
    are equal up to ``rand`` seeds and expression ids."""
    import re

    from datafusion_randgen_spark.functions import exprs

    lo_col = F.col("id")
    if bounds == "nullable_column":
        lo_col = F.when(F.col("id") % 7 > 0, F.col("id"))
    base = spark.range(100).select(lo_col.alias("lo"), (F.col("id") * 3).alias("hi"))
    lo, hi = (F.lit(1), F.lit(10)) if bounds == "literals" else (F.col("lo"), F.col("hi"))

    def optimized(col):
        plan = base.select(col.alias("x"))._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", re.sub(r"rand\(-?\d+\)", "rand()", plan))

    via_sql = optimized(F.call_function("randgen_int64_uniform", lo, hi))
    assert optimized(exprs.int64_uniform_expr(lo, hi)) == via_sql
    # literal bounds fold to the 63-bit branch; columns keep both branches
    assert via_sql.count("rand()") == (2 if bounds == "literals" else 4)


def test_partitioned_write_prunes_directories(spark, tmp_path):
    o = load_table(spark, SF, "orders")
    base = str(tmp_path / "orders_part")
    o.write.partitionBy("o_orderstatus").parquet(base)
    back = spark.read.parquet(base).filter(F.col("o_orderstatus") == "F")
    assert plans.has_partition_filters(back)
    # pruned scan result still matches the unpartitioned filter
    assert back.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key → SortMergeJoin with ZERO
    shuffle exchanges (broadcast disabled to force the SMJ path)."""
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    from datafusion_randgen_spark.queries import _drop_managed_table

    for name, df, key in (
        ("tp_orders_b", o, "o_custkey"),
        ("tp_customer_b", c, "c_custkey"),
    ):
        _drop_managed_table(spark, name)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob, cb = spark.table("tp_orders_b"), spark.table("tp_customer_b")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
        assert plans.exchange_count(joined) == 0
        assert "SortMergeJoin" in plans.physical_plan(joined)
        # plain (unbucketed) version shuffles both sides
        plain = o.join(c, o.o_custkey == c.c_custkey)
        assert plans.exchange_count(plain) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q14_broadcasts_part_and_pushes_shipdate(spark):
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q14_promo_revenue"](spark, SF)
    assert plans.has_broadcast_join(df)  # part never shuffles lineitem
    fp = plans.formatted_plan(df)
    assert "l_shipdate" in fp.split("ReadSchema")[0] or plans.has_pushed_filters(df)


def test_q19_pushes_per_side_conjuncts_below_join(spark):
    """Catalyst must extract scan-level filters out of the OR-of-ANDs:
    the lineitem side gets a quantity range, the part side a brand/size
    disjunction — neither scan may be filter-free."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q19_disjunctive_pred"](spark, SF)
    fp = plans.formatted_plan(df)
    assert "p_brand" in fp and "l_quantity" in fp
    assert plans.has_broadcast_join(df)


def test_unpivot_is_expand_no_extra_shuffle(spark):
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q_unpivot_measures"](spark, SF)
    pp = plans.physical_plan(df)
    assert "Expand" in pp
    # exactly one exchange: the final 4-key groupBy (AQE may add reads)
    assert pp.count("Exchange hashpartitioning") == 1


def test_cross_join_grid_is_broadcast_nested_loop(spark):
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q_cross_join_grid"](spark, SF)
    assert "BroadcastNestedLoopJoin" in plans.physical_plan(df)


def test_nested_struct_pruning_reaches_scan(spark, tmp_path):
    """Selecting one struct field must prune the parquet ReadSchema to
    that field — at 100 TB reading s.* for s.a is a 10× tax."""
    path = str(tmp_path / "nested")
    spark.sql(
        "SELECT id, named_struct('a', id * 2, 'b', repeat('x', 100)) AS s"
        " FROM range(100)"
    ).write.parquet(path)
    df = spark.read.parquet(path).select("id", "s.a")
    [schema_line] = plans.scan_read_schema(df)
    assert "s:struct<a:bigint>" in schema_line  # b:string pruned away


def test_aqe_splits_skewed_join_partitions(spark):
    """With thresholds forced low, AQE's OptimizeSkewedJoin must split
    the zipf-hot partition — the runtime answer to skew that salting
    solves statically."""
    from datafusion_randgen_spark.functions import seeded

    conf = spark.conf
    old = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        n = 200_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, 1)  # 90% of rows on key 1
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"))
        j = fact.join(dim, "k")
        # materialize THIS DataFrame's own QueryExecution (count() would
        # build a separate one and leave this plan unfinalized)
        assert len(j.collect()) > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A dim-side filter must prune fact PARTITIONS at runtime (DPP):
    the scan carries a dynamicpruning subquery instead of reading all
    25 directories."""
    base = str(tmp_path / "fact")
    spark.range(50_000).select(
        (F.col("id") % 25).alias("pk"), F.col("id").alias("v")
    ).write.partitionBy("pk").mode("overwrite").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.range(25).select(
        F.col("id").alias("pk"), (F.col("id") % 5).alias("grp")
    )
    j = fact.join(dim, "pk").filter(F.col("grp") == 1)
    assert "dynamicpruning" in plans.physical_plan(j).lower()


def test_runtime_bloom_filter_injected_on_selective_join(spark, tmp_path):
    """With no broadcast and a selective build side, Spark must inject
    a runtime bloom filter (bloom_filter_agg → might_contain) that
    discards probe rows BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the fact and shuffling the survivors."""
    conf = spark.conf
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    old = {k: conf.get(k) for k in keys}
    try:
        conf.set(keys[0], "0")
        conf.set(keys[1], "-1")
        big = str(tmp_path / "big")
        sel = str(tmp_path / "sel")
        spark.range(200_000).select(
            (F.col("id") % 50_000).alias("k"), F.col("id").alias("v")
        ).write.parquet(big)
        spark.range(50_000).select(
            (F.col("id") % 50_000).alias("k"), (F.col("id") % 7).alias("g")
        ).write.parquet(sel)
        j = spark.read.parquet(big).join(
            spark.read.parquet(sel).filter(F.col("g") == 3), "k"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_pii_redaction_is_single_shuffle_jvm_regex(spark):
    """The redaction pass is scan → project (JVM regexp_replace) →
    partial agg → one exchange on lang: no Python worker, no second
    shuffle — at 100 TB the regex work rides the scan."""
    from datafusion_randgen_spark import queries as cat

    df = cat.QUERIES["t_pii_redaction"](spark, SF)
    assert plans.python_eval_nodes(df) == 0
    assert plans.exchange_count(df) == 1


def test_hash_mod_sample_predicate_prunes_and_stays_jvm(spark):
    """The hash-threshold sample is a JVM-codegen filter over a
    doc_id-only scan: no Python, no shuffle before the count's 1-row
    partial-agg exchange, and the scan reads just the key column."""
    from datafusion_randgen_spark.sources import load_table as lt

    docs = lt(spark, SF, "documents").select("doc_id")
    sampled = docs.filter(F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(1000)) < 100)
    assert plans.python_eval_nodes(sampled) == 0
    assert plans.exchange_count(sampled) == 0
    [schema_line] = plans.scan_read_schema(sampled)
    assert "doc_id" in schema_line and "text" not in schema_line


def test_tfidf_and_zipf_rank_windows_never_single_partition_vocab(spark):
    """Round-5 weak-plan fix: the vocabulary rank–frequency frame is
    Heaps-law sublinear but still 10⁸–10⁹ rows at web scale, so neither
    entry may funnel it through one task.  Zipf's global rank must run
    through the range-bucketed two-phase global_row_number (the only
    SinglePartition exchanges left: the bucket-offsets window and the
    final 3-number regression agg); tfidf's per-lang top-10 must
    pre-rank across (lang, salt) shards so the lone per-lang window
    rides a ≤320-rows-per-lang frame.  All JVM, no Python nodes.
    Static planning so the exchanges are visible."""
    from datafusion_randgen_spark import queries as cat

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        zipf = cat.QUERIES["t_zipf_token_slope"](spark, SF)
        tfidf = cat.QUERIES["t_tfidf_top_terms"](spark, SF)
        zplan = plans.physical_plan(zipf)
        tplan = plans.physical_plan(tfidf)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    for name, df in (("t_tfidf_top_terms", tfidf), ("t_zipf_token_slope", zipf)):
        assert plans.python_eval_nodes(df) == 0, name
    # zipf: vocab frame is __bucket-hash-clustered; SinglePartition only
    # for the bucket-offsets window + the final scalar regression agg
    assert "hashpartitioning(__bucket" in zplan
    assert zplan.count("Exchange SinglePartition") <= 2
    # tfidf: no SinglePartition anywhere except the 1-row n_docs agg;
    # the shard pre-rank clusters on (lang, salt)
    assert "__salt" in tplan
    assert tplan.count("Exchange SinglePartition") <= 1


def test_q8_star_join_broadcasts_all_dims(spark):
    """The widest join tree in the catalog (8 tables): every dimension
    must broadcast so lineitem — the only big relation — never
    shuffles for the joins; the single exchange feeds the final
    group-by, and nothing degenerates to a sort-merge join or
    cartesian."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q8_market_share"](spark, SF)
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plans.python_eval_nodes(df) == 0


def test_deterministic_shuffle_is_topk_not_global_sort(spark):
    """The head of a hash-ordered permutation must plan as TopK
    (per-partition heads + tiny merge), never a full global sort; the
    position window rides ABOVE the 20-row TopK, and the scan reads
    only the key column."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["p_deterministic_shuffle"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.exchange_count(df) == 0  # no shuffle at all: TopK + tiny window
    [schema_line] = plans.scan_read_schema(df)
    assert "doc_id" in schema_line and "text" not in schema_line


def test_contamination_check_joins_are_hash_only(spark):
    """Every decontamination join must be an equi-hash join (broadcast
    or shuffled) — an accidental nested-loop over gram sets would be
    quadratic in the corpus; the bench-doc scan must push the %20
    split down to a doc_id-only read."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["d_contamination_check"](spark, SF)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "partial_count" in plan  # distinct/agg combine map-side
    assert plans.python_eval_nodes(df) == 0


def test_repetition_filter_two_shuffles_with_map_side_combine(spark):
    """Token explode stays map-local: the first shuffle already carries
    per-(doc, term) partial counts, the second reduces to per-doc — two
    exchanges total for the whole quality signal."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["t_repetition_filter"](spark, SF)
    plan = plans.physical_plan(df)
    assert plans.exchange_count(df) == 2
    assert "partial_count" in plan
    assert plans.python_eval_nodes(df) == 0


def test_domain_mixture_single_partition_only_on_domain_frame(spark):
    """The normalizing window's Exchange SinglePartition must sit ABOVE
    the per-source aggregate (domain-sized frame), never below it, and
    the scan reads only text+source."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["p_domain_mixture"](spark, SF)
    plan = plans.physical_plan(df)
    single = plan.index("Exchange SinglePartition")
    agg = plan.index("HashAggregate(keys=[source")
    assert single < agg  # plan prints top-down: SinglePartition is above
    [schema_line] = plans.scan_read_schema(df)
    assert "text" in schema_line and "source" in schema_line
    assert "doc_id" not in schema_line


def test_symspell_and_triangle_joins_are_hash_only(spark):
    """The two newest self-join entries must never degenerate to a
    nested loop: SymSpell candidates join on the deletion-variant key
    (the a.w < b.w condition is a post-join filter, not the join key),
    and triangle counting's two wedge joins key on edge endpoints."""
    from datafusion_randgen_spark.queries import QUERIES

    for name in ("q_fuzzy_join_symspell", "q_triangle_count"):
        df = QUERIES[name](spark, SF)
        plan = plans.physical_plan(df)
        assert "CartesianProduct" not in plan, name
        # the data-sized joins must be hash joins; the only nested
        # loops allowed are the 1-row×1-row scalar-assembly crossJoins
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), name
        n_scalar_crossjoins = 1 if name == "q_fuzzy_join_symspell" else 2
        assert plan.count("BroadcastNestedLoopJoin") <= n_scalar_crossjoins, name
        assert plans.python_eval_nodes(df) == 0, name


def test_sparse_matmul_is_hash_join_with_partial_aggs(spark):
    """COO matmul must plan as scan→partial-agg→shuffle→join→partial-agg
    →shuffle — hash joins only, and BOTH aggregates map-side-combined
    (two HashAggregate nodes per agg: partial below the exchange)."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q_sparse_matmul"](spark, SF)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert plans.python_eval_nodes(df) == 0
    # 3 logical aggregates (A histogram, B histogram, output) × 2
    # (partial + final) — partials prove map-side combine everywhere
    assert plan.count("HashAggregate") >= 6


def test_forward_fill_window_partitions_by_user(spark):
    """The LOCF window must run partitioned by user — never the
    unpartitioned form (Exchange SinglePartition over the spine)."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q_forward_fill_locf"](spark, SF)
    plan = plans.physical_plan(df)
    assert "SinglePartition" not in plan
    assert plans.python_eval_nodes(df) == 0


def test_exact_pctl_histogram_corpus_path_is_one_shuffle(spark):
    """The corpus flows ONLY through the histogram groupBy (one
    exchange with a partial aggregate below it); the rank-range joins
    must broadcast the tiny rank frame, not shuffle the histogram
    against it."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["q_exact_pctl_histogram"](spark, SF)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plans.python_eval_nodes(df) == 0
    # sort-based percentile would appear as a `percentile` aggregate
    assert "percentile" not in plan.lower()


def test_sql_lr_inference_is_pure_codegen(spark):
    """The LR scorer's claim: dot product + sigmoid + aggregate all
    JVM-side — zero Python nodes, one exchange (the label groupBy)."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["s_sql_lr_inference"](spark, SF)
    assert plans.python_eval_nodes(df) == 0
    assert plans.exchange_count(df) <= 1


def test_simhash_pairs_within_is_hash_equi_join(spark):
    """The permuted-table candidate join must be an equi-join on
    (table, value) keys — a nested-loop over fingerprints would be the
    O(n²) all-pairs scan the scheme exists to avoid — and the whole
    path must stay JVM-side (bit arithmetic, no Python nodes)."""
    from datafusion_randgen_spark.operators import dedup

    fps = spark.range(100).select(
        F.col("id"), (F.col("id") * 2654435761).alias("simhash")
    )
    df = dedup.simhash_pairs_within(fps, max_hamming=6)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "tbl" in plan and "val" in plan  # joined on the band keys
    assert plans.python_eval_nodes(df) == 0


def test_dup_span_coverage_single_span_shuffle_no_python(spark):
    """Span strings cross the wire exactly once (the count-over-span
    window); the interval-union window and the final join key on the
    doc id — and none of it leaves the JVM."""
    from datafusion_randgen_spark.operators import dedup

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    df = dedup.dup_span_coverage(docs, k=4)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plans.python_eval_nodes(df) == 0
    # exactly one exchange partitions on the span text `g`; every other
    # exchange keys on doc_id (window + join) — the corpus-size span
    # strings are never shuffled twice
    g_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(g#" in ln
    ]
    assert len(g_exchanges) == 1


def test_skyline_and_rfm_no_corpus_single_partition(spark):
    """Round-4 weak-plan fix: the skyline strict-cummax and the three
    RFM ntile scores must run through the range-bucketed two-phase
    primitives — the only SinglePartition exchanges left feed the
    bucket-count-sized offsets frames, never the data frame.  Static
    planning so the exchanges are visible."""
    from datafusion_randgen_spark.queries import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sky = plans.physical_plan(QUERIES["q_skyline_pareto"](spark, SF))
        rfm = plans.physical_plan(QUERIES["q_rfm_segmentation"](spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # one tiny offsets window for skyline; one per ntile score for RFM
    assert sky.count("Exchange SinglePartition") <= 1
    assert rfm.count("Exchange SinglePartition") <= 3
    # the data path must be bucket-hash-clustered, and ntile itself must
    # be gone from the RFM plan (closed-form tile, no global ntile window)
    assert "hashpartitioning(__bucket" in sky
    # r20: RFM scores fused into global_ntile_multi — one per-score
    # bucket window each, still range-bucket-clustered on the data path
    for score in ("r_score", "f_score", "m_score"):
        assert f"hashpartitioning(__bkt_{score}" in rfm
    assert "ntile" not in rfm


def test_simhash_pairs_blocked_128bit_is_hash_equi_join(spark):
    """The 128-bit/16-block variant must keep the exact inverted-index
    plan shape of the 64-bit form: equi-join on (table, pair-value)
    keys, no nested loop over fingerprints, all JVM-side."""
    from datafusion_randgen_spark.operators import dedup

    fps = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 2654435761).alias("sh0"),
        (F.col("id") * 40503).alias("sh1"),
    )
    df = dedup.simhash_pairs_blocked(fps, 9, ("sh0", "sh1"), 8)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "tbl" in plan and "val" in plan
    assert plans.python_eval_nodes(df) == 0


def test_r6_pipeline_entries_no_corpus_single_partition(spark):
    """The r6 pipeline entries built on the two-phase primitives and
    the salted top-k pattern must keep SinglePartition exchanges off
    corpus-derived frames: curriculum allows only the bucket-offsets
    window; negative sampling allows none (sharded rank + broadcast
    anchors); vocab coverage allows the two offsets windows + the
    1-row total agg.  Static planning so the exchanges are visible."""
    from datafusion_randgen_spark import queries as cat

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cur = plans.physical_plan(cat.QUERIES["p_curriculum_order"](spark, SF))
        neg = plans.physical_plan(cat.QUERIES["p_negative_sampling"](spark, SF))
        cov = plans.physical_plan(cat.QUERIES["t_vocab_coverage"](spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert cur.count("Exchange SinglePartition") <= 1
    assert "hashpartitioning(__bucket" in cur
    assert neg.count("Exchange SinglePartition") == 0
    assert "__srn" not in neg or "SinglePartition" not in neg
    assert cov.count("Exchange SinglePartition") <= 3
    for name, plan in (("cur", cur), ("neg", neg), ("cov", cov)):
        assert "CartesianProduct" not in plan or name == "neg", name


def test_quality_filter_chain_model_stage_stays_codegen(spark):
    """The chain's model-scored stage (r8): the LR dot product over
    quality features must ride the same row-local projection as the
    other signals — zero Python nodes, no cartesian, and only the
    repetition signal's aggregates + the doc_id join add exchanges."""
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["p_quality_filter_chain"](spark, SF)
    plan = plans.physical_plan(df)
    assert plans.python_eval_nodes(df) == 0
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "partial_count" in plan  # repetition counts combine map-side


def test_skew_routed_dedup_hot_path_broadcasts_tail_shuffles(spark):
    """d_skewed_digest_dedup's routing contract (VERDICT r8 task 7):
    with auto-broadcast off, the HEAVY-key rep join must still be a
    BroadcastHashJoin (the routing broadcasts the tiny heavy-rep table
    explicitly, so hot rows never shuffle) while the tail join is a
    shuffle join whose per-key rows are bounded by the threshold."""
    from datafusion_randgen_spark.operators import dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 5 == 0, F.lit("hot boilerplate"))
            .otherwise(F.concat(F.lit("doc "), F.col("id").cast("string")))
            .alias("text"),
        )
        labeled = dedup.skew_routed_dedup_labels(docs, heavy_min_count=50)
        plan = plans.physical_plan(labeled)
        # single-scan contract (ADVICE r9): the (id, digest) projection
        # is checkpointed before fan-out, so the routing plan must read
        # ONLY the pinned RDD — the source (here a Range) may not
        # appear anywhere, i.e. no consumer re-scans the corpus
        # ("Range (" is the range-source scan node; the looser "Range"
        # would also match RangePartitioning)
        assert "Range (" not in plan
        # hot path: explicit broadcast of the heavy reps
        assert plan.count("BroadcastHashJoin") >= 2  # heavy join + anti probe
        # tail path: an ordinary shuffle equi-join survives
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert plans.python_eval_nodes(labeled) == 0
        # routing-invariance: output equals the plain rep join
        rows = labeled.collect()
        assert len(rows) == 2000
        hot = [r for r in rows if r.is_heavy_key]
        assert len(hot) == 400 and all(r.keeper == 0 for r in hot)
        assert all(r.group_size == 400 for r in hot)
        tail = [r for r in rows if not r.is_heavy_key]
        assert all(r.group_size == 1 and r.keeper == r.doc_id for r in tail)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bpe_encode_is_shuffle_free_row_local_fold(spark):
    """bpe_encode (the applied tokenizer half) must be a pure MAP
    stage: chained Catalyst array folds, zero shuffles, zero Python
    nodes — at 100 TB it's one corpus pass."""
    from datafusion_randgen_spark.operators import bpe

    words = spark.range(1000).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("w"),
        F.lit(1).alias("cnt"),
    ).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
    )
    enc = bpe.bpe_encode(words, [("w", "1"), ("w1", "0")])
    assert plans.python_eval_nodes(enc) == 0
    assert plans.exchange_count(enc) == 0


def test_simhash_fingerprint_is_zero_shuffle_map(spark):
    """The r9 row-local SimHash: on an input that already has enough
    partitions, fingerprinting is a pure map — zero exchanges, zero
    Python nodes (the old explode + 64-column vote aggregate cost two
    shuffles)."""
    from datafusion_randgen_spark.operators import dedup

    par = spark.sparkContext.defaultParallelism
    docs = spark.range(0, 10_000, 1, par).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some words here "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    fp = dedup.simhash(docs)
    assert plans.exchange_count(fp) == 0
    assert plans.python_eval_nodes(fp) == 0
    fp2 = dedup.simhash_multi(docs, n_words=2)
    assert plans.exchange_count(fp2) == 0


def test_exact_replay_scan_budgets(spark):
    """Pin the scan budgets the exact-replay docstrings state in prose
    (VERDICT r10 task 6): the verification entries re-derive the
    quantized projection per phase, so their input-pass counts are
    fixed by construction — pq_exact_quantized reads its input 5 full
    times (init take-ordered, 2 training iterations, query
    take-ordered, encode), ivfpq_exact_quantized 8 (coarse init + 2
    coarse iterations, residual init, 2 residual iterations, query,
    encode), each plus one <=1-partition dim probe.  Measured with a
    row-counting pass-through source so a refactor that silently adds
    even ONE more full pass breaks the upper bound."""
    from datafusion_randgen_spark.operators import similarity

    n, dim, parts = 64, 8, 4
    base = spark.range(n).selectExpr(
        "id AS vec_id",
        # deterministic pseudo-floats, no Python needed to build them
        f"transform(sequence(1, {dim}),"
        " j -> CAST(((id * 37 + j * 11) % 19) - 9 AS FLOAT) / 4.0)"
        " AS embedding",
    ).repartition(parts)

    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    src = base.mapInPandas(
        counting, schema="vec_id long, embedding array<float>"
    )
    probe_slack = n // parts + parts  # the dim probe reads <=1 partition

    start = acc.value
    out = similarity.pq_exact_quantized(src, m=2, k=2, iterations=2)
    assert out.count() == n
    seen = acc.value - start
    assert 5 * n <= seen <= 5 * n + probe_slack, seen

    start = acc.value
    out = similarity.ivfpq_exact_quantized(
        src, n_cells=2, coarse_iterations=2, m=2, k=2, pq_iterations=2
    )
    assert out.count() == n
    seen = acc.value - start
    assert 8 * n <= seen <= 8 * n + probe_slack, seen


def test_exact_assign_argmin_folds_single_evaluated(spark):
    """The exact-assign argmin must evaluate its k distance folds once
    per row (ADVICE r10): the naive array_position(d2s, array_min(d2s))
    double-references the distance array and CollapseProject re-inlines
    all k folds into BOTH references (measured: 25 zip_with nodes in
    the optimized plan at k=4 vs 17 for the single-reference struct
    fold).  Pin the optimized-plan fold count so a refactor back to the
    double-reference form fails here."""
    from datafusion_randgen_spark.operators import dedup as dd

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.semantic_dedup_exact(emb, k=4, iterations=1, scale=10)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # 4 copies of the assign subtree (the verification entry's stated
    # re-derivation) x k=4 folds + 1 dot fold; the double-reference
    # form lands at 25+
    assert plan.count("zip_with") <= 17


def test_minhash_verification_join_survives_no_broadcast(spark):
    """The MinHash verification join's 100 TB fallback (VERDICT r19
    task 1): candidate-pair volume tracks the corpus's duplicate mass,
    so the broadcast of `cands` must be BOUND-GUARDED (the per-bucket
    histogram probe) — on a near-dup-heavy crawl it is billions of
    rows and an unconditional hint would OOM instead of degrading to a
    shuffle join.  Both arms run under broadcast thresholds -1 so the
    ONLY possible BroadcastHashJoin is the guard's explicit hint:
    below the guard the hint must appear (shuffle-free shingle probe
    preserved), past it (``broadcast_max_candidates=0``) the plan must
    finalize with zero BroadcastHashJoin nodes and identical results —
    the shuffle path genuinely engages."""
    from datafusion_randgen_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the sleepy dog"),
            (4, "a completely different document about spark engines"),
            (5, "entirely unrelated text with unique words here"),
        ],
        "doc_id long, text string",
    )
    expected = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup_pairs(docs, threshold=0.4).collect()
    }
    assert (1, 2, 1.0) in expected  # sanity: default path finds the dup

    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: conf.get(k, None) for k in keys}
    # Both arms run with ALL automatic broadcasting disabled, so the
    # only possible BroadcastHashJoin is the guard's explicit hint —
    # AQE auto-broadcasting tiny sides can't make either arm vacuous
    # (code review r20).  clearCache between arms: the operator
    # persists its shingle frame, and CacheManager would otherwise
    # splice one arm's cached physical plan into the other's tree.
    try:
        for k in keys:
            conf.set(k, "-1")
        # Arm 1 — below the guard (defaults): the hint must survive
        # threshold=-1, keeping the shuffle-free shingle probe (the r20
        # bisect put the hint-less AQE path at ~1.3× isolated median).
        spark.catalog.clearCache()
        hinted = dedup.minhash_lsh_dedup_pairs(docs, threshold=0.4)
        got = {(r.id_a, r.id_b, r.jaccard) for r in hinted.collect()}
        assert got == expected
        assert "BroadcastHashJoin" in plans.physical_plan(hinted)

        # Arm 2 — past the guard: no hint anywhere, the verification
        # join genuinely degrades to a shuffle join.
        spark.catalog.clearCache()
        out = dedup.minhash_lsh_dedup_pairs(
            docs, threshold=0.4, broadcast_max_candidates=0
        )
        got = {(r.id_a, r.id_b, r.jaccard) for r in out.collect()}
        assert got == expected
        final = plans.physical_plan(out)
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" not in final, final[:2000]
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
        # don't leak no-broadcast cached plan fragments (or held
        # executor memory) into the rest of the shared-session suite
        spark.catalog.clearCache()
