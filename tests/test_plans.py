"""Physical-plan regression tests — the scale properties SURVEY.md §4.2
claims are pinned here so a refactor can't silently lose them:

* math folds stay narrow (zero shuffles — the reference pipeline's key
  scale property, SURVEY.md §3.4);
* chained specs compile into one projection over one parse of the
  JSON payload;
* filters and column pruning reach the parquet scan (PushedFilters /
  ReadSchema);
* small dimensions broadcast instead of shuffling the fact table;
* aggregates run map-side partials before the exchange.

These assert on plan *structure*, not timings, so they are stable on any
machine. Each helper uses the formatted explain string — the same thing
a human reads from .explain("formatted").
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from fluent_bit_filter_math_spark.operators.dedup import dedup_exact
from fluent_bit_filter_math_spark.operators.mathfold import flagship
from fluent_bit_filter_math_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q6_forecast_revenue,
)
from fluent_bit_filter_math_spark.operators.similarity import (
    sim_topk_bruteforce,
)


def plan_of(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_math_fold_is_narrow_single_projection(spark, sf_dir):
    # Four chained specs (the flagship) must compile to ONE projection
    # over ONE parse of props (math.c:322 unpacks each record once) with
    # no shuffle anywhere — the whole reference surface is a narrow
    # stage (SURVEY.md §3.4). The parse is the only other projection.
    plan = plan_of(flagship(spark, sf_dir))
    assert "Exchange" not in plan
    assert len(re.findall(r"\(\d+\) Project", plan)) == 2
    assert plan.count("from_json(") == 1
    outs = ("used_plus_total", "used_minus_total", "used_times_total",
            "used_div_total")
    assert any(
        all(f" AS {o}#" in line for o in outs) for line in plan.splitlines()
    )
    # Dynamic-map access stays JVM-side: no Python evaluation operators.
    assert "Python" not in plan


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(q6_forecast_revenue(spark, sf_dir))
    # Predicates reach the parquet reader…
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    # …and the scan reads only the 4 referenced columns of 11.
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }


def test_q1_single_shuffle_with_partial_agg(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    # One exchange for the groupBy, map-side combine before it.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_sum" in plan


def test_q3_broadcasts_selective_dimension(spark, sf_dir):
    plan = plan_of(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # The customer side ships as a broadcast, not a shuffle of the fact.
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_dedup_exact_partial_aggregates(spark, sf_dir):
    plan = plan_of(dedup_exact(spark, sf_dir))
    assert "partial_min" in plan or "partial_first" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_similarity_broadcasts_query_side(spark, sf_dir):
    plan = plan_of(sim_topk_bruteforce(spark, sf_dir))
    # The tiny query set broadcasts; the corpus is never shuffled for
    # the join (only the per-query top-k window may exchange).
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_broadcasts_probes_and_limits_window(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.similarity import sim_ann_ivf

    plan = plan_of(sim_ann_ivf(spark, sf_dir))
    # Centroids and probe set broadcast; the corpus is never on the
    # build side of a shuffle join.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # Assignment's max_by runs a map-side partial before its exchange.
    assert "partial_max_by" in plan or "partial_max" in plan
    # Top-k prunes inside the window, not post-hoc.
    assert "WindowGroupLimit" in plan


def test_tfidf_broadcasts_idf_side(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.text import (
        text_tfidf_topterms,
    )

    plan = plan_of(text_tfidf_topterms(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_repetition_filter_partial_aggregates(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.text import (
        text_repetition_filter,
    )

    plan = plan_of(text_repetition_filter(spark, sf_dir))
    # Both the (doc, gram) count and the per-doc rollup combine map-side.
    assert "partial_count" in plan
    assert "partial_max" in plan
    assert "Python" not in plan  # all-native expressions


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.storage import (
        io_partitioned_prune,
    )

    plan = plan_of(io_partitioned_prune(spark, sf_dir))
    # The event_type predicate must reach the directory listing, not the
    # row filter: a pruned scan reads 1/k of the corpus at 100 TB.
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # And the pruned column never appears as a post-scan Filter.
    assert "Scan parquet" in plan


def test_table_format_skipping_prunes_files_before_the_scan(spark, tmp_path):
    """Data skipping happens ABOVE Spark: under a selective predicate
    the scan's file index holds only the stats-surviving files (2 of
    4 range-clustered commits), and the predicate still reaches the
    parquet reader as a pushed filter — skipping composes with
    row-group pruning (the io_partitioned_prune property, one level
    up the stack)."""
    import pyspark.sql.functions as F

    from fluent_bit_filter_math_spark.sources.table_format import (
        tf_append,
        tf_scan,
    )

    t = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        tf_append(
            spark.range(lo, lo + 100)
            .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
            .coalesce(1),
            t,
        )
    pruned = tf_scan(spark, t, [("k", ">", 199)])
    # the file index the scan plans over holds ONLY the survivors
    assert len(pruned.inputFiles()) == 2
    assert len(tf_scan(spark, t, []).inputFiles()) == 4
    # and the residual predicate is still pushed into those files
    plan = plan_of(pruned)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,199)]" in plan


def test_bucketed_join_query_is_exchange_free_until_agg(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.storage import (
        join_bucketed_colocated,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(join_bucketed_colocated(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # The join runs on pre-bucketed sides: the ONLY Exchange in the plan
    # is the final 5-row per-priority aggregate. (Formatted plans print
    # each node twice — tree line + detail block — so count node ids.)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "SortMergeJoin" in plan


def test_sessionize_shares_one_partitioning(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.temporal import (
        sessionize_events,
    )

    plan = plan_of(sessionize_events(spark, sf_dir))
    # lag-flag window, running-sum window and the session aggregate all
    # key on user_id: exactly one shuffle in the whole plan.
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_tpch_extra_broadcasts_dims_no_cartesian(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.tpch_extra import (
        q7_nation_volume,
        q9_product_profit,
        q19_disjunctive_pred,
    )

    for q in (q7_nation_volume, q9_product_profit, q19_disjunctive_pred):
        plan = plan_of(q(spark, sf_dir))
        # Dim sides (nation-tagged supplier slice, filtered part) ride
        # broadcast joins; a cartesian anywhere is a 100 TB killer.
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunction_keeps_equi_join(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.tpch_extra import (
        q19_disjunctive_pred,
    )

    plan = plan_of(q19_disjunctive_pred(spark, sf_dir))
    # The common l_partkey equi-key is factored out of the OR-of-ANDs:
    # the join stays a hash join keyed on partkey, never a nested loop
    # evaluating the disjunction per pair.
    assert "BroadcastHashJoin" in plan and "partkey" in plan
    assert "NestedLoop" not in plan


def test_q18_semi_filter_shares_orderkey_clustering(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.tpch_extra import (
        q18_large_orders,
    )

    plan = plan_of(q18_large_orders(spark, sf_dir))
    # The HAVING>150 key set reaches lineitem as a semi join (broadcast
    # at this SF), not a full inner join duplicating rows.
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Catalyst injects a bloom-filter semi-join filter on the fact scan
    when the other side carries a selective filter — at 100 TB the
    defaults (10 GB probe-side scan, 10 MB creation side) trigger this
    automatically; the fixture is far below both thresholds, so the
    test scales them to the data to pin that our declarative plans are
    ELIGIBLE (no manual filter plumbing, no blocking constructs)."""
    from fluent_bit_filter_math_spark.sources import table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = table(spark, sf_dir, "lineitem")
        od = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan  # probe-side scan filtered pre-shuffle


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The LATERAL correlated ORDER BY/LIMIT must decorrelate into a
    window rank + join — a nested-loop per-outer-row re-execution would
    be quadratic at scale."""
    from fluent_bit_filter_math_spark.operators.subqueries import (
        subq_lateral_topk,
    )

    plan = plan_of(subq_lateral_topk(spark, sf_dir))
    assert "Window" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_chunking_is_narrow_and_jvm_side(spark, sf_dir):
    """Document chunking must stay a narrow, Python-free pipeline: the
    sequence-explode streams into the projection with no shuffle."""
    from fluent_bit_filter_math_spark.operators.text import (
        text_chunk_documents,
    )

    plan = plan_of(text_chunk_documents(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Generate" in plan  # the explode


def test_schema_evolution_merged_read_prunes_columns(spark, sf_dir):
    """The mergeSchema read must still prune columns at the scan: a
    projection of 2 of the 4 merged columns reads only those two."""
    from fluent_bit_filter_math_spark.operators.storage import (
        _evolving_events_path,
    )

    path = _evolving_events_path(spark, sf_dir)
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("event_id", "cents")
    )
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"event_id", "cents"}


def test_zorder_layout_files_cover_narrow_rectangles(spark, sf_dir):
    """Z-ordered files must each span ≪ the full (user_id, hour) space —
    that narrowness IS the file-skipping guarantee the layout buys."""
    import pyarrow.parquet as pq
    import glob
    import os

    from fluent_bit_filter_math_spark.operators.storage import (
        zordered_events_path,
    )

    path = zordered_events_path(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert len(files) > 4

    global_lo, global_hi = None, None
    spans = []
    for f in files:
        t = pq.read_table(f, columns=["user_id"])
        arr = t["user_id"].to_pylist()
        lo, hi = min(arr), max(arr)
        spans.append(hi - lo)
        global_lo = lo if global_lo is None else min(global_lo, lo)
        global_hi = hi if global_hi is None else max(global_hi, hi)
    full = global_hi - global_lo
    avg_span = sum(spans) / len(spans)
    # A random layout gives avg span ≈ full; z-order keeps each file's
    # user range a small fraction of it.
    assert avg_span < 0.5 * full, (avg_span, full)

    # And the two-dimensional probe must be able to skip files on
    # footer stats alone.
    hit = 0
    for f in files:
        t = pq.read_table(f, columns=["user_id"])
        arr = t["user_id"].to_pylist()
        if min(arr) <= 55 and max(arr) >= 40:
            hit += 1
    assert hit < len(files), "no file was skippable for the probe range"


def test_compaction_reduces_file_count_without_shuffle(spark, sf_dir):
    import glob
    import os

    from fluent_bit_filter_math_spark.operators.storage import (
        compacted_lineitem_paths,
    )

    frag, comp = compacted_lineitem_paths(spark, sf_dir)
    n_frag = len(glob.glob(os.path.join(frag, "part-*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "part-*.parquet")))
    assert n_frag == 64
    assert n_comp <= 4

    # The compaction plan is a scan + coalesce — no Exchange.
    df = spark.read.parquet(frag).coalesce(4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bloom_prefilter_probe_side_never_shuffles(spark, sf_dir):
    """The probe table must reach the exact join through broadcast semi
    joins only — its first Exchange is the final tiny aggregate."""
    from fluent_bit_filter_math_spark.operators.relational import (
        join_bloom_prefilter,
    )

    plan = plan_of(join_bloom_prefilter(spark, sf_dir))
    # Three broadcast semi joins: two bloom-position probes + the exact
    # membership join.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_pq_encoding_is_map_side_broadcast(spark, sf_dir):
    """PQ codebook ships as one broadcast row; encoding adds no shuffle
    — the only Exchanges are the two per-query top-k windows."""
    from fluent_bit_filter_math_spark.operators.similarity import (
        sim_ann_pq,
    )

    plan = plan_of(sim_ann_pq(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # No sort-merge join anywhere: corpus never shuffles to be encoded
    # or scored.
    assert "SortMergeJoin" not in plan


def test_triangle_closure_is_hash_join(spark, sf_dir):
    """The wedge-closure join must be an equi join (id-ordered edges),
    never a nested-loop over a disjunction. The ONLY nested-loop joins
    allowed are the two 1-row × 1-row crossJoins assembling the three
    scalar counts into the output row."""
    import re

    from fluent_bit_filter_math_spark.operators.graph import (
        graph_triangle_count,
    )

    plan = plan_of(graph_triangle_count(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    # Wedge and closure are equi joins (SMJ/BHJ), each with join keys.
    assert ("SortMergeJoin" in plan) or plan.count("BroadcastHashJoin") >= 2


def test_equidepth_global_window_sees_only_bucket_rows(spark, sf_dir):
    """The single-partition window runs over one row per coarse bucket,
    never per-order rows (the pack_sequences discipline)."""
    from fluent_bit_filter_math_spark.operators.relational import (
        agg_equidepth_histogram,
    )

    plan = plan_of(agg_equidepth_histogram(spark, sf_dir))
    # The per-row side keeps its hash partitioning on the coarse bucket;
    # a global per-row sort would appear as a rangepartitioning exchange
    # over o_totalprice — forbid it.
    assert "rangepartitioning(o_totalprice" not in plan


def test_zvalue_expression_matches_python_model(spark, sf_dir):
    """The Column-expression Morton interleave must agree with the
    pure-Python model the property tests verify."""
    from pyspark.sql import functions as F

    from fluent_bit_filter_math_spark.operators.storage import _zvalue
    from tests.test_property import _py_zvalue

    df = (
        spark.range(256)
        .select(
            (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
        )
        .withColumn("z", _zvalue(F.col("a"), F.col("b")))
    )
    for r in df.collect():
        assert r.z == _py_zvalue(r.a, r.b), (r.a, r.b)


def test_spearman_never_globally_sorts_raw_values(spark, sf_dir):
    """Both rank maps are built from distinct-value aggregates; a naive
    per-row RANK() would need a global value sort, which would surface
    as a rangepartitioning exchange on xv/yv. Forbid it (the final
    presentation orderBy on event_type is the only range exchange)."""
    from fluent_bit_filter_math_spark.operators.quality import (
        dq_spearman_trend,
    )

    plan = plan_of(dq_spearman_trend(spark, sf_dir))
    assert "rangepartitioning(xv" not in plan
    assert "rangepartitioning(yv" not in plan


def test_lorenz_never_globally_sorts_customers(spark, sf_dir):
    """Customer ranks come from the two-level bucket scheme; a global
    spend sort would appear as a rangepartitioning exchange on cents."""
    from fluent_bit_filter_math_spark.operators.relational import (
        agg_lorenz_deciles,
    )

    plan = plan_of(agg_lorenz_deciles(spark, sf_dir))
    assert "rangepartitioning(cents" not in plan


def test_silhouette_centroids_broadcast_not_cartesian(spark, sf_dir):
    """The k-row centroid table must reach every vector as a broadcast
    (BroadcastNestedLoopJoin from the hinted crossJoin) — never a
    CartesianProduct, which would shuffle the corpus."""
    from fluent_bit_filter_math_spark.operators.similarity import (
        emb_silhouette,
    )

    plan = plan_of(emb_silhouette(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pmi_unigram_joins_broadcast(spark, sf_dir):
    """Both vocabulary joins onto the pruned bigram table broadcast;
    a SortMergeJoin would mean the vocab shuffled the bigram table."""
    from fluent_bit_filter_math_spark.operators.text import (
        text_pmi_collocations,
    )

    plan = plan_of(text_pmi_collocations(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_hits_lineage_stays_flat(spark, sf_dir):
    """The half-step materialization keeps the unrolled HITS plan flat:
    without it the max-normalization crossJoin doubles the upstream
    lineage per half-step (measured 156 exchanges at 2 iterations).
    Allow a small constant budget."""
    from fluent_bit_filter_math_spark.operators.graph import graph_hits

    plan = plan_of(graph_hits(spark, sf_dir))
    assert plan.count("Exchange") <= 8, plan.count("Exchange")


def test_pr_at_k_pool_is_take_ordered(spark, sf_dir):
    """The top-PR_K pool cut executes as TakeOrderedAndProject — each
    partition keeps its local k — so the eval windows only ever see
    k rows."""
    from fluent_bit_filter_math_spark.operators.retrieval import (
        retrieval_pr_at_k,
    )

    plan = plan_of(retrieval_pr_at_k(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
