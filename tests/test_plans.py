"""Physical-plan assertions: the plans that make the engine scale are pinned
here so a regression (lost broadcast, lost pushdown, lost column pruning)
fails CI, not a 100 TB run.

Each test asserts on ``explain('formatted')`` output markers.
"""

from __future__ import annotations

import re
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleContext


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def docs_on_disk(spark, docs, tmp_path_factory):
    """The rules' scan-side assertions need a real file source (in-memory
    fixtures have no pushdown/pruning to assert on)."""
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    docs.write.parquet(path)
    return spark.read.parquet(path)


def test_referential_uses_broadcast_join(docs_on_disk, catalog):
    plan = plan_of(
        builtin.referential().build(docs_on_disk, RuleContext(media_catalog=catalog))
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_referential_broadcasts_the_catalog_without_a_shuffle(docs_on_disk,
                                                              catalog):
    """No Exchange sits under the catalog's BroadcastExchange: the build side
    is broadcast as read, with no distinct (a shuffle and a Spark job)."""
    tree = plan_of(
        builtin.referential().build(docs_on_disk, RuleContext(media_catalog=catalog))
    ).split("\n\n")[0].splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    at = [k for k, ln in enumerate(tree) if "BroadcastExchange" in ln]
    assert len(at) == 1
    below = []
    for ln in tree[at[0] + 1:]:
        if depth(ln) <= depth(tree[at[0]]):
            break
        below.append(ln)
    assert below
    assert not [ln for ln in below if "Exchange" in ln], below


def test_uniqueness_has_partial_aggregation(docs_on_disk):
    """hashagg strategy must plan a map-side partial aggregate before the
    shuffle (each distinct key ships ≤1 row per map task)."""
    plan = plan_of(builtin.unique("doc_id").build(docs_on_disk, RuleContext()))
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "Partial" in plan


def test_span_sequence_row_scan_prunes_nested_schema(spark, docs_on_disk):
    """The fused span-sequence pass reads ONLY spans.offset (plus ids) from
    parquet — nested-schema pruning must hold or the 100 TB scan reads the
    full text/media payloads for nothing."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    rules = RuleSet(row_rules=[builtin.span_sequence_valid_row()])
    run = ValidationRun(spark, docs_on_disk, rules)
    plan = plan_of(run.fused_row_violations(docs_on_disk))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "offset" in read_schema[0]
    # text/media_ref must NOT be in the parquet ReadSchema
    assert "text" not in read_schema[0]
    assert "media_ref" not in read_schema[0]


def test_main_suite_fused_pass_runs_no_python(spark, docs_on_disk):
    """The fused row pass of the suite ``run_validation.main`` runs stays
    all-JVM: no Arrow or batched Python UDF node in its plan."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    rules = RuleSet(row_rules=builtin.default_document_rules()
                    + [builtin.no_pii(), builtin.span_sequence_valid_row()])
    run = ValidationRun(spark, docs_on_disk, rules)
    plan = plan_of(run.fused_row_violations(docs_on_disk))
    assert "Scan parquet" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_referential_scan_prunes_to_media_ref(docs_on_disk, catalog):
    """The referential check extracts spans.media_ref via field access (not
    a lambda), so its parquet scan must not read span text payloads."""
    plan = plan_of(
        builtin.referential().build(docs_on_disk, RuleContext(media_catalog=catalog))
    )
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "media_ref" in read_schema[0]
    assert "text" not in read_schema[0]


def test_span_kind_counts_scan_prunes_to_kind(docs_on_disk):
    """The salted span-kind aggregation reads only spans.kind from parquet."""
    from anomaly_detection_spark.profiler import span_kind_counts

    plan = plan_of(span_kind_counts(docs_on_disk, salt_buckets=4))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "kind" in read_schema[0]
    assert "text" not in read_schema[0]
    assert "media_ref" not in read_schema[0]


def test_filter_pushdown_reaches_scan(docs_on_disk):
    plan = plan_of(docs_on_disk.filter(F.col("partition") == "p3").select("doc_id"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "partition" in pushed[0]


def test_fused_pass_is_single_scan_wholestage(spark, docs_on_disk):
    """All row rules compile into one scan under whole-stage codegen; no
    shuffle appears in the fused row-violation plan."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    rules = RuleSet(row_rules=builtin.default_document_rules())
    run = ValidationRun(spark, docs_on_disk, rules)
    plan = plan_of(run.fused_row_violations(docs_on_disk))
    assert "codegen id" in plan  # scan + final project run under codegen
    assert "Exchange" not in plan  # row rules never shuffle
    # one scan node in the plan tree (formatted output repeats each node
    # once in the tree and once in the details section)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    # the shared span-stats aggregate is evaluated once, not per rule
    assert plan.count("aggregate(spans") == 1


# ------------------------------------------------------------ round-2 ops

SF = "/root/testdata/sf0.001"


def test_ml_outlier_stats_join_is_broadcast(spark):
    """The global quartile/MAD stats frames join back via broadcast — a
    regression to SortMergeJoin would shuffle all entities against a
    1-row frame."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["ml_outlier_ensemble"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_seasonality_is_single_join_two_aggregate_executions(spark):
    """All requested lags ride ONE exploded self-join: the plan must contain
    exactly two executions of the daily aggregation's input scan, not
    2·len(lags)."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["seasonality_periods"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_degree_centrality_single_edge_build(spark):
    """The undirected view explodes both directions per edge row — the
    edge-build join subtree must appear once in the main branch, not be
    unioned into two executions."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["degree_centrality"][0](spark, SF))
    assert "Union" not in plan  # explode, not union-of-selects
    assert "CartesianProduct" not in plan


def test_multiprobe_join_is_bucket_equi_join(spark):
    """Multi-probe LSH must stay a bucket equi-join (broadcast or shuffled
    hash) — never a cross join over all vector pairs."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["embedding_lsh_multiprobe"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fill_missing_stats_are_broadcast(spark):
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["missing_value_fill"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangle_wedge_join_is_equi_join(spark):
    """Degree-oriented triangle counting must stay equi-joins (wedge join on
    apex, semi-join close) — a CartesianProduct means the orientation or the
    close condition fell out of the plan."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["graph_triangles"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the triangle-closing semi-join survives


def test_eigenvector_iterations_are_equi_joins(spark):
    """Four power iterations = four join+agg rounds; only the final 1-row
    max-score normalization may be a broadcast nested-loop."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["eigenvector_centrality"][0](spark, SF))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1


def test_high_risk_pairs_prefilter_is_broadcast_semi(spark):
    """The high-risk filter must reach the co-activity input as a broadcast
    (semi) join BEFORE the pair self-join — pairing everyone first and
    filtering after would make the join input Σ|key ∩ all-users|²."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["high_risk_correlations"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan
    # prefilter semi-join + two score lookups, all broadcast
    assert tree.count("BroadcastHashJoin") >= 3


def test_user_activity_profile_single_scan(spark):
    """24 hour bins + entropy + breadth = ONE scan with pruned columns
    (a pivot or explode formulation would add a second shuffle)."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["user_activity_profile"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,props:string>" in plan


def test_access_pattern_drift_no_day_cross_product(spark):
    """The prev-day membership probe must stay equi-joined on
    (user, prev_d, k) — never a cur×prev join keyed on (user, k) alone."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["access_pattern_drift"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_shuffle_no_range_join(spark):
    """The as-of join must be union-tag + window — ONE exchange on the key,
    never an inequality join (BroadcastNestedLoop/Cartesian), whose range
    predicate is quadratic per key at scale."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["asof_signup_join"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_contamination_benchmark_side_is_broadcast(spark):
    """The corpus side must never shuffle on shingle (power-law-skewed key):
    the benchmark shingle set is broadcast into a map-side hash join."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["benchmark_contamination"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_pack_sequences_offsets_join_is_broadcast(spark):
    """The bucket-offset recombination joins a tiny per-bucket frame back to
    the corpus — must be broadcast, and the only unpartitioned window must
    run over the bucket totals (bounded), not the corpus."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["sequence_packing"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in plan


def test_ivf_multiprobe_codebook_broadcast_no_cartesian(spark):
    """The nprobe assignment pairs every query with the TINY broadcast
    codebook (BroadcastNestedLoop over n_buckets rows — bounded); the
    corpus-sized candidate join must stay a bucket equi-join, and no
    unbroadcast CartesianProduct may appear anywhere."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["embedding_ivf_multiprobe"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in tree
    assert "CartesianProduct" not in plan


def test_shuffle_rank_no_global_window(spark):
    """The corpus-order shuffle must never funnel through one global
    row_number: the only unpartitioned window runs over the 256 bucket
    counts, and the offsets rejoin the corpus via broadcast."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["corpus_shuffle_order"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in plan


def test_doc_top_terms_topk_is_group_limited(spark):
    """The per-doc rank<=3 filter must plan as WindowGroupLimit (partial
    top-k before the final sort within each doc group), and the only
    nested-loop join is the single-row n_docs broadcast."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["doc_top_terms"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "WindowGroupLimit" in tree
    assert "CartesianProduct" not in plan
    # both the tf agg and the vocab df agg keep map-side partial aggregation
    assert tree.count("HashAggregate") >= 4


def test_wasserstein_single_bin_table_window(spark):
    """W1 reduces events to one bin histogram (single scan feeding the agg)
    before any window; the ordered window runs over the bounded bin table."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["wasserstein_value_drift"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    # bins aggregated with partial aggregation before the shuffle
    assert "HashAggregate" in tree and "Exchange" in tree
    assert "CartesianProduct" not in plan


def test_frequent_values_reads_only_profiled_columns(spark):
    """The long-format union must column-prune each branch's parquet scan to
    the single profiled column."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["frequent_values"][0](spark, SF))
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, plan
    assert all("text" not in s and "o_totalprice" not in s for s in schemas)
    assert any("lang" in s for s in schemas)
    assert any("event_type" in s for s in schemas)


def test_org_rule_scores_filters_before_shuffle(spark):
    """The skip-level predicate must apply map-side: the only Exchange in
    the plan ships already-filtered violation rows into the per-user agg,
    and the final agg keeps a map-side partial."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["org_rule_scores"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    # exactly one hash-partitioned exchange (the per-user agg); the only
    # other exchange is the orderBy's range partitioning
    assert plan.count("hashpartitioning(") == 1
    assert "partial_count" in plan  # map-side partial agg
    # Filter sits deeper in the tree than the Exchange (= runs before it)
    assert tree.rindex("Filter") > tree.index("Exchange")


def test_span_kind_transitions_single_agg_exchange(spark):
    """Span sorting/pairing is all in-row (array_sort + zip_with): the plan
    must show ONE hash-aggregation exchange for the (partition, transition)
    count and no per-doc shuffle before it."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["span_kind_transitions"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert plan.count("hashpartitioning(") == 1
    assert "Generate" in tree  # the explode of in-row pairs
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_branched_forecast_reuses_user_exchange(spark):
    """The per-user max-day window and the sum aggregation hash-partition on
    the same key: one user-keyed exchange total (no second shuffle for the
    window), and no join anywhere."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["risk_forecast_branches"][0](spark, SF))
    assert plan.count("hashpartitioning(") <= 2  # daily agg + window/agg key
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_risk_report_summary_no_window(spark):
    """Per-tier top-user selection must be aggregation-only: no Window
    operator (a 3-partition row_number would single-thread each tier)."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["risk_report_summary"][0](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "HashAggregate" in tree


def _global_windows(plan: str) -> list[str]:
    """Window detail blocks whose partition spec is empty — i.e. windows
    that would funnel the whole input through ONE task. In formatted
    explain a partitioned window's Arguments carry three bracket groups
    (functions, partition spec, order spec): ``[...], [keys], [order]``;
    a global window has only ``[...], [order]``."""
    hits = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        # exactly "Window" — WindowGroupLimit (the pushed-down top-k
        # evaluator) lists its partition keys FIRST and would false-positive
        if lines and lines[0].rstrip().endswith(") Window"):
            args = [ln for ln in lines if "Arguments" in ln]
            if args and args[0].count("], [") < 2:
                hits.append(lines[0])
    return hits


def test_global_window_detector_is_not_vacuous(spark):
    """The helper must actually fire on a global window, or every
    assertion built on it silently passes."""
    from pyspark.sql import Window

    df = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert _global_windows(plan_of(df))


def test_local_outlier_bucket_cap_is_broadcast_anti(spark):
    """LOF's pair join must be gated by the oversized-bucket drop (broadcast
    anti-join) and the bucket self-join must be an equi-join on the bucket
    key — no CartesianProduct anywhere, or one degenerate bucket at corpus
    scale becomes an all-pairs join; the kNN ranking window must stay
    per-point partitioned. checkpoint=False: plan shape is identical, but
    explain cannot see past the production path's lineage truncation."""
    from anomaly_detection_spark.functions import ml
    from anomaly_detection_spark.queries import _LOF_COLS, load

    feats = ml.entity_activity_features(load(spark, SF, "events"))
    plan = plan_of(ml.local_outlier_scores(
        feats.withColumn("bucket", F.col("n_types")), _LOF_COLS,
        checkpoint=False,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan  # the max_bucket size gate
    assert not _global_windows(plan)


def test_entity_report_global_stat_is_broadcast(spark):
    """The only corpus-global piece of the per-entity report is the 1-row
    max(ts) frame — it must come back via broadcast, and the top-3 window
    must stay per-user partitioned."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["user_entity_report"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert not _global_windows(plan)


def test_psychometric_dimension_join_no_cartesian(spark):
    """Dimension synth + profile join: user⋈user equi-joins only; the
    first-row-per-user window is per-user partitioned."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["psychometric_profile"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not _global_windows(plan)


def test_media_ref_explode_prunes_nested_schema(docs_on_disk):
    """Asset-level dedup explodes ONLY spans.media_ref: on a stored
    interleaved table the parquet scan must prune the nested schema down
    to that one field — never decoding span text payloads."""
    refs = docs_on_disk.select(
        "doc_id", F.explode(F.col("spans.media_ref")).alias("media_ref")
    ).filter(F.col("media_ref").isNotNull())
    agg = refs.groupBy("media_ref").count()
    plan = plan_of(agg)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "media_ref" in read_schema[0]
    assert "text" not in read_schema[0]


def test_key_skew_topk_no_global_sort_or_window(spark):
    """key_skew takes its top-k via TakeOrderedAndProject and ranks only
    the k limited rows — no corpus-wide Sort or unpartitioned window over
    the key-cardinality frame."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["key_skew_report"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_interleaved_packing_offsets_broadcast(spark):
    """The interleaved-cost packing reuses the two-phase prefix sum: the
    bucket-offset frame joins back via broadcast; the only windows are
    the tiny bucket-total one and per-bucket partitioned ones."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["interleaved_packing"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_single_window_shuffle(spark):
    """interval_overlap_stats: the per-key sort window is the ONLY data
    shuffle — the rollup aggregation reuses the window's hash partitioning
    (grouping on the unrenamed key), so adding the overlap check to a
    validation run costs exactly one exchange."""
    from anomaly_detection_spark.functions.timeseries import interval_overlap_stats

    df = spark.createDataFrame(
        [("a", 1, 0, 5), ("a", 2, 3, 9)], "u string, i long, s long, e long"
    )
    plan = plan_of(interval_overlap_stats(df, "u", "s", "e", "i"))
    assert plan.count(") Exchange") == 1  # section headers = node count
    assert "Window" in plan


def test_calendar_gaps_no_explode_single_exchange(spark):
    """calendar_gaps materializes the expected calendar in-row (sequence +
    array_except): no Generate (explode) node, exactly one exchange (the
    per-key aggregation) — per-key state bounded by the calendar span."""
    from anomaly_detection_spark.functions.timeseries import calendar_gaps

    df = spark.createDataFrame(
        [("a", "2024-01-01"), ("a", "2024-01-05")], "u string, d string"
    )
    plan = plan_of(calendar_gaps(df, "u", "d"))
    assert "Generate" not in plan
    assert plan.count(") Exchange") == 1  # section headers = node count


def test_snapshot_diff_is_single_full_outer_equi_join(spark):
    """snapshot_diff: one full-outer SortMergeJoin on the key, never a
    cartesian/nested-loop — the shape that stays a co-located merge when
    both snapshots are bucketed by doc_id."""
    from anomaly_detection_spark.snapshots import snapshot_diff

    a = spark.createDataFrame([("a", "h1")], "doc_id string, fp string")
    b = spark.createDataFrame([("a", "h2")], "doc_id string, fp string")
    plan = plan_of(snapshot_diff(a, b))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_encoding_rule_scan_prunes_to_span_text(docs_on_disk):
    """The encoding-hygiene rule reads ONLY spans.text (plus ids) from
    parquet — media_ref/kind payloads must not be in the ReadSchema."""
    from anomaly_detection_spark.rules import builtin

    rule = builtin.text_encoding_clean()
    bound = docs_on_disk.withColumns(rule.bind).filter(rule.violation).select(
        "partition", "doc_id"
    )
    plan = plan_of(bound)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" in read_schema[0]
    assert "media_ref" not in read_schema[0]


def test_correlation_matrix_single_pass(spark, tmp_path):
    """The all-pairs panel must be ONE scan + ONE global agg (one
    exchange), never per-pair jobs or a window."""
    from anomaly_detection_spark.profiler import correlation_matrix

    p = str(tmp_path / "num")
    spark.range(1000).selectExpr(
        "id AS a", "id * 2 AS b", "id % 7 AS c").write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(correlation_matrix(
        df, {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}))
    assert "HashAggregate" in plan
    # formatted output lists each node twice (tree + detail): count nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"\(\d+\) Window\b", plan) is None
    assert re.search(r"\(\d+\) Sort\b", plan) is None


def test_table_checksum_one_agg_no_sort(spark, tmp_path):
    """Order-independence is structural: the checksum plan has one
    map-side-combined agg and NO sort/window anywhere."""
    from anomaly_detection_spark.functions.reconcile import table_checksum

    p = str(tmp_path / "snap")
    spark.range(1000).selectExpr(
        "CAST(id % 4 AS STRING) AS partition",
        "CAST(id AS STRING) AS doc_id").write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(table_checksum(df, ["doc_id"]))
    assert "HashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"\(\d+\) (Window|Sort)\b", plan) is None


def test_frequent_values_salted_windows(spark, tmp_path):
    """Two Window phases, the first salted (_s) — the skew-safe top-k
    shape; a single unsalted window over all distinct values would be
    the 10^12-distinct-column trap."""
    from anomaly_detection_spark.profiler import frequent_values

    p = str(tmp_path / "fv")
    spark.range(1000).selectExpr(
        "CAST(id % 13 AS STRING) AS v").write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(frequent_values(df, ["v"], k=3))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2
    assert "_s" in plan


def test_json_key_profile_explode_then_one_agg(spark, tmp_path):
    """One Generate (explode) feeding one grouped agg; output bounded by
    key cardinality — no window, no join."""
    from anomaly_detection_spark.profiler import json_key_profile

    p = str(tmp_path / "js")
    spark.range(500).selectExpr(
        "concat('{\"k\": ', id, '}') AS props").write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(json_key_profile(df, "props"))
    assert "Generate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"\(\d+\) (Window|\w*Join)\b", plan) is None


def test_quality_classifier_is_zero_shuffle(spark, tmp_path):
    """Hashed-linear scoring is pure in-row codegen: no Exchange, no
    Generate, no Join anywhere in the plan — scan-speed at any scale."""
    from anomaly_detection_spark.functions.scoring import classify_quality

    p = str(tmp_path / "qc")
    spark.range(200).selectExpr(
        "id AS doc_id", "concat('tok', id % 7, ' x y') AS text"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(classify_quality(df, [1000] * 64, 0))
    assert re.search(r"\(\d+\) (Exchange|Generate|\w*Join)\b", plan) is None


def test_gumbel_resample_uses_partial_topk(spark):
    """Global weighted sample must plan TakeOrderedAndProject (per-
    partition partial top-k), never a global Sort or a single-partition
    Window over the corpus."""
    from anomaly_detection_spark.functions.scoring import gumbel_topk_resample

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 97 AS BIGINT) AS dsir_logw_micro")
    plan = plan_of(gumbel_topk_resample(df, k=10))
    assert "TakeOrderedAndProject" in plan


def test_corpus_dup_ngrams_no_gram_keyed_join(spark, tmp_path):
    """The dup profile must never join on the (skewed) gram key — the
    hottest gram's posting list would land in one task. The only join
    allowed is the per-doc close on the well-distributed id key; the
    gram key may appear only under hash-aggregates (map-side combined)."""
    from anomaly_detection_spark.functions.repetition import corpus_dup_ngrams

    p = str(tmp_path / "cdn")
    spark.range(100).selectExpr(
        "id AS doc_id",
        "concat('a b c d e f g tok', id) AS text").write.parquet(p)
    df = spark.read.parquet(p)
    plan = plan_of(corpus_dup_ngrams(df))
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert join_keys, "expected join key lines in the formatted plan"
    for keys in join_keys:
        assert "_g#" not in keys and "doc_id" in keys


def test_gopher_flags_zero_shuffle(spark, tmp_path):
    """The Gopher gate is a pure in-row keep/drop decision: no Exchange,
    no Generate, no Join — the whole rule set rides the corpus scan."""
    from anomaly_detection_spark.functions.text import gopher_flags

    p = str(tmp_path / "gq")
    spark.range(100).selectExpr(
        "id AS doc_id", "concat('the text of doc ', id) AS text"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    fl = gopher_flags(F.col("text"))
    plan = plan_of(df.select("doc_id", *[v.alias(k) for k, v in fl.items()]))
    assert re.search(r"\(\d+\) (Exchange|Generate|\w*Join)\b", plan) is None


def test_normalization_dup_gain_no_expand(spark, tmp_path):
    """Exact-group counting nests inside normalized groups, so the agg
    must plan a single distinct WITHOUT an Expand node (a multi-distinct
    Expand doubles every corpus row before the shuffle)."""
    from anomaly_detection_spark.queries import q_normalization_dup_gain

    p = str(tmp_path)
    spark.range(50).selectExpr(
        "id AS doc_id", "concat('text ', id % 9) AS text",
        "concat('s', id % 3) AS source"
    ).write.parquet(p + "/documents.parquet")
    plan = plan_of(q_normalization_dup_gain(spark, p))
    assert re.search(r"\(\d+\) Expand\b", plan) is None


def test_shard_balance_offsets_broadcast(spark):
    """The two-phase rank's bucket-offset frame is tiny and must come
    back as a broadcast join — a sort-merge here would shuffle the whole
    corpus a second time for metadata."""
    from anomaly_detection_spark.functions.curation import shard_balance

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 37 + 1 AS BIGINT) AS n_tokens")
    plan = plan_of(shard_balance(df, n_shards=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_label_noise_bucket_join_is_equi(spark):
    """Neighbour candidates come from the LSH bucket equi-join — never a
    nested-loop/cartesian all-pairs compare."""
    from anomaly_detection_spark.functions.similarity import knn_label_noise

    df = spark.range(64).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> CAST(id % 5 + i AS FLOAT))"
        " AS embedding",
        "CAST(id % 3 AS INT) AS label")
    plan = plan_of(knn_label_noise(df, k=3, n_planes=2, dim=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_dedup_no_line_keyed_join(spark):
    """Global line dedup must never join on the (power-law) line-text key —
    boilerplate lines appear in millions of docs. The line key may appear
    only under hash-aggregates (map-side combined); the only join is the
    per-doc close on the id key."""
    from anomaly_detection_spark.functions.repetition import line_dedup_stats

    df = spark.range(200).selectExpr(
        "id AS doc_id", "CAST(id % 3 + 1 AS INT) AS line_no",
        "CASE WHEN id % 5 = 0 THEN 'subscribe now' "
        "ELSE concat('line ', id) END AS line")
    plan = plan_of(line_dedup_stats(df))
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert join_keys, "expected join key lines in the formatted plan"
    for keys in join_keys:
        assert "_l#" not in keys and "doc_id" in keys
    # shuffles: line agg + keeper agg (+ possibly the spine agg); the
    # per-doc close must be a broadcast, never a shuffled sort-merge
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    assert "SortMergeJoin" not in plan


def test_cms_build_single_cell_keyed_exchange(spark):
    """The sketch fold is ONE map-side-combined aggregate keyed by the
    (row, bucket) cell — bounded state, no shuffle keyed by the value —
    and estimation joins the ≤ depth·width sketch as a broadcast."""
    from anomaly_detection_spark.functions.sketch import cms_build, cms_estimate

    df = spark.range(500).selectExpr("concat('t', id % 40) AS k")
    sk = cms_build(df, "k", depth=4, width=64)
    plan = plan_of(sk)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_sum" in plan  # map-side combine present
    est = cms_estimate(sk, spark.range(5).selectExpr("concat('t', id) AS k"),
                       "k", depth=4, width=64)
    eplan = plan_of(est)
    assert "BroadcastHashJoin" in eplan and "SortMergeJoin" not in eplan


def test_ranked_file_ids_offsets_broadcast(spark):
    """The bin-offset frame (≤ #bins rows) must come back as a broadcast
    join; the global rank must never be a partition-less window funnel."""
    from anomaly_detection_spark.functions.maintenance import ranked_file_ids

    df = spark.range(1000).selectExpr("id", "(id * 37) % 500 AS v")
    plan = plan_of(ranked_file_ids(df, "v", "id", 64, F.expr("v div 100")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the row_number window must be partitioned by the bin key — a
    # windowspecdefinition whose first element is an ORDER spec (no
    # partition column) would be the single-task global funnel
    m = re.search(r"row_number\(\) windowspecdefinition\(_b#\d+L,", plan)
    assert m, "row_number window is not partitioned by the bin key"


def test_rollup_is_single_expand_aggregate(spark):
    """Spark lowers rollup to Expand + ONE hash aggregate — the plan must
    not contain a Union of per-level aggregations (each level rescanning
    the join) and the Expand node must be present."""
    from anomaly_detection_spark.queries import QUERIES

    plan = plan_of(QUERIES["revenue_grouping_sets"][0](spark, SF))
    assert "Expand" in plan
    assert "Union" not in plan


def test_cdc_apply_changelog_side_window_only(spark):
    """The latest-wins window must run over the changelog, not the base:
    the base side of the plan may not contain a Window node, and the
    close is a single equi-join on the key."""
    from anomaly_detection_spark.functions.cdc import cdc_apply

    base = spark.range(10000).selectExpr("id AS k", "id * 2 AS v")
    changes = spark.range(50).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN 'D' ELSE 'U' END AS op",
        "id AS seq", "id * 7 AS v")
    plan = plan_of(cdc_apply(base, changes, "k", ["v"]))
    tree = plan.split("\n\n")[0]
    # exactly one Window node (plus Spark's WindowGroupLimit top-1
    # pushdown above it), and it sits on the changelog branch
    assert len(re.findall(r"\bWindow \(\d+\)", tree)) == 1
    assert "WindowGroupLimit" in tree  # rank<=1 pushed below the sort
    assert "CartesianProduct" not in plan
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert join_keys and all("k#" in k for k in join_keys)


def test_exact_substring_no_gram_keyed_join(spark):
    """ExactSubstr removal must never join on the (power-law) gram key —
    a boilerplate 8-gram appears in millions of documents. The gram may
    appear only under the map-side-combined keeper aggregate; every join
    closes on the doc id."""
    from anomaly_detection_spark.functions.repetition import (
        exact_substring_spans)

    df = spark.range(200).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 4 = 0 THEN 'the shared quote text repeats here' "
        "ELSE concat('unique prose ', id, ' with filler words after') "
        "END AS text")
    plan = plan_of(exact_substring_spans(df, n=3))
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert join_keys, "expected join key lines in the formatted plan"
    for keys in join_keys:
        assert "_g#" not in keys and "doc_id" in keys
    assert "SortMergeJoin" not in plan


def test_ivf_cap_prefilter_is_broadcast_anti_join(spark):
    """The ANN oversize-cell cap must stay a count + BROADCAST anti-join
    prefilter (the LSH discipline): a regression to a shuffled SMJ would
    reshuffle the corpus on the cell key, and losing the anti-join would
    let a skewed cell back into the candidate join."""
    from anomaly_detection_spark.functions.similarity import int8_ivf_topk

    df = spark.range(300).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> CAST(id % 7 + i AS FLOAT)) "
        "AS embedding",
        "CAST(id % 3 AS INT) AS label")
    plan = plan_of(int8_ivf_topk(df, k=2, nprobe=1, dim=8, max_bucket=50))
    assert "LeftAnti" in plan, "oversize-cell prefilter lost"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the codebook rides a broadcast; the pair join is a hash equi-join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
