"""Physical-plan regression tests: the scale properties that make this
engine viable at 100 TB are asserted on the plans themselves, so a
refactor that silently adds a shuffle or drops a pushdown fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.plans.featurize import featurize_pages
from slowfast_feature_extractor_spark.plans.queries import REGISTRY

from conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_featurize_single_shuffle(spark, pages_df):
    """The whole dual-rate+as-of pipeline = ONE Exchange, ONE Sort, and
    the extraction UDF evaluated exactly once."""
    plan = _plan(featurize_pages(pages_df))
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort") == 1
    assert plan.count("extract_text_udf") == 1
    assert plan.count("ArrowEvalPython") == 2  # extraction head + resamples tail


def _events(spark):
    return spark.read.parquet(f"{SF_TINY}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )


def test_pit_dual_rate_plain_two_exchanges(spark):
    """The plain events flagship: sessionize and the click-side window
    families share one user_id exchange, the view windows take the
    other, and the as-of window runs on the union of the two without a
    third shuffle."""
    from slowfast_feature_extractor_spark.plans.featurize import pit_dual_rate_from

    assert _plan(pit_dual_rate_from(_events(spark))).count("Exchange") == 2


def _chunk_window_feeds(plan: str, entity: str) -> list[str]:
    """The Exchange under every ascending (entity, __chunk) Window of a
    physical plan — the first Exchange printed below the Window line
    (the chunk-tail windows, ordered DESC, are not matched)."""
    head = re.compile(rf"\], \[{entity}#\d+L?, __chunk#\d+\], \[[^\]]* ASC")
    lines = plan.splitlines()
    feeds = []
    for i, line in enumerate(lines):
        if "Window [" in line and head.search(line):
            feeds.append(next(x for x in lines[i + 1:] if "Exchange" in x))
    return feeds


@pytest.mark.parametrize("op", ["dual_rate", "sessionize", "pages"])
def test_chunk_window_partition_count_pinned(spark, pages_df, op):
    """Every chunked operator feeds its (entity, __chunk) window from an
    explicit-count repartition: AQE never coalesces a REPARTITION_BY_NUM
    exchange, so a byte-tiny chunk shuffle keeps its full width instead
    of collapsing onto a handful of window tasks."""
    from slowfast_feature_extractor_spark.operators.skew import (
        dual_rate_features_chunked,
        sessionize_chunked,
    )

    if op == "dual_rate":
        df, entity = dual_rate_features_chunked(
            _events(spark), entity="user_id", ts="ts", measure="value_cents",
            tiebreak="event_id",
        ), "user_id"
    elif op == "sessionize":
        df, entity = sessionize_chunked(
            _events(spark), entity="user_id", ts="ts", gap_seconds=1800.0,
            tiebreak="event_id",
        ), "user_id"
    else:
        df, entity = featurize_pages(pages_df, chunk_trunc="day"), "url"
    try:
        feeds = _chunk_window_feeds(_plan(df), entity)
    finally:
        spark.catalog.clearCache()  # the chunked plans persist intermediates
    assert feeds
    for feed in feeds:
        assert re.search(rf"hashpartitioning\({entity}#\d+L?, __chunk#\d+, 8\)", feed)
        assert "REPARTITION_BY_NUM" in feed


def test_pushdown_reaches_scan(spark):
    plan = _plan(REGISTRY["pushdown_scan"][0](spark, SF_TINY))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read  # column pruning


def test_dim_joins_broadcast(spark):
    plan = _plan(REGISTRY["broadcast_dim_join"][0](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_window_families_share_one_exchange(spark):
    plan = _plan(REGISTRY["window_dual_rate"][0](spark, SF_TINY))
    assert plan.count("Exchange") == 1  # fast+slow+hist over one sort


def test_asof_is_single_shuffle(spark):
    plan = _plan(REGISTRY["asof_join"][0](spark, SF_TINY))
    # union-tag as-of: exactly one exchange for the window partition
    assert plan.count("Exchange") == 1
    assert "Window" in plan


@pytest.mark.parametrize("name", ["dedup_jaccard", "dedup_minhash_lsh"])
def test_pair_candidates_are_joinless_combinations(spark, name):
    """r7: candidate generation (shared-shingle pairs / LSH band
    collisions) is a grouped posting-list expansion — Generate over
    sorted id arrays — so the exploded index is never self-JOINED and no
    join strategy can broadcast a misestimated big side (the r6 hazard:
    5x run-to-run variance when AQE broadcast the banded table)."""
    plan = _plan(REGISTRY[name][0](spark, SF_TINY))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_no_cross_join(spark):
    """Banded pigeonhole blocking: candidates come from an equi-join on
    (band, bucket), never a cartesian product."""
    plan = _plan(REGISTRY["dedup_simhash_pairs"][0](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_part_supplier_revenue_broadcasts_all_dims(spark):
    """The 3-way dim join must never shuffle the fact side."""
    plan = _plan(REGISTRY["part_supplier_revenue"][0](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_corpus_clean_single_scan_single_exchange(spark):
    """Lang gate + quality gate + dedup-keep compose over ONE documents
    scan with the dedup window's hash partition as the only Exchange."""
    plan = _plan(REGISTRY["corpus_clean"][0](spark, SF_TINY))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") <= 2  # md5 window hash (+scan-guard round robin)
