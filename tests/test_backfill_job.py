"""End-to-end shippable job: config parsing, checkpointed run, resume,
audit metrics."""

from __future__ import annotations

from slowfast_feature_extractor_spark.config import FeaturizerConfig
from slowfast_feature_extractor_spark.plans.backfill_job import run
from slowfast_feature_extractor_spark.sources.pages import pages_spark_schema


def test_config_from_args():
    cfg = FeaturizerConfig.from_args(
        ["--input-path", "/i", "--output-path", "/o", "--ledger-path", "/l",
         "--fast-rows", "16"]
    )
    assert cfg.input_path == "/i" and cfg.fast_rows == 16
    assert cfg.slow_rows == 64


def test_backfill_job_end_to_end(spark, pages_pd, tmp_path):
    inp = str(tmp_path / "pages")
    spark.createDataFrame(pages_pd, schema=pages_spark_schema()).write.parquet(inp)
    cfg = FeaturizerConfig(
        input_path=inp,
        output_path=str(tmp_path / "features"),
        ledger_path=str(tmp_path / "ledger"),
        buckets=4,
        batch_id="test-1",
    )
    m = run(cfg, spark=spark)
    assert m["rows_written"] == len(pages_pd)
    assert m["rows_audited"] == len(pages_pd)
    assert m["leakage_violations"] == 0
    assert m["buckets_processed"] >= 1 and m["buckets_skipped"] == 0

    # resume on a completed run is a no-op that still audits
    m2 = run(cfg, spark=spark)
    assert m2["buckets_processed"] == 0
    assert m2["buckets_skipped"] == m["buckets_processed"]
    assert m2["rows_audited"] == len(pages_pd)
