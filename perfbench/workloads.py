"""The three benchmark workloads.

Each workload has an end-to-end entry (timed with tracing off), an
output check (run outside the timed region), and a list of layer calls
for the traced run. Spark is lazy and the flagship plans fuse layers
into one stage, so each layer call runs that layer's public function on
the workload's own input, forced through the noop sink. A layer the
workload bypasses is called on zero rows of the shape it takes: its
metrics then read the layer's fixed cost and zero work.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil

import duckdb
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen, oracle
from slowfast_feature_extractor_spark.config import FeaturizerConfig
from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf
from slowfast_feature_extractor_spark.functions.vector import resample_udf
from slowfast_feature_extractor_spark.operators import resume
from slowfast_feature_extractor_spark.operators.asof_join import asof_join
from slowfast_feature_extractor_spark.operators.audit import assert_no_leakage
from slowfast_feature_extractor_spark.operators.sessionize import sessionize
from slowfast_feature_extractor_spark.operators.windows import dual_rate_features
from slowfast_feature_extractor_spark.plans import backfill_job, featurize
from slowfast_feature_extractor_spark.plans.queries import ORACLE_PIT_DUAL_RATE
from slowfast_feature_extractor_spark.sources.tables import load_table

SAMPLED_URLS = 24
HOT_ROW_SAMPLE = 64  # check one in 64 rows of a hot url

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])
EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def with_cents(ev: DataFrame) -> DataFrame:
    """The registry's events projection (``plans.queries._ev``)."""
    return ev.withColumn("value_cents", F.round(F.col("value") * 100).cast("long"))


def _files(path: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]


@contextlib.contextmanager
def patched(tracer, targets):
    """Record every call of ``module.attr`` as a span for the body's
    duration (``targets``: (module, attr, span name) triples)."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, name in targets:
            setattr(m, a, tracer.wrap(getattr(m, a), name))
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)


class Workload:
    """One workload; ``BENCHMARK.json`` says why it was chosen and
    ``perfbench/README.md`` which layers it exercises and bypasses."""

    name = ""
    spec = None
    table = ""

    def __init__(self, spark: SparkSession, data_dir: str, manifest: dict,
                 seed: int, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.manifest = manifest
        self.seed = seed
        self.work_dir = work_dir

    @property
    def rows(self) -> int:
        return self.manifest["rows"]

    def scan(self) -> DataFrame:
        return load_table(self.spark, self.data_dir, self.table)

    def empty_pages(self) -> DataFrame:
        return self.spark.createDataFrame([], PAGES_SCHEMA)

    def empty_events(self) -> DataFrame:
        return with_cents(self.spark.createDataFrame([], EVENTS_SCHEMA))

    def prepare(self) -> None:
        """Untimed per-run set-up of the output check."""

    def run(self, tag: str):
        """One end-to-end execution; returns what :meth:`check` needs.
        Its outputs go to fresh directories named by ``tag``."""
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Release what an execution left behind."""
        # featurize's chunked plan persists its input and never releases
        # it; drop it so every execution starts from the same state
        self.spark.catalog.clearCache()

    def traced_patches(self) -> list:
        return [(featurize, "auto_chunk_decision", "plans.featurize.auto_chunk_decision")]

    # --- layer calls of the traced run: each returns its counts ------

    def layer_calls(self):
        """(span name, busy-time metric names, call) in call order; each
        call returns the layer's counts."""
        return [
            ("layer:sources.load_table", ("scan.busy_s",), self.layer_scan),
            ("layer:functions.extraction", ("extraction.busy_s",), self.layer_extraction),
            ("layer:functions.vector.resample_udf", ("resample.busy_s",), self.layer_resample),
            ("layer:plans.featurize.auto_chunk_decision", ("auto_chunk.s",),
             self.layer_auto_chunk),
            # the plain plan is both the windows measurement and the
            # baseline of the chunked (skew) plan
            ("layer:plans.featurize.featurize_pages", ("featurize.windows_busy_s",
                                                       "skew.plain_busy_s"),
             self.layer_featurize_plain),
            ("layer:operators.skew", ("skew.chunked_busy_s",), self.layer_featurize_chunked),
            ("layer:operators.sessionize", ("sessionize.busy_s",), self.layer_sessionize),
            ("layer:operators.windows", ("windows.busy_s",), self.layer_windows),
            ("layer:operators.asof_join", ("asof.busy_s",), self.layer_asof),
            ("layer:operators.resume", ("resume.busy_s",), self.layer_resume),
            ("layer:operators.audit", ("audit.busy_s",), self.layer_audit),
        ]

    def open_layer_inputs(self) -> None:
        """Build the DataFrames the layer calls read before their spans
        open, so no span pays another layer's planning (the scan's schema
        inference runs a job)."""
        src = self.scan()
        self.pages_in = src if self.table == "pages" else self.empty_pages()
        self.events_in = with_cents(src) if self.table == "events" else self.empty_events()
        self.prefilled_in = self.prefilled_pages()
        self.resume_in = self.features_for_resume()

    def layer_scan(self) -> dict:
        noop(self.scan())
        table = os.path.join(self.data_dir, f"{self.table}.parquet")
        return {"scan.input_bytes": sum(os.path.getsize(f) for f in _files(table))}

    def layer_extraction(self) -> dict:
        noop(self.pages_in.select(extract_text_udf(F.col("html")).alias("text")))
        on = self.table == "pages"
        return {"extraction.rows": self.rows if on else 0,
                "extraction.html_bytes": self.manifest.get("html_bytes", 0) if on else 0}

    def layer_resample(self) -> dict:
        # history lists of every length the flagship windows produce
        # (0..fast_rows and 0..slow_rows), one pair per input row
        h = F.xxhash64("url", "warc_ts")

        def hist(n_max: int):
            n = F.pmod(h, F.lit(n_max + 1)).cast("int")
            return F.transform(F.array_repeat(F.lit(0), n), lambda _, i: i.cast("double"))

        noop(self.pages_in.select(
            resample_udf(oracle.FAST_LEN)(hist(oracle.FAST_ROWS)).alias("f"),
            resample_udf(oracle.SLOW_LEN)(hist(oracle.SLOW_ROWS)).alias("s"),
        ))
        return {"resample.rows": 2 * self.rows if self.table == "pages" else 0}

    def layer_auto_chunk(self) -> dict:
        entity = "url" if self.table == "pages" else "user_id"
        src = self.pages_in if self.table == "pages" else self.events_in
        decision = featurize.auto_chunk_decision(src, entity)
        return {"decision": decision}

    def prefilled_pages(self) -> DataFrame:
        """The pages with ``text`` already extracted (zero rows when the
        workload has none)."""
        return self.empty_pages()

    def _featurize(self, chunk_trunc) -> dict:
        noop(featurize.featurize_pages(self.prefilled_in, chunk_trunc=chunk_trunc))
        self.spark.catalog.clearCache()
        return {}

    def layer_featurize_plain(self) -> dict:
        return self._featurize(None)

    def layer_featurize_chunked(self) -> dict:
        return self._featurize("day")

    def layer_sessionize(self) -> dict:
        noop(sessionize(self.events_in, entity="user_id", ts="ts",
                        gap_seconds=1800.0, tiebreak="event_id"))
        return {}

    def layer_windows(self) -> dict:
        noop(dual_rate_features(
            self.events_in, entity="user_id", ts="ts", measure="value_cents",
            fast_rows=8, slow_rows=64, strict=True, tiebreak="event_id",
        ))
        return {}

    def layer_asof(self) -> dict:
        ev = self.events_in
        clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value_cents").alias("view_cents"))
        left, matched = asof_join(
            clicks, views, on="ts", by=("user_id",), right_cols=["view_cents"],
            allow_exact_matches=True, matched_ts_col="view_ts",
        ).agg(F.count(F.lit(1)), F.count("view_ts")).first()
        return {"asof.left_rows": int(left),
                "asof.matched_ratio": matched / left if left else 0.0}

    def features_for_resume(self) -> tuple[DataFrame, int | None]:
        """Committed features to re-write through the checkpoint layer
        and their declared bucket count (zero rows and no buckets when
        the workload writes none)."""
        return self.spark.createDataFrame(
            [], "url string, warc_ts timestamp, fused_vec array<double>, "
                "max_input_ts timestamp, bucket int"), None

    def layer_resume(self) -> dict:
        out = os.path.join(self.work_dir, "resume-out")
        feats, n_buckets = self.resume_in
        res = resume.run_with_checkpoint(
            feats, out, os.path.join(self.work_dir, "resume-ledger"),
            bucket_col="bucket", n_buckets=n_buckets,
        )
        files = _files(out)
        return {"resume.buckets_processed": len(res["processed"]),
                "resume.rows_written": res["rows"],
                "resume.output_bytes": sum(os.path.getsize(f) for f in files),
                "resume.files_written": len(files)}

    def layer_audit(self) -> dict:
        out = os.path.join(self.work_dir, "resume-out")
        df = (self.spark.read.parquet(out) if os.path.isdir(out)
              else self.resume_in[0])
        return {"audit.rows": assert_no_leakage(df, ts="warc_ts")}


class PagesWorkload(Workload):
    table = "pages"

    def sampled_urls(self) -> tuple[list[str], list[str]]:
        """(one hot url if the input has any, sampled uniform urls),
        chosen from the seed."""
        s = self.spec

        def url(i: int) -> str:
            return f"https://host{i % 1024}.example/p{i}"

        rng = random.Random(self.seed)
        hot = [url(rng.randrange(s.hot_urls))] if s.hot_urls else []
        bg = rng.sample(range(s.hot_urls, s.hot_urls + s.n_urls), SAMPLED_URLS)
        return hot, [url(i) for i in bg]

    def prepare(self) -> None:
        hot, bg = self.sampled_urls()
        self.hot, self.bg = hot, bg
        self.truth = pads.dataset(os.path.join(self.data_dir, "truth.parquet")).to_table(
            filter=pads.field("url").isin(hot + bg)).to_pandas()

    def check_features(self, feats: DataFrame) -> list[str]:
        """Total and leaked rows over all features, and the feature rows
        of the sampled urls (the url filter prunes the windows to them)."""
        sampled = F.col("url").isin(self.bg) | (
            F.col("url").isin(self.hot)
            & (F.pmod(F.xxhash64("warc_ts"), F.lit(HOT_ROW_SAMPLE)) == 0)
        )
        total, leaked = feats.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("max_input_ts") >= F.col("warc_ts"), 1)),
        ).first()
        out = feats.filter(sampled).select(
            "url", "warc_ts", "slow_vec", "fast_vec", "fused_vec", "n_hist_rows",
            "max_input_ts",
        ).toPandas()
        return oracle.check_pages(out, self.truth, total, self.rows, leaked)

    def prefilled_pages(self) -> DataFrame:
        # the generator's truth holds each page's extracted-text length:
        # a text of that length feeds the windows the same measures
        truth = self.spark.read.parquet(os.path.join(self.data_dir, "truth.parquet"))
        return truth.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
            F.repeat(F.lit("x"), F.col("measure").cast("int")).alias("text"),
            F.lit("en").alias("lang"),
        )


class PagesBackfill(PagesWorkload):
    name = "pages_backfill"
    # above featurize_pages' auto_chunk_threshold (50k rows), so the auto
    # chooser takes its production path: footer total, then the
    # hot-entity sketch
    spec = gen.PagesSpec(n_urls=2_200, revisits=24)

    def run(self, tag: str):
        out = os.path.join(self.work_dir, f"out-{tag}")
        cfg = FeaturizerConfig(
            input_path=os.path.join(self.data_dir, "pages.parquet"),
            output_path=out, ledger_path=os.path.join(self.work_dir, f"ledger-{tag}"),
            cpus="4", batch_id=tag,
        )
        return cfg, backfill_job.run(cfg, spark=self.spark)

    def check(self, result) -> list[str]:
        cfg, metrics = result
        fails = self.check_features(self.spark.read.parquet(cfg.output_path))
        if metrics["rows_written"] != self.rows:
            fails.append(f"job wrote {metrics['rows_written']} rows, input has {self.rows}")
        return fails

    def cleanup(self) -> None:
        super().cleanup()
        for tree in ("out", "ledger"):
            for d in os.listdir(self.work_dir):
                if d.startswith(tree + "-"):
                    shutil.rmtree(os.path.join(self.work_dir, d), ignore_errors=True)

    def traced_patches(self) -> list:
        return super().traced_patches() + [
            (backfill_job, "featurize_pages", "plans.featurize.featurize_pages"),
            (backfill_job, "run_with_checkpoint", "operators.resume.run_with_checkpoint"),
            (backfill_job, "assert_no_leakage", "operators.audit.assert_no_leakage"),
        ]

    def features_for_resume(self) -> tuple[DataFrame, int | None]:
        # the traced execution's committed output, bucketed as the job
        # bucketed it
        out = os.path.join(self.work_dir, "out-traced")
        return self.spark.read.parquet(out), FeaturizerConfig.buckets


class EventsPit(Workload):
    name = "events_pit"
    spec = gen.EventsSpec(n_users=4_500, events_per_user=200)
    table = "events"

    def prepare(self) -> None:
        con = duckdb.connect()
        try:
            path = os.path.join(self.data_dir, "events.parquet", "*.parquet")
            con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            self.want = con.sql(ORACLE_PIT_DUAL_RATE).df()
        finally:
            con.close()

    def run(self, tag: str):
        out = featurize.pit_dual_rate_auto(with_cents(self.scan()))
        noop(out)
        return out

    def check(self, result) -> list[str]:
        return oracle.check_events(result.toPandas(), self.want, self.manifest["clicks"])

    def traced_patches(self) -> list:
        return super().traced_patches() + [
            (featurize, "pit_dual_rate_from", "plans.featurize.pit_dual_rate_from"),
            (featurize, "pit_dual_rate_chunked_from",
             "plans.featurize.pit_dual_rate_chunked_from"),
            (featurize, "sessionize", "operators.sessionize.sessionize"),
            (featurize, "dual_rate_features", "operators.windows.dual_rate_features"),
            (featurize, "asof_join", "operators.asof_join.asof_join"),
        ]


class PagesHotEntity(PagesWorkload):
    name = "pages_hot_entity"
    spec = gen.PagesSpec(n_urls=500, revisits=20, hot_urls=1, hot_revisits=52_000,
                         prefilled=True)

    def run(self, tag: str):
        out = featurize.featurize_pages(self.scan())
        noop(out)
        return out

    def check(self, result) -> list[str]:
        return self.check_features(result)

    def prefilled_pages(self) -> DataFrame:
        return self.scan()

    def traced_patches(self) -> list:
        return super().traced_patches() + [
            (featurize, "chunk_carries", "operators.skew.chunk_carries"),
            (featurize, "chunk_prefix_counts", "operators.skew.chunk_prefix_counts"),
        ]


WORKLOADS = {w.name: w for w in (PagesBackfill, EventsPit, PagesHotEntity)}
