"""End-to-end feature plans.

``featurize_pages`` is the flagship pipeline over the ``pages`` table
(FIXTURES.md §1): scan → HTML→text extraction (Arrow UDF) → dual-rate
trailing windows → fixed-length resample → as-of fusion → features —
the Spark-first restatement of the reference's scan → decode → dual-rate
sample → forward → save loop (reference/test_net.py:314-421).

``pit_dual_rate_events`` is the same shape over the driver's ``events``
table (used by ``__spark_entry__.entry`` and the DuckDB correctness
gate).

Scale strategy (SURVEY.md §4): ONE ``repartitionByRange(entity, ts)`` +
in-partition sort feeds every window family (the analog of the reference
extracting low/mid/deep features from a single forward pass) — Spark
reuses the sort across window specs with identical partitioning/ordering,
so the whole temporal stage is a single Exchange. Embarrassingly-parallel
stages (extraction, per-row projections) run before that shuffle and can
be salted into buckets (``salted_buckets``) when hot entities skew the
scan; the as-of stage itself must stay entity-partitioned (salting would
break the time ordering within an entity).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf
from slowfast_feature_extractor_spark.functions.vector import resample_udf
from slowfast_feature_extractor_spark.operators.asof_join import asof_join
from slowfast_feature_extractor_spark.operators.sessionize import sessionize  # noqa: F401
from slowfast_feature_extractor_spark.operators.skew import (
    _carry_window,
    _with_chunk_prefix,
    chunk_carries,
    chunk_prefix_counts,
    dual_rate_features_chunked,
    sessionize_chunked,
)
from slowfast_feature_extractor_spark.operators.windows import dual_rate_features

_CHUNK_TRUNCS = ("day", "week", "month", "year")


def _plan_is_bare_scan(df: DataFrame) -> bool:
    """True when the analyzed logical plan contains no row-MULTIPLYING
    node — no Join, Generate (explode), or Union. Parquet footer totals
    are a valid upper bound on the row count only then: joins multiply
    rows, explodes fan out, and ``inputFiles()`` deduplicates a
    self-union's files so footers under-count it (ADVICE r4). Filters /
    projections only shrink the count, so the footer bound stays
    conservative through them."""
    import re

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    # every node that can EMIT MORE ROWS than its child: joins
    # (LateralJoin spelled out — \bJoin\b does not match inside it),
    # explode (Generate), unions, cube/rollup (Expand), sampling with
    # replacement (Sample), and arbitrary-cardinality Python stages
    # (MapInPandas / FlatMap*) — footer totals bound none of these
    return not re.search(
        r"\b(Join|LateralJoin|Generate|Union|Expand|Sample|MapInPandas"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInArrow)\b",
        plan,
    )


def _hot_entity_sketch(
    df: DataFrame, entity: str, sample_rows: int = 200_000
) -> float | None:
    """DRIVER-side hot-entity estimate with ZERO Spark jobs: read the
    ``entity`` column of parquet row groups spread evenly across the
    WHOLE scan (pyarrow, footers + a bounded number of column chunks),
    then scale the sample's max multiplicity by total/sampled (capped
    at ``total``, the exact row count summed from every footer's
    row-group sizes in the same pass).

    The sampled units are chosen up front from the full unit list —
    never by reading in file order until a row budget fills, which
    would confine the sample to the scan's head and blind the sketch
    to hot entities living elsewhere. Known bias (documented, not
    fixable by a cluster sample): on an entity-SORTED layout a sampled
    row group is a contiguous run, so multiplicity × total/sampled can
    overestimate — the penalty is choosing the chunked plan on a
    uniform corpus (a bounded perf premium, BENCH/SKEW.md), never a
    wrong answer; both plans are value-exact."""
    try:
        import pyarrow.parquet as pq

        files = [
            f[7:] if f.startswith("file://") else f for f in df.inputFiles()
        ]
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        # one pass over footers to lay out (file, row_group) units with
        # their row counts
        units: list[tuple[str, int, int]] = []
        for path in files:
            meta = pq.ParquetFile(path).metadata
            units.extend(
                (path, i, meta.row_group(i).num_rows)
                for i in range(meta.num_row_groups)
            )
        if not units:
            return None
        total = sum(u[2] for u in units)
        # pick the sample SET first — k units evenly strided across the
        # whole list, k sized so expected rows ≈ sample_rows — then read
        # all of it (no early break: coverage must span the entire scan)
        avg = max(1, total // len(units))
        k = max(1, min(len(units), sample_rows // avg))
        stride = max(1, len(units) // k)
        chosen = units[::stride][:k]

        from collections import Counter

        counts: Counter = Counter()
        sampled = 0
        for path, rg, _ in chosen:
            col = pq.ParquetFile(path).read_row_group(rg, columns=[entity])
            counts.update(col.column(0).to_pylist())
            sampled += col.num_rows
        if not sampled:
            return None
        return min(float(total), counts.most_common(1)[0][1] * (total / sampled))
    except Exception:
        return None


# bounded memo for the composed-plan fallback's exact count, keyed on
# the plan's semantic hash. CAVEAT: the hash covers the PLAN, not the
# data — appending to the same path between compositions serves the
# pre-append decision (both plans stay value-exact; only the perf
# choice can go stale). Call clear_chunk_decision_cache() after
# rewriting a table in place, or pass chunk_trunc explicitly.
_EAGER_DECISION_CACHE: dict[int, str | None] = {}
_EAGER_DECISION_CACHE_MAX = 256


def clear_chunk_decision_cache() -> None:
    """Drop memoized auto-chunk decisions (see cache caveat above)."""
    _EAGER_DECISION_CACHE.clear()


def auto_chunk_decision(
    df: DataFrame, entity: str = "url", threshold: int = 50_000
) -> str | None:
    """Chooser between the plain and chunked temporal plans (VERDICT r3
    #6): ``"day"`` when the hottest entity holds at least ``threshold``
    rows (one task would otherwise serialize its whole history — the
    regime where chunking bought 2.1×/4× in BENCH/SKEW.md), else
    ``None`` (the plain plan is ~2.7× cheaper on uniform corpora).

    Cost discipline (VERDICT r4 #6): for a BARE SCAN (no Join/Generate/
    Union — the flagship's input shape) the decision runs ZERO Spark
    jobs at ANY input size: parquet footers bound the total below
    ``threshold``, else a driver-side pyarrow row-group sample estimates
    the hot entity (:func:`_hot_entity_sketch`). Composing a plan never
    silently executes a corpus scan. For composed plans (footers can
    under-count a join/explode/union, ADVICE r4) one exact column-pruned
    groupBy count runs, memoized on the plan's semantic hash so repeated
    composition pays once — prefer passing ``chunk_trunc`` explicitly
    there. Either outcome is value-exact; the choice is performance-only."""
    from slowfast_feature_extractor_spark.operators.similarity import _estimate_rows

    if _plan_is_bare_scan(df):
        # exact footer total up to 256 files decides the small case
        # early; wider scans go straight to the sketch, whose footer
        # pass sums the exact total over EVERY file — still zero jobs.
        # Without it, a >256-file table fell through to the eager count
        # below, silently violating the zero-job-for-bare-scans contract
        # exactly where the extra job is most expensive.
        est = _estimate_rows(df)
        if est is not None and est < threshold:
            return None
        hot = _hot_entity_sketch(df, entity)
        if hot is not None:
            return "day" if hot >= threshold else None
    try:
        plan_key = int(df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        plan_key = hash(df._jdf.queryExecution().analyzed().toString())
    key = hash((plan_key, entity, threshold))
    if key not in _EAGER_DECISION_CACHE:
        hot = (
            df.select(entity)
            .groupBy(entity)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c"))
            .first()[0]
        )
        if len(_EAGER_DECISION_CACHE) >= _EAGER_DECISION_CACHE_MAX:
            _EAGER_DECISION_CACHE.pop(next(iter(_EAGER_DECISION_CACHE)))
        _EAGER_DECISION_CACHE[key] = (
            "day" if hot is not None and hot >= threshold else None
        )
    return _EAGER_DECISION_CACHE[key]


def salted_buckets(
    df: DataFrame, key: str = "url", buckets: int = 32, salt: int = 0, col: str = "bucket"
) -> DataFrame:
    """Deterministic salted bucket id for embarrassingly-parallel stages
    over skewed keys (hot urls). NOT for window/as-of stages — those need
    the whole entity in one partition."""
    return df.withColumn(
        col, F.pmod(F.xxhash64(F.col(key), F.lit(salt)), F.lit(buckets)).cast("int")
    )


def featurize_pages(
    pages: DataFrame,
    fast_rows: int = 32,
    slow_rows: int = 64,
    fast_len: int = 32,
    slow_len: int = 8,
    tiebreak: str | None = None,
    chunk_trunc: str | None = "auto",
    auto_chunk_threshold: int = 50_000,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → features(url, warc_ts,
    slow_vec, fast_vec, fused_vec, n_hist_rows, max_input_ts).

    - text: extracted from html via the Arrow UDF when null (byte-
      identical to the oracle extractor);
    - measure: extracted-text length (deterministic integer);
    - fast_vec: trailing ``fast_rows`` strictly-earlier measures,
      resampled to ``fast_len`` (the reference's dense pathway,
      reference/test_net.py:62-67);
    - slow_vec: computed only at coarse anchors (first snapshot of each
      (url, day)) over ``slow_rows`` history resampled to ``slow_len``
      (sparse pathway, reference/test_net.py:69-74), then attached to
      every row by the as-of join (pathway fusion,
      reference/test_net.py:144);
    - fused_vec: slow‖fast (order per reference/models/head_helper.py:19),
      zero-filled when no anchor history exists
      (reference/datasets/videoset.py:194-196);
    - zero leakage: both windows end at 1 PRECEDING and anchors satisfy
      anchor_ts <= warc_ts, so every contributing row is strictly
      earlier; ``max_input_ts`` carries the audit bound;
    - determinism: (url, warc_ts) is the natural key of a crawl-snapshot
      table; when the input cannot guarantee uniqueness, pass
      ``tiebreak`` (a column name) to make every window frame
      well-defined under duplicate timestamps;
    - skew: ``chunk_trunc`` (``"day" | "week" | "month" | "year"``)
      switches the temporal stage to range-partition-with-carry;
      the ``"auto"`` default picks via :func:`auto_chunk_decision`
      (chunked iff some entity holds ≥ ``auto_chunk_threshold`` rows),
      ``None`` forces the plain plan
      (operators/skew.py) so a million-revisit url parallelizes across
      its time chunks instead of serializing through one task — the
      reference's one-video-one-unit assumption is exactly what breaks
      at 100× (SURVEY §4). Values are EXACTLY equal to the unchunked
      plan (parity-tested); requires ``fast_rows <= slow_rows`` and a
      chunk no finer than the day anchors (so every chunk's first real
      row is an anchor and the slow-pathway carry-forward never has to
      cross a chunk boundary). The chunked plan persists its post-
      extraction projection (``MEMORY_AND_DISK``) and the cache outlives
      the call: release it (``spark.catalog.clearCache()``) once the
      result has been consumed.
    """
    # Stage 1 (embarrassingly parallel): extraction UDF evaluated EXACTLY
    # once per row — the plan below never branches before this point, so
    # Catalyst cannot duplicate the expensive Python stage.
    keep = ["url", "warc_ts"] + ([tiebreak] if tiebreak else [])
    df = (
        pages.withColumn(
            "text", F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
        )
        .select(*keep, F.length("text").cast("double").alias("measure"))
    )

    # Stage 2: the temporal stage. Plain path: ONE hash partition on url
    # + ONE in-partition sort serves every window family below (fast
    # frame, slow frame, history bounds, anchor detection, and the
    # inlined as-of carry-forward) — the analog of the reference
    # extracting all feature depths from a single forward pass
    # (reference/just_test_v1.py:544-583). Chunked path: the same family
    # over (url, time-chunk) partitions with a ≤ slow_rows-row carry.
    order = ["warc_ts"] + ([tiebreak] if tiebreak else [])
    if chunk_trunc == "auto":
        chunk_trunc = auto_chunk_decision(pages, "url", auto_chunk_threshold)
    if chunk_trunc is not None:
        # the chunked path branches df three ways (carry extraction,
        # prefix counts, merged window pass); persist the thin post-UDF
        # projection so the extraction UDF honours the Stage-1
        # evaluated-EXACTLY-once invariant instead of re-running per
        # branch (pit_dual_rate_chunked_from does the same for its
        # sessionized stream)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        windowed = _windowed_chunked(df, order, fast_rows, slow_rows, chunk_trunc)
    else:
        w = Window.partitionBy("url").orderBy(*order)
        windowed = _pages_window_family(
            df, w, fast_rows, slow_rows, "n_hist_rows", F.count(F.lit(1))
        )
    out = windowed.withColumn(
        "fast_vec", resample_udf(fast_len)(F.col("__fast_raw"))
    ).withColumn("slow_vec", resample_udf(slow_len)(F.col("__slow_raw")))
    zeros = F.array_repeat(F.lit(0.0), slow_len)
    return out.select(
        "url",
        "warc_ts",
        F.coalesce("slow_vec", zeros).alias("slow_vec"),
        "fast_vec",
        F.concat(F.coalesce("slow_vec", zeros), "fast_vec").alias("fused_vec"),
        "n_hist_rows",
        "max_input_ts",
    )


def _pages_window_family(
    df: DataFrame, w: Window, fast_rows: int, slow_rows: int,
    hist_col: str, hist_count: Column,
) -> DataFrame:
    """The flagship's window family over ``w`` (per url, or per
    (url, __chunk) in the chunked plan); ``hist_count`` is the history
    aggregate stored as ``hist_col`` (the chunked plan masks carries)."""
    fast_frame = w.rowsBetween(-fast_rows, -1)
    slow_frame = w.rowsBetween(-slow_rows, -1)
    hist_frame = w.rowsBetween(Window.unboundedPreceding, -1)
    carry_frame = w.rowsBetween(Window.unboundedPreceding, 0)

    day = F.to_date("warc_ts")
    is_anchor = F.lag(day).over(w).isNull() | (F.lag(day).over(w) != day)

    # All window families in ONE pass over one Exchange+Sort; the slow
    # pathway list is masked to anchors (the reference's sparse sampling,
    # reference/test_net.py:69-74) and the as-of fusion is the running
    # last(ignorenulls) carry-forward of that raw list — J4 collapsed
    # into W2/W3's partition, zero extra shuffle (the general two-table
    # case uses operators.asof_join). Consecutive Window nodes preserve
    # partitioning+ordering, so no UDF may appear between them: both
    # resample UDFs run once, at the tail, after every window.
    return (
        df.withColumn("__fast_raw", F.collect_list("measure").over(fast_frame))
        .withColumn(
            "__slow_at_anchor",
            F.when(is_anchor, F.collect_list("measure").over(slow_frame)),
        )
        .withColumn(hist_col, hist_count.over(hist_frame))
        .withColumn("max_input_ts", F.max("warc_ts").over(hist_frame))
        .withColumn(
            "__slow_raw", F.last("__slow_at_anchor", ignorenulls=True).over(carry_frame)
        )
    )


def _windowed_chunked(
    df: DataFrame,
    order: list[str],
    fast_rows: int,
    slow_rows: int,
    chunk_trunc: str,
) -> DataFrame:
    """The flagship window family over (url, time-chunk) partitions —
    range-partition-with-carry (operators/skew.py), exactly equal to
    the plain per-url plan.

    Why exactness holds with day-or-coarser chunks:

    - every ROWS frame reaches back ≤ ``slow_rows`` rows, which the
      carry rows (last ``slow_rows`` rows before the chunk) supply;
    - a chunk never splits a day, so the first REAL row of every chunk
      sees a lag(day) from an earlier day (its carry predecessor or
      nothing) ⇒ it IS a day anchor, and the slow-pathway
      last(ignorenulls) carry-forward always resolves to a real anchor
      inside the chunk — carry rows' own (partial-history) anchor
      values are never selected because carries sort strictly before
      every real row;
    - ts is ordered, so max(history ts) = the immediate predecessor's
      ts, which the carry contains; n_hist_rows needs true prefix counts
      (a bounded carry can't count unbounded history) — supplied by the
      cumsum over the per-chunk count relation.
    """
    if fast_rows > slow_rows:
        raise ValueError("fast_rows must be <= slow_rows (carry bound)")
    if chunk_trunc not in _CHUNK_TRUNCS:
        raise ValueError(
            f"chunk_trunc must be one of {_CHUNK_TRUNCS} (no finer than the "
            f"day anchors), got {chunk_trunc!r}"
        )
    base = df.withColumn("__chunk", F.date_trunc(chunk_trunc, F.col("warc_ts")))
    carries = chunk_carries(base, "url", order, slow_rows)
    prefix = chunk_prefix_counts(base, "url")

    merged, w = _carry_window(base, carries, "url", order)
    windowed = _pages_window_family(
        merged, w, fast_rows, slow_rows, "__local_hist",
        F.count(F.when(F.col("__carry") == 0, F.lit(1))),
    )
    return _with_chunk_prefix(windowed, "url", prefix, "__local_hist", "n_hist_rows")


def featurize_sessions(
    pages: DataFrame,
    gap_seconds: float = 30 * 24 * 3600.0,
    vec_len: int = 8,
    min_rows: int | None = None,
) -> DataFrame:
    """Session-granularity featurization (FIXTURES.md §4 `sessions`):
    sessionize crawl revisits per url, then summarize each session's
    ordered measure series into a fixed-length vector.

    This is the reference's task-level variant — same operators, coarser
    grouping (reference/task_slowfast.py:1389 concatenates segment
    frames within a task before sampling; here the session's measures
    are ordered-concatenated then resampled). Uses only rows *inside*
    the session (a summary, not a point-in-time feature — no leakage
    question arises; PIT features come from featurize_pages).
    """
    df = (
        pages.withColumn(
            "text", F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
        )
        .select("url", "warc_ts", F.length("text").cast("double").alias("measure"))
    )
    s = sessionize(df, entity="url", ts="warc_ts", gap_seconds=gap_seconds)
    agg = s.groupBy("url", "session_id").agg(
        F.min("warc_ts").alias("session_start"),
        F.max("warc_ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_revisits"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("warc_ts").alias("__ts"),
                                        F.col("measure").alias("__v")))
            ),
            lambda x: x["__v"],
        ).alias("__ordered"),
    )
    out = agg.withColumn("session_vec", resample_udf(vec_len)(F.col("__ordered"))).drop(
        "__ordered"
    )
    if min_rows is not None:
        out = out.filter(F.col("n_revisits") >= min_rows)
    return out


def pit_dual_rate_events(
    spark: SparkSession,
    sf_dir: str,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
) -> DataFrame:
    """Flagship query on the driver's ``events`` table: for every
    'click', the point-in-time feature row — fast stats over its own
    strictly-earlier history, slow stats as-of the latest 'view'
    snapshot, plus the session index. Exact-arithmetic (cents) so the
    DuckDB oracle hashes identically."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return pit_dual_rate_from(ev, fast_rows, slow_rows, session_gap_s)


def pit_dual_rate_chunked_from(
    ev: DataFrame,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
    chunk_trunc: str = "month",
) -> DataFrame:
    """Fully skew-robust composition of the flagship events query: every
    entity-sequential stage runs per (user, time-chunk) with a carry —
    gap sessionization (``skew.sessionize_chunked``), both dual-rate
    window families (``skew.dual_rate_features_chunked``), and the as-of
    fusion (``asof_join(chunk=)``). Value-EXACT vs
    :func:`pit_dual_rate_from` (each stage is parity-tested and the
    composition is driver-checked against the SAME oracle), so a
    million-event user parallelizes across its chunks at every stage
    instead of serializing the pipeline through one task.

    The plan persists intermediates (``MEMORY_AND_DISK``: the
    sessionized stream, the sessionizer's window output and the as-of
    join's merged stream) that outlive the call; release them
    (``spark.catalog.clearCache()``) once the result has been
    consumed."""
    chunk = F.date_trunc(chunk_trunc, F.col("ts"))
    ev = sessionize_chunked(
        ev, entity="user_id", ts="ts", gap_seconds=session_gap_s,
        tiebreak="event_id", chunk=chunk,
    )
    # three branches (feature windows, view windows, click projection)
    # read the sessionized stream; persist it so the chunked
    # sessionizer's carry fold runs once, not per branch (columnar
    # batches, spills past memory)
    ev = ev.persist(StorageLevel.MEMORY_AND_DISK)

    # event_type/session_idx ride through the window pass (inert carry
    # columns), so the click rows are a FILTER on the feature table —
    # the r6 plan re-read the persisted stream a third time and paid a
    # 1M-row equi-join on (user, ts, event_id) just to re-attach
    # session_idx to its own rows
    feats = dual_rate_features_chunked(
        ev, entity="user_id", ts="ts", measure="value_cents",
        fast_rows=fast_rows, slow_rows=slow_rows, strict=True,
        tiebreak="event_id", chunk=chunk,
        carry_cols=("event_type", "session_idx"),
    )

    views = ev.filter(F.col("event_type") == "view")
    view_feats = dual_rate_features_chunked(
        views, entity="user_id", ts="ts", measure="value_cents",
        fast_rows=1, slow_rows=slow_rows, strict=True,
        tiebreak="event_id", chunk=chunk,
        prefix_slow="slow_view",
    ).select(
        "user_id", "ts",
        F.col("slow_view_avg"), F.col("slow_view_cnt"),
    )

    return _clicks_asof_views(feats, view_feats, chunk=chunk)


def pit_dual_rate_auto(
    ev: DataFrame,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
    chunk_threshold: int = 50_000,
    chunk_trunc: str = "month",
) -> DataFrame:
    """The events flagship with the chunk-carry machinery engaged ONLY
    when a hot entity actually exists (VERDICT r5 #2): the zero-job
    :func:`auto_chunk_decision` sketch (parquet footers + a driver-side
    row-group sample for bare scans) picks the plain plan on uniform
    corpora — where forced chunking costs ~6× pure overhead — and the
    fully chunked composition (:func:`pit_dual_rate_chunked_from`) when
    some entity holds ≥ ``chunk_threshold`` rows and one task would
    otherwise serialize that entity's whole history at every
    entity-sequential stage. Both plans are value-exact vs the same
    oracle; the decision is performance-only."""
    decision = auto_chunk_decision(ev, "user_id", chunk_threshold)
    if decision is not None:
        return pit_dual_rate_chunked_from(
            ev, fast_rows, slow_rows, session_gap_s, chunk_trunc=chunk_trunc
        )
    return pit_dual_rate_from(ev, fast_rows, slow_rows, session_gap_s)


def pit_dual_rate_from(
    ev: DataFrame,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
) -> DataFrame:
    """Same plan over any events-shaped DataFrame
    (event_id, ts, user_id, event_type, value_cents)."""
    ev = sessionize(ev, entity="user_id", ts="ts", gap_seconds=session_gap_s,
                    tiebreak="event_id")

    fast = dual_rate_features(
        ev,
        entity="user_id",
        ts="ts",
        measure="value_cents",
        fast_rows=fast_rows,
        slow_rows=slow_rows,
        strict=True,
        tiebreak="event_id",
    )

    views = ev.filter(F.col("event_type") == "view")
    vw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-slow_rows, -1)  # up to slow_rows strictly-earlier views
    )
    view_feats = views.select(
        "user_id",
        "ts",
        F.avg("value_cents").over(vw).alias("slow_view_avg"),
        F.count("value_cents").over(vw).alias("slow_view_cnt"),
    )

    return _clicks_asof_views(fast, view_feats)


def _clicks_asof_views(
    feats: DataFrame, view_feats: DataFrame, chunk: Column | None = None
) -> DataFrame:
    """Tail shared by both events flagships: project the click rows of
    the feature table, attach the latest view features as of each click
    (``asof_join``, chunked when ``chunk`` is given) and emit the
    oracle's column set (rounded to 6 decimals so the DuckDB oracle
    hashes identically)."""
    clicks = feats.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        "session_idx",
        F.round("fast_avg", 6).alias("fast_avg"),
        F.col("fast_cnt"),
        F.round("slow_avg", 6).alias("slow_avg"),
        F.col("slow_cnt"),
    )
    out = asof_join(
        clicks,
        view_feats,
        on="ts",
        by=("user_id",),
        right_cols=["slow_view_avg", "slow_view_cnt"],
        allow_exact_matches=True,
        matched_ts_col="view_ts",
        chunk=chunk,
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "session_idx",
        "fast_avg",
        "fast_cnt",
        "slow_avg",
        "slow_cnt",
        "view_ts",
        F.round("slow_view_avg", 6).alias("slow_view_avg"),
        "slow_view_cnt",
    )
