"""Skew-robust trailing windows: range-partition-with-carry.

The plain window operators partition by entity, so ONE hot url (a
million-revisit page at Common-Crawl scale) lands its whole history in
ONE task — the open risk flagged in round 1. This operator splits every
entity's timeline into time chunks (default: day — the same axis the
Iceberg layout partitions on, SURVEY §4) and runs the trailing-window
family per (entity, chunk) instead, so a hot entity parallelizes across
its chunks.

Correctness is restored by a *carry*: a ROWS frame of ≤ ``slow_rows``
ending inside chunk k can reach back at most ``slow_rows`` rows, so it
is fully determined by the last ``slow_rows`` rows before the chunk.
Those carry rows are computed from per-chunk *tails* (the last
``slow_rows`` rows of each chunk — a distributed window over
(entity, chunk)) sliced per chunk from a per-entity sorted tail array —
pure whole-stage-codegen expressions (r7; the r6 pandas fold shipped
every tail row through Python): the per-entity work is
O(chunks² × slow_rows) array element ops over tails only, never the
full history. Unbounded aggregates (``n_hist_rows``) come from a
per-chunk prefix-count table (cumsum over the tiny
(entity, chunk, count) relation).

Every chunked window operator (:func:`sessionize_chunked`,
:func:`dual_rate_features_chunked`, the pages flagship's chunked plan)
runs on ONE skeleton: :func:`_carry_window` unions the carries in and
pins the (entity, chunk) shuffle, the operator adds its window columns,
and :func:`_with_chunk_prefix` drops the carries and adds the earlier
chunks' total (:func:`_chunk_cumsum`).

Equality with the single-partition operator is exact and tested
(tests/test_skew.py): same columns, same values, any chunking.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.operators.windows import emit_rate_aggs


def shuffle_partition_count(spark) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    settings ('auto' on AQE-managed platforms): fall back to the
    cluster's default parallelism — the explicit-count repartitions
    below only need a sane width, not the exact conf value."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except ValueError:
        return int(spark.sparkContext.defaultParallelism)


def chunk_carries(
    base: DataFrame,
    entity: str,
    order_cols: list[str],
    slow_rows: int,
) -> DataFrame:
    """Carry rows for every (entity, __chunk): copies of the last
    ``slow_rows`` rows that precede the chunk in the entity's timeline,
    re-labelled with the chunk they carry into. ``base`` must already
    hold a ``__chunk`` column monotone (per entity) in the order
    columns. Shared by the chunked dual-rate operator and the chunked
    flagship (plans/featurize.py).

    Pure JVM (r7): carry(chunk k) = the last ``slow_rows`` rows, by
    (chunk, order), among tail rows with chunk < k — tail rows outside
    their own chunk's last ``slow_rows`` can never re-enter any later
    suffix, so folding tails sequentially (the r6 pandas applyInPandas
    pass) and slicing the prior-tails suffix are the SAME set. The r6
    fold shipped every tail row through Python and paid per-entity
    pandas-group overhead: on the sf1.0 events fixture entities are
    sparse (~8 rows per chunk < slow_rows), so tails = the WHOLE table
    and the fold was the top stage of every chunked operator (~75 s of
    the 92 s executor total, 40× runtime/cpu Python wait). Here the
    per-entity fold is a sort_array/filter/slice cascade inside
    whole-stage codegen; a null chunk (null ts) sorts first in both
    engines' orderings and seeds every later chunk's carry, matching
    the fold's na_position='first'."""
    # --- per-chunk tails: last slow_rows rows of each (entity, chunk) —
    # a distributed window; hot entities already split across chunks here
    w_desc = Window.partitionBy(entity, "__chunk").orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    tails = (
        base.withColumn("__rn", F.row_number().over(w_desc))
        .filter(F.col("__rn") <= slow_rows)
        .drop("__rn")
    )

    payload = [c for c in tails.columns if c != entity]
    # (__chunk, *order_cols) leads the struct so sort_array orders by the
    # fold's sort key; the full payload struct rides behind it
    order_fields = ["__chunk", *order_cols]
    rest = [c for c in payload if c not in order_fields]
    per_ent = tails.groupBy(entity).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    *[F.col(c).alias(f"__k{i}") for i, c in enumerate(order_fields)],
                    F.struct(*[F.col(c) for c in rest]).alias("__p"),
                )
            )
        ).alias("__arr")
    )
    chunks = F.array_distinct(
        F.transform(F.col("__arr"), lambda x: x["__k0"])
    )
    exploded = per_ent.select(
        entity, "__arr", F.posexplode(chunks).alias("__ki", "__tgt")
    ).filter(F.col("__ki") >= 1)
    prior = F.filter(
        F.col("__arr"),
        lambda x: x["__k0"].isNull() | (x["__k0"] < F.col("__tgt")),
    )
    carry = F.slice(
        prior, F.greatest(F.size(prior) - F.lit(slow_rows - 1), F.lit(1)),
        slow_rows,
    )
    out = exploded.select(
        entity, F.col("__tgt").alias("__chunk"), F.explode(carry).alias("__e")
    )
    e = F.col("__e")
    return out.select(
        entity,
        *[e.getField(f"__k{i + 1}").alias(c) for i, c in enumerate(order_cols)],
        *[e.getField("__p").getField(c).alias(c) for c in rest],
        "__chunk",
    )


def _chunk_cumsum(per_chunk: DataFrame, entity: str, col: str) -> DataFrame:
    """(entity, __chunk, __prefix): the sum of ``col`` over the entity's
    earlier chunks, from the tiny one-row-per-chunk relation."""
    w_chunks = (
        Window.partitionBy(entity)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_chunk.select(
        entity,
        "__chunk",
        F.coalesce(F.sum(col).over(w_chunks), F.lit(0)).alias("__prefix"),
    )


def chunk_prefix_counts(base: DataFrame, entity: str) -> DataFrame:
    """(entity, __chunk, __prefix) — rows strictly before each chunk,
    from a cumsum over the tiny per-chunk count relation (feeds the
    unbounded aggregates that a bounded carry cannot reconstruct)."""
    counts = base.groupBy(entity, "__chunk").agg(F.count(F.lit(1)).alias("__cnt"))
    return _chunk_cumsum(counts, entity, "__cnt")


def _carry_window(
    base: DataFrame, carries: DataFrame, entity: str, order_cols: list[str]
) -> tuple[DataFrame, Window]:
    """The skeleton every chunked operator runs on: ``base`` (holding
    ``__chunk``) unioned with its ``carries``, tagged ``__carry`` (1 on
    carry rows, which come from earlier chunks and so sort first), and
    the (entity, __chunk) window ordered by ``order_cols``."""
    merged = base.withColumn("__carry", F.lit(0)).unionByName(
        carries.withColumn("__carry", F.lit(1))
    )
    # pin the window's partition count: the (entity, chunk) shuffle is
    # tiny in BYTES, so AQE's advisory-size coalescing collapses it to a
    # handful of partitions and serializes the window stage (measured on
    # the pages flagship: 139 day-chunks ran on 5 partitions, 8.8s vs
    # 2.6s); an explicit-count repartition is exempt from AQE coalesce
    # and already satisfies the window's clustering requirement
    n_part = shuffle_partition_count(base.sparkSession)
    merged = merged.repartition(n_part, entity, "__chunk")
    w = Window.partitionBy(entity, "__chunk").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    return merged, w


def _with_chunk_prefix(
    windowed: DataFrame, entity: str, prefix: DataFrame, local_col: str, out_col: str
) -> DataFrame:
    """Finish a :func:`_carry_window` pass: drop the carry rows and set
    ``out_col = coalesce(__prefix, 0) + local_col`` from the per-chunk
    ``prefix`` relation (entity, __chunk, __prefix), dropping the
    skeleton's bookkeeping columns. The tiny prefix relation is joined
    on the window's own partition keys — the big side keeps its
    partitioning (no extra exchange)."""
    return (
        windowed.filter(F.col("__carry") == 0)
        .join(prefix, [entity, "__chunk"], "left")
        .withColumn(out_col, F.coalesce(F.col("__prefix"), F.lit(0)) + F.col(local_col))
        .drop("__chunk", "__carry", "__prefix", local_col)
    )


def sessionize_chunked(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    gap_seconds: float = 30 * 24 * 3600.0,
    session_col: str = "session_id",
    index_col: str = "session_idx",
    tiebreak: str | None = None,
    chunk: Column | None = None,
) -> DataFrame:
    """Skew-robust gap sessionizer — value-exact vs
    ``operators.sessionize.sessionize`` (parity-tested).

    The plain sessionizer's lag+cumsum runs one entity in one task; a
    hot url serializes. Here gap detection runs per (entity, time-chunk)
    seeded with a ONE-row carry (the entity's last row before the
    chunk), so the first row of every chunk sees its true global
    predecessor; the 1-based session index is then
    ``(# session starts in earlier chunks) + (local running count)``,
    where the per-chunk start counts come from a tiny
    (entity, chunk, starts) relation cumsum'd per entity — a session
    spanning a chunk boundary contributes no start in the later chunk,
    so the index carries over exactly. ``chunk`` must be monotone in
    ``ts`` per entity (default ``to_date(ts)``)."""
    from slowfast_feature_extractor_spark.functions.timeutil import epoch_us

    gap_us = int(round(gap_seconds * 1_000_000))
    chunk_expr = F.to_date(F.col(ts)) if chunk is None else chunk
    order_cols = [ts] + ([tiebreak] if tiebreak else [])

    # parity with the plain sessionizer's withColumn semantics: if the
    # input already carries index/session columns (re-sessionizing with
    # a different gap), REPLACE them — keeping them in the projection
    # below would emit duplicate names and break the first downstream
    # reference with AMBIGUOUS_REFERENCE
    cols = [c for c in df.columns if c not in (index_col, session_col)]
    base = df.drop(index_col, session_col).withColumn("__chunk", chunk_expr)
    carries = chunk_carries(base, entity, order_cols, slow_rows=1)
    merged, w = _carry_window(base, carries, entity, order_cols)

    prev = F.lag(F.col(ts)).over(w)
    is_new = F.when(
        (F.col("__carry") == 0)
        & (prev.isNull() | ((epoch_us(F.col(ts)) - epoch_us(prev)) > F.lit(gap_us))),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    windowed = merged.withColumn("__local_idx", F.sum(is_new).over(run))
    # TWO consumers (the output rows and the per-chunk session-start
    # prefix): without a persist the starts branch re-executes the whole
    # scan→tails→fold→union→window chain — the projections differ, so
    # Catalyst plans twin subtrees and ReusedExchange never fires
    # (measured: the twin 48-task map stages were the top-2 stages of
    # the sf1.0 profile, ~250 s of the 287 s total executor time). The
    # cache matches by plan, so _with_chunk_prefix's identical carry
    # filter below reads it too.
    local = windowed.filter(F.col("__carry") == 0).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    starts = local.groupBy(entity, "__chunk").agg(
        F.max("__local_idx").alias("__starts")
    )
    prefix = _chunk_cumsum(starts, entity, "__starts")
    out = _with_chunk_prefix(
        windowed, entity, prefix, "__local_idx", index_col
    ).withColumn(
        session_col,
        F.concat_ws("#", F.col(entity).cast("string"), F.col(index_col)),
    )
    return out.select(*cols, index_col, session_col)


def dual_rate_features_chunked(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    measure: str = "value",
    fast_rows: int = 8,
    slow_rows: int = 64,
    strict: bool = True,
    tiebreak: str | None = None,
    chunk: Column | None = None,
    round_to: int | None = None,
    prefix_fast: str = "fast",
    prefix_slow: str = "slow",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Skew-robust equivalent of ``windows.dual_rate_features``.

    ``carry_cols`` are extra input columns carried verbatim through the
    window pass into the output (inert in every aggregate/order) — they
    let a composition filter/annotate the feature rows directly instead
    of joining the source back in on the row key.

    Returns a slim feature table keyed by (entity, ts[, tiebreak]) with
    the same aggregate columns ({fast,slow}_{avg,sum,min,max,cnt},
    n_hist_rows, max_input_ts) — exactly equal to the single-partition
    operator's values. ``chunk`` defaults to ``to_date(ts)``; any
    deterministic, per-entity-monotone-in-ts expression works. Size
    chunks so rows-per-chunk >> ``slow_rows``: each chunk pays a
    ≤ ``slow_rows``-row carry, so day chunks on a million-revisit url
    are ideal while SPARSE entities want coarser chunks (or the plain
    operator — chunking buys nothing when one entity fits one task).

    Requires ``fast_rows <= slow_rows`` (the carry holds ``slow_rows``
    rows, which bounds every frame).
    """
    if fast_rows > slow_rows:
        raise ValueError("fast_rows must be <= slow_rows (carry bound)")
    end = -1 if strict else 0
    chunk_expr = F.to_date(F.col(ts)) if chunk is None else chunk
    order_cols = [ts] + ([tiebreak] if tiebreak else [])

    keep = [entity, *order_cols, measure, *carry_cols]
    base = df.select(*keep).withColumn("__chunk", chunk_expr)

    carries = chunk_carries(base, entity, order_cols, slow_rows)
    prefix = chunk_prefix_counts(base, entity)

    merged, w = _carry_window(base, carries, entity, order_cols)
    out = emit_rate_aggs(
        merged, w, measure, end,
        ((prefix_fast, fast_rows), (prefix_slow, slow_rows)), round_to,
    )
    hist = w.rowsBetween(Window.unboundedPreceding, end)
    out = out.withColumn(
        "__local_hist",
        F.count(F.when(F.col("__carry") == 0, F.lit(1))).over(hist),
    ).withColumn("max_input_ts", F.max(F.col(ts)).over(hist))
    out = _with_chunk_prefix(out, entity, prefix, "__local_hist", "n_hist_rows")
    return out.select(
        entity,
        *order_cols,
        measure,
        *carry_cols,
        *[f"{p}_{a}" for p in (prefix_fast, prefix_slow)
          for a in ("avg", "sum", "min", "max", "cnt")],
        "n_hist_rows",
        "max_input_ts",
    )
