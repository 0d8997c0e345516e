"""Seeded input generator for the benchmark workloads.

Inputs are built IN Spark from column expressions over ``spark.range``
(the shapes of ``sources/synth.py``, whose generators take no seed):
every random choice is ``xxhash64(id, seed)``, so the same (spec, seed)
writes the same rows and another seed writes other rows of the same
size. The program under test only ever reads the generated parquet.

Alongside each pages input the generator writes a ``truth`` table
(url, warc_ts, measure) that the program never sees: ``measure`` is the
length of the page's visible text, derived from the HTML template
itself, so the output check does not reuse the program's extractor.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BASE_TS = 1704067200  # 2024-01-01T00:00:00Z
_WORDS = (
    "web crawl page snapshot feature window session entity timestamp "
    "extract token vector slow fast fused history revisit content"
).split()
_EVENT_TYPES = ("view", "click", "scroll", "purchase", "error")
INPUT_PARTITIONS = 8  # parquet files per generated table


@dataclass(frozen=True)
class PagesSpec:
    """``n_urls x revisits`` uniform pages (revisits ~1.2 days apart)
    plus ``hot_urls x hot_revisits`` rows on a few hot urls (one revisit
    a minute). ``prefilled`` writes ``text`` and leaves ``html`` null."""

    n_urls: int
    revisits: int
    hot_urls: int = 0
    hot_revisits: int = 0
    prefilled: bool = False

    @property
    def rows(self) -> int:
        return self.n_urls * self.revisits + self.hot_urls * self.hot_revisits


@dataclass(frozen=True)
class EventsSpec:
    """``n_users x events_per_user`` uniform events in the schema of the
    ``events`` test table (event_id, ts, user_id, event_type, value)."""

    n_users: int
    events_per_user: int

    @property
    def rows(self) -> int:
        return self.n_users * self.events_per_user


def _h(seed: int, salt: int = 0) -> Column:
    return F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))


def _word(expr: Column) -> Column:
    words = F.array(*[F.lit(w) for w in _WORDS])
    base = F.element_at(words, (F.pmod(expr, F.lit(len(_WORDS))) + 1).cast("int"))
    return F.concat(base, F.pmod(F.xxhash64(expr), F.lit(997)).cast("string"))


def pages_frames(spark: SparkSession, spec: PagesSpec, seed: int) -> tuple[DataFrame, DataFrame]:
    """(pages, truth) for ``spec`` and ``seed``. Hot rows come first in
    id order; every url's warc_ts is strictly increasing."""
    n_hot = spec.hot_urls * spec.hot_revisits
    df = spark.range(0, spec.rows, 1, INPUT_PARTITIONS)
    hot = F.col("id") < F.lit(n_hot)
    bg_id = F.col("id") - F.lit(n_hot)
    url_idx = F.when(hot, F.col("id") % F.lit(max(spec.hot_urls, 1))).otherwise(
        F.lit(spec.hot_urls) + bg_id % F.lit(spec.n_urls)
    )
    visit = F.when(hot, (F.col("id") / F.lit(max(spec.hot_urls, 1))).cast("long")).otherwise(
        (bg_id / F.lit(spec.n_urls)).cast("long")
    )
    h = _h(seed)
    # jitter < spacing keeps warc_ts strictly increasing per url
    spacing = F.when(hot, F.lit(60)).otherwise(F.lit(100_000))
    ts = F.timestamp_seconds(F.lit(_BASE_TS) + visit * spacing + F.pmod(h, spacing))
    title = F.concat(F.lit("p"), F.pmod(h, F.lit(997)).cast("string"))
    n_words = (F.pmod(_h(seed, 1), F.lit(8)) + 4).cast("int")
    para = F.array_join(
        F.slice(
            F.array(*[_word(h + i) for i in range(6)], _word(url_idx), _word(visit),
                    *[_word(h + i) for i in range(6, 10)]),
            1, n_words,
        ),
        " ",
    )
    reps = (F.pmod(_h(seed, 2), F.lit(4)) + 1).cast("int")
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>"), title,
            F.lit("</title><style>p{x:1}</style><script>var x=1;</script></head>"
                  "<body><!-- c --><p>"),
            para, F.lit(" &amp; "),
            F.repeat(F.concat(para, F.lit(" ")), reps),
            F.lit("&lt;end&gt;</p></body></html>"),
        ),
        "utf-8",
    )
    # the template's visible text: tags, script, style and comment gone,
    # entities decoded, whitespace runs collapsed
    visible = F.concat_ws(
        " ", title, para, F.lit("&"),
        F.rtrim(F.repeat(F.concat(para, F.lit(" ")), reps)), F.lit("<end>"),
    )
    url = F.concat(
        F.lit("https://host"), F.pmod(url_idx, F.lit(1024)).cast("string"),
        F.lit(".example/p"), url_idx.cast("string"),
    )
    base = df.select(
        url.alias("url"), ts.alias("warc_ts"), html.alias("__html"),
        visible.alias("__visible"),
        F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "unknown")]),
                     (F.pmod(url_idx, F.lit(4)) + 1).cast("int")).alias("lang"),
    )
    if spec.prefilled:
        pages = base.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
            F.col("__visible").alias("text"), "lang",
        )
    else:
        pages = base.select(
            "url", "warc_ts", F.col("__html").alias("html"),
            F.lit(None).cast("string").alias("text"), "lang",
        )
    truth = base.select(
        "url", "warc_ts", F.length("__visible").cast("double").alias("measure")
    )
    return pages, truth


def events_frame(spark: SparkSession, spec: EventsSpec, seed: int) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value) for ``spec`` and
    ``seed``; ts is TIMESTAMP_NTZ like the ``events`` test table's."""
    df = spark.range(0, spec.rows, 1, INPUT_PARTITIONS)
    user = F.col("id") % F.lit(spec.n_users)
    seq = (F.col("id") / F.lit(spec.n_users)).cast("long")
    h = _h(seed)
    etype = F.element_at(
        F.array(*[F.lit(t) for t in _EVENT_TYPES]), (F.pmod(h, F.lit(5)) + 1).cast("int")
    )
    ts = F.timestamp_seconds(F.lit(_BASE_TS) + seq * 4000 + F.pmod(h, F.lit(3600)))
    return df.select(
        F.col("id").alias("event_id"),
        ts.cast("timestamp_ntz").alias("ts"),
        user.alias("user_id"),
        etype.alias("event_type"),
        (F.pmod(_h(seed, 1), F.lit(100_000)).cast("double") / 100).alias("value"),
    )


def write(spark: SparkSession, spec, seed: int, out_dir: str) -> dict:
    """Write the input of ``spec``/``seed`` under ``out_dir`` as the
    table ``pages.parquet`` (plus ``truth.parquet``) or ``events.parquet``
    and return its manifest (the counts the output check needs)."""
    if isinstance(spec, PagesSpec):
        pages, truth = pages_frames(spark, spec, seed)
        pages.write.parquet(os.path.join(out_dir, "pages.parquet"))
        truth.write.parquet(os.path.join(out_dir, "truth.parquet"))
        r = spark.read.parquet(os.path.join(out_dir, "pages.parquet")).agg(
            F.count(F.lit(1)), F.coalesce(F.sum(F.length("html")), F.lit(0)),
        ).first()
        manifest = {"rows": int(r[0]), "html_bytes": int(r[1])}
    else:
        events_frame(spark, spec, seed).write.parquet(os.path.join(out_dir, "events.parquet"))
        r = spark.read.parquet(os.path.join(out_dir, "events.parquet")).agg(
            F.count(F.lit(1)), F.count(F.when(F.col("event_type") == "click", 1)),
        ).first()
        manifest = {"rows": int(r[0]), "clicks": int(r[1])}
    if manifest["rows"] != spec.rows:
        raise RuntimeError(f"generated {manifest['rows']} rows, spec says {spec.rows}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def digest(spark: SparkSession, data_dir: str) -> str:
    """Content digest of a generated input: per table, the row count and
    the order-independent sum of row hashes. (Parquet file bytes are not
    stable across JVMs: footers list encodings in hash-set order.)"""
    parts = []
    for table in sorted(os.listdir(data_dir)):
        if not table.endswith(".parquet"):
            continue
        df = spark.read.parquet(os.path.join(data_dir, table))
        n, total = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
            F.count(F.lit(1)), F.sum("h")).first()
        parts.append(f"{table}:{n}:{total}")
    return hashlib.sha256(" ".join(parts).encode()).hexdigest()

