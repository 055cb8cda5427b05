"""Structured Streaming ingest of pages (SURVEY.md §2.9).

The reference is single-pass batch and the crawl loop is iterative batch;
streaming enters when pages arrive continuously (a live fetcher writing
parquet).  This module gives that path: a file-source stream over the
pages directory, watermarked event-time windowed per-host counts (the
streaming analog of the lineage counters) and watermarked dedup stages.
A caller writes them with an exactly-once file sink + checkpoint — the
Structured-Streaming mirror of the engine's atomic round commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcit_spark.functions.urls import host_expr

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
# event-time horizon of the dedup stages' state
DEDUP_WATERMARK = "1 hour"


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def host_window_counts(
    pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-host tumbling-window page counts with late-data watermarking."""
    return (
        pages.withColumn("host", host_expr(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "pages",
            "bytes",
        )
    )


def streaming_frontier_dedup(urls: DataFrame) -> DataFrame:
    """Streaming URL-seen filter: canonicalize, then state-store-backed
    ``dropDuplicatesWithinWatermark`` on the canonical url (the
    Structured-Streaming analog of the batch seen-set anti-join J5).
    WithinWatermark (not plain dropDuplicates) is what makes the
    "watermark bounds the state" claim true — a plain dropDuplicates
    keyed on url alone never evicts, since eviction requires the
    event-time column in the dedup key.  Exact global dedup remains the
    batch loop's job (SURVEY.md §4.2 — the state here is a prefilter,
    the exact set lives in the `seen` table)."""
    from warcit_spark.functions.urls import canonicalize_url_expr

    canon = urls.select(
        canonicalize_url_expr(F.col("url")).alias("url"),
        F.col("warc_ts"),
    )
    return canon.withWatermark(
        "warc_ts", DEDUP_WATERMARK
    ).dropDuplicatesWithinWatermark(["url"])


def streaming_wet_preprocess(
    pages: DataFrame,
    min_words: int = 5,
    min_stopword_hits: int = 0,
) -> DataFrame:
    """Streaming WET preprocess: the training-data front half running AS
    pages arrive instead of in a batch sweep — visible-text extraction
    (functions/html.py), the Gopher quality gate (functions/text.py),
    and state-store-backed exact content dedup on the text's sha1 within
    the watermark horizon.

    Every transform before the dedup is a stateless row-local projection
    (the same JVM expression chain the batch queries use — streaming and
    batch share one implementation, so quality semantics cannot drift
    between the live and the sweep path).  The only stateful operator is
    ``dropDuplicates`` on the content digest: state is one digest per
    kept doc, bounded by the watermark; global historical dedup remains
    the batch loop's exact job (same division of labor as
    streaming_frontier_dedup vs the seen table).

    Thresholds default LOW (min_words=5) because streaming fixtures are
    tiny; production uses the Gopher paper defaults via the kwargs.
    """
    from warcit_spark.functions.html import html_text_expr, html_title_expr
    from warcit_spark.functions.text import gopher_keep_expr

    html_str = F.decode(F.col("html"), "UTF-8")
    extracted = pages.select(
        "url",
        "warc_ts",
        html_title_expr(html_str).alias("title"),
        html_text_expr(html_str).alias("text"),
    )
    kept = extracted.where(
        gopher_keep_expr(
            F.col("text"),
            min_words=min_words,
            min_stopword_hits=min_stopword_hits,
        )
    ).withColumn("digest", F.sha1(F.col("text")))
    # dropDuplicatesWithinWatermark, NOT dropDuplicates: with a plain
    # dropDuplicates the watermark only evicts state when the event-time
    # column is part of the dedup key, so keying on digest alone would
    # grow one state row per distinct document FOREVER on a continuous
    # ingest.  WithinWatermark keys on digest alone AND evicts each entry
    # once the watermark passes its event time — dedup is exact within
    # the horizon, which is this operator's contract (global historical
    # dedup is the batch sweep's job).
    return kept.withWatermark(
        "warc_ts", DEDUP_WATERMARK
    ).dropDuplicatesWithinWatermark(["digest"])


def streaming_politeness_admit(
    urls: DataFrame, host_budget: int = 50
) -> DataFrame:
    """Custom stateful streaming operator: per-host admission control via
    ``applyInPandasWithState`` — the Structured-Streaming analog of the
    batch politeness budget (plans/politeness.py).

    Each host carries one state row (urls admitted / dropped so far);
    every micro-batch admits that host's highest-priority URLs (priority
    DESC, url ASC — the engine's total order) until the LIFETIME budget is
    reached, emitting ``admit_seq`` (1-based cumulative rank).  Rows
    beyond the budget are dropped from the stream — a live fetcher's
    hard per-host cap; the batch loop's defer-to-next-round semantics
    remain the crawl loop's job.

    The loss is NEVER silent (the engine's convention — cf. the ngram
    df-cap observation): every emitted row carries ``dropped_total`` (the
    host's lifetime dropped count after this batch), and a micro-batch
    that drops rows while admitting NONE (budget already exhausted) emits
    one ACCOUNTING row — ``url``/``priority``/``admit_seq`` NULL,
    ``dropped_total`` current — so downstream monitoring sees the loss
    the moment it happens.  Fetchers filter ``admit_seq IS NOT NULL``.

    Scale shape: state is two counters per host (the state store shards by
    the group key), each micro-batch shuffles only its own rows, and the
    pandas function sees one host's batch at a time — a hot host costs
    one Arrow batch per trigger, never a global sort.

    State-schema note: the state struct grew ``dropped`` (round 5); Spark's
    state store rejects a checkpoint written under a different state
    schema, so a live query upgrading across that change must restart from
    a fresh checkpoint (or migrate state offline) — the standard
    applyInPandasWithState evolution constraint, called out here because
    this operator's state is cheap to rebuild (replay the frontier stream).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def admit(key, pdfs, state):
        (host,) = key
        admitted, dropped = state.get if state.exists else (0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(
            ["priority", "url"], ascending=[False, True], kind="mergesort"
        )
        take = max(0, host_budget - admitted)
        sel = rows.head(take)
        dropped += len(rows) - len(sel)
        if len(sel):
            yield pd.DataFrame(
                {
                    "host": host,
                    "url": sel["url"].tolist(),
                    "priority": sel["priority"].tolist(),
                    "admit_seq": list(
                        range(admitted + 1, admitted + len(sel) + 1)
                    ),
                    "dropped_total": [dropped] * len(sel),
                }
            )
        elif len(rows):
            # budget exhausted and rows arrived: surface the loss with one
            # accounting row instead of vanishing the batch
            yield pd.DataFrame(
                {
                    "host": [host],
                    "url": [None],
                    "priority": [None],
                    "admit_seq": [None],
                    "dropped_total": [dropped],
                }
            )
        state.update((admitted + len(sel), dropped))

    return urls.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=(
            "host string, url string, priority double, admit_seq int, "
            "dropped_total long"
        ),
        stateStructType="admitted int, dropped long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
