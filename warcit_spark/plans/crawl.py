"""The crawl loop: iterative-batch frontier scheduling over a pages oracle.

One round r (SURVEY.md §3.1 restated for the new engine):

    frontier_r -> robots (broadcast, in-row longest-prefix)
               -> politeness (two flagged frames: salted pre-rank over the
                  full frontier, exact rank over the bounded survivors)
               -> fetch = left-join semantics vs pages ON url (J4, pinned
                  sort-merge; pages side pre-bucketed/cached so only the
                  selection shuffles)
               -> record derivation (resource + index-revisit rows from one
                  pass, D1/A4 — the builder files->WARC shares)
               -> link extraction (JVM regex, D4) -> canonicalize
               -> within-round dedup (groupBy max-priority)
               -> anti-join vs (seen delta UNION deferred), then a
                  merge-pinned anti-join vs the url-bucketed seen table (J5)
               -> frontier_{r+1} = deferred UNION new
    lineage: one action, its conservation laws checked before any write;
    writes, in order on the caller's thread: fetched delta, frontier_{r+1},
    seen delta; then the atomic round-commit marker, which carries the
    round's lineage rows and per-phase seconds (plans/state.py).

Lineage cutting: every frame the round reads more than once (pre-rank,
rank, fetch, candidates, new urls) is an eager ``localCheckpoint``, so each
later plan, AQE re-optimization and task binary starts from a leaf scan of
its blocks instead of the round's whole upstream.  The blocks are released
when the round ends, committed or not, so a long crawl holds at most one
round of them.  A lost block fails the round loudly; ``run_crawl``'s resume
re-runs it (the trade ``operators/graph.py`` makes per iteration).

Crawl-order contract (SURVEY.md §7.3 #1): the engine *defines* the total
order as (round, host ASC, rank_in_host) with rank ordered by (priority
DESC, url ASC).  The sequential oracle (tests/oracle.py) implements the
same spec in plain Python; tests assert set- and order-equality.

Determinism notes: lineage partition ids are ``pmod(xxhash64(host), P)`` —
a *content-defined* partitioning, stable across parallelism levels (unlike
``spark_partition_id()``), so local[8] and local[32] runs produce
comparable lineage for the scaling-efficiency evidence.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcit_spark.functions.mime import (
    DEFAULT_MIME,
    mimetypes_frame,
    with_extension_mime,
)
from warcit_spark.functions.timestamps import iso8601z_expr
from warcit_spark.functions.urls import canonicalize_with_host_expr
from warcit_spark.operators.links import hrefs_expr, resolve_hrefs
from warcit_spark.operators.records import DEFAULT_INDEX_FILES, with_index_revisits
from warcit_spark.operators.robots import apply_robots
from warcit_spark.plans.politeness import politeness_prerank, politeness_rank
from warcit_spark.plans.state import CrawlState

# child priority = parent priority * LINK_DECAY
LINK_DECAY = 0.8


@dataclass
class CrawlConfig:
    host_budget: int = 50          # per-host per-round budget before delay scaling
    max_rounds: int = 20
    n_salt: int = 16               # politeness pre-rank salt slots
    n_lineage_partitions: int = 32
    index_files: tuple[str, ...] = DEFAULT_INDEX_FILES
    # the fetch join is always sort-merge; kept only because existing
    # callers pass broadcast_fetch=False, so True is rejected
    broadcast_fetch: bool = False

    def __post_init__(self) -> None:
        if self.broadcast_fetch:
            raise ValueError("broadcast_fetch=True is not supported")


def canonical_seed_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(url, priority) -> frontier_0: canonicalize, collapse collisions
    keeping the max priority (deterministic agg)."""
    canon = seeds.select(
        canonicalize_with_host_expr(F.col("url")).alias("_cu"),
        F.col("priority").cast("double").alias("priority"),
    ).select("_cu.url", "_cu.host", "priority")
    return (
        canon.groupBy("url", "host")  # host is a pure function of url
        .agg(F.max("priority").alias("priority"))
        .select("url", "host", "priority", F.lit(0).alias("round_added"))
        .where(F.col("host").isNotNull())
    )


def _mime_dim(spark: SparkSession) -> DataFrame:
    return mimetypes_frame(spark)


def derive_fetch_records(
    fetched: DataFrame, mime_dim: DataFrame, index_files: tuple[str, ...]
) -> DataFrame:
    """Fetched pages -> WARC-analog record rows (reference make_record +
    make_index_revisit semantics, warcit/warcit.py:464-566).

    - content_type: extension guess ≻ default text/html (F3 tail of the
      precedence chain; mapfile/override stages apply in files->WARC,
      where those side-inputs exist).
    - payload digest and size: fused upstream into the fetch-join
      projection (A4), so the body is never cached.
    - D1: a fetched url that is an index file also emits its ``revisit``
      row, from the same pass (operators/records.with_index_revisits).
    """
    resources = with_extension_mime(fetched, F.col("url"), mime_dim).select(
        "url",
        "host",
        "priority",
        "rank_in_host",
        F.lit("resource").alias("record_type"),
        F.coalesce(F.col("_mime"), F.lit(DEFAULT_MIME)).alias("content_type"),
        iso8601z_expr(F.col("warc_ts")).alias("warc_date"),
        "payload_digest",
        "size",
        "fetched",
        "reason",
        F.lit(None).cast("string").alias("refers_to_target_uri"),
        F.lit(None).cast("string").alias("refers_to_target_date"),
    )
    return with_index_revisits(
        resources, index_files, eligible=F.col("fetched"), reason=F.lit("revisit")
    )


_LINEAGE_COUNTERS = (
    "urls_in",
    "robots_denied",
    "urls_emitted",
    "deferred",
    "links_found",
    "new_urls",
)


def _lineage_single_pass(
    pre: DataFrame,
    ranked: DataFrame,
    candidates: DataFrame,
    new_urls: DataFrame,
    n_parts: int,
) -> DataFrame:
    """All six lineage counters in ONE aggregation: tag minimal (host,
    counter-increment) projections of the four round frames, union them,
    and groupBy the content-defined partition id.

    This replaces four separate groupBys + three full-outer joins (seven
    shuffle/join stages of driver scheduling per round) with a single
    exchange whose map-side partial aggregation reduces every input task
    to <= n_parts rows — the per-round serial stage-barrier floor shrinks
    while the shuffled volume stays O(n_parts), not O(rows).
    """
    z = F.lit(0)

    def tagged(df: DataFrame, **counters: F.Column) -> DataFrame:
        cols = [
            counters.get(c, z).cast("long").alias(c) for c in _LINEAGE_COUNTERS
        ]
        return df.select(F.col("host"), *cols)

    one = F.lit(1)
    unioned = (
        tagged(
            pre,
            urls_in=one,
            robots_denied=(~F.col("allowed")).cast("int"),
            deferred=(F.col("allowed") & ~F.col("_pre_ok")).cast("int"),
        )
        .unionByName(
            tagged(
                ranked,
                urls_emitted=F.col("selected").cast("int"),
                deferred=(~F.col("selected")).cast("int"),
            )
        )
        .unionByName(tagged(candidates, links_found=F.col("_n")))
        .unionByName(tagged(new_urls, new_urls=one))
    )
    pid = F.pmod(F.xxhash64("host"), F.lit(n_parts)).cast("int")
    return unioned.groupBy(pid.alias("partition_id")).agg(
        *[F.sum(c).alias(c) for c in _LINEAGE_COUNTERS]
    )


def _check_lineage_laws(rows: list) -> None:
    """Raise on any lineage partition row that breaks a conservation law:
    every frontier url is denied, emitted or deferred, and a partition
    cannot gain more new urls than it found links."""
    bad = [
        r.asDict()
        for r in rows
        if r["urls_in"] != r["robots_denied"] + r["urls_emitted"] + r["deferred"]
        or r["new_urls"] > r["links_found"]
    ]
    if bad:
        raise RuntimeError(f"lineage law violated: {bad}")


class _RoundPhases:
    """One round's phase seconds, Spark job labels and checkpointed frames."""

    def __init__(self, spark: SparkSession, round_id: int) -> None:
        self.sc = spark.sparkContext
        self.round_id = round_id
        self.seconds: dict[str, float] = {}
        self.frames: list[DataFrame] = []

    @contextmanager
    def phase(self, name: str):
        """Time a block into ``seconds[name]``; its jobs are described
        ``round<r>:<name>`` and the caller's description is restored (the
        caller's job group is left alone)."""
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"round{self.round_id}:{name}")
        start = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - start
            self.sc.setJobDescription(prev)

    def checkpoint(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize ``df`` now and return it rooted at its blocks."""
        with self.phase(name):
            df = df.localCheckpoint(eager=True)
        self.frames.append(df)
        return df

    def release(self) -> None:
        """Free every checkpoint's blocks; a later read of one of these
        frames fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
        for df in self.frames:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        self.frames.clear()


def crawl_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    robots: DataFrame,
    round_id: int,
    cfg: CrawlConfig,
    mime_dim: DataFrame | None = None,
) -> dict:
    """Run one crawl round and commit it.  Returns the round summary.

    ``mime_dim``: pass a persisted dim from run_crawl so the ~1000-row
    extension table is not re-shipped from the driver every round.

    The commit marker also carries ``phase_s``, the driver seconds of each
    phase up to the marker (the checkpoints, the lineage action, each
    write).  The round's checkpoints are released after the marker, or on
    the way out of a failed round.
    """
    phases = _RoundPhases(spark, round_id)
    try:
        return _crawl_round(
            spark, state, pages, robots, round_id, cfg, mime_dim, phases
        )
    finally:
        phases.release()


def _crawl_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    robots: DataFrame,
    round_id: int,
    cfg: CrawlConfig,
    mime_dim: DataFrame | None,
    phases: _RoundPhases,
) -> dict:
    if mime_dim is None:
        mime_dim = _mime_dim(spark)
    # single-delta read: the round's frontier is one partition directory;
    # unioning history and filtering would grow the analyzed plan (and the
    # driver's serial planning time) linearly with crawl length
    with phases.phase("read"):
        frontier = state.read_round_delta(spark, "frontier", round_id)
        seen_prev = state.read_table(spark, "seen", upto_round=round_id - 1)
    if frontier is None:
        raise RuntimeError(f"no frontier delta for round {round_id}")
    # no count() probe: emptiness falls out of the lineage action below
    # (urls_in == 0) — one fewer driver action per round.  Not
    # checkpointed: its one reader is the pre-rank checkpoint.
    frontier = frontier.select("url", "host", "priority", "round_added")

    # ---- robots + politeness: two flagged frames, no anti-join -------------
    # robots is a broadcast join with in-row rule resolution (no shuffle on
    # the frontier side).  Stage 1 flags salted-pre-rank survivors over the
    # full frontier (hot host fans out across n_salt tasks); stage 2 ranks
    # only the bounded survivor set, so no task ever sorts a hot host's
    # whole backlog.  denied/selected/deferred are narrow filters and a
    # union of these two checkpointed frames.
    with_rules = apply_robots(frontier, robots)
    pre = phases.checkpoint(
        politeness_prerank(with_rules, cfg.host_budget, n_salt=cfg.n_salt), "pre"
    )
    ranked = phases.checkpoint(
        politeness_rank(pre.where(F.col("_pre_ok")), cfg.host_budget), "ranked"
    )
    denied = pre.where(~F.col("allowed"))
    selected = ranked.where(F.col("selected"))
    base_cols = ["url", "host", "priority", "round_added"]
    deferred = (
        pre.where(F.col("allowed") & ~F.col("_pre_ok"))
        .select(*base_cols)
        .unionByName(ranked.where(~F.col("selected")).select(*base_cols))
    )

    # ---- fetch: J4 against the pages oracle --------------------------------
    # left-join semantics (every selected URL yields a row): pages RIGHT
    # OUTER selected.  Column-prune the pages side to what the round
    # consumes (url for the join, warc_ts for dates, html for digests/
    # links): text/lang would ride the join, the checkpoint, and every
    # downstream scan for nothing — at 4M+ cached pages that is gigabytes
    # of memory bandwidth per round.
    #
    # Pin the fetch join to sort-merge: the pages side must NEVER be the
    # broadcast build side.  Parquet/Iceberg-backed corpora report
    # COMPRESSED size to the planner — a 3.2-GiB (decompressed) corpus
    # whose zstd files read 57 MB slips under autoBroadcastJoinThreshold
    # and the planner builds a multi-GiB single-threaded hash relation per
    # round (measured: a parallelism-independent ~180 s stall at every
    # level of the table-corpus scaling pair).  At the design point
    # (100-TB pages table) broadcasting the corpus is never the plan; the
    # hint makes small-file stats incapable of flipping it.
    pages_r = (
        pages.select("url", "warc_ts", "html")
        .withColumnRenamed("url", "_purl")
        .hint("merge")
    )
    # digest + size + raw hrefs are fused into THIS projection so the 8 KiB
    # html body is consumed exactly once, streaming out of the join, and is
    # never materialized: the checkpointed round frame carries the 20-byte
    # digest and the ~1 KiB href array instead of the body.  At CC weight
    # that cuts ~3 full-corpus body copies per round (block write + two
    # consumer reads) — memory-copy bandwidth is the measured scaling
    # ceiling.
    is_fetched = F.col("warc_ts").isNotNull()
    is_linkable = F.col("url").endswith(".html") | ~F.col("url").rlike(
        r"\.[A-Za-z0-9]+$"
    )
    fetched = phases.checkpoint(
        pages_r.join(selected, F.col("_purl") == selected["url"], "right_outer")
        .drop("_purl")
        .select(
            "url",
            "host",
            "priority",
            "rank_in_host",
            "warc_ts",
            F.when(is_fetched, F.sha1(F.col("html"))).alias("payload_digest"),
            F.coalesce(F.length(F.col("html")), F.lit(0))
            .cast("long")
            .alias("size"),
            F.when(is_fetched & is_linkable, hrefs_expr(F.col("html"))).alias(
                "_hrefs"
            ),
            is_fetched.alias("fetched"),
            F.when(is_fetched, F.lit("fetched"))
            .otherwise(F.lit("missing"))
            .alias("reason"),
        ),
        "fetched",
    )

    records = derive_fetch_records(
        fetched.drop("_hrefs"), mime_dim, cfg.index_files
    )

    # ---- link extraction + canonicalization (D4) ---------------------------
    raw_links = resolve_hrefs(
        fetched.where(F.col("_hrefs").isNotNull()), carry=("priority",)
    )
    # Collapse duplicate RAW links first (map-side combined groupBy), then
    # canonicalize only the distinct links: at CC weight ~6x fewer
    # canonicalize evaluations, a ~6x smaller checkpointed candidates frame,
    # and the lineage branch reads distinct rows weighted by ``_n`` (the
    # occurrence count) so every per-host counter is unchanged — all
    # occurrences of one raw link share its host, and max(priority) per
    # canonical url == max over raw-link maxes (associativity; decay > 0
    # commutes with max).  Canonical url + politeness host stay fused in
    # ONE projection: the struct shares the single try_parse_url validity
    # parse between both columns.
    raw_grouped = raw_links.groupBy("link").agg(
        F.max("priority").alias("priority"),
        F.count(F.lit(1)).alias("_n"),
    )
    candidates = phases.checkpoint(
        raw_grouped.select(
            canonicalize_with_host_expr(F.col("link")).alias("_cu"),
            (F.col("priority") * LINK_DECAY).alias("priority"),
            "_n",
        )
        .select("_cu.url", "_cu.host", "priority", "_n")
        .where(F.col("host").isNotNull()),
        "candidates",
    )

    # within-round dedup: deterministic max-priority per url
    deduped = candidates.groupBy("url").agg(
        F.max("priority").alias("priority"), F.first("host").alias("host")
    )

    # ---- seen-set update + anti-joins (J5) ---------------------------------
    seen_delta = (
        selected.select("url", "host")
        .withColumn("reason", F.lit("scheduled"))
        .unionByName(
            denied.select("url", "host").withColumn("reason", F.lit("robots"))
        )
        .withColumn("round_seen", F.lit(round_id))
    )
    # keep the big seen table OUT of any union (a union would destroy its
    # bucketing) and anti-join it separately — the seen scan is
    # co-partitioned (Bucketed: true, zero Exchange on the seen side);
    # only round-sized frames (candidates, this round's delta, deferred)
    # ever shuffle, at O(delta), never O(|seen|).  This is what survives
    # 10^10 URLs.
    round_sized = seen_delta.select("url").unionByName(deferred.select("url"))
    survivors = deduped.join(round_sized, on="url", how="left_anti")
    if seen_prev is not None:
        # merge-pin: the seen side must NEVER be the broadcast build side
        # — the same compressed-stats hazard as the fetch join (parquet
        # FileScans report zstd/snappy bytes, so a multi-hundred-MB
        # decompressed seen set slips under autoBroadcastJoinThreshold and
        # every round pays an O(|seen|) single-threaded broadcast build
        # that only grows).  Pinned to sort-merge the join uses the
        # bucketed layout (Bucketed: true, zero Exchange on the seen side)
        # and was ALSO measured faster locally at 2.4M seen rows (1.3s vs
        # 1.9s broadcast).
        survivors = survivors.join(
            seen_prev.select("url").hint("merge"), on="url", how="left_anti"
        )
    new_urls = phases.checkpoint(
        survivors.select(
            "url", "host", "priority", F.lit(round_id + 1).alias("round_added")
        ),
        "new_urls",
    )
    next_frontier = deferred.select(
        "url", "host", "priority", "round_added"
    ).unionByName(new_urls)

    # ---- lineage (content-defined partitions, stable across cluster sizes) -
    # all six counters in one tagged-union aggregation: one exchange of
    # <= n_parts rows per input task instead of four groupBys + three joins
    lineage = _lineage_single_pass(
        pre, ranked, candidates, new_urls, cfg.n_lineage_partitions
    )

    # ---- lineage action, law check, then writes in order (marker last) ---
    # collect order is not deterministic; the marker lists partitions sorted
    with phases.phase("lineage"):
        lin_rows = sorted(lineage.collect(), key=lambda r: r["partition_id"])
    _check_lineage_laws(lin_rows)

    def _sum(col: str) -> int:
        return int(sum(r[col] for r in lin_rows))

    n_links, n_new = _sum("links_found"), _sum("new_urls")
    summary = {
        "urls_in": _sum("urls_in"),
        "robots_denied": _sum("robots_denied"),
        "urls_emitted": _sum("urls_emitted"),
        "links_found": n_links,
        "new_urls": n_new,
        "dupes_dropped": n_links - n_new,
        "frontier_next": _sum("deferred") + n_new,
    }
    with phases.phase("write-fetched"):
        state.write_delta(records, "fetched", round_id)
    with phases.phase("write-frontier"):
        state.write_delta(next_frontier, "frontier", round_id + 1)
    with phases.phase("write-seen"):
        state.write_delta(seen_delta, "seen", round_id)
    state.commit_round(
        round_id,
        {
            **summary,
            "lineage": [r.asDict() for r in lin_rows],
            "phase_s": phases.seconds,
        },
    )
    return summary


def run_crawl(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig | None = None,
) -> list[dict]:
    """Run (or resume) a crawl to completion.  Resume semantics: rounds are
    atomic; any uncommitted debris is dropped and the round re-runs
    idempotently (SURVEY.md §7.3 #4)."""
    cfg = cfg or CrawlConfig()
    state.drop_uncommitted()
    start_round = state.committed_round() + 1
    if start_round == 0:
        state.write_delta(canonical_seed_frontier(seeds), "frontier", 0)

    mime_dim = _mime_dim(spark).persist()
    summaries = []
    try:
        for r in range(start_round, cfg.max_rounds):
            summary = crawl_round(spark, state, pages, robots, r, cfg, mime_dim)
            summaries.append(summary)
            if summary.get("frontier_next", 0) == 0:
                break
    finally:
        mime_dim.unpersist()
    return summaries
