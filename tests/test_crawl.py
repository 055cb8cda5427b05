"""End-to-end crawl parity: distributed engine vs sequential oracle.

The golden-test style of the reference (/root/reference/test/test_warcit.py
— run the whole pipeline on a fixture, assert exact outputs) applied to the
engine's own spec: URL-seen set equality, total crawl-order equality,
record-count parity (resources + revisits), byte-identical extracted text,
and exact resume-after-kill semantics.  Every crawl runs the production
seen layout (url-bucketed, merge-pinned anti-join) at a small bucket count.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests import oracle as seq
from warcit_spark.plans.crawl import CrawlConfig, run_crawl
from warcit_spark.plans.politeness import politeness_prerank
from warcit_spark.plans.state import SEEN_COLS, CrawlState
from warcit_spark.sources.fixture import (
    extract_text_expr,
    generate_pages,
    generate_robots,
    generate_seeds,
)

N_PAGES = 200
CFG = CrawlConfig(host_budget=12, max_rounds=6, n_salt=4, n_lineage_partitions=8)
SEEN_BUCKETS = 8


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    pages = generate_pages(spark, N_PAGES).persist()
    pages.count()
    return pages, generate_seeds(spark), generate_robots(spark)


@pytest.fixture(scope="module")
def oracle_result(spark, fixture_dfs):
    pages, seeds, robots = fixture_dfs
    pages_dict = {
        r.url: {"warc_ts": r.warc_ts, "html": bytes(r.html), "text": r.text, "lang": r.lang}
        for r in pages.collect()
    }
    return seq.crawl(
        pages_dict,
        [(r.url, r.priority) for r in seeds.collect()],
        [tuple(r) for r in robots.collect()],
        host_budget=CFG.host_budget,
        max_rounds=CFG.max_rounds,
    )


@pytest.fixture(scope="module")
def engine_result(spark, fixture_dfs, tmp_path_factory):
    pages, seeds, robots = fixture_dfs
    state = CrawlState(
        str(tmp_path_factory.mktemp("crawl_state")), seen_buckets=SEEN_BUCKETS
    )
    summaries = run_crawl(spark, state, pages, seeds, robots, CFG)
    return state, summaries


def test_seen_set_matches_oracle(spark, engine_result, oracle_result):
    state, _ = engine_result
    seen = state.read_table(spark, "seen")
    got = {
        (r.url, r.round_seen, r.reason)
        for r in seen.select("url", "round_seen", "reason").collect()
    }
    want = {(u, rnd, reason) for u, (rnd, reason) in oracle_result.seen.items()}
    assert got == want


def test_crawl_order_matches_oracle(spark, engine_result, oracle_result):
    state, _ = engine_result
    fetched = state.read_table(spark, "fetched")
    got = [
        (r.round, r.host, r.rank_in_host, r.url)
        for r in fetched.where(F.col("record_type") == "resource")
        .orderBy("round", "host", "rank_in_host")
        .collect()
    ]
    want = sorted(oracle_result.order)
    assert got == want


def test_record_derivation_matches_oracle(spark, engine_result, oracle_result):
    state, _ = engine_result
    fetched = state.read_table(spark, "fetched")
    got = {
        (r.round, r.url, r.record_type, r.content_type, r.fetched, r.reason)
        for r in fetched.collect()
    }
    want = {
        (
            rec["round"],
            rec["url"],
            rec["record_type"],
            rec["content_type"],
            rec["fetched"],
            rec["reason"],
        )
        for rec in oracle_result.records
    }
    assert got == want


def test_revisit_count_semantics(spark, engine_result, oracle_result):
    """Mirrors the reference's '24 resources = 22 files + 2 index revisits'
    count assertions (/root/reference/test/test_warcit.py:43)."""
    state, _ = engine_result
    fetched = state.read_table(spark, "fetched")
    by_type = dict(
        fetched.groupBy("record_type").count().rdd.map(tuple).collect()
    )
    want_revisits = sum(
        1 for rec in oracle_result.records if rec["record_type"] == "revisit"
    )
    assert by_type.get("revisit", 0) == want_revisits
    assert want_revisits > 0  # fixture must actually exercise D1


def test_extracted_text_byte_identical(spark, fixture_dfs):
    """Per-row invariant (BASELINE.json input_hint): engine-extracted text
    == golden text column, byte-for-byte, for every html page."""
    pages, _, _ = fixture_dfs
    html_pages = pages.where(F.col("lang") == "en")
    mismatch = html_pages.where(
        extract_text_expr(F.decode(F.col("html"), "UTF-8")) != F.col("text")
    ).count()
    assert mismatch == 0
    # and against the oracle's independent Python implementation
    sample = html_pages.limit(50).collect()
    for r in sample:
        assert seq.extract_text(bytes(r.html).decode("utf-8")) == r.text


def _marker(state, round_id):
    with open(state._marker_path(round_id)) as fh:
        return json.load(fh)


def test_lineage_counters_consistent(spark, engine_result, oracle_result):
    state, summaries = engine_result
    per_round = {}
    for r in range(len(summaries)):
        rows = _marker(state, r)["lineage"]
        per_round[r] = tuple(
            sum(row[c] for row in rows)
            for c in ("urls_in", "robots_denied", "urls_emitted")
        )
    for s in oracle_result.summaries:
        got = per_round[s["round"]]
        assert got == (s["urls_in"], s["robots_denied"], s["urls_emitted"])


def test_commit_marker_carries_round_lineage(engine_result):
    """Each round's commit marker is its only lineage record: the rows,
    sorted by partition, hold the six counters, satisfy both conservation
    laws and sum to the round's summary; no lineage table is written.  The
    marker also carries the driver seconds of each phase before it."""
    state, summaries = engine_result
    assert len(summaries) >= 2
    counters = ("urls_in", "robots_denied", "urls_emitted", "deferred",
                "links_found", "new_urls")
    for r, summary in enumerate(summaries):
        marker = _marker(state, r)
        assert marker["round"] == r
        rows = marker["lineage"]
        assert [row["partition_id"] for row in rows] == sorted(
            {row["partition_id"] for row in rows}
        )
        for row in rows:
            assert set(row) == {"partition_id", *counters}
            assert row["urls_in"] == (
                row["robots_denied"] + row["urls_emitted"] + row["deferred"]
            )
            assert row["new_urls"] <= row["links_found"]
        total = {c: sum(row[c] for row in rows) for c in counters}
        assert {k: marker[k] for k in summary} == summary
        phase_s = marker["phase_s"]
        assert set(phase_s) == {
            "read", "pre", "ranked", "fetched", "candidates", "new_urls",
            "lineage", "write-fetched", "write-frontier", "write-seen",
        }
        assert all(s >= 0 for s in phase_s.values()), phase_s
        assert summary == {
            "urls_in": total["urls_in"],
            "robots_denied": total["robots_denied"],
            "urls_emitted": total["urls_emitted"],
            "links_found": total["links_found"],
            "new_urls": total["new_urls"],
            "dupes_dropped": total["links_found"] - total["new_urls"],
            "frontier_next": total["deferred"] + total["new_urls"],
        }
    assert not os.path.exists(os.path.join(state.root, "lineage"))


def test_robots_denied_host_never_fetched(spark, engine_result):
    state, _ = engine_result
    fetched = state.read_table(spark, "fetched")
    assert fetched.where(F.col("host") == "www.host3.test").count() == 0
    seen = state.read_table(spark, "seen")
    denied = seen.where(F.col("reason") == "robots")
    assert denied.where(F.col("host") == "www.host3.test").count() > 0


def test_resume_exactly(spark, fixture_dfs, tmp_path_factory, engine_result):
    """Kill-after-round-k resume: partial run + resumed run == one-shot run
    (SURVEY.md §7.3 #4)."""
    pages, seeds, robots = fixture_dfs
    root = str(tmp_path_factory.mktemp("crawl_resume"))

    partial_cfg = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
    state2 = CrawlState(root, seen_buckets=SEEN_BUCKETS)
    run_crawl(spark, state2, pages, seeds, robots, partial_cfg)
    assert state2.committed_round() == 1

    # resume with a fresh state object (new "driver process")
    state3 = CrawlState(root, seen_buckets=SEEN_BUCKETS)
    run_crawl(spark, state3, pages, seeds, robots, CFG)

    state_full, _ = engine_result
    for table in ("seen", "fetched"):
        a = state_full.read_table(spark, table)
        b = state3.read_table(spark, table)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def _seen_rows(spark, state):
    return sorted(
        tuple(r) for r in state.read_table(spark, "seen").select(*SEEN_COLS).collect()
    )


def test_replay_after_crash_before_commit(
    spark, fixture_dfs, tmp_path_factory, engine_result
):
    """A round that dies after its seen append but before its commit
    marker leaves no trace once the crawl resumes: the seen table equals a
    one-shot run's, row for row — also after the catalog entry is dropped
    and the table re-registered from its files, as after a restart."""
    pages, seeds, robots = fixture_dfs
    root = str(tmp_path_factory.mktemp("crawl_replay"))

    class CrashBeforeCommit(CrawlState):
        def commit_round(self, round_id, summary):
            if round_id == 2:
                raise RuntimeError("simulated crash before commit")
            super().commit_round(round_id, summary)

    crashing = CrashBeforeCommit(root, seen_buckets=SEEN_BUCKETS)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_crawl(spark, crashing, pages, seeds, robots, CFG)
    assert crashing.committed_round() == 1

    state = CrawlState(root, seen_buckets=SEEN_BUCKETS)
    run_crawl(spark, state, pages, seeds, robots, CFG)

    want = _seen_rows(spark, engine_result[0])
    got = _seen_rows(spark, state)
    assert len(got) == len(want)
    assert set(got) == set(want)

    # restart: the table is external, so dropping it keeps the files
    spark.sql(f"DROP TABLE {state._seen_table_name()}")
    restarted = CrawlState(root, seen_buckets=SEEN_BUCKETS)
    assert _seen_rows(spark, restarted) == want


def test_state_root_reused_after_delete(spark, fixture_dfs, tmp_path_factory):
    """A state root deleted and reused in one session with another seen
    bucket count crawls afresh: the first state's catalog entry, whose
    files are gone, is dropped instead of appended to.  ``drop`` removes
    the entry and the root."""
    pages, seeds, robots = fixture_dfs
    root = str(tmp_path_factory.mktemp("crawl_reuse"))
    one_round = CrawlConfig(**{**CFG.__dict__, "max_rounds": 1})
    first = CrawlState(root, seen_buckets=4)
    run_crawl(spark, first, pages, seeds, robots, one_round)
    want = _seen_rows(spark, first)
    shutil.rmtree(root)

    second = CrawlState(root, seen_buckets=8)
    run_crawl(spark, second, pages, seeds, robots, one_round)
    assert _seen_rows(spark, second) == want
    name = second._seen_table_name()
    described = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }
    assert described["Num Buckets"] == "8"

    second.drop(spark)
    assert not os.path.exists(root)
    assert not spark.catalog.tableExists(name)


def _shift_urls_in(rows):
    # one url moved between partitions: the round total still balances
    rows[0]["urls_in"] += 1
    rows[1]["urls_in"] -= 1


def _excess_new_urls(rows):
    rows[0]["new_urls"] = rows[0]["links_found"] + 1


@pytest.mark.parametrize("corrupt", [_shift_urls_in, _excess_new_urls])
def test_lineage_law_violation_writes_nothing(
    spark, fixture_dfs, tmp_path_factory, monkeypatch, corrupt
):
    """A lineage row that breaks a conservation law stops the round before
    its first delta write: no round-0 delta and no commit marker."""
    from warcit_spark.plans import crawl

    real = crawl._lineage_single_pass

    def corrupted(*args):
        df = real(*args)
        rows = [r.asDict() for r in df.orderBy("partition_id").collect()]
        corrupt(rows)
        return spark.createDataFrame(rows, df.schema)

    monkeypatch.setattr(crawl, "_lineage_single_pass", corrupted)
    pages, seeds, robots = fixture_dfs
    state = CrawlState(
        str(tmp_path_factory.mktemp("crawl_law")), seen_buckets=SEEN_BUCKETS
    )
    with pytest.raises(RuntimeError, match="lineage law violated"):
        run_crawl(spark, state, pages, seeds, robots, CFG)
    assert state.committed_round() == -1
    assert not os.path.exists(state._marker_path(0))
    assert not os.path.exists(state.delta_path("fetched", 0))
    assert not os.path.exists(state.delta_path("frontier", 1))
    assert not os.path.exists(
        os.path.join(state._seen_location(), "round_seen=0")
    )


def test_deferred_seen_refresh_rejected(spark, tmp_path):
    """The seen append always refreshes the catalog; ``refresh`` survives
    only as a signature that rejects False."""
    state = CrawlState(str(tmp_path), seen_buckets=SEEN_BUCKETS)
    with pytest.raises(ValueError, match="refresh=False"):
        state.write_delta(spark.range(1), "seen", 0, refresh=False)
    assert not os.path.exists(state._seen_location())


def test_crawl_round_runs_on_callers_thread(
    spark, fixture_dfs, tmp_path_factory
):
    """Every Spark job of a round inherits the caller's job group, so no
    round job runs from a thread outside it (a thread pool would leave its
    jobs with no group).  Two rounds: the second scans the seen table."""
    pages, seeds, robots = fixture_dfs
    state = CrawlState(
        str(tmp_path_factory.mktemp("crawl_thread")), seen_buckets=SEEN_BUCKETS
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("crawl-thread-test", "crawl-thread-test")
    try:
        run_crawl(
            spark, state, pages, seeds, robots,
            CrawlConfig(**{**CFG.__dict__, "max_rounds": 2}),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert state.committed_round() == 1
    assert tracker.getJobIdsForGroup("crawl-thread-test")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_crawl_releases_round_checkpoints(spark, fixture_dfs, tmp_path_factory):
    """A round frees its checkpoints' blocks once it commits: after a
    two-round crawl the context holds as many persistent RDDs as before."""
    pages, seeds, robots = fixture_dfs
    state = CrawlState(
        str(tmp_path_factory.mktemp("crawl_release")), seen_buckets=SEEN_BUCKETS
    )
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()
    run_crawl(
        spark, state, pages, seeds, robots,
        CrawlConfig(**{**CFG.__dict__, "max_rounds": 2}),
    )
    assert state.committed_round() == 1
    assert persistent().size() == before


def test_bucketed_seen_parity_and_plan(spark, engine_result):
    """The per-round anti-join scans the url-bucketed seen table (the
    Iceberg bucket(N,url) analog) co-partitioned: Bucketed: true, no
    Exchange on the seen side, and the round filter prunes partitions.
    Result parity of this layout is the oracle tests above."""
    state_b, _ = engine_result

    # plan audit: anti-join against the bucketed seen table has the seen
    # scan Bucketed: true with no Exchange between the scan and the join.
    # (At fixture scale AQE would broadcast the tiny table and hide the
    # bucketing; force the SMJ path the 10^10-row table would take.)
    seen = state_b.read_table(spark, "seen")
    cand = spark.range(50).select(
        F.concat(F.lit("http://probe/"), F.col("id")).alias("url")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = cand.join(seen.select("url"), "url", "left_anti")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
    assert "PartitionFilters: [isnotnull(round_seen" in plan
    # the seen (right) child of the SMJ — every line from its "+-" marker
    # under the join — must scan with no Exchange; the candidate (left)
    # side may exchange freely
    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if "LeftAnti" in ln)
    col = lines[i].index("SortMergeJoin")
    j = next(k for k in range(i + 1, len(lines)) if lines[k][col : col + 2] == "+-")
    seen_side = "\n".join(lines[j:])
    assert "FileScan parquet spark_catalog.default.seen_b_" in seen_side
    assert "Exchange" not in seen_side


def _one_round(spark, fixture_dfs, tmp_path_factory, name, **cfg):
    pages, seeds, robots = fixture_dfs
    state = CrawlState(
        str(tmp_path_factory.mktemp(name)), seen_buckets=SEEN_BUCKETS
    )
    run_crawl(
        spark, state, pages, seeds, robots,
        CrawlConfig(**{**CFG.__dict__, "max_rounds": 1, **cfg}),
    )
    return state, state.read_table(spark, "fetched")


def test_crawl_without_index_files_writes_resources_only(
    spark, fixture_dfs, tmp_path_factory, oracle_result
):
    """``index_files=()`` turns D1 off: round 0 writes exactly the
    oracle's round-0 resources and no revisit."""
    _, fetched = _one_round(
        spark, fixture_dfs, tmp_path_factory, "no_index", index_files=()
    )
    want = {
        (rec["url"], rec["record_type"])
        for rec in oracle_result.records
        if rec["round"] == 0
    }
    assert "revisit" in {t for _, t in want}  # D1 fires in round 0
    got = {(r.url, r.record_type) for r in fetched.collect()}
    assert got == {(u, t) for u, t in want if t == "resource"}


def test_round_records_scan_cached_fetched_once(
    spark, fixture_dfs, tmp_path_factory, monkeypatch
):
    """A round's ``fetched`` write derives resources and index revisits
    from one scan of the checkpointed fetch frame (one explode), not a
    union of two scans of it."""
    plans = {}
    write = CrawlState.write_delta

    def capture(self, df, table, round_id, refresh=True):
        plans[table] = df._jdf.queryExecution().executedPlan().toString()
        write(self, df, table, round_id, refresh)

    monkeypatch.setattr(CrawlState, "write_delta", capture)
    _, fetched = _one_round(spark, fixture_dfs, tmp_path_factory, "one_scan")
    assert fetched.where(F.col("record_type") == "revisit").count() > 0
    # the fetch checkpoint is the only checkpoint with a digest column
    scans = [
        ln for ln in plans["fetched"].splitlines()
        if "Scan ExistingRDD" in ln and "payload_digest" in ln
    ]
    assert len(scans) == 1, scans
    assert plans["fetched"].count("Generate explode") == 1


def test_entry_runs_one_committed_round(spark, monkeypatch):
    """The driver smoke run ``entry(spark)`` is one committed production
    round in a state it deletes: of the 7 seeds, docs3.test is
    robots-denied, docs0.test's index page is fetched (its resource plus
    the directory revisit) and the other 5 are missing from the pages
    table."""
    import __spark_entry__

    commits = []
    commit = CrawlState.commit_round

    def spy(self, round_id, summary):
        commits.append((self.root, round_id))
        commit(self, round_id, summary)

    monkeypatch.setattr(CrawlState, "commit_round", spy)
    rows = __spark_entry__.entry(spark).collect()
    assert [r for _, r in commits] == [0]
    assert not os.path.exists(commits[0][0])
    assert Counter((r.record_type, r.reason) for r in rows) == {
        ("resource", "fetched"): 1,
        ("revisit", "revisit"): 1,
        ("resource", "missing"): 5,
    }
    assert not any(r.host == "docs3.test" for r in rows)
    (revisit,) = [r for r in rows if r.record_type == "revisit"]
    assert revisit.url == "http://docs0.test/dir0/"
    assert revisit.refers_to_target_uri == "http://docs0.test/dir0/index.html"


def test_politeness_two_stage_matches_single_window_twin(spark):
    """Spark politeness_prerank + politeness_rank, chained the way
    crawl_round chains them, == the pure-Python single-window spec twin
    (tests/test_properties.py proves twin == two-stage for arbitrary salts;
    this parity transfers those properties to the Spark operators)."""
    from warcit_spark.plans.politeness import politeness_rank
    from tests.test_properties import _pol_single_window

    rows = []
    delays = {"a.test": 1.0, "b.test": 2.0, "c.test": 0.0}
    pri = [0.0, 0.5, 1.0, 1.0, 2.0]
    for i in range(120):
        host = ["a.test", "b.test", "c.test"][i % 3]
        rows.append(
            (host, f"http://{host}/p{i:03d}", pri[i % 5], delays[host],
             (i % 7) != 0)
        )
    frontier = spark.createDataFrame(
        rows, "host string, url string, priority double, crawl_delay double, allowed boolean"
    )
    pre = politeness_prerank(frontier, host_budget=5, n_salt=4, allowed_col="allowed")
    ranked = politeness_rank(pre.where(F.col("_pre_ok")), host_budget=5)
    got = {
        r.url: r.rank_in_host
        for r in ranked.where(F.col("selected")).collect()
    }
    twin_rows = [
        {"host": h, "url": u, "priority": p, "delay": d, "allowed": a}
        for (h, u, p, d, a) in rows
    ]
    assert got == _pol_single_window(twin_rows, 5)


def test_politeness_prerank_rejects_other_allowed_col(spark):
    with pytest.raises(ValueError, match="allowed_col='ok'"):
        politeness_prerank(spark.range(1), 5, allowed_col="ok")


def test_pagerank_scores_drive_crawl_order(spark, fixture_dfs, tmp_path_factory):
    """Composition the north-star describes: authority scores computed on
    the engine's own link graph feed the frontier as seed priorities, and
    the round-0 per-host fetch order follows them exactly."""
    from warcit_spark.operators.graph import pagerank
    from warcit_spark.operators.links import hrefs_expr, resolve_hrefs
    from warcit_spark.plans.crawl import CrawlConfig, run_crawl
    from warcit_spark.plans.state import CrawlState

    pages, _seeds, robots = fixture_dfs
    edges = resolve_hrefs(
        pages.select("url", hrefs_expr(F.col("html")).alias("_hrefs")), carry=()
    ).select(F.col("url").alias("src"), F.col("link").alias("dst"))
    pr = pagerank(edges, iters=3)

    # every known page seeded with its pagerank as priority
    seeds = pr.select(F.col("node").alias("url"), F.col("rank").alias("priority"))
    state = CrawlState(
        str(tmp_path_factory.mktemp("pr_crawl")), seen_buckets=SEEN_BUCKETS
    )
    cfg = CrawlConfig(max_rounds=1, host_budget=5)
    run_crawl(spark, state, pages, seeds, robots, cfg)

    fetched = spark.read.parquet(f"{state.root}/fetched")
    got = {
        (r.host, r.rank_in_host): r.url
        for r in fetched.select("host", "rank_in_host", "url").collect()
    }
    # the engine canonicalizes seeds and collapses collisions keeping the
    # max priority — replay that collapse for the expected-score lookup
    from warcit_spark.functions.urls import canonicalize_url_expr

    prc = (
        pr.select(canonicalize_url_expr(F.col("node")).alias("url"), "rank")
        .groupBy("url")
        .agg(F.max("rank").alias("rank"))
    )
    ranks = {r.url: r.rank for r in prc.collect()}
    # within every host, fetch order must be non-increasing pagerank.
    # Derived index-alias records (dir/ <-> dir/index.html revisits) ride
    # in the fetched frame with urls that were never seeds — skip those;
    # the check runs over the seeded urls' relative order.
    by_host = {}
    for (host, rk), url in got.items():
        if url in ranks:
            by_host.setdefault(host, []).append((rk, ranks[url]))
    assert sum(len(v) for v in by_host.values()) >= 5, by_host
    for host, lst in by_host.items():
        lst.sort()
        scores = [s for _, s in lst]
        assert scores == sorted(scores, reverse=True), host
