"""The benchmark workloads.

Each workload sets up its inputs ``SETUP_REPS`` times (set-up time is the
median), runs a fixed number of timed operations, checks every operation's
output, and in traced mode times isolated calls into the layers it
exercises.  A timed operation is a crawl round, or one ``warcit_run`` over
a site tree followed by one pass of the headline queries.  Failures are
counted per item: a round, an input file or a query.  An item whose call
raises — including an Arrow UDF whose Python worker cannot import
``warcit_spark`` — or fails a check is failed, not a crash.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.stats import TooFewSamples, median, percentile
from perfbench.tracing import TracedCrawlState, Tracer

SETUP_REPS = 3

# crawl_frontier: a light corpus ~10x one round's selection; the fixture's
# hot host holds ~60% of the seeds, so a tight per-host budget defers most
# of the frontier every round
CRAWL_PAGES = 12_000
CRAWL_HOSTS = 64
CRAWL_SEEDS = 3_000
CRAWL_HOST_BUDGET = 20
CRAWL_N_SALT = 16
CRAWL_SEEN_BUCKETS = 16
CORPUS_PARTITIONS = 16
CRAWL_ROUND_NOMINAL_S = 6.0

# warcit_queries: one operation is warcit_run over a fresh seeded site
# tree followed by one pass of bench.HEADLINE at QUERY_SF
BATCH_NOMINAL_S = 18.0
SITE_FILES = 200
SITE_FILE_BYTES = 8 * 1024
SITE_PREFIX = "http://example.com/"
SITE_DIGEST_SAMPLE = 50
QUERY_SF = 0.01
QUERY_DATA_VERSION = "v1"

STATE_TABLES = ("seen", "fetched", "frontier", "lineage")

# per-round counts of crawl_frontier, by seed, recorded from earlier runs
EXPECTED_ROUNDS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "expected", "crawl_frontier.json"
)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    work: str    # per-run scratch directory, removed when the run ends
    cache: str   # per-checkout directory kept across runs
    attempted: int = 0
    failed: int = 0
    op_wall: float = 0.0  # summed wall time of the timed operations
    started: float = field(default_factory=time.perf_counter)
    jvm_pid: int | None = None  # root of the process tree whose CPU is counted
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)     # name -> (value, unit)
    layer: dict = field(default_factory=dict)   # name -> (value, unit)
    report: dict = field(default_factory=dict)  # workload-named metrics
    notes: list = field(default_factory=list)   # printed with the report

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)

    def log(self, what: str) -> None:
        t = time.perf_counter() - self.started
        print(f"perfbench: {t:7.2f}s {what}", file=sys.stderr)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and its Python workers."""
        return process_tree_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0

    def n_ops(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))


def _walls_note(walls: list[float]) -> str:
    return "op walls (s): " + ", ".join(f"{w:.3f}" for w in walls)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _tree_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and marker files skipped."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def process_tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and every live descendant,
    each with its reaped children (so Python workers that exited count)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[1] is ppid; utime, stime, cutime, cstime are fields[11:15]
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
    os.replace(tmp, path)


def _rounds_as_expected(ctx: Ctx, summaries: list[dict]) -> bool:
    """True if the per-round counts equal those in EXPECTED_ROUNDS for
    this seed; rounds past the recorded ones are not compared.  A seed
    with no entry there is compared with the first run of it in this
    checkout instead (that run records its counts)."""
    with open(EXPECTED_ROUNDS) as fh:
        recorded = json.load(fh).get(str(ctx.seed))
    if recorded is None:
        path = os.path.join(ctx.cache, "expect", f"crawl_frontier-seed{ctx.seed}.json")
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            _write_json(path, summaries)
            return True
        with open(path) as fh:
            recorded = json.load(fh)
    n = min(len(recorded), len(summaries))
    return summaries[:n] == recorded[:n]


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# ----------------------------------------------------------------- crawl
def _cache_corpus(spark, tr):
    """The light pages corpus, url-partitioned and cached (the in-memory
    analog of a url-bucketed pages table); returns (frame, rows)."""
    from warcit_spark.sources.fixture import generate_pages

    with tr.span("fixture.gen", group="setup"):
        pages = (
            generate_pages(spark, CRAWL_PAGES, n_hosts=CRAWL_HOSTS)
            .select("url", "warc_ts", "html")
            .repartition(CORPUS_PARTITIONS, "url")
            .sortWithinPartitions("url")
            .persist()
        )
        return pages, pages.count()


def _seed_state(spark, state, seed_rows):
    """Write the seed frontier into ``state``; returns the cached MIME
    dimension the rounds join against."""
    from warcit_spark.plans.crawl import _mime_dim, canonical_seed_frontier

    seeds = spark.createDataFrame(seed_rows, "url string, priority double")
    state.write_delta(canonical_seed_frontier(seeds), "frontier", 0)
    md = _mime_dim(spark).persist()
    md.count()
    return md


def crawl_frontier(ctx: Ctx) -> None:
    from warcit_spark.plans.crawl import CrawlConfig, crawl_round
    from warcit_spark.plans.state import CrawlState
    from warcit_spark.sources.fixture import generate_robots

    spark, tr = ctx.spark, ctx.tracer
    robots = generate_robots(spark)
    cfg = CrawlConfig(host_budget=CRAWL_HOST_BUDGET, n_salt=CRAWL_N_SALT)

    def new_state(i: int) -> CrawlState:
        root = os.path.join(ctx.work, f"state{i}")
        if tr.enabled:
            st = TracedCrawlState(root, seen_buckets=CRAWL_SEEN_BUCKETS)
            st.tracer = tr
            return st
        return CrawlState(root, seen_buckets=CRAWL_SEEN_BUCKETS)

    # set-up: cache the pages corpus once (the fixture is the crawl's
    # input table), then build a fresh crawl state with the seed frontier
    # and the MIME dimension SETUP_REPS times; the last one is crawled
    (pages, n_corpus), gen_s = timed(lambda: _cache_corpus(spark, tr))
    ctx.log("corpus cached")
    urls = [r.url for r in pages.select("url").collect()]
    seed_rows = inputs.crawl_seeds(urls, ctx.seed, CRAWL_SEEDS)
    md = state = None
    setups = []
    for i in range(SETUP_REPS):
        if md is not None:
            md.unpersist(blocking=True)
        state = new_state(i)
        with tr.span("crawl.seed_frontier", group="setup"):
            md, s = timed(lambda: _seed_state(spark, state, seed_rows))
        setups.append(s)
    ctx.layer["fixture.gen_s"] = (gen_s, "s")
    ctx.layer["fixture.cached_mb"] = (_cached_mb(spark), "MB")

    ctx.log("set-up done")
    n_rounds = ctx.n_ops(CRAWL_ROUND_NOMINAL_S)
    walls, cpus, summaries = [], [], []
    table_bytes = dict.fromkeys(STATE_TABLES, 0)
    table_files = dict.fromkeys(STATE_TABLES, 0)

    def table_dir(t: str) -> str:
        sub = "seen_bucketed" if t == "seen" else t
        return os.path.join(state.root, sub)

    for r in range(n_rounds):
        ctx.attempted += 1
        before = {t: _tree_stats(table_dir(t)) for t in STATE_TABLES}
        cpu0 = ctx.cpu_s()
        try:
            with tr.span("crawl.round", group="op", round=r):
                s, wall = timed(
                    lambda: crawl_round(spark, state, pages, robots, r, cfg, md)
                )
        except Exception:
            ctx.fail(f"round {r}: {traceback.format_exc(limit=3)}")
            ctx.attempted += n_rounds - r - 1
            ctx.failed += n_rounds - r - 1
            break
        walls.append(wall)
        cpus.append(ctx.cpu_s() - cpu0)
        for t in STATE_TABLES:
            b, f = _tree_stats(table_dir(t))
            table_bytes[t] += b - before[t][0]
            table_files[t] += f - before[t][1]
        deferred = s["frontier_next"] - s["new_urls"]
        if s["urls_in"] != s["robots_denied"] + s["urls_emitted"] + deferred:
            ctx.fail(f"round {r}: lineage not conserved: {s}")
        summaries.append({**s, "deferred": deferred})
    ctx.log("rounds done")
    if summaries and not _rounds_as_expected(ctx, summaries):
        ctx.fail(f"per-round counts differ from the recorded ones of seed {ctx.seed}")

    emitted = sum(s["urls_emitted"] for s in summaries)
    round_time = ctx.op_wall = sum(walls)
    setup_s = gen_s + median(setups)
    ctx.e2e["setup_s"] = (setup_s, "s")
    if walls:
        ctx.e2e["op_s_p50"] = (median(walls), "s")
        ctx.e2e["op_cpu_s"] = (median(cpus), "s")
        ctx.report["urls_per_sec"] = ctx.layer["crawl.urls_per_sec"] = (
            emitted / round_time, "1/s",
        )
        ctx.report["round_s_p50"] = (median(walls), "s")
        ctx.report["round_samples"] = (len(walls), "count")
        ctx.notes.append(_walls_note(walls))
        try:
            ctx.report["round_s_p90"] = (percentile(walls, 90), "s")
        except TooFewSamples as e:
            ctx.notes.append(f"round_s_p90 not reported: {e}")
        ctx.report["state_bytes_per_url"] = (
            sum(table_bytes.values()) / max(emitted, 1), "B",
        )
    ctx.report["setup_s"] = (setup_s, "s")

    def total(k: str) -> int:
        return sum(s[k] for s in summaries)

    L = ctx.layer
    L["crawl.round_s"] = (median(walls) if walls else 0.0, "s")
    L["crawl.rounds"] = (len(walls), "count")
    for k in ("urls_in", "robots_denied", "urls_emitted", "deferred",
              "links_found", "new_urls"):
        L[f"crawl.{k}"] = (total(k), "count")
    L["crawl.emit_ratio"] = (emitted / max(total("urls_in"), 1), "ratio")
    L["crawl.new_link_ratio"] = (
        total("new_urls") / max(total("links_found"), 1), "ratio"
    )
    L["crawl.fetch_selectivity"] = (emitted / max(len(walls) * n_corpus, 1), "ratio")
    L["crawl.state_bytes_per_url"] = (
        sum(table_bytes.values()) / max(emitted, 1), "B",
    )
    for t in STATE_TABLES:
        L[f"state.bytes.{t}"] = (table_bytes[t], "B")
        L[f"state.files.{t}"] = (table_files[t], "count")

    if tr.enabled and summaries:
        _crawl_layer_probes(ctx, state, pages, robots, cfg, len(summaries) - 1)
    pages.unpersist()
    md.unpersist()


def _crawl_layer_probes(ctx, state, pages, robots, cfg, last: int) -> None:
    """Isolated, noop-forced calls into the politeness, links and urls
    layers on the deltas the last timed round committed to disk."""
    from pyspark.sql import functions as F

    from warcit_spark.functions.urls import canonicalize_with_host_expr
    from warcit_spark.operators.links import hrefs_expr, resolve_hrefs
    from warcit_spark.operators.robots import apply_robots
    from warcit_spark.plans.politeness import politeness_prerank, politeness_rank

    spark, tr, L = ctx.spark, ctx.tracer, ctx.layer
    frontier = state.read_round_delta(spark, "frontier", last)
    with tr.span("politeness.prerank", group="probe"):
        pre = politeness_prerank(
            apply_robots(frontier, robots), cfg.host_budget,
            n_salt=cfg.n_salt, allowed_col="allowed",
        ).persist()
        force(pre)
    with tr.span("politeness.rank", group="probe"):
        force(politeness_rank(pre.where(F.col("_pre_ok")), cfg.host_budget))
    c = pre.agg(
        F.sum(F.col("_pre_ok").cast("long")).alias("ok"),
        F.sum(F.col("allowed").cast("long")).alias("allowed"),
    ).first()
    pre.unpersist()

    fetched = (
        state.read_round_delta(spark, "fetched", last)
        .where((F.col("record_type") == "resource") & F.col("fetched"))
        .select("url")
    )
    bodies = pages.join(fetched, on="url", how="inner").select(
        "url", hrefs_expr(F.col("html")).alias("_hrefs")
    ).persist()
    n_pages = bodies.count()
    with tr.span("links.extract", group="probe"):
        links = resolve_hrefs(bodies, carry=()).persist()
        force(links)
    n_links = links.count()
    with tr.span("urls.canonicalize", group="probe"):
        canon = links.select(
            canonicalize_with_host_expr(F.col("link")).alias("_cu")
        ).select("_cu.url", "_cu.host").persist()
        force(canon)
    n_distinct = canon.select("url").distinct().count()
    for df in (bodies, links, canon):
        df.unpersist()

    def one(name: str) -> float:
        return median(tr.seconds(name))

    L["politeness.prerank_s"] = (one("politeness.prerank"), "s")
    L["politeness.rank_s"] = (one("politeness.rank"), "s")
    L["politeness.survivor_ratio"] = ((c.ok or 0) / max(c.allowed or 0, 1), "ratio")
    L["links.extract_s"] = (one("links.extract"), "s")
    L["links.per_page"] = (n_links / max(n_pages, 1), "ratio")
    L["urls.canonicalize_s"] = (one("urls.canonicalize"), "s")
    L["urls.distinct_ratio"] = (n_distinct / max(n_links, 1), "ratio")


# ---------------------------------------------------------------- warcit
def _site_url(rel: str) -> str:
    """The URL warcit gives a relative path (reference base.py:104-111)."""
    p = rel.replace("\\", "/").strip("./")
    for ch in inputs.ENCODE_CHARS:
        p = p.replace(ch, "%%%x" % ord(ch))
    return SITE_PREFIX + p


def _sha1_b32(data: bytes) -> str:
    return "sha1:" + base64.b32encode(hashlib.sha1(data).digest()).decode()


def _check_warc(site: str, rels: list[str], out: str, rnd) -> dict:
    """Read the parts back; returns record counts, fails the op on error."""
    from warcit_spark.sinks.warc import read_warc_records

    parts = sorted(n for n in os.listdir(out) if n.startswith("part-"))
    by_uri: dict[str, dict] = {}
    n_res = n_rev = 0
    for name in parts:
        for rec in read_warc_records(os.path.join(out, name)):
            h = rec["headers"]
            kind = h.get("WARC-Type")
            if kind == "resource":
                n_res += 1
                by_uri[h["WARC-Target-URI"]] = h
            elif kind == "revisit":
                n_rev += 1
    n_index = sum(os.path.basename(r) in ("index.html", "index.htm") for r in rels)
    problems = []
    if (n_res, n_rev) != (len(rels), n_index):
        problems.append(
            f"records {n_res}+{n_rev}, expected {len(rels)}+{n_index}"
        )
    for rel in rnd.sample(rels, min(SITE_DIGEST_SAMPLE, len(rels))):
        with open(os.path.join(site, rel), "rb") as fh:
            want = _sha1_b32(fh.read())
        got = by_uri.get(_site_url(rel), {}).get("WARC-Payload-Digest")
        if got != want:
            problems.append(f"{rel}: digest {got} != {want}")
            break
    return {"resources": n_res, "revisits": n_rev, "parts": len(parts),
            "problems": problems}


def _warcit_op(ctx: Ctx, k: int, site: str, rels: list[str], rnd) -> dict | None:
    """One timed warcit_run over a site tree, read back and checked."""
    from warcit_spark.plans.warcit_pipeline import warcit_run

    out = os.path.join(ctx.work, f"out{k}")
    ctx.attempted += len(rels)
    try:
        with ctx.tracer.span("warcit.run", group="op", files=len(rels)):
            manifest, wall = timed(
                lambda: warcit_run(ctx.spark, site, SITE_PREFIX, out).collect()
            )
    except Exception:
        ctx.fail(f"warcit_run {k}: {traceback.format_exc(limit=3)}", len(rels))
        return None
    ctx.log(f"warcit_run {k} done")
    chk = _check_warc(site, rels, out, rnd)
    if chk["problems"]:
        ctx.fail(f"warcit_run {k}: {chk['problems'][:3]}", len(rels))
    return {
        **chk, "wall": wall, "files": len(rels),
        "in_bytes": _tree_stats(site)[0],
        "out_bytes": sum(r["bytes"] for r in manifest),
    }


def _warcit_layer_probes(ctx, site: str) -> None:
    """Isolated, noop-forced calls into the scan, records and sink layers
    over the last timed run's site tree."""
    from warcit_spark.plans.warcit_pipeline import files_to_warc_records
    from warcit_spark.sinks.warc import write_warc_files
    from warcit_spark.sources.binary_files import scan_input

    spark, tr, L = ctx.spark, ctx.tracer, ctx.layer
    with tr.span("binary_files.scan", group="probe"):
        force(scan_input(spark, site, SITE_PREFIX))
    with tr.span("warcit.records", group="probe"):
        records = files_to_warc_records(spark, site, SITE_PREFIX).persist()
        force(records)
    out = os.path.join(ctx.work, "probe_out")
    with tr.span("warc.sink", group="probe"):
        write_warc_files(records, out).collect()
    records.unpersist()
    L["binary_files.scan_s"] = (median(tr.seconds("binary_files.scan")), "s")
    L["warcit.records_s"] = (median(tr.seconds("warcit.records")), "s")
    L["warc.sink_s"] = (median(tr.seconds("warc.sink")), "s")


# ----------------------------------------------------------------- query
def _query_data(ctx: Ctx) -> str:
    """Generate the query tables once per checkout (deterministic)."""
    d = os.path.join(ctx.cache, f"query-sf{QUERY_SF}-{QUERY_DATA_VERSION}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        inputs.make_query_tables(d + ".tmp", QUERY_SF)
        os.replace(d + ".tmp", d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def _oracle_frames(sf_dir: str, names: list[str]) -> dict:
    """{query: (sorted column names, row count, canonical hash)} from DuckDB."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from tools.check_correctness import TABLES, frame_hash

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = entrymod.oracle_sql()
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        rows = [
            tuple(None if v is pd.NaT else v for v in row)
            for row in res.df().itertuples(index=False, name=None)
        ]
        out[name] = (sorted(cols), len(rows), frame_hash(rows, cols)[0])
    con.close()
    return out


def _query_pass(ctx: Ctx, names, qs, sf_dir, oracle, per_query) -> float:
    """One timed pass over the queries; every result is collected and
    checked (row count and check_correctness's order-insensitive hash)
    against the DuckDB oracle, so it is also the same on every run."""
    from tools.check_correctness import frame_hash

    pass_s = 0.0
    for name in names:
        ctx.attempted += 1
        try:
            with ctx.tracer.span(f"query.{name}", group="op"):
                t0 = time.perf_counter()
                sdf = qs[name](ctx.spark, sf_dir)
                rows = [tuple(r) for r in sdf.collect()]
                s = time.perf_counter() - t0
        except Exception:
            ctx.fail(f"{name}: {traceback.format_exc(limit=3)}")
            continue
        per_query[name].append(s)
        pass_s += s
        got = (sorted(sdf.columns), len(rows), frame_hash(rows, sdf.columns)[0])
        if got != oracle[name]:
            ctx.fail(f"{name}: spark {got[:2]} != oracle {oracle[name][:2]}")
    ctx.log("query pass done")
    return pass_s


def warcit_queries(ctx: Ctx) -> None:
    """One operation: warcit_run over a fresh seeded site tree, then one
    pass of the headline queries in seed-permuted order."""
    import bench
    import __spark_entry__ as entrymod
    from warcit_spark.plans.warcit_pipeline import files_to_warc_records

    spark, tr = ctx.spark, ctx.tracer
    rnd = random.Random(ctx.seed)
    names = list(bench.HEADLINE)
    rnd.shuffle(names)
    qs = entrymod.queries()
    sf_dir = _query_data(ctx)
    n_ops = ctx.n_ops(BATCH_NOMINAL_S)
    trees = []
    for k in range(n_ops):
        site = os.path.join(ctx.work, f"site{k}")
        seed = ctx.seed * 1000 + k
        trees.append((site, inputs.make_site(site, seed, SITE_FILES, SITE_FILE_BYTES)))
    oracle = _oracle_frames(sf_dir, names)

    # set-up: plan the records DAG over the first tree (binaryFile lists
    # the files; the MIME/charset plan is analysed) and read the query
    # tables' schemas; no Spark job computes data
    def plan_inputs():
        files_to_warc_records(spark, trees[0][0], SITE_PREFIX).schema
        for t in inputs.QUERY_TABLES:
            spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).schema

    setups = []
    for _ in range(SETUP_REPS):
        with tr.span("batch.setup", group="setup"):
            _, s = timed(plan_inputs)
        setups.append(s)
    ctx.log("set-up done")

    walls, cpus, runs, passes = [], [], [], []
    per_query = {n: [] for n in names}
    for k, (site, rels) in enumerate(trees):
        failed, cpu0 = ctx.failed, ctx.cpu_s()
        run = _warcit_op(ctx, k, site, rels, rnd)
        pass_s = _query_pass(ctx, names, qs, sf_dir, oracle, per_query)
        if run is not None:
            runs.append(run)
            if ctx.failed == failed:
                walls.append(run["wall"] + pass_s)
                cpus.append(ctx.cpu_s() - cpu0)
        passes.append(pass_s)

    setup_s = median(setups)
    ctx.e2e["setup_s"] = (setup_s, "s")
    ctx.op_wall = sum(r["wall"] for r in runs) + sum(passes)
    if walls:
        ctx.e2e["op_s_p50"] = (median(walls), "s")
        ctx.e2e["op_cpu_s"] = (median(cpus), "s")
        ctx.notes.append(_walls_note(walls))
    R, L = ctx.report, ctx.layer
    R["setup_s"] = (setup_s, "s")
    suite_s = median(passes)
    R["suite_s"] = L["query.suite_s"] = (suite_s, "s")
    for name in bench.HEADLINE:
        vals = per_query[name]
        L[f"query.{name}.s"] = (median(vals) if vals else 0.0, "s")
    if not runs:
        return
    files = sum(r["files"] for r in runs)
    run_s = sum(r["wall"] for r in runs)
    in_bytes = sum(r["in_bytes"] for r in runs)
    ratio = sum(r["out_bytes"] for r in runs) / in_bytes
    R["files_per_sec"] = L["warcit.files_per_sec"] = (files / run_s, "1/s")
    R["warc_bytes_per_input_byte"] = (ratio, "ratio")
    L["warcit.warc_bytes_per_input_byte"] = (ratio, "ratio")
    L["warcit.run_s"] = (median([r["wall"] for r in runs]), "s")
    last = runs[-1]
    L["warcit.resources"] = (last["resources"], "count")
    L["warcit.revisits"] = (last["revisits"], "count")
    L["warc.out_mb"] = (last["out_bytes"] / 2**20, "MB")
    L["warc.parts"] = (last["parts"], "count")
    L["binary_files.in_mb"] = (last["in_bytes"] / 2**20, "MB")
    if tr.enabled:
        _warcit_layer_probes(ctx, trees[len(runs) - 1][0])


WORKLOADS = {
    "crawl_frontier": crawl_frontier,
    "warcit_queries": warcit_queries,
}
