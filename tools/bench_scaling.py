"""Two-parallelism-level scaling evidence (BASELINE.md sandbox protocol v2).

Runs the SAME deterministic crawl at two core counts (N -> 4N cores, the
sandbox stand-in for N -> 4N executors) and reports throughput at both plus
scaling efficiency.

Protocol v2 (fixes the v1 pitfalls measured in round 1):
- **pairwise per-round ratios**: both levels execute identical inputs, so
  round k is the same work at both; efficiency_k = wall_lo_k / wall_hi_k /
  (hi/lo).  This removes the frontier-drain distortion (later rounds are
  smaller) that average-throughput ratios suffer from.
- **steady state starts at round 2**: round 0 pays JVM/codegen warmup and
  round 1 compiles the first seen-anti-join plan shape; both are excluded.
- **interleaved repeats, min-of-repeats**: children run lo,hi,lo,hi...;
  per-round wall = min across repeats (the estimator least distorted by
  page-cache/CPU-frequency interference — observed run-to-run variance on
  this box is +-40%).  Efficiency = median over steady rounds of the
  pairwise ratios of those minima.
- identical plan at both levels: shuffle_partitions pinned to 64; only the
  core count differs.  Pages pre-hash-partitioned+sorted by url and cached
  (in-memory analog of a url-bucketed Iceberg table); seen is the
  Hive-bucketed table (CrawlState(seen_buckets=64)) so the anti-join never
  exchanges the seen side and the plan size is constant in crawl length.
- state tables and spark local dirs on tmpfs: one box has ONE disk while
  N->4N executors scale disks with cores.

Usage: python tools/bench_scaling.py [--quick]   (writes BENCH/SCALING.json)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import time, tempfile, shutil, json, sys
sys.path.insert(0, {repo!r})
from warcit_spark import get_spark
from warcit_spark.plans.crawl import (
    CrawlConfig, crawl_round, canonical_seed_frontier, _mime_dim)
from warcit_spark.plans.state import CrawlState
from warcit_spark.sources.fixture import (
    generate_pages, generate_robots, generate_seed_sample)

cpus = {cpus}
spark = get_spark("scaling-bench", master=f"local[{{cpus}}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
pages_src = (generate_pages(spark, {n_pages}, n_hosts={n_hosts},
                            body_kb={body_kb}, extra_links={extra_links})
             .select("url", "warc_ts", "html"))
if {pages_backend!r} == "table":
    # the design-point corpus shape: a url-bucketed, url-sorted parquet
    # TABLE on tmpfs (single-box analog of the Iceberg pages table a real
    # deployment scans) — a 100-TB corpus is never heap-cached.  The fetch
    # SMJ reads it Bucketed (zero pages-side exchange, no sort); per-round
    # corpus reads are snappy-parquet decode (CPU, scales with cores)
    # instead of heap columnar-cache copies (memory bus + GC, which the
    # BW_CEILING probe shows is the box's non-scaling resource).
    corpus_dir = tempfile.mkdtemp(prefix="pagescorpus_", dir={state_dir!r})
    (pages_src.repartition(64, "url")
     .write.format("parquet").bucketBy(64, "url").sortBy("url")
     .option("path", corpus_dir + "/pages")
     .mode("overwrite").saveAsTable("pages_corpus"))
    pages = spark.table("pages_corpus").select("url", "warc_ts", "html")
else:
    # in-memory analog of the bucketed table (round-over-round continuity
    # with the v2/v3 runs recorded in SCALING.json)
    corpus_dir = None
    pages = (pages_src
             .repartition(64, "url").sortWithinPartitions("url").persist())
    pages.count()
md = _mime_dim(spark).persist(); md.count()
robots = generate_robots(spark)
cfg = CrawlConfig(host_budget={budget}, max_rounds={rounds}, n_salt=16)

# JIT/codegen/HEAP warmup OUTSIDE the measurement: a throwaway 2-round
# crawl at FULL seed size compiles both plan shapes (round 0: no seen
# table; round 1+: bucketed-seen anti-join) AND forces the first big-round
# heap expansion (G1 grows the heap 2-4x on the first full-size shuffle
# burst — measured to inflate that round disproportionately at the higher
# parallelism level).  A 10^10-URL production frontier is always in steady
# state; the cold-heap first round is a microbenchmark artifact, so it is
# excluded at BOTH levels identically.
wroot = tempfile.mkdtemp(prefix="scalewarm_", dir={state_dir!r})
wstate = CrawlState(wroot, seen_buckets=64)
wstate.write_delta(canonical_seed_frontier(
    generate_seed_sample(spark, {n_pages}, {n_seeds}, {n_hosts})), "frontier", 0)
for r in range(2):
    crawl_round(spark, wstate, pages, robots, r, cfg, md)
shutil.rmtree(wroot, ignore_errors=True)

root = tempfile.mkdtemp(prefix="scalebench_", dir={state_dir!r})
try:
    state = CrawlState(root, seen_buckets=64)
    state.write_delta(canonical_seed_frontier(
        generate_seed_sample(spark, {n_pages}, {n_seeds}, {n_hosts})), "frontier", 0)
    times, emitted = [], []
    for r in range({rounds}):
        t0 = time.perf_counter()
        s = crawl_round(spark, state, pages, robots, r, cfg, md)
        times.append(round(time.perf_counter() - t0, 2))
        emitted.append(s["urls_emitted"])
    print("RESULT " + json.dumps({{
        "cpus": cpus, "round_sec": times, "round_urls": emitted}}))
finally:
    shutil.rmtree(root, ignore_errors=True)
    if corpus_dir:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    spark.stop()
"""

STATE_DIR = "/dev/shm" if os.path.isdir("/dev/shm") else None

# JVM/codegen warmup happens in a throwaway pre-crawl inside the child, so
# every measured round is steady-state; rounds are measured from 0 (the
# largest rounds, before the finite fixture frontier drains)
WARMUP_ROUNDS = 0


def run_level(cpus, n_pages, n_seeds, budget, n_hosts, rounds,
              body_kb=0, extra_links=0, heap=None,
              pages_backend="cache") -> dict:
    code = CHILD.format(
        repo=REPO, cpus=cpus, n_pages=n_pages, n_seeds=n_seeds,
        budget=budget, n_hosts=n_hosts, rounds=rounds,
        body_kb=body_kb, extra_links=extra_links,
        state_dir=STATE_DIR or "/tmp",
        pages_backend=pages_backend,
    )
    env = dict(os.environ)
    # heap is a PER-PAIR config (identical at both levels of a pair):
    # measured-best is corpus-dependent — 12g for the 3.2-GiB CC-weight
    # corpus (24g G1 pathology inflates early rounds), 24g for the
    # 6.4-GiB one (12g thrashes at the high-parallelism level).  See
    # BENCH/ANALYSIS.md round-3 addendum.  Env var overrides everything.
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", heap or "12g")
    if STATE_DIR:
        env["SPARK_LOCAL_DIRS"] = STATE_DIR
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=3600, env=env,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"child (cpus={cpus}) produced no RESULT:\n{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}"
    )


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


# Known-cost canary (round-5 closing-session lesson, BENCH/ANALYSIS.md
# addendum 3): a light bandwidth probe does NOT predict a 30-min Spark
# window on this VM — an aborted re-measure saw 3-13x degradation at both
# levels mid-run.  Before each repeat, a small fixed-cost child runs and
# its wall is compared to the best canary seen this run; a repeat whose
# canary drifts beyond CANARY_DRIFT is SKIPPED (retried in a later
# window, bounded by 2x the requested repeats) so a contended window can
# never dominate the min-pool, and a run whose canaries never stabilize
# is FLAGGED (contended_run) so main() records it under a side label
# instead of overwriting a valid artifact.
CANARY_DRIFT = 1.5
CANARY_CFG = dict(cpus=2, n_pages=50_000, n_seeds=25_000, budget=40_000,
                  n_hosts=64, rounds=1)


def run_canary(heap=None) -> float:
    res = run_level(CANARY_CFG["cpus"], CANARY_CFG["n_pages"],
                    CANARY_CFG["n_seeds"], CANARY_CFG["budget"],
                    CANARY_CFG["n_hosts"], CANARY_CFG["rounds"],
                    body_kb=8, extra_links=20, heap=heap,
                    pages_backend="cache")
    return round(sum(res["round_sec"]), 2)


def measure_pair(lo, hi, n_pages, n_seeds, budget, n_hosts, rounds, repeats,
                 body_kb=0, extra_links=0, heap=None, pages_backend="cache",
                 use_canary=True):
    runs = {lo: [], hi: []}
    canaries, kept_canaries, skipped = [], [], 0
    rep, attempts = 0, 0
    while rep < repeats and attempts < 2 * repeats:
        attempts += 1
        if use_canary:
            c = run_canary(heap=heap)
            canaries.append(c)
            ref = min(canaries)
            if c > CANARY_DRIFT * ref:
                skipped += 1
                print(json.dumps({"canary_sec": c, "ref_sec": ref,
                                  "skipped_window": True}), flush=True)
                continue
            kept_canaries.append(c)
            print(json.dumps({"canary_sec": c, "ref_sec": ref}), flush=True)
        # interleave lo/hi within each repeat so slow drift (thermal, page
        # cache) hits both levels equally
        for cpus in (lo, hi):
            res = run_level(cpus, n_pages, n_seeds, budget, n_hosts, rounds,
                            body_kb=body_kb, extra_links=extra_links,
                            heap=heap, pages_backend=pages_backend)
            runs[cpus].append(res)
            print(json.dumps({"rep": rep, **res}), flush=True)
        rep += 1
    if rep == 0:
        # every window was contended — no measurement to report
        return {
            "n_pages": n_pages, "n_seeds": n_seeds,
            "pages_backend": pages_backend,
            "canary_sec": canaries, "canary_windows_skipped": skipped,
            "completed_repeats": 0, "contended_run": True,
        }

    def min_walls(level):
        per_round = zip(*[r["round_sec"] for r in runs[level]])
        return [min(w) for w in per_round]

    lo_min, hi_min = min_walls(lo), min_walls(hi)
    urls = runs[lo][0]["round_urls"]  # identical at both levels by design
    assert urls == runs[hi][0]["round_urls"], "levels diverged — not same work"
    steady = range(WARMUP_ROUNDS, rounds)
    per_round_eff = {
        k: round(lo_min[k] / hi_min[k] / (hi / lo), 3) for k in steady
    }
    eff = round(_median(list(per_round_eff.values())), 3)
    steady_urls = sum(urls[k] for k in steady)
    return {
        "n_pages": n_pages, "n_seeds": n_seeds, "host_budget": budget,
        "body_kb": body_kb, "extra_links": extra_links, "child_heap": heap or "12g",
        "pages_backend": pages_backend,
        "n_hosts": n_hosts, "rounds": rounds, "repeats": repeats,
        "warmup_rounds_excluded": WARMUP_ROUNDS,
        f"local{lo}_round_sec_min": lo_min,
        f"local{hi}_round_sec_min": hi_min,
        "round_urls": urls,
        f"local{lo}_urls_per_sec": round(
            steady_urls / sum(lo_min[k] for k in steady), 1),
        f"local{hi}_urls_per_sec": round(
            steady_urls / sum(hi_min[k] for k in steady), 1),
        "per_round_efficiency": per_round_eff,
        "scaling_efficiency": eff,
        "target": 0.8,
        "canary_sec": canaries,
        "canary_windows_skipped": skipped,
        "completed_repeats": rep,
        # never-stabilized run: fewer repeats completed than asked, or a
        # KEPT repeat's canary turned out (once later, calmer canaries
        # lowered the reference) to sit beyond the drift bound itself
        "contended_run": bool(
            rep < repeats
            or (kept_canaries
                and max(kept_canaries) > CANARY_DRIFT * min(canaries))
        ),
    }


def main():
    quick = "--quick" in sys.argv
    # pairs: (label, lo, hi, n_pages, n_seeds, budget, n_hosts, rounds,
    #          repeats, body_kb, extra_links).
    # The PRIMARY pair is 1to4_ccweight: pages carry Common-Crawl-like
    # per-URL weight (~8 KiB html, ~25 links — still conservative vs the
    # real CC mean of tens of KB / dozens-to-hundreds of links), so the
    # compute:coordination ratio matches the design-point workload.  The
    # light-page pairs keep the synthetic-minimal corpus for continuity
    # with rounds 1-2; their pages are ~300 B, which over-weights
    # coordination latency relative to any real crawl.
    # trailing element = pages backend: "cache" (heap columnar cache,
    # v2/v3 continuity) or "table" (url-bucketed parquet table on tmpfs —
    # the Iceberg-analog corpus a 100-TB deployment actually scans)
    all_pairs = [
        ("1to4_ccweight", 1, 4, 400_000, 200_000, 40_000, 256, 3, 3, 8, 20, "12g", "cache"),
        # primary pair over the TABLE corpus: per-round corpus reads are
        # parquet decode (scales with cores) instead of heap-cache copy
        # traffic (the measured box ceiling)
        ("1to4_ccweight_tablecorpus", 1, 4, 400_000, 200_000, 40_000, 256, 3, 3, 8, 20, "12g", "table"),
        # design-point round sizes for the primary pair: 2x seeds makes the
        # steady rounds ~2-3x larger, amortizing per-stage fixed latency the
        # way a 10^10-frontier round (10^8+ urls) would; pairs with the
        # round-size convergence table in BASELINE.md
        ("1to4_ccweight_2xseeds", 1, 4, 400_000, 400_000, 40_000, 256, 3, 3, 8, 20, "12g", "cache"),
        # the 1to4 point on the round-size convergence curve: same corpus
        # as 2to8_ccweight_2xseeds (round 0 ~360k urls), so the primary
        # pair is measured at the largest round size the box can hold --
        # the regime a production frontier (10^8+ urls/round) lives in
        ("1to4_ccweight_biground", 1, 4, 800_000, 800_000, 40_000, 256, 3, 2, 8, 20, "24g", "cache"),
        ("2to8_ccweight", 2, 8, 800_000, 400_000, 40_000, 256, 3, 2, 8, 20, "24g", "cache"),
        # 2to8 over the TABLE corpus (same rationale as the 1to4 table
        # pair: corpus reads are parquet decode, not heap-cache copies)
        ("2to8_ccweight_tablecorpus", 2, 8, 800_000, 400_000, 40_000, 256, 3, 2, 8, 20, "24g", "table"),
        # design-point round size AND design-point corpus shape together:
        # 2x seeds (round 0 ~360k urls) over the bucketed parquet table
        ("2to8_ccweight_2xseeds_tablecorpus", 2, 8, 800_000, 800_000, 40_000, 256, 3, 2, 8, 20, "24g", "table"),
        # widest pair at the design-point weight; box pure-CPU pairwise
        # ceiling at 8->32 is 0.65 (32 threads share 32 cores with the
        # driver + GC), so this documents throughput AGAINST that ceiling
        # rather than chasing the 0.8 target the hardware cannot show
        ("8to32_ccweight", 8, 32, 800_000, 400_000, 40_000, 256, 3, 2, 8, 20, "24g", "cache"),
        ("1to4", 1, 4, 2_000_000, 1_000_000, 40_000, 512, 4, 2, 0, 0, "24g", "cache"),
        ("2to8", 2, 8, 4_000_000, 1_000_000, 40_000, 512, 5, 2, 0, 0, "24g", "cache"),
        ("8to32", 8, 32, 16_000_000, 4_000_000, 40_000, 512, 5, 2, 0, 0, "24g", "cache"),
    ]
    sel = None
    if "--pairs" in sys.argv:
        idx = sys.argv.index("--pairs") + 1
        if idx >= len(sys.argv):
            sys.exit("--pairs needs a comma-separated list of pair labels")
        sel = set(sys.argv[idx].split(","))
        known = {p[0] for p in all_pairs}
        if sel - known:
            sys.exit(f"unknown pair label(s): {sorted(sel - known)}; "
                     f"known: {sorted(known)}")
    if sel:
        pairs = [p for p in all_pairs if p[0] in sel]
    elif quick:
        pairs = [p for p in all_pairs if p[0] == "1to4_ccweight"]
    else:
        pairs = all_pairs
    out = {
        "protocol": "v4: v3 (CC-weight primary corpus; pairwise per-round ratios on identical inputs; "
                    "steady = rounds >= 2; interleaved repeats, min-of-"
                    "repeats walls, median-of-rounds efficiency; "
                    "shuffle_partitions=64 both levels; tmpfs state; "
                    "bucketed seen (seen_buckets=64)) + per-repeat "
                    "known-cost canary: windows drifting >1.5x the best "
                    "canary are skipped and retried (<=2x repeats "
                    "attempts); never-stabilizing runs are flagged "
                    "contended_run and recorded under <label>_contended "
                    "so they cannot overwrite a valid artifact"
    }
    for (label, lo, hi, n_pages, n_seeds, budget, n_hosts, rounds, reps,
         body_kb, extra_links, heap, backend) in pairs:
        res = measure_pair(lo, hi, n_pages, n_seeds, budget,
                           n_hosts, rounds, reps,
                           body_kb=body_kb, extra_links=extra_links,
                           heap=heap, pages_backend=backend)
        # a contended run must never overwrite a valid recorded artifact
        # (the round-5 closing-session near-miss): park it under a side
        # label and leave the original pair entry untouched
        key = label + "_contended" if res.get("contended_run") else label
        out[key] = res
        print(json.dumps({key: res}, indent=2), flush=True)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "SCALING.json")
    # merge-on-write: a --quick run re-measures one pair; pairs it did not
    # run keep their previously recorded results
    merged = {}
    if os.path.exists(path):
        with open(path) as fh:
            merged = json.load(fh)
    merged.update(out)
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=2)
    print("wrote BENCH/SCALING.json")


if __name__ == "__main__":
    main()
