#!/usr/bin/env python
"""Benchmark harness: prints the one-line bench JSON.

Three phases, one Spark workload on the box at a time:

1. Scaling. Steady-state crawl rounds through the real
   `round_job.run_round` (dequeue, robots + politeness, fetch, link
   extraction, first-wins dedup, seen anti-join, dense sequencing, one
   snapshot commit) on a deterministic synthetic frontier of
   $BENCH_URLS seeds over the cluster job's default hosts. n =
   $SPARK_GRAFT_CPUS when set, else the CPUs this process may run on;
   the levels are low = max(1, n // 4) and high = n.
   Each level runs in its own subprocess, pinned to that many CPUs:
   bootstrap and WARMUP_ROUNDS rounds untimed, then TIMED_ROUNDS timed
   rounds. URLs are the fetch_log rows of the timed rounds; both levels
   crawl the same frontier, so they must fetch the same count per round.
   PASSES passes alternate which level runs first. `efficiency` is the
   median of the per-pass paired ratios (sec_low / sec_high) / (high / low).
2. Queries: BENCH_QUERIES at $SPARK_GRAFT_SF_DIR on local[n], one timed
   count each.
3. Bigseen: the seen >> candidates anti-join plans (run_bigseen_bench).

`value` is the seconds per steady round at the high level. The full
record goes to bench_runs/bench_verbose_last.json. Inner mode, one
level: `bench.py --round-bench --cores N --urls M`. A level subprocess
gets SIGKILL when bench.py dies; its Spark JVM then exits on the EOF of
its gateway pipe, and the JVM's Python workers go with it.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# seeds, as perfbench's crawl_steady; the host shape is the cluster job's
# default (jobs/crawl_job.py). At this size most of a round is fixed
# per-job cost: on a 4-core VM a 500-seed crawl's rounds take 5.6 s against
# 6.4 s here, so `efficiency` mostly measures how that cost scales.
N_URLS = int(os.environ.get("BENCH_URLS", "20000"))
CORES_LOW, CORES_HIGH = max(1, CPUS // 4), CPUS
WARMUP_ROUNDS = 1
TIMED_ROUNDS = 3
PASSES = 3
# seen rows per CPU: 200 M at 32 CPUs (the r1-r6 size), 25 M at 4
BIGSEEN_SEEN, BIGSEEN_CANDS = 6_250_000 * CPUS, 1_000_000

# headline per-query timings (a representative slice of queries();
# the full registry is exercised by the correctness gate)
BENCH_QUERIES = """
    seen_antijoin dequeue_topk_per_host politeness_slots terms_agg_stats
    merge_upsert minhash_lsh_pairs dedup_components simhash ann_lsh_topk
    ann_ivf_topk token_count quality_gopher bloom_prefilter_dedup
    text_match_topk text_bm25_topk corpus_clean_pipeline corpus_clean_fuzzy
    media_frame_sample chunk_dedup repetition_ratio ann_recall_report
    link_rank substring_dup_spans winnow_shared_pairs
""".split()


def run_round_bench(cores: int, n_urls: int) -> dict:
    """One level: a fresh crawl of n_urls seeds on local[cores],
    bootstrap + WARMUP_ROUNDS untimed, then TIMED_ROUNDS timed rounds."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from jobs.crawl_job import K_PER_HOST, N_HOSTS
    from openslack_crawler_spark import synthetic
    from openslack_crawler_spark.plans import round_job as rj
    from openslack_crawler_spark.session import get_spark

    spark = get_spark(app_name=f"round-bench-{cores}", cores=cores)
    seeds = synthetic.gen_seeds(spark, n_urls, n_hosts=N_HOSTS)
    robots = synthetic.gen_robots(spark, N_HOSTS)
    cfg = rj.CrawlConfig(n_hosts=N_HOSTS, k_per_host=K_PER_HOST)
    # spark-* prefix: sweep_stale_scratch reclaims it if a kill leaks it
    root = tempfile.mkdtemp(prefix="spark-round-bench-")
    try:
        fmt = rj.run_crawl(spark, root, seeds, robots, cfg, rounds=WARMUP_ROUNDS)
        secs = []
        for _ in range(TIMED_ROUNDS):
            t0 = time.perf_counter()
            rj.run_round(fmt, cfg)
            secs.append(time.perf_counter() - t0)
        timed = range(WARMUP_ROUNDS + 1, WARMUP_ROUNDS + TIMED_ROUNDS + 1)
        log = fmt.read("fetch_log").filter(F.col("round_id") > WARMUP_ROUNDS)
        counts = dict(log.groupBy("round_id").count().collect())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {
        "cores": cores,
        "seeds": n_urls,
        "round_secs": [round(s, 3) for s in secs],
        "fetched": [counts.get(r, 0) for r in timed],
    }


PR_SET_PDEATHSIG = 1


def run_level(cores: int, cpus: list[int]) -> dict:
    """run_round_bench in a subprocess pinned to cpus, killed with us."""
    parent = os.getpid()
    prctl = ctypes.CDLL(None, use_errno=True).prctl  # looked up before the fork
    prctl.argtypes, prctl.restype = [ctypes.c_int, ctypes.c_ulong], ctypes.c_int

    def preexec():
        prctl(PR_SET_PDEATHSIG, signal.SIGKILL)
        if os.getppid() != parent:  # we died before the line above ran
            os._exit(1)
        os.sched_setaffinity(0, cpus)

    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--round-bench",
         "--cores", str(cores), "--urls", str(N_URLS)],
        capture_output=True, text=True, timeout=1800, cwd=here,
        preexec_fn=preexec,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ROUNDJSON:"):
            return json.loads(line[len("ROUNDJSON:"):])
    sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
    raise RuntimeError(f"round bench at {cores} cores produced no result")


def run_scaling() -> dict:
    cpus = sorted(os.sched_getaffinity(0))
    runs: dict[int, list] = {CORES_LOW: [], CORES_HIGH: []}
    pass_effs = []
    for p in range(PASSES):
        order = (CORES_LOW, CORES_HIGH) if p % 2 == 0 else (CORES_HIGH, CORES_LOW)
        for cores in order:
            runs[cores].append(run_level(cores, cpus[:cores]))
        lo, hi = (sum(runs[c][-1]["round_secs"]) for c in (CORES_LOW, CORES_HIGH))
        pass_effs.append(round(lo / hi / (CORES_HIGH / CORES_LOW), 3))
    fetched = {tuple(r["fetched"]) for rs in runs.values() for r in rs}
    if len(fetched) != 1:
        raise RuntimeError(f"levels fetched different URL counts: {fetched}")
    (per_round,) = fetched
    if not all(per_round):
        raise RuntimeError(f"a timed round fetched nothing: {per_round}")
    urls = sum(per_round)
    sec = {
        c: statistics.median(sum(r["round_secs"]) / TIMED_ROUNDS for r in rs)
        for c, rs in runs.items()
    }
    return {
        "cores_low": CORES_LOW,
        "cores_high": CORES_HIGH,
        "sec_low": round(sec[CORES_LOW], 3),
        "sec_high": round(sec[CORES_HIGH], 3),
        "urls_per_sec_low": round(urls / TIMED_ROUNDS / sec[CORES_LOW]),
        "urls_per_sec_high": round(urls / TIMED_ROUNDS / sec[CORES_HIGH]),
        "efficiency": statistics.median(pass_effs),
        "pass_efficiencies": pass_effs,
        "urls": urls,
        "runs": {str(c): rs for c, rs in runs.items()},
    }


def run_bigseen_bench(n_seen: int, n_cands: int) -> dict:
    """The seen ≫ candidates regime (the 100 TB shape: a 10^10-row seen
    table probed by a ~10^6-row round batch). Three plans, same result:

      exact_shuffle : plain anti-join — shuffles BOTH sides (the naive
                      plan; at 10^10 rows the seen shuffle dominates)
      exact_spj     : seen stored bucketed by url_hash (Iceberg
                      bucket(N, url_hash) analogue) — the anti-join
                      shuffles only the candidate side
      bloom_spj     : partitioned-bloom prefilter (definite negatives
                      skip the join) + SPJ anti-join for suspects only

    Setup (seen table write + bloom build) is untimed: both are
    amortized maintenance in a real crawl (the bloom is maintained
    incrementally per round, the seen table is the stored state)."""
    import shutil as _sh
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from openslack_crawler_spark.operators.seen_filter import PartitionedBloom
    from openslack_crawler_spark.session import get_spark

    spark = get_spark(app_name="bigseen-bench", cores=CPUS)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # seen is never broadcastable

    n_hit = n_cands // 2  # half the batch is a revisit
    seen = spark.range(n_seen).select(F.xxhash64("id").alias("url_hash"))
    # candidates: n_hit ids inside the seen range, the rest outside
    cands = (
        spark.range(n_hit)
        .union(spark.range(n_seen, n_seen + (n_cands - n_hit)))
        .select(F.xxhash64("id").alias("url_hash"))
        .withColumn("dont_filter", F.lit(False))
    )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("DROP TABLE IF EXISTS bigseen")
    _sh.rmtree(f"{wh}/bigseen", ignore_errors=True)
    seen.write.bucketBy(64, "url_hash").sortBy("url_hash").mode(
        "overwrite"
    ).saveAsTable("bigseen")
    seen_b = spark.table("bigseen")

    # ~10 bits/key for ~1% fp: n_seen * 10 / 64 bits per block, rounded
    # up to a power of two — 64 blocks are the bitmap volume the probe
    # transfers
    bits = 1 << max(20, (n_seen * 10 // 64).bit_length())
    bloom = PartitionedBloom(num_blocks=64, bits=bits)
    blocks_path = f"{wh}/bigseen_bloom"
    _sh.rmtree(blocks_path, ignore_errors=True)
    bloom.build(seen_b).write.mode("overwrite").parquet(blocks_path)
    blocks = spark.read.parquet(blocks_path)

    cands = cands.localCheckpoint()  # candidates materialized once

    out: dict = {"n_seen": n_seen, "n_cands": n_cands}

    def timed(tag, fn):
        # best-of-2: the shared host's memory-bandwidth noise swings
        # single measurements up to 3x; the min is the honest capability
        secs, n = [], 0
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn()
            secs.append(time.perf_counter() - t0)
        out[tag] = {"sec": round(min(secs), 3), "rows": n,
                    "all_secs": [round(s, 3) for s in secs]}

    # (a) naive: disable bucketed scan → both sides shuffle
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    timed("exact_shuffle", lambda: cands.join(seen_b, "url_hash", "left_anti").count())
    # (b) storage-partitioned: bucketed seen side is NOT reshuffled
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    timed("exact_spj", lambda: cands.join(seen_b, "url_hash", "left_anti").count())
    # (c) bloom prefilter: definite negatives skip the join entirely
    timed(
        "bloom_spj",
        lambda: bloom.prefiltered_unseen(cands, seen_b, blocks).count(),
    )

    assert out["exact_shuffle"]["rows"] == out["exact_spj"]["rows"] == out["bloom_spj"]["rows"]
    out["fresh_rows"] = out["exact_spj"]["rows"]
    # shuffle-volume evidence: how many candidates the bloom certified
    # fresh WITHOUT touching the join (the 10^10 claim is about join
    # input volume, not sandbox wall-clock)
    suspects = (
        bloom.probe(cands, blocks).filter(F.col("maybe_seen")).count()
    )
    out["bloom_suspects"] = suspects
    out["bloom_join_skip_frac"] = round(1 - suspects / n_cands, 4)
    out["bloom_bits_per_block"] = bits
    # the path the engine runs by default (CrawlConfig.use_bloom=False:
    # the seen table here is scannable, so exact — and its time must be
    # <= the alternatives')
    out["chosen_path"] = "exact_spj"
    out["chosen_sec"] = out["exact_spj"]["sec"]
    spark.sql("DROP TABLE IF EXISTS bigseen")
    _sh.rmtree(f"{wh}/bigseen", ignore_errors=True)
    _sh.rmtree(blocks_path, ignore_errors=True)
    return out


def sweep_stale_scratch(min_free_gb: float = 10.0, min_age_s: float = 900.0) -> None:
    """Reclaim crash-leaked Spark scratch before the bench starts.

    A killed Spark JVM leaves its /tmp/blockmgr-* and /tmp/spark-*
    dirs behind (graceful shutdown removes them); observed round 5:
    78 GB of orphans from a killed session filled the disk and the
    next bench's 8-core level died with ENOSPC inside
    DiskBlockObjectWriter mid-shuffle. Sweep is triple-guarded so a
    healthy concurrent run is never touched: only when free space is
    actually too low for the bench's shuffle footprint, only dirs
    untouched for min_age_s, and only dirs no live process holds an
    open file in.
    """
    import glob
    import shutil

    try:
        st = os.statvfs("/tmp")
    except OSError:
        return
    if st.f_bavail * st.f_frsize / 2**30 >= min_free_gb:
        return
    open_files = set()
    for fd in glob.glob("/proc/[0-9]*/fd/*"):
        try:
            open_files.add(os.readlink(fd))
        except OSError:
            pass
    now, freed = time.time(), 0
    for d in glob.glob("/tmp/blockmgr-*") + glob.glob("/tmp/spark-*"):
        try:
            if now - os.path.getmtime(d) < min_age_s or any(
                f.startswith(d + "/") for f in open_files
            ):
                continue
        except OSError:
            continue
        shutil.rmtree(d, ignore_errors=True)
        freed += 1
    if freed:
        print(f"swept {freed} stale Spark scratch dirs from /tmp", file=sys.stderr)


def run_query_bench() -> dict:
    import __spark_entry__ as entry
    from openslack_crawler_spark.session import get_spark

    spark = get_spark(app_name="bench-queries", cores=CPUS)
    qs = entry.queries()
    out = {}
    # steady-state warmup: JVM codegen + python workers + parquet
    # footers/page cache, so the FIRST query doesn't absorb one-off
    # session start cost (queries measure query work, not JVM warmup)
    from pyspark.sql import functions as F

    spark.range(100000).repartition(CPUS).select(F.xxhash64("id").alias("h")).agg(
        F.max("h")
    ).collect()
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).count()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def main():
    if "--round-bench" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--cores") + 1])
        urls = int(sys.argv[sys.argv.index("--urls") + 1])
        print("ROUNDJSON:" + json.dumps(run_round_bench(cores, urls)))
        return

    sweep_stale_scratch()
    phase_secs = {}

    def phase(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        phase_secs[name] = round(time.perf_counter() - t0, 1)
        return out

    # scaling first, while this process has no JVM of its own
    scaling = phase("scaling", run_scaling)
    queries = phase("queries", run_query_bench)
    bigseen = phase("bigseen", run_bigseen_bench, BIGSEEN_SEEN, BIGSEEN_CANDS)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "seconds per steady-state crawl round (round_job.run_round: "
        "dequeue, robots + politeness, fetch, link extraction, dedup, seen "
        "anti-join, dense sequencing, snapshot commit)",
        "value": scaling["sec_high"],
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "urls_per_sec": scaling["urls_per_sec_high"],
        "scaling": {k: scaling[k] for k in (
            "cores_low", "cores_high", "sec_low", "sec_high", "urls_per_sec_low",
            "urls_per_sec_high", "efficiency", "pass_efficiencies", "urls")},
        "bigseen": {
            **{k: bigseen[k]["sec"] for k in ("exact_shuffle", "exact_spj", "bloom_spj")},
            "chosen_path": bigseen["chosen_path"],
            "chosen_sec": bigseen["chosen_sec"],
        },
        "verbose_file": "bench_runs/bench_verbose_last.json",
    }
    # the full record (per-run round times, bigseen rows) goes to a file;
    # stdout carries ONE compact line so a bounded capture can parse it
    vdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_runs")
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, "bench_verbose_last.json"), "w") as f:
        json.dump(
            {**line, "scaling": scaling, "bigseen": bigseen, "phase_secs": phase_secs},
            f, indent=1,
        )
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
