"""Benchmark harness (driver contract + north-rule scaling evidence).

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}``.

Two parts:
1. **Crawl-round throughput** (the north-rule headline): a synthetic frontier
   of N URLs (hot-host skewed) is bootstrapped, then R full crawl rounds run
   through the real engine — dequeue window → fetch join → extract → merge →
   snapshot commit — and URLs/sec is reported. Scaling evidence
   (local[8] vs local[32]) is produced by running this same script at two
   CPU counts; the recorded readings are in BENCH.md.
2. **Operator suite**: representative queries() entries timed with a noop
   sink (forces full computation — .count() alone would let Catalyst prune
   the measured projections).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FRONTIER_N = int(os.environ.get("BENCH_FRONTIER_N", "2000000"))
# ≥4 rounds so session bootstrap + first-round JIT warm-up amortize and the
# per-round serial fraction is visible as a steady-state, not a startup cost
ROUNDS = int(os.environ.get("BENCH_ROUNDS", "4"))
K_PER_ROUND = int(os.environ.get("BENCH_K", "200000"))
# ~32 B of prose per repeat unit; 64 ≈ 2 KB text spans (page-byte-streaming
# heavy — exercises the DRAM-bound fetch path), small values emphasize the
# frontier machinery itself (the north-rule metric). Both get reported in
# BENCH.md.
PAGE_REPEAT = int(os.environ.get("BENCH_PAGE_REPEAT", "64"))
# MoR compaction cadence (Crawler.compact_every). Default 3 so the standard
# 4-round campaign CROSSES a compaction boundary (VERDICT r04 item 4): the
# amortized O(frontier) snapshot rewrite is part of the published URLs/s, not
# a side measurement — `phases.compact` in the output is its exact cost.
# (The engine's own default stays 16; this is the bench PROTOCOL choosing to
# include one boundary per campaign.)
COMPACT_EVERY = int(os.environ.get("BENCH_COMPACT_EVERY", "3"))
# wave-packing A/B knobs (round-4 ladder attribution: ~27% of the N→4N gap
# is sub-full waves across many small stages, not engine-serial work)
SHUFFLE = int(os.environ.get("BENCH_SHUFFLE", "0")) or None  # default: = CPUS


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_crawl_rounds(spark, tmpdir: str) -> dict:
    """North-rule metric: frontier URLs processed/sec per crawl round."""
    from pyspark.sql import functions as F

    from dumb_crawler_spark import frontier as FR
    from dumb_crawler_spark.config import CrawlConfig, Politeness
    from dumb_crawler_spark.corpus import frontier_urls_from_range
    from dumb_crawler_spark.crawler import Crawler
    from dumb_crawler_spark.storage import Warehouse

    cfg = CrawlConfig(
        tagger={
            "internal": r"matches(host, '.*\.corpus\.example\.com')",
            "doc": r"matches(path, '/doc/[0-9]+')",
        },
        priorities={"doc": 900, "other": 10},
        whitelist=("internal",),
        allow_by_default=False,
        storage_included_tags=("doc",),
        thread_count=K_PER_ROUND // 2,  # round budget k = 2×thread_count
        politeness=Politeness(budget_per_host_per_round=K_PER_ROUND // 10),
        partitions=CPUS,
    )
    urls = frontier_urls_from_range(spark, FRONTIER_N)
    # docs corpus: 90% of URLs have a doc (3 arithmetic links each) — built
    # from the same range, pure Column exprs
    i = F.col("id")
    n = FRONTIER_N
    n_hosts = max(n // 1000, 4)
    host = F.when(i % 10 == 0, F.lit("hot.corpus.example.com")).otherwise(
        F.concat(F.lit("h"), (i % n_hosts).cast("string"), F.lit(".corpus.example.com"))
    )
    url = F.concat(F.lit("http://"), host, F.lit("/doc/"), i.cast("string"))
    link = lambda e: F.concat(F.lit('<a href="http://'), host, F.lit("/doc/"), e.cast("string"), F.lit('">'))
    # realistic page weight: ~2 KB of prose per text span, 6 links per page
    filler = F.repeat(F.concat(F.lit("lorem ipsum content block "), i.cast("string"), F.lit(" ")), PAGE_REPEAT)
    t1 = F.concat(
        F.lit("body article-body "), filler,
        link((i * 7 + 1) % n), F.lit(" "), link((i * 13 + 2) % n), F.lit(" "), link((i * 3 + 5) % n),
    )
    t2 = F.concat(
        filler, link((i * 11 + 4) % n), F.lit(" "), link((i * 17 + 6) % n), F.lit(" "), link((i * 5 + 8) % n),
    )
    span = lambda txt, off: F.struct(
        F.lit("text").alias("kind"),
        txt.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    # materialize the corpus: the "web" is a stored table, not a generative
    # function — regenerating ~4 KB of strings per doc per round would bill
    # GC churn to the engine and hide real scan behavior
    docs_path = os.path.join(tmpdir, "_docs")
    (
        spark.range(n)
        .where(i % 10 != 3)  # 10% missing → 404 path
        .select(F.md5(url).alias("doc_id"), F.array(span(t1, 0), span(t2, 1)).alias("spans"))
        .write.mode("overwrite").parquet(docs_path)
    )
    docs = spark.read.parquet(docs_path)

    wh = Warehouse(spark, tmpdir)
    # direct bootstrap: synthetic URLs are unique by construction, so the
    # in-batch dedupe window + seen anti-join would be pure overhead here —
    # build the frontier columns straight from the URL kernel (the kernel
    # cost itself — canonicalize/tag/score/hash — is kept, it's real work)
    cands = FR.UrlKernel(cfg).candidates(urls)
    fr0 = cands.select(
        "url_id", "url", "host", "tags",
        F.lit(0).cast("tinyint").alias("status"),
        F.col("priority").cast("int"),
        F.lit(0).alias("attempt"), F.lit(0).alias("depth"),
        F.lit(0).alias("created_round"),
        F.lit(None).cast("int").alias("taken_round"),
        F.lit(None).cast("int").alias("completed_round"),
        F.lit(None).cast("int").alias("saved_round"),
        F.lit(None).cast("string").alias("error"),
        "part",
    )
    wh.write_frontier_snapshot(0, fr0, cfg.partitions)
    wh.commit_round(0, {"bootstrap": FRONTIER_N})

    crawler = Crawler(spark, cfg, docs, tmpdir, compact_every=COMPACT_EVERY)
    t0 = time.time()
    stats = crawler.run(max_rounds=ROUNDS)
    elapsed = time.time() - t0
    processed = sum(s.dequeued for s in stats)
    out = {
        "frontier_n": FRONTIER_N,
        "page_repeat": PAGE_REPEAT,
        "compact_every": COMPACT_EVERY,
        "rounds": ROUNDS,
        "urls_processed": processed,
        "seconds": round(elapsed, 2),
        "urls_per_sec": round(processed / elapsed, 1),
        "round_seconds": [round(s.wall_seconds, 2) for s in stats],
        "phases": {k: round(v, 2) for k, v in sorted(crawler.phase_times.items())},
    }
    if os.environ.get("BENCH_ROUND_PHASES") == "1":
        # per-round phase slices (flatness evidence, e.g. pages_write vs
        # round number) — opt-in to keep the driver's one-line JSON compact
        out["round_phases"] = [s.phase_seconds for s in stats]
    # Steady-state view: round 1 pays one-time JVM/Catalyst/codegen warm-up
    # (classloading, Janino, JIT) that a production crawl amortizes over
    # thousands of rounds; rounds ≥ 2 are the per-round cost a cluster
    # actually repeats. Both views are reported — the ladder uses each.
    if len(stats) >= 2:
        steady_urls = sum(s.dequeued for s in stats[1:])
        steady_secs = sum(s.wall_seconds for s in stats[1:])
        if steady_secs > 0:
            out["steady_urls_processed"] = steady_urls
            out["steady_seconds"] = round(steady_secs, 2)
            out["steady_urls_per_sec"] = round(steady_urls / steady_secs, 1)
    return out


QUERY_NAMES = [
    "frontier_topk_dequeue",
    "frontier_perhost_budget",
    "seen_set_antijoin",
    "pages_new_vs_update",
    "sessionize",
    "extract_links",
    "robots_filter",
    "tpch_q1",
    "revenue_by_nation",
    "top_parts_by_revenue",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "token_count",
    "langid",
    "fingerprint",
    "text_quality",
    "sim_topk_cosine",
    "sim_ann_ivf",
    "sim_ann_ivf_pruned",
    "embed_cosine_dups",
    "multimodal_features",
    "crawl_flagship",
]


def main() -> None:
    import tempfile

    from dumb_crawler_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app="dcs-bench", cores=CPUS, shuffle_partitions=SHUFFLE or CPUS)
    queries = E.queries()
    timings: dict[str, float] = {}

    crawl_only = os.environ.get("BENCH_CRAWL_ONLY") == "1"
    # scratch on tmpfs when available: the sandbox's virtio disk has ~2×
    # run-to-run write-throughput variance that would swamp the measurement
    # (a cluster's local NVMe does not); BENCH_TMPDIR overrides
    scratch = os.environ.get("BENCH_TMPDIR") or ("/dev/shm" if os.path.isdir("/dev/shm") else None)
    with tempfile.TemporaryDirectory(prefix="dcs-bench-", dir=scratch) as tmpdir:
        t0 = time.time()
        crawl = bench_crawl_rounds(spark, tmpdir)
        timings["crawl_rounds"] = round(time.time() - t0, 2)

        for name in [] if crawl_only else QUERY_NAMES:
            t0 = time.time()
            df = queries[name](spark, SF_DIR)
            _force(df)
            timings[name] = round(time.time() - t0, 2)

    total = round(sum(timings.values()), 2)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    print(json.dumps({
        "metric": "bench_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "crawl": crawl,
    }))


if __name__ == "__main__":
    main()
