"""The workloads: closed loops with one client, the benchmark process.

A crawl round starts only after the previous round commits; a streaming
micro-batch starts only after the previous one finishes. Each workload
returns its end-to-end metrics, its per-layer metrics (traced runs) and the
outcome of its correctness checks.
"""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from . import checks, inputs
from .trace import Tracer, instrument, read_event_log

MB = 1e6


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    trace: bool
    scale: float
    partitions: int
    t0: float  # process start, for setup_s
    tracer: Tracer
    event_dir: Path | None
    jvm_pid: int | None


@dataclass
class Result:
    e2e: dict[str, float]
    failures: list[str] = field(default_factory=list)
    checks_run: int = 0
    failed_checks: int = 0
    ops: int = 0  # rounds, resumes and micro-batches attempted
    detail: dict = field(default_factory=dict)
    # per-layer metrics read the event log, complete only once Spark stops
    layers_after_stop: Callable[[], dict[str, float]] | None = None


def peak_rss_mb(pid: int | None) -> float:
    """Driver JVM high-water mark (VmHWM); in local mode it runs the tasks too."""
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def heap_live_mb(spark) -> float:
    """Driver JVM heap in use right after a full collection: the live state
    the engine keeps (caches, broadcasts, planner and bloom copies), without
    the garbage that makes the resident high-water mark jump between runs."""
    jvm = spark.sparkContext._jvm
    # the first collection enqueues dead broadcasts and shuffles for Spark's
    # ContextCleaner; the second frees what the cleaner released meanwhile
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / MB


def dir_bytes(d: Path) -> int:
    return sum(f.stat().st_size for f in d.rglob("*") if f.is_file())


def warehouse_mb(wh: Path, upto: int) -> float:
    """On-disk size of the warehouse state as of round ``upto`` — every
    per-round directory up to it plus its commit markers. A fixed round keeps
    the figure independent of how many rounds fit in the timed window."""
    total = 0
    for table in wh.iterdir():
        if not table.is_dir():
            continue
        for d in table.iterdir():
            try:
                rnd = int(d.name.split("-")[1].split(".")[0])
            except (IndexError, ValueError):
                continue
            if rnd <= upto:
                total += d.stat().st_size if d.is_file() else dir_bytes(d)
    return total / MB


def round_files(wh: Path, rnd: int) -> tuple[int, int]:
    """(files, bytes) the round wrote: its delta, ins-, upd- and snap- dirs."""
    files = nbytes = 0
    for d in wh.glob(f"*/*-{rnd:08d}"):
        for f in d.rglob("*"):
            if f.is_file():
                files += 1
                nbytes += f.stat().st_size
    return files, nbytes


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def spark_layers(ctx: Ctx, lo: float, hi: float, n_steps: int) -> tuple[dict, dict]:
    """Event-log totals for the jobs submitted in [lo, hi]: per-phase task
    metrics and the session-wide spark.* metrics, per step."""
    ev = read_event_log(ctx.event_dir)
    jobs = ev.jobs_between(lo, hi)
    phases = ev.phase_totals(jobs)
    n = max(n_steps, 1)
    tot = {
        k: sum(p[k] for p in phases.values())
        for k in ("tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")
    }
    out = {
        "spark.task_cpu_s": tot["cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.shuffle_mb": tot["shuffle_bytes"] / MB / n,
        "spark.spill_mb": tot["spill_bytes"] / MB / n,
        "spark.task_skew": ev.task_skew(jobs),
        "crawler.jobs_per_round": len(jobs) / n,
        "crawler.tasks_per_round": tot["tasks"] / n,
    }
    return out, phases


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------

WAREHOUSE_ROUND = 3  # warehouse_mb is read as of this round in every run
TIMED_ROUNDS = 2


def crawl(ctx: Ctx, name: str) -> Result:
    from dumb_crawler_spark.config import load_config
    from dumb_crawler_spark.crawler import Crawler

    spark, tr = ctx.spark, ctx.tracer
    polite = name == "polite_crawl"
    gen = inputs.polite_crawl if polite else inputs.deep_frontier
    inp = gen(ctx.work, ctx.seed, ctx.partitions, ctx.scale)
    cfg = load_config(inp.config_path)
    docs = spark.read.parquet(str(inp.docs_path))
    robots = spark.read.parquet(str(inp.robots_path)) if polite else None
    wh = ctx.work / "wh"

    def crawler() -> Crawler:
        # deep_frontier compacts every round: the O(frontier) rewrite is part
        # of what it measures, and every round then has the same shape
        return Crawler(
            spark, cfg, docs, wh, robots=robots, use_bloom=polite,
            compact_every=16 if polite else 1,
        )

    res = Result(e2e={})
    walls: dict[int, float] = {}
    stats: dict[int, object] = {}

    def run_round(c: Crawler, rnd: int) -> None:
        tr.trace = f"round-{rnd}"
        res.ops += 1
        t = time.time()
        st = c.run_round(rnd)
        walls[rnd] = time.time() - t
        stats[rnd] = st
        if st.dequeued == 0:
            raise RuntimeError(f"{name}: frontier ran dry at round {rnd}")

    c = crawler()
    c.bootstrap()
    setup_s = time.time() - ctx.t0
    run_round(c, 1)  # cold: pays codegen and first-use of every operator
    # round 2 is still measurably slower while the JIT compiles the round's
    # hot code; timing starts at round 3
    run_round(c, 2)
    rnd = 2

    def window(seconds: float, rounds: int = TIMED_ROUNDS) -> list[int]:
        # at least TIMED_ROUNDS rounds: rounds keep getting faster while the
        # JIT warms, so a round count that followed machine speed would
        # shift the median along with it
        nonlocal rnd
        done: list[int] = []
        t = time.time()
        while len(done) < rounds or time.time() - t < seconds:
            rnd += 1
            run_round(c, rnd)
            done.append(rnd)
        return done

    # a traced run prints no end-to-end metrics: one unwrapped round is
    # enough for trace_overhead
    plain = window(0, rounds=1) if ctx.trace else window(ctx.seconds)
    steady, phase_s = plain, {}
    if ctx.trace:
        # the same loop again with every wrapper installed: its per-layer
        # numbers, and its speed against the unwrapped rounds (trace_overhead)
        instrument(tr)
        before = dict(c.phase_times)
        steady = window(0, rounds=1)
        phase_s = {k: v - before.get(k, 0.0) for k, v in c.phase_times.items()}

    def speed(rounds: list[int]) -> float:
        return sum(stats[r].dequeued for r in rounds) / sum(walls[r] for r in rounds)

    res.e2e = {
        "setup_s": setup_s,
        "urls_per_s": speed(plain),
        "step_s_p50": statistics.median(walls[r] for r in plain),
        "warehouse_mb": warehouse_mb(wh, WAREHOUSE_ROUND),
    }
    res.detail = {
        "rounds": rnd,
        "steady_rounds": len(plain),
        "round_walls": [round(walls[r], 3) for r in sorted(walls)],
        "dequeued_per_round": stats[rnd].dequeued,
    }

    if ctx.trace:
        rss = peak_rss_mb(ctx.jvm_pid)
        live = heap_live_mb(spark)
        resume_s = 0.0
        if not polite:
            # on deep_frontier only, where the planner seed and the
            # pages-bloom rebuild it covers are large; polite_crawl's traced
            # run spends that time on the streaming ingest instead
            res.ops += 1
            tr.trace = "resume"
            t = time.time()
            c2 = crawler()  # fresh Crawler on the committed warehouse, same JVM
            last = c2.bootstrap()
            run_round(c2, last + 1)
            resume_s = time.time() - t
        overhead = speed(steady) / speed(plain)
        res.layers_after_stop = lambda: {
            **crawl_layers(ctx, steady, stats, phase_s, wh, resume_s),
            **stream_layers,
            "crawler.first_round_s": walls[1],
            "spark.peak_rss_mb": rss,
            "spark.heap_live_mb": live,
            "trace_overhead": overhead,
        }

    stream_layers: dict[str, float] = {}
    t = time.time()
    rows, found = checks.crawl_invariants(wh)
    if polite:
        found.append(checks.no_disallowed_inserts(rows, inp.disallow))
        found.append(checks.host_budgets_hold(
            wh, inp.delay_ms, cfg.politeness.budget_per_host_per_round, inputs.ROUND_INTERVAL_MS
        ))
    else:
        found.append(checks.oracle_parity(wh, cfg, inp.docs, rows))
    res.detail["checks_s"] = round(time.time() - t, 3)
    if ctx.trace and polite:
        # the frontier's write path, into the crawled frontier: after the
        # crawl checks, since every micro-batch commits a new snapshot
        stream_layers, stream_found = stream_phase(ctx, cfg, wh, inp.urls)
        res.ops += int(stream_layers["streaming.query_starts"])
        found += stream_found
    res.checks_run = len(found)
    res.failed_checks = sum(1 for f in found if f)
    res.failures = [m for f in found for m in f]
    return res


def crawl_layers(ctx: Ctx, steady, stats, phase_s, wh: Path, resume_s: float) -> dict:
    tr = ctx.tracer
    traces = {f"round-{r}" for r in steady}
    n = len(steady)
    counters = {}
    for r in steady:
        for k, v in stats[r].counters.items():
            counters[k] = counters.get(k, 0) + v
    dequeued = sum(stats[r].dequeued for r in steady)
    processed = counters.get("PROCESSED_URLS", 0)
    errors = sum(v for k, v in counters.items() if k.startswith("ERROR_"))
    allowed_links = counters.get("ALLOWED_LINKS", 0)
    # ALLOWED/IGNORED_LINKS also count the dequeued rows' re-filter verdicts
    link_cands = allowed_links + counters.get("IGNORED_LINKS", 0) - dequeued
    phase = {k: phase_s.get(k, 0.0) / n for k in ("links_count", "pages_split")}
    rounds = tr.named("crawler.round", traces)
    lo = min(s.start for s in rounds)
    hi = max(s.end for s in rounds)
    sp, phases = spark_layers(ctx, lo, hi, n)
    fetch = phases.get("fetch_write", {})
    scan = sum(phases.get(p, {}).get("records_in", 0) for p in ("dequeue_plan", "dq_order", "dequeue"))
    files = [round_files(wh, r) for r in steady]
    bloom = tr.last.get("bloom.union") or tr.last.get("bloom.build")
    plan = tr.last.get("planner.plan")
    per = lambda prefix: tr.total(prefix, traces) / n  # noqa: E731
    return {
        "crawler.round_self_s": mean(tr.self_time(s) for s in rounds),
        "crawler.resume_s": resume_s,
        **sp,
        "planner.seed_s": tr.total("planner.seed"),
        "planner.plan_s": per("planner.plan"),
        "planner.update_s": per("planner.on_dequeued") + per("planner.on_inserts"),
        "planner.cells": float(len(plan[0][0].hist or {})) if plan else 0.0,
        "frontier.dequeue_s": per("storage.delta.dequeue_order"),
        "frontier.rows_scanned_per_round": scan / n,
        "frontier.ingest_s": per("storage.frontier_inserts"),
        "frontier.update_s": per("storage.frontier_updates"),
        "frontier.compact_s": per("storage.snapshot.frontier"),
        "frontier.new_ratio": counters.get("DISCOVERED_URLS", 0) / max(allowed_links, 1),
        "frontier.plan_dequeue_s": per("frontier.plan_dequeue"),
        "fetch.write_s": per("storage.delta.fetch"),
        "fetch.task_cpu_s": fetch.get("cpu_s", 0.0) / n,
        "fetch.shuffle_mb": fetch.get("shuffle_bytes", 0.0) / MB / n,
        "fetch.ok_ratio": processed / max(processed + errors, 1),
        "fetch.links_per_page": link_cands / max(processed, 1),
        "bloom.build_s": per("bloom.build"),
        "bloom.union_s": per("bloom.union"),
        "bloom.mb": bloom[1].broadcast_bytes() / MB if bloom else 0.0,
        "bloom.pages_split_s": phase["pages_split"],
        "robots.verdict_s": phase["links_count"],
        "robots.blocked_links": counters.get("ROBOTS_BLOCKED_LINKS", 0) / n,
        "storage.files_per_round": mean(f for f, _ in files),
        "storage.mb_per_round": mean(b for _, b in files) / MB,
        "storage.commit_s": per("storage.commit"),
        "storage.rollback_s": tr.total("storage.rollback", {"resume"}),
    }


# ---------------------------------------------------------------------------
# streaming ingest (traced polite_crawl runs)
# ---------------------------------------------------------------------------

STREAM_FILES = 2  # candidate files fed, one per closed-loop step
STREAM_ROWS = 2_000
DRAIN_LIMIT = 4  # query restarts allowed for parked rows after the last file


def stream_phase(ctx: Ctx, cfg, wh: Path, universe: list[str]) -> tuple[dict, list[list[str]]]:
    """Feed candidate files through ``streaming.stream_gated_ingest`` into
    the crawled warehouse, one file per step: each step places a file, runs
    the query until everything available is processed (availableNow) and
    stops it, so a micro-batch starts only after the previous one finished.
    Then restart until the gate's parked rows drain."""
    from dumb_crawler_spark.streaming import stream_gated_ingest

    tr = ctx.tracer
    rows = max(int(STREAM_ROWS * ctx.scale), 40)
    inp = inputs.stream_candidates(ctx.work, ctx.seed, universe, STREAM_FILES, rows)
    incoming = ctx.work / "incoming"
    incoming.mkdir()
    runs: list[dict] = []
    fed: list[set[str]] = []

    def step(i: int | None) -> dict:
        if i is not None:
            os.rename(inp.files[i], incoming / inp.files[i].name)
            fed.append(inp.allowed[i])
        tr.trace = f"stream-{len(runs)}"
        t = time.time()
        q = stream_gated_ingest(
            ctx.spark, cfg, str(wh), str(incoming), str(ctx.work / "checkpoint"),
            budget_per_host=inp.budget_per_host, window_seconds=inp.window_seconds,
        )
        q.awaitTermination()
        wall = time.time() - t
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        # every micro-batch, including the no-data batch that advances the
        # gate's watermark (foreachBatch merges and commits for it too)
        batches = list(q.recentProgress)
        last = max((p["batchId"] for p in batches if p["numInputRows"] > 0), default=None)
        run = {
            "wall": wall,
            "batches": batches,
            "fed": 0 if i is None else rows,
            "parked": last is not None and (incoming / f"refeed={last}").exists(),
            "rows": frontier_size(wh),
        }
        runs.append(run)
        return run

    before = len(checks.frontier_rows(wh))
    for i in range(len(inp.files)):
        step(i)
    while runs[-1]["parked"] and len(runs) < len(inp.files) + DRAIN_LIMIT:
        step(None)
    found = checks.stream_merged(wh, fed)[1]
    if runs[-1]["parked"]:
        found.append([f"stream did not drain within {DRAIN_LIMIT} restarts"])

    # the first step pays the stream's cold start; the rest are steady
    steady = runs[1:]
    batches = [p for r in steady for p in r["batches"]]
    n = max(len(batches), 1)
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    gate_in = sum(p["numInputRows"] for r in runs for p in r["batches"])
    fed_rows = sum(r["fed"] for r in runs)
    traces = {f"stream-{i}" for i in range(1, len(runs))}
    layers = {
        "streaming.urls_per_s": (runs[-1]["rows"] - runs[0]["rows"]) / sum(r["wall"] for r in steady),
        "streaming.batch_s_p50": statistics.median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in batches
        ),
        "streaming.first_batch_s": runs[0]["wall"],
        "streaming.add_batch_s": statistics.median(p["durationMs"]["addBatch"] / 1e3 for p in batches),
        "streaming.snapshot_write_s": tr.total("storage.snapshot.frontier", traces) / n,
        "streaming.state_rows": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "streaming.state_mb": ops[-1]["memoryUsedBytes"] / MB if ops else 0.0,
        "streaming.admitted_ratio": fed_rows / max(gate_in, 1),
        "streaming.parked_rows": float(gate_in - fed_rows),
        "streaming.query_starts": float(len(runs)),
        "streaming.rows_added": float(runs[-1]["rows"] - before),
    }
    return layers, found


def frontier_size(wh: Path) -> int:
    """Rows of the full frontier snapshot the last micro-batch committed."""
    d = wh / "frontier" / f"snap-{checks.last_committed(wh):08d}"
    return sum(pq.read_metadata(f).num_rows for f in d.glob("*.parquet"))
