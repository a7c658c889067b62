"""C1: the crawl-round loop (SURVEY.md §2.8, §3.1 step 4-6 as set operations).

The reference's main loop polls futures every second
(DumbCrawler.java:61-79,302-310); one Spark **round** executes the same
dataflow as declarative plans over the whole batch:

    dequeue (A1) → mark PROCESSING → re-tag/re-filter (T4/F2)
    → fetch-simulate join docs (J4) → validate (F5/F6)
    → extract links (L2) → canonicalize/tag/score/filter (U9/U2/T1/T2/F2)
    → merge new links into frontier (J1-J3/S4) → errors (S11)
    → mark PROCESSED/FAILED (C3) → append pages (S7/S8; J5 off the row)
    → append metrics (A3/S10) → commit round (lineage)

Every k-bounded step is either one Spark action or pure driver work, and
the k-bounded hand-offs between them are Arrow tables and files, never
local relations. The dequeued batch (≤ k rows by construction) is
collected ONCE as Arrow; the driver derives its count, the D2 lineage
(written with pyarrow), the planner's decrements and the planned-count
drift check from it, and writes it once with pyarrow for the fetch plan to
scan. The link ingest (frontier.UrlKernel.ingest) collects the round's
allowed candidate links once as Arrow, dedupes and bloom-probes them on
the driver, verifies the positives with one semi-join and writes the ins
delta with pyarrow; the URL-seen bloom and the planner state grow from the
same table. The round's other two k-row tails are driver work too: the C3
update delta (the dequeued batch matched against one pyarrow read of the
fetch delta) and the S11 errors delta (that delta's failed rows) are
pyarrow writes. The counters ride actions that run anyway as observed
metrics: the A3 fetch counters on the fetch write, the F2/robots counters
on the ingest's collect, the J5 new-vs-update split on the pages write (the
dequeued row's ``saved_round``, an exact per-URL record like the
reference's url_index, says whether the page was saved before). The
Warehouse pins each table's read schema, so no per-read schema-inference
job runs either.

Plans are built once per Crawler: every expression that depends on the
config alone — the URL kernel, the T4 re-tag, the F2 and robots verdicts,
the fetch artifact's columns, the counters — is built on first use and
reused by every round (a Column is an unresolved expression), so a round
adds only its literals (the round number) and its joins. Each layered
kernel is one select per layer (urlkit.py).

Exactly-once rounds: all table writes land BEFORE the round's commit marker
(storage.py); a crash mid-round leaves the previous round's state intact —
the batch analog of the reference's orphan recovery (URLStore.java:54-58).

Termination: C6 empty-frontier stop (DumbCrawler.java:280-285) and the C5
task-killer analog — stop after N consecutive rounds with no new saved page
(TaskKiller.java:18-35; WarcStorageManager.java:27,93 sets the wall-clock
variable; rounds replace wall-clock per SURVEY.md D3).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import frontier as FR
from .bloom import PartitionedBloom
from .config import CrawlConfig
from .extract import BASE_PART_COLS, base_parts_layers, extract_links_with_base, order_spans
from .fetch import error_kinds, fetch_simulate
from .filters import should_store
from .planner import IncrementalPlanner
from .storage import COMPACT_EVERY, Warehouse
from .urlkit import apply_layers

BLOOM_PRESIZE_FLOOR = 4096  # the URL-seen bloom's smallest presize, keys per part


@dataclass
class RoundStats:
    round_no: int
    dequeued: int = 0
    counters: dict[str, int] = field(default_factory=dict)
    wall_seconds: float = 0.0  # run_round wall — steady-state vs first-round triage
    # per-round slice of Crawler.phase_times (run() diffs the accumulator
    # around each round) — lets a bench assert a phase is FLAT across rounds
    # (e.g. pages_write independence from crawl history) without event logs
    phase_seconds: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, value: int) -> None:
        if value:
            self.counters[name] = self.counters.get(name, 0) + int(value)


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        docs: DataFrame,
        warehouse_dir: str | Path,
        robots: DataFrame | None = None,
        use_bloom: bool = False,
        round_interval_ms: int = 60_000,
        compact_every: int = COMPACT_EVERY,
    ):
        self.spark = spark
        self.cfg = cfg
        self.docs = docs
        self.wh = Warehouse(spark, warehouse_dir)
        # one lineage schema across rounds: deltas written before `host`
        # existed read it back as NULL
        self.wh.pin_schema("dequeue_order", "delta", FR.DEQUEUE_ORDER_SCHEMA)
        self.wh.pin_schema("dequeued", "delta", FR.DEQUEUE_SCHEMA)
        self.history: list[RoundStats] = []
        self.robots = robots if cfg.politeness.respect_robots else None
        self.use_bloom = use_bloom
        self.compact_every = compact_every  # MoR delta-window bound (frontier.py)
        self._fr_count = 0  # remembered frontier size (avoids before/after double counts)
        self.phase_times: dict[str, float] = {}  # accumulated per-phase secs (perf triage)
        self._phase_lock = threading.Lock()  # phases may be timed off the main thread
        self._bloom = None
        # the round last bootstrapped to or committed: only its successor runs,
        # and only while it is the warehouse's last commit (planner staleness)
        self._round: int | None = None
        # the cfg-pure expressions every round's plans share (UrlKernel and
        # the cached properties below), built on first use
        self._urls = FR.UrlKernel(cfg, self.robots)
        # Dequeue planning (planner.py) for every round, every k and every
        # budget form: per-round planning is k-bounded driver algebra after
        # one seed pass, with no per-round eligible-set scan (the dominant
        # serial phase, BENCH.md round 2). The robots crawl-delay budgets
        # reach it as a driver dict, collected once here.
        budgets = None
        if self.robots is not None:
            from .robots import host_budgets

            default = cfg.politeness.budget_per_host_per_round or 2**31 - 1
            budgets = {
                r["host"]: r["host_budget"]
                for r in host_budgets(self.robots, round_interval_ms, default).collect()
            }
        self._planner = IncrementalPlanner(cfg, budgets)

    @contextmanager
    def _phase(self, name: str):
        t0 = time.time()
        main = threading.current_thread() is threading.main_thread()
        if main:  # job-description local properties are per-JVM-thread;
            # only the main thread's py4j connection is stable enough to tag.
            # Save/restore so nested phases reinstate the outer description.
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"phase:{name}")
        try:
            yield
        finally:
            if main:
                sc.setJobDescription(prev)
            with self._phase_lock:
                self.phase_times[name] = self.phase_times.get(name, 0.0) + (time.time() - t0)

    # -- bootstrap / resume ----------------------------------------------------
    def bootstrap(self) -> int:
        """Seed injection (S2) as round 0, or resume from the last committed
        round (S3 frontier-scan; A6 latest-session max). Phase-tagged so
        event-log attribution separates one-time setup from round work."""
        with self._phase("bootstrap"):
            last = self.wh.last_committed_round()
            if last is not None:
                self.wh.rollback_uncommitted()
                # planner state may include a rolled-back round's deltas:
                # the next round seeds afresh from the committed frontier
                self._planner = IncrementalPlanner(self.cfg, self._planner.budgets)
                self._fr_count = self.wh.frontier_size(last)
                self._round = last
                return last
            seeds_df = self.spark.createDataFrame(
                [(s,) for s in self.cfg.seeds], T.StructType([T.StructField("url", T.StringType())])
            )
            stats = RoundStats(0)
            rows, counts = self._urls.ingest(self.wh, seeds_df, 0, None, seeds=True)
            self._fr_count = rows.num_rows
            stats.add("IGNORED_URLS", counts["n_ignored"])
            stats.add("DISCOVERED_URLS", self._fr_count)
            self._append_metrics(0, stats)
            self.wh.commit_round(0, {"dequeued": 0, "seeded": len(self.cfg.seeds)})
            self.history.append(stats)
            self._round = 0
            return 0

    # -- the cfg-pure pieces of a round's plans, built once per Crawler -------
    @cached_property
    def _fetch_artifact(self):
        """J4+F5/F6+L2 fetch artifact plan (one row per allowed input row):
        L2 links over the fetch join (base-URL pieces layered), with the F3
        store gate evaluated once as ``saved`` — the pages sink, the
        UNSAVED_PAGES counter and the update delta all read it."""
        fetch, star, ok = fetch_simulate(self.docs, self.cfg), F.col("*"), F.col("ok")
        saved = ok & F.coalesce(should_store(F.col("tags"), self.cfg), F.lit(False))
        layers = [
            *base_parts_layers(),
            [star, F.when(ok, extract_links_with_base(F.col("spans"))).alias("links")],
            [star, F.size("links").alias("n_links"), saved.alias("saved")],
        ]
        return lambda allowed: apply_layers(fetch(allowed), layers).drop(*BASE_PART_COLS)

    @cached_property
    def _fetch_counters(self) -> list[Column]:
        """ONE set of aggregates over the fetch artifact yields
        PROCESSED_URLS, every ERROR_*, MAX_ATTEMPT_COUNT_REACHED, the F3 store
        split and the A4 warns (A3; URLStore.java:176-180,
        AbstractStorageManager.java:37-50, DumbCrawler.java:108-110)."""
        cfg, ok, n_links = self.cfg, F.col("ok"), F.col("n_links")
        named = {
            "PROCESSED_URLS": F.col("error").isNull(),
            **{f"ERROR_{e}": F.col("error") == e for e in error_kinds(cfg)},
            "MAX_ATTEMPT_COUNT_REACHED": F.col("attempt") + 1 >= cfg.max_attempt_count,
            "UNSAVED_PAGES": ok & ~F.col("saved"),
            "WARN_EMPTY_LINKS": ok & (n_links == 0),
            "WARN_TOO_MANY_LINKS": ok & (n_links > 300),
        }
        return [F.count_if(cond).alias(name) for name, cond in named.items()]

    # -- one round ----------------------------------------------------------------
    def run_round(self, round_no: int) -> RoundStats:
        last = self.wh.last_committed_round()
        if self._round is None or last != self._round or round_no != last + 1:
            raise RuntimeError(f"round {round_no} refused: this Crawler is at round "
                               f"{self._round}, the warehouse at {last}; resume with a new one")
        cfg = self.cfg
        stats = RoundStats(round_no)
        # dequeue-eligible view: pushdown-friendly, no column reconciliation
        # (frontier.queued_view — terminal-transition invariant)
        frq = self.wh.read_frontier_queued(round_no - 1)

        # A1 dequeue; k mirrors the reference's 2×pool backpressure budget
        # (DumbCrawler.java:266-274).
        k = cfg.thread_count * 2
        eligible = FR.eligible_raw(frq, cfg)
        with self._phase("dequeue_plan"):
            # driver-held eligible total + host counts (planner.py): no
            # Spark work before the dequeue itself, which reads the frontier
            # parquet directly — status/attempt predicates push down to
            # row-group stats (the snapshot is written sorted by (status,
            # priority DESC)).
            if not self._planner.ready:
                # seed pass: the ONE full scan per bootstrap/resume
                self._planner.seed_from(eligible)
            dq_plan, planned_n = self._planner.plan(eligible, k)

        # The dequeued batch is ≤ k rows by construction: ONE Arrow collect,
        # then driver work — the count, the D2 lineage, the planner's
        # decrements — and the fetch plan reads it back as a file.
        with self._phase("dequeue"):
            batch = dq_plan.toArrow()
        stats.dequeued = batch.num_rows
        if planned_n != stats.dequeued:
            raise AssertionError(
                f"dequeue drift: planned={planned_n}, executed={stats.dequeued}"
            )
        if stats.dequeued == 0:
            return stats
        self.wh.append_delta_rows(
            "dequeue_order", round_no, FR.dequeue_order_table(batch, round_no)
        )
        self._planner.on_dequeued(batch)
        # written once with pyarrow, read back as a pinned-schema file scan
        # (dropped at commit, like the fetch delta): a scan has no rows for
        # Catalyst to fold the re-tag into, as it would into a k-row local
        # relation, and optimizes in a fraction of the time
        self.wh.append_delta_rows("dequeued", round_no, batch)
        dq = self.wh.read_delta("dequeued", round_no)

        # T4 re-tag + re-filter; disallowed rows leak as PROCESSING (reference
        # marks taken before filtering, URLStore.java:191-206 + DumbCrawler.java:275-279).
        # J4 + F5/F6 + L2 link extraction, materialized as a per-round parquet
        # artifact (`fetch` table) instead of an executor-heap cache: the rows
        # carry full span payloads (~KBs each), and columnar-compressed files
        # + column-pruned re-reads beat caching GBs of span data in the heap
        # (measured: the cache build GC-thrashed local[32] into anti-scaling).
        # The A3 fetch counters ride the write as observed metrics.
        fobs = Observation()
        artifact = self._fetch_artifact(self._urls.retag(dq)).observe(fobs, *self._fetch_counters)
        with self._phase("fetch_write"):
            allowed_n = self.wh.append_delta("fetch", round_no, artifact)
        # fetch_simulate emits exactly one row per allowed input row, so the
        # artifact's footer count IS the T4-allowed count
        stats.add("ALLOWED_LINKS", allowed_n)
        stats.add("IGNORED_LINKS", stats.dequeued - allowed_n)
        fcounts = {name: int(v or 0) for name, v in fobs.get.items()}
        for name, v in fcounts.items():
            stats.add(name, v)
        fetched = self.wh.read_delta("fetch", round_no)

        with self._phase("ingest"):
            self._ingest_links(round_no, fetched, stats)
        # The round's two k-row tails are driver work over the fetch delta
        # just written, read with pyarrow like the dequeued batch is held: the
        # S11 errors sink (the failed rows, spans included) and the C3 update
        # delta. The frontier is NEVER rewritten in-round — the update delta
        # is composed on read (frontier.compose_frontier; compaction bounds
        # the delta window), so the per-round write is O(k), not O(frontier).
        if allowed_n > fcounts["PROCESSED_URLS"]:
            with self._phase("errors_write"):
                failed = self.wh.read_delta_rows(
                    "fetch", round_no, ["url_id", "url", "error", "spans"], where=~pc.field("ok")
                )
                rnd = pa.array(np.full(failed.num_rows, round_no, dtype=np.int32))
                self.wh.append_delta_rows("errors", round_no, failed.add_column(3, "round", rnd))
        with self._phase("upd_write"):
            results = self.wh.read_delta_rows(
                "fetch", round_no, ["url_id", "tags", "ok", "error", "saved"]
            )
            self.wh.write_frontier_updates(
                round_no, FR.round_update_delta(batch, results, round_no)
            )
        for name, v in self._save_pages(round_no, fetched).items():
            stats.add(name, v)
        self._fr_count += stats.counters.get("DISCOVERED_URLS", 0)

        with self._phase("compact"):
            self.wh.compact_frontier(round_no, cfg.partitions, self.compact_every)

        with self._phase("commit"):
            self._append_metrics(round_no, stats)
            self.wh.commit_round(round_no, {"dequeued": stats.dequeued, **stats.counters})
            # the per-round fetch artifact (full span payloads) is consumed
            # only within its round — spans persist in pages/errors; without
            # this the warehouse grows O(k × page bytes) every round
            self.wh.drop_delta("fetch", round_no)
            self.wh.drop_delta("dequeued", round_no)
        self._round = round_no
        return stats

    def _ingest_links(self, round_no: int, fetched: DataFrame, stats: RoundStats) -> None:
        """Link ingest (§3.2): the ok rows' links, exploded, through the one
        insert path (frontier.UrlKernel.ingest), which observes the F2/robots
        counters on its fence and returns the inserted rows; the URL-seen
        bloom and the planner state grow from them on the driver."""
        links = fetched.where(F.col("ok")).select(F.explode_outer("links").alias("url"))
        links = links.where(F.col("url").isNotNull())
        if self.use_bloom and self._bloom is None:
            # a distributed build, presized so the driver-side growth
            # (add_local) keeps its (m, k) until a part outgrows it
            presize = max(BLOOM_PRESIZE_FLOOR, (self._fr_count // self.cfg.partitions + 1) * 8)
            seen_ids = self.wh.read_frontier_seen_ids(round_no - 1)
            self._bloom = PartitionedBloom.build(seen_ids, expected_per_part=presize)
        ins, vals = self._urls.ingest(self.wh, links, round_no, round_no - 1, bloom=self._bloom)
        stats.add("ALLOWED_LINKS", vals["n_ok"])
        stats.add("IGNORED_LINKS", vals["n_total"] - vals["n_ok"])
        if self.robots is not None:
            stats.add("ROBOTS_BLOCKED_LINKS", vals["n_blocked"])
        stats.add("DISCOVERED_URLS", ins.num_rows)
        if ins.num_rows:
            self._planner.on_inserts(ins)
            if self.use_bloom:
                self._bloom = self._bloom.add_local(
                    *(ins[c].to_numpy() for c in ("part", "h1", "h2"))
                )
                if self._bloom.overfull:  # rebuilt next round, presized anew
                    self._bloom = None

    @cached_property
    def _pages_plan(self) -> tuple[Column, Column, list[Column], Column]:
        """(F3 gate, the J5 update count, the page columns around ``round``)."""
        saved_before = F.count_if(F.col("saved_round").isNotNull()).alias("upd")
        spans = order_spans(F.col("spans")).alias("spans")
        return F.col("saved"), saved_before, [F.col("url_id"), F.col("url")], spans

    def _save_pages(self, round_no: int, fetched: DataFrame) -> dict[str, int]:
        """S7/S8 pages sink behind the F3 gate (the artifact's ``saved``);
        the span payload makes one pass (gate → order_spans → parquet). The
        J5 new-vs-update split rides the write as an observed metric: a page
        is UPDATED iff its dequeued frontier row carries a ``saved_round``
        (an earlier round saved it) — O(k), no pages-history read."""
        gate, saved_before, head, spans = self._pages_plan
        obs = Observation()
        saved = (
            fetched.where(gate)
            .observe(obs, saved_before)
            .select(*head, F.lit(round_no).alias("round"), spans)
        )
        with self._phase("pages_write"):
            saved_n = self.wh.append_delta("pages", round_no, saved, keep_empty=False)
        if saved_n == 0:
            return {}
        upd_n = int(obs.get["upd"])
        return {"NEW_SAVED_PAGES": saved_n - upd_n, "UPDATED_PAGES": upd_n, "SAVED_PAGES": saved_n}

    def _append_metrics(self, round_no: int, stats: RoundStats) -> None:
        items = sorted(stats.counters.items())
        self.wh.append_delta_rows(
            "metrics",
            round_no,
            pa.table(
                {
                    "round": pa.array([round_no] * len(items), pa.int32()),
                    "counter": pa.array([k for k, _ in items], pa.string()),
                    "value": pa.array([int(v) for _, v in items], pa.int64()),
                }
            ),
        )

    # -- loop -------------------------------------------------------------------
    def run(
        self, max_rounds: int | None = None, refetch: bool = False, verbose: bool = False
    ) -> list[RoundStats]:
        start = self.bootstrap()
        if refetch and start > 0:
            # C4 refetch-all reset (dormant in the reference: URLStore.java:60-68
            # hardcodes refetch=false — `UPDATE links SET status = 0`)
            fr = self.wh.read_frontier(start).withColumn("status", F.lit(FR.QUEUED).cast("tinyint"))
            self.wh.write_frontier_snapshot(start, fr, self.cfg.partitions)
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        rnd = start
        rounds_without_new_pages = 0
        t_start = time.time()
        while limit is None or rnd - start < limit:
            rnd += 1
            _t_round = time.time()
            _ph_before = dict(self.phase_times)
            stats = self.run_round(rnd)
            stats.wall_seconds = time.time() - _t_round
            stats.phase_seconds = {
                k: round(v - _ph_before.get(k, 0.0), 3)
                for k, v in self.phase_times.items()
                if v - _ph_before.get(k, 0.0) > 0.0005
            }
            self.history.append(stats)
            if verbose:
                # C8 stats printer analog (DumbCrawler.java:196-231): one
                # structured line per round instead of a 60s wall-clock timer,
                # carrying the reference's uptime + JVM heap readings
                import json as _json

                rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                print(_json.dumps({
                    "round": rnd,
                    "dequeued": stats.dequeued,
                    **stats.counters,
                    "uptime_s": round(time.time() - t_start, 1),
                    "jvm_used_mb": int((rt.totalMemory() - rt.freeMemory()) / 1048576),
                    "jvm_max_mb": int(rt.maxMemory() / 1048576),
                }))
            if stats.dequeued == 0:  # C6 empty-frontier stop
                self.wh.write_terminated({"round": rnd, "reason": "frontier_empty"})
                break
            if stats.counters.get("NEW_SAVED_PAGES", 0) == 0:
                rounds_without_new_pages += 1
            else:
                rounds_without_new_pages = 0
            # C5 task-killer analog (rounds replace wall-clock per D3)
            if self.cfg.max_rounds is None and rounds_without_new_pages >= 1000:
                self.wh.write_terminated({"round": rnd, "reason": "task_killer"})
                break
        return self.history

    # -- inspection helpers (S13 WarcViewer analog: ad-hoc queries on pages) ----
    def pages(self) -> DataFrame | None:
        return self.wh.read_deltas("pages")

    def dequeue_order(self) -> DataFrame | None:
        return self.wh.read_deltas("dequeue_order")

    def metrics_total(self) -> dict[str, int]:
        m = self.wh.read_deltas("metrics")
        if m is None:
            return {}
        return {r["counter"]: r["total"] for r in m.groupBy("counter").agg(F.sum("value").alias("total")).collect()}
