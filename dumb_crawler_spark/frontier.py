"""The frontier: priority queue + exact URL-seen set + crawl state
(SURVEY.md §2.1 S2-S4, §2.5 J1-J3, §2.6 A1/A2, §2.8 C2-C4).

The reference realizes all three roles in one SQLite table ``links``
(URLStore.java:82-97). Here the frontier is a DataFrame with explicit
partition column ``part`` (salted murmur3 host bucket — urlkit.part_of), and
every mutation is a declarative plan:

- insert        = one Arrow collect of the candidates, driver-side dedupe
                  + seen-check → ins- delta       (URLStore.java:127-147)
- dequeue       = window rank / ordered limit     (URLStore.java:185-208)
- state change  = k-row update delta, composed on read by a left join +
                  conditional select              (URLStore.java:159-183)

The dequeue's plan pieces live here (eligible_raw, the plan_dequeue seed
pass, host_cap_split); planner.IncrementalPlanner assembles them into every
round's plan from its driver-side counts.

Scale notes (10^10 rows, 1000 executors):
- Every operation here keys on ``url_id`` or groups by ``host``; both are
  functionally dependent on ``part``, so with the frontier stored as an
  Iceberg table bucketed by ``part`` these shuffles become storage-partitioned
  joins (SPJ) / partition-local windows — no full-table shuffle. Locally,
  AQE handles sizing.
- The seen-check (J3) is the hot spot. A round's candidate links are
  k-bounded (k × links per page), so the ingest collects them once and
  dedupes and bloom-probes them on the driver (bloom.py); only the
  bloom-positives (≈ duplicates + fpr) reach Spark, as a file of ids that
  one broadcast left-semi join matches against the seen ids — the
  frontier-sized side is scanned, never shuffled.
- The dequeue top-K never sorts the whole frontier: the politeness cap ranks
  only the over-budget hosts' rows (a per-host window, partition-local after
  the part bucketing), and the top-K compiles to TakeOrderedAndProject
  (per-partition heap top-K, then a K-row merge on the driver).
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .bloom import _h1h2
from .config import CrawlConfig
from .filters import can_attempt, is_http, is_url_allowed
from .tagging import priority_for_tags, tag_urls, with_seed_tag
from .urlkit import apply_layers, canonical_url_layers, part_of, url_id, url_parts_layers

# Status codes, verbatim from URLStore.java:17-22
QUEUED, PROCESSING, PROCESSED, FAILED = 0, 1, 2, 3

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url_id", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), True),
    T.StructField("tags", T.ArrayType(T.StringType()), False),
    T.StructField("status", T.ByteType(), False),
    T.StructField("priority", T.IntegerType(), False),
    T.StructField("attempt", T.IntegerType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("created_round", T.IntegerType(), False),
    T.StructField("taken_round", T.IntegerType(), True),
    T.StructField("completed_round", T.IntegerType(), True),
    # J5: round of the URL's latest saved page, NULL if never saved (the
    # reference's url_index hit) — UPDATED_PAGES reads it off the dequeued row
    T.StructField("saved_round", T.IntegerType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("part", T.IntegerType(), False),
])


# the frontier as every writer writes it: all columns nullable, so pyarrow
# concatenates Spark-written and pyarrow-written files
FRONTIER_ARROW = to_arrow_schema(
    T.StructType([T.StructField(f.name, f.dataType, True) for f in FRONTIER_SCHEMA])
)


class UrlKernel:
    """The URL kernel of one crawl config (§3.2): url → canonicalize (U9) →
    parts (U1) → tags (T1) → priority (T2, from expression tags only) →
    url_id (U2) → host/part, one narrow select per layer (urlkit.py) —
    single stage, zero shuffle — plus the T4 re-tag, the F2 (and J6-NR
    robots) verdict and the frontier insert. Every piece depends on ``cfg``
    and ``robots`` alone, so each is built once, on first use, and every
    later plan reuses it: a Column is an unresolved expression, and
    rebuilding these trees costs thousands of py4j calls per round."""

    def __init__(self, cfg: CrawlConfig, robots: DataFrame | None = None):
        self.cfg = cfg
        self.robots = robots
        self._layers: dict[bool, list[list[Column]]] = {}  # seeds → candidate layers
        self._verdicts: dict[bool, tuple] = {}  # seeds → ingest verdict plan

    @cached_property
    def allowed(self) -> Column:
        """F2 LinkFilter gate with the F1 protocol guard (LinkFilter.java:24-44).
        Seeds bypass it (initialize() calls addTasks directly,
        DumbCrawler.java:61-67,143-146)."""
        return is_url_allowed(F.col("url"), F.col("tags"), self.cfg)

    def _candidate_layers(self, seeds: bool) -> list[list[Column]]:
        cfg = self.cfg
        url, host, tags, priority, uid = map(F.col, ("url", "host", "tags", "priority", "url_id"))
        return [
            *canonical_url_layers(),
            *url_parts_layers(with_host=True),
            [url, host, tag_urls(F.col("_parts"), cfg).alias("tags")],
            [
                url, host,
                # the seed tag goes on AFTER scoring (DumbCrawler.java:292-300);
                # no alias otherwise — a redundant one can survive optimization
                # in one branch of the bloom union but not the other, which
                # breaks their exchange reuse (one more job per round)
                with_seed_tag(tags).alias("tags") if seeds else tags,
                priority_for_tags(tags, cfg).alias("priority"),
                url_id(url, cfg.id_extractor_pattern).alias("url_id"),
            ],
            [url, tags, priority, uid, host, part_of(host, uid, cfg.partitions, cfg.salt).alias("part")],
        ]

    def candidates(self, urls: DataFrame, seeds: bool = False) -> DataFrame:
        """``urls.url`` → (url, tags, priority, url_id, host, part).
        ``seeds=True`` prepends the 'seed' extra tag."""
        if seeds not in self._layers:
            self._layers[seeds] = self._candidate_layers(seeds)
        return apply_layers(urls, self._layers[seeds])

    @cached_property
    def _retag_layers(self) -> list[list[Column]]:
        fresh = tag_urls(F.col("_parts"), self.cfg).alias("tags")
        return [
            *url_parts_layers(keep=DEQUEUE_COLS),
            [fresh if c == "tags" else F.col(c) for c in DEQUEUE_COLS],
        ]

    def retag(self, dequeued: DataFrame) -> DataFrame:
        """T4: re-tag + re-filter at dequeue (DumbCrawler.java:276-279) —
        stored tags may be stale vs current config. Fresh tags REPLACE stored
        ones (so a seed's extra 'seed' tag is dropped here, exactly like the
        reference, which re-tags from the bare url). Returns the allowed rows
        only; the others stay PROCESSING — the reference leaks them the same
        way: filtered tasks were already marked taken and are never
        completed (DumbCrawler.java:275-279 + URLStore.java:191-206)."""
        return apply_layers(dequeued, self._retag_layers).where(self.allowed)

    def _verdict_plan(self, seeds: bool) -> tuple:
        """(the flag select, the J6-NR robots transform or None, the counters
        observed on the fence, the keep predicate). Seeds bypass F2 and
        robots (initialize() calls addTasks directly,
        DumbCrawler.java:61-67,143-146): F1 alone keeps them, and the one
        counter is the seeds it drops (IGNORED_URLS)."""
        if seeds not in self._verdicts:
            keep = ok = F.col("_ok")
            robots = None
            if seeds:
                flag, counters = is_http(F.col("url")), [F.count_if(~ok).alias("n_ignored")]
            else:
                flag = self.allowed
                counters = [F.count(F.lit(1)).alias("n_total"), F.count_if(ok).alias("n_ok")]
            if self.robots is not None and not seeds:
                from .robots import robots_verdict

                blocked, robots = F.col("_robots_blocked"), robots_verdict(self.robots)
                counters.append(F.count_if(ok & blocked).alias("n_blocked"))
                keep = ok & ~blocked
            self._verdicts[seeds] = [F.col("*"), flag.alias("_ok")], robots, counters, keep
        return self._verdicts[seeds]

    @cached_property
    def _ingest_cols(self) -> list[Column]:
        """The collected candidate columns: the insert's, plus the JVM-side
        bloom keys h1/h2."""
        h1, h2 = _h1h2(F.col("url_id"))
        cols = ("url_id", "url", "host", "tags", "priority", "part")
        return [*map(F.col, cols), h1.alias("h1"), h2.alias("h2")]

    def ingest(
        self, wh, urls: DataFrame, round_no: int, seen_round: int | None,
        seeds: bool = False, bloom=None,
    ) -> tuple[pa.Table, dict[str, int]]:
        """S4+J1-J3, the one insert path (crawl rounds, seeds, the stream):
        ``urls.url`` → URL kernel → F2 (+ robots) verdict, observed as
        counters → the kept rows not yet seen, written as round
        ``round_no``'s ``ins-`` delta (with no ``seen_round``, an empty
        warehouse's first snapshot). Returns those rows (frontier columns +
        bloom keys h1/h2) and the counters. The observation fences the
        kernel off from the keep filter, whose constraints Catalyst would
        otherwise spend seconds propagating through it (test_round_jobs).
        The kept candidates — a round's are bounded by k × links per page,
        and nothing caps links per page — are collected as Arrow in one
        job; the J1+J2 dedupe and the bloom probe run on the driver, and
        only the bloom's positives (all, without a bloom) are checked
        against the seen ids (``Warehouse.seen_among``, one job). The bloom
        has no false negatives, so the result is exact."""
        flag, robots, counters, keep = self._verdict_plan(seeds)
        flagged = self.candidates(urls, seeds).select(*flag)
        if robots is not None:
            flagged = robots(flagged)
        obs = Observation()
        cands = flagged.observe(obs, *counters).where(keep).select(*self._ingest_cols).toArrow()
        counts = {name: int(v or 0) for name, v in obs.get.items()}
        cands = dedupe_candidates(cands)
        if seen_round is not None and cands.num_rows:
            maybe = np.ones(cands.num_rows, dtype=bool) if bloom is None else bloom.probe(
                *(cands[c].to_numpy() for c in ("part", "h1", "h2"))
            )
            if maybe.any():
                seen = wh.seen_among(seen_round, round_no, cands["url_id"].filter(maybe))
                cands = cands.filter(pc.invert(pc.is_in(cands["url_id"], value_set=seen)))
        rows = insert_rows(cands, round_no)
        wh.write_frontier_inserts(round_no, rows.select(FRONTIER_ARROW.names), seen_round is None)
        return rows, counts


def dedupe_candidates(cands: pa.Table) -> pa.Table:
    """J1+J2 in-batch dedup by url_id. The reference's "last wins" toMap
    merge (URLStore.java:134) iterates a HashSet — nondeterministic; per
    SURVEY.md §2.8-D1 the deterministic spec keeps (max priority, then min
    url) per url_id. One driver sort — Arrow compares strings bytewise, as
    Spark does — then the first row of each url_id run."""
    if cands.num_rows < 2:
        return cands
    cands = cands.take(pc.sort_indices(cands, sort_keys=[
        ("url_id", "ascending"), ("priority", "descending"), ("url", "ascending"),
    ]))
    ids = cands["url_id"]
    first = np.ones(cands.num_rows, dtype=bool)
    first[1:] = pc.not_equal(ids[1:], ids[:-1]).to_numpy()
    return cands.filter(first)


def insert_rows(cands: pa.Table, round_no: int) -> pa.Table:
    """New frontier rows — QUEUED, attempt 0, created at depth ``round_no``
    — from deduped candidates, in :data:`FRONTIER_ARROW` with the
    candidates' h1/h2 after it."""
    n = cands.num_rows
    fixed = {"status": QUEUED, "attempt": 0, "depth": round_no, "created_round": round_no}
    cols = [
        cands[f.name] if f.name in cands.column_names
        else pa.array(np.full(n, fixed[f.name]), f.type) if f.name in fixed
        else pa.nulls(n, f.type)
        for f in FRONTIER_ARROW
    ]
    rows = pa.Table.from_arrays(cols, names=FRONTIER_ARROW.names).cast(FRONTIER_ARROW)
    return rows.append_column("h1", cands["h1"]).append_column("h2", cands["h2"])


DEQUEUE_COLS = [
    "url_id", "url", "host", "tags", "priority", "attempt", "depth", "saved_round", "part",
]
# the read schema of the dequeued batch's round-scoped file (the fetch input)
DEQUEUE_SCHEMA = T.StructType([FRONTIER_SCHEMA[c] for c in DEQUEUE_COLS])


def eligible_raw(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """QUEUED ∧ attempt<max, pruned to the dequeue columns — the set every
    round's dequeue plan reads. No executor cache: the plan reads it straight
    off the frontier view, so the status and attempt predicates push down to
    the parquet scan."""
    return frontier.where(
        (F.col("status") == QUEUED) & can_attempt(F.col("attempt"), cfg)
    ).select(*DEQUEUE_COLS)


def plan_dequeue(eligible: DataFrame, hosts: bool = True) -> tuple[int, dict[str, int] | None]:
    """The dequeue planner's seed pass (planner.IncrementalPlanner.seed_from):
    (eligible total, per-host eligible counts | None) — one ``groupBy(host)``
    collect when ``hosts``, else one count. It runs once per bootstrap or
    resume; every later round updates both from its k-row deltas."""
    if not hosts:
        return eligible.count(), None
    counts = {r["host"]: r["count"] for r in eligible.groupBy("host").count().collect()}
    return sum(counts.values()), counts


def host_cap_split(eligible: DataFrame, over_hosts: list[str], cap: Column) -> DataFrame:
    """The eligible set under the per-host politeness cap: a row_number window
    over ONLY the over-budget hosts' rows — under-budget hosts pass
    wholesale, zero shuffle of their rows. ``cap`` is the row's host budget,
    an expression over ``host``. NULL hosts (can't occur for F1-filtered
    http URLs) pass uncapped."""
    in_over = F.col("host").isin(over_hosts)
    under = eligible.where(~in_over | F.col("host").isNull())
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("attempt"), F.asc("url_id")
    )
    ranked = eligible.where(in_over).withColumn("_hr", F.row_number().over(w))
    return under.unionByName(ranked.where(F.col("_hr") <= cap).drop("_hr"))


DEQUEUE_ORDER_SCHEMA = T.StructType([
    T.StructField("round", T.IntegerType()),
    T.StructField("seq", T.LongType()),
    T.StructField("url_id", T.StringType()),
    T.StructField("host", T.StringType()),
])


def dequeue_order_table(batch: pa.Table, round_no: int) -> pa.Table:
    """(round, seq, url_id, host) lineage rows of one dequeued batch (a
    pyarrow Table with DEQUEUE_COLS): seq = contiguous 0-based rank in D2
    order (priority DESC, attempt ASC, url_id ASC) — golden-comparable
    against the oracle's enumerate(). Arrow compares strings bytewise, as
    Spark does. The batch is ≤ k rows by construction, so one driver-side
    sort replaces a distributed rank; host rides along for the politeness
    checks."""
    order = pc.sort_indices(batch, sort_keys=[
        ("priority", "descending"), ("attempt", "ascending"), ("url_id", "ascending"),
    ])
    n = batch.num_rows
    return pa.table({
        "round": pa.array(np.full(n, round_no, dtype=np.int32)),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "url_id": batch["url_id"].take(order),
        "host": batch["host"].take(order),
    })


# -- merge-on-read round deltas (Iceberg MoR analog; SURVEY.md §4 "Iceberg
# MERGE churn" risk) -----------------------------------------------------------
#
# Rewriting the whole frontier every round is O(frontier) work per round —
# catastrophic at 10^10 rows. Instead a round persists only its k-bounded
# deltas and reads compose them:
#
#   frontier(R) = (base snapshot ∪ ins-deltas(s..R])  ⟕  upd-deltas(s..R]
#
# The upd side stays broadcast-sized because status transitions are
# TERMINAL (QUEUED→{PROCESSING-leak, PROCESSED, FAILED}; SURVEY.md §2.8-C3):
# each url_id appears in AT MOST ONE upd delta per base epoch, so composition
# is a plain union + one broadcast join — no per-read aggregation, no
# last-wins window. Periodic compaction (storage.COMPACT_EVERY) rewrites the
# reconciled snapshot and resets the delta window.

UPDATE_DELTA_SCHEMA = T.StructType([
    T.StructField("url_id", T.StringType()),
    T.StructField("status", T.ByteType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("error", T.StringType()),
    T.StructField("done", T.BooleanType()),
    T.StructField("round", T.IntegerType()),
    T.StructField("saved_round", T.IntegerType()),
])


_UPDATE_DELTA_ARROW = to_arrow_schema(UPDATE_DELTA_SCHEMA)


def round_update_delta(dequeued: pa.Table, results: pa.Table, round_no: int) -> pa.Table:
    """The k-bounded status-transition delta of one round (C3 + the
    taken-mark, URLStore.java:159-206), built on the driver from the
    dequeued batch and the round's fetch results (url_id, tags, ok, error,
    saved): every dequeued row appears exactly once — PROCESSING if it was
    filtered before fetch (the reference's leak), else PROCESSED/FAILED with
    fresh tags + error, and ``saved_round`` set when the round saved the page
    (``results.saved``, the F3 gate). Both sides are ≤ k rows, so an Arrow
    hash lookup replaces a Spark left join."""
    at = pc.index_in(dequeued["url_id"], value_set=results["url_id"].combine_chunks())
    done = at.is_valid()
    status = pc.if_else(
        done, pc.if_else(results["ok"].take(at), PROCESSED, FAILED), PROCESSING
    )
    rnd = pa.scalar(round_no, pa.int32())
    return pa.table({
        "url_id": dequeued["url_id"],
        "status": status,
        "tags": results["tags"].take(at),
        "error": results["error"].take(at),
        "done": done,
        "round": pa.array(np.full(dequeued.num_rows, round_no, dtype=np.int32)),
        "saved_round": pc.if_else(results["saved"].take(at), rnd, pa.scalar(None, pa.int32())),
    }).cast(_UPDATE_DELTA_ARROW)


def compose_frontier(base: DataFrame, inserts: DataFrame | None, upds: DataFrame | None) -> DataFrame:
    """Reconcile base ∪ inserts with the update deltas — the same rows a
    full rewrite of the frontier per round would give (that rewrite is the
    reference in tests/test_frontier.py). The upd side is k×rounds rows —
    broadcast. ``saved_round`` is sticky: a save sets it, every other
    completion keeps it. One select reconciles every column."""
    full = base if inserts is None else base.unionByName(inserts)
    if upds is None:
        return full
    u = F.broadcast(upds.select("url_id", *(
        F.col(c).alias(a) for c, a in (
            ("status", "_us"), ("tags", "_ut"), ("error", "_ue"), ("done", "_ud"),
            ("round", "_ur"), ("saved_round", "_usr"),
        )
    )))
    touched = F.col("_us").isNotNull()
    done = F.coalesce(F.col("_ud"), F.lit(False))
    reconciled = {
        "status": F.coalesce(F.col("_us"), F.col("status")),
        "taken_round": F.when(touched, F.col("_ur")).otherwise(F.col("taken_round")),
        **{c: F.when(done, F.col(new)).otherwise(F.col(c)) for c, new in (
            ("tags", "_ut"), ("error", "_ue"), ("completed_round", "_ur"),
        )},
        "attempt": F.when(done, F.col("attempt") + 1).otherwise(F.col("attempt")),
        "saved_round": F.coalesce(F.col("_usr"), F.col("saved_round")),
    }
    return full.join(u, "url_id", "left").select(*(
        reconciled[c].alias(c) if c in reconciled else F.col(c)
        for c in FRONTIER_SCHEMA.fieldNames()
    ))


def queued_view(base: DataFrame, inserts: DataFrame | None, upds: DataFrame | None) -> DataFrame:
    """The dequeue-eligible frontier WITHOUT column reconciliation.

    Because updates are terminal, status==QUEUED ⟺ (base-or-ins row is
    QUEUED) ∧ (url_id has no update). The status filter therefore pushes
    down to the parquet scan (PushedFilters: EqualTo(status,0) — pinned by
    test), and the update side degrades to a broadcast anti-join on ids.
    Columns (attempt, tags, priority…) are exact for QUEUED rows: only done
    rows ever mutate them."""
    full = base if inserts is None else base.unionByName(inserts)
    q = full.where(F.col("status") == QUEUED)
    if upds is None:
        return q
    return q.join(F.broadcast(upds.select("url_id")), "url_id", "left_anti")


def status_counts(frontier: DataFrame) -> DataFrame:
    """A2: SELECT status, count(*) GROUP BY status (URLStore.java:41-52) —
    partial/final hash agg, no full shuffle of data, only of counts."""
    return frontier.groupBy("status").count()
