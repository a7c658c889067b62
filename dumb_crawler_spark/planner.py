"""Incremental dequeue planning — the round planner without the per-round
full-frontier pass (SURVEY.md §2.6-A1; reference dequeue URLStore.java:185-208).

round 2 measured the fused planning job (frontier.plan_dequeue: one
grouping-sets aggregation over the whole eligible set) as the dominant
SERIAL phase of a crawl round — the wall barely shrank from local[2] to
local[8], capping N→4N scaling efficiency (BENCH.md). The fix is algebraic:
the eligible set changes only by k-bounded deltas per round, so the planner's
two driver-side inputs can be maintained incrementally instead of re-derived
from a full scan:

- ``hist`` — the RAW (priority, attempt, url_id-prefix) class histogram of
  QUEUED ∧ attempt<max rows. Transitions are exact integer algebra:
    hist(R+1) = hist(R) − cells taken by round R's dequeue
                        + cells of round R's ins-delta.
  The taken cells are counted on the driver over the round's dequeued batch
  (≤ k rows, collected once by the crawler); the ins cells over the round's
  k-bounded ins-delta, read once as Arrow — never the 10^10-row frontier.
  Status flips are TERMINAL
  (QUEUED → PROCESSING-leak | PROCESSED | FAILED, never back — SURVEY.md
  §2.8-C3), so dequeued rows leave the eligible set permanently and the
  decrement is exact; the only re-queue paths (resume orphan reset, --refetch)
  reset the planner wholesale.
- ``hosts`` — per-host eligible counts for the politeness probe, maintained
  only when a budget is configured, by the same algebra over the same two
  driver-side tables.

The full grouping-sets pass now runs ONCE — at seed time (first round after
bootstrap/resume) — instead of every round. The politeness cap still needs a
small per-round job (the beyond-cap rows of the FEW over-budget hosts depend
on per-host ranking, not on any incrementally-maintainable total), but that
job scans only the over-budget hosts' rows — the skewed few, by construction.

Driver-memory honesty: the seeded host table is the collect-bounded piece
(≤ _PLAN_COLLECT_LIMIT rows). A frontier with more distinct hosts than that
disables the planner (fall back to the fused per-round job); at the
1000-executor design point the same algebra would instead maintain ``hosts``
as a small state TABLE merged with the k-bounded per-round deltas — the
driver dict is the sandbox-scale realization, not the algorithm.

Drift safety: every subtraction asserts non-negativity, and the crawler
cross-checks the plan walk's row count against the collected batch each round;
any violation raises (loudly) rather than silently degrading order.
"""

from __future__ import annotations

import threading
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import frontier as FR
from .config import CrawlConfig

Cell = tuple[int, int, str]  # (priority, attempt, url_id-prefix)

# _capped_by_algebra builds one chained CASE branch + (up to) one TakeOrdered
# edge subplan PER over-budget host — past a few dozen hosts the expression
# tree's Catalyst analysis/codegen cost dominates the window sort it avoids
# (VERDICT r03 item 3: a few hundred over hosts compiled a multi-thousand-
# branch CASE well before the 10k disable bail). Beyond this cap the planner
# keeps its driver-state algebra but caps via frontier.host_cap_split's
# per-host window — which sorts ONLY the over hosts' rows — and corrects the
# histogram with one small beyond-cells aggregation.
_ALGEBRA_OVER_MAX = 64


class IncrementalPlanner:
    """Driver-side planning state for the large-k (threshold) dequeue path.

    Lifecycle per crawl:
      seed_from(eligible)   -- once, full grouping-sets pass
      plan(eligible, k)     -- per round: in-memory walk (+ the small
                               beyond-cap job when a host is over budget)
      on_dequeued(batch)    -- subtract the dequeued batch's cells/hosts
      on_inserts(ins)       -- add the round's ins-delta cells/hosts
    Any bail (collect limit, unexpected shape) disables the planner; the
    crawler then uses the legacy fused plan_dequeue for the round.
    """

    def __init__(self, cfg: CrawlConfig, prefix_len: int = 3):
        self.cfg = cfg
        self.prefix_len = prefix_len
        self.hist: dict[Cell, int] | None = None
        self.hosts: dict[str, int] | None = None
        self.disabled = False
        self._lock = threading.Lock()  # guards hist/hosts against concurrent callers

    # -- applicability ---------------------------------------------------------
    def applicable(self, k: int | None, host_budgets: DataFrame | None) -> bool:
        """Incremental planning covers the bench/scale path: large-k threshold
        dequeue with at most the global politeness budget. Per-host budget
        TABLES (the robots crawl-delay path) would need budget values
        driver-side — those rounds use the legacy fused planner."""
        return (
            not self.disabled
            and host_budgets is None
            and k is not None
            and k > FR._TOPK_THRESHOLD_CUTOFF
        )

    @property
    def ready(self) -> bool:
        return self.hist is not None and not self.disabled

    def invalidate(self) -> None:
        self.hist = None
        self.hosts = None

    # -- seed (the one full pass) ---------------------------------------------
    def seed_from(self, eligible: DataFrame) -> bool:
        """ONE grouping-sets aggregation over the eligible set yields both
        state dicts (class histogram + per-host counts). Unlike
        frontier.plan_dequeue's probe this collects ALL host rows (the state
        must cover under-budget hosts too) — hence the honesty bail above."""
        pre = F.substring("url_id", 1, self.prefix_len)
        track_hosts = self.cfg.politeness.budget_per_host_per_round is not None
        if track_hosts:
            agg = (
                eligible.select("host", "priority", "attempt", pre.alias("_p"))
                .groupingSets(
                    [["host"], ["priority", "attempt", "_p"]],
                    "host", "priority", "attempt", "_p",
                )
                .agg(F.count(F.lit(1)).alias("_n"), F.grouping_id().alias("_gid"))
            )
        else:
            agg = (
                eligible.select("priority", "attempt", pre.alias("_p"))
                .groupBy("priority", "attempt", "_p")
                .agg(F.count(F.lit(1)).alias("_n"))
                .withColumn("_gid", F.lit(8))
            )
        rows = agg.limit(FR._PLAN_COLLECT_LIMIT).collect()
        if len(rows) >= FR._PLAN_COLLECT_LIMIT:
            self.disabled = True
            return False
        with self._lock:
            self.hist = {
                (r["priority"], r["attempt"], r["_p"]): r["_n"]
                for r in rows
                if r["_gid"] == 8
            }
            self.hosts = (
                {r["host"]: r["_n"] for r in rows if r["_gid"] == 7} if track_hosts else None
            )
        return True

    # -- per-round plan ---------------------------------------------------------
    def plan(
        self, eligible: DataFrame, k: int
    ) -> tuple[DataFrame, list[tuple], int] | None:
        """Same contract as frontier.plan_dequeue's threshold path, but the
        raw histogram and the over-budget host list come from driver state —
        the only Spark work before the dequeue itself is the small beyond-cap
        correction job over the over-budget hosts' rows (skipped entirely
        when no host exceeds its budget)."""
        assert self.ready
        budget = self.cfg.politeness.budget_per_host_per_round
        with self._lock:  # snapshot under the lock (ADVICE r03 lock discipline)
            hist = dict(self.hist)
            hosts = dict(self.hosts) if self.hosts is not None else None
        over = [h for h, n in hosts.items() if n > budget] if budget is not None else []
        if len(over) > FR._OVER_HOST_INLINE_MAX:
            self.disabled = True
            return None
        hist_list = [(p, a, pfx, n) for (p, a, pfx), n in hist.items()]
        if over and len(over) <= _ALGEBRA_OVER_MAX:
            capped, hist_list = self._capped_by_algebra(eligible, over, budget, hist, hosts)
            if capped is None:
                self.disabled = True
                return None
        elif over:
            # too many over hosts for inline CASE/edge subplans — per-host
            # window over ONLY the over set (the skewed few), one beyond-
            # cells aggregation corrects the histogram
            capped, hist_list = self._capped_by_window(eligible, over, hist)
            if capped is None:
                self.disabled = True
                return None
        else:
            capped = eligible
        df, offsets, taken = FR._dequeue_threshold_ex(
            capped, k, self.prefix_len, hist=hist_list
        )
        return df.select(*FR.DEQUEUE_COLS), offsets, taken

    def _capped_by_window(
        self, eligible: DataFrame, over: list[str], hist: dict[Cell, int]
    ) -> tuple[DataFrame | None, list[tuple] | None]:
        """Cap form for MANY over-budget hosts (> _ALGEBRA_OVER_MAX): the
        per-host row_number window of frontier.host_cap_split, restricted to
        the over hosts' rows — bounded plan size regardless of host count.
        The histogram correction is one aggregation over the beyond-cap rows
        (cells only, ≤ classes × 16^prefix_len — never per-host)."""
        capped, beyond = FR.host_cap_split(eligible, self.cfg, over, None)
        pre = F.substring("url_id", 1, self.prefix_len)
        removed = (
            beyond.groupBy("priority", "attempt", pre.alias("_p"))
            .count()
            .limit(FR._PLAN_COLLECT_LIMIT)
            .collect()
        )
        if len(removed) >= FR._PLAN_COLLECT_LIMIT:
            return None, None
        cells = dict(hist)
        for r in removed:
            key = (r["priority"], r["attempt"], r["_p"])
            cells[key] = cells.get(key, 0) - r["count"]
            assert cells[key] >= 0, f"windowed capped-histogram underflow at {key}"
        return capped, [(p, a, pfx, n) for (p, a, pfx), n in cells.items() if n > 0]

    def _capped_by_algebra(
        self,
        eligible: DataFrame,
        over: list[str],
        budget: int,
        hist: dict[Cell, int],
        hosts: dict[str, int],
    ) -> tuple[DataFrame | None, list[tuple] | None]:
        """Politeness cap over the over-budget hosts WITHOUT the per-host
        row_number window (a single-reducer sort of every hot host's rows —
        the measured serial phase of the round). Instead: ONE parallel
        aggregation yields each over host's (priority, attempt, url_id-prefix)
        cell counts; the driver walks each host's cells in D2 order until the
        budget is spent — whole cells above the boundary become a row-local
        PREDICATE (no shuffle, no sort), and only the single boundary bucket
        per host is topped off with a tiny TakeOrdered edge. Within a class,
        ordering by (prefix, url_id) equals ordering by url_id — prefix
        truncation preserves lexicographic order — so the result is
        row-for-row identical to the window form (pinned by the
        incremental-vs-legacy equality tests). The histogram correction
        (cells the cap removed) falls out of the same walk arithmetically —
        the old second collect job is gone. Scale shape: the aggregation is
        map-side combined over only the skewed hosts' rows; nothing sorts
        more than one prefix bucket (~rows/16^len) per host."""
        pre = F.substring("url_id", 1, self.prefix_len)
        cellrows = (
            eligible.where(F.col("host").isin(over))
            .groupBy("host", "priority", "attempt", pre.alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .limit(FR._PLAN_COLLECT_LIMIT)
            .collect()
        )
        if len(cellrows) >= FR._PLAN_COLLECT_LIMIT:
            return None, None
        by_host: dict[str, list[tuple[int, int, str, int]]] = {}
        for r in cellrows:
            by_host.setdefault(r["host"], []).append(
                (r["priority"], r["attempt"], r["_p"], r["_n"])
            )
        cells = dict(hist)

        def cell_sub(key: Cell, n: int) -> None:
            cells[key] = cells.get(key, 0) - n
            assert cells[key] >= 0, f"incremental capped-histogram underflow at {key}"

        keep_when = None  # chained CASE host WHEN h THEN above-boundary-cell
        edges: list[DataFrame] = []
        for h, hcells in by_host.items():
            hcells.sort(key=lambda c: (-c[0], c[1], c[2]))
            total = sum(n for _, _, _, n in hcells)
            assert total == hosts.get(h), (
                f"incremental host-count drift at {h!r}: agg={total}, state={hosts.get(h)}"
            )
            left = budget
            boundary = None
            for idx, (p, a, pfx, n) in enumerate(hcells):
                if left >= n:
                    left -= n
                else:
                    boundary = idx
                    break
            if boundary is None:
                continue  # whole host fits (can't happen while n > budget; harmless)
            bp, ba, bpfx, bn = hcells[boundary]
            # removed cells: the boundary's beyond-cap remainder + every cell after it
            cell_sub((bp, ba, bpfx), bn - left)
            for p, a, pfx, n in hcells[boundary + 1 :]:
                cell_sub((p, a, pfx), n)
            above = (
                (F.col("priority") > bp)
                | ((F.col("priority") == bp) & (F.col("attempt") < ba))
                | (
                    (F.col("priority") == bp)
                    & (F.col("attempt") == ba)
                    & (pre < bpfx)
                )
            )
            keep_when = (
                F.when(F.col("host") == h, above)
                if keep_when is None
                else keep_when.when(F.col("host") == h, above)
            )
            if left:
                edges.append(
                    eligible.where(
                        (F.col("host") == h)
                        & (F.col("priority") == bp)
                        & (F.col("attempt") == ba)
                        & (pre == bpfx)
                    )
                    .orderBy(F.asc("url_id"))
                    .limit(left)
                )
        capped = eligible if keep_when is None else eligible.where(
            keep_when.otherwise(F.lit(True))
        )
        for e in edges:
            capped = capped.unionByName(e)
        return capped, [(p, a, pfx, n) for (p, a, pfx), n in cells.items() if n > 0]

    # -- round feedback ---------------------------------------------------------
    def _counts(self, rows: pa.Table) -> tuple[Counter, Counter | None]:
        """(cell → rows, host → rows | None) of a driver-side Arrow table."""
        pre = [u[: self.prefix_len] for u in rows["url_id"].to_pylist()]
        cells = Counter(zip(rows["priority"].to_pylist(), rows["attempt"].to_pylist(), pre))
        hosts = Counter(rows["host"].to_pylist()) if self.hosts is not None else None
        return cells, hosts

    def on_dequeued(self, batch: pa.Table) -> None:
        """Subtract the round's dequeued batch (DEQUEUE_COLS, ≤ k rows, already
        collected by the crawler, which verified its size against the plan
        walk). Dequeued rows leave the eligible set for good — transitions
        are terminal."""
        cells, hosts = self._counts(batch)
        with self._lock:
            if self.hist is None:
                return
            _subtract(self.hist, cells, "histogram")
            if self.hosts is not None:
                _subtract(self.hosts, hosts, "host-count")

    def on_inserts(self, ins: pa.Table) -> None:
        """Add one round's ins-delta (url_id, host, priority, attempt, status
        columns as Arrow; k-bounded rows the crawler reads once for the bloom
        too). Inserted rows are QUEUED with attempt 0 by construction
        (frontier.new_link_rows); the eligibility filter is still applied
        verbatim for safety."""
        el = ins.filter(pc.and_(
            pc.equal(ins["status"], FR.QUEUED),
            pc.less(ins["attempt"], self.cfg.max_attempt_count),
        ))
        cells, hosts = self._counts(el)
        with self._lock:
            if self.hist is None:
                return
            for key, n in cells.items():
                self.hist[key] = self.hist.get(key, 0) + n
            if self.hosts is not None:
                for h, n in hosts.items():
                    self.hosts[h] = self.hosts.get(h, 0) + n


def _subtract(state: dict, counts: Counter, what: str) -> None:
    for key, n in counts.items():
        left = state.get(key, 0) - n
        assert left >= 0, f"incremental {what} underflow at {key!r}"
        if left:
            state[key] = left
        else:
            state.pop(key, None)
