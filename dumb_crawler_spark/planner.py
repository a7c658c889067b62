"""Incremental dequeue planning — every crawl round's planner, with no
per-round full-frontier pass (SURVEY.md §2.6-A1; reference dequeue
URLStore.java:185-208).

A round's plan needs two driver-side inputs, and the eligible set changes
only by k-bounded deltas per round, so both are maintained incrementally
instead of re-derived from a full scan:

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
  start from a fresh planner.
- ``hosts`` — per-host eligible counts, kept whenever any cap exists (the
  global politeness budget or a robots crawl-delay budget table), by the
  same algebra over the same two driver-side tables. A host's cap is
  ``budgets.get(host, budget)``; the budget table is a driver dict with one
  row per robots host that has a crawl delay, collected once by the crawler.
  Each round the over-budget hosts fall out of ``hosts`` with no Spark job.

The full grouping-sets pass (frontier.plan_dequeue) runs ONCE — at seed
time, the first round after bootstrap/resume — and every round, for every k
and every budget form, is planned here; there is no fallback planner. The
plan form follows k (frontier._TOPK_THRESHOLD_CUTOFF):

- k ≤ cutoff: the over-budget hosts' rows are capped by the per-host window
  (frontier.host_cap_split), then a TakeOrdered top-k. No histogram needed.
- k > cutoff: the histogram threshold walk; the cap is the cell algebra of
  _capped_by_algebra, or the window plus a beyond-cells correction past
  _ALGEBRA_OVER_MAX over-budget hosts.

Driver-state bound: one ``hosts`` entry per eligible host when a cap
exists, plus ≤ classes × 16^prefix_len ``hist`` cells. At the
1000-executor design point the same algebra would maintain ``hosts`` as a
small state TABLE merged with the k-bounded per-round deltas — the driver
dict is the single-machine realization, not the algorithm.

Drift safety: every subtraction asserts non-negativity, and the crawler
cross-checks each plan's exact row count against the collected batch every
round; any violation raises (loudly) rather than silently degrading order.
"""

from __future__ import annotations

import threading
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import frontier as FR
from .config import CrawlConfig

Cell = tuple[int, int, str]  # (priority, attempt, url_id-prefix)

# _capped_by_algebra builds one chained CASE branch + (up to) one TakeOrdered
# edge subplan PER over-budget host — past a few dozen hosts the expression
# tree's Catalyst analysis/codegen cost dominates the window sort it avoids
# (VERDICT r03 item 3: a few hundred over hosts compiled a multi-thousand-
# branch CASE). Beyond this cap the planner keeps its driver-state algebra
# but caps via frontier.host_cap_split's per-host window — which sorts ONLY
# the over hosts' rows — and corrects the histogram with one small
# beyond-cells aggregation.
_ALGEBRA_OVER_MAX = 64


class IncrementalPlanner:
    """Driver-side planning state for every round's dequeue.

    Lifecycle per crawl:
      seed_from(eligible)   -- once, full grouping-sets pass
      plan(eligible, k)     -- per round: over-budget hosts from ``hosts``,
                               then the k-selected plan form (module doc)
      on_dequeued(batch)    -- subtract the dequeued batch's cells/hosts
      on_inserts(ins)       -- add the round's ins-delta cells/hosts
    ``host_budgets`` is the robots crawl-delay budget table as a driver dict
    (host → budget); a host's cap is ``budgets.get(host, budget)``, where
    ``budget`` is the config's global per-host budget (None = uncapped).

    A plan selects A1 (URLStore.java:185-190) in the SURVEY.md §2.8-D2
    total order (priority DESC, attempt ASC, url_id ASC — SQLite's ORDER BY
    leaves ties unordered; the oracle uses the same rule): each host keeps
    its first ``cap`` eligible rows in that order, then the first k overall.
    """

    def __init__(
        self, cfg: CrawlConfig, host_budgets: dict[str, int] | None = None, prefix_len: int = 3
    ):
        self.cfg = cfg
        self.prefix_len = prefix_len
        self.budget = cfg.politeness.budget_per_host_per_round
        # a table entry never exceeds the global budget
        self.budgets = {
            h: b if self.budget is None else min(b, self.budget)
            for h, b in (host_budgets or {}).items()
        }
        self.hist: dict[Cell, int] | None = None
        self.hosts: dict[str, int] | None = None
        self._lock = threading.Lock()  # guards hist/hosts against concurrent callers

    @property
    def ready(self) -> bool:
        return self.hist is not None

    def _cap(self, host: str | None) -> int | None:
        return self.budgets.get(host, self.budget)

    # -- seed (the one full pass) ---------------------------------------------
    def seed_from(self, eligible: DataFrame) -> None:
        """ONE grouping-sets aggregation over the eligible set yields both
        state dicts (class histogram + per-host counts when a cap exists).
        Called through the module attribute, so a wrapper installed on
        frontier.plan_dequeue sees it."""
        track_hosts = self.budget is not None or bool(self.budgets)
        hist, hosts = FR.plan_dequeue(eligible, self.prefix_len, hosts=track_hosts)
        with self._lock:
            self.hist, self.hosts = hist, hosts

    # -- per-round plan ---------------------------------------------------------
    def plan(self, eligible: DataFrame, k: int) -> tuple[DataFrame, list[tuple] | None, int]:
        """(dequeue plan, threshold walk's bucket offsets | None, EXACT planned
        row count). The raw histogram and the over-budget host list come from
        driver state; the only Spark work before the dequeue itself is the
        small cap job of the large-k form on rounds with an over-budget host."""
        assert self.ready
        with self._lock:  # snapshot under the lock (ADVICE r03 lock discipline)
            hist = dict(self.hist)
            hosts = dict(self.hosts) if self.hosts is not None else {}
        over = [
            h for h, n in hosts.items()
            if h is not None and self._cap(h) is not None and n > self._cap(h)
        ]
        if k <= FR._TOPK_THRESHOLD_CUTOFF:
            capped = FR.host_cap_split(eligible, over, self._cap_col(over))[0] if over else eligible
            # TakeOrderedAndProject: per-partition heap top-k, k-row driver merge
            out = capped.orderBy(F.desc("priority"), F.asc("attempt"), F.asc("url_id"))
            n_capped = sum(hist.values()) - sum(hosts[h] - self._cap(h) for h in over)
            return out.limit(k).select(*FR.DEQUEUE_COLS), None, min(k, n_capped)
        hist_list = [(p, a, pfx, n) for (p, a, pfx), n in hist.items()]
        if over and len(over) <= _ALGEBRA_OVER_MAX:
            capped, hist_list = self._capped_by_algebra(eligible, over, hist, hosts)
        elif over:
            # too many over hosts for inline CASE/edge subplans — per-host
            # window over ONLY the over set (the skewed few), one beyond-
            # cells aggregation corrects the histogram
            capped, hist_list = self._capped_by_window(eligible, over, hist)
        else:
            capped = eligible
        df, offsets, taken = FR._dequeue_threshold_ex(
            capped, k, self.prefix_len, hist=hist_list
        )
        return df.select(*FR.DEQUEUE_COLS), offsets, taken

    def _cap_col(self, over: list[str]) -> Column:
        """The over hosts' caps as one expression over ``host``: a literal
        when they share one cap, else one isin branch per distinct cap (few:
        the global budget plus the distinct crawl-delay budgets)."""
        by_cap: dict[int, list[str]] = {}
        for h in over:
            by_cap.setdefault(self._cap(h), []).append(h)
        *rest, (last, _) = sorted(by_cap.items(), key=lambda c: len(c[1]))
        col = F.lit(last)
        for c, hs in rest:
            col = F.when(F.col("host").isin(hs), c).otherwise(col)
        return col

    def _capped_by_window(
        self, eligible: DataFrame, over: list[str], hist: dict[Cell, int]
    ) -> tuple[DataFrame, list[tuple]]:
        """Cap form for MANY over-budget hosts (> _ALGEBRA_OVER_MAX): the
        per-host row_number window of frontier.host_cap_split, restricted to
        the over hosts' rows — bounded plan size regardless of host count.
        The histogram correction is one aggregation over the beyond-cap rows
        (cells only, ≤ classes × 16^prefix_len — never per-host)."""
        capped, beyond = FR.host_cap_split(eligible, over, self._cap_col(over))
        pre = F.substring("url_id", 1, self.prefix_len)
        removed = beyond.groupBy("priority", "attempt", pre.alias("_p")).count().collect()
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
        hist: dict[Cell, int],
        hosts: dict[str, int],
    ) -> tuple[DataFrame, list[tuple]]:
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
        row-for-row identical to the window form (pinned by the planner-vs-
        reference equality tests). The histogram correction (cells the cap
        removed) falls out of the same walk arithmetically. Scale shape: the
        aggregation is
        map-side combined over only the skewed hosts' rows; nothing sorts
        more than one prefix bucket (~rows/16^len) per host."""
        pre = F.substring("url_id", 1, self.prefix_len)
        cellrows = (
            eligible.where(F.col("host").isin(over))
            .groupBy("host", "priority", "attempt", pre.alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
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
            left = self._cap(h)
            boundary = None
            for idx, (p, a, pfx, n) in enumerate(hcells):
                if left >= n:
                    left -= n
                else:
                    boundary = idx
                    break
            if boundary is None:
                continue  # whole host fits (can't happen while n > cap; harmless)
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
        (frontier.UrlKernel.new_rows); the eligibility filter is still applied
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
