"""Incremental dequeue planning — every crawl round's planner, with no
per-round full-frontier pass (SURVEY.md §2.6-A1; reference dequeue
URLStore.java:185-208).

A round's plan needs two driver-side inputs, and the eligible set changes
only by k-bounded deltas per round, so both are maintained incrementally
instead of re-derived from a full scan:

- ``total`` — the count of QUEUED ∧ attempt<max rows. Transitions are exact
  integer algebra:
    total(R+1) = total(R) − rows of round R's dequeue + rows of its ins-delta.
  The dequeued batch (≤ k rows) is already collected by the crawler, and
  the ins-delta is read once as Arrow — never the 10^10-row frontier.
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

The seed pass (frontier.plan_dequeue) runs ONCE — at seed time, the first
round after bootstrap/resume. Every round, for every k and every budget
form, then has the same plan: the over-budget hosts' rows are capped by the
per-host window (frontier.host_cap_split), and the capped set is cut by
``ORDER BY priority DESC, attempt, url_id LIMIT k`` — TakeOrderedAndProject,
a per-partition heap top-k and a k-row driver merge, the direct analog of
the reference's query.

Driver-state bound: one ``hosts`` entry per eligible host when a cap
exists. At the 1000-executor design point the same algebra would maintain
``hosts`` as a small state TABLE merged with the k-bounded per-round deltas
— the driver dict is the single-machine realization, not the algorithm.

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


class IncrementalPlanner:
    """Driver-side planning state for every round's dequeue.

    Lifecycle per crawl:
      seed_from(eligible)   -- once, the seed count
      plan(eligible, k)     -- per round: over-budget hosts from ``hosts``,
                               window cap, then the ordered top-k
      on_dequeued(batch)    -- subtract the dequeued batch's rows/hosts
      on_inserts(ins)       -- add the round's ins-delta rows/hosts
    ``host_budgets`` is the robots crawl-delay budget table as a driver dict
    (host → budget); a host's cap is ``budgets.get(host, budget)``, where
    ``budget`` is the config's global per-host budget (None = uncapped).

    A plan selects A1 (URLStore.java:185-190) in the SURVEY.md §2.8-D2
    total order (priority DESC, attempt ASC, url_id ASC — SQLite's ORDER BY
    leaves ties unordered; the oracle uses the same rule): each host keeps
    its first ``cap`` eligible rows in that order, then the first k overall.
    """

    def __init__(self, cfg: CrawlConfig, host_budgets: dict[str, int] | None = None):
        self.cfg = cfg
        self.budget = cfg.politeness.budget_per_host_per_round
        # a table entry never exceeds the global budget
        self.budgets = {
            h: b if self.budget is None else min(b, self.budget)
            for h, b in (host_budgets or {}).items()
        }
        self.total: int | None = None
        self.hosts: dict[str, int] | None = None
        self.hist = None  # no class histogram; the benchmark's planner.cells reads it
        self._lock = threading.Lock()  # guards total/hosts against concurrent callers

    @property
    def ready(self) -> bool:
        return self.total is not None

    def _cap(self, host: str | None) -> int | None:
        return self.budgets.get(host, self.budget)

    # -- seed (the one full pass) ---------------------------------------------
    def seed_from(self, eligible: DataFrame) -> None:
        """ONE aggregation over the eligible set yields the state: the total,
        and the per-host counts when a cap exists. Called through the module
        attribute, so a wrapper installed on frontier.plan_dequeue sees it."""
        track_hosts = self.budget is not None or bool(self.budgets)
        total, hosts = FR.plan_dequeue(eligible, hosts=track_hosts)
        with self._lock:
            self.total, self.hosts = total, hosts

    # -- per-round plan ---------------------------------------------------------
    def plan(self, eligible: DataFrame, k: int) -> tuple[DataFrame, int]:
        """(dequeue plan, EXACT planned row count). The over-budget hosts
        come from driver state, so the dequeue itself is the round's only
        Spark work before the fetch."""
        assert self.ready
        with self._lock:  # snapshot under the lock (ADVICE r03 lock discipline)
            total = self.total
            over = {
                h: n - self._cap(h) for h, n in (self.hosts or {}).items()
                if h is not None and self._cap(h) is not None and n > self._cap(h)
            }
        hot = list(over)
        capped = FR.host_cap_split(eligible, hot, self._cap_col(hot)) if hot else eligible
        # TakeOrderedAndProject: per-partition heap top-k, k-row driver merge
        out = capped.orderBy(F.desc("priority"), F.asc("attempt"), F.asc("url_id"))
        return out.limit(k).select(*FR.DEQUEUE_COLS), min(k, total - sum(over.values()))

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

    # -- round feedback ---------------------------------------------------------
    def _host_counts(self, rows: pa.Table) -> Counter | None:
        return Counter(rows["host"].to_pylist()) if self.hosts is not None else None

    def on_dequeued(self, batch: pa.Table) -> None:
        """Subtract the round's dequeued batch (DEQUEUE_COLS, ≤ k rows, already
        collected by the crawler, which verified its size against the plan).
        Dequeued rows leave the eligible set for good — transitions are
        terminal."""
        hosts = self._host_counts(batch)
        with self._lock:
            if self.total is None:
                return
            assert self.total >= batch.num_rows, "incremental eligible-total underflow"
            self.total -= batch.num_rows
            if self.hosts is not None:
                _subtract(self.hosts, hosts, "host-count")

    def on_inserts(self, ins: pa.Table) -> None:
        """Add one round's ins-delta (host, attempt, status columns as Arrow;
        k-bounded rows the crawler reads once for the bloom too). Inserted
        rows are QUEUED with attempt 0 by construction
        (frontier.UrlKernel.new_rows); the eligibility filter is still applied
        verbatim for safety."""
        el = ins.filter(pc.and_(
            pc.equal(ins["status"], FR.QUEUED),
            pc.less(ins["attempt"], self.cfg.max_attempt_count),
        ))
        hosts = self._host_counts(el)
        with self._lock:
            if self.total is None:
                return
            self.total += el.num_rows
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
