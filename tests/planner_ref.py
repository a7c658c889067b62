"""The engine's dequeue for one frontier (IncrementalPlanner: seed pass, then
one plan) and its plain-Python reference over the collected rows (the
oracle's sort-then-cap rule)."""

from __future__ import annotations

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark import oracle as O
from dumb_crawler_spark.planner import IncrementalPlanner


def planner_dequeue(fr, cfg, k, host_budgets=None):
    """(dequeue plan, planned row count) of a freshly seeded planner over
    ``fr``'s eligible set."""
    eligible = FR.eligible_raw(fr, cfg)
    pl = IncrementalPlanner(cfg, host_budgets)
    pl.seed_from(eligible)
    return pl.plan(eligible, k)


def reference_dequeue(fr, cfg, k, host_budgets=None) -> list[str]:
    """The url_ids the dequeue must return, in D2 order."""
    elig = [
        r for r in fr.collect()
        if r.status == O.QUEUED and r.attempt < cfg.max_attempt_count
    ]
    budget = cfg.politeness.budget_per_host_per_round
    return [r.url_id for r in O.capped_topk(elig, k, budget, host_budgets or {})]
