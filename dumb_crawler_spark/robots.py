"""J6-NR: robots.txt rules + crawl-delay politeness (SURVEY.md §2.5-J6).

No reference counterpart (the reference fetches whatever passes LinkFilter);
semantics defined by the north rule: a ``robots`` table
(host, disallow array<string>, crawl_delay_ms int) filters candidate URLs by
path-prefix and modulates the per-host dequeue budget.

Scale: robots is tiny relative to the frontier (one row per host) —
broadcast joins everywhere, never a shuffle of the big side.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("disallow", T.ArrayType(T.StringType()), False),
    T.StructField("crawl_delay_ms", T.IntegerType(), True),
])


def parse_robots_txt(host: str, text: str) -> dict:
    """Driver-side parse of a robots.txt body (User-agent: * section):
    Disallow path prefixes + Crawl-delay seconds → one robots-table row."""
    disallow: list[str] = []
    delay_ms: int | None = None
    applies = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            applies = val == "*"
        elif applies and key == "disallow" and val:
            disallow.append(val)
        elif applies and key == "crawl-delay":
            try:
                delay_ms = int(float(val) * 1000)
            except ValueError:
                pass
    return {"host": host, "disallow": disallow, "crawl_delay_ms": delay_ms}


def robots_verdict(
    robots: DataFrame, out: str = "_robots_blocked"
) -> Callable[[DataFrame], DataFrame]:
    """A transform adding a boolean ``out`` column to candidates: the path
    starts with a disallowed prefix for the row's host (hosts absent from
    robots are fully allowed). Broadcast join — candidates never shuffle.
    Keeping the verdict as a COLUMN lets callers fold block-counting into
    whatever aggregation they already run instead of paying separate
    before/after count jobs (VERDICT r03 item 6). The path expression and
    the broadcast side are built once, here; each call adds only the join."""
    path = F.try_parse_url(F.col("url"), F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    side = F.broadcast(robots.select("host", "disallow"))
    blocked = F.exists(
        F.coalesce(F.col("disallow"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    verdict = [F.col("*"), F.coalesce(blocked, F.lit(False)).alias(out)]
    return lambda candidates: candidates.join(side, "host", "left").select(*verdict).drop("disallow")


def filter_robots_allowed(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose path starts with a disallowed prefix for their
    host (robots_verdict's verdict applied as a filter)."""
    return robots_verdict(robots)(candidates).where(
        ~F.col("_robots_blocked")
    ).drop("_robots_blocked")


def host_budgets(robots: DataFrame, round_interval_ms: int, default_budget: int) -> DataFrame:
    """Per-host dequeue budget from crawl-delay: a host allowing one fetch
    per `delay` can absorb floor(round_interval / delay) fetches per round
    (floor, min 1). Hosts without a delay get the default budget."""
    budget = F.greatest(
        F.floor(F.lit(round_interval_ms) / F.col("crawl_delay_ms")).cast("int"), F.lit(1)
    )
    return robots.where(F.col("crawl_delay_ms").isNotNull()).select(
        "host", F.least(budget, F.lit(default_budget)).alias("host_budget")
    )
