"""J4 fetch-simulate + S5/S6 render routing + F5/F6 validation
(SURVEY.md §2.1-S5/S6, §2.2-F5/F6, §2.5-J4).

The reference fetches live HTTP and parses DOM with Jsoup
(SimpleHttpRenderer.java:29-52, CrawlingTaskCallable.java:42-71). Per
BASELINE.json input_hint the corpus here is a pre-parsed table of interleaved
text+media spans ``docs(doc_id, spans array<struct<kind,text,media_ref,offset>>)``
— so "fetching" is a left join of the dequeued batch against docs, and every
error path maps to a row predicate, evaluated in the reference's order
(CrawlingTaskCallable.call, lines 42-63):

1. fetch miss           → INVALID_STATUS_CODE_404   (SimpleHttpRenderer.java:39-42)
2. blank body           → EMPTY_RESPONSE_BODY       (CrawlingTaskCallable.java:46-48)
3. content validation   → CONTENT_VALIDATION_ERROR_{tag}, first failing tag in
                          task-tag order             (ContentValidator.java:29-47)
Failing rows are diverted to the errors table and their links are NOT followed.

Scale: the dequeued batch (≤ per-round budget) is small relative to docs —
but docs is the 100 TB side, so the join must shuffle docs? No: at scale the
dequeue batch IS broadcastable (a round's budget is ~10^6 rows max), so this
compiles to a broadcast-hash join probing the docs scan with predicate
pushdown on doc_id bloom/min-max (Iceberg identifier stats). We hint
broadcast on the dequeued side explicitly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import CrawlConfig
from .urlkit import apply_layers

ERR_404 = "INVALID_STATUS_CODE_404"
ERR_EMPTY = "EMPTY_RESPONSE_BODY"
ERR_VALIDATION_PREFIX = "CONTENT_VALIDATION_ERROR_"


def error_kinds(cfg: CrawlConfig) -> list[str]:
    """Every value fetch_simulate's ``error`` column can take — a closed set,
    so per-error counters can be fixed aggregate expressions."""
    return [ERR_404, ERR_EMPTY] + [
        ERR_VALIDATION_PREFIX + tag for tag in cfg.validation_selectors
    ]


def render_via(tags: Column, cfg: CrawlConfig) -> Column:
    """S6: route through proxy when a task tag is in renderer.proxify or the
    list contains 'all' (ContentRenderer.java:31-52, RocketscrapeRenderer.java:20-25).
    Pure routing metadata in simulation — counted in metrics only."""
    if "all" in cfg.proxify:
        return F.lit("proxy")
    if not cfg.proxify:
        return F.lit("http")
    return F.when(
        F.arrays_overlap(tags, F.array(*[F.lit(t) for t in cfg.proxify])), F.lit("proxy")
    ).otherwise(F.lit("http"))


def _first_failing_tag(spans: Column, tags: Column, cfg: CrawlConfig) -> Column:
    """F5: the reference iterates task tags in order and throws on the first
    tag whose CSS selector selects nothing (ContentValidator.java:29-47).
    Selector-analog over the span model: selector S matches a page iff any
    TEXT span's text matches regex S (find semantics — Jsoup select-nonempty
    ≈ contains). Returns the first failing tag, else null."""
    if not cfg.validation_selectors:
        return F.lit(None).cast("string")

    def fails(t: Column) -> Column:
        expr: Column = F.lit(False)
        for tag, sel in cfg.validation_selectors.items():
            page_has = F.exists(
                spans, lambda s: (s["kind"] == "text") & s["text"].rlike(sel)
            )
            expr = F.when(t == tag, ~page_has).otherwise(expr)
        return expr

    # F.get is null-safe on the empty array (no failing tag ⇒ null)
    return F.get(F.filter(tags, fails), F.lit(0))


def fetch_simulate(docs: DataFrame, cfg: CrawlConfig) -> Callable[[DataFrame], DataFrame]:
    """J4 + F5 + F6 as a transform of the dequeued batch: broadcast-join it
    against the docs corpus and classify every row. The docs side, the
    spans type and the classification columns are built once, here, so a
    crawl builds the kernel once and each round's plan adds only its joins.

    Output: dequeued columns + spans, render_via, error (null = ok), ok.
    """
    # A naive `dequeued LEFT JOIN docs` cannot broadcast its small (left)
    # side — Spark's BroadcastHashJoin can't build the preserved side of an
    # outer join, so it would silently sort-merge-shuffle the 100 TB docs
    # table. Split instead into two joins that each broadcast the k-bounded
    # batch: an inner probe of the docs scan (hits) + a tiny anti-join for
    # the misses (404 rows). Plan-asserted in tests/test_misc.py.
    side = docs.select("doc_id", "spans")
    doc_id, url_id, star = side["doc_id"], F.col("url_id"), F.col("*")
    no_spans = F.lit(None).cast(side.schema["spans"].dataType).alias("spans")
    spans, tags = F.col("spans"), F.col("tags")
    failing_tag = _first_failing_tag(spans, tags, cfg)
    error = (
        F.when(spans.isNull(), F.lit(ERR_404))
        .when(F.size(spans) == 0, F.lit(ERR_EMPTY))
        .when(failing_tag.isNotNull(), F.concat(F.lit(ERR_VALIDATION_PREFIX), failing_tag))
    )
    classify = [
        [star, render_via(tags, cfg).alias("render_via"), error.alias("error")],
        [star, F.col("error").isNull().alias("ok")],
    ]

    def fetch(dequeued: DataFrame) -> DataFrame:
        hits = side.join(F.broadcast(dequeued), doc_id == dequeued["url_id"], "inner").drop(doc_id)
        misses = dequeued.join(F.broadcast(hits.select(url_id)), "url_id", "left_anti")
        return apply_layers(hits.unionByName(misses.select(star, no_spans)), classify)

    return fetch
