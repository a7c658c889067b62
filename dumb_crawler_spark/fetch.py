"""J4 fetch-simulate + S5/S6 render routing + F5/F6 validation
(SURVEY.md §2.1-S5/S6, §2.2-F5/F6, §2.5-J4).

The reference fetches live HTTP and parses DOM with Jsoup
(SimpleHttpRenderer.java:29-52, CrawlingTaskCallable.java:42-71). Per
BASELINE.json input_hint the corpus here is a pre-parsed table of interleaved
text+media spans ``docs(doc_id, spans array<struct<kind,text,media_ref,offset>>)``
— so "fetching" is ``dequeued ⋈ docs``, and every error path maps to a row
predicate, evaluated in the reference's order
(CrawlingTaskCallable.call, lines 42-63):

1. fetch miss           → INVALID_STATUS_CODE_404   (SimpleHttpRenderer.java:39-42)
2. blank body           → EMPTY_RESPONSE_BODY       (CrawlingTaskCallable.java:46-48)
3. content validation   → CONTENT_VALIDATION_ERROR_{tag}, first failing tag in
                          task-tag order             (ContentValidator.java:29-47)
Failing rows are diverted to the errors table and their links are NOT followed.

The join is an inner join (fetch_simulate), and the misses are driver work
(with_misses): the batch is ≤ k rows and already on the driver, so the rows
the join did not return are the 404s. A doc with NULL spans is no page, so
it is dropped on the docs side and misses too.

Scale: the dequeued batch (≤ per-round budget) is small relative to docs —
but docs is the 100 TB side, so the join must shuffle docs? No: at scale the
dequeue batch IS broadcastable (a round's budget is ~10^6 rows max), so this
compiles to a broadcast-hash join probing the docs scan with predicate
pushdown on doc_id bloom/min-max (Iceberg identifier stats). We hint
broadcast on the dequeued side explicitly.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import CrawlConfig
from .urlkit import apply_layers

ERR_404 = "INVALID_STATUS_CODE_404"
ERR_EMPTY = "EMPTY_RESPONSE_BODY"
ERR_VALIDATION_PREFIX = "CONTENT_VALIDATION_ERROR_"


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
    """J4 + F5 + F6 as a transform of the allowed batch: broadcast-join it
    against the docs corpus and classify every hit. The docs side and the
    classification columns are built once, here, so a crawl builds the
    kernel once and each round's plan adds only its join.

    Output: one row per hit, the batch's columns + spans, render_via, error
    (null = ok), ok. The misses are with_misses' work: a ``batch LEFT JOIN
    docs`` cannot broadcast its small (left) side — Spark's BroadcastHashJoin
    can't build the preserved side of an outer join, so it would
    sort-merge-shuffle the 100 TB docs table. Plan-asserted in
    tests/test_misc.py."""
    spans, tags = F.col("spans"), F.col("tags")
    side = docs.select("doc_id", "spans").where(spans.isNotNull())
    doc_id, star = side["doc_id"], F.col("*")
    failing_tag = _first_failing_tag(spans, tags, cfg)
    error = (
        F.when(F.size(spans) == 0, F.lit(ERR_EMPTY))
        .when(failing_tag.isNotNull(), F.concat(F.lit(ERR_VALIDATION_PREFIX), failing_tag))
    )
    classify = [
        [star, render_via(tags, cfg).alias("render_via"), error.alias("error")],
        [star, F.col("error").isNull().alias("ok")],
    ]

    def fetch(batch: DataFrame) -> DataFrame:
        hits = side.join(F.broadcast(batch), doc_id == batch["url_id"], "inner").drop(doc_id)
        return apply_layers(hits, classify)

    return fetch


def with_misses(allowed: pa.Table, hits: pa.Table) -> pa.Table:
    """The round's results on the driver: one row per ``allowed`` row (the
    fetched batch), its columns plus the columns of ``hits`` (a read of the
    fetch delta: url_id, error and any others) looked up by url_id, plus
    ``ok`` (no error). A row the join did not return is a fetch miss:
    INVALID_STATUS_CODE_404, so not ok, and NULL in the other hit columns
    (no spans, not saved)."""
    at = pc.index_in(allowed["url_id"], value_set=hits["url_id"].combine_chunks())
    cols = {c: hits[c].take(at) for c in hits.column_names if c != "url_id"}
    cols["error"] = pc.if_else(at.is_valid(), cols["error"], ERR_404)
    cols["ok"] = cols["error"].is_null()
    return pa.table({**dict(zip(allowed.column_names, allowed.columns)), **cols})
