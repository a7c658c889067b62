"""Deterministic synthetic corpora (FIXTURES.md §1-§5; no external data).

Two generators, one schema — ``docs(doc_id, spans array<struct<kind,text,
media_ref,offset>>)`` per BASELINE.json input_hint:

1. :func:`generate_web` — pure Python, seed-fixed. A small "web" with every
   semantic path the reference exercises: absolute/relative/protocol-relative
   hrefs, ``rel=nofollow`` anchors (F4), links to missing docs (404 analog,
   SimpleHttpRenderer.java:39-42), resource/media links (U5 tagging →
   blacklist), external hosts (whitelist reject), docs with zero links and
   one with many links (DumbCrawler.java:108-110, CrawlingTaskCallable.java:54-56),
   docs failing content validation (ContentValidator.java:29-47), and one
   Zipf-hot host for the skew test. Used by the oracle AND the engine tests —
   both consume the identical dict.

2. :func:`docs_from_documents_table` — pure Column-expression derivation of a
   crawl corpus from the driver-provided ``documents`` parquet (TESTDATA.md),
   used by __spark_entry__/bench. Link topology is arithmetic on doc_id
   (doc i → docs (7i+1)%N, (13i+2)%N, (3i+5)%N), so the same graph is
   reproducible in SQL by the DuckDB oracle and at any scale factor.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import CrawlConfig, Politeness
from .oracle import canonicalize, url_id

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ])
)

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", SPAN_TYPE, False),
])

MAIN_HOST = "site.example.com"
HOT_HOST = "hot.example.com"
EXT_HOST = "elsewhere.org"
CDN = "cdn.example.com"


def canonical_config(**overrides) -> CrawlConfig:
    """FIXTURES.md §4 canonical test config, mirroring the reference README
    sample (README.md:13-47): tags internal/article/resource, priorities
    seed=1000/article=900/other=10, whitelist [internal], blacklist
    [resource], allowByDefault false."""
    base = dict(
        seeds=(f"http://{MAIN_HOST}/",),
        id_extractor_pattern=r"https?://site\.example\.com/articles/(?<id>[0-9]+)",
        tagger={
            "internal": r"matches(host, '(www\.)?(site|hot)\.example\.com')",
            "article": r"matches(path, '/articles/[0-9]+')",
            "resource": r"isResource(path)",
        },
        priorities={"seed": 1000, "article": 900, "other": 10},
        whitelist=("internal",),
        blacklist=("resource",),
        allow_by_default=False,
        validation_selectors={"article": "article-body"},
        storage_included_tags=("article",),
        thread_count=3,
        max_attempt_count=5,
    )
    base.update(overrides)
    return CrawlConfig(**base)


def _text(offset: int, body: str) -> dict:
    return {"kind": "text", "text": body, "media_ref": None, "offset": offset}


def _media(offset: int, ref: str) -> dict:
    return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}


def generate_web(
    n_articles: int = 40,
    n_hot: int = 0,
    missing_every: int = 7,
    invalid_every: int = 11,
    seed: int = 42,
    id_extractor_pattern: str | None = r"https?://site\.example\.com/articles/(?<id>[0-9]+)",
) -> tuple[dict[str, list[dict]], dict[str, str]]:
    """Returns (docs: doc_id → spans, url_of: doc_id → canonical url).

    Every article j with j % missing_every == 0 is LINKED but has no doc row
    (404 path); every j % invalid_every == 0 lacks the 'article-body'
    validation marker. Article 1 has zero links; article 2 links heavily.
    """
    rng = random.Random(seed)
    docs: dict[str, list[dict]] = {}
    url_of: dict[str, str] = {}

    def put(url: str, spans: list[dict]) -> None:
        cu = canonicalize(url)
        did = url_id(cu, id_extractor_pattern)
        docs[did] = spans
        url_of[did] = cu

    # root page: links to a batch of articles in varied href shapes
    root_links = []
    for j in range(3, min(n_articles, 25)):
        style = j % 5
        if style == 0:
            root_links.append(f'<a href="http://{MAIN_HOST}/articles/{j}">')
        elif style == 1:
            root_links.append(f'<a href="/articles/{j}">')
        elif style == 2:
            root_links.append(f'<a href="articles/{j}">')
        elif style == 3:
            root_links.append(f'<a href="//{MAIN_HOST}/articles/{j}">')
        else:  # fragment + unsorted query → canonicalization work
            root_links.append(f'<a href="http://{MAIN_HOST}/articles/{j}?b=2&a=1#frag">')
    spans = [
        _text(0, "welcome to the site " + " ".join(root_links[: len(root_links) // 2])),
        _media(1, f"http://{CDN}/img/banner.jpg"),
        _text(2, " ".join(root_links[len(root_links) // 2:])
              + f' <a href="http://{EXT_HOST}/away">'
              + f' <a href="http://{MAIN_HOST}/private" rel="nofollow">'
              + ' <a href="ftp://files.example.com/x">'),
    ]
    put(f"http://{MAIN_HOST}/", spans)

    for j in range(1, n_articles):
        if j % missing_every == 0:
            continue  # linked but missing → 404 analog
        url = f"http://{MAIN_HOST}/articles/{j}"
        if j == 5:  # blank body → EMPTY_RESPONSE_BODY (F6, CrawlingTaskCallable.java:46-48)
            put(url, [])
            continue
        body_marker = "" if j % invalid_every == 0 else " article-body"
        n_links = 0 if j == 1 else (12 if j == 2 else rng.randint(1, 4))
        links = []
        for _ in range(n_links):
            t = rng.randint(1, n_articles - 1)
            links.append(f'<a href="/articles/{t}">')
        if j == 3:  # >300 distinct links (A4 warn path, CrawlingTaskCallable.java:54-56)
            links += [f'<a href="/articles/2?v={i}">' for i in range(320)]
        tail = "" if j == 1 else f' <a href="http://{MAIN_HOST}/">'  # j=1: zero links (A4 empty warn)
        s = [
            _text(0, f"article {j} headline{body_marker}"),
            _media(1, f"http://{CDN}/img/{j}.png") if j != 1 else _text(1, "no media no links"),
            _text(2, "body text " + " ".join(links) + tail),
        ]
        if j % 3 == 0:  # some docs carry extra interleaving
            s.append(_media(3, f"http://{CDN}/vid/{j}.mp4"))
            s.append(_text(4, "trailing text"))
        put(url, s)

    for j in range(n_hot):  # optional hot host (skew test)
        url = f"http://{HOT_HOST}/articles/{j}"
        s = [_text(0, f"hot {j} article-body"),
             _text(1, f'<a href="http://{HOT_HOST}/articles/{(j + 1) % max(n_hot, 1)}">')]
        put(url, s)

    return docs, url_of


def docs_to_spark(spark, docs: dict[str, list[dict]]) -> DataFrame:
    rows = [
        (did, [(s["kind"], s.get("text"), s.get("media_ref"), s["offset"]) for s in spans])
        for did, spans in sorted(docs.items())
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


# ---------------------------------------------------------------------------
# Corpus derived from the driver's `documents` table (pure Column exprs)
# ---------------------------------------------------------------------------

CORPUS_HOST = "corpus.example.com"
CORPUS_CDN = "cdn.corpus.example.com"


def corpus_config(max_rounds: int | None = None, budget: int | None = None,
                  thread_count: int = 3) -> CrawlConfig:
    return CrawlConfig(
        seeds=tuple(f"http://{CORPUS_HOST}/doc/{i}" for i in range(5)),
        id_extractor_pattern=r"https?://corpus\.example\.com/doc/(?<id>[0-9]+)",
        tagger={
            "internal": r"matches(host, 'corpus\.example\.com')",
            "doc": r"matches(path, '/doc/[0-9]+')",
            "resource": r"isResource(path)",
        },
        priorities={"seed": 1000, "doc": 900, "other": 10},
        whitelist=("internal",),
        blacklist=("resource",),
        allow_by_default=False,
        storage_included_tags=("doc",),
        thread_count=thread_count,
        max_rounds=max_rounds,
        politeness=Politeness(budget_per_host_per_round=budget),
    )


def frontier_urls_from_range(spark, n: int) -> DataFrame:
    """Synthetic frontier universe for the bench (north rule: 10^10-URL
    design point, measured at reduced n locally): n URLs spread over
    n/1000 hosts + one hot host holding 10% of URLs (skew)."""
    i = F.col("id")
    n_hosts = max(n // 1000, 4)
    host = F.when(
        i % 10 == 0, F.lit("hot.corpus.example.com")
    ).otherwise(F.concat(F.lit("h"), (i % n_hosts).cast("string"), F.lit(".corpus.example.com")))
    url = F.concat(F.lit("http://"), host, F.lit("/doc/"), i.cast("string"))
    return spark.range(n).select(url.alias("url"))


def py_docs_from_documents(rows: list[tuple[str, str]], n: int) -> dict[str, list[dict]]:
    """Pure-Python twin of :func:`docs_from_documents_table` — byte-identical
    span derivation (same link arithmetic, same substrings) over collected
    ``(doc_id, first-200-chars-of-text)`` rows, for feeding the
    single-threaded OracleCrawler. The flagship query's self-check asserts
    the Spark crawl over the Column-derived corpus equals the oracle crawl
    over this dict — any drift between the two derivations fails loudly."""
    docs: dict[str, list[dict]] = {}
    link = lambda j: f'<a href="http://{CORPUS_HOST}/doc/{j}">'
    for did, text in rows:
        i = int(did)
        text = text or ""
        t1 = (
            f"title {text[:80]} article-body "
            + link((i * 7 + 1) % n) + " " + link((i * 13 + 2) % n)
        )
        t2 = (
            "body " + text[80:200] + " " + link((i * 3 + 5) % n)
            + (f' <a href="http://{EXT_HOST}/x" rel="nofollow">' if i % 10 == 0 else "")
        )
        spans = [{"kind": "text", "text": t1, "media_ref": None, "offset": 0}]
        if i % 3 == 0:
            spans.append({
                "kind": "media", "text": None,
                "media_ref": f"http://{CORPUS_CDN}/img/{i}.jpg", "offset": 1,
            })
            spans.append({"kind": "text", "text": t2, "media_ref": None, "offset": 2})
        else:
            spans.append({"kind": "text", "text": t2, "media_ref": None, "offset": 1})
        docs[str(i)] = spans
    return docs


def docs_from_documents_table(documents: DataFrame) -> DataFrame:
    """Derive a crawl corpus from TESTDATA's ``documents`` table with pure
    Column expressions (scales with the table; zero Python).

    doc i (0-based) lives at http://corpus.example.com/doc/i and links to
    docs (7i+1)%N, (13i+2)%N, (3i+5)%N — plus every 10th doc gets a nofollow
    anchor and every 3rd a media span. N = table row count (computed once,
    driver-side).
    """
    n = documents.count()
    i = F.col("doc_id").cast("long")
    # NULL text reads as "" (as in py_docs_from_documents): F.concat would
    # otherwise null the whole span
    text = F.coalesce(F.col("text"), F.lit(""))

    def doc_url(expr) -> F.Column:
        return F.concat(F.lit(f"http://{CORPUS_HOST}/doc/"), expr.cast("string"))

    link = lambda expr: F.concat(F.lit('<a href="'), doc_url(expr), F.lit('">'))
    t1 = F.concat(
        F.lit("title "), text.substr(1, 80), F.lit(" article-body "),
        link((i * 7 + 1) % n), F.lit(" "), link((i * 13 + 2) % n),
    )
    t2 = F.concat(
        F.lit("body "), text.substr(81, 120), F.lit(" "),
        link((i * 3 + 5) % n),
        F.when(i % 10 == 0,
               F.concat(F.lit(' <a href="http://'), F.lit(EXT_HOST), F.lit('/x" rel="nofollow">'))
               ).otherwise(F.lit("")),
    )
    media_ref = F.concat(F.lit(f"http://{CORPUS_CDN}/img/"), i.cast("string"), F.lit(".jpg"))
    span = lambda kind, text, ref, off: F.struct(
        F.lit(kind).alias("kind"),
        (text if text is not None else F.lit(None).cast("string")).alias("text"),
        (ref if ref is not None else F.lit(None).cast("string")).alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    spans = F.when(
        i % 3 == 0,
        F.array(span("text", t1, None, 0), span("media", None, media_ref, 1), span("text", t2, None, 2)),
    ).otherwise(F.array(span("text", t1, None, 0), span("text", t2, None, 1)))
    return documents.select(i.cast("string").alias("doc_id"), spans.alias("spans"))
