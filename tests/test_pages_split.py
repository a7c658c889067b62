"""J5 new-vs-update split: UPDATED_PAGES, read off the dequeued frontier
row's ``saved_round``, must equal a pyarrow recomputation from the pages
history on every path — all-new rounds, mass-update rounds (refetch: every
saved page is saved again) and a resume (a fresh Crawler on the committed
warehouse, whose frontier rows carry the earlier saves)."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dumb_crawler_spark.corpus import canonical_config, docs_to_spark
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.oracle import canonicalize, url_id
from dumb_crawler_spark.storage import Warehouse

N_ARTICLES = 6


def _tiny_web(cfg):
    """Fully-resolvable web (no dead links, no retry noise): seed page →
    articles 1..N, each linking back to the seed. Every article validates and
    stores, so an exhaustive crawl then a refetch re-saves ALL of them —
    deterministic update mass for the split paths."""
    def spans(body, links):
        return [
            {"kind": "text", "text": body, "offset": 0},
            {"kind": "text",
             "text": " ".join(f'<a href="{l}">' for l in links), "offset": 1},
        ]

    docs = {}

    def put(url, s):
        docs[url_id(canonicalize(url), cfg.id_extractor_pattern)] = s

    host = "http://site.example.com"
    put(f"{host}/", spans("welcome", [f"{host}/articles/{j}" for j in range(1, N_ARTICLES + 1)]))
    for j in range(1, N_ARTICLES + 1):
        put(f"{host}/articles/{j}", spans(f"article {j} article-body", [f"{host}/"]))
    return docs


def _pages_split_ground_truth(wh_dir) -> dict[int, tuple[int, int]]:
    """round → (new, updated) recomputed ARITHMETICALLY from the pages delta
    dirs (pyarrow, no Spark, no engine code): a round's page is UPDATED iff
    its url_id appears in any earlier round's delta."""
    seen: set[str] = set()
    out: dict[int, tuple[int, int]] = {}
    for d in sorted((wh_dir / "pages").glob("delta-*")):
        rnd = int(d.name.split("-")[1])
        ids = set()
        for f in d.glob("*.parquet"):
            ids.update(pq.read_table(f, columns=["url_id"])["url_id"].to_pylist())
        upd = len(ids & seen)
        out[rnd] = (len(ids) - upd, upd)
        seen |= ids
    return out


def _metrics_by_round(spark, wh_dir) -> dict[int, dict[str, int]]:
    rows = Warehouse(spark, wh_dir).read_deltas("metrics").collect()
    out: dict[int, dict[str, int]] = {}
    for r in rows:
        out.setdefault(r["round"], {})[r["counter"]] = r["value"]
    return out


def _assert_split_matches(spark, wh_dir):
    truth = _pages_split_ground_truth(wh_dir)
    metrics = _metrics_by_round(spark, wh_dir)
    assert truth, "crawl saved no pages — test corpus broken"
    for rnd, (new, upd) in truth.items():
        m = metrics[rnd]
        assert m.get("NEW_SAVED_PAGES", 0) == new, (rnd, m, new, upd)
        assert m.get("UPDATED_PAGES", 0) == upd, (rnd, m, new, upd)


def test_pages_split_all_new_and_refetch_updates(spark, tmp_path):
    # thread_count=16 → k=32/round: the tiny web crawls to exhaustion, so the
    # refetch round re-dequeues ONLY already-crawled URLs (pure update mass)
    cfg = canonical_config(thread_count=16)
    sdocs = docs_to_spark(spark, _tiny_web(cfg))
    c = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    c.run(max_rounds=4)
    _assert_split_matches(spark, tmp_path / "wh")

    # refetch resets every status → the same pages re-save as UPDATED; a NEW
    # Crawler instance forces the resume path
    c2 = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    c2.run(max_rounds=2, refetch=True)
    _assert_split_matches(spark, tmp_path / "wh")
    hist = c2.history
    assert any(s.counters.get("UPDATED_PAGES", 0) > 0 for s in hist), (
        "refetch rounds must re-save previously saved pages as updates"
    )
