"""Seeded input generators for the benchmark workloads.

Everything the engine receives is written to disk before timing starts: a
docs parquet, a config.json, a robots parquet and (url, ts) candidate files
for the streaming ingest.
Link targets, host assignment, missing pages, robots rules and crawl delays
all come from a splitmix64 hash of (seed, stream, index), so the same seed
gives byte-identical inputs and a different seed a different web of the same
shape. Besides the files, each generator returns the plain-Python facts the
correctness checks need (robots rules, the docs dict for the oracle, the
candidate stream), so the checks never have to trust the engine to read its
own inputs back.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.list_(
    pa.struct([
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ])
)
ROBOTS_ARROW = pa.schema([
    ("host", pa.string(), False),
    ("disallow", pa.list_(pa.string()), False),
    ("crawl_delay_ms", pa.int32()),
])
CANDIDATE_ARROW = pa.schema([("url", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])

ASSETS = "static.assets.example"  # resource host outside every whitelist
ROUND_INTERVAL_MS = 60_000  # Crawler's default round interval (robots budgets)
FILLER = (
    "the quick crawl reads every page it is given and keeps what the "
    "config asks it to keep while the frontier grows round after round "
)


def hashes(seed: int, stream: int, n: int) -> np.ndarray:
    """n splitmix64 values for (seed, stream) — the only randomness used."""
    x = np.arange(n, dtype=np.uint64) + np.uint64(
        (seed * 0x9E3779B97F4A7C15 + stream * 0xD1B54A32D192ED03) % 2**64
    )
    with np.errstate(over="ignore"):
        x = x * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def pick(seed: int, stream: int, n: int, m: int) -> np.ndarray:
    """n hash-derived integers in [0, m)."""
    return (hashes(seed, stream, n) % np.uint64(m)).astype(np.int64)


def md5_id(url: str) -> str:
    # the engine's url_id for configs without idExtractorPattern
    return hashlib.md5(url.encode("utf-8")).hexdigest()


def text_span(offset: int, text: str) -> dict:
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def media_span(offset: int, ref: str) -> dict:
    return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}


def write_docs(path: Path, docs: dict[str, list[dict]]) -> None:
    ids = sorted(docs)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.string()),
            "spans": pa.array([docs[i] for i in ids], SPAN_TYPE),
        }),
        path,
    )


@dataclass
class CrawlInputs:
    docs_path: Path
    config_path: Path
    robots_path: Path | None
    docs: dict[str, list[dict]]
    urls: list[str]  # the link universe
    # host → disallowed path prefixes / crawl delay, straight from the generator
    disallow: dict[str, list[str]] = field(default_factory=dict)
    delay_ms: dict[str, int] = field(default_factory=dict)


@dataclass
class StreamInputs:
    files: list[Path]  # one candidate file per micro-batch, in feed order
    allowed: list[set[str]]  # per file: candidates the link filter admits
    budget_per_host: int
    window_seconds: int


# ---------------------------------------------------------------------------
# polite_crawl: robots + bloom + per-host crawl-delay budgets
# ---------------------------------------------------------------------------

POLITE_DOMAIN = "polite.example"


def polite_crawl(work: Path, seed: int, partitions: int, scale: float = 1.0) -> CrawlInputs:
    """Link-rich ~4 KB interleaved text+media pages, ≥6 links each
    (absolute, root-relative, nofollow, external, media). A share of hosts
    disallow ``/priv/``; a smaller share sets a crawl delay that makes its
    per-round budget bind. The frontier is seeded with a quarter of the link
    universe, so early rounds discover and later rounds mostly re-find."""
    n_univ = max(int(16_000 * scale), 400)
    n_hosts = max(int(120 * scale), 12)
    k = max(n_univ // 40, 10)  # frontier (a quarter of the universe) ≈ 10 × k
    hosts = [f"s{j}.{POLITE_DOMAIN}" for j in range(n_hosts)]
    host_of = pick(seed, 1, n_univ, n_hosts)
    priv = pick(seed, 2, n_univ, 10) == 0  # 10% of pages live under /priv/
    urls = [
        f"http://{hosts[h]}/{'priv/' if p else ''}a/{i}"
        for i, (h, p) in enumerate(zip(host_of.tolist(), priv.tolist()))
    ]
    targets = pick(seed, 3, n_univ * 5, n_univ).reshape(n_univ, 5).tolist()
    missing = (pick(seed, 4, n_univ, 20) == 0).tolist()  # 5% → 404
    invalid = (pick(seed, 5, n_univ, 25) == 0).tolist()  # 4% fail validation
    docs: dict[str, list[dict]] = {}
    filler = FILLER * 11  # ~1.4 KB per text span, three text spans per page
    for i, url in enumerate(urls):
        if missing[i]:
            continue
        t = targets[i]
        same_host = urls[t[4]].split("/", 3)[3]  # same path on our own host
        marker = "" if invalid[i] else " article-body"
        spans = [
            text_span(0, f"page {i}{marker} {filler}"
                      f' <a href="{urls[t[0]]}"> <a href="{urls[t[1]]}">'),
            media_span(1, f"http://{ASSETS}/img/{i}.jpg"),
            text_span(2, f"{filler} <a href=\"/{same_host}\">"
                      f' <a href="{urls[t[2]]}" rel="nofollow">'
                      f' <a href="http://elsewhere.example/x/{i}">'),
            media_span(3, f"http://{ASSETS}/vid/{i}.mp4"),
            text_span(4, f"{filler} <a href=\"{urls[t[3]]}\">"
                      f' <link href="{urls[(t[0] + 1) % n_univ]}">'),
        ]
        docs[md5_id(url)] = spans
    seeded = pick(seed, 6, n_univ, 4) == 0
    seeds = [u for u, s in zip(urls, seeded.tolist()) if s]

    disallow: dict[str, list[str]] = {}
    delay_ms: dict[str, int] = {}
    robots_kind = pick(seed, 7, n_hosts, 10).tolist()
    for h, kind in zip(hosts, robots_kind):
        if kind < 4:  # 40% of hosts disallow /priv/
            disallow[h] = ["/priv/"]
        if kind in (2, 3, 4):  # 30% set a delay: budgets of 2 or 4 per round
            delay_ms[h] = 30_000 if kind == 4 else 15_000
    robots_rows = [
        {"host": h, "disallow": disallow.get(h, []), "crawl_delay_ms": delay_ms.get(h)}
        for h in hosts
        if h in disallow or h in delay_ms
    ]
    robots_path = work / "robots.parquet"
    pq.write_table(pa.Table.from_pylist(robots_rows, ROBOTS_ARROW), robots_path)

    docs_path = work / "docs.parquet"
    write_docs(docs_path, docs)
    config = {
        "seeds": seeds,
        "threadCount": k // 2,
        "tagger": {
            "internal": r"matches(host, '.*\.polite\.example')",
            "page": r"matches(path, '(/priv)?/a/[0-9]+')",
            "resource": "isResource(path)",
        },
        "linkFilter": {"whitelist": ["internal"], "blacklist": ["resource"]},
        "priorities": {"page": 500, "other": 10},
        "validationSelectors": {"page": "article-body"},
        "storage": {"includedTags": ["page"]},
        "politeness": {"respect_robots": True},
        "partitions": partitions,
    }
    config_path = work / "config.json"
    config_path.write_text(json.dumps(config))
    return CrawlInputs(docs_path, config_path, robots_path, docs, urls, disallow, delay_ms)


# ---------------------------------------------------------------------------
# deep_frontier: incremental planner + threshold dequeue + hot host
# ---------------------------------------------------------------------------

DEEP_DOMAIN = "deep.example"
DEEP_K = 10_002  # just above the engine's 10k threshold-dequeue cutoff


def deep_frontier(work: Path, seed: int, partitions: int, scale: float = 1.0) -> CrawlInputs:
    """Tiny one-span pages with 1–2 links over ~20k hosts plus one hot host
    holding 10% of URLs; the round budget k sits above the threshold cutoff
    and the hot host exceeds the global per-host budget every round."""
    n_univ = max(int(80_000 * scale), 400)
    n_hosts = max(int(20_000 * scale), 20)
    k = DEEP_K if scale >= 1.0 else max(int(DEEP_K * scale), 10)
    hot = pick(seed, 11, n_univ, 10) == 0
    host_n = pick(seed, 12, n_univ, n_hosts)
    urls = [
        f"http://{'hot' if is_hot else f'h{h}'}.{DEEP_DOMAIN}/p/{i}"
        for i, (is_hot, h) in enumerate(zip(hot.tolist(), host_n.tolist()))
    ]
    targets = pick(seed, 13, n_univ * 2, n_univ).reshape(n_univ, 2).tolist()
    two = (pick(seed, 14, n_univ, 2) == 0).tolist()
    missing = (pick(seed, 15, n_univ, 20) == 0).tolist()
    docs: dict[str, list[dict]] = {}
    for i, url in enumerate(urls):
        if missing[i]:
            continue
        a, b = targets[i]
        links = f'<a href="{urls[a]}">' + (f' <a href="{urls[b]}">' if two[i] else "")
        docs[md5_id(url)] = [text_span(0, f"p{i} {links}")]
    seeded = pick(seed, 16, n_univ, 2) == 0
    seeds = [u for u, s in zip(urls, seeded.tolist()) if s]
    docs_path = work / "docs.parquet"
    write_docs(docs_path, docs)
    config = {
        "seeds": seeds,
        "threadCount": k // 2,
        "tagger": {
            "internal": r"matches(host, '.*\.deep\.example')",
            "page": r"matches(path, '/p/[0-9]+')",
        },
        "linkFilter": {"whitelist": ["internal"]},
        "priorities": {"page": 100, "other": 1},
        "storage": {"includedTags": ["page"]},
        # the hot host holds ~10% of the eligible set, far above this
        "politeness": {"budget_per_host_per_round": max(k // 10, 1)},
        "partitions": partitions,
    }
    config_path = work / "config.json"
    config_path.write_text(json.dumps(config))
    return CrawlInputs(docs_path, config_path, None, docs, urls)


# ---------------------------------------------------------------------------
# streaming ingest into the crawled frontier (traced polite_crawl runs)
# ---------------------------------------------------------------------------

STREAM_T0 = 1_700_000_000  # epoch seconds of the first candidate
STREAM_WINDOW = 60  # politeness-gate event-time window, seconds


def stream_candidates(work: Path, seed: int, universe: list[str], n_files: int, rows: int) -> StreamInputs:
    """(url, ts) candidate files for ``streaming.stream_gated_ingest``: URLs
    drawn from the crawl's link universe (so some are already in the
    frontier) plus 10% external URLs the link filter refuses. In the first
    file 30% of the rows come from the universe's busiest host, above its
    gate budget, so the stateful gate parks part of them; the later files
    are uniform, so the parked rows re-fed with them are admitted without
    extra drain restarts."""
    hosts = [u.split("/")[2] for u in universe]
    counts = Counter(hosts)
    hot_host = max(counts, key=lambda h: (counts[h], h))
    hot = [u for u, h in zip(universe, hosts) if h == hot_host]
    inc = work / "candidates"
    inc.mkdir()
    files, allowed = [], []
    for f in range(n_files):
        kind = pick(seed, 500 + f, rows, 10).tolist()
        any_u = pick(seed, 600 + f, rows, len(universe)).tolist()
        hot_u = pick(seed, 700 + f, rows, len(hot)).tolist()
        urls = [
            f"http://{ASSETS}/x/{f}-{i}" if k == 0 else hot[h] if k < 4 and f == 0 else universe[a]
            for i, (k, a, h) in enumerate(zip(kind, any_u, hot_u))
        ]
        # event time spans three gate windows per file, in feed order
        ts = STREAM_T0 + f * 3 * STREAM_WINDOW + pick(seed, 800 + f, rows, 3 * STREAM_WINDOW)
        table = pa.table(
            {"url": urls, "ts": pa.array((ts * 1_000_000).tolist(), pa.timestamp("us", tz="UTC"))},
            schema=CANDIDATE_ARROW,
        )
        path = inc / f"batch-{f:05d}.parquet"
        pq.write_table(table, path)
        files.append(path)
        allowed.append({u for u, k in zip(urls, kind) if k != 0})
    # the first file's hot host gets ~10% of its rows per window: a budget
    # of ~8% parks the overflow of every window
    budget = max(rows // 12, 1)
    return StreamInputs(files, allowed, budget, STREAM_WINDOW)
