"""Correctness checks over a finished warehouse, read with pyarrow.

The checks read the parquet files directly instead of going back through the
engine's readers, so a bug in the engine's own read path cannot hide a bug in
its write path. Each check returns a list of failure messages (empty = pass);
the benchmark counts every failed check in ``failed`` and exits non-zero.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq

QUEUED = 0


def _round_of(d: Path) -> int:
    return int(d.name.split("-")[1])


def last_committed(wh: Path) -> int:
    rounds = [int(p.stem.split("-")[1]) for p in (wh / "_commits").glob("_round-*.json")]
    if not rounds:
        raise FileNotFoundError(f"no committed round in {wh}")
    return max(rounds)


def _read_dirs(dirs: list[Path], columns: list[str] | None = None) -> pa.Table | None:
    tables = [
        pq.read_table(f, columns=columns)
        for d in dirs
        for f in sorted(d.glob("*.parquet"))
    ]
    tables = [t for t in tables if t.num_rows]
    if not tables:
        return None
    return pa.concat_tables([t.select(tables[0].column_names) for t in tables])


def frontier_rows(wh: Path, upto: int | None = None) -> list[dict]:
    """Merge-on-read frontier as of round ``upto`` (default: last commit):
    the newest snapshot plus the ins-/upd- deltas after it. Only url_id,
    url, host, status and created_round are composed — all the checks need."""
    upto = last_committed(wh) if upto is None else upto
    fdir = wh / "frontier"
    snaps = sorted((d for d in fdir.glob("snap-*") if _round_of(d) <= upto), key=_round_of)
    base = snaps[-1]
    s = _round_of(base)
    cols = ["url_id", "url", "host", "status", "created_round"]
    ins = [d for d in fdir.glob("ins-*") if s < _round_of(d) <= upto]
    rows = _read_dirs([base, *sorted(ins, key=_round_of)], cols).to_pylist()
    upd = [d for d in fdir.glob("upd-*") if s < _round_of(d) <= upto]
    ut = _read_dirs(upd, ["url_id", "status"])
    if ut is not None:
        status = dict(zip(ut.column("url_id").to_pylist(), ut.column("status").to_pylist()))
        for r in rows:
            if r["url_id"] in status:
                r["status"] = status[r["url_id"]]
    return rows


def deltas(wh: Path, table: str, columns: list[str] | None = None) -> list[dict]:
    last = last_committed(wh)
    dirs = sorted(
        (d for d in (wh / table).glob("delta-*") if _round_of(d) <= last), key=_round_of
    )
    t = _read_dirs(dirs, columns)
    return [] if t is None else t.to_pylist()


def counter_total(wh: Path, name: str, from_round: int = 0) -> int:
    return sum(
        r["value"] for r in deltas(wh, "metrics")
        if r["counter"] == name and r["round"] >= from_round
    )


# -- checks for every crawl workload -----------------------------------------

def unique_ids(rows: list[dict]) -> list[str]:
    dup = [u for u, n in Counter(r["url_id"] for r in rows).items() if n > 1]
    return [f"url_id duplicated in frontier: {dup[:3]} ({len(dup)} ids)"] if dup else []


def rows_match_discovered(wh: Path, rows: list[dict]) -> list[str]:
    boot = sum(
        pq.read_metadata(f).num_rows for f in (wh / "frontier" / "snap-00000000").glob("*.parquet")
    )
    want = boot + counter_total(wh, "DISCOVERED_URLS", from_round=1)
    if len(rows) != want:
        return [f"frontier rows {len(rows)} != bootstrap {boot} + discovered {want - boot}"]
    return []


def dequeued_not_queued(wh: Path, rows: list[dict]) -> list[str]:
    status = {r["url_id"]: r["status"] for r in rows}
    bad = [
        r["url_id"] for r in deltas(wh, "dequeue_order", ["url_id"])
        if status.get(r["url_id"], QUEUED) == QUEUED
    ]
    return [f"{len(bad)} dequeued ids still QUEUED or missing, e.g. {bad[:3]}"] if bad else []


def crawl_invariants(wh: Path) -> tuple[list[dict], list[list[str]]]:
    rows = frontier_rows(wh)
    return rows, [unique_ids(rows), rows_match_discovered(wh, rows), dequeued_not_queued(wh, rows)]


# -- polite_crawl ---------------------------------------------------------------

def no_disallowed_inserts(rows: list[dict], disallow: dict[str, list[str]]) -> list[str]:
    bad = []
    for r in rows:
        if r["created_round"] < 1:
            continue  # seeds are injected as given; robots gates discovered links
        parts = urlsplit(r["url"])
        path = parts.path or "/"
        if any(path.startswith(p) for p in disallow.get(parts.hostname or "", [])):
            bad.append(r["url"])
    return [f"{len(bad)} robots-disallowed URLs inserted, e.g. {bad[:3]}"] if bad else []


def host_budgets_hold(
    wh: Path, delay_ms: dict[str, int], cfg_budget: int | None, interval_ms: int
) -> list[str]:
    """Per round and host, dequeued ≤ min(config budget, interval ÷ delay)."""
    per = Counter((r["round"], r["host"]) for r in deltas(wh, "dequeue_order", ["round", "host"]))
    bad = []
    for (rnd, host), n in per.items():
        cap = cfg_budget if cfg_budget is not None else 2**31 - 1
        if host in delay_ms:
            cap = min(cap, max(interval_ms // delay_ms[host], 1))
        if n > cap:
            bad.append((rnd, host, n, cap))
    return [f"per-host budget exceeded (round, host, got, cap): {bad[:3]}"] if bad else []


# -- deep_frontier ----------------------------------------------------------------

def oracle_parity(wh: Path, cfg, docs: dict, rows: list[dict]) -> list[str]:
    """Dequeue order and seen set equal the single-threaded oracle run for
    the same number of committed rounds over the same inputs."""
    from dumb_crawler_spark.oracle import OracleCrawler

    rounds = last_committed(wh)
    o = OracleCrawler(cfg, docs).run(max_rounds=rounds)
    got = sorted(
        (r["round"], r["seq"], r["url_id"])
        for r in deltas(wh, "dequeue_order", ["round", "seq", "url_id"])
    )
    out = []
    want = sorted(o.dequeue_order)
    if got != want:
        i = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        out.append(
            f"dequeue order differs from oracle over {rounds} rounds at entry {i}: "
            f"{got[i:i + 1]} vs {want[i:i + 1]} ({len(got)} vs {len(want)} entries)"
        )
    if {r["url_id"] for r in rows} != o.seen_set():
        out.append(f"seen set differs from oracle: {len(rows)} vs {len(o.seen_set())} ids")
    return out


# -- stream_ingest ----------------------------------------------------------------

def stream_merged(wh: Path, fed: list[set[str]]) -> tuple[list[dict], list[list[str]]]:
    rows = frontier_rows(wh)
    have = {r["url"] for r in rows}
    want = set().union(*fed) if fed else set()
    missing = sorted(want - have)
    merged = [f"{len(missing)} allowed candidates never merged, e.g. {missing[:3]}"] if missing else []
    return rows, [merged, unique_ids(rows)]

