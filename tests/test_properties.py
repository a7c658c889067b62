"""Property tests (SURVEY.md §5.5): canonicalization idempotence, merge
idempotence, dequeue invariants. Hypothesis drives the pure-Python mirror
(fast, thousands of cases); batched Spark runs re-verify engine parity on a
seeded random sample (one Spark job, not one per example)."""

from __future__ import annotations

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st
from planner_ref import planner_dequeue, reference_dequeue
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark import oracle as O
from dumb_crawler_spark import urlkit as U
from dumb_crawler_spark.config import CrawlConfig, Politeness

# -- URL strategy: components, assembled ---------------------------------------
_hostpart = st.text(alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=8)
_path = st.lists(st.text(alphabet=string.ascii_letters + string.digits + "._-", min_size=0, max_size=6), max_size=4)
_qkeys = st.lists(st.tuples(_hostpart, _hostpart), max_size=4)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "ftp"]))
    host = ".".join(draw(st.lists(_hostpart, min_size=1, max_size=3)))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = "/".join(draw(_path))
    q = draw(_qkeys)
    query = "&".join(f"{k}={v}" for k, v in q)
    frag = draw(st.sampled_from(["", "#x", "#sec-1"]))
    u = f"{scheme}://{host}{port}"
    if path:
        u += "/" + path
    if query:
        u += "?" + query
    return u + frag


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent_py(u):
    once = O.canonicalize(u)
    assert O.canonicalize(once) == once


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonical_equivalent_urls_collapse(u):
    # fragment and query order never change identity
    c = O.canonicalize(u)
    no_frag = u.split("#")[0]
    assert O.canonicalize(no_frag) == c or not u.lower().startswith("http")


def _random_urls(n=400, seed=13):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        scheme = rng.choice(["http", "https", "HTTP"])
        host = ".".join(rng.choice(["a", "bb", "Site", "x9"]) for _ in range(rng.randint(1, 3)))
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = "/".join("p%d" % rng.randint(0, 9) for _ in range(rng.randint(0, 3)))
        q = "&".join(f"k{rng.randint(0, 5)}=v{rng.randint(0, 5)}" for _ in range(rng.randint(0, 3)))
        u = f"{scheme}://{host}{port}/{path}"
        if q:
            u += "?" + q
        if rng.random() < 0.3:
            u += "#frag"
        out.append(u)
    return out


def test_canonicalize_engine_matches_oracle_on_random_batch(spark):
    batch = _random_urls()
    df = spark.createDataFrame([(u,) for u in batch], "url string")
    got = [r[0] for r in df.select(U.canonicalize(F.col("url"))).collect()]
    exp = [O.canonicalize(u) for u in batch]
    assert got == exp


def test_merge_idempotent(spark):
    """Re-inserting the same candidate set changes nothing (J3 exactness —
    MERGE WHEN NOT MATCHED semantics): its second ins delta is empty."""
    cfg = CrawlConfig()
    urls = spark.createDataFrame([(u,) for u in _random_urls(200, seed=5)], "url string")
    kernel = FR.UrlKernel(cfg)
    cands = kernel.candidates(urls)
    fr1 = kernel.new_rows(FR.empty_frontier(spark), cands, 1, depth=1)
    n1 = fr1.count()
    fr2 = FR.compose_frontier(fr1, kernel.new_rows(fr1, cands, 2, depth=2), None)
    assert fr2.count() == n1
    # and nothing changed: created_round stays 1 everywhere
    assert fr2.where(F.col("created_round") != 1).count() == 0


def test_dequeue_invariants_random_frontier(spark):
    """Dequeue never returns status≠0, attempt≥max, or >budget per host."""
    rng = random.Random(99)
    rows = []
    for i in range(500):
        rows.append((
            f"id{i:04d}", f"http://h{rng.randint(0, 9)}.com/{i}", f"h{rng.randint(0, 9)}.com",
            ["t"], rng.choice([0, 0, 0, 1, 2, 3]), rng.randint(0, 100), rng.randint(0, 6),
            0, 0, None, None, None, None, 0,
        ))
    fr = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
    cfg = CrawlConfig(max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=7))
    got = planner_dequeue(fr, cfg, 100)[0].collect()
    src = {r[0]: r for r in rows}
    from collections import Counter
    per_host = Counter()
    for r in got:
        s = src[r["url_id"]]
        assert s[4] == 0, "dequeued a non-QUEUED row"
        assert s[6] < 5, "dequeued attempt >= max"
        per_host[r["host"]] += 1
    assert all(n <= 7 for n in per_host.values())
    assert len(got) <= 100


def test_plan_dequeue_equals_legacy_randomized(spark):
    """Batched randomized parity (seeded, one Spark job per case): the
    planner must equal the plain-Python reference (the oracle's
    sort-then-cap rule) for random frontiers × random budgets × random
    budget tables × random k, including k past the eligible set and budgets
    that do/don't bind."""
    rng = random.Random(77)
    for case in range(4):
        n = rng.randint(200, 1200)
        n_hosts = rng.choice([3, 12, 50])
        rows = [
            (
                f"i{case}_{i:05d}", f"http://h{rng.randint(0, n_hosts)}.x/{i}",
                f"h{rng.randint(0, n_hosts)}.x", ["t"],
                rng.choice([0, 0, 0, 1, 2, 3]), rng.choice([0, 5, 10, 900]),
                rng.randint(0, 4), 0, 0, None, None, None, None, i % 8,
            )
            for i in range(n)
        ]
        fr = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
        budget = rng.choice([None, 5, 30, 10_000])
        cfg = CrawlConfig(
            max_attempt_count=4,
            politeness=Politeness(budget_per_host_per_round=budget),
        )
        k = rng.choice([10, 60, 500, 5000])
        table = rng.choice([None, {
            f"h{h}.x": rng.randint(1, 20) for h in range(0, n_hosts + 1, 2)
        }])
        want = set(reference_dequeue(fr, cfg, k, table))
        dq, planned_n = planner_dequeue(fr, cfg, k, table)
        got = {r["url_id"] for r in dq.collect()}
        assert got == want, f"case={case} k={k} budget={budget} table={table}"
        assert planned_n == len(got), f"case={case}"
