"""Spark jobs and py4j commands per crawl round, pinned. Every k-bounded
step of a round is one Spark action or pure driver work, and every plan is
assembled from expressions the Crawler built once (crawler.py module
docstring), so a change that re-adds a per-round job or rebuilds an
expression tree every round fails here loudly. Also pinned: the
observation that fences the URL kernel in the plan the link ingest collects
(in a crawl round and a stream batch), no steady-round plan reading a local
relation of more than a handful of rows, the dequeue collect's top-k
running below the T4 re-tag, the counters observed on the
ingest's fence staying exact with the bloom on, the first reads of the
Warehouse's tables returning the columns their writers emit, and the
dequeue_order lineage and the frontier reading back across a warehouse
written before their `host` and `saved_round` columns existed."""

from __future__ import annotations

import re
import uuid
from collections import Counter
from contextlib import contextmanager
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from test_pages_split import _tiny_web
from test_streaming import UNBOUNDED, _push

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import Politeness
from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.robots import ROBOTS_SCHEMA
from dumb_crawler_spark.storage import Warehouse
from dumb_crawler_spark.streaming import stream_gated_ingest

# steady-state jobs of one round on local[4]; before the dequeued batch was
# collected to the driver these rounds ran 36 and 30 jobs, before the robots
# round was planned from the planner's driver-side counts (no per-round
# grouping-sets probe) it ran 20, before UPDATED_PAGES was read off the
# frontier row the canonical round (it saves pages) ran 15, and before the
# update and errors deltas were written with pyarrow 15 and 14, and before
# the link ingest collected its candidates as Arrow (the bloom probed on the
# driver, the ins delta written with pyarrow, no read-back) 12 and 11, and
# before the pages were sliced from the same pyarrow read of the fetch delta
# as the update and errors deltas (no pages job, even for zero saved rows) 10,
# and before the fetch was one inner join (the T4 re-tag on the dequeue
# collect, the 404 rows and the fetch counters on the driver; no anti-join
# branch with its second docs scan) 9
ROBOTS_BLOOM_MAX_JOBS = 7
CANONICAL_MAX_JOBS = 7
# py4j commands of the robots+bloom round, object releases aside: 6,742 while
# every round rebuilt its expression trees, 1,227 before the Arrow link
# ingest, 911 before the pyarrow pages write, 875 before the one-join fetch,
# 862 since
ROBOTS_BLOOM_MAX_PY4J = 1_000
ROUNDS = 3  # rounds 1-2 pay first reads; round 3 is counted


@contextmanager
def _py4j_commands():
    """Counts the py4j commands the driver sends, except object releases
    (``m\\nd``): those arrive when Python's GC collects a proxy, so their
    number varies from run to run."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\nd"):
            n[0] += 1
        return send(self, command)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting)
        yield n


@contextmanager
def _executed():
    """Every DataFrame the driver runs an action on (a collect, a count, a
    parquet write) while the block runs."""
    frames = []

    def recording(action, frame):
        def run(self, *args, **kwargs):
            frames.append(frame(self))
            return action(self, *args, **kwargs)
        return run

    with pytest.MonkeyPatch.context() as mp:
        for name in ("toArrow", "collect", "count"):
            action = getattr(ClassicDataFrame, name)
            mp.setattr(ClassicDataFrame, name, recording(action, lambda df: df))
        mp.setattr(DataFrameWriter, "parquet", recording(DataFrameWriter.parquet, lambda w: w._df))
        yield frames


def _count_round(c: Crawler, round_no: int) -> SimpleNamespace:
    """Run one round; its Spark jobs, py4j commands, dequeued rows and the
    DataFrames it ran actions on."""
    sc = c.spark.sparkContext
    group = f"round-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"round {round_no}")
    try:
        with _executed() as frames, _py4j_commands() as py4j:
            stats = c.run_round(round_no)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return SimpleNamespace(jobs=jobs, py4j=py4j[0], dequeued=stats.dequeued, frames=frames)


def _crawl(c: Crawler) -> SimpleNamespace:
    """Bootstrap, rounds 1..ROUNDS-1, then the counted round."""
    c.bootstrap()
    for r in range(1, ROUNDS):
        c.run_round(r)
    return _count_round(c, ROUNDS)


def _order(c: Crawler) -> list[tuple]:
    return [
        (r["round"], r["seq"], r["url_id"])
        for r in c.dequeue_order().orderBy("round", "seq").collect()
    ]


@pytest.fixture(scope="module")
def robots_crawls(spark, tmp_path_factory):
    """(robots+bloom crawler, its round-3 counts, robots-only crawler)."""
    docs, _ = generate_web(n_articles=30, seed=9)
    robots = spark.createDataFrame([("site.example.com", ["/articles/1"], 1500)], ROBOTS_SCHEMA)
    cfg = canonical_config(politeness=Politeness(respect_robots=True))
    root = tmp_path_factory.mktemp("round_jobs")
    sdocs = docs_to_spark(spark, docs)
    bloomed = Crawler(spark, cfg, sdocs, root / "bloom", robots=robots, use_bloom=True)
    counted = _crawl(bloomed)
    plain = Crawler(spark, cfg, sdocs, root / "plain", robots=robots)
    _crawl(plain)
    return bloomed, counted, plain


def test_robots_bloom_round_job_count(robots_crawls):
    _, counted, _ = robots_crawls
    assert counted.jobs <= ROBOTS_BLOOM_MAX_JOBS, f"{counted.jobs} jobs"


def test_robots_bloom_round_py4j_commands(robots_crawls):
    _, counted, _ = robots_crawls
    assert counted.py4j <= ROBOTS_BLOOM_MAX_PY4J, f"{counted.py4j} py4j commands"


def _plan_nodes(tree: str) -> list[tuple[str, list[int]]]:
    """(node line, indices of its ancestors) for each node of a plan's
    treeString; a node's depth is where its text starts."""
    nodes, stack = [], []  # stack: (depth, index) of the open ancestors
    for i, line in enumerate(tree.splitlines()):
        depth = len(re.match(r"[ :|]*(?:[+:]- )?", line).group(0))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        nodes.append((line[depth:], [j for _, j in stack]))
        stack.append((depth, i))
    return nodes


# the columns the link ingest collects (frontier.UrlKernel.ingest)
_INGEST_COLS = ["url_id", "url", "host", "tags", "priority", "part", "h1", "h2"]


def _assert_kernel_fenced(frames: list) -> None:
    """The observe() on the ingest's collect (a CollectMetrics node) is an
    optimizer barrier between the URL kernel and the keep filter. Without
    it the filter's constraints propagate through the kernel's layers, and
    optimizing the plan takes seconds: 12.8 s against ~0.1 s on the
    polite_crawl benchmark's config for the crawl's insert plan, 4.0–5.2 s
    per stream micro-batch. So: every parse/regex of the kernel sits below
    a CollectMetrics, and the keep filter above it, not below."""
    plans = [df for df in frames if df.columns == _INGEST_COLS]
    assert plans, [df.columns for df in frames]
    for df in plans:
        tree = df._jdf.queryExecution().optimizedPlan().toString()
        nodes = _plan_nodes(tree)
        fences = {i for i, (text, _) in enumerate(nodes) if text.startswith("CollectMetrics")}
        assert fences, tree
        kernel = [
            i for i, (text, _) in enumerate(nodes) if "ParseUrl" in text or "regexp_extract" in text
        ]
        assert kernel, tree
        for i in kernel:
            assert fences & set(nodes[i][1]), nodes[i][0][:120]

        def keep(text: str) -> bool:
            return text.startswith("Filter ") and "_ok#" in text

        for i in fences:
            assert any(keep(nodes[j][0]) for j in nodes[i][1]), tree
            assert not any(keep(text) for text, anc in nodes if i in anc), tree


def test_dequeue_collect_fences_the_retag_above_the_ordered_limit(robots_crawls):
    """The round's dequeue collect (the planner's plan re-tagged by
    frontier.UrlKernel.retag) runs the ordered limit as a
    TakeOrderedAndProject with the URL kernel above it. Without the
    observation between them Catalyst pushes the kernel below the limit,
    and the top-k becomes a range-partitioned sort: two more jobs."""
    _, counted, _ = robots_crawls
    plans = [df for df in counted.frames if df.columns == [*FR.DEQUEUE_COLS, "allowed"]]
    assert len(plans) == 1, [df.columns for df in counted.frames]
    tree = plans[0]._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in tree, tree
    nodes = _plan_nodes(tree)
    tops = [i for i, (text, _) in enumerate(nodes) if text.startswith("TakeOrderedAndProject")]
    assert tops, tree
    for i in tops:
        assert any("ParseUrl" in nodes[j][0] for j in nodes[i][1]), tree
        assert not any("ParseUrl" in text for text, anc in nodes if i in anc), tree


def test_ins_write_observation_fences_the_url_kernel(robots_crawls):
    """The round's link ingest collects its candidates through the fence."""
    _, counted, _ = robots_crawls
    _assert_kernel_fenced(counted.frames)


def test_stream_ingest_fences_the_url_kernel(spark, tmp_path):
    """A stream micro-batch inserts through the same fenced collect."""
    _push(spark, tmp_path / "in", [
        "http://site.example.com/articles/1", "http://elsewhere.org/a",
    ])
    with _executed() as frames:
        q = stream_gated_ingest(
            spark, canonical_config(), str(tmp_path / "wh"), str(tmp_path / "in"),
            str(tmp_path / "ck"), budget_per_host=UNBOUNDED,
        )
        q.awaitTermination(120)
    assert q.exception() is None
    assert Warehouse(spark, tmp_path / "wh").committed_rounds() == [1]
    _assert_kernel_fenced(frames)


HANDFUL = 8  # rows a local relation in a steady round's plans may hold


def _local_relation_rows(df: DataFrame) -> list[int]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    nodes = (leaves.apply(i) for i in range(leaves.length()))
    return [n.data().size() for n in nodes if n.getClass().getSimpleName() == "LocalRelation"]


def test_steady_round_plans_read_no_local_relation(spark, tmp_path):
    """No plan a steady round executes (the dequeue, the fetch write, the
    ingest's collect and verify join) holds a local
    relation — a LocalTableScan once planned — of more than a handful of
    rows. Catalyst optimizes a plan over a k-row local relation in ~1 s per
    deep_frontier round (its batch as a file scan: ~0.2 s), and folds
    projections into it, to run them interpreted on the driver. The crawl
    reads its docs and robots from parquet, as the benchmark does."""
    docs, _ = generate_web(n_articles=60, seed=9)
    docs_to_spark(spark, docs).write.parquet(str(tmp_path / "docs"))
    spark.createDataFrame(
        [("site.example.com", ["/articles/1"], 1500)], ROBOTS_SCHEMA
    ).write.parquet(str(tmp_path / "robots"))
    cfg = canonical_config(thread_count=10, politeness=Politeness(respect_robots=True))
    c = Crawler(
        spark, cfg, spark.read.parquet(str(tmp_path / "docs")), tmp_path / "wh",
        robots=spark.read.parquet(str(tmp_path / "robots")), use_bloom=True,
    )
    counted = _crawl(c)
    assert counted.dequeued > HANDFUL
    for df in counted.frames:
        rows = _local_relation_rows(df)
        assert all(n <= HANDFUL for n in rows), (
            rows, df._jdf.queryExecution().optimizedPlan().toString()[:2000],
        )


def test_canonical_round_job_count(spark, tmp_path):
    docs, _ = generate_web(n_articles=40, seed=42)
    c = Crawler(spark, canonical_config(), docs_to_spark(spark, docs), tmp_path / "wh")
    counted = _crawl(c)
    assert counted.jobs <= CANONICAL_MAX_JOBS, f"{counted.jobs} jobs"


def test_observed_counters_exact_under_bloom_union(robots_crawls):
    """The F2/robots counters ride the ingest's collect as an Observation,
    and the bloom only decides which collected candidates the verify join
    checks: the bloomed crawl's counters and dequeue order must equal the
    robots-only crawl's."""
    bloomed, _, plain = robots_crawls
    got = bloomed.metrics_total()
    assert got.get("ROBOTS_BLOCKED_LINKS", 0) > 0
    assert got == plain.metrics_total()
    assert _order(bloomed) == _order(plain)


_SPANS = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
# the columns the writers of the tables without a declared read schema emit:
# the pages and errors deltas' pyarrow tables, the metrics rows
_WRITTEN = {
    "pages": [("url_id", "string"), ("url", "string"), ("round", "int"), ("spans", _SPANS)],
    "errors": [
        ("url_id", "string"), ("url", "string"), ("error", "string"), ("round", "int"),
        ("spans", _SPANS),
    ],
    "metrics": [("round", "int"), ("counter", "string"), ("value", "bigint")],
}


def test_pinned_reads_match_inferred_reads(spark, robots_crawls):
    """For every warehouse table and kind, a read under the pinned schema
    returns the same columns, types and rows as schema inference. A table
    without a declared read schema pins what its first read infers, and
    comparing that with inference compares it with itself; so its first
    read must also give the columns the table's writer emits."""
    c, _, _ = robots_crawls
    wh, root = c.wh, c.wh.root
    last = wh.last_committed_round()

    def dirs(table, prefix):
        return sorted(str(d) for d in (root / table).glob(f"{prefix}-*"))

    base, ins, upd = wh._frontier_pieces(last)
    pinned = {
        ("frontier", "snap"): wh.read_snapshot("frontier", 0),
        ("frontier", "ins"): ins,
        ("frontier", "upd"): upd,
        **{(t, "delta"): wh.read_deltas(t) for t in ("pages", "errors", "metrics", "dequeue_order")},
    }
    # a second read of the delta tables the round itself never reads goes
    # through the schema the first read pinned
    for t in ("errors", "metrics"):
        pinned[(t, "delta")] = wh.read_deltas(t)
    for (table, kind), df in pinned.items():
        assert (table, kind) in wh._schemas, (table, kind)
        assert df is not None, (table, kind)
        inferred = spark.read.parquet(*dirs(table, kind))
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in inferred.schema
        ], (table, kind)
        if table in _WRITTEN:
            got = [(f.name, f.dataType.simpleString()) for f in df.schema]
            assert got == _WRITTEN[table], (table, kind)
        assert sorted(map(repr, df.collect())) == sorted(map(repr, inferred.collect())), (
            table, kind,
        )


def test_errors_delta_reads_back_as_written(robots_crawls):
    """The errors delta, written with pyarrow from a read of the fetch delta,
    reads back through Spark with its own columns (not the fetch delta's):
    one row per failed fetch, stamped with its round."""
    c, _, _ = robots_crawls
    errors = c.wh.read_deltas("errors")
    assert errors.columns == ["url_id", "url", "error", "round", "spans"]
    rows = errors.collect()
    counters = c.metrics_total()
    assert Counter(r["error"] for r in rows) == {
        k.removeprefix("ERROR_"): v for k, v in counters.items() if k.startswith("ERROR_")
    }
    assert {r["round"] for r in rows} <= set(range(1, ROUNDS + 1))


def test_dequeue_order_reads_pre_host_deltas(spark, tmp_path):
    """A warehouse whose round-1 lineage delta predates the `host` column
    reads back through Crawler.dequeue_order() with one schema — round int,
    seq bigint, url_id string, host string — and NULL host for the old rows."""
    docs, _ = generate_web(n_articles=12, seed=2)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)
    Crawler(spark, cfg, sdocs, tmp_path / "wh").run(max_rounds=2)
    old = tmp_path / "wh" / "dequeue_order" / "delta-00000001"
    for f in old.glob("*.parquet"):
        pq.write_table(pq.read_table(f).drop(["host"]), f)

    df = Crawler(spark, cfg, sdocs, tmp_path / "wh").dequeue_order()
    assert df.schema.simpleString() == "struct<round:int,seq:bigint,url_id:string,host:string>"
    rows = df.collect()
    assert {r["round"] for r in rows} == {1, 2}
    assert all(r["host"] is None for r in rows if r["round"] == 1)
    assert all(r["host"] is not None for r in rows if r["round"] == 2)


def test_refetch_reads_pre_saved_round_frontier(spark, tmp_path):
    """A warehouse whose frontier dirs (snap, ins, upd) predate the
    `saved_round` column resumes through the pinned read schemas, NULL in
    that column. A refetch then counts the pages saved before the column
    existed as NEW (FIXTURES.md §3): nothing on their rows records the save."""
    cfg = canonical_config(thread_count=16)  # k = 32: the tiny web crawls out in 2 rounds
    sdocs = docs_to_spark(spark, _tiny_web(cfg))
    root = tmp_path / "wh"
    Crawler(spark, cfg, sdocs, root).run(max_rounds=2)
    saved_before = {r["url_id"] for r in Crawler(spark, cfg, sdocs, root).pages().collect()}
    assert saved_before
    stripped = 0
    for f in (root / "frontier").glob("*/*.parquet"):
        # without Spark's footer schema too, which still names the column
        pq.write_table(pq.read_table(f).drop(["saved_round"]).replace_schema_metadata(None), f)
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)  # Spark's stale checksum
        stripped += 1
    assert stripped

    c = Crawler(spark, cfg, sdocs, root)
    c.run(max_rounds=2, refetch=True)
    counters = [s.counters for s in c.history]
    saved_n = sum(m.get("SAVED_PAGES", 0) for m in counters)
    assert sum(m.get("UPDATED_PAGES", 0) for m in counters) == 0
    assert sum(m.get("NEW_SAVED_PAGES", 0) for m in counters) == saved_n
    resaved = {r["url_id"] for r in c.pages().where("round > 2").collect()}
    assert resaved == saved_before and saved_n == len(resaved)
    # the saves made since are on the frontier rows again
    fr = c.wh.read_frontier()
    assert {r["url_id"] for r in fr.where("saved_round IS NOT NULL").collect()} == resaved
