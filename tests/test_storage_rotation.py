"""S8 file-rotation analog + empty-delta hygiene.

The reference rotates WARC output files at 50 MB
(WarcStorageManager.java:91-147). The Spark-native analog bounds parquet
part-file size via the writer's maxRecordsPerFile (locally) /
Iceberg write.target-file-size-bytes (at scale), and the pyarrow writer
slices its table to the same bound. These tests PIN that the bound actually
holds on the pages table for both writers, and that zero-row frontier insert
deltas leave no directory behind (so delta readers never depend on Spark
emitting schema-only files)."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.storage import Warehouse


def _part_file_rows(table_dir, round_no):
    return [
        pq.read_metadata(f).num_rows
        for f in sorted((table_dir / f"delta-{round_no:08d}").glob("*.parquet"))
    ]


def test_pages_part_files_bounded(spark, tmp_wh):
    """The bound holds on both writers: the Spark one (``append_delta``) and
    the pyarrow one the crawl's pages take (``append_delta_rows``)."""
    wh = Warehouse(spark, tmp_wh, max_records_per_file=100)
    pages = spark.range(1000).select(
        F.concat(F.lit("id"), F.col("id")).alias("url_id"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        F.lit(1).alias("round"),
    )
    for rnd, write, rows in (
        (1, wh.append_delta, pages),
        (2, wh.append_delta_rows, pages.toArrow()),
    ):
        n = write("pages", rnd, rows)
        assert n == 1000  # the row count round-trips exactly
        sizes = _part_file_rows(tmp_wh / "pages", rnd)
        assert sum(sizes) == 1000
        assert max(sizes) <= 100  # the rotation bound holds per part file
        assert len(sizes) >= 10
    assert wh.read_deltas("pages", upto_round=2).count() == 2000


def test_unbounded_writer_exceeds_bound(spark, tmp_wh):
    """Control: without the option one task writes one big file — proves the
    bound in the test above comes from maxRecordsPerFile, not task layout."""
    wh = Warehouse(spark, tmp_wh)
    pages = spark.range(1000).coalesce(1).select(F.col("id").cast("string").alias("url_id"))
    wh.append_delta("pages", 1, pages)
    assert max(_part_file_rows(tmp_wh / "pages", 1)) == 1000


def test_empty_insert_delta_leaves_no_dir(spark, tmp_wh):
    wh = Warehouse(spark, tmp_wh)
    assert wh.write_frontier_inserts(3, FR.FRONTIER_ARROW.empty_table()) == 0
    assert not (tmp_wh / "frontier" / "ins-00000003").exists()


def test_drop_delta_reclaims_fetch_artifact(spark, tmp_wh):
    wh = Warehouse(spark, tmp_wh)
    df = spark.range(5).select(F.col("id").cast("string").alias("url_id"))
    wh.append_delta("fetch", 2, df)
    assert (tmp_wh / "fetch" / "delta-00000002").exists()
    wh.drop_delta("fetch", 2)
    assert not (tmp_wh / "fetch" / "delta-00000002").exists()
    wh.drop_delta("fetch", 2)  # idempotent
