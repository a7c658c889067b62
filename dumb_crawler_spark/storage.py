"""Snapshot-versioned table storage (SURVEY.md §2.1 S7-S12, §4 round-commit).

The reference keeps all state in one SQLite file with an implicit single
writer (SQLiteConnection.java:54-60) plus gzip/WARC page files rotated at
50 MB (WarcStorageManager.java:91-147). The Spark-native equivalent at the
10^10-row design point is **Iceberg**: the frontier is an Iceberg table
partitioned by ``bucket(P, part)`` with MERGE INTO for upserts, page/metric
tables are plain appends, and a crash-consistent "round" is a set of table
snapshots recorded in a lineage table.

The sandbox container has no Iceberg runtime jar, so this module provides the
same contract on bare Parquet:

- **merge-on-read table** (``frontier``): a base snapshot ``snap-{round:08d}``
  plus per-round ``ins-``/``upd-`` deltas, composed on read (frontier.py),
  each dir written to a temp dir and atomically renamed — the local analog
  of an Iceberg snapshot commit.
- **append-only tables** (``pages``, ``metrics``, ``errors``, ``rounds``):
  one ``delta-{round:08d}`` directory per round; a read unions the deltas of
  committed rounds only. File rotation (reference: 50 MB WARC) falls out of
  Parquet part-file sizing / Iceberg ``write.target-file-size-bytes``.
- **round commit** (C1/C2 crash consistency): a round is visible iff
  ``_round-{round:08d}.json`` exists in ``_commits/``. The marker is written
  last; on restart everything newer than the last marker is invisible and
  garbage-collected — which IS the reference's orphan recovery
  (URLStore.java:54-58: PROCESSING → QUEUED on resume), because uncommitted
  status transitions simply never happened.
- **termination marker** (S12): ``_TERMINATED.json``, reference
  CrawlingSessionContext.java:203-218.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import cached_property
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

COMPACT_EVERY = 16  # the crawl's and the stream's MoR compaction cadence, in rounds


def _footer_rows(parquet_dir: Path) -> int:
    """Row count from parquet footer metadata — no Spark job, no data read."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows for f in parquet_dir.glob("*.parquet")
    )


class Warehouse:
    """One crawl session's tables + round lineage under a root directory.

    ``max_records_per_file`` is the S8 file-rotation analog
    (WarcStorageManager.java:91-147 rotates WARC output at 50 MB): every
    parquet write is bounded via the DataFrameWriter ``maxRecordsPerFile``
    option, the local stand-in for Iceberg's ``write.target-file-size-bytes``,
    and every pyarrow write by slicing its table into part files.
    """

    def __init__(
        self, spark: SparkSession, root: str | Path, max_records_per_file: int | None = None
    ):
        self.spark = spark
        self.root = Path(root)
        self.max_records_per_file = max_records_per_file
        # (table, kind) → read schema. A bare spark.read.parquet launches a
        # schema-inference job per call (~70-80 ms on local[4]); every table
        # keeps one schema for its lifetime, so only the first read infers.
        self._schemas: dict[tuple[str, str], StructType] = {}
        (self.root / "_commits").mkdir(parents=True, exist_ok=True)
        # the frontier's kinds are pinned up front, for every reader (crawl,
        # streaming, CLI): dirs written before a column existed (saved_round)
        # read it back as NULL
        from . import frontier as FR

        for kind in ("snap", "ins"):
            self.pin_schema("frontier", kind, FR.FRONTIER_SCHEMA)
        self.pin_schema("frontier", "upd", FR.UPDATE_DELTA_SCHEMA)
        self.pin_schema("seen_probe", "delta", StructType([StructField("url_id", StringType())]))

    def pin_schema(self, table: str, kind: str, schema: StructType) -> None:
        """Declare the read schema of ``table``'s ``kind`` dirs (snap, ins,
        upd, delta) up front. Files written before a column existed read it
        back as NULL instead of taking their narrower schema from inference."""
        self._schemas[(table, kind)] = schema

    def _read(self, table: str, kind: str, *paths: str) -> DataFrame:
        schema = self._schemas.get((table, kind))
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        self._schemas[(table, kind)] = df.schema
        return df

    # -- atomic writes -------------------------------------------------------
    def _atomic_write(self, df: DataFrame, dest: Path) -> int:
        """Write-to-temp + atomic rename; returns the row count read back
        from the parquet FOOTERS (driver-side metadata, microseconds) so
        callers never launch a count job over data they just wrote."""
        tmp = dest.parent / f".tmp-{uuid.uuid4().hex}"
        w = df.write.mode("overwrite")
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", str(self.max_records_per_file))
        w.parquet(str(tmp))
        if dest.exists():
            shutil.rmtree(dest)
        tmp.rename(dest)
        return _footer_rows(dest)

    def _write_rows(self, dest: Path, arrow_table) -> int:
        """Write-to-temp + atomic rename of a pyarrow table, one part file
        per ``max_records_per_file`` rows (one file if unbounded; an empty
        table still writes one). The footer carries no schema metadata: a
        table read from a Spark-written file keeps Spark's row-schema key,
        and Spark would infer the new file's schema from it. Nor statistics:
        no reader filters these k-row files, and pyarrow puts min/max in
        every page header, which for KB-long span texts would double the
        errors delta (Spark's writer keeps them out)."""
        import pyarrow.parquet as pq

        tmp = dest.parent / f".tmp-{uuid.uuid4().hex}"
        tmp.mkdir(parents=True)
        table = arrow_table.replace_schema_metadata(None)
        n = table.num_rows
        step = self.max_records_per_file or max(n, 1)
        for i, lo in enumerate(range(0, max(n, 1), step)):
            pq.write_table(
                table.slice(lo, step), tmp / f"part-{i:05d}.parquet",
                store_schema=False, write_statistics=False,
            )
        if dest.exists():
            shutil.rmtree(dest)
        tmp.rename(dest)
        return n

    # -- full-state tables (frontier) -----------------------------------------
    def write_snapshot(self, table: str, round_no: int, df: DataFrame) -> int:
        return self._atomic_write(df, self.root / table / f"snap-{round_no:08d}")

    def read_snapshot(self, table: str, round_no: int) -> DataFrame:
        return self._read(table, "snap", str(self.root / table / f"snap-{round_no:08d}"))

    # -- append-only tables ----------------------------------------------------
    def append_delta(self, table: str, round_no: int, df: DataFrame) -> int:
        return self._atomic_write(df, self.root / table / f"delta-{round_no:08d}")

    def drop_delta(self, table: str, round_no: int) -> None:
        """Reclaim a per-round scratch artifact (the `fetch` table: consumed
        only within its round — spans live on in pages/errors)."""
        d = self.root / table / f"delta-{round_no:08d}"
        if d.exists():
            shutil.rmtree(d)

    def append_delta_rows(self, table: str, round_no: int, arrow_table) -> int:
        """Driver-side parquet write for k-row deltas (counter rows, the
        dequeue lineage, the errors and pages tails): a Spark job just to
        persist a few hundred rows costs ~seconds of plan + schedule per
        round; pyarrow writes the same file in microseconds. Readers can't
        tell the difference."""
        return self._write_rows(self.root / table / f"delta-{round_no:08d}", arrow_table)

    def read_delta_rows(self, table: str, round_no: int, columns: list[str]):
        """pyarrow read of one round's delta dir (the driver-side dual of
        append_delta_rows)."""
        import pyarrow.parquet as pq

        return pq.read_table(self.root / table / f"delta-{round_no:08d}", columns=columns)

    def read_delta(self, table: str, round_no: int) -> DataFrame:
        """One round's delta dir (e.g. the per-round `fetch` artifact)."""
        return self._read(table, "delta", str(self.root / table / f"delta-{round_no:08d}"))

    def read_deltas(self, table: str, upto_round: int | None = None) -> DataFrame | None:
        """Union of committed delta dirs (≤ upto_round if given); None if empty.
        Parquet dir-level listing keeps this a metadata operation; column
        pruning applies per delta (e.g. J5 reads only pages.url_id)."""
        tdir = self.root / table
        if not tdir.exists():
            return None
        last = self.last_committed_round() if upto_round is None else upto_round
        dirs = sorted(
            str(d) for d in tdir.glob("delta-*")
            if last is not None and int(d.name.split("-")[1]) <= last
        )
        if not dirs:
            return None
        return self._read(table, "delta", *dirs)

    # -- round lineage / crash consistency -------------------------------------
    def commit_round(self, round_no: int, info: dict) -> None:
        """Marker write = the commit point. The marker is created
        exclusively (a hard link of a complete temp file), so of two writers
        committing the same round (a crawl and a stream, say) the second
        raises FileExistsError instead of overwriting the first's commit."""
        marker = self.root / "_commits" / f"_round-{round_no:08d}.json"
        tmp = marker.with_name(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text(json.dumps({"round": round_no, **info}, default=str))
        try:
            os.link(tmp, marker)
        finally:
            tmp.unlink()

    def committed_rounds(self) -> list[int]:
        return sorted(
            int(p.stem.split("-")[1]) for p in (self.root / "_commits").glob("_round-*.json")
        )

    def last_committed_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def rollback_uncommitted(self) -> None:
        """C2 orphan recovery: drop snapshot/delta dirs newer than the last
        committed round (they are invisible anyway; this reclaims space and
        mirrors Iceberg's snapshot expiry/rollback)."""
        last = self.last_committed_round()
        for tdir in self.root.iterdir():
            if not tdir.is_dir() or tdir.name.startswith("_"):
                continue
            for d in tdir.glob("*-*"):
                try:
                    rnd = int(d.name.split("-")[1])
                except ValueError:
                    continue
                if last is None or rnd > last:
                    shutil.rmtree(d)

    # -- termination marker (S12) ----------------------------------------------
    def write_terminated(self, info: dict) -> None:
        (self.root / "_TERMINATED.json").write_text(json.dumps(info, default=str))

    def is_terminated(self) -> bool:
        return (self.root / "_TERMINATED.json").exists()

    # -- frontier merge-on-read (frontier.py compose/queued docs) ---------------
    def _frontier_dirs(self, round_no: int) -> tuple[Path, list[Path], list[Path]]:
        """(base snapshot dir, ins- dirs, upd- dirs) as of round_no: the latest
        snap ≤ round_no plus the delta dirs in (snap_round, round_no]."""
        tdir = self.root / "frontier"
        rnd = lambda d: int(d.name.split("-")[1])  # noqa: E731
        snaps = sorted((d for d in tdir.glob("snap-*") if rnd(d) <= round_no), key=rnd)
        if not snaps:
            raise FileNotFoundError(f"no frontier snapshot ≤ round {round_no}")
        s = rnd(snaps[-1])

        def deltas(prefix: str) -> list[Path]:
            return sorted((d for d in tdir.glob(f"{prefix}-*") if s < rnd(d) <= round_no), key=rnd)

        return snaps[-1], deltas("ins"), deltas("upd")

    def _frontier_pieces(self, round_no: int):
        """(base snapshot DF, inserts DF|None, updates DF|None) as of round_no.
        Dir listing only — no data read."""
        base, ins, upd = self._frontier_dirs(round_no)

        def read(kind: str, dirs: list[Path]) -> DataFrame | None:
            return self._read("frontier", kind, *map(str, dirs)) if dirs else None

        return read("snap", [base]), read("ins", ins), read("upd", upd)

    def frontier_size(self, round_no: int) -> int:
        """Rows of the frontier as of round_no, from parquet footers (no Spark
        job): the snapshot's plus its ins- deltas'. Exact, because the
        compose joins at most one upd row to each url_id
        (frontier.compose_frontier), which never changes the row count."""
        base, ins, _ = self._frontier_dirs(round_no)
        return sum(_footer_rows(d) for d in (base, *ins))

    @cached_property
    def _frontier_nulls(self) -> DataFrame:
        """No rows in no partitions, every frontier column nullable: unioned
        into every Spark-written snapshot (no task reads it), so they write
        frontier.FRONTIER_ARROW, the one schema a pyarrow concat needs."""
        from . import frontier as FR

        fields = [StructField(f.name, f.dataType, True) for f in FR.FRONTIER_SCHEMA]
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), StructType(fields))

    def write_frontier_snapshot(self, round_no: int, fr: DataFrame, partitions: int) -> int:
        """The Spark frontier snapshot writer (compaction, the refetch reset),
        with explicit layout: repartition by `part` (the salted host bucket —
        Iceberg bucket-spec analog) and sort within partitions by (status,
        priority DESC) — the `WRITE ORDERED BY` analog, so parquet row-group
        min/max stats let the dequeue's status==0 pushdown skip completed row
        groups entirely. A warehouse's first snapshot is written with
        pyarrow (write_frontier_inserts)."""
        out = fr.unionByName(self._frontier_nulls).repartition(partitions, "part")
        out = out.sortWithinPartitions("status", F.desc("priority"))
        return self.write_snapshot("frontier", round_no, out)

    def compact_frontier(self, round_no: int, partitions: int, every: int = COMPACT_EVERY) -> None:
        """MoR compaction (Iceberg rewrite_data_files): every ``every``-th round's
        deltas fold into a fresh base, so the delta window stays bounded."""
        if every and round_no % every == 0:
            self.write_frontier_snapshot(round_no, self.read_frontier(round_no), partitions)

    def write_frontier_updates(self, round_no: int, arrow_table) -> int:
        """The round's k-row update delta (frontier.round_update_delta),
        written with pyarrow."""
        return self._write_rows(self.root / "frontier" / f"upd-{round_no:08d}", arrow_table)

    def write_frontier_inserts(self, round_no: int, rows, snapshot: bool = False) -> int:
        """A round's new frontier rows (frontier.UrlKernel.ingest), written
        with pyarrow: its ins- delta, or with ``snapshot`` an empty
        warehouse's first snap-. Zero rows leave no dir (_frontier_dirs
        globs only existing ones) but in round 0: the seed snapshot is the
        base every later round reads."""
        dest = self.root / "frontier" / f"{'snap' if snapshot else 'ins'}-{round_no:08d}"
        if rows.num_rows == 0 and round_no:
            if dest.exists():
                shutil.rmtree(dest)
            return 0
        return self._write_rows(dest, rows)

    # -- convenience -----------------------------------------------------------
    def read_frontier(self, round_no: int | None = None) -> DataFrame:
        """Reconciled frontier state as of round_no (MoR compose)."""
        from . import frontier as FR

        rnd = self.last_committed_round() if round_no is None else round_no
        if rnd is None:
            raise FileNotFoundError("no committed frontier snapshot")
        return FR.compose_frontier(*self._frontier_pieces(rnd))

    def read_frontier_queued(self, round_no: int | None = None) -> DataFrame:
        """Dequeue-eligible rows only — pushdown-friendly (frontier.queued_view)."""
        from . import frontier as FR

        rnd = self.last_committed_round() if round_no is None else round_no
        if rnd is None:
            raise FileNotFoundError("no committed frontier snapshot")
        return FR.queued_view(*self._frontier_pieces(rnd))

    def read_frontier_seen_ids(self, round_no: int) -> DataFrame:
        """The exact URL-seen set: url_id (and part) of base ∪ inserts —
        column-pruned scans, no update join needed (updates never add ids)."""
        base, ins, _ = self._frontier_pieces(round_no)
        ids = base.select("url_id", "part")
        return ids if ins is None else ids.unionByName(ins.select("url_id", "part"))

    def seen_among(self, seen_round: int, round_no: int, ids) -> "pa.Array":
        """J3: which of ``ids`` (pyarrow) the URL-seen set as of
        ``seen_round`` holds — one broadcast left-semi join of the seen ids
        against the ids, shipped as round ``round_no``'s ``seen_probe`` file
        (a scan, not a local relation), dropped after the collect."""
        import pyarrow as pa

        self.append_delta_rows("seen_probe", round_no, pa.table({"url_id": ids}))
        try:
            probe = F.broadcast(self.read_delta("seen_probe", round_no))
            seen = self.read_frontier_seen_ids(seen_round).select("url_id")
            hits = seen.join(probe, "url_id", "left_semi").toArrow()
        finally:
            self.drop_delta("seen_probe", round_no)
        return hits["url_id"].combine_chunks()
