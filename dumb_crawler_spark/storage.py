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
- **retention** (``Warehouse.expire_frontier``): once a round that wrote a
  frontier snapshot (compaction, the refetch reset) is committed, the dirs
  that snapshot supersedes are deleted. Retained: the warehouse's first
  snapshot (the O(seeds) seed snapshot), the latest committed one, and the
  deltas after it, so the frontier's footprint is O(frontier + delta
  window), not one copy per compaction. Time travel works only inside that
  window, plus the first round: a read of an expired round raises.
  Rollback of uncommitted dirs, of a half-done replace and of orphaned
  ``.tmp-`` dirs plus the finishing of a cut-short expiry
  (``rollback_uncommitted``) are the analog of Iceberg's rollback,
  ``remove_orphan_files`` and ``expire_snapshots``. A warehouse written
  before expiry existed reads every round as written; its first writer
  (crawl resume, stream start) expires it.
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


def _round_of(d: Path) -> int | None:
    """The round of a ``<kind>-<round:08d>`` table dir; None for any other entry."""
    kind, _, rnd = d.name.partition("-")
    return int(rnd) if kind and rnd.isdigit() else None


def _publish(tmp: Path, dest: Path) -> None:
    """Rename a fully written temp dir to ``dest``. An existing ``dest`` (the
    refetch reset rewrites its round's snapshot in place) is renamed aside
    to ``.old-<name>`` first and deleted last: a kill between the two
    renames leaves both dirs whole, and rollback_uncommitted renames the old
    one back. Deleting ``dest`` first would leave none, or half of one."""
    if not dest.exists():
        tmp.rename(dest)
        return
    old = dest.with_name(f".old-{dest.name}")
    dest.rename(old)
    tmp.rename(dest)
    shutil.rmtree(old)


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
        _publish(tmp, dest)
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
        _publish(tmp, dest)
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
        raises FileExistsError instead of overwriting the first's commit.
        A round that wrote a frontier snapshot then expires what it
        supersedes (expire_frontier); nothing is deleted before its marker
        exists."""
        marker = self.root / "_commits" / f"_round-{round_no:08d}.json"
        tmp = marker.with_name(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text(json.dumps({"round": round_no, **info}, default=str))
        try:
            os.link(tmp, marker)
        finally:
            tmp.unlink()
        self.expire_frontier()

    def committed_rounds(self) -> list[int]:
        return sorted(
            int(p.stem.split("-")[1]) for p in (self.root / "_commits").glob("_round-*.json")
        )

    def last_committed_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def rollback_uncommitted(self) -> None:
        """C2 orphan recovery, run by a writer before its first round (crawl
        resume, stream start). It puts back a dir a replace renamed aside
        (_publish), deletes the ``.tmp-`` dirs and files of writes killed
        before their rename, drops the snapshot/delta dirs newer than the
        last committed round (invisible anyway), and finishes an expiry a
        kill cut short (expire_frontier) — the analog of Iceberg's rollback,
        remove_orphan_files and expire_snapshots. Single-writer
        precondition (ROADMAP item 6): another live writer's in-flight dirs
        look exactly like a crashed one's, and are deleted too."""
        last = self.last_committed_round()
        for tdir in (d for d in self.root.iterdir() if d.is_dir()):
            for d in tdir.glob(".old-*"):
                live = d.with_name(d.name.removeprefix(".old-"))
                shutil.rmtree(d) if live.exists() else d.rename(live)
            for d in tdir.glob(".tmp-*"):
                shutil.rmtree(d) if d.is_dir() else d.unlink()
            if tdir.name.startswith("_"):
                continue
            for d in tdir.glob("*-*"):
                rnd = _round_of(d)
                if rnd is not None and (last is None or rnd > last):
                    shutil.rmtree(d)
        self.expire_frontier()

    def expire_frontier(self) -> None:
        """Iceberg expire_snapshots analog, run once the latest committed
        frontier snapshot and its round's marker both exist (commit_round,
        the refetch reset, rollback_uncommitted): every dir that snapshot
        supersedes goes — the older snapshots but the warehouse's first, and
        every ins-/upd- delta at or before it. The round expired through is
        recorded first, so a read of an expired round raises
        (_frontier_dirs) even when a kill left some of those dirs behind.
        Idempotent."""
        last, tdir = self.last_committed_round(), self.root / "frontier"
        if last is None:
            return
        snaps = sorted(r for d in tdir.glob("snap-*") if (r := _round_of(d)) <= last)
        if len(snaps) < 2:
            return
        first, latest = snaps[0], snaps[-1]
        if self._expired_through() < latest:
            tmp = tdir / f".tmp-{uuid.uuid4().hex}"
            tmp.write_text(json.dumps({"round": latest}))
            os.replace(tmp, tdir / "_expired.json")
        superseded = [d for d in tdir.glob("snap-*") if first < _round_of(d) < latest]
        superseded += [d for k in ("ins", "upd") for d in tdir.glob(f"{k}-*") if _round_of(d) <= latest]
        for d in superseded:
            shutil.rmtree(d)

    def _expired_through(self) -> int:
        """The round the frontier was last expired through (-1: never, as in
        a warehouse written before expiry existed)."""
        p = self.root / "frontier" / "_expired.json"
        return json.loads(p.read_text())["round"] if p.exists() else -1

    # -- termination marker (S12) ----------------------------------------------
    def write_terminated(self, info: dict) -> None:
        (self.root / "_TERMINATED.json").write_text(json.dumps(info, default=str))

    def is_terminated(self) -> bool:
        return (self.root / "_TERMINATED.json").exists()

    # -- frontier merge-on-read (frontier.py compose/queued docs) ---------------
    def _frontier_dirs(self, round_no: int) -> tuple[Path, list[Path], list[Path]]:
        """(base snapshot dir, ins- dirs, upd- dirs) as of round_no: the latest
        snap ≤ round_no plus the delta dirs in (snap_round, round_no].
        Raises for a round expire_frontier expired (between the first
        snapshot and the one expired through, whose deltas are gone), and
        for any round once that snapshot is missing (the refetch reset
        killed mid-replace), instead of composing an older base with no
        deltas."""
        tdir = self.root / "frontier"
        snaps = sorted(tdir.glob("snap-*"), key=_round_of)
        older = [d for d in snaps if _round_of(d) <= round_no]
        if not older:
            raise FileNotFoundError(f"no frontier snapshot ≤ round {round_no}")
        s, expired = _round_of(older[-1]), self._expired_through()
        if s < expired and round_no > _round_of(snaps[0]):
            raise FileNotFoundError(
                f"frontier round {round_no} is expired or its snapshot is missing (expired "
                f"through round {expired}; snapshots {[d.name for d in snaps]})"
            )

        def deltas(prefix: str) -> list[Path]:
            return sorted(
                (d for d in tdir.glob(f"{prefix}-*") if s < _round_of(d) <= round_no), key=_round_of
            )

        return older[-1], deltas("ins"), deltas("upd")

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
        deltas fold into a fresh base, so the delta window stays bounded; the
        round's commit expires what the base supersedes (expire_frontier)."""
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
        one column-pruned scan of the snapshot and ins- dirs, no update join
        needed (updates never add ids)."""
        base, ins, _ = self._frontier_dirs(round_no)
        return self._read("frontier", "snap", *map(str, (base, *ins))).select("url_id", "part")

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
