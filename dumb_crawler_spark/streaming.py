"""Structured Streaming surface (SURVEY.md §2.9).

The reference has no streaming runtime — its "stream" is a 1-second poll loop
(DumbCrawler.java:302-310), which crawler.py re-expresses as batch rounds.
This module adds the streaming shape a production frontier actually needs,
built on the same operators: :func:`stream_gated_ingest`, a continuous
seed/link ingest. (url, ts) files landing in a directory are canonicalized
→ politeness-gated (:func:`politeness_gate`, per-host state in the
checkpoint) → tagged → scored → filtered → inserted on the crawl's path,
each micro-batch that adds rows as the next round's ``ins-`` delta
(``foreachBatch``). Effective exactly-once: the checkpoint dedups file
replay, and a replayed batch inserts nothing (the url_id seen-check).

Scale: each micro-batch reuses the batch operators, so partitioning/shuffle
behavior is identical to the round loop; the streaming runtime only schedules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from . import frontier as FR
from .config import CrawlConfig
from .storage import Warehouse


def _merge_urls(wh: Warehouse, kernel: FR.UrlKernel, urls: DataFrame, batch_id: int) -> None:
    """Insert one micro-batch's F2-allowed urls as the next round, on the
    crawl's path (frontier.UrlKernel.ingest: the fenced kernel, the
    seen-check, an ``ins-`` delta; an empty warehouse's first snapshot).
    Only a round that inserted rows commits."""
    last = wh.last_committed_round()
    rnd = (last or 0) + 1
    rows, _ = kernel.ingest(wh, urls, rnd, last)
    if rows.num_rows:
        wh.compact_frontier(rnd, kernel.cfg.partitions)
        wh.commit_round(rnd, {"stream_batch": batch_id})


POLITENESS_OUT_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("admitted", T.BooleanType()),
])

POLITENESS_STATE_SCHEMA = T.StructType([
    T.StructField("window_start", T.LongType()),  # epoch seconds of the window
    T.StructField("used", T.LongType()),          # admissions consumed in it
])


def politeness_gate(
    urls: DataFrame,
    budget_per_host: int,
    window_seconds: int = 60,
    host_col: str = "host",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): per-host
    event-time politeness budget across micro-batches.

    The batch engine enforces politeness per round in its dequeue plan
    (planner.IncrementalPlanner); a continuous pipeline has no rounds, so the
    cap must be carried as STATE keyed by host: each host's group state
    holds (current event-time window, admissions used). A batch of candidate
    URLs for a host admits at most ``budget_per_host − used`` rows per
    ``window_seconds`` event-time window, in (ts, url) order — crossing into
    a newer window resets the count (the token-bucket refill). Rows beyond
    the budget are emitted with ``admitted = false`` (a production pipeline
    would loop them back into the frontier; emitting keeps the operator
    side-effect-free and testable).

    Vectorized end-to-end: one pandas frame per (host, micro-batch) group —
    no per-row Python (input_hint discipline). State is O(16 bytes) per
    host, evicted via EventTimeTimeout once the WATERMARK passes two windows
    beyond the host's last activity — deterministic (processing-time TTLs
    would silently drop budgets between micro-batches of a resumed query).

    Works on a streaming DataFrame (groupBy(host).applyInPandasWithState);
    the reference's analog is the blocking per-host delay in its fetch pool
    (politeness budget, SURVEY.md north-rule addition).
    """
    import numpy as np
    import pandas as pd

    def gate(key, pdf_iter, state):
        (host,) = key
        if state.hasTimedOut:
            state.remove()
            return
        win0, used = state.get if state.exists else (-1, 0)
        # one frame per (host, micro-batch): when a group spans multiple
        # Arrow chunks, chunk-local sorting could advance the window on an
        # early chunk and then mis-reject a later chunk's rows from an older
        # window as late (under-admission). Group size is bounded by the
        # budget-relevant traffic per host per batch, so the concat is small.
        chunks = [c for c in pdf_iter if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values([ts_col, "url"], kind="mergesort")
            epoch = pdf[ts_col].astype("int64") // 10**9
            w = ((epoch // window_seconds) * window_seconds).to_numpy()
            # vectorized admission: rank within each event-time window, plus
            # the carried-over count for the state's current window; rows
            # from windows OLDER than the state are late → never admitted
            rank = pd.Series(w).groupby(w).cumcount().to_numpy()
            carry = np.where(w == win0, used, 0)
            admitted = (w >= win0) & (rank + carry < budget_per_host)
            yield pd.DataFrame({
                "host": host,
                "url": pdf["url"].to_numpy(),
                "ts": pdf[ts_col].to_numpy(),
                "admitted": admitted,
            })
            if len(w):
                last = int(max(int(w.max()), win0))
                n_last = int(admitted[w == last].sum())
                used = n_last + (used if last == win0 else 0)
                win0 = last
        state.update((int(win0), int(used)))
        # evict when the watermark passes 2 windows beyond this host's last
        # one; clamp above the current watermark (a host fed only late rows
        # must still get a valid timeout)
        state.setTimeoutTimestamp(max(
            (win0 + 2 * window_seconds) * 1000,
            state.getCurrentWatermarkMs() + window_seconds * 1000,
        ))

    from pyspark.sql.streaming.state import GroupStateTimeout

    return urls.withWatermark(ts_col, f"{window_seconds} seconds").groupBy(
        host_col
    ).applyInPandasWithState(
        gate,
        outputStructType=POLITENESS_OUT_SCHEMA,
        stateStructType=POLITENESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _prune_drained_refeeds(incoming_dir: str, batch_id: int, margin: int = 2) -> None:
    """Delete park dirs whose contents the file source has already committed.

    ``refeed=b`` is written while batch ``b`` processes and first LISTED as
    input for batch ``b+1``; once the query is executing batch ``batch_id``,
    every batch ≤ batch_id−1 is committed, so dirs with ``b ≤ batch_id−2``
    can never be re-read — not even by a crash-replay of the CURRENT batch
    (which needs only ``refeed=batch_id−1``). Local filesystem only (the
    sandbox case); a cloud deployment would use the source's ``cleanSource``
    retention instead. Idempotent under replay by construction."""
    import re
    import shutil
    from pathlib import Path

    root = Path(incoming_dir.removeprefix("file:"))
    if not root.is_dir():
        return
    for d in root.glob("refeed=*"):
        m = re.fullmatch(r"refeed=(\d+)", d.name)
        if m and int(m.group(1)) <= batch_id - margin:
            shutil.rmtree(d, ignore_errors=True)


def stream_gated_ingest(
    spark: SparkSession,
    cfg: CrawlConfig,
    warehouse_dir: str,
    incoming_dir: str,
    checkpoint_dir: str,
    budget_per_host: int,
    window_seconds: int = 60,
    available_now: bool = True,
) -> StreamingQuery:
    """The continuous frontier pipeline, end to end (VERDICT r02 item 9):
    file-stream of (url, ts) candidates → canonicalize/host (URL kernel on
    the stream) → STATEFUL per-host politeness gate → frontier insert, one
    ``ins-`` delta commit per micro-batch that adds rows (:func:`_merge_urls`).
    A budget no host reaches makes it an ungated ingest.

    The gate runs INSIDE the streaming query (its per-host token-bucket
    state lives in the checkpoint, so the budget holds across micro-batches
    AND restarts). Budget-rejected rows are NOT dropped (VERDICT r03 item 7
    / ADVICE r03): the merge step PARKS them back into the incoming
    directory with their event time bumped one window forward — the
    streaming analog of the batch engine's beyond-cap rows staying QUEUED
    for the next round's dequeue. Every candidate therefore eventually
    merges (the gate admits ≥ budget ≥ 1 rows per host-window, so the
    parked set drains), while no (host, window) ever exceeds its budget.
    Park-file naming is deterministic per micro-batch (overwrite of
    ``refeed=<batch_id>``), so a replayed foreachBatch is idempotent for
    the park write exactly as the url_id insert is for the frontier; the
    source reads the refeed subdirs via recursiveFileLookup.

    Two park details matter for the guarantee (ADVICE r04):

    - **Watermark clamp.** The gate input is watermarked at (max event time
      − window). A rejected row whose own ts lags the stream's max by >2
      windows (multi-host event-time skew) would re-enter BELOW the
      watermark if parked at ``ts + window`` and be dropped as late data —
      silently violating "every candidate eventually merges". The park
      therefore bumps to ``greatest(ts + window, max batch event time)``:
      never below the watermark the batch itself advanced, while the
      no-skew case keeps the exact next-window semantics. (A row can still
      be out-skewed by data arriving WHILE it is parked; each re-park
      re-clamps to the then-current max, so it converges rather than drops.)
    - **Bounded park dirs.** A batch with zero rejections writes no park
      dir at all (deterministic, so replay-idempotent), and drained park
      dirs two micro-batches old — whose contents the source committed at
      least one batch ago — are pruned, so a long-running stream's listing
      cost stays proportional to in-flight parked data, not stream age.
    """
    from .urlkit import apply_layers, canonical_url_layers, host_of

    wh = Warehouse(spark, warehouse_dir)
    # a crashed round's dirs would become part of the next round this stream
    # commits: drop them, as a resuming Crawler does
    wh.rollback_uncommitted()
    kernel = FR.UrlKernel(cfg)  # built on the first batch, reused by the rest

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            _merge_urls(wh, kernel, batch.where(F.col("admitted")).select("url"), batch_id)
            # re-feed: beyond-budget rows come back as next-window candidates,
            # clamped above the watermark this batch advanced (see docstring)
            agg = batch.agg(
                F.max("ts").alias("mx"),
                F.sum((~F.col("admitted")).cast("long")).alias("n_rej"),
            ).collect()[0]
            if agg["n_rej"]:
                rejected = batch.where(~F.col("admitted")).select(
                    "url",
                    F.greatest(
                        F.col("ts") + F.expr(f"INTERVAL {window_seconds} SECONDS"),
                        F.lit(agg["mx"]),
                    ).alias("ts"),
                )
                rejected.write.mode("overwrite").parquet(
                    f"{incoming_dir}/refeed={batch_id}"
                )
            _prune_drained_refeeds(incoming_dir, batch_id)
        finally:
            batch.unpersist()

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(incoming_dir)
    )
    stream = apply_layers(stream, canonical_url_layers(keep=["ts"])).withColumn(
        "host", host_of(F.col("url"))
    )
    gated = politeness_gate(stream, budget_per_host, window_seconds)
    writer = gated.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
