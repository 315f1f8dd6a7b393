"""Structured Streaming ingest for the webtext KG pipeline.

The reference is a batch two-pass pipeline with no streaming surface
(SURVEY.md §2.9); this module is the engine's scale-path extension: pages
arrive as a stream (file source in production = new parquet files landing in
the crawl directory), flow through the SAME extraction/mention/link column
expressions as the batch path, and emit triples continuously. Late data is
handled with event-time watermarks on ``warc_ts``; a custom stateful
sessionization operator shows the ``applyInPandasWithState`` surface.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline.webtext import (
    PAGE_GRAPH_SCHEMA, _convert_pages, detect_mentions, extract_pages,
    mention_detector, pages_to_triples)


def stream_pages_to_triples(pages_stream: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Streaming pages → (subj, pred, obj) triples.

    Stateless (no state store): every micro-batch is a pure map + a
    stream-static dict lookup — the batch
    :func:`~data2neo_spark.pipeline.webtext.pages_to_triples` itself, so
    both link each surface the same way. The caller picks the sink
    (``writeStream.format("parquet"|"memory")...``).
    """
    return pages_to_triples(pages_stream, entity_dict)


def stream_windowed_mention_counts(
    pages_stream: DataFrame,
    entity_dict: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window per-entity mention counts with a watermark on the
    crawl timestamp — late pages beyond the watermark are dropped, state is
    bounded (the 100 TB requirement: state size ∝ entities × open windows,
    not corpus size). Each mention counts once, for its linked entity."""
    docs = pages_stream.select("url", "warc_ts", "text").withWatermark(
        "warc_ts", watermark
    )
    # stateless mention detection carrying the event-time column (a
    # stream-stream self-join to re-attach warc_ts would need two
    # watermarks; carrying the column through the explode avoids it)
    enriched = detect_mentions(docs, entity_dict, count_hits=False,
                               keep=("url", "warc_ts"))
    return (
        enriched.groupBy(
            F.window("warc_ts", window).alias("win"),
            F.col("canonical"),
        )
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "canonical",
            "n_mentions",
        )
    )


def stream_pages_to_graph(
    pages_stream: DataFrame,
    entity_dict: DataFrame,
    store,
    schema: str = PAGE_GRAPH_SCHEMA,
):
    """Incremental graph materialization: every micro-batch runs the batch
    :func:`~data2neo_spark.pipeline.webtext.pages_to_graph` step (same
    detection, linking and schema) against the shared GraphStore with
    ``run_id = batch_id`` — merge-on-key nodes upsert, batch replays after
    failure are idempotent (the streaming variant of the checkpoint/resume
    contract). The dictionary lookup is decided once, when the stream
    starts (:func:`~data2neo_spark.pipeline.webtext.mention_detector`),
    not per micro-batch.

    Returns the StreamingQuery; stop it to end ingestion.
    """
    detect = mention_detector(entity_dict)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _convert_pages(extract_pages(batch_df), detect, store, schema,
                       run_id=int(batch_id))

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .outputMode("update")
        .start()
    )


_SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("closed", T.BooleanType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])


def _make_session_fn(timeout_ms: int):
    def _session_fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        """Accumulate per-user event counts/values; with a timeout
        configured, close (emit + drop) the session when it fires."""
        (user_id,) = key
        if timeout_ms and state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": user_id, "n_events": n, "total_value": total,
                  "closed": True}]
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total_value": total,
              "closed": False}]
        )

    return _session_fn


def stream_sessionize(events_stream: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Arbitrary-stateful sessionization over an events stream
    (``applyInPandasWithState`` — the custom-stateful-operator surface).

    ``timeout_ms=0`` (default) emits running per-user aggregates with no
    processing-time timeout — deterministic and drainable with
    ``processAllAvailable`` (a ProcessingTimeTimeout keeps scheduling empty
    micro-batches to fire timers, so drain-style tests/backfills never
    terminate with one). Pass a positive timeout for live sessions that
    close after inactivity."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(timeout_ms),
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_incremental_dedup(
    docs_stream: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    available_now: bool = False,
):
    """Streaming daily-crawl dedup against the persistent signature store:
    every micro-batch (a) emits its WITHIN-batch LSH candidate pairs, (b)
    emits its batch×STORE cross-frame pairs, then (c) appends its own band
    signatures to the store — so each document's signatures are computed
    exactly once ever, and the union of emitted pairs is MICRO-BATCH-
    BOUNDARY-INVARIANT: it equals all candidate pairs (a, b) with b seen
    no later than a, however the stream is chopped (the idempotence twin
    of the batch operator contract; verified in test_streaming).

    Layout under ``store_dir``: ``bands/batch_id=N/`` (the
    :func:`~data2neo_spark.operators.dedup.band_signatures` frames, one
    partition dir per micro-batch) and ``pairs/batch_id=N/`` (the emitted
    candidate pairs). Per-batch dirs are written with OVERWRITE, so a
    replayed micro-batch (task failure, checkpoint restart) rewrites its
    own output instead of double-appending — idempotent like the batch
    converter path. Read either store through the parent directory
    (partition discovery adds the ``batch_id`` column).
    Returns the StreamingQuery.
    """
    import os as _os

    from ..operators.dedup import (
        band_signatures, minhash_lsh_candidates,
        minhash_lsh_candidates_between,
    )

    bands_path = _os.path.join(store_dir, "bands")
    pairs_path = _os.path.join(store_dir, "pairs")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).persist()
        try:
            sig = band_signatures(
                batch, id_col, text_col, num_hashes, bands, shingle_n
            )
            within = minhash_lsh_candidates(
                batch, id_col, text_col, num_hashes, bands, shingle_n,
                max_bucket_size,
            ).select(
                F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"),
                "n_shared_bands",
            )
            # the store must not see THIS batch's own signatures on a
            # replay, so prior batches live in batch_id=N partition dirs
            # and the replay check excludes the current id
            prior = [
                d for d in (_os.listdir(bands_path)
                            if _os.path.isdir(bands_path) else [])
                if d.startswith("batch_id=")
                and d != f"batch_id={batch_id}"
            ]
            if prior:
                stored = spark.read.parquet(
                    *[_os.path.join(bands_path, d) for d in prior]
                )
                cross = minhash_lsh_candidates_between(
                    batch, None, id_col, text_col, num_hashes, bands,
                    shingle_n, max_bucket_size, corpus_bands=stored,
                )
                out = within.unionByName(cross)
            else:
                out = within
            # per-batch partition dirs + overwrite ⇒ a replayed micro-batch
            # (task failure, checkpoint restart) rewrites its OWN output
            # instead of double-appending — the idempotence contract the
            # batch converter path already keeps
            out.write.mode("overwrite").parquet(
                _os.path.join(pairs_path, f"batch_id={batch_id}")
            )
            sig.write.mode("overwrite").parquet(
                _os.path.join(bands_path, f"batch_id={batch_id}")
            )
        finally:
            batch.unpersist()

    w = docs_stream.writeStream.foreachBatch(_process).outputMode("update")
    if available_now:
        # drain everything already on disk (respecting source rate limits
        # like maxFilesPerTrigger, so batch boundaries still exercise the
        # store path) and terminate — the batch-job-shaped daily run
        w = w.trigger(availableNow=True)
    return w.start()
