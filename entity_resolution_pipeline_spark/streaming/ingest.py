"""Streaming ingest: file-source events -> watermarked windowed aggregates.

Batch-equivalent semantics are used by the tests: the same aggregation run
as a static DataFrame must equal the streaming result after an
``availableNow`` catch-up run (late rows beyond the watermark dropped).

At production scale the source would be Kafka/Kinesis and the sink an
Iceberg table with exactly-once semantics via checkpointLocation; the query
shape (event-time window + watermark + per-key counts) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.text import normalize_col

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed per-type counts + value sums."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_events_from_dir(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def dedup_stream(docs: DataFrame, text_col: str = "text", ts_col: str = "ts",
                 watermark: str = "2 hours",
                 batch_order: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup: first-seen row per normalized-text hash wins.

    The training-data ingest shape: state is keyed on the 16-byte
    md5(normalized text) — never the document bytes — and bounded by
    the event-time watermark (``dropDuplicatesWithinWatermark``), so state
    size ~ distinct keys per watermark horizon, not corpus size. The full
    128-bit digest (not a 64-bit truncation) keeps birthday collisions —
    which would silently DROP distinct documents here — at ~n^2/2^129.

    Batch degenerate: with ``batch_order`` given (e.g. ``["ts"]`` or
    ``["doc_id"]``), the MIN row per key under that ordering survives —
    the deterministic, SQL-replayable twin of the stream's first-seen-wins
    (and the shape the contract oracle pins); without it, a plain
    dropDuplicates (any row per key, cheapest plan).
    """
    from pyspark.sql import Window

    key = F.unhex(F.md5(normalize_col(F.col(text_col))))
    keyed = docs.withColumn("tkey", key)
    if docs.isStreaming:
        return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["tkey"])
    if batch_order:
        w = Window.partitionBy("tkey").orderBy(*batch_order)
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return keyed.dropDuplicates(["tkey"])


def sessionize(
    events: DataFrame,
    gap: str = "17 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time sessionization via the native ``session_window``.

    One session per burst of events whose gaps stay under ``gap``; the
    window end is (last event + gap), Spark's session semantics. Works
    identically on batch frames and streams (watermarked, sessions emitted
    once closed). Boundary semantics (pytest-pinned): an event at exactly
    (last event + gap) still MERGES into the session — Spark treats the
    window end inclusively when merging. Exactly replayable in SQL as the
    classic gaps-and-islands: break when the lag difference is STRICTLY
    greater than gap, cumulative-sum the breaks into session ids — the
    driver oracle does precisely that.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(key_col, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def time_rollup(
    events: DataFrame,
    grains: tuple[str, ...] = ("1 hour", "1 day"),
    ts_col: str = "ts",
    by: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Hypertable-style multi-granularity time rollup: one windowed
    aggregate per grain, unioned with a ``grain`` label — the continuous-
    aggregate shape a time-series store materializes per resolution.

    Buckets are epoch-aligned tumbling windows, so '1 hour'/'1 day' starts
    equal date_trunc on both engines (the oracle replays each grain with
    date_trunc + UNION ALL). Each grain is an independent partial-agg
    shuffle; at scale coarser grains would roll up FROM the finest
    materialized table instead of rescanning raw events — same results,
    one scan (the union shape here keeps the operator pure/deterministic).
    """
    from functools import reduce

    outs = []
    for g in grains:
        w = F.window(ts_col, g)
        outs.append(
            events.groupBy(w.alias("w"), *by)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                F.lit(g).alias("grain"),
                F.col("w.start").alias("bucket_start"),
                *by,
                "n_events",
                "sum_value",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def curate_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    min_chars: int = 20,
    max_punct_ratio: float = 0.5,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming training-data curation: quality gate, then exact dedup.

    The composition pattern for corpus ingest — STATELESS filters (pure
    JVM column predicates, identical semantics batch or stream) run BEFORE
    the stateful dedup so state only ever holds documents worth keeping:
    on a firehose the quality gate cuts the dedup state footprint by the
    reject rate, for free. Adds ``n_chars_norm`` and ``punct_ratio``
    columns so downstream sinks can log why rows survived.
    """
    norm = normalize_col(F.col(text_col))
    n_chars = F.length(norm)
    n_punct = n_chars - F.length(F.regexp_replace(norm, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(1.0)
    gated = (
        docs.withColumn("n_chars_norm", n_chars.cast("long"))
        .withColumn("punct_ratio", punct_ratio)
        .where(
            (F.col("n_chars_norm") >= min_chars)
            & (F.col("punct_ratio") <= max_punct_ratio)
        )
    )
    return dedup_stream(gated, text_col=text_col, ts_col=ts_col, watermark=watermark)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user event count + value sum, emitted on every update.

    The §2.11 'custom stateful operator' surface: arbitrary per-key Python
    state with Arrow-batched input — the escape hatch for semantics windowed
    aggregates can't express (running totals, sessionization, model state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def fn(key, pdfs, state):
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_catchup(spark: SparkSession, src_dir: str, out_dir: str,
                checkpoint_dir: str, window: str = "1 hour",
                watermark: str = "2 hours") -> None:
    """availableNow catch-up: process all files now, then stop (testable)."""
    agg = windowed_counts(stream_events_from_dir(spark, src_dir), window, watermark)
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _minhash_band_rows_stream(docs: DataFrame, text_col: str, id_col: str,
                              ts_col: str, num_perm: int, bands: int,
                              shingle_k: int, max_chars: int = 2048) -> DataFrame:
    """(band, doc_id, ts, sig) rows for a (possibly streaming) doc frame.

    The batch sketch: ``dedup.minhash_matrix`` over ``dedup.sketch_text``,
    so signatures equal ``minhash_signatures`` value for value (the
    batch-equivalence test pins it). The band key is the md5 hex of
    ``"<band index>:<band components, comma-joined>"``. mapInPandas, not
    the batch operator, because streaming frames allow no rdd access and no
    ensure_parallelism repartition."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..operators.dedup import minhash_matrix, sketch_text

    rows_per_band = num_perm // bands

    def run(batches):
        md5 = hashlib.md5
        memo: dict[str, int] = {}
        for pdf in batches:
            sigs = minhash_matrix(
                pdf["nt"].tolist(), num_perm, shingle_k, np.int64, memo
            ).tolist()
            out_band, out_id, out_ts, out_sig = [], [], [], []
            for doc_id, ts, sig in zip(pdf[id_col], pdf[ts_col], sigs):
                for bi in range(bands):
                    chunk = sig[bi * rows_per_band:(bi + 1) * rows_per_band]
                    band = md5(
                        f"{bi}:{','.join(str(x) for x in chunk)}".encode()
                    ).hexdigest()
                    out_band.append(band)
                    out_id.append(doc_id)
                    out_ts.append(ts)
                    out_sig.append(sig)
            yield pd.DataFrame({
                "band": out_band, "doc_id": out_id, "ts": out_ts, "sig": out_sig,
            })

    nt = sketch_text(F.col(text_col), max_chars)
    return (
        docs.select(id_col, ts_col, nt.alias("nt"))
        .where(F.col("nt") != "")
        .mapInPandas(run, schema="band string, doc_id long, ts timestamp, sig array<bigint>")
    )


def near_dup_pairs_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_state: int = 1024,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming MinHash-LSH near-dup pair alerts — the streaming twin of
    operators/dedup.minhash_lsh_pairs (pytest-pinned batch-equivalent).

    Each arriving document is sketched once (the batch operator's
    ``minhash_matrix``), exploded to its ``bands`` LSH bucket rows, and run
    through a per-bucket stateful kernel (applyInPandasWithState): the
    bucket's state holds the last ``max_bucket_state`` (doc_id,
    signature) entries (FIFO — explicit bound on state bytes per key);
    every new document is verified component-wise against the resident
    sketches and emits (doc_id1, doc_id2, est_jaccard, ts) for matches at
    or above ``threshold``. A pair sharing several buckets is emitted per
    bucket — downstream, dedupe within the watermark horizon
    (``dropDuplicatesWithinWatermark(["doc_id1","doc_id2"])``) exactly
    like the batch path's distinct.

    State profile at scale: bytes per bucket <= max_bucket_state *
    (8 + 8*num_perm); buckets shard across executors by the band hash —
    the same equi-partitioning the batch bucket-join shuffles on.

    STREAMING ONLY: ``applyInPandasWithState`` requires a streaming input
    (a batch frame fails deep in the engine with an opaque error), so this
    operator raises up front on one — the batch twin is
    ``operators.dedup.minhash_lsh_pairs``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not docs.isStreaming:
        raise ValueError(
            "near_dup_pairs_stream requires a streaming DataFrame "
            "(readStream); use operators.dedup.minhash_lsh_pairs for batch"
        )
    band_rows = _minhash_band_rows_stream(
        docs, text_col, id_col, ts_col, num_perm, bands, shingle_k
    ).withWatermark("ts", watermark)

    out_schema = "doc_id1 long, doc_id2 long, est_jaccard double, ts timestamp"
    state_schema = "ids array<bigint>, flat array<bigint>"
    n_perm = num_perm

    def fn(key, pdfs, state):
        ids, flat = (state.get if state.exists else ([], []))
        ids = list(ids)
        flat = list(flat)
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["doc_id"], pdf["ts"], pdf["sig"]))
        rows.sort(key=lambda r: r[0])  # deterministic within a batch
        o1, o2, oe, ot = [], [], [], []
        for doc_id, ts, sig in rows:
            doc_id = int(doc_id)
            sig = [int(x) for x in sig]
            for j, other in enumerate(ids):
                if other == doc_id:
                    continue
                osig = flat[j * n_perm:(j + 1) * n_perm]
                matches = sum(1 for x, y in zip(sig, osig) if x == y)
                est = matches / n_perm
                if est >= threshold:
                    o1.append(min(doc_id, other))
                    o2.append(max(doc_id, other))
                    oe.append(est)
                    ot.append(ts)
            if doc_id not in ids:
                ids.append(doc_id)
                flat.extend(sig)
                if len(ids) > max_bucket_state:  # FIFO bound
                    ids = ids[1:]
                    flat = flat[n_perm:]
        state.update((ids, flat))
        yield pd.DataFrame(
            {"doc_id1": o1, "doc_id2": o2, "est_jaccard": oe, "ts": ot}
        )

    return band_rows.groupBy("band").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
