"""Shared operator utilities."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

# the Spark local property that names a thread's job group
JOB_GROUP = "spark.jobGroup.id"


@contextmanager
def job_group(spark: SparkSession, group: str):
    """Run the Spark jobs started on this thread (and on pool tasks that
    inherit its local properties) in job group ``group``; the caller's group
    is restored after."""
    sc = spark.sparkContext
    outer_group = sc.getLocalProperty(JOB_GROUP)
    sc.setLocalProperty(JOB_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_GROUP, outer_group)


def md5_hash60(c: Column | str) -> Column:
    """60-bit integer from the first 15 hex chars of md5(x).

    The shared sketch-hash primitive: DuckDB computes the identical value
    via ``('0x' || substr(md5(x), 1, 15))::BIGINT``, which makes every
    md5-based sketch operator (SimHash, MinHash-LSH, winnowing fingerprints)
    exactly reproducible in ANSI SQL — the driver's correctness oracle runs
    the same sketch, value for value. 15 hex chars keep the value positive
    in a signed 64-bit column on both engines.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# the same primitive as a SQL fragment (for F.expr-composed plans)
MD5_HASH60_SQL = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"


def vec_matrix_groups(values, chunk: int | None = 1024):
    """Group a sequence of vectors (ndarray | list | None) by length and
    yield ``(row_indices, float64 matrix)`` per positive length, split
    into <= ``chunk`` rows per yield (None = whole group: for kernels
    that need every same-length row in one matrix, e.g. gram pairs).
    Chunking keeps each temporary at a few MB so repeated allocations
    recycle through the allocator freelist — fresh 100 MB matrices per
    Arrow batch would pay ~0.5 ms/page first-touch faults on this VM.

    The shared NULL/ragged-input policy for every vectorized Arrow kernel
    (cosine verify, gram pairs, ANN scoring): a degenerate row must DROP —
    the behavior of the former JVM ``aggregate(zip_with(...))`` plans,
    where a NULL vector or a length mismatch made the whole expression
    NULL and the comparison filter false — never crash the task with
    numpy's ragged-array TypeError. Concretely:

    - row is None / empty -> skipped (cosine undefined);
    - rows of different lengths -> separate groups (only same-length
      vectors are comparable; a kernel scoring against a fixed query/
      centroid matrix uses only the group matching that matrix's dim);
    - NULL *elements* arrive from Arrow as NaN inside a float array, so
      any similarity involving them is NaN and fails every >=-threshold
      or top-k comparison naturally — no special-casing needed.

    The common case (every vector the same length) costs one O(rows)
    length scan and a single asarray.
    """
    import numpy as np

    lens: dict[int, list[int]] = {}
    for i, v in enumerate(values):
        if v is None:
            continue
        n = len(v)
        if n > 0:
            lens.setdefault(n, []).append(i)
    for _n, idx in sorted(lens.items()):
        step = chunk or len(idx)
        for s in range(0, len(idx), step):
            sub = idx[s:s + step]
            yield (
                np.asarray(sub, dtype=np.int64),
                np.asarray([values[i] for i in sub], dtype=np.float64),
            )


def uuid5_col(c: Column | str, namespace: str = "url") -> Column:
    """RFC 4122 UUIDv5 of a string column, as JVM expressions (F13).

    The reference derives idempotent Weaviate object ids with
    uuid.uuid5(NAMESPACE, key) (/root/reference/src/indexing.py:668-702);
    this reproduces the exact RFC construction — sha1(namespace_bytes ||
    utf8(name)), version nibble forced to 5, variant bits to 10xx — so ids
    match Python's uuid.uuid5 byte for byte (pytest-pinned). Useful as a
    deterministic merge key for Catalog.merge_upsert.
    """
    import uuid as _uuid

    ns = {
        "url": _uuid.NAMESPACE_URL,
        "dns": _uuid.NAMESPACE_DNS,
        "oid": _uuid.NAMESPACE_OID,
        "x500": _uuid.NAMESPACE_X500,
    }[namespace]
    c = F.col(c) if isinstance(c, str) else c
    h = F.sha1(F.concat(F.unhex(F.lit(ns.bytes.hex())), F.encode(c, "UTF-8")))
    variant = (
        F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
        .bitwiseAND(F.lit(3)).bitwiseOR(F.lit(8))
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(F.lower(F.conv(variant.cast("string"), 10, 16)), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input has fewer partitions than the cluster.

    Python-kernel Arrow passes (minhash, normalization, year regexes) are
    CPU-bound; a single-row-group parquet file otherwise pins them to one
    task. The round-robin shuffle of the (narrow) input columns is orders of
    magnitude cheaper than serializing the kernel. No-op when the scan
    already has enough splits (the 100 TB case).

    Reading the partition count costs no Spark job only for a plan without
    an exchange, such as a scan or a checkpoint. Under AQE,
    ``df.rdd.getNumPartitions()`` runs the shuffle of a plan that has one,
    and a later action plans that shuffle again.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def skew_report(df: DataFrame, key_cols: list[str], top_n: int = 20) -> dict:
    """Key-skew diagnosis for a join/groupBy key: one aggregation pass ->
    a small driver dict. The operational tool behind the north rule's
    "skew handled explicitly": run it BEFORE choosing a join strategy to
    see whether the hot key needs salting / AQE skew-join / a cap.

    Returns ``{"n_rows", "n_keys", "top": [(key..., count), ...],
    "p50", "p90", "p99", "max", "top1_frac", "skew_ratio"}`` where
    skew_ratio = max key count / mean key count (1.0 = perfectly even)
    and top1_frac = share of ALL rows held by the hottest key. Exact
    counts (one shuffle on the key) + approx percentiles; the collect is
    bounded at ``top_n`` rows plus one stats row.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("mx"),
        F.expr("approx_percentile(cnt, array(0.5, 0.9, 0.99))").alias("pct"),
    ).collect()[0]
    top = [
        (*[r[c] for c in key_cols], int(r["cnt"]))
        for r in counts.orderBy(F.desc("cnt"), *key_cols).limit(top_n).collect()
    ]
    n_keys = int(stats["n_keys"] or 0)
    n_rows = int(stats["n_rows"] or 0)
    mx = int(stats["mx"] or 0)
    mean = n_rows / n_keys if n_keys else 0.0
    return {
        "n_rows": n_rows,
        "n_keys": n_keys,
        "top": top,
        "p50": float(stats["pct"][0]) if stats["pct"] else None,
        "p90": float(stats["pct"][1]) if stats["pct"] else None,
        "p99": float(stats["pct"][2]) if stats["pct"] else None,
        "max": mx,
        "top1_frac": (mx / n_rows) if n_rows else 0.0,
        "skew_ratio": (mx / mean) if mean else 0.0,
    }
