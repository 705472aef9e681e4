"""Warehouse catalog + per-partition checkpoint manifest.

Replaces the reference's DataManager registry and pickle/JSON stage
checkpoints (/root/reference/src/data_manager.py:60-91,
/root/reference/src/utils.py:167-232) with a table catalog:

- On a real cluster this is an Iceberg catalog (``writeTo(...).createOrReplace``
  gives snapshot isolation + MERGE idempotency). Iceberg runtime jars are not
  present in this sandbox, so the catalog transparently falls back to parquet
  directories under a warehouse path with atomic overwrite semantics
  (write-to-temp + rename is unnecessary: Spark's parquet overwrite is
  job-atomic via the output committer). A table counts as present only
  once its write committed (``_SUCCESS``), so a table left half-written by
  a killed overwrite is never reused. ``read`` takes the schema from the
  first data file's parquet footer, so opening a table runs no Spark job.

- ``Manifest`` is the north_rule lineage table: one row per (run, stage,
  partition) with rows_in/rows_out/wall_ms and the stage input fingerprint,
  plus the values the stage observed on its own write (``observed``, JSON).
  It is a driver-only log of small pyarrow parquet files: per-partition
  row counts come from the output table's parquet footers, so recording or
  probing a stage runs no Spark job.
  Stage completion probing (resume) = a manifest read + output-table
  existence check, mirroring /root/reference/src/pipeline.py:230-261.
- ``fingerprint_df`` and an observed write share one content fingerprint:
  ``content_aggs`` (row count ``n``, decimal sum ``s`` of the key hashes)
  and ``content_fingerprint`` of their values.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("status", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("wall_ms", LongType()),
        StructField("input_fingerprint", StringType()),
        StructField("committed_at", TimestampType()),
        StructField("observed", StringType()),
    ]
)


class Catalog:
    """Parquet-dir warehouse with Iceberg-compatible call shape."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        """True once a write of ``name`` committed: the output committer
        writes ``_SUCCESS`` last, so data files without it are a killed
        write, not a table."""
        return os.path.isfile(os.path.join(self.path(name), "_SUCCESS"))

    def data_files(self, name: str) -> list[str]:
        """The table's parquet data files, sorted; hidden (``.``) and
        committer-private (``_``) files and directories are skipped, as a
        Spark scan skips them."""
        out: list[str] = []
        for root, dirs, files in os.walk(self.path(name)):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            out += [
                os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
        return sorted(out)

    def num_rows(self, name: str) -> int:
        """Row count from the parquet footers: no Spark job, no data read."""
        return sum(pq.read_metadata(f).num_rows for f in self.data_files(name))

    def read(self, name: str) -> DataFrame:
        """The table, its schema from the first data file's parquet footer
        (no Spark job); hive partition columns are still discovered."""
        files = self.data_files(name)
        reader = self.spark.read
        if files:
            reader = reader.schema(from_arrow_schema(pq.read_schema(files[0])))
        return reader.parquet(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def write_bucketed_table(self, df: DataFrame, name: str, n_buckets: int,
                             bucket_col: str,
                             sort_cols: list[str] | None = None) -> None:
        """TRUE bucketed layout (``bucketBy`` + ``saveAsTable``) — the
        Iceberg bucket-transform analogue this parquet-dir catalog can
        actually express. Two tables bucketed the same way (same column
        semantics, same bucket count) join on the bucket column WITHOUT
        either side shuffling: Spark plans a SortMergeJoin with no
        Exchange (and with ``sort_cols`` matching the join key, no Sort
        either) — the co-located join the north rule's "bucketed tables"
        exist for. Data files land under the catalog's own warehouse dir
        (external-table path); the table is registered in the session
        catalog, read it back with ``read_table``.
        """
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.option("path", self.path(name)).format("parquet").saveAsTable(name)

    def read_table(self, name: str) -> DataFrame:
        """Read a table registered by ``write_bucketed_table`` (bucket
        metadata comes from the session catalog — a plain parquet read of
        the same path would lose it)."""
        return self.spark.table(name)

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self.path(name))

    def _restore_backup(self, name: str) -> None:
        """Recovery preamble for the stage/swap protocol: a crash between
        the two renames leaves the only copy at ``name__backup`` — restore
        it before doing anything else."""
        backup = name + "__backup"
        if not self.exists(name) and self.exists(backup):
            self.drop(name)  # an uncommitted write at the canonical path
            os.rename(self.path(backup), self.path(name))

    def _swap_in(self, staging: str, name: str) -> None:
        """Atomic-enough table swap: old -> backup, staging -> canonical,
        drop backup. A crash at ANY point leaves a complete copy of the
        table at ``name`` or ``name__backup``; ``_restore_backup`` heals
        the latter on the next call."""
        backup = name + "__backup"
        self.drop(backup)  # stale backup from an older completed swap
        os.rename(self.path(name), self.path(backup))
        os.rename(self.path(staging), self.path(name))
        self.drop(backup)

    def partition_columns(self, name: str) -> list[str]:
        """Hive-partition columns of an on-disk table, outermost first,
        inferred from the ``col=value`` directory chain (empty list for an
        unpartitioned table)."""
        cols: list[str] = []
        cur = self.path(name)
        while True:
            subdirs = sorted(
                d for d in os.listdir(cur)
                if "=" in d and os.path.isdir(os.path.join(cur, d))
            )
            if not subdirs:
                return cols
            cols.append(subdirs[0].split("=", 1)[0])
            cur = os.path.join(cur, subdirs[0])

    def _partition_leaf_sizes(self, name: str, n_cols: int) -> dict[tuple, int]:
        """On-disk bytes per partition-value tuple (string form, hive
        unescaped), from the same dir walk compact() already does."""
        from urllib.parse import unquote

        p = self.path(name)
        out: dict[tuple, int] = {}
        for r, _dirs, fs in os.walk(p):
            parts = [f for f in fs if f.endswith(".parquet")]
            if not parts:
                continue
            vals = tuple(
                unquote(seg.split("=", 1)[1])
                for seg in os.path.relpath(r, p).split(os.sep)
                if "=" in seg
            )
            if len(vals) == n_cols:
                out[vals] = out.get(vals, 0) + sum(
                    os.path.getsize(os.path.join(r, f)) for f in parts
                )
        return out

    def compact(self, name: str, target_file_mb: int = 256) -> int:
        """Rewrite a table into ~target-sized files; returns the new file
        count. The Iceberg ``rewrite_data_files`` analogue: a streaming
        sink or micro-batch appender leaves thousands of KB-scale files
        whose per-file open/footer cost eventually dominates scans (the
        classic small-files problem at 100 TB). Sizing uses the table's
        actual on-disk bytes; the rewrite is crash-safe via the same
        staging/swap/restore protocol as merge_upsert (a killed compact
        leaves either the old or the new table, never a mix, and a
        previous crash is healed on entry). A hive-partitioned table is
        re-written WITH its partitioning (detected from the ``col=value``
        dir chain), so partition pruning survives compaction.
        """
        self._restore_backup(name)
        total = sum(os.path.getsize(f) for f in self.data_files(name))
        n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
        part_cols = self.partition_columns(name)
        df = self.read(name)
        if part_cols:
            # Distribute on (partition columns + per-value salt): hashing
            # on the partition columns alone can never split one value's
            # rows across tasks, so a 10 GB partition value would come
            # back as a single 10 GB file regardless of target size. The
            # salt range per value = ceil(value_bytes / target) (from the
            # dir walk already done), joined in via a broadcast map —
            # values already at target size keep salt range 1 (one file),
            # oversized values split into ~target-sized files.
            from pyspark.sql import functions as F2  # noqa: N812

            sizes = self._partition_leaf_sizes(name, len(part_cols))
            tgt = target_file_mb * 1024 * 1024
            splits = {k: max(1, round(b / tgt)) for k, b in sizes.items()}
            if all(s == 1 for s in splits.values()):
                df = df.repartition(max(min(n_files, len(splits) or 1), 1),
                                    *part_cols)
            else:
                sdf = self.spark.createDataFrame(
                    [(*k, s) for k, s in splits.items()],
                    schema=", ".join(
                        [f"__pv_{c} string" for c in part_cols] + ["__splits int"]
                    ),
                )
                cond = [
                    df[c].cast("string").eqNullSafe(sdf[f"__pv_{c}"])
                    for c in part_cols
                ]
                # salt derived from ROW CONTENT, not monotonically_increasing_id:
                # mid values depend on partition index and in-task row order, so
                # a shuffle-stage retry (or a nondeterministic upstream) could
                # route the same row to a different reducer and silently
                # duplicate/drop rows in the staged rewrite that then becomes
                # canonical after _swap_in. xxhash64 over every column routes a
                # given row identically on every attempt.
                data_cols = [c for c in df.columns]
                df = (
                    df.join(F2.broadcast(sdf), cond, "left")
                    .withColumn(
                        "__salt",
                        F2.pmod(
                            F2.xxhash64(*data_cols),
                            F2.coalesce(F2.col("__splits"), F2.lit(1)),
                        ),
                    )
                    .repartition(max(n_files, 1), *part_cols, "__salt")
                    .drop("__salt", "__splits",
                          *[f"__pv_{c}" for c in part_cols])
                )
        else:
            df = df.coalesce(n_files)
        staging = name + "__staging"
        self.drop(staging)
        self.write(df, staging, partition_by=part_cols or None)
        self._swap_in(staging, name)
        return len(self.data_files(name))

    def drop(self, name: str) -> None:
        import shutil

        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def merge_upsert(self, df: DataFrame, name: str, key_cols: list[str]) -> None:
        """S4: idempotent keyed upsert — the parquet-dir emulation of Iceberg
        ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT`` (reference upserts by deterministic key,
        /root/reference/src/indexing.py:668-702).

        read-old -> anti-join on key -> union new -> stage -> swap.
        Staging to a sibling dir (not persist+overwrite) is deliberate: the
        output must not overwrite files still being read. The swap is
        backup-then-rename (old -> ``name__backup``, staging -> ``name``,
        drop backup) so a crash at ANY point leaves a complete version of the
        table at a recoverable path — never a window where the only copy is
        gone. A leftover backup from a crashed merge is restored on the next
        call before merging.
        """
        self._restore_backup(name)  # heal a merge crashed mid-swap
        if not self.exists(name):
            self.write(df, name)
            return
        old = self.read(name)
        keep = old.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = keep.unionByName(df.select(*old.columns))
        staging = name + "__staging"
        self.write(merged, staging)
        self._swap_in(staging, name)


def _stat_uri(df: DataFrame, uri: str) -> tuple[int, int]:
    """(size, mtime) for one input-file URI WITHOUT reading data.

    Local paths use os.stat (ns mtime). Any other scheme (s3a://, hdfs://,
    gs://, ...) goes through the JVM's Hadoop FileSystem ``getFileStatus``
    — the same LIST/HEAD metadata call the scan planner makes, so the
    no-scan resume probe works exactly where it matters most: object
    stores, where a content re-scan of the input would bill 100 TB of GETs.
    Raises on anything un-stat-able; the caller degrades to None.

    Fallback only: ``_stat_uris`` below batches remote stats by parent
    directory (one listStatus per directory), so a 100k-file dataset costs
    #directories round-trips, not #files.
    """
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        st = os.stat(unquote(parsed.path))
        return st.st_size, st.st_mtime_ns
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(uri)
    st = p.getFileSystem(conf).getFileStatus(p)
    return int(st.getLen()), int(st.getModificationTime())


def _stat_uris(df: DataFrame, uris: list[str]) -> dict[str, tuple[int, int]]:
    """Batch (size, mtime) for many URIs: local paths via os.stat; remote
    URIs via ONE Hadoop ``listStatus`` per parent directory (the bulk LIST
    the scan planner itself issues) instead of a sequential getFileStatus
    round-trip per file — at 100k objects that is the difference between
    seconds and ~half an hour of driver RPCs per resume probe. Raises if
    any URI cannot be statted (caller degrades to the content path).
    """
    from urllib.parse import unquote, urlparse

    out: dict[str, tuple[int, int]] = {}
    remote_by_dir: dict[str, list[str]] = {}
    for uri in uris:
        parsed = urlparse(uri)
        if parsed.scheme in ("", "file"):
            st = os.stat(unquote(parsed.path))
            out[uri] = (st.st_size, st.st_mtime_ns)
        else:
            remote_by_dir.setdefault(uri.rsplit("/", 1)[0], []).append(uri)
    if remote_by_dir:
        spark = df.sparkSession
        jvm = spark._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        for d, dir_uris in remote_by_dir.items():
            dp = jvm.org.apache.hadoop.fs.Path(d)
            fs = dp.getFileSystem(conf)
            listing = {
                str(st.getPath().toUri()): (int(st.getLen()),
                                            int(st.getModificationTime()))
                for st in fs.listStatus(dp)
            }
            for uri in dir_uris:
                if uri in listing:
                    out[uri] = listing[uri]
                else:  # renamed between planning and probe, or odd URI form
                    out[uri] = _stat_uri(df, uri)
    return out


def fingerprint_files(df: DataFrame, stat_fn=None) -> str | None:
    """Metadata-level source fingerprint: md5 over the sorted file manifest
    (path, size, mtime) of the DataFrame's input files PLUS the
    canonicalized logical plan — the parquet-dir analogue of an Iceberg
    snapshot id. Listing + stat only, NO data scan: this is what makes
    resume probing O(#files) instead of O(input bytes) at 100 TB (round 2
    full-scanned the input to decide to skip it). Non-local URIs stat via
    the Hadoop FileSystem metadata API (see ``_stat_uri``) instead of
    silently degrading to a content scan.

    The plan participates because two DIFFERENT queries over the same
    files (a limit, a filter, a projection) share a file manifest but not
    results — manifest-only fingerprints would silently reuse the first
    query's output for the second. Canonicalized plans normalize
    expression ids, so the same query shape hashes identically across
    sessions. Returns None when the plan has no file source (in-memory
    DF) or a file is not stat-able at all — callers then fall back to the
    content fingerprint. ``stat_fn(df, uri) -> (size, mtime)`` is
    injectable for tests; without it, stats batch one listStatus per
    remote parent directory (``_stat_uris``).
    """
    import hashlib

    files = df.inputFiles()
    if not files:
        return None
    h = hashlib.md5()
    try:
        plan = df._jdf.queryExecution().logical().canonicalized().toString()
    except Exception:
        return None
    h.update(plan.encode("utf-8", "replace"))
    ordered = sorted(files)
    try:
        if stat_fn is not None:
            stats = {uri: stat_fn(df, uri) for uri in ordered}
        else:
            stats = _stat_uris(df, ordered)
    except Exception:
        return None
    for uri in ordered:
        size, mtime = stats[uri]
        h.update(f"{uri}|{size}|{mtime}\n".encode())
    return f"meta:{len(files)}:{h.hexdigest()}"


def content_aggs(key_cols: Sequence[str]) -> list[Column]:
    """The aggregates a content fingerprint is made of: the row count ``n``
    and the decimal sum ``s`` of xxhash64(keys), order-insensitive. An
    ``agg`` or an ``observe`` on the write computes them alike."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in key_cols])
    return [F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")]


def content_fingerprint(values) -> str:
    """The fingerprint string of ``content_aggs``' values, a Row or a dict
    (``s`` a Decimal or its string form)."""
    return f"{values['n']}:{values['s']}"


def fingerprint_df(df: DataFrame, key_cols: Sequence[str]) -> str:
    """Order-insensitive content fingerprint of ``df`` over ``key_cols``.

    One cheap agg job; used as the manifest ``input_fingerprint`` so resume
    can prove the stage input is unchanged.
    """
    return content_fingerprint(df.agg(*content_aggs(key_cols)).collect()[0])


class Manifest:
    """Per-partition lineage + metrics log, written and read on the driver.

    Every ``record_*`` call appends one small parquet file to the
    ``checkpoint_manifest`` directory: written under a ``.`` name, which
    Spark and pyarrow scans skip, then renamed into place, so a reader sees
    a whole file or none. ``read()`` returns the log as a Spark DataFrame
    of ``MANIFEST_SCHEMA``; files written by Spark into the same directory
    read together with these. Recording and probing run no Spark job.

    The last column, ``observed``, is a nullable string: on a stage's ok
    rows, the JSON of the values the stage observed on its own write
    (Decimals as strings), read back by ``observed()``. Files written
    before the column existed read it as null.
    """

    TABLE = "checkpoint_manifest"
    _SCHEMA = to_arrow_schema(MANIFEST_SCHEMA)

    def __init__(self, catalog: Catalog, run_id: str | None = None):
        self.catalog = catalog
        self.run_id = run_id or uuid.uuid4().hex[:12]

    def _append(self, rows: list[tuple], observed: str | None = None) -> None:
        """Write ``rows`` (every ``MANIFEST_SCHEMA`` column before
        ``committed_at``) as one file, each row with ``observed``."""
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pylist(
            [dict(zip(self._SCHEMA.names, (*r, now, observed))) for r in rows],
            schema=self._SCHEMA,
        )
        d = self.catalog.path(self.TABLE)
        os.makedirs(d, exist_ok=True)
        name = f"{self.run_id}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, name))

    def record_stage(
        self,
        stage: str,
        table: str,
        rows_in: int,
        wall_ms: int,
        input_fingerprint: str,
        status: str = "ok",
        observed: dict | None = None,
    ) -> None:
        """Append one manifest row per output partition of ``table``: the
        task number in each ``part-NNNNN-...`` file name, with the row
        count from that file's footer. Each row carries ``observed`` as
        JSON."""
        rows_out: dict[int, int] = {}
        for f in self.catalog.data_files(table):
            pid = int(os.path.basename(f).split("-")[1])
            rows_out[pid] = rows_out.get(pid, 0) + pq.read_metadata(f).num_rows
        self._append([
            (self.run_id, stage, pid, status, rows_in, n, wall_ms, input_fingerprint)
            for pid, n in sorted((rows_out or {0: 0}).items())
        ], None if observed is None else json.dumps(observed, default=str))

    def record_alias(self, stage: str, input_fingerprint: str) -> None:
        """Record an ALTERNATE fingerprint under which this stage also
        counts complete — e.g. the metadata-level (file-manifest)
        fingerprint alongside the content one, so the next run can skip
        without scanning the input. partition_id -2 marks alias rows."""
        self._append([(self.run_id, stage, -2, "ok", 0, 0, 0, input_fingerprint)])

    def record_skipped(self, stage: str, input_fingerprint: str) -> None:
        self._append([(self.run_id, stage, -1, "skipped", 0, 0, 0, input_fingerprint)])

    def record_started(self, stage: str) -> None:
        """Mark the start of a write of the stage's tables: until an ok row
        follows it, no earlier ok row counts (``stage_complete``)."""
        self._append([(self.run_id, stage, -1, "started", 0, 0, 0, None)])

    def read(self) -> DataFrame | None:
        if not self.catalog.data_files(self.TABLE):
            return None
        return self.catalog.spark.read.schema(MANIFEST_SCHEMA).parquet(
            self.catalog.path(self.TABLE)
        )

    def stage_complete(self, stage: str, input_fingerprint: str) -> bool:
        """True when the stage's tables hold its output for this input: an
        ok row with the fingerprint was recorded at or after the stage's
        latest write — its latest ``started`` row, or its latest ok row
        that is not an alias (logs written before ``started`` rows existed
        have only those). An older ok row does not count: a run on other
        input began rewriting the tables since, even if it was killed
        before it recorded its own ok row. Alias rows recorded after that
        write count: a run records one only once the tables match its
        input."""
        return self._matches(stage, input_fingerprint).num_rows > 0

    def observed(self, stage: str, input_fingerprint: str) -> dict | None:
        """The values recorded on the ok rows ``stage_complete`` counts for
        this input, or None when no such row carries any."""
        m = self._matches(stage, input_fingerprint)
        values = [v for v in m["observed"].to_pylist() if v is not None]
        return json.loads(values[0]) if values else None

    def _matches(self, stage: str, input_fingerprint: str) -> pa.Table:
        """The stage's ok rows that count as its output for this input."""
        files = self.catalog.data_files(self.TABLE)
        # the full schema: a file without the observed column reads it as null
        m = pq.read_table(files, schema=self._SCHEMA) if files else self._SCHEMA.empty_table()
        m = m.filter(pc.equal(m["stage"], stage))
        ok = pc.equal(m["status"], "ok")
        writes = pc.or_(
            pc.equal(m["status"], "started"),
            pc.and_(ok, pc.not_equal(m["partition_id"], -2)),
        )
        last_write = pc.max(m.filter(writes)["committed_at"])
        if not last_write.is_valid:
            return m.slice(0, 0)
        hit = pc.and_(
            pc.and_(ok, pc.greater_equal(m["committed_at"], last_write)),
            pc.equal(m["input_fingerprint"], input_fingerprint),
        )
        return m.filter(hit)


def table_diff(df_new, df_old, key_cols: list[str]) -> dict:
    """SO2: added/missing keys between two table versions
    (/root/reference/src/batch_preprocessing.py:612-613 semantics) — two
    left-anti joins, returned as counts + capped samples."""
    new_keys = df_new.select(*key_cols)
    old_keys = df_old.select(*key_cols)
    added = new_keys.join(old_keys, key_cols, "left_anti")
    missing = old_keys.join(new_keys, key_cols, "left_anti")
    return {
        "added": int(added.count()),
        "missing": int(missing.count()),
        "added_sample": [tuple(r) for r in added.limit(10).collect()],
        "missing_sample": [tuple(r) for r in missing.limit(10).collect()],
    }
