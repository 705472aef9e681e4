"""Stages 2-3 — blocking keys and candidate-pair generation.

Replaces the reference's Weaviate HNSW ANN blocking join
(/root/reference/src/batch_querying.py:598-687, J1 in SURVEY.md §2.3) with
three explicit, shuffle-friendly key families:

- ``name``  : year-stripped, lowercased person name (F14 normalizer).
- ``host``  : url host + first person token (host alone is too hot — the
  synthetic corpus has a deliberately hot aggregator host).
- ``lsh:b`` : band hashes of the composite text's MinHash — the same sketch
  the curation near-dup uses (``dedup.minhash_matrix``); turns the
  cosine/Jaccard θ-join into an equi-join on band ids (catches typo and
  token-reorder variants that exact keys miss).

Skew handling is explicit (north_rule): NULL keys are dropped (they can never
match on that key), block sizes are measured first, and blocks larger than
``max_block_size`` are excluded from pair generation and *returned* to the
caller for manifest logging — bounded work per key, no silent truncation.
AQE skew-join splitting covers residual imbalance.

Pairs are canonicalized (url1 < url2) before the union-distinct so each
unordered pair shuffles once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from .dedup import minhash_matrix, sketch_text
from .util import ensure_parallelism
from ..functions.years import normalize_name

# 32 perms x 8 bands (r=4 rows/band, LSH S-curve threshold ~(1/8)^(1/4)
# ≈ 0.59) — measured A/B vs the round-3 64x16 (threshold 0.5): blocked-
# pairs F1 stays 1.0000 at 200 AND 1000 entities (all-pairs recall
# 0.9929/0.9905 vs 0.9964/0.9943) while the sketch kernel and the LSH key
# fan-out HALVE (8 keys/doc instead of 16 — fewer rows through the count
# window, the self-join, and the pair distinct).
DEFAULT_NUM_PERM = 32
DEFAULT_BANDS = 8
DEFAULT_MAX_BLOCK = 64


def name_keys(records: DataFrame) -> DataFrame:
    """(url, key) on the normalized person name; NULL names dropped."""
    schema = StructType([StructField("url", StringType()), StructField("key", StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, str | None] = {}
        for pdf in batches:
            keys = []
            for p in pdf["person"]:
                if p is None:
                    keys.append(None)
                    continue
                k = memo.get(p)
                if k is None and p not in memo:
                    nk = normalize_name(p).lower()
                    k = ("name|" + nk) if nk else None
                    memo[p] = k
                keys.append(k)
            yield pd.DataFrame({"url": pdf["url"], "key": keys})

    out = ensure_parallelism(records.select("url", "person")).mapInPandas(run, schema=schema)
    return out.where(F.col("key").isNotNull())


def host_keys(records: DataFrame) -> DataFrame:
    """(url, key) = host + first person token — pure JVM expressions."""
    # no trailing "/": path-less URLs (https://host.com) must still get a key
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    first_tok = F.lower(F.regexp_extract("person", r"^([A-Za-z]+)", 1))
    return (
        records.where(F.col("person").isNotNull())
        .select(
            "url",
            F.concat(F.lit("host|"), host, F.lit("|"), first_tok).alias("key"),
        )
        .where(F.length("key") > 6)
    )


def block_sizes(keys: DataFrame) -> DataFrame:
    return keys.groupBy("key").agg(F.count(F.lit(1)).alias("block_size"))


def candidate_pairs(
    keys: DataFrame,
    max_block_size: int = DEFAULT_MAX_BLOCK,
    neighbor_cap: int = 20,
    cache_handles: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Self-equi-join within blocks -> canonical distinct (url1 < url2).

    Skew handling (north_rule): blocks larger than ``max_block_size`` would
    contribute O(B^2) pairs, so a hot block's rows are sorted
    (deterministic) and each row pairs only with its next ``neighbor_cap``
    neighbors — O(B*K) pairs, the DataFrame analogue of the reference's
    top-K ANN fanout cap (reference ``src/batch_querying.py:651``, top-200
    per record). Oversized blocks are *returned* for manifest logging — no
    silent truncation.

    Plan shape (one scan of ``keys``): block sizes come from a count window
    over the 8-byte key hash — ONE shuffle on ``kh`` that the self-join then
    reuses (same partitioning, Catalyst emits a ReusedExchange for the two
    sides) — instead of a separate groupBy + anti-join pass. There is NO
    broadcast anywhere: the oversized-key set on a 100 TB web corpus is
    itself unbounded, and force-broadcasting it (as round 2 did) risks
    driver OOM; size filtering is a per-row predicate on the windowed count.
    A 64-bit ``kh`` collision would only merge two blocks — extra candidates
    get scored, none are lost (and a merged block crossing the size cap just
    routes both blocks through the capped path).
    """
    from pyspark.sql import Window

    keyed = keys.select("url", "key", F.xxhash64("key").alias("kh"))
    # THREE consumers read the size-annotated key rows (the in-cap join
    # sides, the capped hot branch, and the returned oversized table);
    # without a persist each consumer re-runs the count window — measured
    # ~2x the whole stage's useful work at bench scale. The cached rows
    # are (url, key-hash, count): a fraction of the input record table,
    # MEMORY_AND_DISK, exactly what a 100 TB run would materialize between
    # the sizing and pair-generation stages. Cache ownership stays with
    # whoever runs the action: the persist happens ONLY when the caller
    # passes ``cache_handles`` to receive the handle and unpersist after
    # materializing (pipeline and bench both do). With the default None
    # the operator stays cache-stateless — no session-lifetime leak —
    # at the cost of the window re-running per consumer.
    sized = keyed.withColumn(
        "block_size", F.count(F.lit(1)).over(Window.partitionBy("kh"))
    )
    if cache_handles is not None:
        sized = sized.persist()
        cache_handles.append(sized)
    oversized = (
        sized.where(F.col("block_size") > max_block_size)
        .groupBy("key")
        .agg(F.max("block_size").alias("block_size"))
    )

    # self-join on the 8-byte hash of the (long string) key: much smaller
    # shuffle and faster comparisons. Singleton blocks (the vast majority
    # of LSH band keys) can never produce a pair — dropping them here
    # keeps them out of both join hash tables for free (the predicate
    # rides the window output; no extra shuffle).
    ok = sized.where(
        (F.col("block_size") <= max_block_size) & (F.col("block_size") >= 2)
    ).select("url", "kh")
    a = ok.alias("a")
    b = ok.alias("b")
    pairs = (
        a.join(b, "kh")
        .where(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("url1"), F.col("b.url").alias("url2"))
    )

    # mega-blocks (> salt_factor * max_block_size) are pre-split by a
    # url-hash salt so no single task sorts the whole block — the same
    # bounded-recall trade the cap already makes (cross-salt pairs are
    # dropped), but the per-task work is O(block/salts * log) instead of
    # one straggler sorting millions of rows. Moderately-hot blocks
    # (<= salt_factor * cap) keep exact neighbor-cap semantics.
    salt_factor = 4
    hot = sized.where(F.col("block_size") > max_block_size)
    n_sub = F.greatest(
        F.lit(1),
        F.ceil(F.col("block_size") / F.lit(salt_factor * max_block_size)).cast("int"),
    )
    hot = hot.withColumn("salt", F.pmod(F.xxhash64("url"), n_sub))
    w = Window.partitionBy("kh", "salt").orderBy("url")
    ranked = hot.select("kh", "salt", "url", F.row_number().over(w).alias("rn"))
    r1 = ranked.alias("r1")
    r2 = ranked.alias("r2")
    capped = (
        r1.join(
            r2,
            (F.col("r1.kh") == F.col("r2.kh"))
            & (F.col("r1.salt") == F.col("r2.salt"))
            & (F.col("r2.rn") > F.col("r1.rn"))
            & (F.col("r2.rn") <= F.col("r1.rn") + neighbor_cap),
        )
        .select(
            F.least(F.col("r1.url"), F.col("r2.url")).alias("url1"),
            F.greatest(F.col("r1.url"), F.col("r2.url")).alias("url2"),
        )
    )
    pairs = pairs.unionByName(capped)

    return pairs.distinct(), oversized


def name_and_lsh_keys(
    records: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 5,
) -> DataFrame:
    """(url, key) for the two Python-kernel key families in ONE Arrow pass:
    ``name_keys`` rows plus ``bands`` LSH band keys per non-empty
    composite. Record rows serialize to Python once, and one kernel stage
    serves both; ``host_keys`` stays a pure-JVM projection and unions in
    afterwards.

    The band keys hash the curation sketch: ``minhash_matrix`` over the
    composite's ``sketch_text``, built on the JVM. Band ``b``'s key is the
    band-scoped crc ``b << 32 | crc32(band bytes)``, shifted into int64.
    """
    import zlib

    import numpy as np

    schema = StructType(
        [StructField("url", StringType()),
         StructField("keys", ArrayType(StringType()))]
    )
    rpb = num_perm // bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        crc = zlib.crc32
        neg = np.int64(-(1 << 63))
        names: dict[str, str | None] = {}
        shingles: dict[str, int] = {}
        w = rpb * 8
        for pdf in batches:
            nts = ["" if t is None else t for t in pdf["nt"]]
            n = len(nts)
            sigs = minhash_matrix(nts, num_perm, shingle_k, np.dtype("<u8"), shingles)
            band_ids = np.empty((n, bands), dtype=np.int64)
            for b in range(bands):
                buf = sigs[:, b * rpb:(b + 1) * rpb].tobytes()
                col = np.fromiter(
                    (crc(buf[i * w:(i + 1) * w]) for i in range(n)),
                    dtype=np.int64, count=n,
                )
                band_ids[:, b] = (np.int64(b) << np.int64(32) | col) + neg
            lists = band_ids.tolist()
            out_keys: list[list[str] | None] = []
            for i, p in enumerate(pdf["person"]):
                ks: list[str] = []
                if p is not None:
                    k = names.get(p)
                    if k is None and p not in names:
                        nk = normalize_name(p).lower()
                        k = ("name|" + nk) if nk else None
                        names[p] = k
                    if k:
                        ks.append(k)
                if nts[i]:
                    ks.extend("lsh|" + str(b) for b in lists[i])
                out_keys.append(ks or None)
            yield pd.DataFrame({"url": pdf["url"], "keys": out_keys})

    sketched = ensure_parallelism(records.select("url", "person", "composite")).select(
        "url", "person", sketch_text(F.col("composite")).alias("nt")
    )
    out = sketched.mapInPandas(run, schema=schema)
    return (
        out.where(F.col("keys").isNotNull())
        .select("url", F.explode("keys").alias("key"))
    )


def all_blocking_keys(
    records: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Union of the three key families (name+LSH fused into one kernel)."""
    return name_and_lsh_keys(records, num_perm=num_perm, bands=bands).unionByName(
        host_keys(records)
    )
