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
match on that key), and a block larger than ``max_block_size`` pairs each row
only with its next ``neighbor_cap`` sorted neighbours; such blocks are
*returned* to the caller for manifest logging — bounded work per key, no
silent truncation.

Pairs are canonical (url1 < url2) before the distinct, so a pair that
several keys share is emitted once.
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
# fan-out HALVE (8 keys/doc instead of 16 — fewer rows through the pair
# window and the pair distinct).
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
) -> tuple[DataFrame, DataFrame]:
    """Sorted-neighbourhood pairs per block -> canonical distinct (url1 < url2).

    One window over the block's 8-byte key hash ``kh``, ordered by url
    (Hernández & Stolfo's sorted-neighbourhood method, run per block): each
    row collects the urls of the rows after it. A block of at most
    ``max_block_size`` rows pairs every row with every later row — all of
    its pairs. A larger block would contribute O(B^2) pairs, so each row
    keeps only its next ``neighbor_cap`` sorted neighbours — O(B*K) pairs
    over the whole block, the DataFrame analogue of the reference's top-K
    ANN fanout cap (reference ``src/batch_querying.py:651``, top-200 per
    record). A url listed twice in a block never pairs with itself.

    Skew handling (north_rule): every block over the cap is *returned* as
    ``(key, block_size)`` for manifest logging — no silent truncation. That
    table is a plain aggregate of ``keys`` by ``kh`` and the pairs one window
    over ``keys``, so nothing is persisted between the two outputs. There
    is NO broadcast anywhere: the oversized-key set on a 100 TB web
    corpus is itself unbounded. A 64-bit ``kh`` collision would only merge
    two blocks — extra candidates get scored, none are lost (and a merged
    block crossing the size cap is capped, and reported under its smaller
    key, as one block).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("kh").orderBy("url")
    # an in-cap block has at most max_block_size - 1 rows after any row
    reach = max(max_block_size - 1, neighbor_cap)
    pairs = (
        keys.select("url", F.xxhash64("key").alias("kh"))
        .select(
            "url",
            F.count(F.lit(1)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("block_size"),
            F.collect_list("url").over(w.rowsBetween(1, reach)).alias("later"),
        )
        .select(
            F.col("url").alias("url1"),
            F.explode(
                F.when(F.col("block_size") > max_block_size,
                       F.slice("later", 1, neighbor_cap))
                .otherwise(F.col("later"))
            ).alias("url2"),
        )
        .where(F.col("url1") < F.col("url2"))
        .distinct()
    )
    oversized = (
        keys.groupBy(F.xxhash64("key").alias("kh"))
        .agg(F.min("key").alias("key"), F.count(F.lit(1)).alias("block_size"))
        .where(F.col("block_size") > max_block_size)
        .select("key", "block_size")
    )
    return pairs, oversized


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
