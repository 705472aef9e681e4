"""Deduplication operators over a documents table.

Training-data-pipeline near-duplicate detection, each as a Spark-first plan:

- exact_dedup        : hash-groupBy on normalized text (one shuffle).
- ngram_jaccard_pairs: candidate pairs blocked on each doc's globally
                       *rarest* token (min document frequency), verified with
                       word-set Jaccard — pure JVM (array_intersect/union).
- minhash_lsh_pairs  : shingle -> md5-MinHash -> band-bucket equi-join ->
                       signature-similarity verify; the sketch
                       (``minhash_matrix``) is the package's one MinHash,
                       shared with ER blocking and the streaming near-dup.
- simhash_pairs      : 60-bit md5-SimHash; candidates via 4x15-bit band
                       equality (Hamming<=3 guaranteed caught by pigeonhole),
                       verified by exact Hamming distance. Pure JVM.
- embedding_cosine_pairs: near-dup pairs among embedding vectors (see ann.py
                       for the top-k variant).

The sketches are built on the shared md5-60bit hash primitive
(operators/util.md5_hash60), so every operator here is exactly reproducible
in ANSI SQL — the driver's DuckDB oracle checks them value for value.

Every operator returns pairs with doc_id1 < doc_id2 (canonical orientation,
halves the shuffle) or a keep/drop assignment. No operator persists
intermediates: each sketch is consumed by exactly one downstream plan (the
round-1 `persist()` leaks are gone by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.text import normalize_col
from .util import ensure_parallelism

# Hot-bucket cap of the per-bucket verify kernels (minhash_lsh_pairs,
# _block_gram_pairs): a bucket gathers into one Arrow value, and 128k rows
# is ~32 MB of signatures at num_perm=32, far under Arrow's ~2 GB value
# limit. Buckets past it are excluded from verification.
MAX_BUCKET_ROWS = 128 * 1024


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, keep_id, group_size): exact duplicates by normalized text.

    keep_id = min doc_id of the group. One hash-shuffle; at 100 TB hash the
    text first so the shuffle key is 16 bytes, not the document. The key is
    the FULL 128-bit md5 (as binary): a 64-bit key's birthday collisions
    (~n^2/2^65) silently merge distinct documents into one dedup group at
    trillion-doc scale — real data loss for a training pipeline; at 128
    bits the bound is ~n^2/2^129, negligible for any feasible corpus.
    """
    from pyspark.sql import Window

    keyed = docs.select(
        "doc_id", F.unhex(F.md5(normalize_col(F.col(text_col)))).alias("tkey")
    )
    # min/count as WINDOW aggregates over tkey: the former groupBy + join
    # back evaluated the hash subtree twice (normalize + md5 over the
    # whole corpus per branch) and paid the join's exchanges on top; one
    # partition-window computes the identical integers in a single pass
    # over a single shuffle.
    w = Window.partitionBy("tkey")
    return keyed.select(
        "doc_id",
        F.min("doc_id").over(w).alias("keep_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    n_anchors: int = 2,
    max_anchor_df: int = 64,
    fallback_neighbor_cap: int = 8,
    stats: dict | None = None,
) -> DataFrame:
    """Word-set Jaccard near-dup pairs, blocked on each doc's RAREST tokens.

    Anchor tokens = the ``n_anchors`` tokens with the smallest global
    document frequency (ties -> lexicographically smallest). On web text a
    fixed-position anchor (e.g. the first token) degenerates: a huge
    fraction of documents lead with the same stopword, producing one O(B^2)
    mega-block; rare tokens spread documents across many small blocks. Two
    anchors (not one) cover the typo case where a doc's single rarest token
    IS its distinguishing edit.

    Tokens with document frequency above ``max_anchor_df`` never anchor
    (they are not "rare"): this bounds every block at max_anchor_df docs —
    O(B^2) work per key stays bounded, the same skew policy as the ER
    blocking stage.

    Anchor-less fallback (no silent drops): a document whose EVERY token
    has df > max_anchor_df — exactly the common-boilerplate cluster whose
    duplication is being hunted — previously exited near-dup detection
    silently. Such docs now block on their single minimum-df token, and
    because those fallback blocks are unbounded by construction, each doc
    pairs only with its next ``fallback_neighbor_cap`` doc_id-ordered
    neighbors (O(B*K) work; a near-identical cluster chain-connects and the
    downstream connected-components closes it). Pass ``stats={}`` to get
    ``stats['anchorless_docs']`` counted eagerly (one extra job) and logged.

    Verification is pure JVM for both paths: |intersect| / |union| over
    distinct word arrays.
    """
    from pyspark.sql import Window

    norm = F.lower(normalize_col(F.col(text_col)))
    d = ensure_parallelism(
        docs.select("doc_id", F.array_distinct(F.split(norm, " ")).alias("toks")).where(
            norm != ""
        )
    )
    tok = d.select("doc_id", F.explode("toks").alias("tok")).where(F.col("tok") != "")
    dfreq_all = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    dfreq = dfreq_all.where(F.col("dfreq") <= max_anchor_df)
    w = Window.partitionBy("doc_id").orderBy("dfreq", "tok")
    bkeys = (
        tok.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_anchors)
        .select("doc_id", F.col("tok").alias("bkey"))
    )
    a, b = bkeys.alias("a"), bkeys.alias("b")
    cand = (
        a.join(b, "bkey")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id1"), F.col("b.doc_id").alias("doc_id2"))
    )

    # ---- anchor-less fallback: min-df token + doc_id-neighbor cap ----
    anchorless = d.select("doc_id").join(bkeys.select("doc_id"), "doc_id", "left_anti")
    if stats is not None:
        import logging

        n_dropped = anchorless.count()
        stats["anchorless_docs"] = int(n_dropped)
        logging.getLogger(__name__).info(
            "ngram_jaccard_pairs: %d anchor-less docs routed to min-df fallback",
            n_dropped,
        )
    fb_rank = Window.partitionBy("doc_id").orderBy("dfreq", "tok")
    fbk = (
        tok.join(anchorless, "doc_id")
        .join(dfreq_all, "tok")
        .withColumn("rn", F.row_number().over(fb_rank))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("bkey"))
    )
    # Fallback blocks share the min-df token of an unbounded boilerplate
    # cluster, so the neighbor-rank window would otherwise sort the whole
    # cluster in ONE task. Blocks above ``salt_block`` docs are pre-split
    # by a deterministic doc_id salt: per-task sort work is O(block/n_sub
    # log), cross-salt pairs are dropped — a bounded-recall trade: a mega-
    # cluster resolves to n_sub survivors instead of one (each salt
    # subgroup still chain-connects internally and CC closes it), the
    # same policy the neighbor cap itself applies. The salt hashes
    # md5_hash60(doc_id-as-string) — doc_id may be ANY type (string url
    # keys included; a numeric modulo would yield NULL salts there and
    # silently drop every fallback pair) — and the md5-60bit primitive is
    # the shared one DuckDB computes identically, so the split stays
    # exactly oracle-replayable.
    from .util import md5_hash60

    salt_block = 4 * max_anchor_df
    fb_sizes = fbk.groupBy("bkey").agg(F.count(F.lit(1)).alias("bsz"))
    n_sub = F.greatest(
        F.lit(1), F.ceil(F.col("bsz") / F.lit(float(salt_block))).cast("int")
    )
    fbs = fbk.join(fb_sizes, "bkey").withColumn(
        "salt",
        F.pmod(md5_hash60(F.col("doc_id").cast("string")), n_sub.cast("bigint")),
    )
    fb_block = Window.partitionBy("bkey", "salt").orderBy("doc_id")
    fbn = fbs.withColumn("brn", F.row_number().over(fb_block))
    f1, f2 = fbn.alias("f1"), fbn.alias("f2")
    fb_cand = (
        f1.join(
            f2,
            (F.col("f1.bkey") == F.col("f2.bkey"))
            & (F.col("f1.salt") == F.col("f2.salt"))
            & (F.col("f2.brn") > F.col("f1.brn"))
            & (F.col("f2.brn") <= F.col("f1.brn") + fallback_neighbor_cap),
        )
        .select(F.col("f1.doc_id").alias("doc_id1"), F.col("f2.doc_id").alias("doc_id2"))
    )

    cand = cand.unionByName(fb_cand).distinct()
    d1 = d.select(F.col("doc_id").alias("doc_id1"), F.col("toks").alias("toks1"))
    d2 = d.select(F.col("doc_id").alias("doc_id2"), F.col("toks").alias("toks2"))
    inter = F.size(F.array_intersect(F.col("toks1"), F.col("toks2")))
    union = F.size(F.array_union(F.col("toks1"), F.col("toks2")))
    return (
        cand.join(d1, "doc_id1")
        .join(d2, "doc_id2")
        .select("doc_id1", "doc_id2", (inter.cast("double") / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


_MERSENNE31 = (1 << 31) - 1


def minhash_perm_coeffs(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation coefficients (shared with the SQL
    oracle and the Python reference kernel in tests)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=num_perm).tolist()
    b = rng.randint(0, _MERSENNE31, size=num_perm).tolist()
    return a, b


def sketch_text(c, max_chars: int = 2048):
    """The sketch region of a text column: normalized, lower-cased, first
    ``max_chars`` chars (bounded per-doc sketch cost at 100 TB)."""
    return F.substring(F.lower(normalize_col(c)), 1, max_chars)


def _sketch_input(docs: DataFrame, text_col: str, max_chars: int) -> DataFrame:
    """(doc_id, nt): the ``sketch_text`` of every non-empty doc. The sketch
    is CPU-heavy per row: small single-row-group parquet would otherwise
    run it in 1-2 tasks. Spread FIRST, normalize after: with the projection
    inside ensure_parallelism the regex normalization ran in the scan task
    (serially, before the spreading shuffle)."""
    return (
        ensure_parallelism(docs.select("doc_id", text_col))
        .select("doc_id", sketch_text(F.col(text_col), max_chars).alias("nt"))
        .where(F.col("nt") != "")
    )


def minhash_matrix(nts, num_perm: int, shingle_k: int, dtype, memo: dict):
    """(len(nts), num_perm) MinHash signatures of ``sketch_text`` strings —
    the one MinHash of the package (curation, ER blocking and the streaming
    near-dup all call it).

    Distinct char-``shingle_k`` shingles (the whole text when shorter), a
    28-bit md5 base hash per shingle, then ``num_perm`` affine permutations
    (a*h + b) mod (2^31 - 1) as a numpy outer product + min. Components are
    < 2^31, so int32 and int64 ``dtype`` both carry them exactly.

    ``memo`` caches the base hash per distinct shingle across calls of one
    task: corpora repeat shingles heavily (boilerplate, shared vocabulary —
    this corpus measures ~300x repetition), so it removes most md5 calls.
    int.from_bytes over digest() is the first 7 hex chars of the md5
    without the hex-string detour. Cleared past 4M entries so a
    high-entropy task cannot grow it unbounded."""
    import hashlib

    import numpy as np

    a_l, b_l = minhash_perm_coeffs(num_perm)
    a = np.asarray(a_l, dtype=np.uint64)[:, None]
    b = np.asarray(b_l, dtype=np.uint64)[:, None]
    m = np.uint64(_MERSENNE31)
    k = shingle_k
    md5 = hashlib.md5
    if len(memo) > 4_000_000:
        memo.clear()
    mget = memo.get
    out = np.empty((len(nts), num_perm), dtype=dtype)
    for i, nt in enumerate(nts):
        sh = {nt} if len(nt) <= k else {nt[j:j + k] for j in range(len(nt) - k + 1)}
        vals = []
        for s in sh:
            v = mget(s)
            if v is None:
                v = int.from_bytes(md5(s.encode("utf-8")).digest()[:4], "big") >> 4
                memo[s] = v
            vals.append(v)
        h = np.asarray(vals, dtype=np.uint64)[None, :]
        # a < 2^31, h < 2^28 -> a*h + b < 2^60: exact in uint64
        out[i] = ((a * h + b) % m).min(axis=1)
    return out


def _sketch_batches(batches, num_perm: int, shingle_k: int, dtype):
    """``minhash_matrix`` over ``_sketch_input`` Arrow batches.

    Yields (doc_id column, signature list array) per batch; the list's
    values are one flat ``dtype`` buffer of exactly ``num_perm`` components
    per row, so its offsets are arithmetic and the doc_id column passes
    through untouched."""
    import numpy as np
    import pyarrow as pa

    memo: dict[str, int] = {}
    for batch in batches:
        ids_col = batch.column(batch.schema.get_field_index("doc_id"))
        nts = batch.column(batch.schema.get_field_index("nt")).to_pylist()
        n = len(nts)
        flat = minhash_matrix(nts, num_perm, shingle_k, dtype, memo).reshape(-1)
        offsets = pa.array(
            np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32), type=pa.int32()
        )
        yield ids_col, pa.ListArray.from_arrays(offsets, pa.array(flat))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 32,
    shingle_k: int = 5,
    max_chars: int = 2048,
) -> DataFrame:
    """(doc_id, sig array<bigint>) — ``minhash_matrix`` of each doc's
    ``sketch_text``, in ONE Arrow pass (hashlib md5 at C speed — the
    equivalent Spark higher-order expressions are *interpreted* per element
    and ran ~30x slower). Every step is integer-exact and md5-based, so the
    DuckDB correctness oracle replays the sketch value for value with the
    same literal coefficients. Docs with empty sketch text are dropped.
    ``doc_id`` keeps the input's type.
    """
    import numpy as np

    id_t = docs.schema["doc_id"].dataType.simpleString()

    def run(batches):
        import pyarrow as pa

        for ids_col, sig_arr in _sketch_batches(batches, num_perm, shingle_k, np.int64):
            yield pa.RecordBatch.from_arrays([ids_col, sig_arr], ["doc_id", "sig"])

    return _sketch_input(docs, text_col, max_chars).mapInArrow(
        run, schema=f"doc_id {id_t}, sig array<bigint>"
    )


def _pack_band_lists(mat, bands: int):
    """(n, num_perm) signature matrix -> Arrow list<binary> of ``bands``
    injective band keys per row: 1 byte band index + the band's components
    big-endian (4 bytes each; components are < 2^31). Purely a zero-copy
    buffer build — no per-row Python, no hashing. Any injective key
    function groups buckets identically, so these keys produce exactly the
    pair set the former md5-string keys did, at zero hash cost."""
    import numpy as np
    import pyarrow as pa

    n, num_perm = mat.shape
    rows = num_perm // bands
    bl = rows * 4
    be = mat.astype(">i4").view(np.uint8).reshape(n, num_perm * 4)
    parts = np.empty((n, bands, bl + 1), dtype=np.uint8)
    parts[:, :, 0] = np.arange(bands, dtype=np.uint8)[None, :]
    parts[:, :, 1:] = be.reshape(n, bands, bl)
    step = bl + 1
    bin_off = np.arange(0, (n * bands + 1) * step, step, dtype=np.int32)
    bin_arr = pa.Array.from_buffers(
        pa.binary(),
        n * bands,
        [None, pa.py_buffer(bin_off), pa.py_buffer(parts.reshape(-1))],
    )
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32), type=pa.int32()),
        bin_arr,
    )


def _minhash_sig_bands(
    docs: DataFrame,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    max_chars: int = 2048,
) -> DataFrame:
    """Fused (doc_id, sig array<int>, bands array<binary>) sketch kernel for
    the LSH path: the minhash_signatures kernel plus vectorized band-key
    packing in the SAME Arrow pass. Signature components are < 2^31
    (mod Mersenne-31), so int32 carries them exactly — the bucket shuffle
    ships half the signature bytes of the public array<bigint> schema —
    and the packed band keys replace 8 interpreted JVM md5/array_join
    evaluations per document with one numpy byte-view."""
    import numpy as np

    id_t = docs.schema["doc_id"].dataType.simpleString()

    def run(batches):
        import pyarrow as pa

        for ids_col, sig_arr in _sketch_batches(batches, num_perm, shingle_k, np.int32):
            mat = sig_arr.values.to_numpy().reshape(len(sig_arr), num_perm)
            yield pa.RecordBatch.from_arrays(
                [ids_col, sig_arr, _pack_band_lists(mat, bands)],
                ["doc_id", "sig", "bands"],
            )

    return _sketch_input(docs, text_col, max_chars).mapInArrow(
        run, schema=f"doc_id {id_t}, sig array<int>, bands array<binary>"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band buckets + per-bucket sig verify.

    shingle -> md5-minhash -> packed band key -> bucket grouping; the band
    explode turns the Jaccard θ-join into bucket co-location (same trick
    as the ER blocking stage). Band keys are INJECTIVE packed binaries
    (band index byte + the band's components big-endian), computed by one
    numpy byte-view inside the sketch kernel — bucket co-membership, and
    therefore the emitted pair set, is exactly what the former md5-string
    keys produced (equal slices <-> equal keys, both injective), with the
    8-per-doc interpreted JVM md5/array_join evaluations gone and the
    signature riding the bucket shuffle as array<int> (components are
    < 2^31 by construction) at half the bytes. The signature rides the
    bucket rows into ONE per-bucket Arrow kernel that compares every
    signature pair with vectorized integer equality — no bucket
    self-join, no O(bucket^2) distinct, and the sketch plan is consumed
    exactly once (the previous join-back verify evaluated it three times
    per action unless the caller persisted it). est_jaccard =
    matching-component fraction — pure integer math, so the value is
    bit-identical however many bands a pair shares; the final
    min-aggregation dedups multi-band pairs deterministically. Kernel
    memory is O(bucket * num_perm) plus a chunk x bucket count tile; a
    pathologically hot bucket needs narrower bands upstream, the same
    constraint the join design had at O(bucket^2) shuffle rows.
    """
    import numpy as np
    import pandas as pd

    if bands > 255:
        raise ValueError("bands must fit one key byte (<= 255)")
    sb = _minhash_sig_bands(docs, text_col, num_perm, bands, shingle_k)
    banded = sb.select("doc_id", "sig", F.explode("bands").alias("band"))
    # One ROW per bucket (collect_list) with singleton buckets — the vast
    # majority — dropped JVM-side. applyInPandas would build a pandas
    # frame per GROUP: with ~one bucket per duplicate group that is tens
    # of thousands of tiny Python invocations (measured 14-20 s at sf0.1
    # vs ~3 s for everything else combined); batching bucket rows through
    # ONE mapInPandas keeps the per-bucket cost at a numpy call.
    # Hot-bucket guard (degrade loudly, never OOM the Arrow boundary): a
    # pathologically common band hash would gather its whole bucket into a
    # single row and can cross Arrow's ~2 GB single-value limit. Buckets
    # past the cap are EXCLUDED from verification here (their pairs are
    # sacrificed — at such sizes the bucket is boilerplate-degenerate and
    # needs narrower bands upstream); the filter is a visible plan predicate
    # and costs nothing: size() rides the same aggregate (MAX_BUCKET_ROWS).
    buckets = (
        banded.groupBy("band")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= MAX_BUCKET_ROWS))
    )
    thr = float(threshold)
    npm = num_perm
    id_t = sb.schema["doc_id"].dataType.simpleString()
    row_ch = 512
    cls_max = 16  # size classes batched without any per-bucket Python

    def run(batches):
        # mapInArrow, not mapInPandas: the bucket column arrives as ONE
        # Arrow list<struct> whose child buffers view as flat numpy arrays
        # (ids, (rows x num_perm) signature matrix) with zero per-element
        # boxing. Buckets are then verified per SIZE CLASS: all m-member
        # buckets in a batch form one (B, m, num_perm) tensor and their
        # pairwise component-match counts come from one broadcasted
        # compare — the former per-bucket loop paid ~32 tiny numpy calls
        # per bucket, which dominated when buckets number in the tens of
        # thousands. Buckets larger than cls_max (rare) keep the chunked
        # two-axis path. Values are bit-identical: same integer compare,
        # same /num_perm division (A/B parity on the full 285k-pair set).
        import pyarrow as pa

        for batch in batches:
            col = batch.column(batch.schema.get_field_index("ms"))
            lens = col.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
            structs = col.flatten()
            ids_all = structs.field("doc_id").to_numpy(zero_copy_only=False)
            sig_all = (
                structs.field("sig")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(-1, npm)
            )
            bounds = np.cumsum(lens) - lens
            o1, o2, oe = [], [], []
            for m in range(2, cls_max + 1):
                sel = np.nonzero(lens == m)[0]
                if not sel.size:
                    continue
                idx = bounds[sel][:, None] + np.arange(m)  # (B, m)
                ids = ids_all[idx]
                order = np.argsort(ids, axis=1, kind="stable")
                ids = np.take_along_axis(ids, order, axis=1)
                sig = sig_all[np.take_along_axis(idx, order, axis=1)]
                eqs = (sig[:, :, None, :] == sig[:, None, :, :]).sum(axis=3)
                est = eqs / float(npm)
                iu, ju = np.triu_indices(m, 1)
                estp = est[:, iu, ju]
                mask = estp >= thr
                bsel, psel = np.nonzero(mask)
                if bsel.size:
                    o1.append(ids[bsel, iu[psel]])
                    o2.append(ids[bsel, ju[psel]])
                    oe.append(estp[mask])
            for bi in np.nonzero(lens > cls_max)[0]:
                s0 = bounds[bi]
                e0 = s0 + lens[bi]
                ids = ids_all[s0:e0]
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                sig = sig_all[s0:e0][order]
                m = len(ids)
                for s in range(0, m, row_ch):
                    e = min(s + row_ch, m)
                    cnt = np.zeros((e - s, m), dtype=np.int32)
                    for p in range(npm):
                        c = sig[:, p]
                        cnt += c[s:e, None] == c[None, :]
                    est = cnt / float(npm)
                    ii, jj = np.nonzero(est >= thr)
                    gi = ii + s
                    keep = jj > gi
                    if keep.any():
                        o1.append(ids[gi[keep]])
                        o2.append(ids[jj[keep]])
                        oe.append(est[ii[keep], jj[keep]])
            if o1:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(o1)),
                        pa.array(np.concatenate(o2)),
                        pa.array(np.concatenate(oe)),
                    ],
                    ["doc_id1", "doc_id2", "est_jaccard"],
                )

    pairs = buckets.select("ms").mapInArrow(
        run, schema=f"doc_id1 {id_t}, doc_id2 {id_t}, est_jaccard double"
    )
    return pairs.groupBy("doc_id1", "doc_id2").agg(
        F.min("est_jaccard").alias("est_jaccard")
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash bigint) — 60-bit md5 SimHash.

    Majority vote per bit over md5-hashed whitespace tokens (occurrence-
    weighted), computed in one vectorized Arrow pass (hashlib md5 + a numpy
    tokens x 60 bit matrix; the equivalent JVM higher-order expressions are
    interpreted per element and ran ~10x slower). The math is exactly the
    DuckDB oracle's: bit i set iff 2 * |{tokens with bit i}| > |tokens|.
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    id_t = docs.schema["doc_id"].dataType.simpleString()
    d = ensure_parallelism(docs.select("doc_id", text_col)).select(
        "doc_id", F.lower(normalize_col(F.col(text_col))).alias("nt")
    )
    shifts = np.arange(60, dtype=np.uint64)[None, :]
    weights = (np.uint64(1) << np.arange(60, dtype=np.uint64)).astype(np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            out = []
            for nt in pdf["nt"]:
                toks = nt.split(" ") if nt else []
                if not toks:
                    out.append(0)
                    continue
                hs = np.fromiter(
                    (int(md5(t.encode("utf-8")).hexdigest()[:15], 16) for t in toks),
                    dtype=np.uint64, count=len(toks),
                )
                counts = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                out.append(int(weights[2 * counts > len(toks)].sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return d.mapInPandas(run, schema=f"doc_id {id_t}, simhash long")


def simhash_pairs(docs: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs; 4x15-bit bands guarantee recall for ham<=3
    (pigeonhole over the 60-bit sketch), verified by exact Hamming distance.
    """
    sh = simhash_signatures(docs, text_col)
    band_arr = F.expr(
        "transform(sequence(0, 3), b -> "
        "b * 32768 + (shiftright(simhash, 15 * b) & 32767))"
    )
    banded = sh.select("doc_id", "simhash", F.explode(band_arr).alias("band"))
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        a.join(b, "band")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
        .select("doc_id1", "doc_id2", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    method: str = "minhash",
    **kw,
) -> DataFrame:
    """(doc_id, keep_id, cluster_size): transitive closure over near-dup
    pairs — the keep/drop decision a dedup pipeline actually applies.

    Near-dup similarity is not transitive (A~B, B~C but A!~C), so pair
    lists alone under-merge; this composes a pair operator ('minhash' |
    'simhash' | 'ngram', kwargs forwarded) with the distributed
    connected-components operator and labels every document with the
    minimum doc_id of its component (the canonical survivor). Singletons
    keep themselves. All set-up is the same bounded-block machinery as the
    underlying pair operators; CC adds O(log n) hash-join rounds.
    """
    fns = {
        "minhash": minhash_lsh_pairs,
        "simhash": simhash_pairs,
        "ngram": ngram_jaccard_pairs,
    }
    from .cluster import assign_clusters

    # No persist needed: connected_components' EAGER localCheckpoint
    # evaluates the pair pipeline exactly once, and its bounded collect
    # (and, for a large graph, the star joins) read the checkpoint, never
    # the pair plan. The pairs go in as they are: CC needs no orient/dedup
    # pass.
    pairs = fns[method](docs, text_col, **kw)
    edges = pairs.select(F.col("doc_id1").alias("src"), F.col("doc_id2").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("node"))
    cl = assign_clusters(edges, nodes)  # eager CC inside
    # cluster_size as a count window: the former groupBy + join-back
    # shuffled the membership table twice (and evaluated the cl plan in
    # both branches); one count-over-partition shuffle computes the
    # identical integer per row
    from pyspark.sql import Window

    return cl.select(
        F.col("entity_id").alias("doc_id"),
        F.col("cluster_id").alias("keep_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )


def _cosine_verify_arrow(pairs_with_vecs: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verify as ONE vectorized Arrow pass.

    Input: candidate pairs carrying both vectors
    ``(doc_id1, doc_id2, v1, v2)``; output the pairs with
    ``cosine >= threshold`` plus the exact cosine. Replaces the former
    interpreted ``F.aggregate(F.zip_with(...))`` kernel (Spark evaluates
    higher-order lambdas per element, boxed — ~dim multiplies per row in
    the interpreter); here each Arrow batch is a handful of numpy einsum
    calls. Degenerate rows DROP instead of crashing the task — the same
    policy the old JVM expressions had implicitly: NULL/empty vectors,
    length-mismatched pairs, and zero norms are skipped; NULL elements
    arrive as NaN and fail the threshold comparison naturally (see
    util.vec_matrix_groups for the policy rationale).

    Chunked at a few MB so temporaries recycle through the allocator
    freelist (fresh large allocations pay first-touch faults on this VM).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    id1_t = pairs_with_vecs.schema["doc_id1"].dataType.simpleString()
    id2_t = pairs_with_vecs.schema["doc_id2"].dataType.simpleString()
    thr = float(threshold)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 1024
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v1, v2 = pdf["v1"].tolist(), pdf["v2"].tolist()
            by_len: dict[int, list[int]] = {}
            for i in range(n):
                a, b = v1[i], v2[i]
                if a is not None and b is not None and len(a) == len(b) > 0:
                    by_len.setdefault(len(a), []).append(i)
            out_idx, out_cos = [], []
            for _length, idx in sorted(by_len.items()):
                for s in range(0, len(idx), chunk):
                    sub = idx[s:s + chunk]
                    a = np.asarray([v1[i] for i in sub], dtype=np.float64)
                    b = np.asarray([v2[i] for i in sub], dtype=np.float64)
                    dot = np.einsum("ij,ij->i", a, b)
                    denom = np.sqrt(np.einsum("ij,ij->i", a, a))
                    denom *= np.sqrt(np.einsum("ij,ij->i", b, b))
                    ok = denom > 0
                    cos = np.divide(dot, denom, out=dot, where=ok)
                    keep = ok & (cos >= thr)
                    if keep.any():
                        out_idx.append(np.asarray(sub, dtype=np.int64)[keep])
                        out_cos.append(cos[keep])
            if not out_idx:
                yield pd.DataFrame({"doc_id1": [], "doc_id2": [], "cosine": []})
                continue
            sel = np.concatenate(out_idx)
            yield pd.DataFrame(
                {
                    "doc_id1": pdf["doc_id1"].to_numpy()[sel],
                    "doc_id2": pdf["doc_id2"].to_numpy()[sel],
                    "cosine": np.concatenate(out_cos),
                }
            )

    return pairs_with_vecs.mapInPandas(
        run, schema=f"doc_id1 {id1_t}, doc_id2 {id2_t}, cosine double"
    )


def _block_gram_pairs(
    rows: DataFrame,
    threshold: float,
    block_col: str = "blk",
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """All within-block cosine pairs >= threshold via a per-block GRAM
    matrix — the scale design for exact verification.

    Each block's vectors are shuffled ONCE (n_b rows of dim floats),
    normalized, and multiplied blockwise (BLAS matmul, chunked on both
    axes so no temporary exceeds a few MB); only the (i < j, sim >=
    threshold) survivors are emitted. Measured against the alternatives
    at 50k x 256 / ~1M candidate pairs on this box: gram 2.4 s vs 4.4 s
    for the interpreted JVM pair-verify (which ALSO needs the O(P)
    self-join first) vs 7.6 s for a per-pair Arrow verify (2P*dim floats
    through serde). Pair-wise vector transfer — not the arithmetic — is
    the cost that kills the other designs; gram moves each vector once.

    Ids are sorted inside the kernel, so output orientation is canonical
    (doc_id1 < doc_id2) and results are partitioning-invariant (fixed
    chunk sizes -> identical BLAS shapes -> identical floats). Degenerate
    vectors drop per util.vec_matrix_groups' policy (NULL/empty/zero-norm
    skipped; only same-length vectors compare; NULL elements arrive as
    NaN and fail every threshold test). Memory per task is O(n_b * dim):
    a pathologically hot block needs upstream splitting, the same
    constraint the band-join design had at O(n_b^2) rows.

    Buckets are gathered with collect_list and SINGLETON BLOCKS — the
    vast majority under fine blocking — are dropped JVM-side, then one
    mapInPandas processes many buckets per Arrow batch: per-GROUP
    applyInPandas pays a pandas-frame build per bucket, which measured
    as 14-20 s of pure Python overhead at sf0.1 on the minhash twin of
    this kernel when buckets number in the tens of thousands.
    """
    import numpy as np
    import pandas as pd

    from .util import vec_matrix_groups

    thr = float(threshold)
    id_t = rows.schema[id_col].dataType.simpleString()
    row_ch, col_ch = 512, 4096

    # hot-block guard: same degrade-loudly cap as minhash_lsh_pairs — a
    # block past MAX_BUCKET_ROWS rows would gather vectors into one Arrow
    # value (dim floats each: the OOM cliff is lower than for signatures);
    # such blocks are excluded by a visible plan predicate and need
    # upstream splitting, as the docstring states.
    buckets = (
        rows.groupBy(block_col)
        .agg(F.collect_list(F.struct(id_col, vec_col)).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= MAX_BUCKET_ROWS))
    )

    def run(batches):
        for pdf in batches:
            o1, o2, oc = [], [], []
            for ms in pdf["ms"]:
                ids_all = np.asarray([r[id_col] for r in ms])
                order = np.argsort(ids_all, kind="stable")
                ids_all = ids_all[order]
                vecs_sorted = [ms[i][vec_col] for i in order.tolist()]
                # chunk=None: the gram tiling below needs every same-length
                # row of the bucket in ONE matrix (bucket sizes are bounded)
                for sel, vv in vec_matrix_groups(vecs_sorted, chunk=None):
                    nrm = np.sqrt(np.einsum("ij,ij->i", vv, vv))
                    ok = nrm > 0
                    ids, vv = ids_all[sel][ok], vv[ok]
                    m = len(ids)
                    if m < 2:
                        continue
                    vv /= nrm[ok][:, None]
                    for s in range(0, m, row_ch):
                        e = min(s + row_ch, m)
                        for t in range(s, m, col_ch):
                            u = min(t + col_ch, m)
                            sim = vv[s:e] @ vv[t:u].T
                            # hits collected on the whole 2-D tile: dense
                            # near-dup blocks choke a per-row Python loop
                            hi, hj = np.nonzero(sim >= thr)
                            gi, gj = hi + s, hj + t
                            keep = gj > gi
                            if keep.any():
                                o1.append(ids[gi[keep]])
                                o2.append(ids[gj[keep]])
                                oc.append(sim[hi[keep], hj[keep]])
            if not o1:
                yield pd.DataFrame({"doc_id1": [], "doc_id2": [], "cosine": []})
                continue
            yield pd.DataFrame(
                {
                    "doc_id1": np.concatenate(o1),
                    "doc_id2": np.concatenate(o2),
                    "cosine": np.concatenate(oc),
                }
            )

    return buckets.mapInPandas(
        run, schema=f"doc_id1 {id_t}, doc_id2 {id_t}, cosine double"
    )


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup pairs at scale: random-hyperplane LSH + exact verify.

    Sign bits of dot(v, r_j) over ``n_planes`` seeded Gaussian hyperplanes
    (one vectorized Arrow pass that also passes the vector through),
    grouped into ``bands`` bucket keys — two vectors within angle θ share
    a band with prob (1 - θ/π)^(planes/bands) per band, so the cosine
    θ-join becomes a bucket grouping. Each band bucket is verified with a
    per-bucket GRAM kernel (see _block_gram_pairs): vectors move once per
    band (bands*n rows) instead of twice per candidate pair, there is no
    self-join or distinct over O(bucket^2) rows at all, and the exact
    cosines come from BLAS. A pair sharing several bands is emitted per
    band and deduped by a final (doc_id1, doc_id2) min-aggregation (the
    recomputed cosines agree to the last ulp or within one BLAS rounding
    of it; `min` makes the survivor deterministic).

    Hyperplanes are derived PER LENGTH GROUP inside the kernel
    (``RandomState(seed).randn(n_planes, dim)`` per distinct dim, cached
    per task) and the dim is folded into the injective band key, so the
    operator launches NO separate driver job: the former
    ``max(size(vec))`` probe was a full extra pass over the corpus per
    call — a real cost at 100 TB — purely to pick one global
    dimensionality. Single-dim corpora (the normal case) get bit-identical
    planes, keys-equivalent buckets, and therefore the identical pair
    set; mixed-dim corpora now ALSO pair within each minority length
    group (cosine is defined within a group — the old global-max-dim gate
    silently dropped them). NULL/empty vectors still drop
    (util.vec_matrix_groups policy).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rows_per_band = n_planes // bands
    vec_t = emb.schema[vec_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .util import vec_matrix_groups

        # integer band keys ((dim * bands + band) << rows_per_band |
        # packed sign bits): any injective map of (dim, band, bit-chunk)
        # groups identically, so the former per-row per-band Python
        # md5/string loop is replaced by one sign-bit matmul + one pack
        # matmul per band — and the 32-char hex grouping key becomes an
        # 8-byte long in the shuffle
        pack_w = (1 << np.arange(rows_per_band - 1, -1, -1)).astype(np.int64)
        plane_cache: dict[int, np.ndarray] = {}
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            ids = pdf[id_col].to_numpy()
            id_chunks, band_chunks, out_vecs = [], [], []
            for sel, vv in vec_matrix_groups(vals):
                dim = vv.shape[1]
                planes = plane_cache.get(dim)
                if planes is None:
                    planes = np.random.RandomState(seed).randn(n_planes, dim)
                    plane_cache[dim] = planes
                bits = ((vv @ planes.T) >= 0).astype(np.int64)  # (g, planes)
                keys = np.empty((len(sel), bands), dtype=np.int64)
                for b in range(bands):
                    packed = bits[:, b * rows_per_band:(b + 1) * rows_per_band] @ pack_w
                    keys[:, b] = ((dim * bands + b) << rows_per_band) + packed
                id_chunks.append(np.repeat(ids[sel], bands))
                band_chunks.append(keys.reshape(-1))
                out_vecs.extend(v for i in sel.tolist() for v in (vals[i],) * bands)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(id_chunks) if id_chunks else np.array([], dtype=np.int64),
                    "band": np.concatenate(band_chunks) if band_chunks else np.array([], dtype=np.int64),
                    # object dtype: an all-dropped batch would otherwise
                    # yield an empty float64 column, which Arrow cannot
                    # convert to list<float>
                    "v": pd.Series(out_vecs, dtype=object),
                }
            )

    src = ensure_parallelism(emb.select(id_col, vec_col))
    buckets = src.mapInPandas(run, schema=f"id long, band long, v {vec_t}")
    pairs = _block_gram_pairs(buckets, threshold, block_col="band")
    return pairs.groupBy("doc_id1", "doc_id2").agg(F.min("cosine").alias("cosine"))


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs by cosine over an array<float> column.

    With ``block_col`` each block is verified by the per-block GRAM kernel
    (see _block_gram_pairs): vectors shuffle once per block and BLAS does
    the pairwise cosines — no self-join, no per-pair vector movement.
    Without ``block_col`` this is a full cross product (O(n^2): only for
    small n; the LSH/IVF paths are the scale routes for unblocked
    corpora), done as a crossJoin + one vectorized Arrow verify pass.
    """
    rows = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    if block_col:
        return _block_gram_pairs(rows, threshold, block_col="blk")
    rows = ensure_parallelism(rows)
    a, b = rows.alias("a"), rows.alias("b")
    with_vecs = a.crossJoin(b).where(F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("doc_id1"),
        F.col("b.id").alias("doc_id2"),
        F.col("a.v").alias("v1"),
        F.col("b.v").alias("v2"),
    )
    return _cosine_verify_arrow(with_vecs, threshold)
