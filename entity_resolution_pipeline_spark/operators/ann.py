"""Approximate / exact nearest-neighbor search over an embedding column.

Replaces the reference's Weaviate HNSW serving (S5/J1/W1,
/root/reference/src/indexing.py, /root/reference/src/batch_querying.py) with
two DataFrame plans over ``(id, array<float>)``:

- brute_force_topk: exact top-k baseline; scales linearly in corpus size —
  the right tool when the query set is small.
- ivf_topk: IVF-style two-stage search. Deterministic centroids are chosen by
  md5-hashing ids (evenly spread sample, reproducible in DuckDB), every
  corpus vector is assigned to its nearest centroid, and queries probe only
  the ``nprobe`` nearest cells — the classic inverted-file trade of recall
  for a corpus-scan factor of ~nprobe/ncells.

Both operators pick between two value-identical physical strategies by
Catalyst's corpus-size estimate (the broadcast-threshold pattern): a
single codegen JVM stage below ~64 MB (fixed Arrow-stage costs dominate
tiny inputs), and vectorized Arrow kernels (numpy matmul per batch) above
it, where the interpreted per-element cosine would cost rows x dim boxed
multiplies. The joins and the top-k window stay JVM DataFrame expressions
in either mode.

Ties are broken by ascending corpus id / centroid index so results are
deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from .util import ensure_parallelism


def _norm_col(vec_col: str):
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda acc, x: acc + x
    )


# Below this estimated corpus size the single-stage interpreted-JVM plan
# beats the vectorized Arrow kernel: the kernel's fixed costs (a collect
# job for the query/centroid matrix, python-worker round trips, an extra
# shuffle boundary) are ~2-3 s on this box, while interpreting a few
# thousand rows x 64 dims is milliseconds. Past it the per-element
# interpreter cost scales with rows*dim and the Arrow matmul wins by
# orders of magnitude. Same statistic-driven adaptivity Spark itself uses
# for the broadcast-join threshold.
# Strategy crossover: the jvm branch's zip_with/aggregate cosine runs
# INTERPRETED per element (HOFs don't codegen), so its cost grows with
# corpus_rows * dim at interpreter speed while the arrow branch pays a
# near-fixed Python-pass overhead plus BLAS. Same-box A/B (r6, 64-dim):
# ~0.8 MB corpus est -> jvm 0.5-0.6 s vs arrow 0.8-1.0 s; ~5.9 MB est ->
# jvm 2.3 s vs arrow 0.9 s. Crossover sits at a few MB, not the 64 MB the
# round-5 default assumed.
_ARROW_MIN_BYTES = 2 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated output size of the plan (bytes) — the same
    cheap statistic the broadcast-join threshold consults; no job runs."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k by cosine.

    Two physical strategies — identical up to floating-point summation
    order (BLAS pairwise vs aggregate()'s sequential adds differ in the
    last ulp, so near-tie ranks/threshold-boundary rows can legitimately
    diverge on adversarial inputs; the parity test is tolerance-based) —
    picked by Catalyst's corpus size estimate (``strategy='auto'``; force
    with ``'jvm'``/``'arrow'``):

    - ``'jvm'`` (small corpus): broadcast the query set, crossJoin, cosine
      via zip_with/aggregate, window top-k — one codegen stage, no Python.
    - ``'arrow'`` (large corpus): collect the (small, bounded-by-contract)
      query set to the driver and score the corpus in ONE vectorized Arrow
      pass — numpy matmul per batch plus a per-batch partial top-k under
      the global total order (cosine desc, neighbor_id asc), so only nq*k
      rows per batch reach the final window instead of nq*n. Per-batch
      top-k under a total order is lossless for the global top-k.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if strategy == "auto":
        strategy = "jvm" if _plan_size_bytes(corpus) < _ARROW_MIN_BYTES else "arrow"
    if strategy == "jvm":
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            _norm_col(vec_col).alias("cn"),
        ).where(F.col("cn") > 0)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm_col(vec_col).alias("qn"),
        ).where(F.col("qn") > 0)
        scored = (
            F.broadcast(q)
            .crossJoin(c)
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
            )
            # length-mismatched pairs (zip_with pads -> NULL dot) must
            # drop, not rank with NULL cosines — keeps the jvm branch
            # value-identical to the arrow branch's by-length grouping
            .where(F.col("cosine").isNotNull())
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

    # queries grouped by vector length (drop-don't-crash policy, see
    # util.vec_matrix_groups): NULL/empty/zero-norm queries drop; a query
    # only scores corpus vectors of ITS length (cosine across lengths is
    # undefined — the old zip_with produced NULL there, never a match)
    # None-safe sort key: a NULL query id would otherwise TypeError on the
    # driver (the jvm branch tolerates NULL ids; drop-don't-crash parity)
    qrows = sorted(
        (r for r in queries.select(id_col, vec_col).collect() if r[0] is not None),
        key=lambda r: r[0],
    )
    q_by_len: dict[int, tuple[list, object, object]] = {}
    for r in qrows:
        if r[1] is None or len(r[1]) == 0:
            continue
        qvec = np.asarray(r[1], dtype=np.float64)
        qnorm = float(np.sqrt(qvec @ qvec))
        if qnorm > 0:
            q_by_len.setdefault(len(r[1]), []).append((r[0], qvec / qnorm))
    q_groups = {
        length: ([qq for qq, _ in entries], np.asarray([v for _, v in entries]))
        for length, entries in q_by_len.items()
    }
    nq = sum(len(g[0]) for g in q_groups.values())

    cid_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[id_col].dataType.simpleString()
    src = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .util import vec_matrix_groups

        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            nid_all = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for sel, cc in vec_matrix_groups(pdf["v"].tolist()):
                grp = q_groups.get(cc.shape[1])
                if grp is None:
                    continue
                qids, qm = grp
                cn = np.sqrt(np.einsum("ij,ij->i", cc, cc))
                ok = cn > 0
                nid = nid_all[sel][ok]
                if len(nid) == 0:
                    continue
                cos = cc[ok] @ qm.T
                cos /= cn[ok][:, None]
                for j, qid in enumerate(qids):
                    col = cos[:, j].copy()
                    col[nid == qid] = -np.inf  # self-pair exclusion
                    order = np.lexsort((nid, -col))[: min(k, len(nid))]
                    order = order[np.isfinite(col[order])]
                    out_q.extend([qid] * len(order))
                    out_n.extend(nid[order])
                    out_c.extend(col[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = src.mapInPandas(
        run, schema=f"query_id {qid_t}, neighbor_id {cid_t}, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pick_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid sample as a (cidx, cv, cn0) DataFrame.

    The n_cells vectors with the smallest md5(id) — an evenly-spread,
    engine-independent hash sample (md5 exists in DuckDB too, so the
    correctness oracle picks the identical centroids). Zero-norm vectors are
    excluded (they cannot anchor a cosine cell).

    The zero-norm exclusion is applied AFTER an over-fetch of the
    (n_cells + 64) smallest hashes, so the full-corpus scan computes only
    the 16-byte hash, not an interpreted O(dim) norm per row; norms are
    evaluated on the tiny over-fetched set. If more than 64 of those turn
    out zero-norm (a pathologically zero-vector-heavy corpus), an exact
    full-scan fallback reproduces the original semantics — the selected
    set is identical to "norm-filter first" in every case.
    """
    h = F.md5(F.col(id_col).cast("string"))
    base = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv0"), h.alias("h")
    )
    # ONE corpus-wide TakeOrdered job: over-fetch, compute norms on the
    # tiny result only (projection applied after the limit), collect, and
    # finish client-side. The collected literals also serve every
    # downstream consumer (corpus assignment, query probe, Lloyd
    # refinement, the arrow kernels' closure) without replaying the scan.
    over_rows = (
        base.orderBy("h", "cid")
        .limit(n_cells + 64)
        .withColumn("cn0", _norm_col("cv0"))
        .collect()
    )
    saw_whole_corpus = len(over_rows) < n_cells + 64
    good = [r for r in over_rows if r["cn0"] is not None and r["cn0"] > 0]
    if len(good) < n_cells and not saw_whole_corpus:
        # > 64 zero-norm rows among the smallest hashes (pathologically
        # zero-vector-heavy corpus): exact full-scan fallback
        good = (
            base.withColumn("cn0", _norm_col("cv0"))
            .where(F.col("cn0") > 0)
            .orderBy("h", "cid")
            .limit(n_cells)
            .collect()
        )
    good = good[:n_cells]
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    return corpus.sparkSession.createDataFrame(
        [(i + 1, list(r["cv0"]), float(r["cn0"])) for i, r in enumerate(good)],
        schema=f"cidx int, cv0 {vec_t}, cn0 double",
    )


def _nearest_cells(
    vecs: DataFrame, cents: DataFrame, id_alias: str, n_keep: int,
    strategy: str = "auto", passthrough_vec: bool = False,
) -> DataFrame:
    """(id, cell) pairs: each vector's n_keep nearest centroids by cosine
    (ties -> smallest centroid index). With ``passthrough_vec`` the input
    vector rides along in a ``v`` column (the caller then needs no join
    to reattach vectors — they move through the shuffle exactly once).
    Value-identical strategies picked
    by the vector side's size estimate (see _ARROW_MIN_BYTES):

    - ``'jvm'``: broadcast-crossJoin over the tiny centroid table +
      window rank — one codegen stage, right for small inputs.
    - ``'arrow'``: the centroid table is tiny and bounded (n_cells), so
      it ships into an Arrow kernel's closure; per batch one numpy
      matmul scores every centroid and a stable argsort picks the n_keep
      nearest — the interpreted crossJoin cosine is n x n_cells x dim
      boxed multiplies, the dominant IVF indexing cost at corpus scale.
      Ranking divides by the centroid norm only: the vector's own norm
      is constant within a row, so the order (and every tie) is
      identical to the full cosine the SQL oracle computes; ranking-only
      zero-norm vectors get an arbitrary-but-deterministic cell and are
      dropped later by the exact verify (cosine undefined).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if strategy == "auto":
        strategy = "jvm" if _plan_size_bytes(vecs) < _ARROW_MIN_BYTES else "arrow"
    extra = ["v"] if passthrough_vec else []
    if strategy == "jvm":
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            F.col(id_alias),
            F.col("cidx").alias("cell"),
            (_dot(F.col("v"), F.col("cv0")) / F.col("cn0")).alias("csim"),
            *extra,
        )
        w = Window.partitionBy(id_alias).orderBy(F.desc("csim"), F.asc("cell"))
        return (
            scored.withColumn("crn", F.row_number().over(w))
            .where(F.col("crn") <= n_keep)
            .select(id_alias, "cell", *extra)
        )

    crows = cents.select("cidx", "cv0", "cn0").orderBy("cidx").collect()
    nc = len(crows)
    cidx = np.array([int(r["cidx"]) for r in crows], dtype=np.int64)
    cm = (
        np.asarray([np.asarray(r["cv0"], dtype=np.float64) for r in crows])
        if nc
        else np.zeros((0, 0))
    )
    cn = np.array([float(r["cn0"]) for r in crows])
    kk = min(n_keep, nc)
    id_t = vecs.schema[id_alias].dataType.simpleString()
    vec_t = vecs.schema["v"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .util import vec_matrix_groups

        cdim = cm.shape[1] if nc else -1
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nc == 0:
                continue
            vals = pdf["v"].tolist()
            ids_all = pdf[id_alias].to_numpy()
            frames = []
            # drop-don't-crash (util.vec_matrix_groups): NULL/empty rows
            # and rows whose length differs from the centroids' can be
            # near no centroid — they drop here, exactly as the verify
            # stage would have dropped them later
            for sel, vv in vec_matrix_groups(vals):
                if vv.shape[1] != cdim:
                    continue
                sims = vv @ cm.T
                sims /= cn[None, :]
                # stable sort on -sims: ties keep column order = asc cidx
                order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                out = {
                    id_alias: np.repeat(ids_all[sel], kk),
                    "cell": cidx[order].ravel().astype(np.int32),
                }
                if passthrough_vec:
                    # 1-D object array of array refs (a plain asarray of
                    # equal-length vectors would build a 2-D matrix and
                    # np.repeat would then flatten it)
                    vrefs = np.empty(len(sel), dtype=object)
                    for oi, i in enumerate(sel.tolist()):
                        vrefs[oi] = vals[i]
                    out["v"] = np.repeat(vrefs, kk)
                frames.append(pd.DataFrame(out))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    schema = f"{id_alias} {id_t}, cell int"
    if passthrough_vec:
        schema += f", v {vec_t}"
    return ensure_parallelism(vecs.select(id_alias, "v")).mapInPandas(run, schema)


def refine_centroids(
    corpus: DataFrame,
    cents: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of IVF centroids, all DataFrame ops.

    Hash-sampled seeds are adequate on uniform data but lose recall on
    skewed 100 TB corpora; a couple of k-means iterations (assign ->
    per-cell per-component mean -> renormalize) move centroids onto the
    data's actual modes. Empty cells keep their previous centroid.
    """
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), _norm_col(vec_col).alias("nrm")
    ).where(F.col("nrm") > 0)
    for _ in range(iters):
        assign = _nearest_cells(
            c.select(F.col("vid").alias("nid"), "v", "nrm"), cents, "nid", 1
        )
        comp = (
            c.select(F.col("vid").alias("nid"), F.posexplode("v").alias("pos", "x"))
            .join(assign, "nid")
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
        new_cents = comp.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv_new")
        )
        cents = (
            cents.join(new_cents, cents.cidx == new_cents.cell, "left")
            .select(
                "cidx",
                F.coalesce(F.col("cv_new"), F.col("cv0")).alias("cv0"),
            )
            .withColumn(
                "cn0",
                F.sqrt(F.aggregate("cv0", F.lit(0.0), lambda a, x: a + x.cast("double") * x)),
            )
            .where(F.col("cn0") > 0)
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    strategy: str = "auto",
) -> DataFrame:
    """IVF two-stage ANN: probe the nprobe nearest cells per query.

    Fully deterministic and reproducible in ANSI SQL — the classic
    inverted-file trade of recall for a corpus-scan factor of
    ~nprobe/n_cells. Cell assignment and the exact re-rank run as either
    one codegen JVM stage (small corpus) or a vectorized Arrow kernel
    (large corpus) — value-identical, picked by Catalyst's corpus size
    estimate (``strategy`` forces one). ``kmeans_iters > 0`` adds
    Lloyd refinement of the hash-sampled centroids (better cells on skewed
    corpora; the SQL-oracled contract query keeps iters=0).

    Zero-norm vectors: cosine is undefined for the zero vector, so
    zero-norm CORPUS rows are never candidates and zero-norm QUERY rows
    produce **no output rows at all** (row counts are not preserved for
    them). Callers that need a signal for degenerate queries should
    pre-filter ``aggregate(v, 0d, (a,x) -> a + x*x) = 0`` and handle those
    ids explicitly.
    """
    import numpy as np
    import pandas as pd

    if strategy == "auto":
        strategy = "jvm" if _plan_size_bytes(corpus) < _ARROW_MIN_BYTES else "arrow"

    cents = pick_centroids(corpus, n_cells, id_col, vec_col)
    if kmeans_iters > 0:
        cents = refine_centroids(corpus, cents, kmeans_iters, id_col, vec_col)

    # Zero-norm vectors need no pre-filter pass (the former interpreted
    # O(n*dim) norm column): the exact scorer drops zero-norm rows
    # itself, so a zero-norm corpus row is assigned a cell but can never
    # reach the output, and a zero-norm query emits no rows — the
    # documented semantics, at zero extra scan cost.
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
    # passthrough_vec: corpus vectors ride the assignment output, so they
    # move through exactly one shuffle (the groupBy cell / probe join) —
    # no reattachment join over the whole corpus
    corpus_cells = _nearest_cells(c, cents, "neighbor_id", 1, strategy,
                                  passthrough_vec=True)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"))
    q_probe = _nearest_cells(q, cents, "query_id", nprobe, strategy)

    if strategy == "jvm":
        # norms computed ONCE per row frame before the cell join (a corpus
        # vector probed by q queries would otherwise evaluate the
        # interpreted O(dim) norm aggregate per candidate pair)
        qv = q.select(
            "query_id", F.col("v").alias("qv"), _norm_col("v").alias("qn")
        ).where(F.col("qn") > 0)
        cc = corpus_cells.select(
            "neighbor_id", "cell", F.col("v").alias("cv"),
            _norm_col("v").alias("cn"),
        ).where(F.col("cn") > 0)
        cand = (
            F.broadcast(q_probe.join(qv, "query_id"))
            .join(cc, "cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
        )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        ).where(F.col("cosine").isNotNull())  # drop length-mismatched pairs
    else:
        # Per-CELL gram scoring: the probe lists + query vectors are small
        # and bounded by contract, so they ship in the kernel closure
        # keyed by cell; each cell's corpus vectors arrive ONCE via the
        # groupBy shuffle and are scored against that cell's queries with
        # one BLAS matmul + a lossless partial top-k (total order: cosine
        # desc, neighbor_id asc). Corpus vectors never travel per-pair —
        # the design that made the per-pair Arrow verify transfer-bound.
        probe_rows = q_probe.join(
            q.select("query_id", F.col("v").alias("qv")), "query_id"
        ).collect()
        # {cell: {dim: (qids, normalized Q matrix)}} — queries grouped by
        # length so a degenerate/ragged query can never crash the kernel
        # (drop-don't-crash, util.vec_matrix_groups policy): NULL/empty/
        # zero-norm queries drop; a query scores only same-length corpus
        by_cell: dict[int, dict[int, list]] = {}
        for r in probe_rows:
            if r["qv"] is None or len(r["qv"]) == 0:
                continue
            qvec = np.asarray(r["qv"], dtype=np.float64)
            qn = float(np.sqrt(qvec @ qvec))
            if qn > 0:
                by_cell.setdefault(int(r["cell"]), {}).setdefault(
                    len(r["qv"]), []
                ).append((r["query_id"], qvec / qn))
        qid_t = queries.schema[id_col].dataType.simpleString()
        cid_t = corpus.schema[id_col].dataType.simpleString()

        def per_cell(key, pdf):  # untyped: pyspark warns on partial hints
            from .util import vec_matrix_groups

            entry = by_cell.get(int(key[0]))
            empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
            if not entry or len(pdf) == 0:
                return empty
            nid_all = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for sel, vv in vec_matrix_groups(pdf["v"].tolist(), chunk=None):
                grp = entry.get(vv.shape[1])
                if grp is None:
                    continue
                nrm = np.sqrt(np.einsum("ij,ij->i", vv, vv))
                ok = nrm > 0
                nid, vv2 = nid_all[sel][ok], vv[ok]
                if len(nid) == 0:
                    continue
                vv2 /= nrm[ok][:, None]
                qids = [qq for qq, _ in grp]
                qm = np.asarray([qvn for _, qvn in grp])
                sims = qm @ vv2.T  # (nq_cell, n_cell)
                kk = min(k, sims.shape[1])
                for j, qid in enumerate(qids):
                    col = sims[j].copy()
                    col[nid == qid] = -np.inf  # self-pair exclusion
                    order = np.lexsort((nid, -col))[:kk]
                    order = order[np.isfinite(col[order])]
                    out_q.extend([qid] * len(order))
                    out_n.extend(nid[order])
                    out_c.extend(col[order])
            return pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

        scored = corpus_cells.groupBy("cell").applyInPandas(
            per_cell,
            schema=f"query_id {qid_t}, neighbor_id {cid_t}, cosine double",
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_diagnostics(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension + norm statistics over an embedding column — the
    distributed analogue of the reference's driver-side vector inspection
    scripts (/root/reference/analyze_vectors.py:36-49 shape/mean/min/max/
    std, npy_diagnostics.py), which np.load a whole .npy into one
    process; here one posexplode + aggregate covers a 100 TB table.

    Output: one row per dimension ``(dim, n, mean, std, min, max)`` plus
    a ``dim = -1`` row describing the L2-NORM distribution (its ``n`` is
    the vector count; NULL/empty vectors are excluded and reported via
    ``n`` deltas against the table count). Ordered by dim. NULL *elements*
    are handled consistently: per-dim ``n`` counts non-null values only
    (so it matches what mean/std/min/max aggregate), and vectors
    containing any NULL element are excluded from the norm row entirely
    (a partial-sum "norm" would be silently wrong) — both surface as
    ``n`` deltas rather than skewed stats.
    """
    d = emb.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).select(id_col, F.posexplode(vec_col).alias("dim", "v"))
    per_dim = d.groupBy("dim").agg(
        F.count("v").alias("n"),
        F.avg("v").alias("mean"),
        F.stddev_pop("v").alias("std"),
        F.min("v").alias("min"),
        F.max("v").alias("max"),
    )
    norms = (
        d.groupBy(id_col)
        .agg(
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null_elems"),
        )
        .where(F.col("n_null_elems") == 0)
        .agg(
            F.lit(-1).alias("dim"),
            F.count(F.lit(1)).alias("n"),
            F.avg("nrm").alias("mean"),
            F.stddev_pop("nrm").alias("std"),
            F.min("nrm").alias("min"),
            F.max("nrm").alias("max"),
        )
    )
    return per_dim.unionByName(norms).orderBy("dim")
