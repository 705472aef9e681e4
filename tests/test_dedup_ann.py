"""Dedup suite, ANN, text stats, imputation, multimodal plumbing tests."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from entity_resolution_pipeline_spark.functions.text import (
    detect_language,
    quality_scores,
)
from entity_resolution_pipeline_spark.operators.ann import brute_force_topk, ivf_topk
from entity_resolution_pipeline_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from entity_resolution_pipeline_spark.operators.embed import embed_unique_strings
from entity_resolution_pipeline_spark.operators.impute import impute_field
from entity_resolution_pipeline_spark.operators.multimodal import (
    decode_image_features,
    media_metadata,
)
from entity_resolution_pipeline_spark.operators.textstats import (
    fingerprints,
    language_id,
    quality,
    token_counts,
    token_counts_bpeish,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, "the  quick brown fox jumps over the lazy dog and runs far away today "),  # ws dup of 0
        (3, base.replace("dog", "cat")),             # near dup
        (4, "completely different text about spark shuffles and parquet files here"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _string_ids(docs):
    return docs.select(F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"), "text")


class TestDedup:
    def test_exact(self, spark):
        out = {r["doc_id"]: r for r in exact_dedup(_docs(spark)).collect()}
        assert out[0]["keep_id"] == 0 and out[0]["group_size"] == 3
        assert out[2]["keep_id"] == 0  # whitespace-normalized dup
        assert out[3]["group_size"] == 1

    def test_exact_unicode_whitespace(self, spark):
        """NBSP, U+2028 and U+3000 separate tokens as in ``normalize_text``."""
        rows = [(0, "a b"), (1, "a\u00a0b"), (2, "\u2028a b\u3000")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in exact_dedup(df).collect()}
        assert {r["keep_id"] for r in out.values()} == {0}
        assert out[0]["group_size"] == 3

    def test_ngram_jaccard_anchorless_fallback(self, spark):
        """A boilerplate cluster where EVERY token exceeds max_anchor_df
        used to exit near-dup detection silently (round-2 recall cliff);
        the min-df fallback must still connect it, and the drop count must
        be reported via stats."""
        rows = [(i, "common boiler plate text") for i in range(6)]
        rows += [(10, "unique alpha beta"), (11, "unique alpha gamma")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stats: dict = {}
        out = ngram_jaccard_pairs(df, threshold=0.9, max_anchor_df=3, stats=stats)
        got = {(r["doc_id1"], r["doc_id2"]) for r in out.collect()}
        # all 15 pairs of the identical 6-doc cluster found via fallback
        assert {(i, j) for i in range(6) for j in range(i + 1, 6)} <= got
        assert stats["anchorless_docs"] == 6

    def test_ngram_jaccard_fallback_neighbor_cap_bounds_work(self, spark):
        """Fallback blocks are unbounded by construction — each doc may pair
        with at most fallback_neighbor_cap forward neighbors. Blocks within
        the salt threshold (4 * max_anchor_df) keep exact chain semantics;
        bigger blocks are pre-split by doc_id salt (bounded per-task sort),
        each salt subgroup chaining independently."""
        from collections import Counter

        rows = [(i, "same words every time") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        # un-salted regime: salt_block = 4*5 = 20 >= block size 20
        out = ngram_jaccard_pairs(
            df, threshold=0.9, max_anchor_df=5, fallback_neighbor_cap=2
        )
        got = [(r["doc_id1"], r["doc_id2"]) for r in out.collect()]
        assert len(got) == 2 * 20 - 3  # B*K - K*(K+1)/2
        fwd = Counter(p[0] for p in got)
        assert max(fwd.values()) <= 2
        # chain connects the whole cluster: every doc appears in some pair
        touched = {x for p in got for x in p}
        assert touched == set(range(20))

        # salted regime: salt_block = 4*3 = 12 < 20 -> n_sub = 2, docs split
        # by md5_hash60(doc_id) % 2 (hash-based: works for string ids too);
        # each salt subgroup chains independently, no cross-salt pairs
        import hashlib

        def _salt(i, n=2):
            return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % n

        out_s = ngram_jaccard_pairs(
            df, threshold=0.9, max_anchor_df=3, fallback_neighbor_cap=2
        )
        got_s = [(r["doc_id1"], r["doc_id2"]) for r in out_s.collect()]
        groups = Counter(_salt(i) for i in range(20))
        expect = sum(2 * g - 3 for g in groups.values() if g >= 2)
        assert len(got_s) == expect
        assert all(_salt(a) == _salt(b) for a, b in got_s)  # no cross-salt pair
        assert {x for p in got_s for x in p} == set(range(20))

    def test_ngram_jaccard_fallback_salting_string_ids(self, spark):
        """The salt must be hash-based, not numeric modulo: string doc_ids
        (url-keyed corpora) through an oversized fallback block still emit
        capped pairs — a numeric salt would NULL out and silently drop
        every fallback candidate."""
        rows = [(f"url{i:03d}", "same words every time") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = ngram_jaccard_pairs(
            df, threshold=0.9, max_anchor_df=3, fallback_neighbor_cap=2
        ).collect()
        assert len(out) > 0
        import hashlib
        from collections import defaultdict

        groups = defaultdict(set)
        for i in range(20):
            s = f"url{i:03d}"
            groups[int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2].add(s)
        expect_touched = set().union(*(g for g in groups.values() if len(g) >= 2))
        touched = {x for r in out for x in (r["doc_id1"], r["doc_id2"])}
        assert touched == expect_touched

    def test_exact_key_is_128_bit(self, spark):
        """Collision-safety contract for the 100 TB tier: the dedup key must
        be the full 128-bit md5, not a 64-bit hash whose birthday collisions
        (~n^2/2^65) silently merge distinct documents.

        A real xxhash64 collision pair is infeasible to craft here, so the
        stand-in demonstrates the failure mode with a truncated key: texts
        engineered to collide in the LOW 16 bits of their md5 merge under a
        16-bit-truncated key (the scaled-down analogue of 64-bit birthday
        collisions at trillion-doc scale) but stay separate in the shipped
        operator."""
        import hashlib

        # find two distinct texts whose md5 shares the last 4 hex chars
        seen: dict[str, str] = {}
        pair = None
        i = 0
        while pair is None:
            t = f"document body {i}"
            tail = hashlib.md5(t.encode()).hexdigest()[-4:]
            if tail in seen:
                pair = (seen[tail], t)
            seen[tail] = t
            i += 1
        df = spark.createDataFrame(
            [(1, pair[0]), (2, pair[1])], "doc_id long, text string"
        )
        # truncated stand-in key: the two docs DO collide
        trunc = df.select(
            F.substring(F.md5("text"), 29, 4).alias("k")
        ).distinct().count()
        assert trunc == 1
        # shipped 128-bit operator: they stay distinct groups
        out = {r["doc_id"]: r for r in exact_dedup(df).collect()}
        assert out[1]["keep_id"] == 1 and out[1]["group_size"] == 1
        assert out[2]["keep_id"] == 2 and out[2]["group_size"] == 1

    def test_ngram_jaccard(self, spark):
        pairs = {(r["doc_id1"], r["doc_id2"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
        assert pairs[(0, 1)] == 1.0
        assert (0, 3) in pairs  # one word changed
        assert (0, 4) not in pairs

    def test_minhash_lsh(self, spark):
        pairs = {(r["doc_id1"], r["doc_id2"]) for r in
                 minhash_lsh_pairs(_docs(spark), threshold=0.6).collect()}
        assert (0, 1) in pairs and (0, 2) in pairs
        assert (0, 4) not in pairs

    def test_pack_band_lists_injective(self):
        """Two signature rows get an equal band key iff the band's
        components are equal — the property that makes the packed keys
        interchangeable with the former md5-string keys."""
        import pyarrow as pa  # noqa: F401

        from entity_resolution_pipeline_spark.operators.dedup import (
            _pack_band_lists,
        )

        mat = np.array(
            [
                [1, 2, 3, 4, 5, 6, 7, 8],
                [1, 2, 3, 4, 9, 9, 9, 9],   # band 0 equal, band 1 differs
                [8, 7, 6, 5, 5, 6, 7, 8],   # band 0 differs, band 1 equal
                [1, 2, 3, 4, 5, 6, 7, 8],   # both equal to row 0
            ],
            dtype=np.int64,
        )
        arr = _pack_band_lists(mat, bands=2)
        keys = arr.to_pylist()
        assert keys[0][0] == keys[1][0] and keys[0][1] != keys[1][1]
        assert keys[0][0] != keys[2][0] and keys[0][1] == keys[2][1]
        assert keys[0] == keys[3]
        # band index is part of the key: band 0 of one row never
        # collides with band 1 of another even for equal components
        flat = [k for row in keys for k in row]
        assert keys[0][0] != keys[0][1]
        assert len(flat) == 8

    def test_simhash(self, spark):
        pairs = {(r["doc_id1"], r["doc_id2"]): r["hamming"]
                 for r in simhash_pairs(_docs(spark), max_hamming=6).collect()}
        assert pairs[(0, 1)] == 0
        assert (0, 4) not in pairs

    def test_simhash_keeps_string_ids(self, spark):
        """String doc_ids get the same signatures as long ones, and the
        simhash near-dup closure keeps them."""
        from entity_resolution_pipeline_spark.operators.dedup import (
            near_dup_clusters,
            simhash_signatures,
        )

        docs = _docs(spark)
        sdocs = _string_ids(docs)
        want = {f"d{r['doc_id']}": r["simhash"] for r in simhash_signatures(docs).collect()}
        got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(sdocs).collect()}
        assert got == want
        keep = {r["doc_id"]: r["keep_id"] for r in near_dup_clusters(
            sdocs, method="simhash", max_hamming=6
        ).collect()}
        assert keep["d0"] == keep["d1"] == keep["d2"] == "d0"
        assert keep["d4"] == "d4"

    def test_embedding_cosine(self, spark):
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0]),
                (1, [0.99, 0.1, 0.0]),
                (2, [0.0, 1.0, 0.0]),
                (3, [0.0, 0.0, 0.0]),  # zero norm -> excluded
            ],
            "vec_id long, embedding array<float>",
        )
        pairs = {(r["doc_id1"], r["doc_id2"]): r["cosine"]
                 for r in embedding_cosine_pairs(emb, threshold=0.9).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
        assert (0, 2) not in pairs
        assert all(3 not in p for p in pairs)


    def test_near_dup_clusters_transitive_closure(self, spark):
        """Near-dup similarity is not transitive: A~B and B~C can hold while
        A!~C. The cluster operator must still merge all three (connected
        components), label with the min doc_id, and keep singletons."""
        from entity_resolution_pipeline_spark.operators.dedup import near_dup_clusters

        a = "alpha beta gamma delta epsilon zeta"
        b = "alpha beta gamma delta epsilon eta"      # ~A (5/7)
        c = "alpha beta gamma delta theta eta"        # ~B (5/7), vs A only 4/8
        rows = [(10, a), (11, b), (12, c), (20, "totally different words here")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in near_dup_clusters(
            df, method="ngram", threshold=0.7, max_anchor_df=10
        ).collect()}
        assert out[10]["keep_id"] == out[11]["keep_id"] == out[12]["keep_id"] == 10
        assert out[10]["cluster_size"] == 3
        assert out[20]["keep_id"] == 20 and out[20]["cluster_size"] == 1


class TestNoPersistLeaks:
    def test_dedup_operators_leave_no_cached_rdds(self, spark):
        """Round-1 leaked sigs/simhash persists; the md5-JVM rewrites must
        leave the session's persisted-RDD registry untouched."""
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        docs = _docs(spark)
        exact_dedup(docs).collect()
        ngram_jaccard_pairs(docs, threshold=0.5).collect()
        minhash_lsh_pairs(docs, threshold=0.6).collect()
        simhash_pairs(docs, max_hamming=6).collect()
        after = set(jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == set()


class TestANN:
    def _emb(self, spark, n=80, d=8):
        rng = np.random.RandomState(7)
        rows = [(i, rng.randn(d).astype(float).tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_exact(self, spark):
        emb = self._emb(spark)
        out = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
        rows = out.collect()
        assert len(rows) == 15
        # verify against numpy
        pdf = emb.toPandas().sort_values("vec_id")
        V = np.array(pdf["embedding"].tolist())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = Vn @ Vn.T
        for q in range(3):
            s = sims[q].copy()
            s[q] = -np.inf
            expect = set(np.argsort(-s)[:5])
            got = {r["neighbor_id"] for r in rows if r["query_id"] == q}
            assert got == expect

    def test_ivf_recall(self, spark):
        emb = self._emb(spark, n=120)
        q = emb.where(F.col("vec_id") < 5)
        exact = brute_force_topk(emb, q, k=5)
        approx = ivf_topk(emb, q, k=5, n_cells=8, nprobe=4)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.6  # nprobe=4 of 8 cells

    def test_strategies_value_identical(self, spark):
        """The size-adaptive 'jvm' and 'arrow' physical strategies must
        return identical (query, neighbor, rank) sets and matching cosines
        — the sf0.01 oracle exercises the jvm branch (tiny corpus), this
        pins the arrow branch against it so the scale path stays
        correctness-gated."""
        emb = self._emb(spark, n=150, d=16)
        q = emb.where(F.col("vec_id") < 4)
        for op, kw in ((brute_force_topk, {}),
                       (ivf_topk, {"n_cells": 8, "nprobe": 3})):
            out = {}
            for strat in ("jvm", "arrow"):
                rows = op(emb, q, k=5, strategy=strat, **kw).collect()
                out[strat] = {
                    (r["query_id"], r["neighbor_id"], r["rank"]):
                        round(r["cosine"], 9)
                    for r in rows
                }
            assert out["jvm"].keys() == out["arrow"].keys()
            for key, cj in out["jvm"].items():
                assert abs(cj - out["arrow"][key]) < 1e-9, (op.__name__, key)


class TestTextStats:
    def test_token_counts_bpeish_keeps_string_ids(self, spark):
        docs = _docs(spark)
        want = {f"d{r['doc_id']}": r["n_tokens_bpe"] for r in token_counts_bpeish(docs).collect()}
        got = token_counts_bpeish(_string_ids(docs))
        assert got.schema["doc_id"].dataType.simpleString() == "string"
        assert {r["doc_id"]: r["n_tokens_bpe"] for r in got.collect()} == want

    def test_token_counts_vs_python(self, spark):
        docs = _docs(spark)
        out = {r["doc_id"]: r["n_tokens_ws"] for r in token_counts(docs).collect()}
        for r in docs.collect():
            expected = len(r["text"].split()) if r["text"].strip() else 0
            assert out[r["doc_id"]] == expected

    def test_quality_matches_kernel(self, spark):
        docs = _docs(spark)
        out = {r["doc_id"]: r for r in quality(docs).collect()}
        for r in docs.collect():
            q = quality_scores(r["text"])
            got = out[r["doc_id"]]
            assert got["n_tokens"] == q["n_tokens"]
            assert got["punct_ratio"] == pytest.approx(q["punct_ratio"])
            assert got["stopword_ratio"] == pytest.approx(q["stopword_ratio"])
            assert got["mean_word_len"] == pytest.approx(q["mean_word_len"])

    def test_language_id_matches_kernel(self, spark):
        rows = [
            (0, "the cat sat on the mat and it was very happy there"),
            (1, "le chat est dans la maison avec une petite souris"),
            (2, "zzz qqq"),
            (3, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
        for i, t in rows:
            assert out[i] == detect_language(t), (i, t)

    LANG_FIXTURES = {
        "da": "det er en god dag og vi skal til byen for at købe brød og mælk",
        "de": "der schnelle braune fuchs springt über den faulen hund und die kinder lachen",
        "en": "the quick brown fox jumps over the lazy dog and the children are laughing",
        "es": "el perro corre en el parque y la niña come una manzana con su madre",
        "fi": "tämä on hyvä päivä ja me menemme kaupunkiin ostamaan leipää ja maitoa",
        "fr": "le chien court dans le parc et la fille mange une pomme avec sa mère",
        "id": "anjing itu berlari di taman dan anak itu makan apel dengan ibunya yang baik",
        "it": "il cane corre nel parco e la bambina mangia una mela con la sua madre che sorride",
        "nl": "de hond rent in het park en het meisje eet een appel met haar moeder vandaag",
        "pl": "pies biegnie w parku a dziewczynka je jabłko ze swoją matką która się uśmiecha",
        "pt": "o cão corre no parque e a menina come uma maçã com a sua mãe que está feliz",
        "sv": "hunden springer i parken och flickan äter ett äpple med sin mamma som är glad",
        "tr": "köpek parkta koşuyor ve kız annesiyle birlikte bir elma yiyor bugün hava güzel",
    }

    def test_language_id_v2_accuracy_per_language(self, spark):
        """One in-language fixture sentence per supported language must be
        classified correctly by the trigram operator; junk/empty -> und."""
        from entity_resolution_pipeline_spark.operators.textstats import language_id_v2

        langs = sorted(self.LANG_FIXTURES)
        rows = [(i, self.LANG_FIXTURES[lang]) for i, lang in enumerate(langs)]
        rows += [(100, ""), (101, "zzz qqq"), (102, "9082 3412 777")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["lang_pred"] for r in language_id_v2(docs).collect()}
        for i, lang in enumerate(langs):
            assert out[i] == lang, (lang, out[i])
        assert out[100] == out[101] == out[102] == "und"

    def test_language_id_v2_matches_python_twin(self, spark):
        """JVM operator == detect_language_trigram row for row (incl. the
        tie-break and the min-hits floor)."""
        from entity_resolution_pipeline_spark.functions.text import (
            detect_language_trigram,
        )
        from entity_resolution_pipeline_spark.operators.textstats import language_id_v2

        rows = [(i, t) for i, t in enumerate(self.LANG_FIXTURES.values())]
        rows += [
            (50, ""),
            (51, "a"),
            (52, "the de het und  och   ja"),  # cross-language soup
            (53, "Der  HUND    und die Katze"),  # case + ws normalization
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["lang_pred"] for r in language_id_v2(docs).collect()}
        for i, t in rows:
            assert out[i] == detect_language_trigram(t), (i, t)

    def test_fingerprints_match_kernel(self, spark):
        """JVM winnowing fingerprints == Python md5-60bit reference."""
        import hashlib
        import re

        def ref(text, k=8, w=8):
            nt = re.sub(r"\s+", " ", text).strip()
            if not nt:
                return None, 0
            grams = [nt] if len(nt) <= k else [nt[i:i + k] for i in range(len(nt) - k + 1)]
            hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
            wm = [min(hs)] if len(hs) <= w else [min(hs[j:j + w]) for j in range(len(hs) - w + 1)]
            return min(hs), len(set(wm))

        docs = _docs(spark)
        out = {r["doc_id"]: (r["fingerprint"], r["n_winnowed"])
               for r in fingerprints(docs).collect()}
        for r in docs.collect():
            assert out[r["doc_id"]] == ref(r["text"]), r["text"][:40]

    def test_simhash_matches_kernel(self, spark):
        """JVM 60-bit SimHash == Python md5 majority-vote reference."""
        import hashlib
        import re

        from entity_resolution_pipeline_spark.operators.dedup import simhash_signatures

        def ref(text):
            nt = re.sub(r"\s+", " ", text).strip().lower()
            toks = nt.split(" ") if nt else []
            if not toks:
                return 0
            hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
            out = 0
            for i in range(60):
                if 2 * sum((h >> i) & 1 for h in hs) > len(hs):
                    out |= 1 << i
            return out

        docs = _docs(spark)
        got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        for r in docs.collect():
            assert got[r["doc_id"]] == ref(r["text"]), r["text"][:40]

    def test_minhash_sig_matches_kernel(self, spark):
        """JVM md5-MinHash signature == Python reference (num_perm=8, k=5)."""
        import hashlib
        import re

        from entity_resolution_pipeline_spark.operators.dedup import (
            _MERSENNE31,
            minhash_perm_coeffs,
            minhash_signatures,
        )

        A, B = minhash_perm_coeffs(8)

        def ref(text, num_perm=8, k=5):
            nt = re.sub(r"\s+", " ", text).strip().lower()[:2048]
            if not nt:
                return None
            sh = {nt} if len(nt) <= k else {nt[i:i + k] for i in range(len(nt) - k + 1)}
            hs = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in sh]
            return [
                min((A[j] * h + B[j]) % _MERSENNE31 for h in hs)
                for j in range(num_perm)
            ]

        docs = _docs(spark)
        got = {r["doc_id"]: r["sig"]
               for r in minhash_signatures(docs, num_perm=8).collect()}
        for r in docs.collect():
            expect = ref(r["text"])
            if expect is None:
                assert r["doc_id"] not in got  # empty docs dropped
            else:
                assert got[r["doc_id"]] == expect, r["text"][:40]
        # an int doc_id keeps its type, and the signatures do not change
        int_ids = minhash_signatures(
            docs.withColumn("doc_id", F.col("doc_id").cast("int")), num_perm=8
        )
        assert int_ids.schema["doc_id"].dataType.simpleString() == "int"
        assert {r["doc_id"]: r["sig"] for r in int_ids.collect()} == got

    def test_ngram_rarest_token_no_megablock(self, spark):
        """Docs sharing a leading stopword must NOT form one O(B^2) block:
        blocking is on the rarest token, so unrelated docs never pair."""
        rows = [(i, f"the unique{i} text body number{i}") for i in range(60)]
        rows += [(100, "the shared rare anchortoken alpha beta"),
                 (101, "the shared rare anchortoken alpha beta")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r["doc_id1"], r["doc_id2"])
                 for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        assert pairs == {(100, 101)}


class TestEmbeddingLSH:
    def test_planted_near_dups_recovered(self, spark):
        """Hyperplane-LSH finds planted high-cosine pairs without a cross
        join; verification keeps precision exact (cosine >= threshold)."""
        from entity_resolution_pipeline_spark.operators.dedup import (
            embedding_lsh_pairs,
        )

        rng = np.random.RandomState(3)
        rows = []
        for i in range(30):
            base = rng.randn(16)
            noisy = base + 0.02 * rng.randn(16)
            rows.append((2 * i, base.tolist()))
            rows.append((2 * i + 1, noisy.tolist()))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {(r["doc_id1"], r["doc_id2"]): r["cosine"]
               for r in embedding_lsh_pairs(emb, threshold=0.9).collect()}
        planted = {(2 * i, 2 * i + 1) for i in range(30)}
        recall = len(planted & set(got)) / len(planted)
        assert recall >= 0.8, recall
        assert all(c >= 0.9 for c in got.values())

    def test_gram_kernels_partitioning_invariant(self, spark):
        """The GRAM kernels' docstrings claim partitioning invariance
        (fixed chunk shapes -> identical BLAS shapes -> identical floats):
        the same corpus under repartition(1/4/32) must yield BIT-identical
        (doc_id1, doc_id2, cosine) sets for the blocked path
        (embedding_cosine_pairs with block_col -> _block_gram_pairs) and
        for embedding_lsh_pairs. Mirrors test_cc_partitioning_invariance."""
        from entity_resolution_pipeline_spark.operators.dedup import (
            embedding_cosine_pairs,
            embedding_lsh_pairs,
        )

        rng = np.random.RandomState(5)
        rows = []
        for i in range(90):
            base = rng.randn(12)
            rows.append((i, (i % 4), (base / np.linalg.norm(base)).tolist()))
        emb = spark.createDataFrame(
            rows, "vec_id long, blk int, embedding array<double>"
        )

        def blocked_set(df):
            return {
                (r["doc_id1"], r["doc_id2"], r["cosine"])
                for r in embedding_cosine_pairs(
                    df, threshold=0.2, block_col="blk"
                ).collect()
            }

        def lsh_set(df):
            return {
                (r["doc_id1"], r["doc_id2"], r["cosine"])
                for r in embedding_lsh_pairs(
                    df, threshold=0.2, n_planes=8, bands=2, seed=7
                ).collect()
            }

        ref_blocked = blocked_set(emb.repartition(1))
        ref_lsh = lsh_set(emb.repartition(1))
        assert len(ref_blocked) > 0 and len(ref_lsh) > 0
        for n in (4, 32):
            assert blocked_set(emb.repartition(n)) == ref_blocked, n
            assert lsh_set(emb.repartition(n)) == ref_lsh, n


class TestIVFKMeans:
    def test_refined_centroids_recall(self, spark):
        """Lloyd-refined centroids must not degrade recall vs hash-sampled
        seeds on a clustered corpus (and typically improve it)."""
        from entity_resolution_pipeline_spark.operators.ann import (
            brute_force_topk,
            ivf_topk,
        )

        rng = np.random.RandomState(11)
        centers = rng.randn(6, 8) * 4
        rows = [(i, (centers[i % 6] + rng.randn(8)).tolist()) for i in range(120)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.where(F.col("vec_id") < 5)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(emb, q, k=5).collect()}

        def recall(iters):
            a = {(r["query_id"], r["neighbor_id"])
                 for r in ivf_topk(emb, q, k=5, n_cells=6, nprobe=2,
                                   kmeans_iters=iters).collect()}
            return len(exact & a) / len(exact)

        r0, r2 = recall(0), recall(2)
        assert r2 >= 0.6
        assert r2 >= r0 - 0.1, (r0, r2)


class TestImpute:
    def test_modal_donor(self, spark):
        records = spark.createDataFrame(
            [
                ("u1", "Smith, John", "Smith a b", None),
                ("u2", "Smith, Jane", "Smith a b", "London"),
                ("u3", "Smith, Jack", "Smith a b c", "London"),
                ("u4", "Smith, Jill", "Smith a x", "Paris"),
                ("u5", "Jones, Amy", "Jones q r", "Venice"),  # other block
            ],
            "url string, person string, composite string, provision string",
        ).withColumn("composite_h", F.sha1("composite"))
        us = records.select(F.col("composite_h").alias("hash"), F.col("composite").alias("value")).distinct()
        emb = embed_unique_strings(us)
        out = impute_field(records, emb, "provision", sim_threshold=0.1).collect()
        assert len(out) == 1
        assert out[0]["url"] == "u1"
        assert out[0]["imputed_value"] == "London"
        assert out[0]["donor_count"] >= 2


class TestImputeVectors:
    def _fixture(self, spark):
        records = spark.createDataFrame(
            [
                ("u1", "Smith, A", "h1", None),
                ("u2", "Smith, B", "h2", "London"),
                ("u3", "Smith, C", "h3", "Paris"),
            ],
            "url string, person string, composite_h string, provision string",
        )
        emb = spark.createDataFrame(
            [
                ("h1", [1.0, 0.0]),
                ("h2", [0.8, 0.6]),
                ("h3", [0.6, 0.8]),
            ],
            "hash string, embedding array<double>",
        )
        return records, emb

    def test_weighted_average(self, spark):
        """Hand-computed: sims (0.8, 0.6); weighted mean vector
        = (0.8*[.8,.6] + 0.6*[.6,.8]) / 1.4; value = best donor's."""
        from entity_resolution_pipeline_spark.operators.impute import impute_field

        records, emb = self._fixture(spark)
        out = impute_field(
            records, emb, "provision", sim_threshold=0.1, method="weighted_average"
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["url"] == "u1" and r["imputed_value"] == "London"
        expect = [(0.8 * 0.8 + 0.6 * 0.6) / 1.4, (0.8 * 0.6 + 0.6 * 0.8) / 1.4]
        np.testing.assert_allclose(r["imputed_vector"], expect, atol=1e-12)
        assert r["donor_count"] == 2

    def test_average(self, spark):
        """'average': plain vector mean + modal value (tie -> lexical min)."""
        from entity_resolution_pipeline_spark.operators.impute import impute_field

        records, emb = self._fixture(spark)
        out = impute_field(
            records, emb, "provision", sim_threshold=0.1, method="average"
        ).collect()
        r = out[0]
        assert r["imputed_value"] == "London"  # 1-1 vote tie -> lexical min
        np.testing.assert_allclose(r["imputed_vector"], [0.7, 0.7], atol=1e-12)

    def test_methods_not_aliases(self, spark):
        from entity_resolution_pipeline_spark.operators.impute import impute_field

        records, emb = self._fixture(spark)
        va = impute_field(records, emb, "provision", sim_threshold=0.1,
                          method="average").collect()[0]["imputed_vector"]
        vw = impute_field(records, emb, "provision", sim_threshold=0.1,
                          method="weighted_average").collect()[0]["imputed_vector"]
        assert va != vw


class TestMultimodal:
    def test_metadata_and_fake_decode(self, spark):
        rows = [
            (0, bytearray(b"\x89PNG\r\n" + bytes(range(250)))),
            (1, bytearray(b"\xff\xd8\xff\xe0payload")),
            (2, bytearray(b"plain bytes")),
            (3, None),
        ]
        df = spark.createDataFrame(rows, "id long, payload binary")
        meta = {r["id"]: r for r in media_metadata(df).collect()}
        assert meta[0]["mime"] == "image/png"
        assert meta[1]["mime"] == "image/jpeg"
        assert meta[2]["mime"] == "application/octet-stream"
        assert meta[3]["n_bytes"] == 0
        feats = {r["id"]: r for r in decode_image_features(df).collect()}
        assert len(feats[0]["features"]) == 16
        assert abs(sum(feats[0]["features"]) - 1.0) < 1e-5
        assert feats[3]["features"] == [0.0] * 16
        # determinism
        feats2 = {r["id"]: r for r in decode_image_features(df).collect()}
        assert feats2[0]["features"] == feats[0]["features"]

    def test_decoder_resolution_and_kernel_tag(self, spark):
        """Without PIL the backend ladder lands on the vendored purepng
        codec; a PNG-header-only garbage row still falls back to the fake
        kernel PER ROW; decoder='real' resolves to purepng for images (a
        real codec) but still raises for video, where no codec exists."""
        import pytest as _pytest

        from entity_resolution_pipeline_spark.operators.multimodal import (
            _image_backend,
            _video_backend,
            decode_image_features,
            sample_video_frames,
        )

        assert _image_backend() == "purepng"  # no PIL — vendored codec wins
        df = spark.createDataFrame(
            [(0, bytearray(b"\x89PNG\r\n" + bytes(range(64))))],
            "id long, payload binary",
        )
        rows = decode_image_features(df, decoder="auto").collect()
        assert rows[0]["kernel"] == "fake"  # invalid PNG body: row fallback
        # 'real' = decode for real or FAIL: the garbage row must error the
        # job loudly, never silently degrade to the fake kernel
        with _pytest.raises(Exception, match="decoder='real'"):
            decode_image_features(df, decoder="real").collect()
        assert _video_backend() is None
        with _pytest.raises(NotImplementedError):
            sample_video_frames(df, decoder="real").collect()

    def test_purepng_codec_roundtrip_and_filters(self):
        """Vendored PNG codec: encode->decode roundtrip is bit-exact for
        gray/RGB/RGBA, and hand-filtered streams (all five spec filters)
        reconstruct the same pixels."""
        import struct
        import zlib

        import numpy as np

        from entity_resolution_pipeline_spark.functions.purepng import (
            _SIG,
            decode_png,
            encode_png,
            resize_nearest,
            to_grayscale,
        )

        rng = np.random.RandomState(42)
        for ch in (1, 3, 4):
            img = rng.randint(0, 256, size=(13, 7, ch), dtype=np.uint8)
            assert np.array_equal(decode_png(encode_png(img)), img)

        img = rng.randint(0, 256, size=(9, 5, 3), dtype=np.uint8)

        def encode_with_filter(img, ftype):
            h, w, ch = img.shape
            a = img.astype(np.int32)
            raw = bytearray()
            prev = np.zeros((w, ch), dtype=np.int32)
            for y in range(h):
                cur = a[y]
                flat_c = cur.reshape(-1)
                flat_p = prev.reshape(-1)
                out = np.zeros_like(flat_c)
                for i in range(len(flat_c)):
                    left = flat_c[i - ch] if i >= ch else 0
                    up = flat_p[i]
                    ul = flat_p[i - ch] if i >= ch else 0
                    if ftype == 0:
                        pred = 0
                    elif ftype == 1:
                        pred = left
                    elif ftype == 2:
                        pred = up
                    elif ftype == 3:
                        pred = (left + up) // 2
                    else:
                        p = left + up - ul
                        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                        pred = left if (pa <= pb and pa <= pc) else (
                            up if pb <= pc else ul)
                    out[i] = (flat_c[i] - pred) % 256
                raw.append(ftype)
                raw.extend(out.astype(np.uint8).tobytes())
                prev = cur
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

            def chunk(t, p):
                return (struct.pack(">I", len(p)) + t + p
                        + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))

            return (_SIG + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b""))

        for ftype in range(5):
            assert np.array_equal(decode_png(encode_with_filter(img, ftype)), img), ftype

        # grayscale = ITU-R 601-2 integer luma; nearest resize picks centers
        g = to_grayscale(img)
        r, gg, b = (img[:, :, i].astype(np.uint32) for i in range(3))
        assert np.array_equal(g, ((r * 299 + gg * 587 + b * 114) // 1000).astype(np.uint8))
        rs = resize_nearest(g, 3, 3)
        assert rs.shape == (3, 3)

    def test_decode_and_resize_use_real_purepng_kernel(self, spark):
        """End-to-end through the Spark operators: a valid PNG row decodes
        on the REAL purepng branch (kernel tag, true dimensions, histogram
        of decoded luma — not of the compressed bytes); garbage rows in the
        same batch still take the fake path."""
        import numpy as np

        from entity_resolution_pipeline_spark.functions.purepng import (
            encode_png,
            resize_nearest,
            to_grayscale,
        )
        from entity_resolution_pipeline_spark.operators.multimodal import (
            decode_image_features,
            resize_images,
        )

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
        png = encode_png(img)
        df = spark.createDataFrame(
            [(0, bytearray(png)), (1, bytearray(b"not an image"))],
            "id long, payload binary",
        )
        rows = {r["id"]: r for r in decode_image_features(df).collect()}
        assert rows[0]["kernel"] == "purepng"
        assert rows[0]["width"] == 17 and rows[0]["height"] == 24
        px = to_grayscale(img).ravel()
        hist, _ = np.histogram(px, bins=16, range=(0, 256))
        expect = (hist / px.size).astype(np.float32).tolist()
        assert rows[0]["features"] == expect
        assert rows[1]["kernel"] == "fake"

        out = {r["id"]: r for r in
               resize_images(df, target_w=8, target_h=8).collect()}
        assert out[0]["kernel"] == "purepng"
        assert bytes(out[0]["payload_resized"]) == resize_nearest(
            to_grayscale(img), 8, 8).tobytes()
        assert out[1]["kernel"] == "fake"
        assert len(out[1]["payload_resized"]) == 64

    def test_resize_plumbing(self, spark):
        """Resize stub: size-exact output, deterministic, NULL-safe."""
        from entity_resolution_pipeline_spark.operators.multimodal import resize_images

        rows = [(0, bytearray(bytes(range(256)) * 40)), (1, bytearray(b"xy")), (2, None)]
        df = spark.createDataFrame(rows, "id long, payload binary")
        out = {r["id"]: r for r in resize_images(df, target_w=8, target_h=8).collect()}
        assert all(len(out[i]["payload_resized"]) == 64 for i in range(3))
        assert out[0]["width"] == out[0]["height"] == 8
        out2 = {r["id"]: r for r in resize_images(df, target_w=8, target_h=8).collect()}
        assert bytes(out2[0]["payload_resized"]) == bytes(out[0]["payload_resized"])

    def test_frame_sampling_shape(self, spark):
        """Frame sampler: 1 -> N rows per video, ordered strides, empty/NULL
        payloads yield zero rows, frames reassemble to the payload."""
        from entity_resolution_pipeline_spark.operators.multimodal import (
            sample_video_frames,
        )

        payload = bytes(range(100))
        rows = [(0, bytearray(payload)), (1, bytearray(b"")), (2, None)]
        df = spark.createDataFrame(rows, "id long, payload binary")
        out = sample_video_frames(df, n_frames=4).collect()
        got = sorted((r["id"], r["frame_idx"], bytes(r["frame"])) for r in out)
        assert [g[:2] for g in got] == [(0, 0), (0, 1), (0, 2), (0, 3)]
        assert b"".join(g[2] for g in got) == payload


class TestEmbeddingDiagnostics:
    def test_matches_numpy(self, spark):
        """Distributed per-dim/norm stats == numpy's on the same matrix
        (the reference's analyze_vectors semantics, minus the driver-side
        np.load)."""
        import numpy as np

        from entity_resolution_pipeline_spark.operators.ann import (
            embedding_diagnostics,
        )

        rng = np.random.RandomState(3)
        mat = rng.randn(40, 6).astype(np.float64)
        rows = [(i, mat[i].tolist()) for i in range(40)]
        rows.append((40, None))      # NULL vector: excluded
        rows.append((41, []))        # empty vector: excluded
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["dim"]: r for r in embedding_diagnostics(emb).collect()}
        assert set(out) == {-1, 0, 1, 2, 3, 4, 5}
        for dim in range(6):
            col = mat[:, dim]
            r = out[dim]
            assert r["n"] == 40
            assert abs(r["mean"] - col.mean()) < 1e-9
            assert abs(r["std"] - col.std()) < 1e-9
            assert r["min"] == col.min() and r["max"] == col.max()
        nrm = np.linalg.norm(mat, axis=1)
        rn = out[-1]
        assert rn["n"] == 40
        assert abs(rn["mean"] - nrm.mean()) < 1e-9
        assert abs(rn["std"] - nrm.std()) < 1e-9


class TestDegenerateVectors:
    """Self-review r5: NULL / empty / wrong-length embedding rows must
    DROP from every vectorized kernel — the old interpreted JVM
    expressions nulled them out silently; numpy's ragged-array TypeError
    crashing the whole task is a regression. Each operator must return
    exactly its clean-input results with degenerate rows mixed in."""

    def _emb(self, spark, n=60, d=8):
        rng = np.random.RandomState(11)
        rows = [(i, rng.randn(d).astype(float).tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _degenerate(self, spark, start):
        rows = [
            (start, None),               # NULL vector
            (start + 1, []),             # empty vector
            (start + 2, [1.0, 2.0]),     # wrong length (vs d=8)
            (start + 3, [0.0] * 8),      # zero norm
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_embedding_pair_ops_drop_degenerates(self, spark):
        from entity_resolution_pipeline_spark.operators.dedup import (
            embedding_cosine_pairs,
            embedding_lsh_pairs,
        )

        clean = self._emb(spark)
        mixed = clean.unionByName(self._degenerate(spark, 1000))
        blk = (F.col("vec_id") % 5).cast("string")
        for fn in (
            lambda e: embedding_cosine_pairs(e.withColumn("blk", blk),
                                             threshold=0.2, block_col="blk"),
            lambda e: embedding_cosine_pairs(e, threshold=0.2),
            lambda e: embedding_lsh_pairs(e, threshold=0.2, n_planes=8, bands=2),
        ):
            want = {(r["doc_id1"], r["doc_id2"]) for r in fn(clean).collect()}
            got = {(r["doc_id1"], r["doc_id2"]) for r in fn(mixed).collect()}
            assert got == want
            assert all(i < 1000 for pair in got for i in pair)

    def test_ann_ops_drop_degenerates(self, spark):
        clean = self._emb(spark, n=80)
        mixed = clean.unionByName(self._degenerate(spark, 1000))
        q_clean = clean.where(F.col("vec_id") < 3)
        q_mixed = mixed.where(
            (F.col("vec_id") < 3) | (F.col("vec_id") >= 1000)
        )
        for strat in ("jvm", "arrow"):
            for op, kw in ((brute_force_topk, {}),
                           (ivf_topk, {"n_cells": 6, "nprobe": 3})):
                want = {(r["query_id"], r["neighbor_id"], r["rank"])
                        for r in op(clean, q_clean, k=5, strategy=strat,
                                    **kw).collect()}
                got = {(r["query_id"], r["neighbor_id"], r["rank"])
                       for r in op(mixed, q_mixed, k=5, strategy=strat,
                                   **kw).collect()}
                assert got == want, (op.__name__, strat)


def test_decontaminate_counts_distinct_shared_fps(spark):
    """n_shared_fps counts a train doc's DISTINCT shared fingerprints once
    even when MANY eval docs contain the same passage (the semi-join must
    not multiply rows the way a plain inner join would)."""
    from entity_resolution_pipeline_spark.operators.textstats import decontaminate

    leak = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [(0, leak), (1, "completely unrelated text body with no overlap here")],
        "doc_id long, text string",
    )
    # the same leaked passage appears in THREE eval docs
    ev = spark.createDataFrame(
        [(100, leak), (101, leak), (102, leak)], "doc_id long, text string"
    )
    one = {r["doc_id"]: (r["n_shared_fps"], r["contaminated"])
           for r in decontaminate(train, ev.where("doc_id = 100")).collect()}
    three = {r["doc_id"]: (r["n_shared_fps"], r["contaminated"])
             for r in decontaminate(train, ev).collect()}
    assert one == three  # duplicate eval docs change nothing
    assert three[0][1] is True and three[0][0] > 0
    assert three[1] == (0, False)


@pytest.mark.parametrize("cap, n_pairs", [(2, 0), (3, 3)])
def test_hot_bucket_cap(cap, n_pairs, spark, monkeypatch):
    """A bucket of more than ``MAX_BUCKET_ROWS`` members is excluded from
    verification: three identical documents (one 3-member bucket per band)
    and three equal vectors in one block give no pairs at a cap of 2 and
    all three pairs at 3."""
    from entity_resolution_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_BUCKET_ROWS", cap)
    text = "the same hot bucket text repeated for every document in it"
    docs = spark.createDataFrame([(i, text) for i in range(3)], "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(docs, threshold=0.5).count() == n_pairs
    emb = spark.createDataFrame([(i, 0, [1.0, 0.0]) for i in range(3)],
                                "vec_id long, blk int, embedding array<double>")
    got = dedup.embedding_cosine_pairs(emb, threshold=0.9, block_col="blk")
    assert got.count() == n_pairs
