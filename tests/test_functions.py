"""Unit tests for the pure-Python kernel layer (no Spark needed)."""

import numpy as np
import pytest

from entity_resolution_pipeline_spark.functions.hashing import (
    hash128,
    hash64_pair,
    hash_string,
)
from entity_resolution_pipeline_spark.functions.similarity import (
    harmonic_mean,
    indel_ratio,
    levenshtein_distance,
    levenshtein_sim,
    ratio_capped,
    token_sort_ratio,
)
from entity_resolution_pipeline_spark.functions.text import (
    detect_language,
    fingerprint,
    normalize_col,
    normalize_text,
    quality_scores,
    tokenize_bpeish,
)
from entity_resolution_pipeline_spark.functions.years import (
    extract_birth_death_years,
    has_years,
    normalize_name,
)


class TestHashing:
    def test_mmh3_published_vectors(self):
        # Published mmh3 vectors (mmh3 README): layout low64=h1, high64=h2.
        assert hash128("foo") == 168394135621993849475852668931176482145
        assert hash64_pair("foo") == (-2129773440516405919, 9128664383759220103)

    def test_empty(self):
        assert hash128(b"", seed=0) == 0

    def test_seed_changes_value(self):
        assert hash128("foo", seed=42) != hash128("foo", seed=0)

    def test_hash_string_normalization(self):
        # strip + lower + collapse-ws before hashing
        assert hash_string("  Hello \t\n World ") == hash_string("hello world")
        assert hash_string(None) == "NULL"
        assert hash_string(123) == hash_string("123")
        # decimal-string key
        assert hash_string("x").isdigit()

    def test_tail_lengths(self):
        # exercise every tail-switch branch (1..16+ byte inputs)
        seen = set()
        for n in range(0, 40):
            v = hash128(b"a" * n, seed=42)
            assert v not in seen
            seen.add(v)


class TestNormalizeText:
    def test_reference_semantics(self):
        assert normalize_text("  a \t b\n\nc  ") == "a b c"
        assert normalize_text(None) == ""
        assert normalize_text(42) == "42"
        assert normalize_text("") == ""
        # python \s includes unicode whitespace like
        assert normalize_text("a b") == "a b"

    def test_idempotent(self):
        s = normalize_text("  x   y  ")
        assert normalize_text(s) == s


class TestSimilarity:
    def test_levenshtein(self):
        assert levenshtein_distance("kitten", "sitting") == 3
        assert levenshtein_distance("", "abc") == 3
        assert levenshtein_distance("abc", "abc") == 0
        assert levenshtein_sim("", "") == 1.0
        assert levenshtein_sim("abc", "abd") == pytest.approx(1 - 1 / 3)

    def test_indel_ratio(self):
        # rapidfuzz fuzz.ratio("abcd","bcde") = 75.0 (indel dist=2, lensum=8)
        assert indel_ratio("abcd", "bcde") == pytest.approx(0.75)
        assert indel_ratio("", "") == 1.0
        assert indel_ratio("a", "") == 0.0

    def test_token_sort_ratio(self):
        # token order must not matter
        assert token_sort_ratio("john smith", "smith john") == 1.0
        assert token_sort_ratio("a b", "b a") == 1.0
        assert 0 < token_sort_ratio("john smith", "jon smith") < 1.0

    def test_interactions(self):
        assert harmonic_mean(0.5, 0.5) == pytest.approx(0.5)
        assert harmonic_mean(0.0, 0.9) == 0.0
        assert ratio_capped(1.0, 0.05) == 10.0
        assert ratio_capped(0.5, 0.0) == 0.0
        assert ratio_capped(0.4, 0.8) == pytest.approx(0.5)


class TestYears:
    @pytest.mark.parametrize(
        "name,expected",
        [
            ("Smith, John, 1840-1902", (1840, 1902)),                      # p4
            ("565 - approximately 665", (565, 665)),                        # p1
            ("approximately 1565 - approximately 1645", (1565, 1645)),      # p2
            ("circa 1500-1550", (1500, 1550)),                              # p3
            ("Jones, Mary, -1890", (None, 1890)),                           # p6
            ("b. 1900", (1900, None)),                                      # p9
            ("born 1900", (1900, None)),                                    # p9
            ("fl. 1500-1550", (1500, 1550)),                                # p4 fires first
            ("Doe (1900-1980)", (1900, 1980)),                              # p4 fires first
            ("no years here", (None, None)),
            ("", (None, None)),
            (None, (None, None)),
            # reference quirk: "d. 1920" hits pattern 9's second alternative
            # but the code reads groups[0] -> (None, None)
            ("d. 1920", (None, None)),
        ],
    )
    def test_extract(self, name, expected):
        assert extract_birth_death_years(name) == expected

    def test_has_years(self):
        assert has_years("Smith, 1840-1902")
        assert not has_years("Smith, John")

    def test_normalize_name(self):
        assert normalize_name("Smith, John, 1840-1902") == "Smith, John"
        # reference quirk: pattern 4 strips the years before the paren-cleanup
        # regex runs, so empty parens survive (birth_death_regexes.py:213-218)
        assert normalize_name("Doe, Jane (1900-1980)") == "Doe, Jane ()"
        assert normalize_name("") == ""
        assert normalize_name("Plain Name") == "Plain Name"


class TestMinHash:
    """``minhash_matrix``, the one MinHash kernel (blocking, curation and
    the streaming near-dup), over sketch text: normalized, lower-cased."""

    def test_signature_similarity_tracks_jaccard(self):
        from entity_resolution_pipeline_spark.operators.dedup import minhash_matrix

        texts = [
            normalize_text(t).lower()
            for t in ("the quick brown fox jumps over the lazy dog " * 5,
                      "the quick brown fox jumps over the lazy cat " * 5,
                      "completely different content about spark pipelines and parquet")
        ]
        s1, s2, s3 = minhash_matrix(texts, 256, 5, np.int64, {})
        est_close = float(np.mean(s1 == s2))
        est_far = float(np.mean(s1 == s3))

        def shingles(t, k=5):
            return {t[i:i + k] for i in range(len(t) - k + 1)}

        a, b = shingles(texts[0]), shingles(texts[1])
        true_close = len(a & b) / len(a | b)
        assert abs(est_close - true_close) < 0.15
        assert est_far < 0.1 < est_close

    def test_identical_texts_identical_signatures(self):
        from entity_resolution_pipeline_spark.operators.dedup import minhash_matrix

        memo: dict = {}
        first = minhash_matrix(["hello world", "hello world"], 64, 5, np.int64, memo)
        assert np.array_equal(first[0], first[1])
        # a warm shingle memo and another batch give the same signature
        again = minhash_matrix(["other text", "hello world"], 64, 5, np.int64, memo)
        assert np.array_equal(again[1], first[0])


class TestTextStats:
    def test_detect_language(self):
        assert detect_language("the cat sat on the mat and it was happy") == "en"
        assert detect_language("le chat est dans la maison avec une souris") == "fr"
        assert detect_language("zzz qqq xxx") == "und"
        assert detect_language("") == "und"

    def test_quality(self):
        q = quality_scores("Hello, world! This is the test.")
        assert q["n_tokens"] == 6
        assert 0 < q["punct_ratio"] < 0.2
        assert q["stopword_ratio"] > 0

    def test_bpeish_tokens(self):
        assert tokenize_bpeish("don't stop 123!") == ["don", "'", "t", "stop", "123", "!"]

    def test_fingerprint_stability(self):
        assert fingerprint("a b c d e f g h i j") == fingerprint("a  b   c d e f g h i j")
        assert fingerprint("") == 0
        assert fingerprint("xyz") != fingerprint("abc")


def test_normalize_col_matches_normalize_text_every_code_point(spark):
    """The JVM normalizer equals the Python one on every code point, as a
    leading, inner (run of two) and trailing separator, in one Spark job."""
    import pandas as pd
    import pyspark.sql.functions as F

    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    texts = [f"{ch}x{ch}{ch}y{ch}" for ch in map(chr, cps)]
    pdf = pd.DataFrame(
        {"cp": cps, "text": texts, "want": [normalize_text(t) for t in texts]}
    )
    mismatched = spark.createDataFrame(pdf).where(
        normalize_col(F.col("text")) != F.col("want")
    )
    assert mismatched.count() == 0, [hex(r["cp"]) for r in mismatched.limit(20).collect()]


# Code points whose F.lower differs from Python's str.lower, alone or between
# two letters: the capitals Unicode 14 added (Vithkuqi U+10570-U+10595,
# Glagolitic U+2C2F, Latin U+A7C0, U+A7D0, U+A7D6, U+A7D8).
JVM_LOWER_DIFFS = [
    0x2C2F, 0xA7C0, 0xA7D0, 0xA7D6, 0xA7D8,
    0x10570, 0x10571, 0x10572, 0x10573, 0x10574, 0x10575, 0x10576, 0x10577,
    0x10578, 0x10579, 0x1057A, 0x1057C, 0x1057D, 0x1057E, 0x1057F, 0x10580,
    0x10581, 0x10582, 0x10583, 0x10584, 0x10585, 0x10586, 0x10587, 0x10588,
    0x10589, 0x1058A, 0x1058C, 0x1058D, 0x1058E, 0x1058F, 0x10590, 0x10591,
    0x10592, 0x10594, 0x10595,
]


def test_lower_is_the_jvm_case_mapping_every_code_point(spark):
    """``F.lower`` in a ``build_spark`` session equals Python's
    ``str.lower`` on every code point, alone and between two letters, in one
    Spark job, except on ``JVM_LOWER_DIFFS``: Java 17's case mapping knows
    Unicode 13 and Python 3.11's knows Unicode 14, so the JVM leaves the
    capitals Unicode 14 added as they are. ICU4J's ``lower`` (the Spark
    default) knows Unicode 16 and differs on other code points instead. A
    JDK or Python upgrade changes this list."""
    import pandas as pd
    import pyspark.sql.functions as F

    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    alone = [chr(c) for c in cps]
    inner = [f"x{ch}y" for ch in alone]
    pdf = pd.DataFrame({"cp": cps, "alone": alone, "inner": inner,
                        "alone_l": [s.lower() for s in alone],
                        "inner_l": [s.lower() for s in inner]})
    mismatched = spark.createDataFrame(pdf).where(
        (F.lower("alone") != F.col("alone_l")) | (F.lower("inner") != F.col("inner_l"))
    )
    assert sorted(r["cp"] for r in mismatched.select("cp").collect()) == JVM_LOWER_DIFFS


class TestBitParallelKernels:
    """Bit-parallel Myers/Allison-Dix must equal the DP references."""

    def test_property_fuzz(self):
        from hypothesis import given, settings, strategies as st

        from entity_resolution_pipeline_spark.functions.similarity import (
            _lcs_len,
            _lcs_len_dp,
            levenshtein_distance_dp,
        )

        @settings(max_examples=300, deadline=None)
        @given(st.text(alphabet="abcde ,", max_size=40),
               st.text(alphabet="abcde ,", max_size=40))
        def check(s1, s2):
            assert levenshtein_distance(s1, s2) == levenshtein_distance_dp(s1, s2)
            assert _lcs_len(s1, s2) == _lcs_len_dp(s1, s2)

        check()

    def test_unicode(self):
        from entity_resolution_pipeline_spark.functions.similarity import (
            levenshtein_distance_dp,
        )

        assert levenshtein_distance("héllo", "hello") == levenshtein_distance_dp("héllo", "hello")
        assert levenshtein_distance("ß", "ss") == 2


class TestBatchedLCS:
    """The numpy-batched Allison-Dix kernel must equal the scalar kernel
    on every pair, across the 1-limb/2-limb/scalar-fallback boundaries."""

    def test_property_fuzz(self):
        import numpy as np
        from hypothesis import given, settings, strategies as st

        from entity_resolution_pipeline_spark.functions.similarity import (
            _lcs_len,
            lcs_lens_batch,
        )

        @settings(max_examples=120, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.text(alphabet="abcz ,é€", max_size=140),
                    st.text(alphabet="abcz ,é€", max_size=140),
                ),
                max_size=12,
            )
        )
        def check(pairs):
            got = lcs_lens_batch(pairs)
            exp = np.array([_lcs_len(a, b) for a, b in pairs], dtype=np.int64)
            assert (got == exp.reshape(got.shape)).all()

        check()

    def test_limb_boundaries(self):
        import numpy as np

        from entity_resolution_pipeline_spark.functions.similarity import (
            _lcs_len,
            lcs_lens_batch,
        )

        pairs = []
        for m in (1, 63, 64, 65, 127, 128, 129, 200):
            pairs.append(("ab" * m, ("ba" * (m + 3))[:2 * m + 3]))
            pairs.append(("x" * m, "x" * m))
        got = lcs_lens_batch(pairs)
        exp = np.array([_lcs_len(a, b) for a, b in pairs])
        assert (got == exp).all()

    def test_bulk_tsr_matches_get_tsr(self):
        from entity_resolution_pipeline_spark.operators.pairs import _BatchMemo

        strs = ["alpha beta", "beta alpha", "gamma delta x", "", "alpha  beta",
                "composite text here with words", "words here composite text"]
        items = [(a, b) for a in strs for b in strs]
        m1 = _BatchMemo()
        m1.bulk_tsr(items)
        m2 = _BatchMemo()
        for a, b in items:
            k = (a, b) if a <= b else (b, a)
            assert m1.tsr[k] == m2.get_tsr(a, b), (a, b)
