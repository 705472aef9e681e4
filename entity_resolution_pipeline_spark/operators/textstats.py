"""Text-analysis operators over a documents table (doc_id, text, lang, ...).

Training-data-pipeline utilities that run alongside the ER DAG: token
counting, quality scoring, language-ID, TF-IDF/BM25, PII redaction and
document fingerprinting. The per-document kernels (quality, gopher,
language-ID, TF-IDF, BM25, BPE-ish tokens, fingerprint sets) are Arrow
passes; ``token_counts``, ``redact_pii`` and ``fingerprints`` are JVM
column expressions. Text is normalized with the Python ``normalize_text``
inside a kernel or with its column twin ``normalize_col`` on the JVM, so
every operator splits tokens on the same Unicode whitespace.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

from .util import ensure_parallelism
from ..functions.text import (
    LANGID_MAX_CHARS,
    STOPWORDS,
    TRIGRAM_MIN_HITS,
    TRIGRAM_PROFILES,
    normalize_col,
    tokenize_bpeish,
)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token counts — JVM-side split on normalized text."""
    norm = normalize_col(F.col(text_col))
    return docs.select(
        "doc_id",
        F.when(norm == "", 0)
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tokens_ws"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


def quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / english-stopword / word-length signals.

    One Arrow kernel computes the per-doc integers (chars, tokens, ASCII
    [^\\w\\s] punct chars, stopword-token occurrences); the ratios stay
    JVM divisions over them (identical IEEE). Parity notes, all
    oracle-pinned: Java's default \\w/\\s are the ASCII classes, so the
    punct count uses a re.ASCII character class; the former
    boundary-anchored stopword alternation (leading boundary consumed,
    trailing as lookahead) counts exactly the tokens equal to a stopword,
    which is the token-membership sum here; the word-length sum uses the
    single-space identity sum(len(tok)) = n_chars - (n_tokens - 1).
    NULL text propagates NULL n_chars/n_tokens and 0.0 ratios, exactly
    like the old expression chain.
    """
    import re as _re
    from collections.abc import Iterator as _Iterator

    from ..functions.text import normalize_text

    id_t = docs.schema["doc_id"].dataType.simpleString()
    stop_set = frozenset(STOPWORDS["en"])
    punct_re = _re.compile(r"[^\w\s]", _re.ASCII)

    def run(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "n_chars": [], "n_tokens": [],
                   "n_punct": [], "n_stop": []}
            for t in pdf[text_col]:
                if t is None:
                    out["n_chars"].append(None)
                    out["n_tokens"].append(None)
                    out["n_punct"].append(None)
                    out["n_stop"].append(None)
                    continue
                norm = normalize_text(t)
                out["n_chars"].append(len(norm))
                toks = norm.lower().split(" ") if norm else []
                out["n_tokens"].append(len(toks))
                out["n_punct"].append(len(punct_re.findall(norm)))
                out["n_stop"].append(sum(1 for w in toks if w in stop_set))
            yield pd.DataFrame(out)

    d = ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run,
        schema=f"doc_id {id_t}, n_chars long, n_tokens long, n_punct long, n_stop long",
    )
    n_chars = F.col("n_chars")
    n_tokens = F.col("n_tokens")
    sum_word_len = F.when(n_tokens > 0, n_chars - (n_tokens - 1)).otherwise(0)
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.when(n_chars > 0, F.col("n_punct").cast("double") / n_chars).otherwise(0.0).alias("punct_ratio"),
        F.when(n_tokens > 0, F.col("n_stop").cast("double") / n_tokens).otherwise(0.0).alias("stopword_ratio"),
        F.when(n_tokens > 0, sum_word_len.cast("double") / n_tokens).otherwise(0.0).alias("mean_word_len"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic across 4 languages.

    One Arrow pass: tokens of the lowered normalized text (the pinned
    byte-identical ``normalize_text`` twin), distinct-token set
    intersection size per language's stopword set, strictly-greater argmax
    in sorted language order (ties keep the lexicographically smallest
    language), < 2% distinct-stopword coverage -> 'und'. Tokens split on
    the same Unicode whitespace as the JVM ``token_counts``
    (``normalize_col``). Value-identical to the previous JVM
    ``array_distinct`` + ``array_intersect`` +
    ``array_max``-over-(hits, -rank)-structs plan — same distinct-TYPE
    counts, same IEEE hits/n_tokens comparison, same tie-break — but the
    set arithmetic runs at C speed instead of one interpreted
    array_intersect per (row, language): 2.4 s -> ~0.9 s at 50k docs.
    NULL text behaves like empty text -> 'und'. NOTE: counts distinct
    stopword *types*, not occurrences — cheaper at scale and adequate for
    the heuristic (documented divergence from functions/text
    detect_language, which counts occurrences).
    """
    from collections.abc import Iterator as _Iterator

    from ..functions.text import normalize_text

    id_t = docs.schema["doc_id"].dataType.simpleString()
    profiles = [(lang, frozenset(STOPWORDS[lang])) for lang in sorted(STOPWORDS)]
    first_lang = profiles[0][0]

    def run(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = []
            for t in pdf[text_col]:
                nrm = normalize_text(t).lower()
                toks = nrm.split(" ") if nrm else []
                n = len(toks)
                if n == 0:
                    preds.append("und")
                    continue
                dt = set(toks)
                best_lang, best_hits = first_lang, 0
                for lang, sw in profiles:
                    hits = len(dt & sw)
                    if hits > best_hits:
                        best_lang, best_hits = lang, hits
                preds.append(best_lang if best_hits / n >= 0.02 else "und")
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "lang_pred": preds})

    return ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run, schema=f"doc_id {id_t}, lang_pred string"
    )


def gopher_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition/symbol quality signals in the Gopher / C4 style —
    per-document filters a web-scale training pipeline applies before
    anything expensive touches the text:

    - ``n_words``            : whitespace words of the normalized text
    - ``top_word_frac``      : occurrences of the most frequent word / n_words
                               (repetitious boilerplate -> high)
    - ``frac_dup_lines``     : 1 - distinct/total raw '\\n' lines
    - ``frac_ellipsis_lines``: lines ending in '...' or '…'
    - ``symbol_word_ratio``  : '#' / '…' / '...' symbols per word
    - ``frac_alpha_words``   : words containing at least one [a-z]

    ONE Arrow kernel computes every per-doc integer (line splits, distinct
    lines, symbol counts, token Counter) — zero shuffle, zero joins; the
    round-5 plan paid a 4-regex JVM base projection PLUS an
    explode/groupBy/groupBy/join chain that shuffled every token twice.
    The ratios stay JVM expressions over the kernel's integers (identical
    IEEE division), and every integer is value-identical to the old
    expressions: str.split('\\n') == split(raw,'\\n') (trailing empties
    kept on both), str.count('...') == regexp_count('\\.\\.\\.')
    (both count left-to-right non-overlapping), the [a-z]-token count
    matches the lazy boundary-anchored regex (one match per qualifying
    token), and the DuckDB oracle pins all of it.
    """
    import re as _re
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.text import normalize_text

    id_t = docs.schema["doc_id"].dataType.simpleString()
    _az = _re.compile(r"[a-z]")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "n_lines": [], "n_dup_lines": [], "n_ell_lines": [],
                "n_symbols": [], "n_alpha_words": [],
                "top_cnt": [], "n_words": [],
            }
            for raw in pdf[text_col]:
                if not raw:  # None or "" -> empty lines array (JVM parity)
                    lines = []
                else:
                    lines = raw.split("\n")
                out["n_lines"].append(len(lines))
                out["n_dup_lines"].append(len(lines) - len(set(lines)))
                out["n_ell_lines"].append(
                    sum(1 for l in lines if l.endswith("...") or l.endswith("…"))
                )
                if raw is None:
                    out["n_symbols"].append(0)  # coalesce(NULL sum, 0) parity
                    out["n_alpha_words"].append(None)
                    out["top_cnt"].append(None)
                    out["n_words"].append(None)
                    continue
                out["n_symbols"].append(
                    raw.count("#") + raw.count("…") + raw.count("...")
                )
                nt = normalize_text(raw).lower()
                toks = nt.split(" ") if nt else []
                out["n_alpha_words"].append(
                    sum(1 for w in toks if _az.search(w))
                )
                if toks:
                    c = Counter(toks)
                    out["top_cnt"].append(max(c.values()))
                    out["n_words"].append(len(toks))
                else:
                    out["top_cnt"].append(None)
                    out["n_words"].append(None)
            yield pd.DataFrame(out)

    d = ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run,
        schema=(
            f"doc_id {id_t}, n_lines long, n_dup_lines long, n_ell_lines long, "
            "n_symbols long, n_alpha_words long, top_cnt long, n_words long"
        ),
    )
    n_lines = F.col("n_lines")
    n_words = F.coalesce(F.col("n_words"), F.lit(0))
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words > 0, F.col("top_cnt").cast("double") / n_words)
        .otherwise(0.0).alias("top_word_frac"),
        F.when(n_lines > 0, F.col("n_dup_lines").cast("double") / n_lines)
        .otherwise(0.0).alias("frac_dup_lines"),
        F.when(n_lines > 0, F.col("n_ell_lines").cast("double") / n_lines)
        .otherwise(0.0).alias("frac_ellipsis_lines"),
        F.when(n_words > 0, F.col("n_symbols").cast("double") / n_words)
        .otherwise(0.0).alias("symbol_word_ratio"),
        F.when(n_words > 0, F.coalesce(F.col("n_alpha_words"), F.lit(0)).cast("double") / n_words)
        .otherwise(0.0).alias("frac_alpha_words"),
    )


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", k: int = 3,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    tf = term count within the doc; idf = ln((N + 1) / (df + 1)) + 1 (the
    standard smoothed form — never zero, never divides by zero); score =
    tf * idf. Ties break on the lexicographically smaller term, rank by
    row_number so output size is exactly min(k, distinct terms) per doc.

    Shuffle profile at scale: per-doc term counts are computed MAP-SIDE in
    one Arrow kernel (Counter over the byte-identical normalize_text twin —
    the former explode + (doc_id, tok) groupBy shuffled every token
    occurrence); the only wide operations left are the vocabulary-keyed df
    aggregation and the per-doc top-k gather. The DuckDB oracle replays
    scores exactly (same double-precision ln on both engines).

    ``n_docs``: pass the (often already-known) corpus size to keep the
    plan a single job; when None it rides along as a 1-row aggregate
    cross-joined onto the vocabulary table — still one job, no separate
    driver-side count (a second full scan per call at 100 TB).
    """
    from collections import Counter
    from collections.abc import Iterator

    from ..functions.text import normalize_text

    id_t = docs.schema["doc_id"].dataType.simpleString()

    def run_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks_o, tfs = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                if t is None:
                    continue
                nt = normalize_text(t).lower()
                if not nt:
                    continue
                c = Counter(nt.split(" "))
                ids.extend([doc_id] * len(c))
                toks_o.extend(c.keys())
                tfs.extend(c.values())
            yield pd.DataFrame({"doc_id": ids, "tok": toks_o, "tf": tfs})

    from pyspark.sql import Window

    tf = ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run_tf, schema=f"doc_id {id_t}, tok string, tf long"
    )
    # Document frequency as a COUNT WINDOW over tok on the kernel output —
    # not a groupBy + join back. tf holds one row per (doc, tok), so the
    # per-tok row count IS df, and the window computes it in the same
    # exchange the join would have needed for its probe side while the
    # aggregation branch (which re-ran the whole tf kernel: the exchange
    # subtrees differ by a partial agg, so Catalyst could never reuse one
    # for the other) disappears entirely: ONE kernel evaluation, one fewer
    # Exchange, two parquet scans instead of three (plan-verified; warm
    # 1.78 -> ~1.2 s at sf1b). Still NO vocabulary broadcast: on web text
    # the distinct-token table is unbounded (the round-2 driver-OOM trap).
    df_col = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    if n_docs is None:
        nd = docs.agg(F.countDistinct("doc_id").alias("_n_docs"))
        tf = tf.crossJoin(nd)  # 1-row aggregate: broadcast NLJ, bounded
        n_col = F.col("_n_docs").cast("double")
    else:
        n_col = F.lit(float(n_docs))
    idf = F.log((n_col + 1.0) / (df_col + 1.0)) + 1.0
    scored = tf.select(
        "doc_id", "tok", "tf", (F.col("tf") * idf).alias("score")
    )
    # top-k per doc WITHOUT a full window sort: one partial-aggregated
    # collect_list shuffle, then each doc sorts only its own (vocabulary-
    # bounded) term array. struct ordering on (-score, tok) reproduces the
    # window's (score DESC, tok ASC) exactly — scores are strictly
    # positive (tf >= 1, smoothed idf >= 1), so negation is order-exact.
    # The row_number window shuffled AND sorted every (doc_id, tok) row;
    # this shape halved tfidf's wall at sf1.0.
    tops = (
        scored.groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("score")).alias("ns"),
                            F.col("tok"),
                            F.col("tf"),
                        )
                    )
                ),
                1,
                k,
            ).alias("tops")
        )
        .select("doc_id", F.posexplode("tops"))
    )
    return tops.select(
        "doc_id",
        F.col("col.tok").alias("term"),
        F.col("col.tf").alias("tf"),
        # score = -ns: double negation is exact, so shipping ns alone
        # through the gather keeps the collected struct narrow
        (-F.col("col.ns")).alias("score"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k document retrieval for a literal query string.

    Standard BM25: idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1) (never
    negative), per-doc term saturation with k1 and length normalization
    with b against the mean document length. Query terms are tokenized
    with the same normalization as documents; duplicate query terms count
    once. Ties rank by ascending doc_id.

    Plan shape: per-doc (dl, tf per query term) comes from ONE vectorized
    Arrow kernel (the byte-identical normalize_text twin + str.split +
    list.count — C speed, no per-token rows), instead of exploding EVERY
    token of EVERY document into a (doc_id, tok) shuffle that keeps only a
    few query terms. The corpus aggregate (N, avgdl, per-term df) rides
    along as a broadcast 1-row cross join, so no separate .first() job
    re-tokenizes the corpus. Two map-only passes, zero wide shuffles, one
    ordered limit.
    """
    from collections.abc import Iterator

    from pyspark.sql import Window

    from ..functions.text import normalize_text

    q_terms = sorted({t for t in query.lower().split() if t})
    id_t = docs.schema["doc_id"].dataType.simpleString()
    n_terms = len(q_terms)
    tf_names = [f"tf_{i}" for i in range(n_terms)]

    def run_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "dl": [],
                   **{nm: [] for nm in tf_names}}
            for t in pdf[text_col]:
                if t is None:  # size(split(NULL)) parity: NULL dl/tf
                    out["dl"].append(None)
                    for nm in tf_names:
                        out[nm].append(None)
                    continue
                nt = normalize_text(t).lower()
                toks = nt.split(" ") if nt else []
                out["dl"].append(len(toks))
                for nm, term in zip(tf_names, q_terms):
                    out[nm].append(toks.count(term))
            yield pd.DataFrame(out)

    d = ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run_tf,
        schema=f"doc_id {id_t}, dl long, " + ", ".join(f"{nm} long" for nm in tf_names),
    )
    # The corpus aggregate (N, avgdl, per-term df) and the per-doc scoring
    # probe both consume the kernel output; as two plan subtrees the Arrow
    # kernel would re-tokenize the corpus TWICE per action. The per-doc
    # frame is (2 + n_terms) longs per doc — a few MB per million docs —
    # so one eager localCheckpoint (the connected-components pattern)
    # evaluates the kernel once and both consumers read the materialized
    # rows. At 100 TB the checkpoint is bounded by the same narrow schema
    # (and the kernel, not the checkpoint IO, dominates either way).
    d = d.localCheckpoint(eager=True)
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(q_terms))
        ],
    )
    avgdl_c = F.coalesce(
        F.when(F.col("avgdl") != 0.0, F.col("avgdl")), F.lit(1.0)
    )
    term_scores = []
    any_tf = F.lit(0).cast("long")
    for i in range(len(q_terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n").cast("double") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        term_scores.append(
            F.when(
                tf > 0,
                idf
                * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl_c)),
            ).otherwise(F.lit(0.0))
        )
        any_tf = any_tf + tf
    score = term_scores[0]
    for ts in term_scores[1:]:
        score = score + ts
    # any_tf doesn't reference the aggregate row: filter non-matching docs
    # BEFORE the cross join so the broadcast NLJ touches only matches
    scored = (
        d.where(any_tf > 0)
        .crossJoin(F.broadcast(g))
        .select("doc_id", score.alias("score"))
    )
    # TakeOrdered limit first (no global sort shuffle over all matches),
    # then a row_number window over just the k survivors
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", "rank"
    )


PII_PATTERNS = {
    # tag -> pattern, in replacement order: emails first (they contain
    # dotted digit substrings an IP pattern could claim). RE2-safe (no
    # lookaround/backrefs) so Spark's Java regex and the DuckDB oracle's RE2
    # agree match for match
    "<EMAIL>": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "<IP>": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "<ID>": r"\b\d{9,}\b",
}


def redact_text(text: Column) -> Column:
    """``text`` with emails -> <EMAIL>, IPv4 -> <IP>, long digit runs
    (ids/phones/accounts) -> <ID>. Pure JVM regexp_replace, map-only."""
    for tag, pattern in PII_PATTERNS.items():
        text = F.regexp_replace(text, pattern, tag)
    return text


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub for training text: ``clean_text`` is ``redact_text`` of
    the text, plus per-doc match counts. At 100 TB this is a map-only stage
    with zero shuffle. A kind's count is the number of its tags in the
    clean text less those the text already held: no pattern matches ``<``
    or ``>``, so a tag is never rewritten, and each match leaves one tag.
    """
    t = F.col(text_col)
    clean = redact_text(t)
    counts = [
        (F.regexp_count(clean, F.lit(tag)) - F.regexp_count(t, F.lit(tag))).cast("long").alias(name)
        for tag, name in zip(PII_PATTERNS, ("n_emails", "n_ips", "n_longnums"))
    ]
    return docs.select("doc_id", clean.alias("clean_text"), *counts)


def language_id_v2(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-trigram-profile language-ID across 13 languages — pure JVM.

    Distinct trigrams of the space-padded normalized text are intersected
    with each language's literal profile array (functions/text.py
    TRIGRAM_PROFILES); most distinct hits wins, ties break to the
    lexicographically smallest language, fewer than TRIGRAM_MIN_HITS hits
    -> 'und'. Trigram profiles see morphology the v1 stopword heuristic
    can't (affixes, digraphs like 'sch'/'ção'/'się'), so coverage goes
    from 4 languages to 13 while staying whole-stage-codegen and exactly
    DuckDB-replayable (list literals + list_intersect).

    Scale bound: trigram extraction runs over the first LANGID_MAX_CHARS
    (4096) normalized chars only — the `transform` lambda is interpreted
    per element, so the cap turns a per-document O(len) interpreted loop
    into a constant-bounded sample (language-ID needs a sample, not the
    whole page). NULL text behaves exactly like empty text -> 'und'
    (matching the Python twin detect_language_trigram).
    """
    # One Arrow pass with the exact logic of the pytest-pinned Python twin
    # (functions/text.detect_language_trigram) — profile sets hoisted once
    # per task. The former JVM plan extracted trigrams with an interpreted
    # `transform` lambda (one interpreter step per char position) and ran
    # 13 array_intersects per row; the set arithmetic here is C-speed and
    # the value contract is enforced by test_language_id_v2_matches_python_twin.
    from collections.abc import Iterator

    from ..functions.text import normalize_text

    id_t = docs.schema["doc_id"].dataType.simpleString()
    langs = sorted(TRIGRAM_PROFILES)
    profiles = [(lang, frozenset(TRIGRAM_PROFILES[lang])) for lang in langs]
    min_hits = TRIGRAM_MIN_HITS
    max_chars = LANGID_MAX_CHARS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = []
            for t in pdf[text_col]:
                nrm = normalize_text(t).lower()[:max_chars]
                if not nrm:
                    preds.append("und")
                    continue
                padded = " " + nrm + " "
                tris = {padded[i:i + 3] for i in range(len(padded) - 2)}
                best_lang, best_hits = "und", 0
                for lang, prof in profiles:
                    hits = len(tris & prof)
                    if hits > best_hits:
                        best_lang, best_hits = lang, hits
                preds.append(best_lang if best_hits >= min_hits else "und")
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "lang_pred": preds})

    return ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run, schema=f"doc_id {id_t}, lang_pred string"
    )


def token_counts_bpeish(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish regex token counts (Arrow pass)."""
    id_t = docs.schema["doc_id"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens_bpe": [len(tokenize_bpeish(t or "")) for t in pdf[text_col]],
                }
            )

    return ensure_parallelism(docs.select("doc_id", text_col)).mapInPandas(
        run, schema=f"doc_id {id_t}, n_tokens_bpe long"
    )


def _winnow_mins_expr(k: int, window: int) -> tuple[str, str, str]:
    """The shared winnowing SQL fragments: grams of nt, md5-60bit hashes,
    sliding-window minima (used by fingerprints, fingerprint_set,
    decontaminate)."""
    grams = (
        f"CASE WHEN length(nt) = 0 THEN cast(array() as array<string>) "
        f"WHEN length(nt) <= {k} THEN array(nt) "
        f"ELSE transform(sequence(1, length(nt) - {k} + 1), i -> substring(nt, i, {k})) END"
    )
    hs = (
        "transform(grams, g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"
    )
    wmins = (
        f"CASE WHEN size(hs) = 0 THEN cast(array() as array<bigint>) "
        f"WHEN size(hs) <= {window} THEN array(array_min(hs)) "
        f"ELSE transform(sequence(1, size(hs) - {window} + 1), "
        f"j -> array_min(slice(hs, j, {window}))) END"
    )
    return grams, hs, wmins


def fingerprint_set(
    docs: DataFrame, text_col: str = "text", k: int = 8, window: int = 8
) -> DataFrame:
    """(doc_id, fp): the DISTINCT winnowed fingerprint hashes per document,
    exploded to rows — the join key for containment-style overlap checks.
    Each fp is an 8-byte long, so the shuffle carries (doc_id, fp) pairs,
    never text. Empty/NULL texts produce zero rows.

    One vectorized Arrow pass: the per-gram md5-60bit hash comes from
    ``digest()`` bytes (int.from_bytes >> 4 — bit-identical to
    util.md5_hash60's conv(substring(hex,1,15))) with a bounded per-task
    memo over distinct grams, and the window minima come from numpy's
    sliding_window_view. The previous JVM ``transform`` chain evaluated an
    interpreted md5+conv per char position plus an O(len*window)
    slice/array_min per window — measured 3.4 s vs ~0.8 s here for the
    identical row set at sf1.0 (50k docs).
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    # spread first, normalize after the shuffle (see dedup.minhash_signatures)
    d = ensure_parallelism(docs.select("doc_id", text_col)).select(
        "doc_id", normalize_col(F.col(text_col)).alias("nt")
    )
    id_t = d.schema["doc_id"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        md5 = hashlib.md5
        memo: dict[str, int] = {}
        for pdf in batches:
            if len(memo) > 4_000_000:
                memo.clear()
            mget = memo.get
            ids, fps = [], []
            for doc_id, nt in zip(pdf["doc_id"], pdf["nt"]):
                if not nt:  # None or "" -> no grams -> no rows (JVM parity)
                    continue
                n = len(nt)
                if n <= k:
                    gram_list = [nt]
                else:
                    gram_list = [nt[i:i + k] for i in range(n - k + 1)]
                hs = np.empty(len(gram_list), dtype=np.int64)
                for i, g in enumerate(gram_list):
                    v = mget(g)
                    if v is None:
                        v = int.from_bytes(md5(g.encode("utf-8")).digest()[:8], "big") >> 4
                        memo[g] = v
                    hs[i] = v
                if len(hs) <= window:
                    mins = hs.min(keepdims=True)
                else:
                    mins = sliding_window_view(hs, window).min(axis=1)
                u = np.unique(mins)
                ids.extend([doc_id] * len(u))
                fps.append(u)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "fp": np.concatenate(fps) if fps else np.array([], dtype=np.int64),
                }
            )

    return d.mapInPandas(run, schema=f"doc_id {id_t}, fp bigint")


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    window: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    winnowed fingerprints with ANY held-out/eval document.

    Exact-substring leakage detection at scale: winnowing guarantees any
    shared substring of length >= k + window - 1 chars yields at least one
    shared fingerprint, so eval passages copied into training text are
    caught regardless of surrounding edits. Returns one row per train doc:
    (doc_id, n_shared_fps, contaminated). The eval fingerprint set is
    typically tiny next to the corpus — Catalyst broadcasts it; the train
    side streams as (doc_id, 8-byte fp) pairs.
    """
    tf = fingerprint_set(train, text_col, k, window)
    # fingerprint_set emits DISTINCT fps per doc, and a LEFT SEMI join
    # keeps each train (doc_id, fp) row at most once however many eval
    # docs share the fp — so the former eval-side .distinct() shuffle and
    # the count_distinct dedup-aggregation both collapse to a plain count
    # of surviving rows: identical n_shared_fps, two fewer wide ops
    # (measured 2.2 -> ~1.6 s at 50k docs).
    ef = fingerprint_set(eval_docs, text_col, k, window).select("fp")
    hits = (
        tf.join(ef, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_fps", F.lit(0)).alias("n_shared_fps"),
            (F.coalesce("n_shared_fps", F.lit(0)) >= min_shared).alias("contaminated"),
        )
    )


def fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, window: int = 8
) -> DataFrame:
    """Winnowing document fingerprints — pure JVM expressions.

    Classic winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 shape): hash
    every k-char gram of the normalized text (md5-60bit, the shared
    SQL-reproducible primitive), then take the minimum of each sliding
    window of ``window`` gram hashes. Returns per doc:

    - ``fingerprint``  : the global min gram hash (NULL for empty text)
    - ``n_winnowed``   : number of distinct window minima (the winnowed
                         fingerprint-set size — proportional to doc length,
                         robust to small edits)
    """
    grams, hs, wmins = _winnow_mins_expr(k, window)
    return (
        ensure_parallelism(docs.select("doc_id", normalize_col(F.col(text_col)).alias("nt")))
        .select("doc_id", F.expr(grams).alias("grams"))
        .select("doc_id", F.expr(hs).alias("hs"))
        .select(
            "doc_id",
            F.array_min("hs").alias("fingerprint"),
            F.size(F.array_distinct(F.expr(wmins))).cast("long").alias("n_winnowed"),
        )
    )
