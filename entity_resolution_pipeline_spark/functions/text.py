"""Text normalization and analysis kernels.

``normalize_text`` carries the byte-identical-text-per-url invariant
(reference semantics: /root/reference/src/batch_preprocessing.py:431-448 —
``str(x).strip()`` then ``re.sub(r'\\s+', ' ', ...)`` with *Python* ``re``
Unicode whitespace). ``normalize_col`` is its JVM column-expression twin,
used by every Spark-side operator that normalizes text, so both paths split
tokens on the same whitespace set.

Also hosts the training-data text-analysis kernels (language-ID heuristic,
quality scores, token counting, rolling-hash fingerprints) used by
``operators/textstats.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F  # noqa: N812

_WS_RE = re.compile(r"\s+")

# BPE-ish pretokenizer: word pieces, numbers, or single non-space symbols
# (a simplified public GPT-2-style pattern using only `re`-supported classes).
_BPE_RE = re.compile(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]")

_PUNCT_RE = re.compile(r"[^\w\s]")

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": {
        "the", "of", "and", "to", "a", "in", "is", "it", "that", "for",
        "was", "on", "are", "as", "with", "his", "they", "at", "be", "this",
    },
    "fr": {
        "le", "la", "les", "de", "des", "un", "une", "et", "est", "que",
        "dans", "pour", "sur", "avec", "pas", "au", "ce", "il", "elle", "du",
    },
    "de": {
        "der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit",
        "sich", "auf", "nicht", "ein", "eine", "als", "auch", "es", "an", "im",
    },
    "es": {
        "el", "la", "los", "las", "de", "y", "en", "que", "es", "un",
        "una", "por", "con", "no", "para", "se", "del", "su", "al", "lo",
    },
}


# Character-trigram profiles for the v2 language heuristic: per language the
# most characteristic trigrams of its running text (function words + affix
# patterns; space marks a word boundary, texts are space-padded before
# extraction). Hand-curated from public per-language frequency knowledge —
# literal arrays so the DuckDB oracle replays the operator exactly.
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "da": ["er ", "en ", "et ", " de", "det", "de ", " og", "og ", " at",
           "at ", "for", " fo", "or ", "til", " ti", "il ", "den", "nde"],
    "de": [" de", "der", "die", " di", "und", " un", "nd ", "ein", " ei",
           "ich", "sch", "ch ", "en ", "er ", "ung", "gen", "ten", " ge"],
    "en": [" th", "the", "he ", "ing", "ng ", " an", "and", "nd ", " of",
           "of ", " to", "to ", "ion", "tio", "ent", " in", "is ", "ed "],
    "es": [" de", "de ", " la", "la ", " el", "el ", " en", "en ", "que",
           " qu", "ue ", "os ", "as ", "ció", "ión", "aci", "es ", " co"],
    "fi": ["en ", "in ", " on", "on ", "ta ", "an ", " ja", "ja ", "sta",
           "ist", "lla", "ssa", "aan", "ään", "ttä", "tä ", "sen", "nen"],
    "fr": [" de", "de ", " le", "le ", " la", "la ", "es ", "ent", "que",
           " qu", "ue ", " et", "et ", "les", "des", "ion", " un", "re "],
    "id": [" me", "men", "an ", "kan", " di", "di ", "ang", "ng ", " ke",
           "ke ", "yan", " ya", "ah ", "nya", " pe", "per", "ber", " be"],
    "it": [" di", "di ", " il", "il ", "to ", "la ", "re ", "che", " ch",
           "he ", "ion", "zio", "one", " co", "del", "ell", "lla", "ato"],
    "nl": [" de", "de ", "en ", "et ", " he", "het", "van", " va", "an ",
           "een", " ee", "er ", "ijk", "aar", " en", " ve", "ing", "ng "],
    "pl": ["ie ", "nie", " ni", "na ", " na", " po", "się", " si", "ię ",
           "go ", "ego", "ych", "ch ", " pr", "rze", " w ", "do ", " do"],
    "pt": [" de", "de ", " do", "do ", " da", "da ", "ão ", "ção", "açã",
           "os ", "as ", "que", " qu", "ue ", "ent", " co", "ar ", "ra "],
    "sv": ["en ", "er ", "et ", " oc", "och", "ch ", " at", "att", "tt ",
           "för", " fö", "ör ", "det", " de", "som", " so", "om ", "ar "],
    "tr": ["lar", "ar ", "ler", "er ", " bi", "bir", "ir ", "in ", "an ",
           "ın ", "arı", "eri", "nda", " ka", " ya", "ile", " il", "da "],
}

# v2 requires at least this many distinct profile-trigram hits to claim a
# language (absolute floor keeps the rule SQL-trivial and length-robust)
TRIGRAM_MIN_HITS = 3

# Language-ID needs a sample, not the document: trigram extraction is
# bounded to this many normalized chars so a multi-MB page costs the same
# as a 4 KB one (the Spark side's per-char lambda is interpreted, not
# codegen — unbounded it would be a stage-wall hazard at web scale).
LANGID_MAX_CHARS = 4096


def detect_language_trigram(text: str) -> str:
    """Python twin of operators/textstats.language_id_v2 (pytest-pinned).

    Distinct char trigrams of the space-padded, lowercased, ws-normalized
    text (first LANGID_MAX_CHARS chars only) are intersected with each
    language profile; most hits wins, ties go to the lexicographically
    smallest language, fewer than TRIGRAM_MIN_HITS distinct hits -> 'und'.
    None and empty text both -> 'und'.
    """
    norm = normalize_text(text).lower()[:LANGID_MAX_CHARS]
    if not norm:
        return "und"
    padded = " " + norm + " "
    tris = {padded[i:i + 3] for i in range(len(padded) - 2)}
    best_lang, best_hits = "und", 0
    for lang in sorted(TRIGRAM_PROFILES):
        hits = len(tris & set(TRIGRAM_PROFILES[lang]))
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    return best_lang if best_hits >= TRIGRAM_MIN_HITS else "und"


def normalize_text(text: object) -> str:
    """Reference-exact normalization: strip + collapse ``\\s+`` to one space."""
    if text is None:
        return ""
    if not isinstance(text, str):
        text = str(text)
    normalized = text.strip()
    normalized = _WS_RE.sub(" ", normalized)
    return normalized


def normalize_col(c: Column) -> Column:
    """``normalize_text`` as a JVM column expression: collapse whitespace
    runs to one space, then trim.

    Java's ``(?U)\\s`` is the Unicode White_Space property; Python's
    ``str.isspace`` (which ``re``'s ``\\s`` and ``str.strip`` follow) also
    counts U+001C-U+001F, so the class adds them. Plain Java ``\\s`` is
    ASCII-only and would keep NBSP, U+2028 and U+3000 inside tokens.
    """
    return F.trim(F.regexp_replace(c, r"(?U)[\s\x1c-\x1f]+", " "))


def tokenize_ws(text: str) -> list[str]:
    """Whitespace tokens of normalized text."""
    t = normalize_text(text)
    return t.split(" ") if t else []


def tokenize_bpeish(text: str) -> list[str]:
    """BPE-ish regex pretokenization (letters / digits / single symbols)."""
    if not text:
        return []
    return _BPE_RE.findall(text)


def detect_language(text: str) -> str:
    """Stopword-ratio language heuristic. Returns ISO code or 'und'."""
    tokens = [t.lower() for t in tokenize_ws(text)]
    if not tokens:
        return "und"
    best_lang = "und"
    best_hits = 0
    # iterate in sorted lang order with strict > so ties keep the first
    # (lexicographically smallest) language — same tie-break as the JVM
    # operator in operators/textstats.py (which counts distinct stopword
    # *types*; this counts occurrences — that divergence stays documented).
    for lang, sw in sorted(STOPWORDS.items()):
        hits = sum(1 for t in tokens if t in sw)
        if hits > best_hits:
            best_hits = hits
            best_lang = lang
    # require at least 2% stopword coverage to claim a language
    if best_hits / len(tokens) < 0.02:
        return "und"
    return best_lang


def quality_scores(text: str) -> dict:
    """Cheap document-quality signals (length / punct / stopword ratios)."""
    t = normalize_text(text)
    tokens = t.split(" ") if t else []
    n_chars = len(t)
    n_tokens = len(tokens)
    n_punct = len(_PUNCT_RE.findall(t))
    lower = [w.lower() for w in tokens]
    n_stop = sum(1 for w in lower if w in STOPWORDS["en"])
    mean_word_len = (sum(len(w) for w in tokens) / n_tokens) if n_tokens else 0.0
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": (n_punct / n_chars) if n_chars else 0.0,
        "stopword_ratio": (n_stop / n_tokens) if n_tokens else 0.0,
        "mean_word_len": mean_word_len,
    }


_FP_BASE = 1000003
_FP_MOD = (1 << 61) - 1


def fingerprint(text: str, window: int = 8) -> int:
    """Deterministic rolling-hash document fingerprint.

    Polynomial rolling hash over whitespace tokens; the fingerprint is the
    minimum window hash (a 1-permutation winnowing sketch). Stable across
    processes (no PYTHONHASHSEED dependence).
    """
    tokens = tokenize_ws(text.lower() if text else "")
    if not tokens:
        return 0
    token_hashes = []
    for tok in tokens:
        h = 0
        for b in tok.encode("utf-8"):
            h = (h * _FP_BASE + b) % _FP_MOD
        token_hashes.append(h + 1)
    if len(token_hashes) <= window:
        windows = [token_hashes]
    else:
        windows = [
            token_hashes[i : i + window]
            for i in range(len(token_hashes) - window + 1)
        ]
    best = None
    for w in windows:
        h = 0
        for x in w:
            h = (h * _FP_BASE + x) % _FP_MOD
        if best is None or h < best:
            best = h
    return best
