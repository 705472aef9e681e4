"""Deterministic synthetic Common-Crawl-style web-pages generator (seed 42).

Produces the authoritative input shape from BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus ground-truth side tables (labeled pairs, expected clusters) per
FIXTURES.md. No external data.

Each ground-truth *entity* (a person, FIXTURES.md §1) yields 2-8 pages whose
text embeds labeled segments::

    Name: <person>; Title: <title>; Published: <provision>; Subjects: <subjects>; <filler>

with deterministic noise: typos, token reordering, whitespace injection
(exercises normalization), missing segments (NULL handling), shared + one
deliberately hot host (skew/salting), and ~2%% nameless rows (null-key drop).

Determinism is per-entity (seed ^ entity_id), so the distributed generator
(``web_pages_df`` via mapInPandas over ``spark.range``) emits identical rows
regardless of partitioning — required for the resume/fingerprint tests.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

SEED = 42

_SURNAMES = [
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Martinez", "Lopez", "Wilson", "Anderson", "Taylor", "Thomas",
    "Moore", "Jackson", "Martin", "Lee", "Thompson", "White", "Harris",
    "Clark", "Lewis", "Walker", "Hall", "Young", "King", "Wright", "Scott",
    "Green", "Baker", "Adams", "Nelson", "Hill", "Campbell", "Mitchell",
]
_GIVEN = [
    "John", "Mary", "Robert", "Patricia", "Michael", "Linda", "William",
    "Elizabeth", "David", "Barbara", "Richard", "Susan", "Joseph", "Jessica",
    "Charles", "Sarah", "Christopher", "Karen", "Daniel", "Nancy", "Matthew",
    "Margaret", "Anthony", "Lisa", "Mark", "Betty", "Donald", "Dorothy",
]
_TITLE_WORDS = [
    "history", "letters", "essays", "poems", "treatise", "chronicle",
    "annals", "survey", "studies", "memoir", "journal", "catalogue",
    "observations", "principles", "elements", "commentary", "discourse",
]
_PLACES = [
    "London", "Paris", "Boston", "New York", "Oxford", "Cambridge",
    "Edinburgh", "Leipzig", "Amsterdam", "Venice", "Geneva", "Dublin",
]
_SUBJECT_WORDS = [
    "philosophy", "theology", "botany", "astronomy", "medicine", "law",
    "poetry", "navigation", "architecture", "music", "mathematics",
    "geography", "rhetoric", "chemistry", "zoology", "economics",
]
_FILLER_WORDS = [
    "archive", "digital", "collection", "page", "record", "library",
    "scanned", "volume", "edition", "public", "domain", "notes", "index",
    "references", "bibliography", "accessed", "source", "item",
]
_HOSTS = [
    "archive-alpha.example.org", "books-beta.example.net",
    "catalog-gamma.example.com", "library-delta.example.org",
    "texts-epsilon.example.net", "scans-zeta.example.com",
    "records-eta.example.org", "papers-theta.example.net",
]
# one deliberately hot host receiving a large share of pages (skew fixture)
HOT_HOST = "mega-aggregator.example.com"

_BASE_TS = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def _typo(rng: np.random.RandomState, s: str) -> str:
    """Substitute one interior letter deterministically."""
    if len(s) < 4:
        return s
    idxs = [i for i, c in enumerate(s) if c.isalpha()]
    if not idxs:
        return s
    i = idxs[rng.randint(0, len(idxs))]
    repl = chr(ord("a") + rng.randint(0, 26))
    if s[i].isupper():
        repl = repl.upper()
    if repl == s[i]:
        repl = "x" if s[i] != "x" else "y"
    return s[: i] + repl + s[i + 1 :]


def _inject_ws(rng: np.random.RandomState, s: str) -> str:
    """Replace some single spaces with messy whitespace runs."""
    parts = s.split(" ")
    out = [parts[0]]
    fills = [" ", "  ", " \t", "\n ", "   ", "\t\t"]
    for p in parts[1:]:
        out.append(fills[rng.randint(0, len(fills))] if rng.random_sample() < 0.25 else " ")
        out.append(p)
    return "".join(out)


def _entity_profile(ent_id: int, seed: int = SEED) -> dict:
    rng = np.random.RandomState((seed * 1_000_003 + ent_id) % (2**31 - 1))
    surname = _SURNAMES[rng.randint(0, len(_SURNAMES))]
    given = _GIVEN[rng.randint(0, len(_GIVEN))]
    has_years = rng.random_sample() < 0.6
    birth = int(1500 + rng.randint(0, 400)) if has_years else None
    death = (birth + 20 + int(rng.randint(0, 60))) if has_years else None
    person = f"{surname}, {given}"
    if has_years:
        person = f"{person}, {birth}-{death}"
    title = (
        f"{_TITLE_WORDS[rng.randint(0, len(_TITLE_WORDS))]} of "
        f"{_SUBJECT_WORDS[rng.randint(0, len(_SUBJECT_WORDS))]} vol {1 + rng.randint(0, 9)}"
    )
    provision = f"{_PLACES[rng.randint(0, len(_PLACES))]} {1600 + int(rng.randint(0, 300))}"
    subjects = " ".join(
        sorted({_SUBJECT_WORDS[rng.randint(0, len(_SUBJECT_WORDS))] for _ in range(3)})
    )
    n_pages = 2 + int(rng.randint(0, 7))  # 2..8
    return {
        "ent_id": ent_id,
        "person": person,
        "given": given,
        "surname": surname,
        "title": title,
        "provision": provision,
        "subjects": subjects,
        "n_pages": n_pages,
    }


def _entity_pages(ent_id: int, seed: int = SEED) -> list[dict]:
    prof = _entity_profile(ent_id, seed)
    rng = np.random.RandomState((seed * 7_368_787 + ent_id) % (2**31 - 1))
    pages = []
    slug = (prof["surname"] + "-" + prof["given"]).lower()
    for i in range(prof["n_pages"]):
        # host: 20% hot host, else entity-stable pick with occasional drift
        r = rng.random_sample()
        if r < 0.2:
            host = HOT_HOST
        else:
            host = _HOSTS[(ent_id + (rng.randint(0, 3) if r < 0.4 else 0)) % len(_HOSTS)]
        url = f"https://{host}/{slug}/{ent_id}-{i}"

        # person variant: 70% exact, 15% typo, 15% years stripped. Catalog
        # names stay inverted ("Surname, Given") — the reference's P12
        # prefilter (raw Levenshtein < 0.3 => auto-false,
        # parallel_features.py:1079-1110) rejects reordered forms by design.
        pv = rng.random_sample()
        person = prof["person"]
        if pv < 0.15:
            person = _typo(rng, person)
        elif pv < 0.30:
            person = f"{prof['surname']}, {prof['given']}"  # years stripped

        title = prof["title"] if rng.random_sample() > 0.1 else _typo(rng, prof["title"])
        provision = prof["provision"]
        subjects = prof["subjects"]

        segs = []
        nameless = rng.random_sample() < 0.02
        if not nameless:
            segs.append(f"Name: {person};")
        segs.append(f"Title: {title};")
        if rng.random_sample() > 0.12:  # ~12% missing provision
            segs.append(f"Published: {provision};")
        if rng.random_sample() > 0.12:  # ~12% missing subjects
            segs.append(f"Subjects: {subjects};")
        n_fill = 3 + rng.randint(0, 6)
        filler = " ".join(_FILLER_WORDS[rng.randint(0, len(_FILLER_WORDS))] for _ in range(n_fill))
        segs.append(filler)
        clean_text = " ".join(segs)
        raw_text = _inject_ws(rng, clean_text)
        if rng.random_sample() < 0.3:
            raw_text = "  " + raw_text + " \n"

        ts = _BASE_TS + _dt.timedelta(minutes=int(ent_id) % 525600, seconds=int(i) * 17)
        pages.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": b"<html><body>" + raw_text.encode("utf-8") + b"</body></html>",
                "text": raw_text,
                "lang": "en",
                "ent_id": ent_id,
                "clean_text": clean_text,  # oracle for the normalization invariant
            }
        )
    return pages


def generate_pages_pdf(n_entities: int, seed: int = SEED, with_truth: bool = False) -> pd.DataFrame:
    """Driver-side generation (small scales / tests)."""
    rows = []
    for e in range(n_entities):
        rows.extend(_entity_pages(e, seed))
    pdf = pd.DataFrame(rows)
    cols = PAGE_COLUMNS + (["ent_id", "clean_text"] if with_truth else [])
    return pdf[cols]


def web_pages_df(spark, n_entities: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation: one task generates a range of entities.

    Determinism is per-entity, so output is identical for any partitioning.
    """
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for e in pdf["id"].tolist():
                rows.extend(_entity_pages(int(e), seed))
            out = pd.DataFrame(rows)
            yield out[PAGE_COLUMNS]

    rng = spark.range(0, n_entities, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=schema)


def expected_clusters_pdf(n_entities: int, seed: int = SEED) -> pd.DataFrame:
    """Oracle (entity_id=url -> cluster_id=ent) per FIXTURES.md §3."""
    pdf = generate_pages_pdf(n_entities, seed, with_truth=True)
    return pdf[["url", "ent_id"]].rename(columns={"url": "entity_id", "ent_id": "cluster_id"})


def labeled_pairs_pdf(n_entities: int, n_pairs: int = 2000, seed: int = SEED) -> pd.DataFrame:
    """Ground-truth labeled pairs: positives within entities, hard negatives
    across entities sharing a surname or host (FIXTURES.md §2)."""
    pages = generate_pages_pdf(n_entities, seed, with_truth=True)
    pages = pages[pages["text"].str.contains("Name:")]  # nameless rows can't be labeled
    rng = np.random.RandomState(seed + 777)

    by_ent: dict[int, list[str]] = {}
    for url, ent in zip(pages["url"], pages["ent_id"]):
        by_ent.setdefault(int(ent), []).append(url)

    # group entities by surname for hard negatives
    by_surname: dict[str, list[int]] = {}
    for e in by_ent:
        prof = _entity_profile(e, seed)
        by_surname.setdefault(prof["surname"], []).append(e)

    n_pos = int(n_pairs * 0.35)
    # urls are unique, so these are the distinct pairs the draws below can
    # find; asking for more would draw forever
    sizes = [len(urls) for urls in by_ent.values()]
    n_within = sum(k * (k - 1) // 2 for k in sizes)
    n_across = sum(sizes) * (sum(sizes) - 1) // 2 - n_within
    if n_within < n_pos or n_across < n_pairs - n_pos:
        raise ValueError(
            f"labeled_pairs_pdf: n_pairs={n_pairs} needs {n_pos} positive and "
            f"{n_pairs - n_pos} negative pairs; {n_entities} entities hold "
            f"{n_within} distinct positive and {n_across} negative pairs")
    ents = sorted(by_ent)
    pos, neg = [], []
    seen = set()
    while len(pos) < n_pos:
        e = ents[rng.randint(0, len(ents))]
        urls = by_ent[e]
        if len(urls) < 2:
            continue
        i, j = rng.randint(0, len(urls)), rng.randint(0, len(urls))
        if i == j:
            continue
        left, right = sorted((urls[i], urls[j]))
        if (left, right) in seen:
            continue
        seen.add((left, right))
        pos.append((left, right, True))

    surnames = sorted(s for s, es in by_surname.items() if len(es) >= 2)
    while len(neg) < n_pairs - n_pos:
        if surnames and rng.random_sample() < 0.7:
            s = surnames[rng.randint(0, len(surnames))]
            es = by_surname[s]
            e1, e2 = es[rng.randint(0, len(es))], es[rng.randint(0, len(es))]
        else:
            e1, e2 = ents[rng.randint(0, len(ents))], ents[rng.randint(0, len(ents))]
        if e1 == e2:
            continue
        u1 = by_ent[e1][rng.randint(0, len(by_ent[e1]))]
        u2 = by_ent[e2][rng.randint(0, len(by_ent[e2]))]
        left, right = sorted((u1, u2))
        if (left, right) in seen:
            continue
        seen.add((left, right))
        neg.append((left, right, False))

    pdf = pd.DataFrame(pos + neg, columns=["left", "right", "match"])
    return pdf.sort_values(["left", "right"]).reset_index(drop=True)
