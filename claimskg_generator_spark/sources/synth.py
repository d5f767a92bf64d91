"""Deterministic synthetic claim-review corpus.

BASELINE.json's input_hint fixes the pipeline input shape: an Iceberg-style
table ``(repo, path, commit, lang, content)``.  ``content`` carries one
serialized claim-review record per row, with exactly the fields the
reference generator reads from its CSV (FIXTURES.md §2; field list verified
against reference claimskg/generator/__init__.py row[...] accesses).

Each row is a pure function of ``(seed, i)`` — the same record is produced
whether generated driver-side (``gen_records``, used by the oracle tests)
or distributed (``synthesize_corpus`` via mapInPandas over spark.range),
regardless of partitioning.  The per-row invariant is sha256(content).

The generated corpus deliberately exercises every quirk SURVEY.md §2 calls
out: never-matching rating labels, trailing-char citation lists, malformed
mention JSON + the "[[][]]" sentinel, scores straddling the 0.3 threshold,
';' vs ',' keyword separators, duplicate titles, shared keywords across
rows (first-writer-wins memo), and heavy-head creative-work authors (skew).
"""

import hashlib
import json
import random
from typing import Dict, Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from claimskg_generator_spark.constants.sources import KNOWN_SOURCES

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

_WORDS = (
    "climate change vaccine election economy health care policy president "
    "congress tax immigration border school energy oil water virus pandemic "
    "hospital doctor budget inflation crime police military war trade china "
    "russia europe africa senate governor mayor court justice law abortion "
    "gun media social internet study report data science research fraud"
).split()

_PEOPLE = [
    "Donald Trump", "Barack Obama", "Hillary Clinton", "Joe Biden",
    "Bernie Sanders", "Nancy Pelosi", "Mitch McConnell", "Viral image",
    "Facebook posts", "Bloggers", "Ted Cruz", "Elizabeth Warren",
]
# Heavy-head author distribution to exercise skew handling (SURVEY.md J7/A5).
_PEOPLE_WEIGHTS = [30, 12, 10, 10, 4, 3, 3, 25, 18, 8, 2, 2]

_ENTITIES = [
    "Barack Obama", "Donald Trump", "United States", "White House",
    "Affordable Care Act", "Climate Change", "European Union", "Social Security",
    "Supreme Court of the United States", "Federal Bureau of Investigation",
    "Health Care", "Immigration", "Minimum Wage", "Gun Control",
]

_CATEGORIES = [
    "Presidents_of_the_United_States,American_politicians",
    "Climate_change,Environmental_issues",
    "Health_care,Public_policy",
    "Elections,Politics of the United States",
    "",
]

_RATING_LABELS = {
    "politifact": ["false", "pants-fire", "half true", "mostly true", "true",
                   "Pants on Fire!", "full flop"],
    "snopes": ["false", "true", "mixture", "mostly false", "legend",
               "MIXTURE OF TRUE AND FALSE INFORMATION", "unproven", "outdated"],
    "africacheck": ["incorrect", "correct", "mostly-correct", "unproven"],
    "factscan": ["false", "true", "Misleading", "farcical"],
    "truthorfiction": ["fiction", "truth", "truth & fiction", "mostly truth",
                       "unproven", "decontextualized"],
    "checkyourfact": ["False", "True", "Mostly True", "true/false", "misleading",
                      "verdict: false"],
    "factcheck_aap": ["True", "False", "Mostly True", "Somewhat False"],
    "factuel_afp_fr": ["Faux", "Vrai", "Trompeur", "Plutôt vrai", "Presque",
                       "À nuancer"],
    "factcheck_afp": ["False", "Fake", "Mixed", "Hoax", "Misleading"],
    "fullfact": ["Correct", "Incorrect", "Not quite", "This is wrong"],
}

_KEYWORD_POOL = [
    "climate change", "health care", "economy", "taxes", "immigration",
    "elections", "education policy", "gun control", "social security",
    "minimum wage", "foreign policy", "energy", "crime", "federal budget",
    "public health", "voting rights",
]

# Entity dictionary fixture (thesaurus stand-in; FIXTURES.md §4).  Labels
# overlap the keyword pool so keyword->concept matching fires.
THESAURUS_ENTRIES: List[Dict] = []
for _i, (_label, _vocab) in enumerate(
    [
        ("climate change", "thesoz"), ("climate", "thesoz"),
        ("health care", "thesoz"), ("health", "thesoz"),
        ("economy", "thesoz"), ("economic policy", "thesoz"),
        ("taxes", "thesoz"), ("taxation", "thesoz"),
        ("immigration", "thesoz"), ("election", "thesoz"),
        ("education policy", "thesoz"), ("education", "thesoz"),
        ("social security", "thesoz"), ("minimum wage", "thesoz"),
        ("foreign policy", "unesco"), ("energy", "unesco"),
        ("crime", "unesco"), ("public health", "unesco"),
        ("voting rights", "unesco"), ("federal budget", "unesco"),
        ("gun control", "unesco"), ("mass media", "unesco"),
        ("water resources", "unesco"), ("renewable energy", "unesco"),
    ]
):
    _prefix = (
        "http://lod.gesis.org/thesoz/concept/"
        if _vocab == "thesoz"
        else "http://vocabularies.unesco.org/thesaurus/concept"
    )
    THESAURUS_ENTRIES.append(
        {"concept_uri": f"{_prefix}{10000 + _i}", "label": _label, "vocab": _vocab}
    )


def _mention_json(rng: random.Random, text_words: List[str], malformed_kind: int) -> str:
    if malformed_kind == 1:
        return "[[][]]"  # sentinel (reference claimskg/generator/__init__.py:742)
    if malformed_kind == 2:
        return '[{"begin": 0, "end": 5, '  # truncated -> json error -> None
    if malformed_kind == 3:
        return ""
    n = rng.randint(1, 4)
    mentions = []
    cursor = 0
    for _ in range(n):
        entity = rng.choice(_ENTITIES)
        begin = cursor + rng.randint(0, 8)
        end = begin + len(entity)
        cursor = end + 1
        score = rng.choice(["0.1", "0.25", "0.29", "0.3", "0.31", "0.42",
                            "0.55", "0.77", "0.9", "1.0"])
        cats = rng.choice(_CATEGORIES)
        mentions.append(
            {
                "begin": begin,
                "end": end,
                "text": entity,
                "entity": entity,
                "score": score,
                "categories": [cats] if cats else [],
            }
        )
    out = json.dumps(mentions)
    if malformed_kind == 4:
        out = out + "[]"  # repaired by the '}][]' fixup
    return out


def _sentence(rng: random.Random, n_words: int, quoted: bool = False) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    s = " ".join(words).capitalize() + "."
    if quoted:
        s = 'Says ""' + s + '"" again'
    return s


def make_record(i: int, seed: int = 42) -> Dict[str, object]:
    """The claim-review record embedded in row i's ``content``."""
    rng = random.Random(f"claimskg:{seed}:{i}")
    source = rng.choices(KNOWN_SOURCES, weights=[20, 20, 5, 4, 6, 8, 5, 6, 6, 6])[0]
    year = rng.randint(2015, 2021)
    month = rng.randint(1, 12)
    day = rng.randint(1, 28)

    # Duplicate titles for align_duplicated (~6% of rows reuse a pool title).
    if rng.random() < 0.06:
        title_rng = random.Random(f"duptitle:{seed}:{rng.randint(0, 30)}")
        claim_text = _sentence(title_rng, 7)
    else:
        claim_text = _sentence(rng, rng.randint(5, 14), quoted=rng.random() < 0.15)

    author = rng.choices(_PEOPLE, weights=_PEOPLE_WEIGHTS)[0] if rng.random() < 0.85 else ""

    links = ""
    if rng.random() < 0.7:
        parts = []
        for _ in range(rng.randint(1, 5)):
            kind = rng.random()
            if kind < 0.08:
                parts.append("#fragment-only")
            elif kind < 0.14:
                parts.append("http://www.snopes.com")  # self-link for snopes rows
            elif kind < 0.2:
                parts.append("not a url at all")
            elif kind < 0.28:
                parts.append(
                    f"https://example.org/path/{rng.randint(1, 999)}?a=1&b=2|x"
                )
            elif kind < 0.33:
                parts.append(f"https://cite.example.com/<b>{rng.randint(1, 99)}</b>")
            else:
                parts.append(
                    f"http://news{rng.randint(1, 50)}.example.com/story/{rng.randint(1, 9999)}"
                )
        links = ",".join(parts) + ","  # trailing char dropped by the reference (:415)

    tags = ""
    if rng.random() < 0.8:
        kws = rng.sample(_KEYWORD_POOL, rng.randint(1, 4))
        sep = ";" if rng.random() < 0.5 else ","
        tags = sep.join(kws)

    labels = _RATING_LABELS[source]
    rating_label = rng.choice(labels) if rng.random() < 0.97 else ""
    rating_value = rng.choice(
        ["1", "2", "3", "4", "5", "['3']", "[2]", "", "-1"]
    )

    record = {
        "claimReview_author_name": source,
        "claimReview_author_url": f"https://{source}.example.org",
        "claimReview_datePublished": (
            f"{year}-{month:02d}-{day:02d}" if rng.random() < 0.9 else ""
        ),
        "claimReview_url": f"https://{source}.example.org/fact/{i}",
        "claimReview_claimReviewed": claim_text,
        "creativeWork_author_name": author,
        "creativeWork_author_sameAs": (
            f"http://dbpedia.org/resource/{author.replace(' ', '_')}"
            if author and rng.random() < 0.6
            else ""
        ),
        "creativeWork_datePublished": (
            f"{year}-{month:02d}-{rng.randint(1, 28):02d}"
            if rng.random() < 0.55
            else ""
        ),
        "rating_alternateName": rating_label,
        "rating_ratingValue": rating_value,
        "extra_title": _sentence(rng, rng.randint(4, 10)) if rng.random() < 0.75 else "",
        "extra_body": _sentence(rng, rng.randint(20, 60), quoted=rng.random() < 0.1)
        if rng.random() < 0.8
        else "",
        "extra_tags": tags,
        "extra_refered_links": links,
        "extra_entities_claimReview_claimReviewed": _mention_json(
            rng, _WORDS, rng.choices([0, 1, 2, 3, 4], weights=[80, 5, 5, 5, 5])[0]
        ),
        "extra_entities_body": _mention_json(
            rng, _WORDS, rng.choices([0, 1, 2, 3], weights=[75, 5, 10, 10])[0]
        ),
        "extra_entities_keywords": _mention_json(
            rng, _WORDS, rng.choices([0, 3], weights=[70, 30])[0]
        )
        if tags
        else "",
        "extra_entities_author": _mention_json(
            rng, _WORDS, rng.choices([0, 3], weights=[40, 60])[0]
        )
        if author
        else "",
    }
    return record


def make_row(i: int, seed: int = 42,
             record: Optional[Dict[str, object]] = None) -> Dict[str, str]:
    """One input-table row ``(repo, path, commit, lang, content)``; the
    record defaults to ``make_record(i, seed)``."""
    record = make_record(i, seed) if record is None else record
    source = record["claimReview_author_name"]
    content = json.dumps(record, sort_keys=True, ensure_ascii=False)
    commit = hashlib.sha1(f"commit:{seed}:{i}".encode()).hexdigest()
    return {
        "repo": f"factsite/{source}-dump",
        "path": f"claims/{i:08d}.json",
        "commit": commit,
        "lang": "en",
        "content": content,
    }


def gen_records(n: int, seed: int = 42) -> List[Dict[str, object]]:
    """Driver-side record list (oracle input), in canonical row order."""
    return [make_record(i, seed) for i in range(n)]


def gen_rows(n: int, seed: int = 42) -> List[Dict[str, str]]:
    return [make_row(i, seed) for i in range(n)]


def repeated_keyword_records(n: int, seed: int = 42) -> List[Dict[str, object]]:
    """``gen_records(n, seed)`` with every tagged row's first keyword
    appended again (``sep + " " + first``), so rows repeat a keyword and
    the memo's one-pass-per-keyword rule is exercised."""
    records = gen_records(n, seed)
    for rec in records:
        tags = rec["extra_tags"]
        if tags:
            sep = ";" if ";" in tags else ","
            rec["extra_tags"] = tags + sep + " " + tags.split(sep)[0]
    return records


def synthesize_corpus(spark: SparkSession, n: int, seed: int = 42,
                      partitions: int = None) -> DataFrame:
    """Distributed generation: spark.range(n) -> mapInPandas.

    Rows are a pure function of their id, so the output is identical for any
    partition count — the property that makes the sha256(content) invariant
    and the two-parallelism-level scaling benchmark meaningful.
    """
    import pandas as pd

    if partitions is None:
        # size the fan-out to the data: ~500 rows per partition, capped at
        # the session parallelism.  make_row costs ~1 ms of pure Python per
        # row, so generation parallelism is what bounds the corpus stage;
        # per-task overhead (Arrow batch + python worker reuse) is ~50 ms,
        # well under a 500-row slice (measured at 5k rows: 3 partitions
        # 3.0 s -> 8 partitions 0.9 s).  A 640k-row corpus still gets the
        # full session width.  Rows are pure functions of (seed, i), so
        # the split never changes results.
        dp = max(spark.sparkContext.defaultParallelism, 8)
        partitions = max(1, min(dp, -(-n // 500)))

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            rows = [make_row(int(i), seed) for i in batch["id"]]
            yield pd.DataFrame(rows, columns=INPUT_SCHEMA.fieldNames())

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=INPUT_SCHEMA)
    )


def write_corpus(spark: SparkSession, path: str, n: int, seed: int = 42) -> None:
    synthesize_corpus(spark, n, seed).write.mode("overwrite").parquet(path)
