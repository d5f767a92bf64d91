"""Code-corpus curation operators over the north-rule input shape
``(repo, path, commit, lang, content)``.

The five operator families a source-code training corpus needs before
anything downstream sees it:

* :func:`with_code_quality` — StarCoder-style per-file quality gates
  (max/avg line length, alnum fraction, autogenerated marker, long hex
  runs).  Pure narrow map.
* :func:`extract_imports` / :func:`top_imports` — lang-keyed import
  extraction into a (repo, module) dependency edge list, plus the
  skew-proof per-lang top-k most-imported modules.
* :func:`winnow_fingerprints` / :func:`winnow_pairs` — MOSS-style
  k-gram winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) and the
  posting-list candidate-pair join over shared fingerprints.
* :func:`repo_containment_pairs` — fork detection: repo pairs ranked by
  file-content-hash containment (a fork that subsets another repo scores
  1.0 where Jaccard would dilute by the larger repo's size).
* :func:`dir_rollup` — per-(repo, directory-prefix) file/byte/lang
  rollup via in-row prefix expansion (no recursive walk, one groupBy).

Scale posture, uniform across the module: every per-file computation is
a row expression inside whole-stage codegen (no UDFs); every pairwise
computation is generated WITHIN a posting-list row after a document-
frequency cap (the q12 n-gram pattern — no self-join of the exploded
frame, no all-pairs anywhere), so the only shuffles are the
fingerprint/hash groupBys whose rows are (key, small-array) aggregates.

Reference parity anchor: the reference has no code-corpus analog (its
corpus is fact-check claims, claimskg/generator/__init__.py); these
operators extend the engine along the graft's north-rule input, with
semantics pinned by the DuckDB value oracles in queries/code_kg.py
(q92-q97).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash_mod_p

# Go-convention autogenerated marker, also matched case-sensitively by
# the oracle twin.  Checked on the FIRST line only (the convention's
# placement), so a file that merely quotes the phrase later is not
# dropped.
AUTOGEN_PAT = "Code generated"
HEX_BLOB_PAT = "[0-9a-f]{64}"


def with_code_quality(
    files: DataFrame,
    content_col: str = "content",
    max_line_len: int = 200,
    max_avg_line_len: float = 80.0,
    min_alnum_frac: float = 0.4,
) -> DataFrame:
    """Per-file quality metrics + keep verdict (StarCoder-style gates).

    Adds ``n_lines, max_line_len, avg_line_len, alnum_frac,
    is_autogenerated, has_hex_blob, keep``.  Pure narrow map — zero
    shuffle at any scale; at 100 TB this is one codegen stage fused into
    the scan.  ``avg_line_len`` is derived closed-form from the content
    length ((len - (n_lines-1)) / n_lines) so the oracle can re-derive
    it without re-splitting."""
    c = F.col(content_col)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    alnum = F.length(F.regexp_replace(c, "[^A-Za-z0-9]", ""))
    df = (
        files.withColumn("n_lines", n_lines)
        .withColumn("max_line_len",
                    F.array_max(F.transform(lines, F.length)))
        .withColumn(
            "avg_line_len",
            F.round((F.length(c) - (n_lines - 1))
                    / n_lines.cast("double"), 4))
        .withColumn("alnum_frac",
                    F.round(alnum / F.length(c).cast("double"), 4))
        .withColumn("is_autogenerated",
                    F.element_at(lines, 1).contains(AUTOGEN_PAT))
        .withColumn("has_hex_blob", c.rlike(HEX_BLOB_PAT))
    )
    return df.withColumn(
        "keep",
        (F.col("max_line_len") <= max_line_len)
        & (F.col("avg_line_len") <= max_avg_line_len)
        & (F.col("alnum_frac") >= min_alnum_frac)
        & ~F.col("is_autogenerated")
        & ~F.col("has_hex_blob"),
    )


# Lang-keyed import patterns.  Anchored multiline ((?m)) so body text
# can only match a line that IS an import statement; the captured group
# is the module name.  RE2-safe (no lookarounds) so the DuckDB oracle
# runs the identical pattern.
IMPORT_PATTERNS = {
    "python": r"(?m)^import ([A-Za-z_][A-Za-z0-9_]*)$",
    "js": r"require\('([A-Za-z_][A-Za-z0-9_]*)'\)",
    "go": r'(?m)^import "([A-Za-z_][A-Za-z0-9_]*)"$',
    "java": r"(?m)^import com\.([A-Za-z_][A-Za-z0-9_]*);$",
}


def extract_imports(
    files: DataFrame,
    content_col: str = "content",
    lang_col: str = "lang",
) -> DataFrame:
    """Explode each file into its imported modules: one output row per
    (repo, path, lang, module) with modules de-duplicated per file.

    The lang dispatch is a CASE over four regexp_extract_all calls —
    still one codegen stage; the explode is the only fan-out and carries
    (repo, path, lang, module) rows only."""
    lang = F.col(lang_col)
    c = F.col(content_col)
    # explicit per-lang dispatch; unknown langs yield no modules
    mods: Column = F.array().cast("array<string>")
    for lg, pat in IMPORT_PATTERNS.items():
        mods = F.when(lang == lg,
                      F.regexp_extract_all(c, F.lit(pat), 1)).otherwise(mods)
    return files.select(
        "repo", "path", lang.alias("lang"),
        F.explode_outer(F.array_distinct(mods)).alias("module"),
    ).filter(F.col("module").isNotNull())


def top_imports(files: DataFrame, k: int = 10) -> DataFrame:
    """Per-lang top-``k`` modules by (distinct importing repos, then
    total importing files) — the 'most-depended-on package' board.

    One (lang, module) groupBy with map-side-combinable aggregates; the
    final per-lang ranking windows over lang-partitioned MODULE rows
    (bounded by the module vocabulary, not the corpus), so no salting is
    needed even when one lang dominates the corpus."""
    from pyspark.sql import Window

    per_mod = (
        extract_imports(files)
        .groupBy("lang", "module")
        .agg(F.countDistinct("repo").alias("n_repos"),
             F.count("*").alias("n_files"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_repos"), F.desc("n_files"), F.asc("module"))
    return (
        per_mod.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def winnow_fingerprints(
    files: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    k: int = 8,
    w: int = 4,
    max_chars: int = 2000,
) -> DataFrame:
    """Winnowing document fingerprints (MOSS): normalize to lowercase
    alphanumerics, hash every ``k``-gram (md5 mod 2^31-1 — replayable in
    any engine), then keep the minimum of each window of ``w``
    consecutive k-gram hashes, de-duplicated.

    Guarantees (Schleimer et al.): any shared substring of length >=
    k + w - 1 yields at least one shared fingerprint, and the density of
    selected grams is ~2/(w+1) — the fingerprint set is ~25x smaller
    than the gram set at w=4 while preserving long-match recall.

    Everything happens within the row (sequence/transform/slice — no
    explode until the caller's posting join); ``max_chars`` bounds the
    per-row gram array so a pathological 1 GB file cannot blow an
    executor.  Rows whose normalized text is shorter than ``k`` are
    dropped (no gram exists).  Returns (id, fps array<int>, n_fp)."""
    if k < 2 or w < 1:
        raise ValueError(f"need k >= 2 and w >= 1, got k={k} w={w}")
    norm = F.substring(
        F.regexp_replace(F.lower(F.col(content_col)), "[^a-z0-9]", ""),
        1, max_chars)
    df = files.select(F.col(id_col).alias("id"), norm.alias("__s"))
    df = df.filter(F.length("__s") >= k)
    # materialize the hash array behind a column alias: Spark performs
    # no CSE inside higher-order-function lambdas (see dedup.py's
    # minhash note), so the window-min pass below must see a computed
    # array, not re-derive len(s)-k+1 md5 calls per window
    grams = F.transform(
        F.sequence(F.lit(1), F.length("__s") - k + 1),
        lambda i: md5_hash_mod_p(F.substring(F.col("__s"), i, F.lit(k))),
    )
    df = df.select("id", grams.alias("__h"))
    n = F.size("__h")
    wins = F.when(
        n >= w,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - w + 1),
            lambda i: F.array_min(F.slice(F.col("__h"), i, w)),
        )),
    ).otherwise(F.array(F.array_min("__h")))
    return df.select(
        "id", wins.alias("fps")).withColumn("n_fp", F.size("fps"))


def winnow_pairs(
    files: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    k: int = 8,
    w: int = 4,
    max_chars: int = 2000,
    min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints.

    The q12 posting-list shape: fingerprint explode -> ONE groupBy(fp)
    building document frequency + posting list together -> hot-
    fingerprint cap (df > max_df dropped) -> pairs generated WITHIN the
    posting row -> per-pair shared-fingerprint count -> containment =
    shared / min(|A|, |B|).  No self-join of the exploded frame; the
    posting list never leaves one aggregation buffer."""
    fps = winnow_fingerprints(files, id_col, content_col, k, w, max_chars)
    # the per-doc fingerprint count RIDES the exploded rows and the
    # posting list as a struct member (the ngram_jaccard_pairs shape):
    # earlier revisions re-attached n_fp through two per-side joins
    # against the fingerprint frame, which re-ran the k-gram hash +
    # window-min HOF chain (the operator's dominant cost) once per
    # consumer; carrying the 4-byte int through the one existing shuffle
    # leaves exactly ONE evaluation and zero joins.
    post = (
        fps.select(
            F.struct(F.col("id"), F.col("n_fp")).alias("d"),
            F.explode_outer("fps").alias("fp"),
        )
        .groupBy("fp")
        .agg(F.count("*").alias("df"),
             F.collect_list("d").alias("ids"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        # struct sort orders by the leading (unique) id — identical pair
        # enumeration to the previous plain-id posting list
        .withColumn("ids_s", F.array_sort("ids"))
    )
    pair_structs = F.flatten(F.transform(
        F.col("ids_s"),
        lambda a, i: F.transform(
            F.slice(F.col("ids_s"), i + 2, F.col("df").cast("int")),
            lambda b: F.struct(
                a["id"].alias("id_a"), a["n_fp"].alias("fp_a"),
                b["id"].alias("id_b"), b["n_fp"].alias("fp_b"),
            ),
        ),
    ))
    return (
        post.select(F.explode_outer(pair_structs).alias("p"))
        # fp_a/fp_b are functions of id_a/id_b: same groups as (id_a, id_b)
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.fp_a").alias("fp_a"),
                 F.col("p.id_b").alias("id_b"), F.col("p.fp_b").alias("fp_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .withColumn(
            "containment",
            F.round(F.col("n_shared")
                    / F.least("fp_a", "fp_b").cast("double"), 4))
        # legacy column order (the pre-refactor join-produced order),
        # kept byte-identical for schema-sensitive consumers
        .select("id_b", "id_a", "n_shared", "fp_a", "fp_b", "containment")
    )


def repo_containment_pairs(
    files: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
    min_containment: float = 0.8,
    max_df: int = 200,
) -> DataFrame:
    """Fork detection: repo pairs ranked by shared file-content hashes.

    containment = |A ∩ B| / min(|A|, |B|) over each repo's DISTINCT
    content-md5 set — a fork that carries a subset of another repo's
    files scores 1.0 (Jaccard would dilute by the larger repo).  Shape:
    distinct (repo, hash) -> posting list per hash (df-capped: a vendored
    file present in thousands of repos is dropped rather than exploded
    into millions of pairs) -> within-row pair generation -> per-pair
    count -> join the two per-repo distinct-hash sizes."""
    rh = (
        files.select(F.col(repo_col).alias("repo"),
                     F.md5(F.col(content_col)).alias("fh"))
        .distinct()
    )
    sizes = rh.groupBy("repo").agg(F.count("*").alias("n_files"))
    post = (
        rh.groupBy("fh")
        .agg(F.count("*").alias("df"),
             F.collect_list("repo").alias("repos"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .withColumn("repos_s", F.array_sort("repos"))
    )
    pair_structs = F.flatten(F.transform(
        F.col("repos_s"),
        lambda a, i: F.transform(
            F.slice(F.col("repos_s"), i + 2, F.col("df").cast("int")),
            lambda b: F.struct(a.alias("repo_a"), b.alias("repo_b")),
        ),
    ))
    shared = (
        post.select(F.explode_outer(pair_structs).alias("p"))
        .groupBy(F.col("p.repo_a").alias("repo_a"),
                 F.col("p.repo_b").alias("repo_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("repo", "repo_a")
                    .withColumnRenamed("n_files", "n_a"), "repo_a")
        .join(sizes.withColumnRenamed("repo", "repo_b")
              .withColumnRenamed("n_files", "n_b"), "repo_b")
        .withColumn(
            "containment",
            F.round(F.col("n_shared")
                    / F.least("n_a", "n_b").cast("double"), 4))
        .withColumn(
            "jaccard",
            F.round(F.col("n_shared")
                    / (F.col("n_a") + F.col("n_b")
                       - F.col("n_shared")).cast("double"), 4))
        .filter(F.col("containment") >= min_containment)
    )


def dir_rollup(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-(repo, directory-prefix) rollup: file count, content bytes,
    distinct langs, and the prefix depth.

    The directory hierarchy is expanded IN the row (every proper prefix
    of the '/'-split path), so one explode + one groupBy covers every
    level of the tree at once — no recursive walk, no per-level pass.
    At 100 TB the exploded frame is (#files x avg-depth) slim rows of
    (repo, dir, bytes, lang) and the groupBy is map-side combinable."""
    parts = F.split(F.col(path_col), "/")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, 1, i), "/"),
    )
    return (
        files.select(
            F.col(repo_col).alias("repo"),
            F.explode_outer(prefixes).alias("dir"),
            F.length(content_col).alias("bytes"),
            F.col(lang_col).alias("lang"),
        )
        .groupBy("repo", "dir")
        .agg(F.count("*").alias("n_files"),
             F.sum("bytes").alias("n_bytes"),
             F.countDistinct("lang").alias("n_langs"))
        .withColumn("depth", F.size(F.split(F.col("dir"), "/")))
    )


# License detection: SPDX identifier first (the machine-readable form),
# then the common header phrases.  Ordered most-specific-first; all
# RE2-safe so the DuckDB oracle runs the identical patterns.  Matching
# is confined to the file HEAD (licenses are headers, and bounding the
# scan keeps the row expression O(head) on multi-MB files).
LICENSE_PATTERNS = (
    ("spdx", r"SPDX-License-Identifier: ([A-Za-z0-9.\-]+)"),
    ("Apache-2.0", r"Apache License,? Version 2\.0"),
    ("MIT", r"MIT License"),
    ("GPL-3.0", r"GNU General Public License"),
    ("BSD-3-Clause", r"BSD 3-Clause"),
)


def detect_license(
    files: DataFrame,
    content_col: str = "content",
    head_chars: int = 1024,
) -> DataFrame:
    """Add a ``license`` column: the SPDX id when a machine-readable
    ``SPDX-License-Identifier:`` line is present in the file head, else
    the first matching known header phrase, else 'unknown'.  Pure
    narrow map (a when-chain of regexp_extract over a bounded head
    substring) — zero shuffle, fused into the scan; the permissive-
    license gate of a code pre-training pipeline (The Stack's first
    filter) runs at ingest cost."""
    head = F.substring(F.col(content_col), 1, head_chars)
    spdx = F.regexp_extract(head, LICENSE_PATTERNS[0][1], 1)
    lic = F.when(spdx != "", spdx)
    for name, pat in LICENSE_PATTERNS[1:]:
        lic = lic.when(head.rlike(pat), F.lit(name))
    return files.withColumn("license", lic.otherwise(F.lit("unknown")))


def repo_license_report(
    files: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
    head_chars: int = 1024,
) -> DataFrame:
    """Per-repo license rollup over :func:`detect_license`: files per
    (repo, license), the repo's file total, and a conflict flag when a
    repo mixes more than one DETECTED license (unknown-only repos never
    conflict).  One combinable (repo, license) groupBy + a repo-level
    window over license rows (bounded by #repos x #licenses, not
    files)."""
    from pyspark.sql import Window

    per = (
        detect_license(files, content_col, head_chars)
        .groupBy(repo_col, "license")
        .agg(F.count("*").alias("n_files"))
    )
    w = Window.partitionBy(repo_col)
    detected = F.sum(
        F.when(F.col("license") != "unknown", 1).otherwise(0)
    ).over(w)
    return (
        per.withColumn("repo_files", F.sum("n_files").over(w))
        .withColumn("has_conflict", detected > 1)
    )
