"""Deterministic source-code corpus derived from the documents table.

The graft's north-rule input is an Iceberg-style table of source-code
repositories with columns ``(repo, path, commit, lang, content)``.  The
sandbox's synthetic ``documents`` parquet is prose, so this module lifts
it into that exact shape with a derivation that is a pure function of
``(doc_id, text)`` — expressible identically as Spark column expressions
here and as a DuckDB CTE in the driver oracle (``queries/common.py``
``_CODE_FILES_CTE``), which is what lets every code-curation query carry a
full value oracle.

Shape of one synthesized file (all branches keyed off ``doc_id`` so the
corpus deterministically contains every case the curation operators must
handle):

* ``lang``    — doc_id % 4 -> python / js / go / java
* ``repo``    — ``r<doc_id % 40>`` (≈12 files per repo at sf0.01)
* ``path``    — ``src/m<doc_id % 7>/f<doc_id><ext>``
* ``commit``  — ``md5('c:' || doc_id)``
* ``content`` — newline-joined lines:
    - autogenerated marker (doc_id % 13 == 0): the Go-convention
      ``Code generated ... DO NOT EDIT.`` line, comment-prefixed per lang
    - one header comment (``# doc N`` / ``// doc N``)
    - three lang-idiomatic import lines over the first three text tokens
      (``import w`` / ``const w = require('w')`` / ``import "w"`` /
      ``import com.w;``)
    - the text tokens re-flowed six per line
    - a 400-char hex blob line (doc_id % 17 == 0) — trips max-line /
      hex-run quality gates
    - a planted AWS access key id (doc_id % 11 == 3) and a planted
      GitHub PAT (doc_id % 11 == 7) — secret-scan targets

Everything is a narrow per-row projection: no shuffle, no UDF, fully
inside whole-stage codegen, so deriving the corpus adds nothing to any
downstream operator's exchange profile at 100 TB.

Reference: the reference pipeline's input lift is claimskg/generator
row-dict parsing (claimskg/generator/__init__.py); this module is the
code-shaped analog over the same (id, text) contract.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LANGS = ("python", "js", "go", "java")
EXTS = {"python": ".py", "js": ".js", "go": ".go", "java": ".java"}

GENERATED_MARKER = "Code generated by synthgen. DO NOT EDIT."


def _lang(d: Column) -> Column:
    return (
        F.when(d % 4 == 0, F.lit("python"))
        .when(d % 4 == 1, F.lit("js"))
        .when(d % 4 == 2, F.lit("go"))
        .otherwise(F.lit("java"))
    )


def _comment_prefix(lang: Column) -> Column:
    return F.when(lang == "python", F.lit("# ")).otherwise(F.lit("// "))


def _import_line(lang: Column, w: Column) -> Column:
    return (
        F.when(lang == "python", F.concat(F.lit("import "), w))
        .when(lang == "js",
              F.concat(F.lit("const "), w, F.lit(" = require('"), w,
                       F.lit("')")))
        .when(lang == "go", F.concat(F.lit('import "'), w, F.lit('"')))
        .otherwise(F.concat(F.lit("import com."), w, F.lit(";")))
    )


def _ext(lang: Column) -> Column:
    return (
        F.when(lang == "python", F.lit(".py"))
        .when(lang == "js", F.lit(".js"))
        .when(lang == "go", F.lit(".go"))
        .otherwise(F.lit(".java"))
    )


def _empty() -> Column:
    return F.array().cast("array<string>")


def code_files(documents: DataFrame, doc_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Lift a (doc_id, text) frame into the north-rule code-file shape
    ``(doc_id, repo, path, commit, lang, content)``.

    Pure narrow map — every output column is a deterministic function of
    the input row, so the frame is retry-stable, AQE-proof, and has an
    exact DuckDB twin (the oracle re-derives content byte-for-byte and
    every downstream metric follows)."""
    d = F.col(doc_col)
    lang = _lang(d)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    dstr = d.cast("string")

    marker = F.concat(_comment_prefix(lang), F.lit(GENERATED_MARKER))
    header = F.concat(_comment_prefix(lang), F.lit("doc "), dstr)
    imports = F.transform(F.slice(toks, 1, 3), lambda w: _import_line(lang, w))
    n_lines = F.ceil(F.size(toks) / F.lit(6.0)).cast("int")
    body = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(F.slice(toks, (i - 1) * 6 + 1, 6), " "),
    )
    hex_blob = F.concat(
        F.lit('blob = "'),
        F.repeat(F.substring(F.md5(F.concat(F.lit("h:"), dstr)), 1, 16), 25),
        F.lit('"'),
    )
    aws_line = F.concat(
        F.lit('aws_key = "AKIA'),
        F.upper(F.substring(F.md5(F.concat(F.lit("s:"), dstr)), 1, 16)),
        F.lit('"'),
    )
    gh_md5 = F.md5(F.concat(F.lit("g:"), dstr))
    gh_line = F.concat(
        F.lit('token = "ghp_'),
        F.substring(gh_md5, 1, 32),
        F.substring(gh_md5, 1, 4),
        F.lit('"'),
    )

    lines = F.flatten(F.array(
        F.when(d % 13 == 0, F.array(marker)).otherwise(_empty()),
        F.array(header),
        imports,
        body,
        F.when(d % 17 == 0, F.array(hex_blob)).otherwise(_empty()),
        F.when(d % 11 == 3, F.array(aws_line)).otherwise(_empty()),
        F.when(d % 11 == 7, F.array(gh_line)).otherwise(_empty()),
    ))

    return documents.select(
        d.alias("doc_id"),
        F.concat(F.lit("r"), (d % 40).cast("string")).alias("repo"),
        F.concat(F.lit("src/m"), (d % 7).cast("string"), F.lit("/f"),
                 dstr, _ext(lang)).alias("path"),
        F.md5(F.concat(F.lit("c:"), dstr)).alias("commit"),
        lang.alias("lang"),
        F.array_join(lines, "\n").alias("content"),
    )
