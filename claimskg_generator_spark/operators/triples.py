"""Triple building blocks shared by every family emitter: the
(subj, pred, obj, okind) struct and the object-kind tags, plus the
duplicate-title alignment family.  The per-row families (SURVEY.md EP2)
are emitted in one explode by operators/row_triples.py; the mention and
keyword families live in operators/mentions.py and operators/keywords.py.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX

OKIND_URI = "uri"
OKIND_PLAIN = ""
OKIND_LANG_EN = "@en"


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def triple_struct(s, p, o, okind) -> Column:
    return F.struct(
        _c(s).alias("subj"), _c(p).alias("pred"),
        _c(o).alias("obj"), _c(okind).alias("okind"),
    )


def align_duplicated_triples(claims: DataFrame) -> DataFrame:
    """J6: owl:sameAs between creative works whose normalized titles match,
    oriented by processing order (reference :779-799).  Expressed as an
    equi-self-join on the normalized title — the blocking key — instead of
    the reference's O(n^2) loop; AQE skew-join handles hot titles."""
    # strip -> lower -> drop quotes, in the reference's exact order (:798-799);
    # strip must match Python str.strip() (Unicode whitespace)
    norm_title = F.translate(
        F.regexp_replace(F.lower(F.col("claim_text")), PY_STRIP_REGEX, ""), "\"'", ""
    )
    d = claims.select(norm_title.alias("nt"), "ord", "cw_uri")
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.nt") == F.col("b.nt")) & (F.col("a.ord") < F.col("b.ord")))
        .select(
            F.col("a.cw_uri").alias("subj"),
            F.lit(NS.OWL_SAME_AS).alias("pred"),
            F.col("b.cw_uri").alias("obj"),
            F.lit(OKIND_URI).alias("okind"),
        )
    )
