"""Dedup and similarity queries: exact and near-duplicate detection
(MinHash, SimHash, LSH, set-similarity joins, span dedup), vector top-k and
IVF search, and semantic dedup.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from claimskg_generator_spark.operators.components import (
    dedup_corpus,
    dedup_groups,
)
from claimskg_generator_spark.operators.dedup import (
    duplicated_spans,
    exact_duplicates,
    md5_token_hash64,
    minhash_coefficients,
    minhash_lsh_pairs,
    minhash_lsh_pairs_checkable,
    minhash_lsh_pairs_cross,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from claimskg_generator_spark.operators.sampling import hash_gate
from claimskg_generator_spark.operators.setjoin import set_similarity_join
from claimskg_generator_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_cosine_pairs,
    random_projection,
    semantic_dedup,
)
from claimskg_generator_spark.queries import query
from claimskg_generator_spark.queries.common import _MD5_MOD_P, _goldens, _t


LSH_BANDS = 4
LSH_PLANES_PER_BAND = 8
LSH_THRESHOLD = 0.25
LSH_SEED = 11
EMB_DIM = 64

_SHINGLES3_SQL = """
    (SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)])
        ELSE [array_to_string(toks, ' ')] END AS sset
     FROM (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents))"""


def _q17_oracle_sql() -> str:
    """SQL twin of minhash_lsh_pairs_checkable: md5-mod-p shingle hashes,
    the same seeded universal-hash coefficients, banding, bucket self-join,
    candidates-only exact-Jaccard verify."""
    num_hashes, bands, rpb, thr = 32, 8, 4, 0.1
    coeffs = minhash_coefficients(num_hashes, seed=7)
    mins = [
        f"list_min(list_transform(xs, x -> (x * {a} + {b}) % 2147483647))"
        for a, b in coeffs
    ]
    band_cols = ",\n            ".join(
        "array_to_string([" + ", ".join(mins[j * rpb:(j + 1) * rpb])
        + f"], ',') AS band{j}"
        for j in range(bands)
    )
    banded_union = "\n            UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, band{j} AS key FROM sig"
        for j in range(bands)
    )
    return f"""
        WITH sh AS {_SHINGLES3_SQL},
        xs AS (SELECT doc_id,
                      list_transform(sset, s -> {_MD5_MOD_P.format(x='s')})
                      AS xs
               FROM sh),
        sig AS (SELECT doc_id,
            {band_cols}
            FROM xs),
        banded AS ({banded_union}),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.key = b.key
                  AND a.doc_id < b.doc_id),
        ver AS (SELECT c.id_a, c.id_b,
                       len(list_intersect(sa.sset, sb.sset)) AS common,
                       len(sa.sset) AS la, len(sb.sset) AS lb
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b,
               round(common::DOUBLE / (la + lb - common), 4) AS jaccard
        FROM ver
        WHERE round(common::DOUBLE / (la + lb - common), 4) >= {thr}
    """


@query("""
            WITH f AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                FROM documents)
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY fp) AS survivor_id,
                   CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp)
                        THEN 1 ELSE 0 END AS is_duplicate
            FROM f
        """)
def q08_exact_dedup(spark, sf_dir):
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return exact_duplicates(d).select("doc_id", "survivor_id", "is_duplicate")


@query("""
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
            c AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cosine
                FROM embeddings e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT *, (ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id))::INTEGER AS rank
                FROM c)
            WHERE rank <= 5
        """)
def q11_cosine_topk(spark, sf_dir):
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return cosine_topk(e, [0, 1, 2, 3, 4], k=5)


@query("""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           [array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)])) AS shingle
                FROM t),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b, common, jaccard FROM (
                SELECT id_a, id_b, common,
                       round(common::DOUBLE / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
                FROM pairs
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b)
            WHERE jaccard >= 0.1
        """)
def q12_ngram_jaccard(spark, sf_dir):
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return ngram_jaccard_pairs(d, n=3, threshold=0.1, max_df=100000)


@query(_q17_oracle_sql)
def q17_minhash_lsh(spark, sf_dir):
    """md5-hash variant: same LSH machinery as the production xxhash64 path
    but reproducible by the DuckDB oracle (dedup.py cross-engine section)."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return minhash_lsh_pairs_checkable(d, n=3, num_hashes=32, bands=8,
                                       verify_threshold=0.1, seed=7)


def _q18_oracle_sql() -> str:
    """SQL twin of simhash_near_dups(md5_token_hash64, max_hamming=3): the
    64-bit signature carried as two 32-bit halves (no signed-overflow
    packing needed), 4x16-bit pigeonhole chunks, exact hamming verify."""
    lo_votes = ",\n            ".join(
        f"sum(CASE WHEN (lo >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    )
    hi_votes = ",\n            ".join(
        f"sum(CASE WHEN (hi >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i + 32}"
        for i in range(32)
    )
    sh_lo = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    sh_hi = " + ".join(
        f"(CASE WHEN v{i + 32} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       string_split_regex(lower(trim(text)), '\\s+'))) AS t
            FROM documents),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                     ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
              FROM tok),
        v AS (SELECT doc_id,
            {lo_votes},
            {hi_votes}
            FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, {sh_lo} AS sh_lo, {sh_hi} AS sh_hi FROM v),
        c AS (SELECT doc_id, sh_lo, sh_hi,
                     sh_lo & 65535 AS c0, sh_lo >> 16 AS c1,
                     sh_hi & 65535 AS c2, sh_hi >> 16 AS c3
              FROM s)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               (bit_count(xor(a.sh_lo, b.sh_lo))
                + bit_count(xor(a.sh_hi, b.sh_hi)))::INT AS hamming
        FROM c a JOIN c b
          ON a.doc_id < b.doc_id
         AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
        WHERE bit_count(xor(a.sh_lo, b.sh_lo))
              + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
    """


@query(_q18_oracle_sql)
def q18_simhash(spark, sf_dir):
    """md5-token-hash variant (cross-engine checkable); recall guaranteed
    for hamming<=3 by 4-chunk pigeonhole."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return simhash_near_dups(d, max_hamming=3, token_hash=md5_token_hash64)


def _q19_oracle_sql() -> str:
    """DuckDB twin of lsh_cosine_pairs: the hyperplanes are a pure function
    of (seed, dim) via random.Random(seed).gauss consumed band 0 first, so
    the oracle embeds the SAME plane coefficients as SQL literals and
    reproduces per-band buckets, candidate dedup and verify relationally."""
    rng = random.Random(LSH_SEED)
    band_exprs = []
    for _ in range(LSH_BANDS):
        cases = []
        for _ in range(LSH_PLANES_PER_BAND):
            plane = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
            lit = "[" + ",".join(repr(x) for x in plane) + "]"
            cases.append(
                "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
                f"{lit}) >= 0 THEN '1' ELSE '0' END)"
            )
        band_exprs.append(" || ".join(cases))
    band_cols = ",\n               ".join(
        f"{e} AS b{j}" for j, e in enumerate(band_exprs)
    )
    cand_union = "\n                UNION ALL ".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM bk a JOIN bk b "
        f"ON a.b{j} = b.b{j} AND a.vec_id < b.vec_id"
        for j in range(LSH_BANDS)
    )
    return f"""
        WITH bk AS (SELECT vec_id,
               {band_cols}
               FROM embeddings),
        cand AS (SELECT DISTINCT id_a, id_b FROM (
                {cand_union}))
        SELECT c.id_a, c.id_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                            eb.embedding::DOUBLE[]), 4) AS cosine
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                           eb.embedding::DOUBLE[]), 4) >= {LSH_THRESHOLD}
    """


@query(_q19_oracle_sql)
def q19_lsh_cosine(spark, sf_dir):
    """Multi-band hyperplane LSH (b bands x r planes, like the MinHash
    banding) so bucket granularity scales with corpus size; exact cosine
    verify on deduped candidates only."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return lsh_cosine_pairs(e, bands=LSH_BANDS,
                            planes_per_band=LSH_PLANES_PER_BAND,
                            threshold=LSH_THRESHOLD,
                            seed=LSH_SEED, dim=EMB_DIM)


@query("""
            WITH cents AS (
                -- fixed-size hash-ordered sample: same rule as the engine's
                -- orderBy(md5(id)).limit(n_centroids)
                SELECT cent_id, cv FROM (
                    SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv,
                           md5(vec_id::VARCHAR) AS hk
                    FROM embeddings ORDER BY hk, cent_id LIMIT 32)),
            assigned AS (
                SELECT vec_id AS m_id, mv, cent_id AS m_cent FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS mv, c.cent_id,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                               list_cosine_similarity(e.embedding::DOUBLE[],
                                                      c.cv) DESC,
                               c.cent_id ASC) AS rn
                    FROM embeddings e, cents c)
                WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
            probes AS (
                SELECT query_id, qv, cent_id AS p_cent FROM (
                    SELECT q.query_id, q.qv, c.cent_id,
                           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                               list_cosine_similarity(q.qv, c.cv) DESC,
                               c.cent_id ASC) AS rn
                    FROM q, cents c)
                WHERE rn <= 4)
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT p.query_id, a.m_id AS neighbor_id,
                       round(list_cosine_similarity(a.mv, p.qv), 4) AS cosine,
                       (ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                           round(list_cosine_similarity(a.mv, p.qv), 4) DESC,
                           a.m_id ASC))::INTEGER AS rank
                FROM assigned a JOIN probes p ON a.m_cent = p.p_cent
                WHERE a.m_id <> p.query_id)
            WHERE rank <= 5
        """)
def q27_ivf_topk(spark, sf_dir):
    """IVF ANN (fixed-size hash-sampled coarse centroids, hash-agg argmax
    assignment, probe-limited exact search) — the second scale path for
    similarity search next to q19's LSH."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return ivf_topk(e, [0, 1, 2, 3, 4], k=5, n_centroids=32, n_probe=4)


def _q28_oracle_sql() -> str:
    # scale-keyed goldens (one list per scale, keyed by md5(text) of
    # doc 0 — row counts collide across scale dirs) so the same oracle
    # SQL is correct at the driver's sf0.01 AND the local entry-contract
    # sf0.001: the filter picks the golden matching the documents view
    # it actually runs against
    rows = ", ".join(
        f"('{n}', {a}, {b}, {j!r})"
        for n, pairs in _goldens()["q28"].items()
        for a, b, j in pairs
    )
    return f"""
        -- golden from oracle_corpus.minhash_lsh_pairs_py: the independent
        -- pure-Python twin of the xxhash64 production MinHash+LSH path
        -- (functions/xxh64.py stands in for Spark's xxhash64; bit-parity
        -- pinned by pytest).  Regenerate: scripts/gen_pipeline_goldens.py
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               jaccard::DOUBLE AS jaccard
        FROM (VALUES {rows}) AS t(sk, id_a, id_b, jaccard)
        WHERE sk = (SELECT md5(text) FROM documents WHERE doc_id = 0)
    """


@query(_q28_oracle_sql)
def q28_minhash_prod(spark, sf_dir):
    """PRODUCTION MinHash+LSH path (xxhash64 shingle hashes, pure-JVM
    signatures).  q17 is the md5 relational twin; THIS path is value-
    oracled against a checked-in golden from the independent pure-Python
    twin (oracle_corpus.minhash_lsh_pairs_py over functions/xxh64.py,
    regenerated by scripts/gen_pipeline_goldens.py)."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return minhash_lsh_pairs(d, n=3, num_hashes=32, bands=8,
                             verify_threshold=0.1)


def _q29_oracle_sql() -> str:
    rows = ", ".join(
        f"('{n}', {a}, {b}, {h})"
        for n, pairs in _goldens()["q29"].items()
        for a, b, h in pairs
    )
    return f"""
        -- golden from oracle_corpus.simhash_near_dups_py (pure-Python
        -- xxhash64 SimHash twin), scale-keyed by the doc-0 fingerprint;
        -- regenerate: scripts/gen_pipeline_goldens.py
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               hamming::INT AS hamming
        FROM (VALUES {rows}) AS t(sk, id_a, id_b, hamming)
        WHERE sk = (SELECT md5(text) FROM documents WHERE doc_id = 0)
    """


@query(_q29_oracle_sql)
def q29_simhash_prod(spark, sf_dir):
    """PRODUCTION SimHash path (xxhash64 token hashes); q18 is the md5
    relational twin, and this path is value-oracled against the
    pure-Python-twin golden (oracle_corpus.simhash_near_dups_py)."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return simhash_near_dups(d, max_hamming=3)


def _q30_oracle_sql() -> str:
    rows = ", ".join(
        f"('{n}', {q}, {m}, {c!r}, {r})"
        for n, recs in _goldens()["q30"].items()
        for q, m, c, r in recs
    )
    return f"""
        -- golden from oracle_corpus.ivf_topk_py: the Lloyd-1-trained IVF
        -- twin (cluster means quantized HALF_UP to 9 decimals on both
        -- engines, every other reduction a deterministic left fold),
        -- scale-keyed by the documents doc-0 fingerprint (the embeddings
        -- table travels with its scale dir).
        -- Regenerate: scripts/gen_pipeline_goldens.py
        SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
               cosine::DOUBLE AS cosine, rank::INT AS rank
        FROM (VALUES {rows}) AS t(sk, query_id, neighbor_id, cosine, rank)
        WHERE sk = (SELECT md5(text) FROM documents WHERE doc_id = 0)
    """


@query(_q30_oracle_sql)
def q30_ivf_trained(spark, sf_dir):
    """IVF ANN with ONE Lloyd (k-means) refinement pass over the
    hash-sampled init — the trained-centroid upgrade q27's docstring
    promises at 100 TB.  ``quantize_means=9`` rounds the one
    order-sensitive float reduction (the cluster-mean sum) HALF_UP, which
    makes the trained path deterministic across partitionings AND
    replayable by the driver-side twin (oracle_corpus.ivf_topk_py) — so
    this entry now carries a checked-in value golden instead of the
    rows-only check it shipped with through round 4; the
    recall-vs-brute-force pytest still pins retrieval quality."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return ivf_topk(e, [0, 1, 2, 3, 4], k=5, n_centroids=32, n_probe=4,
                    n_iters=1, quantize_means=9)


def _q34_oracle_sql() -> str:
    """q17's verified MinHash pair set closed into duplicate clusters by a
    recursive min-label walk (same closure as the q33 oracle); singleton
    representatives (id == canonical_id) included for every paired doc."""
    return f"""
        WITH RECURSIVE pairs AS ({_q17_oracle_sql()}),
        sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        walk(node, label) AS (
            SELECT u, u FROM sym
            UNION
            SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
            WHERE w.label < s.v
        )
        SELECT node AS id, min(label) AS canonical_id FROM walk GROUP BY node
    """


@query(_q34_oracle_sql)
def q34_dedup_groups(spark, sf_dir):
    """End-to-end near-dup GROUP resolution: the q17 MinHash+LSH verified
    pair stream collapsed into duplicate clusters by the large-star/
    small-star operator — (id, canonical_id) with canonical_id = the
    cluster minimum; rows with id == canonical_id are the keep set.
    Oracle: the q17 pair SQL feeding a recursive min-label closure."""
    pairs = q17_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    return dedup_groups(pairs)


def _q35_oracle_sql() -> str:
    """Survivor corpus: documents minus non-representative members of the
    q34 min-label closure clusters."""
    return f"""
        WITH RECURSIVE pairs AS ({_q17_oracle_sql()}),
        sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        walk(node, label) AS (
            SELECT u, u FROM sym
            UNION
            SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node
            WHERE w.label < s.v
        ),
        groups AS (SELECT node AS id, min(label) AS canonical_id
                   FROM walk GROUP BY node)
        SELECT d.doc_id, md5(d.text) AS text_md5
        FROM documents d
        WHERE d.doc_id NOT IN
              (SELECT id FROM groups WHERE id != canonical_id)
    """


@query(_q35_oracle_sql)
def q35_dedup_corpus(spark, sf_dir):
    """The dedup pipeline's final materialization: documents minus every
    non-representative near-dup cluster member (clusters from the q17
    verified pair stream).  Survivors keyed by doc_id + text md5 so the
    oracle hashes actual content identity, not just ids."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    pairs = q17_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    return dedup_corpus(docs, pairs).select(
        "doc_id", F.md5("text").alias("text_md5")
    )


@query(r"""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
            sp AS (
                SELECT doc_id,
                       unnest([md5(array_to_string(toks[i:i+7], ' '))
                               for i in range(1, len(toks) - 6)]) AS k
                FROM t WHERE len(toks) >= 8),
            hot AS (
                SELECT k FROM (SELECT k, count(*) AS c FROM sp GROUP BY 1)
                WHERE c >= 2),
            dc AS (
                SELECT doc_id, count(*) AS n_dup_spans
                FROM sp JOIN hot USING (k) GROUP BY 1),
            tot AS (
                SELECT doc_id,
                       greatest(len(toks) - 7, 0)::INT AS n_spans
                FROM t)
            SELECT tot.doc_id, n_spans,
                   coalesce(dc.n_dup_spans, 0) AS n_dup_spans,
                   round(CASE WHEN n_spans > 0
                         THEN coalesce(dc.n_dup_spans, 0)::DOUBLE / n_spans
                         ELSE 0.0 END, 4) AS dup_span_frac
            FROM tot LEFT JOIN dc ON tot.doc_id = dc.doc_id
        """)
def q47_duplicated_spans(spark, sf_dir):
    """Exact-substring span dedup profile (Lee et al. 2022 shape): every
    8-token window hashed; windows occurring 2+ times corpus-wide are
    duplicated spans (operators/dedup.py duplicated_spans)."""
    return duplicated_spans(
        spark.read.parquet(_t(sf_dir, "documents")), width=8
    )


@query("""
            WITH cents AS (
                SELECT cent_id, cv FROM (
                    SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv,
                           md5(vec_id::VARCHAR) AS hk
                    FROM embeddings ORDER BY hk, cent_id LIMIT 32)),
            assigned AS (
                SELECT vec_id AS m_id, mv, cent_id AS m_cent FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS mv, c.cent_id,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                               list_cosine_similarity(e.embedding::DOUBLE[],
                                                      c.cv) DESC,
                               c.cent_id ASC) AS rn
                    FROM embeddings e, cents c)
                WHERE rn = 1),
            prev AS (
                SELECT a.m_id AS id,
                       max(round(list_cosine_similarity(a.mv, b.mv), 4))
                           AS max_cos_prev
                FROM assigned a JOIN assigned b
                  ON a.m_cent = b.m_cent AND b.m_id < a.m_id
                GROUP BY a.m_id)
            SELECT a.m_id AS vec_id, a.m_cent AS cluster_id,
                   p.max_cos_prev,
                   (CASE WHEN p.max_cos_prev >= 0.40 THEN 0 ELSE 1
                    END)::INTEGER AS keep
            FROM assigned a LEFT JOIN prev p ON p.id = a.m_id
        """)
def q63_semantic_dedup(spark, sf_dir):
    """SemDeDup corpus pruning (Abbas et al. 2023): coarse-cluster the
    embedding corpus on the deterministic hash-sampled centroids, flag
    every vector within rounded-cosine 0.40 of a lower-id cluster member
    (keep-one-per-ε-ball; operators/similarity.semantic_dedup).  The
    0.40 threshold is tuned to the synthetic corpus's intra-cluster
    cosine range (max 0.475) so the drop path is actually exercised —
    real corpora would run ~0.95."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return semantic_dedup(e, n_centroids=32, threshold=0.40)


def _q70_oracle_sql() -> str:
    """Rademacher-projection twin: the ±1 matrix is regenerated from the
    SAME seeded stream as random_projection(seed=13) and the per-row dot
    product is written as the identical left-associated sum chain
    (0.0 + x_1*s_1 + ... ) so the doubles match bit-for-bit before the
    round(6)."""
    rng = random.Random(13)
    out_dim = 8
    scale = repr(1.0 / (out_dim ** 0.5))
    selects = []
    for j in range(out_dim):
        signs = [rng.choice((-1.0, 1.0)) for _ in range(EMB_DIM)]
        chain = "0.0" + "".join(
            f" + e[{i + 1}] * {s!r}" for i, s in enumerate(signs)
        )
        selects.append(
            f"SELECT vec_id, {j} AS out_idx,"
            f" round(({chain}) * {scale}, 6) AS value FROM v"
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                   FROM embeddings)
        {body}
    """


@query(_q70_oracle_sql)
def q70_random_projection(spark, sf_dir):
    """Deterministic Rademacher (±1) Johnson-Lindenstrauss projection of
    the 64-dim embeddings down to 8 dims (operators/similarity.
    random_projection) — a pure narrow map whose sign matrix is
    plan-time literals from one seeded stream, replayed by the SQL
    twin."""
    e = spark.read.parquet(_t(sf_dir, "embeddings"))
    return random_projection(e, out_dim=8, dim=EMB_DIM, seed=13)


@query(r"""
            WITH s AS (
                SELECT doc_id,
                       list_distinct(string_split_regex(trim(lower(text)),
                                                        '\s+')) AS toks
                FROM documents),
            p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.toks, b.toks))::DOUBLE AS i,
                       len(a.toks) AS na, len(b.toks) AS nb
                FROM s a JOIN s b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   round(i / (na + nb - i), 6) AS jaccard
            FROM p WHERE i / (na + nb - i) >= 0.9
        """)
def q71_set_similarity_join(spark, sf_dir):
    """EXACT token-set Jaccard self-join at 0.9 via prefix filtering
    (PPJoin-lite, operators/setjoin.py) — the lossless complement of
    the probabilistic MinHash/SimHash family."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return set_similarity_join(docs, threshold=0.9)


def _q73_oracle_sql() -> str:
    """Bipartite twin of _q17_oracle_sql: identical md5-mod-p signature
    and banding, but candidates join the 5%-gated reference side against
    the rest (the sides are disjoint, so no id ordering is needed)."""
    num_hashes, bands, rpb, thr = 32, 8, 4, 0.1
    coeffs = minhash_coefficients(num_hashes, seed=7)
    mins = [
        f"list_min(list_transform(xs, x -> (x * {a} + {b}) % 2147483647))"
        for a, b in coeffs
    ]
    band_cols = ",\n            ".join(
        "array_to_string([" + ", ".join(mins[j * rpb:(j + 1) * rpb])
        + f"], ',') AS band{j}"
        for j in range(bands)
    )
    banded_union = "\n            UNION ALL ".join(
        f"SELECT doc_id, gate, {j} AS band, band{j} AS key FROM sig"
        for j in range(bands)
    )
    return f"""
        WITH sh0 AS {_SHINGLES3_SQL},
        sh AS (SELECT doc_id,
                      substr(md5(doc_id::VARCHAR), 1, 4) < '0ccc' AS gate,
                      sset
               FROM sh0),
        xs AS (SELECT doc_id, gate,
                      list_transform(sset, s -> {_MD5_MOD_P.format(x='s')})
                      AS xs
               FROM sh),
        sig AS (SELECT doc_id, gate,
            {band_cols}
            FROM xs),
        banded AS ({banded_union}),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.key = b.key
                  AND a.gate AND NOT b.gate),
        ver AS (SELECT c.id_a, c.id_b,
                       len(list_intersect(sa.sset, sb.sset)) AS common,
                       len(sa.sset) AS la, len(sb.sset) AS lb
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b,
               round(common::DOUBLE / (la + lb - common), 4) AS jaccard
        FROM ver
        WHERE round(common::DOUBLE / (la + lb - common), 4) >= {thr}
    """


@query(_q73_oracle_sql)
def q73_minhash_cross(spark, sf_dir):
    """Cross-corpus MinHash dedup: which train documents are fuzzy
    near-dups of the hash-gated 5% reference split (bipartite banded
    bucket join, reference side broadcast; the probabilistic sibling of
    q58's exact-window decontamination).  checkable md5-mod-p hash
    family so the DuckDB twin replays the buckets byte-for-byte."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    gate = hash_gate(F.col("doc_id"), 0.05)
    return minhash_lsh_pairs_cross(
        docs.filter(gate), docs.filter(~gate),
        verify_threshold=0.1, checkable=True, broadcast_left=True,
    )
