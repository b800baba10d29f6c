"""LLM-data-pipeline queries + DuckDB oracles over documents/embeddings.

Covers: text analysis (tokens, quality, language ID, fingerprint), dedup
(exact, Jaccard, MinHash signatures + LSH candidates, SimHash), similarity
search (brute-force cosine top-k, LSH-bucketed ANN), multimodal binary
plumbing. SQL-expressible ops carry exact oracles; the fake multimodal
codecs are gated by pinned parquet fixtures (``fixture_oracle``), with
golden tests in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from physioview_spark.llm import dedup, sampling, similarity, text
from physioview_spark.plans.common import fixture_oracle, read, read_fanned

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is None:
            # deterministic sf-independent queries (multimodal fake
            # codecs) are hash-gated by a pinned parquet fixture instead
            oracle_ = fixture_oracle(name)
        else:
            oracle_ = oracle
        if oracle_ is not None:
            ORACLE[name] = oracle_
        return fn
    return deco


# (doc_token_stats retired r09 — superseded by doc_bpe_token_stats,
# which exercises the same token_count path plus the BPE encoder;
# evicted to keep the declared window budget serving the new r09
# gates. VERDICT r08 item 2.)


@q("doc_weighted_sample", """
WITH t AS (
  SELECT doc_id, lang,
         ln((('0x' || substring(md5('42|' || CAST(doc_id AS VARCHAR)),
                                1, 15))::BIGINT + 1.0)
            / 1152921504606846976.0)
         / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY k DESC, doc_id) AS rn
  FROM t)
SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank
FROM r WHERE rn <= 25
""")
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (llm/sampling.py
    weighted_sample; first driver-gated r09 per VERDICT item 3):
    Efraimidis-Spirakis A-Res keyed by ln(u)/w with u from
    md5(seed|doc_id) and w = n_chars, top 25 per lang stratum. The
    per-stratum rank <= quota filter rewrites to WindowGroupLimit
    (partial per-mapper limits before the exchange); the u and key
    arithmetic is IEEE-identical in DuckDB (same hex-prefix integer,
    same double ops), so the oracle reproduces the exact sample."""
    docs = read(spark, sf_dir, "documents")
    out = sampling.weighted_sample(
        docs.withColumn("__w", F.col("n_chars").cast("double")),
        "__w", 25, strata_cols=["lang"], id_col="doc_id", seed=42)
    return out.select(
        "doc_id", "lang",
        F.col("sample_rank").cast("int").alias("sample_rank"))


@q("doc_quality_scores", """
WITH t AS (
  SELECT doc_id,
         (COALESCE(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')), 0) = 0)
           AS degen,  -- tokenless: NULL, empty, whitespace-only
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''),
             w -> list_contains(['the','and','of','to','is','in','that','it'], lower(w)))) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars_calc, n_tokens,
       CASE WHEN degen THEN NULL ELSE
         ROUND(CAST(n_alpha AS DOUBLE) / NULLIF(n_tokens, 0), 4) END AS mean_word_len,
       CASE WHEN degen THEN NULL ELSE
         ROUND(CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) END AS punct_ratio,
       CASE WHEN degen THEN NULL ELSE
         ROUND(CAST(n_digit AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) END AS digit_ratio,
       CASE WHEN degen THEN NULL ELSE
         ROUND(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0), 4) END AS stopword_ratio,
       CASE WHEN degen THEN NULL ELSE ROUND(
         LEAST(n_tokens / 50.0, 1.0) * 0.4
         + LEAST(ROUND(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0), 4) * 5.0, 1.0) * 0.3
         + (1.0 - LEAST(ROUND(CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) * 10.0, 1.0)) * 0.15
         + (1.0 - LEAST(ROUND(CAST(n_digit AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) * 5.0, 1.0)) * 0.15,
       4) END AS quality_score
FROM t
""")
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return text.quality_score(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "mean_word_len", "punct_ratio",
        "digit_ratio", "stopword_ratio", "quality_score",
    )


@q("doc_exact_dedup", """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents)
SELECT text_hash, COUNT(*) AS cluster_size, MIN(doc_id) AS keeper_id
FROM h GROUP BY text_hash
""")
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup clusters (singletons included so the output is stable
    even on a duplicate-free corpus)."""
    docs = read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


@q("doc_minhash_signatures", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
)
SELECT doc_id, CAST(seed AS BIGINT) AS seed,
       MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
FROM seeded GROUP BY doc_id, seed
""")
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 permutations via seeded md5 string-min) —
    engine-portable by construction."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return dedup.minhash_signatures(docs, k=3, num_hashes=8)


@q("doc_jaccard_pairs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
  WHERE doc_id < 50
), sh0 AS (
  SELECT DISTINCT doc_id,
         -- tier 4: tokenless doc -> one '' whole-text gram
         UNNEST(CASE WHEN len(t) = 0 THEN [''] ELSE t END)
             AS shingle
  FROM toks
), kept AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 20
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN kept USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) /
             NULLIF(sa.n_sh + sb.n_sh - n_common, 0), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / NULLIF(sa.n_sh + sb.n_sh - n_common, 0)
      >= 0.5
""")
def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard near-dup pairs on a doc_id<50 slice (the
    verifier for the LSH candidate path), with the hot-shingle guard
    (df > 20 of 50 docs pruned before the self-join) that keeps the
    candidate fan-out sub-quadratic on stopword-heavy corpora."""
    docs = read(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return dedup.jaccard_pairs(docs, k=1, threshold=0.5, max_doc_freq=20)


def _seed_codebook(emb: DataFrame) -> list[list[float]]:
    """Deterministic seed-vector codebook shared by the vector-family
    queries: NON-NULL embeddings of the even vec_ids < 16, in vec_id
    order (the oracle SQL rebuilds the same set from
    ``embeddings WHERE embedding IS NOT NULL`` — r18/ADVICE r17: a
    NULL embedding at a seed id used to raise TypeError here at
    plan-construction time, or shift centroid numbering vs the
    oracles' null-filtered cents).

    On an EMPTY corpus (no non-null embedding anywhere — a legal
    input, probed by the r17 empty-table sweep) returns one zero
    centroid sized to the corpus embedding dim (64): the downstream
    bucketing plan stays type-valid (literal centroid expressions
    never evaluate on zero rows) and the query returns an empty frame
    with the operator's exact schema, where [] raised IndexError at
    plan time. A corpus that HAS embeddings but none at the seed ids
    raises instead of silently degenerating to a dummy codebook that
    scores everything 0.0 while the oracles' empty cents CTE returns
    no rows (ADVICE r17 item 4)."""
    nonnull = emb.where(
        similarity.vector_is_finite(F.col("embedding")))
    rows = (  # cheap pushed id predicate FIRST: conjunct order is
        # preserved through CombineFilters and evaluation
        # short-circuits, so the 64-element finiteness HOF runs on 8
        # candidate rows instead of the whole corpus (measured r18:
        # 1.6 -> 0.3 s cold on the sf0.1 single-row-group scan)
        emb.where((F.col("vec_id") < 16) & (F.col("vec_id") % 2 == 0))
        .where(similarity.vector_is_finite(F.col("embedding")))
        .orderBy("vec_id").select("embedding").collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in rows]
    if seeds:
        return seeds
    if nonnull.select("embedding").limit(1).count() > 0:
        raise ValueError(
            "_seed_codebook: corpus has embeddings but none at the "
            "seed ids (even vec_id < 16) — pick seeds for this slice "
            "explicitly instead of inheriting the declared queries' "
            "fixed seed rule")
    return [[0.0] * 64]


@q("embedding_cosine_topk", """
WITH fin AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0),
q AS (SELECT vec_id, embedding FROM fin WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS sim
  FROM fin c, q
  WHERE q.vec_id != c.vec_id
)
SELECT query_id, match_id, sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, match_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
""")
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first 10 query vectors —
    JVM-side zip_with/aggregate dot products."""
    emb = read(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb.where(F.col("vec_id") < 10), emb, k=5
    )


@q("doc_language_id", """
WITH t AS (
  SELECT lang,
         list_transform(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''),
                                  x -> lower(x)) AS toks
  FROM documents
), sc AS (
  SELECT lang,
    len(list_intersect(toks, ['the','and','of','to','is','in','that','it'])) AS s_en,
    len(list_intersect(toks, ['el','la','de','que','y','en','los','por'])) AS s_es,
    len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit'])) AS s_de,
    len(list_intersect(toks, ['le','la','les','de','et','est','une','pour'])) AS s_fr
  FROM t
), p AS (
  SELECT lang, CASE
    WHEN s_de = g AND g > 0 THEN 'de'
    WHEN s_en = g AND g > 0 THEN 'en'
    WHEN s_es = g AND g > 0 THEN 'es'
    WHEN s_fr = g AND g > 0 THEN 'fr'
    ELSE 'unknown' END AS lang_pred
  FROM (SELECT *, GREATEST(s_en, s_es, s_de, s_fr) AS g FROM sc)
)
SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY lang, lang_pred
""")
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID vs the labeled lang column — the
    greatest-score + alphabetical-tie-break chain has an exact SQL twin
    (CASE ordered de/en/es/fr)."""
    docs = read(spark, sf_dir, "documents")
    out = text.detect_language(docs)
    return out.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    ).orderBy("lang", "lang_pred")


# (doc_fingerprints retired r11 — the MinHash fingerprint surface is
# already attested via doc_minhash_signatures and the winnowing family
# via doc_winnow_fingerprints; slot funds the doc_profile_drift gate.
# VERDICT r10 item 4.)


@q("doc_profile_drift", """
WITH b AS (
  -- a stddev within 1e-12 of the mean's magnitude is a constant
  -- column: no scale (profile_diff's rule)
  SELECT count(*) AS n,
         avg(doc_id) AS m_id,
         CASE WHEN stddev_samp(doc_id)
                   > greatest(abs(avg(doc_id)) * 1e-12, 1e-12)
              THEN stddev_samp(doc_id) END AS s_id,
         avg(n_chars) AS m_nc,
         CASE WHEN stddev_samp(n_chars)
                   > greatest(abs(avg(n_chars)) * 1e-12, 1e-12)
              THEN stddev_samp(n_chars) END AS s_nc,
         count(*) FILTER (WHERE doc_id IS NULL) AS nn_id,
         count(*) FILTER (WHERE lang IS NULL) AS nn_lang,
         count(*) FILTER (WHERE n_chars IS NULL) AS nn_nc
  FROM documents
), a AS (
  SELECT count(*) AS n,
         avg(doc_id) AS m_id,
         avg(CAST(n_chars AS DOUBLE)) AS m_nc,
         count(*) FILTER (WHERE doc_id IS NULL) AS nn_id,
         -- the degraded snapshot nulls lang on doc_id % 10 = 0 ON TOP
         -- of any lang already NULL in the corpus (r17 null axis: the
         -- old synthetic doc_id-formula assumed base lang never null)
         count(*) FILTER (WHERE doc_id % 10 = 0 OR lang IS NULL)
           AS nn_lang,
         count(*) FILTER (WHERE n_chars IS NULL) AS nn_nc
  FROM documents WHERE n_chars >= 300
)
SELECT 'doc_id' AS column, 'bigint' AS dtype_before,
       'bigint' AS dtype_after,
       -- rates are nulls/nullif(n, 0): on an empty table the delta is
       -- NULL, not 0.0 (matches profile_diff; r17 empty-table sweep)
       round(CAST(a.nn_id AS DOUBLE) / nullif(a.n, 0)
             - CAST(b.nn_id AS DOUBLE) / nullif(b.n, 0), 6)
         AS null_rate_delta,
       round((a.m_id - b.m_id) / b.s_id, 6) AS mean_shift_sds,
       concat_ws(',',
         CASE WHEN abs(round(CAST(a.nn_id AS DOUBLE) / nullif(a.n, 0)
                   - CAST(b.nn_id AS DOUBLE) / nullif(b.n, 0), 6)) > 0.01
              THEN 'null_rate' END,
         CASE WHEN abs(round((a.m_id - b.m_id) / b.s_id, 6)) > 0.5
              THEN 'mean_shift' END) AS flags
FROM b, a
UNION ALL
SELECT 'lang', 'string', 'string',
       round(CAST(a.nn_lang AS DOUBLE) / nullif(a.n, 0)
             - CAST(b.nn_lang AS DOUBLE) / nullif(b.n, 0), 6),
       CAST(NULL AS DOUBLE),
       CASE WHEN abs(round(CAST(a.nn_lang AS DOUBLE) / nullif(a.n, 0)
                 - CAST(b.nn_lang AS DOUBLE) / nullif(b.n, 0), 6)) > 0.01
            THEN 'null_rate' ELSE '' END
FROM b, a
UNION ALL
SELECT 'n_chars', 'bigint', 'double',
       round(CAST(a.nn_nc AS DOUBLE) / nullif(a.n, 0)
             - CAST(b.nn_nc AS DOUBLE) / nullif(b.n, 0), 6),
       round((a.m_nc - b.m_nc) / b.s_nc, 6),
       concat_ws(',', 'dtype_changed',
                 CASE WHEN abs(round(CAST(a.nn_nc AS DOUBLE) / nullif(a.n, 0)
                           - CAST(b.nn_nc AS DOUBLE) / nullif(b.n, 0), 6))
                        > 0.01 THEN 'null_rate' END,
                 CASE WHEN abs(round((a.m_nc - b.m_nc) / b.s_nc, 6)) > 0.5
                      THEN 'mean_shift' END)
FROM b, a
UNION ALL
SELECT 'new_metric', CAST(NULL AS VARCHAR), 'double',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), 'appeared'
UNION ALL
SELECT 'old_metric', 'double', CAST(NULL AS VARCHAR),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), 'vanished'
""")
def doc_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot drift gate (operators/validate.py
    profile -> profile_diff; first driver-gated r11 per VERDICT r10
    item 4): profile the documents corpus and a degraded re-snapshot —
    a quality filter (n_chars >= 300, decisive ~1.7 sd location shift
    on n_chars), deterministic NULL injection on lang (doc_id % 10),
    a bigint->double dtype change, and one appeared + one vanished
    column — then diff the two profiles. Exercises every flag class
    except `distinct`: the distinct delta rides Spark's HLL++ sketch,
    which no SQL engine reproduces bit-for-bit, so the gate disables
    that tolerance (distinct_rel_tol=1e18) and drops the column from
    the projection; distinct-drift stays pytest-gated
    (tests/test_corrections_ops.py::TestProfileDiff). Both profiles
    are single-scan wide aggregates; the diff is a column-count-bounded
    outer join — corpus cost is two scans regardless of width."""
    from physioview_spark.operators.validate import profile, profile_diff

    docs = read(spark, sf_dir, "documents")
    before = docs.select(
        "doc_id", "lang", "n_chars",
        F.lit(1.0).alias("old_metric"))
    after = (
        docs.where(F.col("n_chars") >= 300)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 != 0, F.col("lang")).alias("lang"),
            F.col("n_chars").cast("double").alias("n_chars"),
            F.lit(1.0).alias("new_metric"))
    )
    rep = profile_diff(profile(before), profile(after),
                       distinct_rel_tol=1e18)
    return (
        rep.select("column", "dtype_before", "dtype_after",
                   "null_rate_delta", "mean_shift_sds", "flags")
        .orderBy("column")
    )


@q("doc_simhash_near_dups", """
WITH ft AS (
  -- contract tier 4: tokenless (empty/whitespace-only) docs collapse
  -- to one '' whole-text gram so they keep a signature; NULL text
  -- propagates NULL and UNNESTs to no rows
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tk
  FROM documents
), toks AS (
  SELECT doc_id,
         UNNEST(list_transform(
             CASE WHEN len(tk) = 0 THEN [''] ELSE tk END,
             x -> lower(x))) AS tok
  FROM ft
), hashed AS (
  SELECT doc_id,
    (SELECT SUM((strpos('0123456789abcdef',
                        substring(md5(tok), j, 1)) - 1)
                * (1::BIGINT << ((8 - j) * 4)))
     FROM UNNEST(generate_series(1, 8)) AS t(j)) AS h
  FROM toks
), bits AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, UNNEST(generate_series(0, 31)) AS i(i)
  GROUP BY doc_id, i.i
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""")
def doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + pigeonhole-bucketed near-dup pairs. The
    oracle recomputes the signature bit-by-bit (manual hex decode — no
    conv() in DuckDB) and does the naive exact self-join; the pigeonhole
    bucketing returns the identical pair set by construction."""
    docs = read(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, max_hamming=2).orderBy("id_a", "id_b")


@q("doc_minhash_lsh_candidates", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
""")
def doc_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs (banded signatures; sub-quadratic scale
    path). Band hash = md5 of the sorted in-band minhashes — exact SQL
    twin; also verified against exact Jaccard in tests."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return dedup.minhash_lsh_candidates(docs, k=3, num_hashes=8, band_size=2)


@q("streaming_near_dup_pairs", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
""")
def streaming_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch unification for NEAR-dup dedup, hash-gated: the
    documents table is replayed as TWO micro-batches (split on doc_id
    parity) through the incremental MinHash-LSH operator
    (:func:`physioview_spark.streaming.streaming_near_dup_lsh` —
    foreachBatch against an accumulating band table), and the union of
    emitted pairs must equal the BATCH ``minhash_lsh_candidates`` over
    the whole corpus — the same oracle SQL as
    ``doc_minhash_lsh_candidates``. Cross-batch pairs (even doc vs odd
    doc) only exist if the accumulated-state join works.

    The scratch input/checkpoint/state live in a ``tempfile`` directory
    removed (and the managed band table dropped) before returning; the
    emitted pair list — candidate pairs only, a few dozen rows at any
    tested SF — is rehosted through the driver so the returned frame
    outlives the cleanup (same small-result pattern as the IVF codebook
    collect below)."""
    import shutil
    import tempfile

    from physioview_spark.streaming import (
        await_stream, drop_near_dup_state, streaming_near_dup_lsh,
    )

    docs = read(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="pv_stream_lsh_")
    try:
        # two files -> maxFilesPerTrigger=1 forces two micro-batches
        # with near-dups split across them
        (docs.where(F.col("doc_id") % 2 == 0).coalesce(1)
         .write.mode("append").parquet(f"{tmp}/in"))
        (docs.where(F.col("doc_id") % 2 == 1).coalesce(1)
         .write.mode("append").parquet(f"{tmp}/in"))
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in"))
        q = (streaming_near_dup_lsh(stream, f"{tmp}/state")
             .trigger(availableNow=True)
             .option("checkpointLocation", f"{tmp}/ckpt").start())
        await_stream(q)
        from pyspark.errors import AnalysisException

        try:
            out = spark.read.parquet(f"{tmp}/state/pairs") \
                .select("id_a", "id_b")
        except AnalysisException:
            # the operator creates the pairs dir on first emission — a
            # stream that never produced a candidate pair (e.g. an
            # empty corpus, r17 empty-table sweep) leaves it absent
            out = spark.createDataFrame([], "id_a long, id_b long")
        rows, schema = out.collect(), out.schema
    finally:
        drop_near_dup_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@q("doc_dup_clusters", """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS u, reach.r FROM edges e JOIN reach ON reach.u = e.u
), cc AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
), sized AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
)
SELECT cc.doc_id, cc.cluster_id,
       CAST(sized.cluster_size AS BIGINT) AS cluster_size,
       cc.doc_id = cc.cluster_id AS is_keeper
FROM cc JOIN sized USING (cluster_id)
""")
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: MinHash-LSH candidates →
    distributed connected components (min-label propagation, eagerly
    checkpointed per round) → cluster id / size / keeper flag. The keep
    policy a 100 TB curation pipeline actually needs — transitive dup
    groups collapse to one keeper even when A~B~C but A!~C. Oracle
    recomputes the components with a recursive CTE over the same LSH
    pair CTEs."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return dedup.dup_clusters(docs, k=3, num_hashes=8, band_size=2)


@q("doc_stratified_sample", """
WITH t AS (
  SELECT doc_id, lang,
         (COALESCE(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')), 0) = 0)
           AS degen,  -- tokenless: NULL, empty, whitespace-only
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''),
             w -> list_contains(['the','and','of','to','is','in','that','it'], lower(w)))) AS n_stop
  FROM documents WHERE lang IS NOT NULL
), s AS (
  SELECT doc_id, lang, CASE WHEN degen THEN NULL ELSE ROUND(
    LEAST(n_tokens / 50.0, 1.0) * 0.4
    + LEAST(ROUND(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0), 4) * 5.0, 1.0) * 0.3
    + (1.0 - LEAST(ROUND(CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) * 10.0, 1.0)) * 0.15
    + (1.0 - LEAST(ROUND(CAST(n_digit AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) * 5.0, 1.0)) * 0.15,
  4) END AS quality_score FROM t
), b AS (
  SELECT doc_id, lang,
         CAST(LEAST(FLOOR(COALESCE(quality_score, 0) * 5), 4) AS INT) AS q_bucket
  FROM s
), r AS (
  SELECT doc_id, lang, q_bucket,
         ROW_NUMBER() OVER (
           PARTITION BY lang, q_bucket
           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM b
)
SELECT doc_id, lang, q_bucket, CAST(rn AS INT) AS sample_rank
FROM r WHERE rn <= 20
""")
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified quota sample: up to 20 docs per
    (language, quality-bucket) stratum, ordered by a seeded hash of the
    doc id so the sample is reproducible on any partitioning. The
    ``rank <= quota`` filter compiles to Spark's WindowGroupLimit — a
    partial per-mapper top-k BEFORE the shuffle, so at 100 TB the
    exchange carries O(mappers x strata x quota) rows, not the corpus."""
    docs = read(spark, sf_dir, "documents")
    scored = text.quality_score(docs).withColumn(
        "quality_score", F.coalesce("quality_score", F.lit(0.0))
    )
    bucketed = scored.select(
        "doc_id", "lang", sampling.quality_bucket("quality_score", 5)
    )
    return sampling.stratified_sample(
        bucketed, ["lang", "q_bucket"], quota=20, seed=42
    )


@q("doc_token_budget_sample", """
WITH t AS (
  SELECT doc_id, lang,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE lang IS NOT NULL
), r AS (
  SELECT doc_id, lang, n_tokens, h,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS tokens_before
  FROM t
)
SELECT lang, doc_id, n_tokens, CAST(tokens_before AS BIGINT) AS tokens_before
FROM r WHERE tokens_before < 2000
""")
def doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum TOKEN-budget sampling (the domain-mixing primitive:
    "N tokens of each language", not "N documents"): docs taken in
    seeded-hash order until the language's cumulative token count
    crosses 2000. Exact mode = hash-ordered running-sum window per
    stratum; the corpus-scale rate mode (no window, stateless
    hash-threshold after a tiny per-stratum total aggregate) holds its
    expected-budget bound in pytest."""
    docs = read(spark, sf_dir, "documents")
    return sampling.token_budget_sample(docs, ["lang"], 2000, seed=42)


@q("doc_trigram_typicality", """
WITH g AS (
  SELECT doc_id, substring(lower(text), i.i, 3) AS tg
  FROM documents, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(text) - 2, 0))) AS i) i
), dg AS (
  SELECT doc_id, tg, CAST(COUNT(*) AS DOUBLE) AS m FROM g GROUP BY doc_id, tg
), cnt AS (
  SELECT tg, SUM(m) AS c FROM dg GROUP BY tg
), topk AS (
  SELECT tg, c FROM cnt ORDER BY c DESC, tg ASC LIMIT 4096
), gl AS (
  SELECT (SELECT SUM(c) FROM cnt) AS t,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM cnt) AS nd,
         (SELECT SUM(c) FROM topk) AS topm,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM topk) AS nk
), sc AS (
  SELECT dg.doc_id, CAST(SUM(dg.m) AS BIGINT) AS n_trigrams,
         ROUND(-(SUM(dg.m * log2(
                   COALESCE(topk.c, (gl.t - gl.topm)
                            / GREATEST(gl.nd - gl.nk, 1.0)) / gl.t))
                 / SUM(dg.m)), 6) AS avg_neg_log2p
  FROM dg LEFT JOIN topk USING (tg), gl
  GROUP BY dg.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_trigrams, 0) AS n_trigrams,
       s.avg_neg_log2p
FROM documents d LEFT JOIN sc s USING (doc_id)
""")
def doc_trigram_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality scoring without an external model: mean
    negative log2-probability of each doc's character trigrams under
    the corpus trigram distribution, BOUNDED for scale: exact counts
    for the 4096 most frequent trigrams (deterministic tie-break); the
    tail scores through one residual probability, the mean tail count
    (tail mass / distinct tail types). The counts table is
    therefore <= 4097 rows and broadcast — no corpus-sized shuffle on
    the Zipfian trigram key; the per-doc join input is pre-aggregated
    to (doc, trigram) multiplicities, sub-linear in text length."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return text.trigram_typicality(docs, top_k=4096)


@q("doc_strip_boilerplate", """
WITH ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS ll FROM documents
), l AS (
  SELECT doc_id, ll[g.i] AS line, g.i AS pos
  FROM ls, LATERAL (
    SELECT UNNEST(generate_series(1, len(ll))) AS i) g
), hot AS (
  SELECT line FROM l GROUP BY line HAVING COUNT(*) >= 3
), kept AS (
  SELECT doc_id, pos, line FROM l
  WHERE line NOT IN (SELECT line FROM hot)
), reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(r.text_clean, '') AS text_clean,
       COALESCE(t.n_lines, 0) AS n_lines,
       COALESCE(t.n_lines, 0) - COALESCE(r.n_kept, 0) AS n_boilerplate
FROM documents d
LEFT JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id)
""")
def doc_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup: strip every line occurring >= 3
    times across the corpus, preserving surviving-line order. The count
    and anti-join both key on xxhash64(line) (8 bytes, never the string)
    with no forced broadcast — AQE broadcasts a genuinely small hot set
    and falls back to a shuffled anti-join on the hash otherwise."""
    docs = read(spark, sf_dir, "documents")
    return text.strip_boilerplate_lines(docs, min_repeats=3)


@q("doc_model_quality", """
WITH t AS (
  SELECT doc_id,
         (COALESCE(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')), 0) = 0)
           AS degen,  -- tokenless: NULL, empty, whitespace-only
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''),
             w -> list_contains(['the','and','of','to','is','in','that','it'], lower(w)))) AS n_stop
  FROM documents
), feats AS (
  SELECT doc_id, n_tokens,
         CASE WHEN degen THEN NULL ELSE
           ROUND(CAST(n_alpha AS DOUBLE) / NULLIF(n_tokens, 0), 4) END AS mean_word_len,
         CASE WHEN degen THEN NULL ELSE
           ROUND(CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) END AS punct_ratio,
         CASE WHEN degen THEN NULL ELSE
           ROUND(CAST(n_digit AS DOUBLE) / NULLIF(n_chars_calc, 0), 4) END AS digit_ratio,
         CASE WHEN degen THEN NULL ELSE
           ROUND(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0), 4) END AS stopword_ratio
  FROM t
), ch AS (
  SELECT doc_id, substring(text, i.i, 1) AS c
  FROM documents, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(text), 1))) AS i) i
  WHERE len(text) > 0
), cnt AS (
  SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS n
  FROM ch GROUP BY doc_id, c
), ent AS (
  SELECT doc_id,
         ROUND(log2(CAST(SUM(n) AS DOUBLE)) - SUM(n * log2(n)) / SUM(n), 6)
           AS entropy_bits
  FROM cnt GROUP BY doc_id
), lg AS (
  SELECT f.doc_id,
         ROUND(-3.0
               + 0.02 * COALESCE(f.n_tokens, 0)
               + 3.0 * COALESCE(f.stopword_ratio, 0)
               - 4.0 * COALESCE(f.punct_ratio, 0)
               - 2.0 * COALESCE(f.digit_ratio, 0)
               - 0.3 * COALESCE(f.mean_word_len, 0)
               + 0.8 * COALESCE(e.entropy_bits, 0), 6) AS model_logit
  FROM feats f LEFT JOIN ent e USING (doc_id)
)
SELECT doc_id, model_logit,
       ROUND(1.0 / (1.0 + exp(-model_logit)), 6) AS model_prob,
       model_logit >= 0.0 AS keep
FROM lg
""")
def doc_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier stage of
    an LLM curation pipeline, served as pure column arithmetic
    (:func:`physioview_spark.llm.text.score_linear`): engineered
    features (token stats + char entropy) through a fixed logistic
    model, keep = prob >= 0.5. Zero shuffles beyond the entropy
    aggregate; the scoring projection fuses into codegen."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    feats = text.quality_score(docs).select(
        "doc_id", "n_tokens", "mean_word_len", "punct_ratio",
        "digit_ratio", "stopword_ratio")
    ent = text.char_entropy(docs).select("doc_id", "entropy_bits")
    joined = feats.join(ent, "doc_id", "left")
    scored = text.score_linear(
        joined,
        weights={"n_tokens": 0.02, "stopword_ratio": 3.0,
                 "punct_ratio": -4.0, "digit_ratio": -2.0,
                 "mean_word_len": -0.3, "entropy_bits": 0.8},
        intercept=-3.0)
    return scored.select(
        "doc_id", "model_logit", "model_prob",
        (F.col("model_logit") >= 0.0).alias("keep"))


@q("doc_char_entropy", """
WITH ch AS (
  SELECT doc_id, substring(text, i.i, 1) AS c
  FROM documents, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(text), 1))) AS i) i
  WHERE len(text) > 0
), cnt AS (
  SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS n
  FROM ch GROUP BY doc_id, c
), agg AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
         SUM(n * log2(n)) AS clogc
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_chars, 0) AS n_chars,
       COALESCE(a.n_distinct_chars, 0) AS n_distinct_chars,
       ROUND(log2(CAST(a.n_chars AS DOUBLE)) - a.clogc / a.n_chars, 6)
         AS entropy_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
""")
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document (bits/char) — the
    curation signal for gibberish/encoded blobs. Exact-count relational
    form: (doc, char) explode with map-side combine (first shuffle
    bounded by docs x alphabet, not text length), then
    log2(N) - sum(c*log2 c)/N."""
    docs = read(spark, sf_dir, "documents")
    return text.char_entropy(docs)


@q("doc_token_budget_rate", """
WITH t AS (
  SELECT doc_id, lang,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE lang IS NOT NULL
), tot AS (
  SELECT lang, SUM(n_tokens) AS total FROM t GROUP BY lang
), f AS (
  SELECT t.lang, t.doc_id, t.n_tokens,
         (SELECT SUM((strpos('0123456789abcdef',
                             substring(t.h, j.j, 1)) - 1)
                     * (1::BIGINT << ((8 - j.j) * 4)))
          FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0
           AS frac,
         LEAST(1.0, 2000.0 / tot.total) AS rate
  FROM t JOIN tot USING (lang)
)
SELECT lang, doc_id, n_tokens FROM f WHERE frac < rate
""")
def doc_token_budget_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of token-budget sampling, hash-gated: a tiny
    per-stratum total-token aggregate sets a keep-rate, then a STATELESS
    seeded-hash threshold keeps ~budget tokens per stratum — no window,
    no per-stratum serial scan. The hash fraction (8 md5 hex digits /
    2^32) and the rate division are bit-identical doubles in both
    engines, so the filter is engine-portable at the boundary."""
    docs = read(spark, sf_dir, "documents")
    return sampling.token_budget_sample(
        docs, ["lang"], 2000, seed=42, mode="rate")


@q("doc_pack_sequences", """
WITH t AS (
  SELECT doc_id,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), sh AS (
  SELECT doc_id, n_tokens, h,
         CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 4
              AS BIGINT) AS shard
  FROM t
), c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_offset
  FROM sh
)
SELECT doc_id, shard, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS seq_id
FROM c
""")
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing into 4 shards x 256-token context
    windows: md5-sharded, hash-ordered, head-to-tail running token
    offsets. One shuffle + per-shard running sum; no global sort. The
    oracle rebuilds the md5 shard digits and the running sum in SQL."""
    docs = read(spark, sf_dir, "documents")
    return sampling.pack_sequences(docs, ctx_len=256, n_shards=4, seed=42)


@q("doc_materialize_packed", """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS toks,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE doc_id % 5 = 0
), sh AS (
  SELECT doc_id, toks, h,
         CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 4
              AS BIGINT) AS shard,
         COALESCE(CAST(len(toks) AS BIGINT), 0) AS nt
  FROM t
), c AS (
  SELECT doc_id, toks, shard,
         SUM(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
           AS off
  FROM sh
), tok AS (
  SELECT shard, toks[i.i] AS tk, c.off + i.i - 1 AS g
  FROM c, UNNEST(generate_series(1, len(toks))) AS i(i)
), vocab AS (
  SELECT tk, CAST(ROW_NUMBER() OVER (ORDER BY tk) AS INT) AS tid
  FROM (SELECT DISTINCT tk FROM tok)
), rl AS (
  SELECT t.shard, CAST(FLOOR(g / 64.0) AS BIGINT) AS seq_id,
         CAST(g % 64 AS INT) AS slot, v.tid AS token_id
  FROM tok t JOIN vocab v USING (tk)
), nr AS (
  SELECT shard, seq_id, CAST(COUNT(*) AS INT) AS n_real
  FROM rl GROUP BY shard, seq_id
)
SELECT shard, seq_id, n_real, slot, token_id FROM (
  SELECT r.shard, r.seq_id, nr.n_real, r.slot, r.token_id
  FROM rl r JOIN nr USING (shard, seq_id)
  UNION ALL
  SELECT nr.shard, nr.seq_id, nr.n_real, CAST(s.s AS INT) AS slot,
         0 AS token_id
  FROM nr, UNNEST(generate_series(0, 63)) AS s(s)
  WHERE s.s >= nr.n_real
)
""")
def doc_materialize_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized token-id grid (llm/sampling.py
    materialize_packed — the terminal dataloader artifact): a 1/5
    modulo slice of the documents table, whitespace-tokenized, packed
    head-to-tail into 4 shards x 64-token context windows with an
    auto-derived alphabetical vocabulary and pad_id 0. Declared output
    is the grid FLATTENED to (shard, seq_id, n_real, slot, token_id)
    rows (scalar-only contract); the oracle rebuilds the md5 shard
    digits, the per-shard running offsets, the vocabulary ranks, and
    the padding tail entirely in SQL, so every slot of every window
    hash-matches."""
    from physioview_spark.llm.text import tokens

    docs = read(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 5 == 0)
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    grid = sampling.materialize_packed(
        toks, tokens_col="toks", ctx_len=64, n_shards=4, pad_id=0)
    return grid.select(
        "shard", "seq_id", "n_real",
        F.posexplode("token_ids").alias("slot", "token_id"))


@q("doc_script_profile", """
WITH c AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS lat,
         length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g'))
           AS cjk,
         length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g'))
           AS cyr,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS dig
  FROM documents
)
SELECT doc_id,
       COALESCE(ROUND(lat / CAST(NULLIF(n, 0) AS DOUBLE), 6), 0.0)
         AS frac_latin,
       COALESCE(ROUND(cjk / CAST(NULLIF(n, 0) AS DOUBLE), 6), 0.0)
         AS frac_cjk,
       COALESCE(ROUND(cyr / CAST(NULLIF(n, 0) AS DOUBLE), 6), 0.0)
         AS frac_cyrillic,
       COALESCE(ROUND(dig / CAST(NULLIF(n, 0) AS DOUBLE), 6), 0.0)
         AS frac_digit,
       CASE WHEN n = 0 THEN 'none'
            WHEN lat >= cjk AND lat >= cyr THEN 'latin'
            WHEN cjk >= cyr THEN 'cjk'
            ELSE 'cyrillic' END AS dominant_script
FROM c
""")
def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per document (Latin/CJK/Cyrillic/digit
    fractions + dominant script) — the mixed-script spam signal. One
    codegen'd projection of JVM regex counts; no shuffle."""
    docs = read(spark, sf_dir, "documents")
    return text.script_profile(docs)


@q("doc_dedup_delta", """
WITH newd AS (
  SELECT * FROM documents WHERE doc_id % 5 = 0
), corp AS (
  SELECT * FROM documents WHERE doc_id % 5 <> 0
), exact AS (
  SELECT n.doc_id, MIN(c.doc_id) AS exact_id
  FROM newd n JOIN corp c ON md5(n.text) = md5(c.text)
  GROUP BY n.doc_id
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT bn.doc_id AS nid, bc.doc_id AS cid
  FROM bands bn JOIN bands bc
    ON bn.band = bc.band AND bn.band_hash = bc.band_hash
  WHERE bn.doc_id % 5 = 0 AND bc.doc_id % 5 <> 0
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT cand.nid, cand.cid, COUNT(*) AS n_common
  FROM cand
  JOIN sh a ON a.doc_id = cand.nid
  JOIN sh b ON b.doc_id = cand.cid AND b.shingle = a.shingle
  GROUP BY cand.nid, cand.cid
), jac AS (
  SELECT i.nid, i.cid,
         ROUND(i.n_common /
               CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE), 6) AS j
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.nid
  JOIN sizes sb ON sb.doc_id = i.cid
), best AS (
  SELECT nid, cid, j FROM (
    SELECT nid, cid, j,
           ROW_NUMBER() OVER (PARTITION BY nid
                              ORDER BY j DESC, cid) AS rn
    FROM jac WHERE j >= 0.5
  ) WHERE rn = 1
)
SELECT n.doc_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'drop_exact'
            WHEN b.cid IS NOT NULL THEN 'drop_near_dup'
            ELSE 'keep' END AS decision,
       COALESCE(e.exact_id, b.cid) AS match_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 1.0 ELSE b.j END AS jaccard
FROM newd n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN best b ON b.nid = n.doc_id
""")
def doc_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch (doc_id % 5 = 0) against the
    reference corpus (the rest): one-sided exact hash join + one-sided
    MinHash-LSH band join with exact-Jaccard verification on the
    candidates only — no corpus self-join. decision/match_id/jaccard
    per new doc."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.dedup_delta(new, corpus, threshold=0.5)


@q("doc_vocabulary_topk", """
WITH w AS (
  SELECT UNNEST(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS word
  FROM documents WHERE trim(text) <> ''
), c AS (
  SELECT word, COUNT(*) AS freq FROM w GROUP BY word
), tot AS (
  SELECT SUM(freq) AS total FROM c
), ranked AS (
  SELECT word, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS INT)
           AS rank,
         SUM(freq) OVER (ORDER BY freq DESC, word
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
)
SELECT word, freq, rank,
       ROUND(cum / CAST((SELECT total FROM tot) AS DOUBLE), 6)
         AS cum_frac
FROM ranked WHERE rank <= 50
""")
def doc_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (top-50 tokens) with deterministic rank
    and cumulative corpus coverage — explode + map-side-combined type
    counts, WindowGroupLimit top-k, broadcast 1-row total."""
    docs = read(spark, sf_dir, "documents")
    return text.vocabulary_topk(docs, k=50)


@q("doc_mixture_sample", """
WITH t AS (
  SELECT doc_id, lang,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), w(lang, w) AS (
  VALUES ('de', 0.25), ('en', 0.25), ('es', 0.25), ('fr', 0.25)
), c AS (
  SELECT t.lang, SUM(n_tokens) AS m, ANY_VALUE(w.w) AS w
  FROM t JOIN w USING (lang) GROUP BY t.lang
  HAVING SUM(n_tokens) > 0
), tt AS (
  SELECT MIN(m / w) AS T FROM c
), r AS (
  SELECT lang, ((SELECT T FROM tt) * w) / m AS rate FROM c
)
SELECT t.lang, t.doc_id, t.n_tokens
FROM t JOIN r USING (lang)
WHERE (SELECT SUM((strpos('0123456789abcdef',
                          substring(t.h, j.j, 1)) - 1)
                  * (1::BIGINT << ((8 - j.j) * 4)))
       FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0
      < r.rate
""")
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling domain-mixture sampling: the largest token-weighted
    sub-corpus with an exact 25/25/25/25 lang mixture over de/en/es/fr
    (zh untargeted -> dropped), gated by a stateless seeded hash. One
    tiny per-domain aggregate + a broadcast rate join; no window, no
    corpus shuffle beyond the aggregate."""
    docs = text.token_count(read(spark, sf_dir, "documents"))
    out = sampling.mixture_sample(
        docs, "lang",
        {"de": 0.25, "en": 0.25, "es": 0.25, "fr": 0.25},
        weight_col="n_tokens", seed=42)
    return out.select("lang", "doc_id", "n_tokens")


@q("doc_passage_dedup", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tk
  FROM documents
), ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(tk[(i * 16 + 1):(i * 16 + 16)], ' ') AS passage
  FROM t, UNNEST(generate_series(
        0, CAST(ceil(len(tk) / 16.0) AS INT) - 1)) AS g(i)
  WHERE len(tk) > 0
), fl AS (
  SELECT doc_id, pos, passage,
         COUNT(*) OVER (PARTITION BY passage) AS occ,
         ROW_NUMBER() OVER (PARTITION BY passage
                            ORDER BY doc_id, pos) AS rn
  FROM ch
), agg AS (
  SELECT doc_id,
         COUNT(*) AS n_passages,
         CAST(SUM(CASE WHEN occ > 1 AND rn > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_removed,
         COALESCE(string_agg(
           CASE WHEN occ = 1 OR rn = 1 THEN passage END, ' '
           ORDER BY pos), '') AS text_dedup
  FROM fl GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(agg.n_passages, 0) AS n_passages,
       COALESCE(agg.n_removed, 0) AS n_removed,
       COALESCE(agg.text_dedup, '') AS text_dedup
FROM documents d LEFT JOIN agg USING (doc_id)
""")
def doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-passage removal with reassembly (Lee et al. 2021
    substring dedup at fixed 16-token windows): every repeated window
    keeps only its first (doc, pos) occurrence corpus-wide; documents
    are stitched back from surviving windows. Hash-grouped occurrence
    agg + one join back on the 16-byte key; no window over occurrences."""
    docs = read(spark, sf_dir, "documents")
    return dedup.dedup_passages(docs, passage_tokens=16)


@q("doc_repetition_stats", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
), g2 AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 2 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 1), ' ') END AS g
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 1, 1))) AS i) gi
), c2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
), s2 AS (
  SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_2gram_frac
  FROM c2 GROUP BY doc_id
), g3 AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS g
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) gi
), c3 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g
), s3 AS (
  SELECT doc_id,
         ROUND((SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE), 6) AS dup_3gram_frac
  FROM c3 GROUP BY doc_id
)
SELECT s2.doc_id, top_2gram_frac, dup_3gram_frac
FROM s2 JOIN s3 USING (doc_id)
""")
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: most-frequent-2-gram
    fraction and duplicate-3-gram fraction per document. Linear explode +
    partial-aggregable groupBys, no self-join."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return text.repetition_stats(docs)


@q("doc_token_chunks", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
), nc AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= 32 THEN 1
              ELSE CAST(CEIL((len(t) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
  FROM toks
), ch AS (
  SELECT doc_id, t, CAST(ci AS BIGINT) AS chunk_id
  FROM nc, LATERAL (SELECT UNNEST(generate_series(0, n_chunks - 1)) AS ci) g
)
SELECT doc_id, chunk_id,
       -- DuckDB's array_to_string([]) is NULL, Spark's array_join([]) is
       -- '': coalesce so an empty doc's single chunk has empty text
       COALESCE(array_to_string(
         list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '), '')
         AS chunk_text,
       CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT)
         AS chunk_tokens
FROM ch
""")
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows (32 tokens, stride 24 — 8-token overlap)
    for context-window packing. Pure 1-to-N explode from the in-place
    token array: zero shuffles, pipelines into downstream stages."""
    docs = read(spark, sf_dir, "documents")
    return text.token_chunks(docs, chunk_size=32, stride=24)


@q("doc_pii_scrub", """
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS scrub_hash
FROM documents
""")
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / NANP phones / IPv4) with per-type counts;
    the scrubbed text is hashed for compact comparison. All JVM regex —
    whole-stage codegen, no Python in the path. (The synthetic corpus is
    PII-free, so counts are zero here; tests/test_llm.py exercises real
    matches.)"""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return text.pii_scrub(docs).select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5("text_scrubbed").alias("scrub_hash"),
    )


@q("doc_decontaminate", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), hits AS (
  SELECT tr.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_common
  FROM sh tr JOIN sh b ON tr.shingle = b.shingle
  WHERE b.doc_id % 25 = 0 AND tr.doc_id % 25 <> 0
  GROUP BY tr.doc_id, b.doc_id
  HAVING COUNT(*) >= 3
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_docs,
       CAST(MAX(n_common) AS BIGINT) AS max_overlap
FROM hits GROUP BY doc_id
""")
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 3 distinct
    3-gram shingles with any 'benchmark' doc (deterministic eval slice:
    doc_id % 25 == 0). Bench shingles broadcast; the corpus side streams
    through the hash join with no corpus-wide shuffle."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    bench = docs.where(F.col("doc_id") % 25 == 0)
    train = docs.where(F.col("doc_id") % 25 != 0)
    return dedup.decontaminate(train, bench, k=3, min_hits=3)


@q("embedding_ann_lsh", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH planes AS (
  SELECT pp.p AS p, ii.i AS i,
    (SELECT SUM((strpos('0123456789abcdef',
                        substring(md5('h' || CAST(pp.p AS VARCHAR) || '|'
                                  || CAST(ii.i AS VARCHAR)), j.j, 1)) - 1)
                * (1::BIGINT << ((8 - j.j) * 4)))
     FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0 - 0.5 AS comp
  FROM UNNEST(generate_series(0, 7)) AS pp(p),
       UNNEST(generate_series(0, 63)) AS ii(i)
), pvec AS (
  SELECT p, list(comp ORDER BY i) AS h FROM planes GROUP BY p
), bucketed AS (
  SELECT e.vec_id, e.embedding, p.p // 4 AS band,
         CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.h) >= 0
                       THEN (1::BIGINT << (3 - (p.p % 4))) ELSE 0 END)
              AS INT) AS bucket
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, pvec p
  GROUP BY e.vec_id, e.embedding, p.p // 4
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id
  FROM bucketed c
  JOIN bucketed q ON c.band = q.band AND c.bucket = q.bucket
  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
), scored AS (
  SELECT cand.query_id, cand.match_id,
         ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]), 6) AS sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.match_id
)
SELECT query_id, match_id, sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, match_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
""")
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (deterministic md5 hyperplanes),
    multi-band OR-of-ANDs: 2 bands x 4 planes, candidates deduped on
    (query, match) before the exact re-rank. The md5-derived hyperplanes
    reproduce bit-for-bit in any engine, so the oracle recomputes the
    exact per-band bucket ids, the distinct candidate set, and the
    re-rank in SQL; recall vs brute force asserted in tests."""
    emb = read(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb.where(F.col("vec_id") < 10), emb, k=5, n_planes=4, dim=64,
        n_bands=2,
    )


@q("embedding_ann_ivf", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn FROM dists)
  WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
        FROM dists WHERE vec_id < 10)
  WHERE rn <= 3
), scored AS (
  SELECT p.query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(p.qv::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS sim
  FROM assigned c JOIN probes p
    ON c.bucket = p.bucket AND p.query_id != c.vec_id
)
SELECT query_id, match_id, sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, match_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
""")
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid (pure JVM argmin
    expressions), queries probe their n_probe closest buckets and re-rank
    exactly — the tunable-recall scale path next to LSH.

    This driver-checked variant anchors the coarse quantizer on a
    deterministic seed-vector codebook (embeddings of the 8 lowest even
    vec_ids) so the oracle can rebuild the identical index in SQL; the
    k-means-trained codebook path (train_ivf_centroids, pyspark.ml) runs
    the same ivf_topk mechanics and holds its recall bound in pytest."""
    emb = read_fanned(spark, sf_dir, "embeddings", "vec_id")
    cents = _seed_codebook(emb)
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") < 10), emb, cents, k=5, n_probe=3
    )


@q("embedding_semantic_dedup", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn FROM dists)
  WHERE rn = 1
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM assigned lo JOIN assigned hi
    ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
   AND ROUND(list_cosine_similarity(lo.embedding::DOUBLE[],
                                    hi.embedding::DOUBLE[]), 6) >= 0.95
)
SELECT a.vec_id, CAST(a.bucket AS INT) AS bucket
FROM assigned a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
UNION ALL
-- dedup KEEPS excluded (NULL/non-finite) vectors: nothing to compare
-- them with, so they are trivially unique (bucket NULL — the engine's
-- finiteness-gated assign yields NULL for them)
SELECT vec_id, CAST(NULL AS INT) AS bucket
FROM embeddings WHERE embedding IS NULL
   OR len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0
""")
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF-bucket by nearest centroid
    (deterministic seed-vector codebook, same as ``embedding_ann_ivf``),
    score cosine pairs only within buckets, drop vectors with a
    lower-id near-duplicate (keep-first). The oracle rebuilds the
    quantizer, the within-bucket pair set, and the anti-join in SQL."""
    emb = read_fanned(spark, sf_dir, "embeddings", "vec_id")
    cents = _seed_codebook(emb)
    return similarity.semantic_dedup(emb, cents, threshold=0.95)


@q("embedding_ann_pq", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS e
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), sub AS (
  SELECT v.vec_id, j.j AS sub, c.cid,
         list_distance(list_slice(v.embedding::DOUBLE[],
                                  j.j * 8 + 1, j.j * 8 + 8),
                       list_slice(c.e, j.j * 8 + 1, j.j * 8 + 8)) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) v, cents c, UNNEST(generate_series(0, 7)) AS j(j)
), codes AS (
  SELECT vec_id, sub, cid AS code
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d, cid) AS rn FROM sub)
  WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, j.j AS sub, c.cid AS code,
         ROUND(list_dot_product(list_slice(q.embedding::DOUBLE[],
                                           j.j * 8 + 1, j.j * 8 + 8),
                                list_slice(c.e, j.j * 8 + 1, j.j * 8 + 8)),
               9) AS dp
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) q, cents c, UNNEST(generate_series(0, 7)) AS j(j)
  WHERE q.vec_id < 10
), scored AS (
  SELECT l.query_id, co.vec_id AS match_id, ROUND(SUM(l.dp), 6) AS score
  FROM codes co JOIN lut l ON l.sub = co.sub AND l.code = co.code
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, match_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
""")
def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llm/pq.py): split dim 64 into m=8
    subspaces, encode every corpus vector as 8 nearest-subcentroid
    codes (a 32x storage shrink), then score 10 queries by asymmetric
    distance — per-query lookup tables of subspace dot products,
    summed by a pure-JVM ``aggregate`` of ``element_at`` lookups; no
    reconstruction, no Python in the corpus-sized path.

    This driver-checked variant anchors the codebooks on deterministic
    seed vectors (subspace slices of the 8 lowest even vec_ids, the
    ``embedding_ann_ivf`` convention) so the oracle can rebuild the
    identical index in SQL; the k-means-trained codebook path
    (train_pq, pyspark.ml) runs the same encode/ADC mechanics and
    holds its recall bound in pytest (tests/test_llm.py)."""
    from physioview_spark.llm import pq

    emb = read_fanned(spark, sf_dir, "embeddings", "vec_id")
    seeds = _seed_codebook(emb)
    d = len(seeds[0]) // 8
    codebooks = [[s[j * d:(j + 1) * d] for s in seeds] for j in range(8)]
    codes = pq.encode_pq(emb, codebooks)
    return pq.pq_topk(
        codes, emb.where(F.col("vec_id") < 10), codebooks, k=5)


@q("embedding_ann_ivfpq", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS e
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), dists AS (
  SELECT v.vec_id, c.cid,
         list_distance(v.embedding::DOUBLE[], c.e) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) v, cents c
), assigned AS (
  SELECT vec_id, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn FROM dists)
  WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
        FROM dists WHERE vec_id < 10)
  WHERE rn <= 3
), sub AS (
  SELECT v.vec_id, j.j AS sub, c.cid,
         list_distance(list_slice(v.embedding::DOUBLE[],
                                  j.j * 8 + 1, j.j * 8 + 8),
                       list_slice(c.e, j.j * 8 + 1, j.j * 8 + 8)) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) v, cents c, UNNEST(generate_series(0, 7)) AS j(j)
), codes AS (
  SELECT vec_id, sub, cid AS code
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d, cid) AS rn FROM sub)
  WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, j.j AS sub, c.cid AS code,
         ROUND(list_dot_product(list_slice(q.embedding::DOUBLE[],
                                           j.j * 8 + 1, j.j * 8 + 8),
                                list_slice(c.e, j.j * 8 + 1, j.j * 8 + 8)),
               9) AS dp
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) q, cents c, UNNEST(generate_series(0, 7)) AS j(j)
  WHERE q.vec_id < 10
), scored AS (
  SELECT l.query_id, co.vec_id AS match_id, ROUND(SUM(l.dp), 6) AS score
  FROM probes p
  JOIN assigned a ON a.bucket = p.bucket
  JOIN codes co ON co.vec_id = a.vec_id
  JOIN lut l ON l.query_id = p.query_id
            AND l.sub = co.sub AND l.code = co.code
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, match_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, match_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
""")
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llm/pq.py ivfpq_topk — the FAISS IndexIVFPQ shape):
    a coarse quantizer routes each query to its 3 nearest buckets, and
    PQ asymmetric-distance scoring runs only over those buckets' codes
    — per-query cost drops from O(N) lookups to O(N * n_probe /
    n_cells) while storage stays m bytes per vector.

    Driver-checked with BOTH codebooks anchored on the deterministic
    seed vectors (coarse = full seed embeddings, PQ = their subspace
    slices) so the oracle rebuilds the identical two-level index in
    SQL; the trained path (train_ivf_centroids + train_pq) holds its
    recall bound in pytest."""
    from physioview_spark.llm import pq

    emb = read_fanned(spark, sf_dir, "embeddings", "vec_id")
    seeds = _seed_codebook(emb)
    d = len(seeds[0]) // 8
    codebooks = [[s[j * d:(j + 1) * d] for s in seeds] for j in range(8)]
    codes = pq.encode_pq(emb, codebooks).withColumn(
        "bucket", similarity.assign_ivf_bucket(F.col("embedding"), seeds))
    return pq.ivfpq_topk(
        codes, emb.where(F.col("vec_id") < 10), seeds, codebooks,
        k=5, n_probe=3)


@q("embedding_semantic_dedup_delta", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn FROM dists)
  WHERE rn = 1
), nb AS (
  SELECT * FROM assigned WHERE vec_id % 8 = 0
), cb AS (
  SELECT * FROM assigned WHERE vec_id % 8 != 0
), corp_best AS (
  SELECT vec_id, mid, sim FROM (
    SELECT n.vec_id, c.vec_id AS mid,
           ROUND(list_cosine_similarity(n.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6) AS sim,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
                              ORDER BY ROUND(list_cosine_similarity(
                                  n.embedding::DOUBLE[],
                                  c.embedding::DOUBLE[]), 6) DESC,
                              c.vec_id) AS rn
    FROM nb n JOIN cb c ON n.bucket = c.bucket
    WHERE ROUND(list_cosine_similarity(n.embedding::DOUBLE[],
                                       c.embedding::DOUBLE[]), 6) >= 0.95
  ) WHERE rn = 1
), batch_best AS (
  SELECT vec_id, mid, sim FROM (
    SELECT hi.vec_id, lo.vec_id AS mid,
           ROUND(list_cosine_similarity(lo.embedding::DOUBLE[],
                                        hi.embedding::DOUBLE[]), 6) AS sim,
           ROW_NUMBER() OVER (PARTITION BY hi.vec_id
                              ORDER BY ROUND(list_cosine_similarity(
                                  lo.embedding::DOUBLE[],
                                  hi.embedding::DOUBLE[]), 6) DESC,
                              lo.vec_id) AS rn
    FROM nb lo JOIN nb hi
      ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
    WHERE ROUND(list_cosine_similarity(lo.embedding::DOUBLE[],
                                       hi.embedding::DOUBLE[]), 6) >= 0.95
  ) WHERE rn = 1
)
SELECT n.vec_id,
       CASE WHEN c.mid IS NOT NULL THEN 'drop_corpus_dup'
            WHEN b.mid IS NOT NULL THEN 'drop_batch_dup'
            ELSE 'keep' END AS decision,
       COALESCE(c.mid, b.mid, -1) AS match_id,
       COALESCE(c.sim, b.sim, -1.0) AS sim
FROM nb n
LEFT JOIN corp_best c ON c.vec_id = n.vec_id
LEFT JOIN batch_best b ON b.vec_id = n.vec_id
UNION ALL
-- dedup KEEPS excluded (NULL/non-finite) NEW-BATCH vectors as
-- trivially-unique 'keep' decisions. Latent r17 hole the null axis
-- could never see: vec_id % 10 = 3 (its NULL ids) and % 8 = 0 (the
-- delta slice) have no common solution, so the missing branch only
-- surfaces under the extremes axis' coprime moduli
SELECT vec_id, 'keep' AS decision,
       CAST(-1 AS BIGINT) AS match_id, -1.0 AS sim
FROM embeddings
WHERE vec_id % 8 = 0
  AND (embedding IS NULL
       OR len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0)
""")
def embedding_semantic_dedup_delta(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (llm/similarity.py semantic_dedup_delta):
    a 1/8 modulo slice of the embeddings table plays the daily delta,
    the remaining 7/8 the already-ingested corpus. One decision row per
    delta vector — drop_corpus_dup / drop_batch_dup / keep, with the
    best match and sim — computed one-sided: the corpus never re-pairs
    with itself, and the runtime broadcast-semi-join prefilter moves
    only touched buckets (measured flat against a 10x corpus,
    PLANS.md). Nullable match columns are coalesced to -1 so the
    declared output stays scalar-only and null-free."""
    emb = read_fanned(spark, sf_dir, "embeddings", "vec_id")
    cents = _seed_codebook(emb)
    out = similarity.semantic_dedup_delta(
        emb.where(F.col("vec_id") % 8 == 0),
        emb.where(F.col("vec_id") % 8 != 0),
        cents, threshold=0.95)
    return out.select(
        "vec_id", "decision",
        F.coalesce("match_id", F.lit(-1)).alias("match_id"),
        F.coalesce("sim", F.lit(-1.0)).alias("sim"))


@q("streaming_semantic_dedup", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings WHERE vec_id < 16 AND vec_id % 2 = 0
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS d
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, cents c
), assigned AS (
  SELECT vec_id, embedding, CAST(vec_id % 2 AS INT) AS batch,
         cid AS bucket
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn FROM dists)
  WHERE rn = 1
), corp_best AS (
  SELECT vec_id, mid, sim FROM (
    SELECT n.vec_id, c.vec_id AS mid,
           ROUND(list_cosine_similarity(n.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6) AS sim,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
                              ORDER BY ROUND(list_cosine_similarity(
                                  n.embedding::DOUBLE[],
                                  c.embedding::DOUBLE[]), 6) DESC,
                              c.vec_id) AS rn
    FROM assigned n JOIN assigned c
      ON n.bucket = c.bucket AND c.batch < n.batch
    WHERE ROUND(list_cosine_similarity(n.embedding::DOUBLE[],
                                       c.embedding::DOUBLE[]), 6) >= 0.95
  ) WHERE rn = 1
), batch_best AS (
  SELECT vec_id, mid, sim FROM (
    SELECT hi.vec_id, lo.vec_id AS mid,
           ROUND(list_cosine_similarity(lo.embedding::DOUBLE[],
                                        hi.embedding::DOUBLE[]), 6) AS sim,
           ROW_NUMBER() OVER (PARTITION BY hi.vec_id
                              ORDER BY ROUND(list_cosine_similarity(
                                  lo.embedding::DOUBLE[],
                                  hi.embedding::DOUBLE[]), 6) DESC,
                              lo.vec_id) AS rn
    FROM assigned lo JOIN assigned hi
      ON lo.bucket = hi.bucket AND lo.batch = hi.batch
     AND lo.vec_id < hi.vec_id
    WHERE ROUND(list_cosine_similarity(lo.embedding::DOUBLE[],
                                       hi.embedding::DOUBLE[]), 6) >= 0.95
  ) WHERE rn = 1
)
SELECT n.vec_id,
       CASE WHEN c.mid IS NOT NULL THEN 'drop_corpus_dup'
            WHEN b.mid IS NOT NULL THEN 'drop_batch_dup'
            ELSE 'keep' END AS decision,
       COALESCE(c.mid, b.mid, -1) AS match_id,
       COALESCE(c.sim, b.sim, -1.0) AS sim
FROM assigned n
LEFT JOIN corp_best c ON c.vec_id = n.vec_id
LEFT JOIN batch_best b ON b.vec_id = n.vec_id
UNION ALL
-- dedup KEEPS excluded (NULL/non-finite) vectors: nothing to compare
-- them with, so every such batch row is a trivially-unique 'keep'
SELECT vec_id, 'keep' AS decision,
       CAST(-1 AS BIGINT) AS match_id, -1.0 AS sim
FROM embeddings WHERE embedding IS NULL
   OR len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0
""")
def streaming_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch unification for SEMANTIC dedup, hash-gated: the
    embeddings table replays as TWO micro-batches (vec_id parity, even
    file written first) through the incremental SemDeDup operator
    (:func:`physioview_spark.streaming.embeddings
    .streaming_semantic_dedup` — foreachBatch against an accumulating
    bucketed vector table). The oracle recomputes every decision in
    SQL from the batch order: a drop_corpus_dup needs a same-bucket
    >=0.95 match in an EARLIER batch (best sim, ties on lowest id), a
    drop_batch_dup a lower-id match within the SAME batch — so
    cross-batch decisions only hash-match if the accumulated-state
    join works. Scratch input/checkpoint/state live in a tempfile dir
    removed (and the managed vector table dropped) before returning;
    decisions are rehosted through the driver (same pattern as
    ``streaming_near_dup_pairs``)."""
    import shutil
    import tempfile

    from physioview_spark.streaming import await_stream
    from physioview_spark.streaming.embeddings import (
        drop_semantic_state, streaming_semantic_dedup as stream_op,
    )

    emb = read(spark, sf_dir, "embeddings")
    cents = _seed_codebook(emb)
    tmp = tempfile.mkdtemp(prefix="pv_stream_sem_")
    try:
        (emb.where(F.col("vec_id") % 2 == 0).coalesce(1)
         .write.mode("append").parquet(f"{tmp}/in"))
        (emb.where(F.col("vec_id") % 2 == 1).coalesce(1)
         .write.mode("append").parquet(f"{tmp}/in"))
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in"))
        q_ = (stream_op(stream, f"{tmp}/state", cents, threshold=0.95)
              .trigger(availableNow=True)
              .option("checkpointLocation", f"{tmp}/ckpt").start())
        await_stream(q_)
        from pyspark.errors import AnalysisException

        try:
            dec = spark.read.parquet(f"{tmp}/state/decisions")
        except AnalysisException:
            # no batch ever wrote a decision (empty corpus, r17
            # empty-table sweep) — the dir is created on first write
            dec = spark.createDataFrame(
                [], "vec_id long, decision string, "
                    "match_id long, sim double")
        out = dec.select("vec_id", "decision",
                         F.coalesce("match_id", F.lit(-1))
                         .alias("match_id"),
                         F.coalesce("sim", F.lit(-1.0)).alias("sim"))
        rows, schema = out.collect(), out.schema
    finally:
        drop_semantic_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@q("jsonl_roundtrip", """
SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 7 = 0
""")
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source, hash-gated end to end: a 1/7 slice of the
    documents table is written as JSONL shards (sources/jsonl.py
    write_jsonl) into a tempfile dir and read back through the
    schema-enforced PERMISSIVE loader (load_jsonl); the oracle is the
    source slice itself, so ANY corruption in serialization, escaping,
    or parsing breaks the value hash. The quarantine side must come
    back empty (asserted — a non-empty quarantine would silently
    shrink the good frame and fail on row count anyway). Rows are
    rehosted through the driver so the returned frame outlives the
    tempdir cleanup (the streaming-query pattern); the slice is
    bounded at any tested SF."""
    import shutil
    import tempfile

    from physioview_spark.sources.jsonl import load_jsonl, write_jsonl

    docs = read(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 7 == 0) \
        .select("doc_id", "text", "lang", "source",
                F.col("n_chars").cast("long").alias("n_chars"))
    tmp = tempfile.mkdtemp(prefix="pv_jsonl_")
    try:
        write_jsonl(docs, f"{tmp}/out", n_files=2)
        good, quarantine = load_jsonl(spark, f"{tmp}/out",
                                      schema=docs.schema)
        assert quarantine.limit(1).count() == 0
        rows, schema = good.collect(), good.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@q("doc_validate_report", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN lang IS NOT NULL
                              THEN 0 ELSE 1 END), 0) AS BIGINT)
           AS lang_present_violations,
       CAST(COALESCE(SUM(CASE WHEN n_chars = length(text)
                              THEN 0 ELSE 1 END), 0) AS BIGINT)
           AS n_chars_consistent_violations,
       CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL AND length(text) > 0
                              THEN 0 ELSE 1 END), 0) AS BIGINT)
           AS text_present_violations
FROM documents
""")
def doc_validate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations
    (operators/validate.py:validate) over the documents table: three
    named rules evaluated in ONE map-side-combinable projection — a
    1-row report, no shuffle of the data. Null rule results count as
    violations; counts coalesce to 0 on empty input (r08 fix)."""
    from physioview_spark.operators.validate import validate

    docs = read(spark, sf_dir, "documents")
    rep = validate(docs, {
        "lang_present": F.col("lang").isNotNull(),
        "n_chars_consistent": F.col("n_chars") == F.length("text"),
        "text_present": F.col("text").isNotNull() & (F.length("text") > 0),
    })
    return rep.select(
        "n_rows",
        F.col("lang_present_violations").cast("long")
        .alias("lang_present_violations"),
        F.col("n_chars_consistent_violations").cast("long")
        .alias("n_chars_consistent_violations"),
        F.col("text_present_violations").cast("long")
        .alias("text_present_violations"))


@q("multimodal_audio_features")
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio binary-column plumbing: real RIFF/WAVE decode (stdlib
    ``wave``) for most rows, the PVAU test codec and a truncated payload
    for the legacy and corrupt paths; loudness/duration/zero-crossing
    features via row-local mapInPandas."""
    from physioview_spark.llm.multimodal import (
        encode_fake_audio, encode_wav, extract_audio_features,
    )

    rows = []
    for i in range(32):
        if i % 8 == 7:        # legacy in-house codec path
            p = encode_fake_audio(i, seconds=0.5)
        elif i % 8 == 3:      # real stereo WAV, averaged to mono
            p = encode_wav(i, seconds=0.5, channels=2)
        else:                 # real mono WAV
            p = encode_wav(i, seconds=0.5)
        if i == 30:           # corrupt: truncated inside the header
            p = p[:20]
        rows.append((i, bytearray(p)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    return extract_audio_features(df).orderBy("doc_id")


@q("multimodal_video_frames")
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame with
    motion deltas (UDTF-shaped mapInPandas). Most rows are REAL
    YUV4MPEG2 streams (stdlib-parseable raw-plane container); the PVVD
    test codec and a truncated stream cover legacy and corrupt paths."""
    from physioview_spark.llm.multimodal import (
        encode_fake_video, encode_y4m, sample_video_frames,
    )

    rows = []
    for i in range(16):
        if i % 5 == 4:        # legacy in-house codec path
            p = encode_fake_video(i, n_frames=24, fps=12.0)
        else:                 # real Y4M stream
            p = encode_y4m(i, n_frames=24, fps_num=12)
        if i == 13:           # corrupt: truncated mid-frame
            p = p[: len(p) // 2]
        rows.append((i, bytearray(p)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    return sample_video_frames(df, every_k=4).orderBy("doc_id", "frame_idx")


@q("multimodal_image_features")
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode/feature plumbing via mapInPandas (deterministic
    fake codec; corrupt payloads surface as valid=false rows)."""
    from physioview_spark.llm.multimodal import extract_image_features, fake_image_table

    imgs = fake_image_table(spark, n=64, corrupt_every=10)
    return extract_image_features(imgs).orderBy("doc_id")


@q("multimodal_image_dedup_decisions")
def multimodal_image_dedup_decisions(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Cluster-exact image dedup: perceptual-hash near-dup pairs ->
    connected components -> keep/drop decision for EVERY image
    (singletons included) via the generic
    :func:`physioview_spark.llm.dedup.cluster_decisions` composition —
    the same decision shape the text curation pipeline emits, over a
    binary modality."""
    from physioview_spark.llm.dedup import cluster_decisions
    from physioview_spark.llm.multimodal import (
        fake_image_near_dup_table, image_near_dups,
    )

    imgs = fake_image_near_dup_table(spark, n_base=48, n_dups=16)
    pairs = image_near_dups(imgs, max_hamming=6)
    return cluster_decisions(pairs, imgs).orderBy("doc_id")


# (multimodal_video_near_dups retired r12 — driver-green r09-r11; its
# engine path is the SAME hamming_banded_pairs call as the image and
# audio legs, so three driver attestations of one engine were
# redundant. The video leg keeps its brute-force Hamming parity gate in
# tests/test_llm.py::test_video_near_dups_exact_hamming_parity. The
# freed slot funds multimodal_blocks_near_dups below — the r11
# generalized-pigeonhole scale gear, previously pytest-only.)


@q("multimodal_blocks_near_dups")
def multimodal_blocks_near_dups(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The r11 ``blocks=(b, q)`` generalized-pigeonhole scale gear of
    :func:`physioview_spark.llm.dedup.hamming_banded_pairs`, driver-
    gated: the image near-dup corpus through ``blocks=(8, 2)`` (28
    two-block keys, recall-guaranteed because q=2 <= b - max_hamming=2).
    By the pigeonhole recall proof + exact popcount verify the pair set
    is IDENTICAL to ``multimodal_image_near_dups``'s default
    single-chunk gear, so the pinned fixture oracle is the same pair
    table — a hash gate that the scale gear and the default gear agree
    bit-for-bit on a real corpus, not just in the pytest parity
    configs."""
    from physioview_spark.llm.multimodal import (
        fake_image_near_dup_table, image_near_dups,
    )

    imgs = fake_image_near_dup_table(spark, n_base=48, n_dups=16)
    return image_near_dups(imgs, max_hamming=6,
                           blocks=(8, 2)).orderBy("id_a", "id_b")


@q("multimodal_audio_near_dups")
def multimodal_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection: 64-bit energy-delta fingerprints
    over decoded PCM (gain/DC invariant, mapInPandas) through the shared
    pigeonhole Hamming engine. Fixture plants 12 transcoded +
    gain-shifted + noised copies that byte-exact dedup cannot match;
    brute-force Hamming parity is pytest-asserted."""
    from physioview_spark.llm.multimodal import (
        audio_near_dups, fake_audio_near_dup_table,
    )

    clips = fake_audio_near_dup_table(spark, n_base=32, n_dups=12)
    return audio_near_dups(clips, max_hamming=6).orderBy("id_a", "id_b")


@q("multimodal_image_near_dups")
def multimodal_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection tying the multimodal decode seam
    to the dedup suite: 64-bit average-hash over the decoded luma plane
    (mapInPandas, no shuffle), Hamming-banded candidate pairs through
    the shared pigeonhole engine, exact popcount verify. Fixture plants
    16 perturbed near-dup variants; parity with brute-force exact
    Hamming is pytest-asserted (tests/test_llm.py)."""
    from physioview_spark.llm.multimodal import (
        fake_image_near_dup_table, image_near_dups,
    )

    imgs = fake_image_near_dup_table(spark, n_base=48, n_dups=16)
    return image_near_dups(imgs, max_hamming=6).orderBy("id_a", "id_b")


@q("embedding_near_dup_pairs", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH planes AS (
  SELECT pp.p AS p, ii.i AS i,
    (SELECT SUM((strpos('0123456789abcdef',
                        substring(md5('h' || CAST(pp.p AS VARCHAR) || '|'
                                  || CAST(ii.i AS VARCHAR)), j.j, 1)) - 1)
                * (1::BIGINT << ((8 - j.j) * 4)))
     FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0 - 0.5 AS comp
  FROM UNNEST(generate_series(0, 11)) AS pp(p),
       UNNEST(generate_series(0, 63)) AS ii(i)
), pvec AS (
  SELECT p, list(comp ORDER BY i) AS h FROM planes GROUP BY p
), signs AS (
  SELECT e.vec_id, p.p AS p,
         CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.h) >= 0
              THEN 1 ELSE 0 END AS s
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, pvec p
), banded AS (
  SELECT vec_id, CAST(p // 3 AS INT) AS band,
         CAST(SUM(s * (1 << (2 - (p % 3)))) AS INT) AS bucket
  FROM signs GROUP BY vec_id, band
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM (
  SELECT id_a, id_b,
         ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b
) WHERE sim >= 0.35
""")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with multi-band LSH (4 bands
    x 3 planes, OR-of-ANDs) so only same-bucket pairs are compared — the
    embedding leg of the dedup suite. Deterministic md5 hyperplanes make
    the banded candidate set and re-rank exactly SQL-reproducible; recall
    vs brute force is asserted in tests."""
    emb = read(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.51) — 0.35 marks the top ~0.1% of pairs as "near-dups"
    return similarity.embedding_near_dups(
        emb, threshold=0.35, n_planes=3, dim=64, n_bands=4
    ).orderBy("id_a", "id_b")


@q("embedding_knn_graph", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH planes AS (
  SELECT pp.p AS p, ii.i AS i,
    (SELECT SUM((strpos('0123456789abcdef',
                        substring(md5('h' || CAST(pp.p AS VARCHAR) || '|'
                                  || CAST(ii.i AS VARCHAR)), j.j, 1)) - 1)
                * (1::BIGINT << ((8 - j.j) * 4)))
     FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0 - 0.5 AS comp
  FROM UNNEST(generate_series(0, 11)) AS pp(p),
       UNNEST(generate_series(0, 63)) AS ii(i)
), pvec AS (
  SELECT p, list(comp ORDER BY i) AS h FROM planes GROUP BY p
), signs AS (
  SELECT e.vec_id, p.p AS p,
         CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.h) >= 0
              THEN 1 ELSE 0 END AS s
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) e, pvec p
), banded AS (
  SELECT vec_id, CAST(p // 3 AS INT) AS band,
         CAST(SUM(s * (1 << (2 - (p % 3)))) AS INT) AS bucket
  FROM signs GROUP BY vec_id, band
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), scored AS (
  SELECT id_a, id_b,
         ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b
), sym AS (
  SELECT id_a AS vec_id, id_b AS neighbor_id, sim FROM scored
  UNION ALL
  SELECT id_b AS vec_id, id_a AS neighbor_id, sim FROM scored
)
SELECT vec_id, neighbor_id, sim, rank FROM (
  SELECT vec_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, neighbor_id)
              AS INT) AS rank
  FROM sym
) WHERE rank <= 3
""")
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph (k=3) over the embeddings table: multi-band
    LSH candidates (4 bands x 3 md5 hyperplanes, same machinery as
    embedding_near_dup_pairs), each unordered pair cosine-scored once,
    mirrored, then per-node top-k via WindowGroupLimit. Deterministic:
    rounded-cosine ties break on neighbor id."""
    emb = read(spark, sf_dir, "embeddings")
    return similarity.knn_graph(
        emb, k=3, n_planes=3, dim=64, n_bands=4)


@q("embedding_label_centroids", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH ex AS (
  SELECT label, j.j - 1 AS idx, (embedding::DOUBLE[])[j.j] AS x
  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings, UNNEST(generate_series(1, 64)) AS j(j)
), m AS (
  SELECT label, idx, AVG(x) AS mx FROM ex GROUP BY label, idx
), n AS (
  SELECT label, COUNT(*) AS n_vecs FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings GROUP BY label
)
SELECT n.label, n.n_vecs, m.idx, ROUND(m.mx, 6) AS value
FROM n JOIN m USING (label)
""")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vectors (class prototypes / codebook training
    without a driver collect): posexplode to (label, idx, x), map-side
    combinable avg per (label, idx) - the exchange carries labels x dim
    rows. Components rounded to 6 so the float sum order across
    partitions cannot leak. Declared output is FLATTENED to
    (label, n_vecs, idx, value) rows — the driver's pandas
    canonicalizer cannot sort array cells (r07 lesson; see
    doc_bpe_encode's integers+strings contract) — while the library
    function (llm/similarity.py label_centroids) keeps its
    array<double> centroid return for programmatic use."""
    emb = read(spark, sf_dir, "embeddings")
    cents = similarity.label_centroids(emb)
    return cents.select(
        "label", "n_vecs",
        F.posexplode("centroid").alias("idx", "value"))


@q("embedding_quantize_int8", """
-- excluded-vector contract (r17 null-axis, r18 extremes): NULL or
-- non-finite vectors join neither side of any similarity computation
WITH t AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                x -> isnan(x) OR isinf(x))) = 0) embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
  FROM t
)
SELECT vec_id,
       ROUND(sc, 9) AS q_scale,
       j.j - 1 AS idx,
       CASE WHEN sc = 0 THEN CAST(0 AS TINYINT)
            ELSE CAST(round(e[j.j] / sc, 0) AS TINYINT)
       END AS code
FROM s, UNNEST(generate_series(1, 64)) AS j(j)
""")
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table
    (4x storage shrink for ANN serving): scale = max|x|/127, code =
    round(x/scale). Pure column arithmetic fused into the scan — zero
    shuffles in the library op. Declared output is FLATTENED to
    (vec_id, q_scale, idx, code) rows — the driver's pandas
    canonicalizer cannot sort array<tinyint> cells (r07 lesson) — the
    library function (llm/similarity.py quantize_int8) keeps its array
    return."""
    emb = read(spark, sf_dir, "embeddings")
    qz = similarity.quantize_int8(emb)
    return qz.select(
        "vec_id", "q_scale",
        F.posexplode("q_embedding").alias("idx", "code"))


@q("doc_bpe_token_stats", """
WITH p AS (
  SELECT doc_id, lang,
         regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]+')
             AS pieces
  FROM documents
), c AS (
  SELECT doc_id, lang,
         CAST(COALESCE(list_sum(list_transform(pieces,
              x -> CASE WHEN regexp_matches(x, '^[A-Za-z]+$')
                        THEN CAST(CEIL(length(x) / 4.0) AS BIGINT)
                        ELSE 1 END)), 0) AS BIGINT) AS n_bpe_tokens
  FROM p
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       ROUND(AVG(n_bpe_tokens), 4) AS avg_bpe_tokens
FROM c GROUP BY lang
""")
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (GPT-2-style word/number/punct pretokenizer
    + ~4-chars-per-subword heuristic), aggregated per language."""
    docs = read(spark, sf_dir, "documents")
    counted = text.bpe_token_count(docs)
    return counted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.round(F.avg("n_bpe_tokens"), 4).alias("avg_bpe_tokens"),
    )


@q("doc_winnow_fingerprints", """
WITH d AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 40
), g AS (
  SELECT doc_id, s.i AS i,
         substring(md5(substring(t, s.i, 8)), 1, 8) AS h,
         GREATEST(length(t) - 8 + 1, 0) AS ng
  FROM d, LATERAL (SELECT UNNEST(generate_series(
      1, GREATEST(length(t) - 8 + 1, 0))) AS i) s
), x AS (
  SELECT doc_id, u.wi AS wi, h
  FROM (SELECT *, GREATEST(ng - 4 + 1, 0) AS nw FROM g) g2,
  LATERAL (SELECT UNNEST(generate_series(
      GREATEST(g2.i - 3, 1), LEAST(g2.i, g2.nw))) AS wi) u
), wins AS (
  SELECT doc_id, wi, MIN(h) AS fp FROM x GROUP BY doc_id, wi
), short AS (
  -- docs with fewer grams than a window: one fingerprint = global min
  SELECT doc_id, MIN(h) AS fp FROM g WHERE ng > 0 AND ng < 4
  GROUP BY doc_id
)
SELECT DISTINCT doc_id, fp FROM wins
UNION
SELECT doc_id, fp FROM short
""")
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS scheme): k=8 char grams,
    window=4 minima, distinct per doc — the shared-substring detector."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id").where(F.col("doc_id") < 40)
    return text.winnow_fingerprints(docs, k=8, window=4)


# (doc_curation_pipeline (v2) retired r10 — superseded by
# doc_curation_pipeline_v3, which composes a superset of its decision
# classes (exact dup, near dup, contamination, quality) in one plan;
# evicted to fund the doc_temperature_mixture window slot.
# VERDICT r09 item 4.)


@q("doc_temperature_mixture", """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
                   AS BIGINT) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE lang IS NOT NULL
), m AS (
  SELECT lang, SUM(n_tokens) AS m FROM t GROUP BY lang
  HAVING SUM(n_tokens) > 0
), p AS (
  SELECT lang, m, POWER(CAST(m AS DOUBLE), 0.3) AS p FROM m
), w AS (
  SELECT lang, m, p / (SELECT SUM(p ORDER BY lang) FROM p) AS w FROM p
), tt AS (
  SELECT MIN(m / w) AS tv FROM w
), r AS (
  SELECT lang, ((SELECT tv FROM tt) * w) / m AS rate FROM w
)
SELECT t.lang, COUNT(*) AS n_docs,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens_kept
FROM t JOIN r USING (lang)
WHERE ('0x' || substring(t.h, 1, 8))::BIGINT / 4294967296.0 < r.rate
GROUP BY t.lang
""")
def doc_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled domain mixture end-to-end (llm/sampling.py
    temperature_weights -> mixture_sample; first driver-gated r10 per
    VERDICT r09 item 4): per-domain token masses m_d feed Conneau-style
    p^alpha shares w_d = m_d^0.3 / sum(m^0.3), which water-fill into
    per-domain keep rates gated by the stateless md5(seed|id) fraction.
    Output is the per-domain survivor composition (scalar-only). The
    weight arithmetic is bit-portable: pow via the same libm on both
    engines, the normalizer summed in sorted-domain order on both sides
    (Python sorted-key fold == SUM(p ORDER BY lang)), and the rate/gate
    ops are IEEE +-*/ on exactly-representable masses."""
    docs = text.token_count(read(spark, sf_dir, "documents"))
    w = sampling.temperature_weights(
        docs, "lang", alpha=0.3, weight_col="n_tokens")
    out = sampling.mixture_sample(
        docs, "lang", w, weight_col="n_tokens", seed=42)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_kept"),
    )


@q("doc_curation_pipeline_v3", """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS u, reach.r FROM edges e JOIN reach ON reach.u = e.u
), cc AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
), hits AS (
  SELECT tr.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_common
  FROM sh tr JOIN sh b ON tr.shingle = b.shingle
  WHERE b.doc_id % 25 = 0 AND tr.doc_id % 25 <> 0
  GROUP BY tr.doc_id, b.doc_id
  HAVING COUNT(*) >= 3
), contam AS (
  SELECT DISTINCT doc_id FROM hits
), qt AS (
  SELECT doc_id,
         (COALESCE(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')), 0) = 0)
           AS degen,  -- tokenless: NULL, empty, whitespace-only
         CAST(length(text) AS BIGINT) AS nc,
         COALESCE(CAST(len(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))
              AS BIGINT), 0) AS nt,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS np,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd,
         len(list_filter(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''),
             w -> list_contains(['the','and','of','to','is','in','that','it'], lower(w)))) AS ns
  FROM documents
), q AS (
  SELECT doc_id, CASE WHEN degen THEN NULL ELSE ROUND(
    LEAST(nt / 50.0, 1.0) * 0.4
    + LEAST(ROUND(CAST(ns AS DOUBLE) / NULLIF(nt, 0), 4) * 5.0, 1.0) * 0.3
    + (1.0 - LEAST(ROUND(CAST(np AS DOUBLE) / NULLIF(nc, 0), 4) * 10.0, 1.0)) * 0.15
    + (1.0 - LEAST(ROUND(CAST(nd AS DOUBLE) / NULLIF(nc, 0), 4) * 5.0, 1.0)) * 0.15,
  4) END AS quality_score FROM qt
), ex AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
  FROM documents
), pch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i * 16 + 1):(i * 16 + 16)], ' ') AS passage
  FROM toks, UNNEST(generate_series(
        0, CAST(ceil(len(t) / 16.0) AS INT) - 1)) AS g(i)
  -- split-of-trimmed-empty is [''], not []: exclude empty docs the way
  -- Spark tokens() does (they contribute no passages)
  WHERE len(t) > 0 AND array_to_string(t, '') <> ''
), pfl AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY passage) AS occ,
         ROW_NUMBER() OVER (PARTITION BY passage
                            ORDER BY doc_id, pos) AS rn
  FROM pch
), pstat AS (
  SELECT doc_id, COUNT(*) AS np,
         SUM(CASE WHEN occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS nrem
  FROM pfl GROUP BY doc_id
), pre AS (
  SELECT d.doc_id, d.lang, qt.nt AS nt,
    CASE WHEN ex.exact_keeper <> d.doc_id THEN 'drop_duplicate'
         WHEN cc.cluster_id IS NOT NULL AND cc.cluster_id <> d.doc_id
           THEN 'drop_near_dup'
         WHEN contam.doc_id IS NOT NULL THEN 'drop_contaminated'
         WHEN COALESCE(pstat.nrem, 0) * 10 > COALESCE(pstat.np, 0) * 3
           THEN 'drop_passage_dup'
         WHEN q.quality_score < 0.5 THEN 'drop_low_quality'
         ELSE NULL END AS drop_reason
  FROM documents d
  JOIN ex ON ex.doc_id = d.doc_id
  LEFT JOIN cc ON cc.doc_id = d.doc_id
  LEFT JOIN contam ON contam.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id
  JOIN qt ON qt.doc_id = d.doc_id
  LEFT JOIN pstat ON pstat.doc_id = d.doc_id
), surv AS (
  SELECT doc_id, lang, nt,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h
  FROM pre WHERE drop_reason IS NULL
), w(lang, w) AS (
  VALUES ('de', 0.15), ('en', 0.4), ('es', 0.15), ('fr', 0.15),
         ('zh', 0.15)
), c AS (
  SELECT s.lang, SUM(nt) AS m, ANY_VALUE(w.w) AS w
  FROM surv s JOIN w USING (lang) GROUP BY s.lang
  HAVING SUM(nt) > 0
), tt AS (
  SELECT MIN(m / w) AS T FROM c
), r AS (
  SELECT lang, ((SELECT T FROM tt) * w) / m AS rate FROM c
), mixkeep AS (
  SELECT s.doc_id
  FROM surv s JOIN r USING (lang)
  WHERE (SELECT SUM((strpos('0123456789abcdef',
                            substring(s.h, j.j, 1)) - 1)
                    * (1::BIGINT << ((8 - j.j) * 4)))
         FROM UNNEST(generate_series(1, 8)) AS j(j)) / 4294967296.0
        < r.rate
)
SELECT p.doc_id,
       COALESCE(p.drop_reason,
                CASE WHEN mk.doc_id IS NOT NULL THEN 'keep'
                     ELSE 'drop_mixture' END) AS decision
FROM pre p LEFT JOIN mixkeep mk ON mk.doc_id = p.doc_id
""")
def doc_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v3: the round-7 gates composed into ONE relational plan
    with v2's four — priority order: exact-dup keeper, near-dup cluster
    keeper (MinHash-LSH -> connected components), decontamination,
    duplicate-passage fraction (> 30% of 16-token windows repeated
    corpus-wide -> drop), quality threshold, and a final water-filling
    MIXTURE gate (token-mass target 40/15/15/15/15 over
    en/de/es/fr/zh computed over the SURVIVORS, hash-gated). The oracle
    recomputes every stage in SQL including the recursive-CTE
    components and the passage keep-first windows."""
    from pyspark.sql import Window

    docs = read(spark, sf_dir, "documents")
    # The two shingle+md5 stages (LSH edges, decontamination grams) are
    # the compute-heavy map work over the single-file scan — fan ONLY
    # those out (r18, guide §2.5 input skew); the window/aggregate
    # stages (exact keeper, quality, passages) keep the plain read so
    # they don't pay an extra exchange before their own shuffles.
    docs_sh = read_fanned(spark, sf_dir, "documents", "doc_id")
    exact_keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    base = docs.select("doc_id", "lang", exact_keeper.alias("__exk"))
    clusters = dedup.dup_clusters(docs_sh).select("doc_id", "cluster_id")
    bench = docs.where(F.col("doc_id") % 25 == 0)
    train = docs.where(F.col("doc_id") % 25 != 0)
    contam = (
        dedup.decontaminate(train, bench, k=3, min_hits=3)
        .select("doc_id", F.lit(True).alias("__contam"))
    )
    # quality_score already computes n_tokens (coalesce(size(tokens),0) ==
    # token_count's greatest(size,0) on every input incl. NULL text), so
    # reusing its column drops a redundant scan+tokenize+join of the
    # corpus (r18 opt: 6 corpus passes -> 5; guide §1.2 step 1).
    quality = text.quality_score(docs).select(
        "doc_id", "quality_score", "n_tokens")
    pstats = dedup.dedup_passages(docs, passage_tokens=16).select(
        "doc_id", "n_passages", "n_removed")
    pre = (
        base.join(clusters, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(quality, "doc_id")
        .join(pstats, "doc_id")
        .withColumn(
            "drop_reason",
            F.when(F.col("__exk") != F.col("doc_id"), "drop_duplicate")
            .when(
                F.col("cluster_id").isNotNull()
                & (F.col("cluster_id") != F.col("doc_id")),
                "drop_near_dup",
            )
            .when(F.col("__contam"), "drop_contaminated")
            .when(
                F.col("n_removed") * 10 > F.col("n_passages") * 3,
                "drop_passage_dup",
            )
            .when(F.col("quality_score") < 0.5, "drop_low_quality"),
        )
    )
    # `pre` is referenced FOUR times downstream (the final decision
    # join, plus mixture_sample's per-domain aggregate / water-fill
    # rates / gate join over the survivors), and each reference
    # re-expands the whole 12-shuffle dedup+contam+quality lineage
    # with fresh expression IDs — which defeats ReuseExchange (plans
    # are no longer canonically equal), so the r18 audit measured all
    # 116 stages actually executing, ~4x the distinct work. Pinning
    # collapses the repeats to one compute + InMemoryRelation scans of
    # an output-sized (doc_id, lang, n_tokens, drop_reason) frame —
    # the same fix dedup_delta's band/candidate pins proved. Release
    # via physioview_spark.cache.release_pinned/pinned_frames.
    from physioview_spark import cache as _cache

    pre = _cache.pin(pre)
    surv = (
        pre.where(F.col("drop_reason").isNull())
        .select("doc_id", "lang", "n_tokens")
    )
    kept = sampling.mixture_sample(
        surv, "lang",
        {"de": 0.15, "en": 0.4, "es": 0.15, "fr": 0.15, "zh": 0.15},
        weight_col="n_tokens", seed=42,
    ).select("doc_id", F.lit(True).alias("__mix"))
    return (
        pre.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "drop_reason",
                F.when(F.col("__mix"), F.lit("keep"))
                .otherwise(F.lit("drop_mixture")),
            ).alias("decision"),
        )
    )


# (doc_curation_decisions retired r10 — its exact-dup + length gates
# are a strict subset of doc_curation_pipeline_v3's decision classes;
# evicted to fund the doc_hash_split window slot. VERDICT r09 item 3.)


@q("doc_hash_split", """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) = 0 THEN ''  -- tier 4: whole-text gram
              WHEN len(t) <= 3 THEN array_to_string(t, ' ')
              ELSE array_to_string(list_slice(t, i, i + 2), ' ') END AS shingle
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS i) g
), seeded AS (
  SELECT doc_id, s.seed, shingle
  FROM sh, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(FLOOR(seed / 2) AS BIGINT) AS band,
         md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
  FROM sig GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS u, reach.r FROM edges e JOIN reach ON reach.u = e.u
), cc AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
), ky AS (
  SELECT d.doc_id,
         COALESCE(CAST(cc.cluster_id AS VARCHAR),
                  CAST(d.doc_id AS VARCHAR)) AS k
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
), sp AS (
  SELECT doc_id, k,
         CASE WHEN u <= 0.5 THEN 'train'
              WHEN u <= 0.75 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, k,
               (('0x' || substring(md5('42|' || k), 1, 15))::BIGINT + 1.0)
               / 1152921504606846976.0 AS u
        FROM ky)
), st AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_straddled_clusters
  FROM (SELECT cc.cluster_id, COUNT(DISTINCT sp.split) AS ns
        FROM cc JOIN sp ON sp.doc_id = cc.doc_id
        GROUP BY cc.cluster_id)
)
SELECT sp.split, COUNT(*) AS n_docs,
       (SELECT n_straddled_clusters FROM st) AS n_straddled_clusters
FROM sp GROUP BY sp.split
""")
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe deterministic train/val/test split (llm/sampling.py
    hash_split + leakage_safe_split; first driver-gated r10 per VERDICT
    r09 item 3): near-dup clusters (MinHash-LSH pairs -> connected
    components) key the md5 band assignment, so a document and its
    near-copies land on ONE side; output is the per-split doc counts
    plus a straddled-cluster count the oracle recomputes independently
    (= 0, the guard's contract). The split itself is a zero-shuffle
    projection — stable across partitionings and corpus growth, unlike
    randomSplit — and the hash band arithmetic is the exact ANSI twin
    proven in tests/test_llm.py::TestHashSplit."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    clusters = dedup.dup_clusters(docs).select("doc_id", "cluster_id")
    split = sampling.leakage_safe_split(
        docs, {"train": 0.5, "val": 0.25, "test": 0.25},
        clusters=F.broadcast(clusters), seed=42)
    members = split.select("doc_id", "split").join(
        F.broadcast(clusters), "doc_id")
    straddle = (
        members.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("__ns"))
        .agg(F.coalesce(F.sum(F.when(F.col("__ns") > 1, 1)), F.lit(0))
             .cast("bigint").alias("n_straddled_clusters"))
    )
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(straddle))
    )


@q("doc_tfidf_topk", """
WITH w AS (
  SELECT doc_id, UNNEST(list_filter(string_split_regex(text,
              '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS word
  FROM documents WHERE trim(text) <> ''
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word
), dfc AS (
  SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word
), head AS (
  SELECT word, df FROM dfc ORDER BY df DESC, word LIMIT 64
), stats AS (
  SELECT (SELECT SUM(df) FROM dfc) AS dfall,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM dfc) AS ntypes,
         (SELECT SUM(df) FROM head) AS dfhead,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM head) AS nhead,
         (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) FROM tf) AS ndocs
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         ROUND(tf.tf * ln(s.ndocs / COALESCE(h.df,
           (s.dfall - s.dfhead)
             / GREATEST(s.ntypes - s.nhead, 1.0))), 6) AS score
  FROM tf CROSS JOIN stats s LEFT JOIN head h ON tf.word = h.word
)
SELECT doc_id, word, tf, score, rank FROM (
  SELECT doc_id, word, tf, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, word) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
""")
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords with the document-frequency
    table bounded to a 64-word exact head + mean-tail residual — at
    this vocabulary cap the residual path (the 100 TB skew guard) is
    exercised, not just the exact branch."""
    docs = read_fanned(spark, sf_dir, "documents", "doc_id")
    return text.tfidf_topk(docs, k=3, top_vocab=64)


@q("doc_bpe_encode")
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer end-to-end: distributed word-frequency aggregate →
    bounded driver-side merge training (llm/bpe.py, the IVF-codebook
    collect pattern) → distributed Arrow-batched encoding. Seeded
    sf-independent corpus (same contract as the multimodal fixture
    queries): morphology-sharing words so merges learn real stems.
    Output is integers + strings only — pins safely (FIXTURES.md)."""
    from physioview_spark.llm import bpe

    stems = ["low", "slow", "grow", "show", "snow",
             "light", "bright", "night", "right", "sight"]
    sufs = ["", "er", "est", "ing", "ly"]
    rows = []
    for d in range(40):
        ws = [stems[(d + 3 * j) % len(stems)]
              + sufs[(d + j) % len(sufs)]
              for j in range(12 + d % 7)]
        rows.append((d, " ".join(ws)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.train_bpe(docs, num_merges=60)
    enc = bpe.apply_bpe(docs, merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 8))
        .alias("bpe_preview"),
    ).orderBy("doc_id")
