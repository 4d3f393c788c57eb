"""Deduplication query family (BASELINE.json extension surface).

The testdata corpus has no planted duplicates, so these queries build
a deterministic dup-bearing corpus inline: every document appears
(a) as-is, (b) as an exact copy (doc_id + 2,000,000), and (c) as a
near-duplicate with the last 3 tokens dropped (doc_id + 1,000,000).
Both engines construct the identical corpus in-query, so the
operators demonstrably FIND the planted dups and the oracle verifies
every pair.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from g_etl_spark.operators import dedup as D
from g_etl_spark.operators.text import TOKEN_SPLIT
from g_etl_spark.queries import register
from g_etl_spark.tables import load

_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"

# DuckDB-side corpus construction (1-based list slicing l[1:n] takes
# the first n elements — matches Spark's slice(arr, 1, n)).
_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(toks[1:greatest(len(toks) - 3, 1)], ' ') AS text
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies ∪ tail-truncated near-dups."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    near = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ").alias(
            "text"
        ),
    )
    return d.unionByName(exact).unionByName(near)


def _perturbed_embedding_corpus(spark, sf_dir: str) -> DataFrame:
    """Shared q54/q295/q305/q339 fixture builder: the embeddings
    corpus plus a +100000-id copy with dims 1-4 scaled 1.5× — the
    planted near-duplicates every embedding-dedup variant detects.
    The double-cast is staged through a projection: referencing the
    transform expression inside the perturbation lambda would
    re-cast the whole array per element access (CodegenFallback, no
    CSE — the r12 bigrams/shingles lesson at 64× scale)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    vc = F.col("embedding")
    pert = ev.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.when(i <= 4, F.get(vc, i - 1) * 1.5).otherwise(
                F.get(vc, i - 1)
            ),
        ).alias("embedding"),
    )
    return ev.unionByName(pert)


@register(
    "q50_exact_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT md5(text)   AS content_hash,
           min(doc_id) AS keeper_id,
           count(*)    AS dup_count,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    ORDER BY keeper_id
    """,
)
def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content md5, min-id keeper
    (operators/dedup.exact_dedup). One shuffle on the hash key —
    the canonical 100 TB dedup pass.
    """
    c = _corpus(spark, sf_dir)
    return (
        c.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
        .orderBy("keeper_id")
    )


@register(
    "q51_fingerprint_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
           min(doc_id) AS keeper_id,
           count(*)    AS dup_count
    FROM corpus
    GROUP BY 1
    HAVING count(*) > 1
    ORDER BY keeper_id
    """,
)
def q51_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: same shuffle shape as exact dedup, but the
    key is the sorted-distinct-token md5 — catches reordered and
    (here) tail-truncated docs whose dropped tokens occur earlier."""
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return (
        c.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
        .orderBy("keeper_id")
    )


def _sig_sql() -> str:
    """DuckDB minhash signature list (mirrors operators/dedup: affine
    (a*h+b) mod P permutations over the integer base hashes — the
    (a, b) literals come from the same MINHASH_SALTS constants, so
    the signatures are bit-identical cross-engine)."""
    mins = ", ".join(
        f"list_aggregate(list_transform(base_hashes,"
        f" h -> (h * {a} + {b}) % {D.MINHASH_P}), 'min')"
        for a, b in D.MINHASH_SALTS
    )
    return f"[{mins}]"


# shingle -> integer base hash in [0, P): first 8 md5 hex chars
# parsed as an int (mirrors operators/dedup.base_shingle_hash)
_BASE_HASH_SQL = (
    "CAST(CAST('0x' || substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 8)"
    f" AS UBIGINT) AS BIGINT) % {D.MINHASH_P}"
)


@register(
    "q52_minhash_near_dups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, text, {_TOKS} AS t FROM corpus),
    sh AS (
        SELECT doc_id, text,
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(0, len(t) - 2),
                                        i -> {_BASE_HASH_SQL})
                    ELSE [] END AS base_hashes
        FROM toks
    ),
    sig AS (SELECT doc_id, text, {_sig_sql()} AS sig FROM sh),
    bands AS (
        SELECT doc_id, text, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST(sig[2*b + 1] AS VARCHAR) || '|' || CAST(sig[2*b + 2] AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text AS text_a, b.text AS text_b,
               count(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_idx = b.band_idx
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_shared_bands,
           round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')),
                                         list_distinct(string_split_regex(lower(trim(text_b)), '\\s+')))) AS DOUBLE)
                 / greatest(CAST(len(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')
                                     || string_split_regex(lower(trim(text_b)), '\\s+'))) AS DOUBLE), 1.0), 4) AS jaccard
    FROM cand
    WHERE round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')),
                                        list_distinct(string_split_regex(lower(trim(text_b)), '\\s+')))) AS DOUBLE)
                / greatest(CAST(len(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')
                                    || string_split_regex(lower(trim(text_b)), '\\s+'))) AS DOUBLE), 1.0), 4) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def q52_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, full pipeline: shingle → 8
    affine-permutation min-hashes → 4 bands → bucket self-join →
    exact Jaccard refine ≥ 0.7 (operators/dedup.minhash_dedup_pairs;
    refine ≙ reference's two-phase exact-refine J4 pattern).

    Scale: candidate cost is Σ bucket², not n²; every stage is an
    equi-join or groupBy Spark shuffles on hashed keys.
    """
    c = _corpus(spark, sf_dir)
    return D.minhash_dedup_pairs(c, "doc_id", "text", threshold=0.7).orderBy("id_a", "id_b")


@register(
    "q53_simhash_signatures",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id,
               unnest(list_filter({_TOKS}, t -> length(t) > 0)) AS tok
        FROM corpus
    ),
    hashes AS (
        -- token hash = first 8 bytes of md5, big-endian (= first 16
        -- hex chars parsed as an unsigned 64-bit integer)
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    usig AS (
        SELECT doc_id,
               SUM(CASE WHEN vote > 0 THEN 1::HUGEINT << bit ELSE 0::HUGEINT END) AS u
        FROM votes GROUP BY doc_id
    ),
    sig AS (
        -- reinterpret the unsigned accumulator as signed int64 (bit 63
        -- set => negative), matching Spark's LongType signature; docs
        -- with zero tokens vote to all-zero
        SELECT c.doc_id,
               CAST(COALESCE(u, 0::HUGEINT)
                    - CASE WHEN COALESCE(u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
                           THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
                    AS BIGINT) AS simhash
        FROM corpus c LEFT JOIN usig ON c.doc_id = usig.doc_id
    )
    SELECT simhash, count(*) AS n, min(doc_id) AS keeper_id
    FROM sig
    GROUP BY simhash
    HAVING count(*) > 1
    ORDER BY keeper_id
    """,
)
def q53_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures (Arrow-batched pandas UDF) grouped to
    show exact-signature near-dup buckets. The oracle reproduces the
    full bit-vote in portable SQL: per-token md5 → unsigned 64-bit →
    per-bit votes → signed-int64 reinterpretation (DuckDB HUGEINT
    arithmetic; Spark side is the vectorized UDF). Invariant tests in
    tests/test_operators.py."""
    c = _corpus(spark, sf_dir)
    sigs = D.simhash64(c, "doc_id", "text")
    return (
        sigs.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n") > 1)
        .orderBy("keeper_id")
    )


@register(
    "q54_embedding_dedup",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, ve FROM base
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(range(1, 65),
                              i -> CASE WHEN i <= 4 THEN ve[i] * 1.5 ELSE ve[i] END)
        FROM base
    ),
    n AS (
        SELECT vec_id, ve,
               sqrt(list_aggregate(list_transform(ve, x -> x * x), 'sum')) AS nrm
        FROM corpus
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_aggregate(list_transform(range(1, 65), i -> a.ve[i] * b.ve[i]), 'sum')
                 / (a.nrm * b.nrm), 4) AS cosine
    FROM n a
    JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_aggregate(list_transform(range(1, 65), i -> a.ve[i] * b.ve[i]), 'sum')
                / (a.nrm * b.nrm), 4) >= 0.98
    ORDER BY id_a, id_b
    """,
)
def q54_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.98), brute-force
    baseline (operators/dedup.embedding_cosine_pairs).

    The raw corpus has no near-dups (max pairwise cosine ≈ 0.51), so
    a perturbed copy of every vector (first 4 dims × 1.5, id+100000)
    is planted identically in both engines; the operator must recover
    exactly those pairs. The ORACLE-GATED LSH-bucketed scale path is
    q295 (srp_bucket_pairs on this same corpus; measured recall
    ≥0.6, precision 1.0 vs this baseline — tests/test_plans.py);
    q61/q97 are the top-k/assign siblings."""
    corpus = _perturbed_embedding_corpus(spark, sf_dir)
    return D.embedding_cosine_pairs(corpus, threshold=0.98).orderBy("id_a", "id_b")


def _q295_oracle() -> str:
    """q295 oracle SQL: q54's planted corpus, SRP-bucketed with the
    SAME md5-derived hyperplanes as operators/similarity (literal
    constants → identical sign bits in both engines), cosine-refined
    within buckets only."""
    from g_etl_spark.queries.similarity import _srp_bucket_sql

    bucket = _srp_bucket_sql(8, 64, col="ve")
    return f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, ve FROM base
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(range(1, 65),
                              i -> CASE WHEN i <= 4 THEN ve[i] * 1.5 ELSE ve[i] END)
        FROM base
    ),
    n AS (
        SELECT vec_id, ve,
               sqrt(list_aggregate(list_transform(ve, x -> x * x), 'sum')) AS nrm,
               {bucket} AS bucket
        FROM corpus
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_aggregate(list_transform(range(1, 65),
                                                   i -> a.ve[i] * b.ve[i]), 'sum')
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM n a
        JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.98
    ORDER BY id_a, id_b
    """


@register("q295_embedding_dedup_bucketed", oracle=_q295_oracle())
def q295_embedding_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.98) via the
    SRP-LSH BUCKETED scale path (operators/similarity.
    srp_bucket_pairs) — the gated sibling that retires q54's
    documented-only O(n²) status (the q196/q198 exact-vs-scale
    precedent): same planted corpus, same refine threshold, but
    candidates come from an 8-plane sign-random-projection bucket
    equi-join, so the compare cost is Σ bucket² — never |corpus|².

    Scale: bucketing is one map-only pass (8 JVM dot products per
    vector against broadcast literal hyperplanes); the candidate join
    is a hash EQUI-join on the bucket id (plan-asserted: no
    NestedLoop/Cartesian); the exact-cosine refine touches only
    same-bucket pairs. Recall vs the q54 brute-force baseline is
    measured in tests (near-identical vectors agree on every sign bit
    with high probability); `srp_bucket_pairs(..., n_seeds=s)` unions
    s independent plane seeds to push recall higher at constant depth
    (measured 0.73 → 0.92 → 0.97 at s=1→2→3 on this corpus,
    precision 1.0 throughout — tests/test_plans.py; this gated query
    keeps the single-seed default so the oracle stays byte-stable).
    """
    from g_etl_spark.operators import similarity as S

    corpus = _perturbed_embedding_corpus(spark, sf_dir)
    return S.srp_bucket_pairs(corpus, threshold=0.98, n_planes=8, dim=64).orderBy(
        "id_a", "id_b"
    )


@register(
    "q55_ngram_jaccard_dedup",
    oracle=f"""
    WITH half AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    corpus AS (
        SELECT doc_id, text FROM half
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(toks[1:greatest(len(toks) - 3, 1)], ' ') AS text
        FROM (SELECT doc_id, {_TOKS} AS toks FROM half)
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(length(s) - 3, 1)),
                                            i -> substr(s, i, 5))) AS g
        FROM (SELECT doc_id, lower(trim(text)) AS s FROM corpus)
    ),
    pairs AS (
        -- brute force with the exact size-ratio prefilter: the ground
        -- truth the prefix-filtered Spark operator must equal
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.g, b.g))::DOUBLE /
                     len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
        FROM grams a JOIN grams b
          ON a.doc_id < b.doc_id
         AND len(a.g) >= CAST(ceil(0.8 * len(b.g)) AS BIGINT)
         AND len(b.g) >= CAST(ceil(0.8 * len(a.g)) AS BIGINT)
    )
    SELECT id_a, id_b, jaccard FROM pairs
    WHERE jaccard >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q55_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-gram Jaccard near-dup pairs at t=0.8 via prefix
    filtering (operators/dedup.ngram_jaccard_pairs) — completes the
    dedup family (exact / fingerprint / MinHash-LSH / SimHash /
    n-gram Jaccard / embedding cosine).

    The oracle is BRUTE FORCE (all size-compatible pairs); the Spark
    side only examines pairs sharing a prefix gram — hash equality
    proves the prefix filter loses nothing. Corpus: even-id documents
    plus their tail-truncated near-dup copies.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    near = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ").alias(
            "text"
        ),
    )
    corpus = d.unionByName(near)
    return D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=5, threshold=0.8).orderBy(
        "id_a", "id_b"
    )


# Jaccard-refined MinHash pair set, as SQL CTE text (mirrors the q52
# oracle; q56 builds its transitive closure on the identical pairs).
_JACC = (
    "round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')),"
    " list_distinct(string_split_regex(lower(trim(text_b)), '\\s+')))) AS DOUBLE)"
    " / greatest(CAST(len(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')"
    " || string_split_regex(lower(trim(text_b)), '\\s+'))) AS DOUBLE), 1.0), 4)"
)


def _pairs_cte_sql() -> str:
    return f"""
    corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, text, {_TOKS} AS t FROM corpus),
    sh AS (
        SELECT doc_id, text,
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(0, len(t) - 2),
                                        i -> {_BASE_HASH_SQL})
                    ELSE [] END AS base_hashes
        FROM toks
    ),
    sig AS (SELECT doc_id, text, {_sig_sql()} AS sig FROM sh),
    bands AS (
        SELECT doc_id, text, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST(sig[2*b + 1] AS VARCHAR) || '|' || CAST(sig[2*b + 2] AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text AS text_a, b.text AS text_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_idx = b.band_idx
                     AND a.doc_id < b.doc_id
    ),
    pairs AS (SELECT id_a, id_b FROM cand WHERE {_JACC} >= 0.7)
    """


@register(
    "q56_near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_pairs_cte_sql()},
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component, count(*) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM comp GROUP BY component ORDER BY component
    """,
)
def q56_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash pair generation (q52's pipeline)
    followed by distributed connected components
    (operators/graph.connected_components) — the retention decision a
    dedup pipeline actually needs: keep min-id doc per component.

    The oracle computes the same transitive closure with a recursive
    CTE over the identical pair set, so the distributed labeling is
    verified end-to-end, transitivity included.

    Scale: pair generation is the banded LSH join (Σ bucket², not
    n²); CC is the large-star/small-star operator (O(log n) rounds of
    one join + one groupBy-min each, after a per-partition local
    contraction — see operators/graph.py).
    """
    from g_etl_spark.operators import graph as G

    c = _corpus(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(c, "doc_id", "text", threshold=0.7).select(
        "id_a", "id_b"
    )
    return G.component_summary(G.connected_components(pairs))


@register(
    "q57_chunk_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
    idx AS (
        SELECT doc_id, t,
               unnest(range(0, greatest(CAST(ceil(len(t) / 20.0) AS BIGINT), 1))) AS i
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, i AS idx,
               array_to_string(t[(i*20 + 1):(i*20 + 20)], ' ') AS chunk
        FROM idx
    ),
    firsts AS (
        SELECT md5(chunk) AS h, min(doc_id * 1000000 + idx) AS first_rank
        FROM chunks GROUP BY 1
    ),
    kept AS (
        SELECT c.doc_id, c.idx, c.chunk
        FROM chunks c JOIN firsts f
          ON md5(c.chunk) = f.h AND c.doc_id * 1000000 + c.idx = f.first_rank
    )
    SELECT a.doc_id,
           a.n_chunks,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_text, '') AS kept_text
    FROM (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1) a
    LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                      string_agg(chunk, ' ' ORDER BY idx) AS kept_text
               FROM kept GROUP BY 1) k USING (doc_id)
    ORDER BY a.doc_id
    """,
)
def q57_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk/paragraph) dedup with reconstruction
    (operators/dedup.chunk_dedup): every 20-token span keeps its
    first corpus-wide occurrence; docs are re-assembled from
    surviving spans. On the planted corpus the exact copies
    (+2,000,000 ids) come back EMPTY and the tail-truncated near-dups
    keep only their final partial chunk — demonstrating dedup below
    document granularity (the CCNet/RefinedWeb paragraph-dedup
    shape).

    Scale: two narrow-keyed shuffles (chunk-hash groupBy-min, doc-id
    reassembly); chunking itself is a map-only explode.
    """
    c = _corpus(spark, sf_dir)
    return D.chunk_dedup(c, "doc_id", "text", chunk_tokens=20).orderBy("doc_id")


@register(
    "q76_logstar_components",
    oracle="""
    WITH RECURSIVE
    d AS (SELECT doc_id FROM documents),
    edges0 AS (
        SELECT d1.doc_id AS a, d2.doc_id AS b
        FROM d d1 JOIN d d2 ON d2.doc_id = d1.doc_id + 1
        WHERE d1.doc_id % 100 < 99
    ),
    edges AS (
        SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component, count(*) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM comp GROUP BY component ORDER BY component
    """,
)
def q76_logstar_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a LONG-CHAIN graph (each run of 100
    consecutive doc_ids chained pairwise — diameter 99) via the
    large-star/small-star alternation
    (operators/graph.connected_components), which converges in
    O(log n) rounds whatever the diameter — the 100 TB answer for
    adversarial-diameter dedup graphs. The oracle is the
    generic recursive-CTE reachability closure — it knows nothing
    about the chain structure, so the hash match proves the labeling,
    not the construction.
    """
    from g_etl_spark.operators import graph as G

    d = load(spark, sf_dir, "documents").select("doc_id")
    edges = (
        d.filter(F.col("doc_id") % 100 < 99)
        .select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        .join(
            # unhinted: the full doc-id set is corpus-grain (a forced
            # broadcast OOMs at scale even though this edge build is
            # test-fixture-shaped); AQE broadcasts when it fits
            d.select(F.col("doc_id").alias("id_b")), "id_b", "inner"
        )
        .select("id_a", "id_b")
    )
    return G.component_summary(G.connected_components(edges))


@register(
    "q99_source_overlap_matrix",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS h
        FROM documents
    )
    SELECT least(a.source, b.source)    AS source_a,
           greatest(a.source, b.source) AS source_b,
           count(*)                     AS dup_pairs,
           count(DISTINCT a.h)          AS shared_fingerprints
    FROM fp a
    JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY dup_pairs DESC, source_a, source_b
    """,
)
def q99_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the curation question behind
    dedup ("which sources copy from each other, and how much") as a
    first-class report: pairs of documents sharing a token
    fingerprint, rolled up per unordered source pair (diagonal =
    within-source duplication).

    Scale: one shuffle on the fingerprint; the self-join happens
    WITHIN fingerprint groups, so cost is Σ group² over duplicate
    multiplicities (bounded by the dup rate), never corpus². The
    least/greatest fold halves the output and keeps the matrix
    symmetric-free.
    """
    from g_etl_spark.operators.text import fingerprint

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint(F.col("text")).alias("h")
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.select(
            F.least("a.source", "b.source").alias("source_a"),
            F.greatest("a.source", "b.source").alias("source_b"),
            F.col("a.h").alias("h"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("dup_pairs"),
            F.countDistinct("h").alias("shared_fingerprints"),
        )
        .orderBy(F.desc("dup_pairs"), "source_a", "source_b")
    )


_Q101_EDGES_SQL = """
    SELECT DISTINCT least(l1.l_partkey, l2.l_partkey)    AS a,
                    greatest(l1.l_partkey, l2.l_partkey) AS b
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
"""


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Co-purchase pairs over the ``(l_orderkey, l_partkey)`` projection
    ``li``: one ``(ok, a, b)`` row per pair of lines of order ``ok``
    with parts ``a < b`` — the order-bounded self-join (Σ basket² per
    order, never |parts|²). Repeated lines give repeated rows; callers
    distinct or count them."""
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b"))
    return a.join(b, "ok").where(F.col("a") < F.col("b"))


@register(
    "q101_copurchase_triangles",
    oracle=f"""
    WITH edges AS ({_Q101_EDGES_SQL})
    SELECT (SELECT count(*) FROM edges)                      AS n_edges,
           (SELECT count(DISTINCT a) FROM (SELECT a FROM edges UNION ALL SELECT b FROM edges) v(a)) AS n_vertices,
           (SELECT count(*)
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)    AS n_triangles
    """,
)
def q101_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts appearing
    in the same order) — the graph-analytics primitive behind
    clustering-coefficient / community features, distinct from the
    component-finding family (q56/q76).

    The edge orientation a < b makes each triangle count exactly once:
    tri = Σ over edges (a,b) of |N⁺(a) ∩ N⁺(b)| where N⁺(v) is v's
    out-neighbor set under the orientation — the adjacency-
    intersection form of the classic wedge-close (e1=(a,b), e2=(b,c)
    closes iff (a,c) is an edge; intersecting N⁺(a) with N⁺(b)
    enumerates exactly the closing c > b).

    Physical shape (r16): out-adjacency arrays are collected once per
    vertex (collect_list over the persisted edge relation — edges are
    distinct so no set semantics needed, and the intersection SIZE is
    order-independent so no sort either), then each edge row joins its
    two arrays (both joins broadcast: |V| rows ≈ |E| longs total) and
    one codegen'd array_intersect per edge replaces two hash probes
    per WEDGE. Work drops from 49M probe lookups to 1.2M set
    intersections over the same Σ degree² elements with far better
    locality — measured at sf0.1: 8.45 s → 4.36 s best-of-5
    (SCALE_NOTES.md "Round 16"; triangle/vertex/edge counts identical). The
    r15 two-join wedge-close (8.9 s serial, 8.5 s overlapped — the
    overlap is worth ~0.5 s and is kept here) and the degree-ordered
    orientation (r6: wedges 49.28M → 49.19M, SLOWER — near-uniform
    degree) both remain rejected on measurement.

    Scale: the per-order pair fan-out is Σ lines² per order (bounded
    by basket size, never corpus²). The adjacency relation shuffles
    |E| longs once (same bytes the wedge join shuffled), and the
    per-vertex array is bounded by max out-degree — on a power-law
    graph a hub row could concentrate memory, in which case the hedge
    is a degree cap routing hub vertices through the probe-join path;
    this corpus's near-uniform degree (r6 measurement) makes the
    plain form strictly better here.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_pairs(li).select("a", "b").distinct().persist()
    adj = edges.groupBy("a").agg(F.collect_list("b").alias("nb"))
    ea = edges.join(
        adj.withColumnRenamed("a", "_k").withColumnRenamed("nb", "na"),
        F.col("a") == F.col("_k"),
    ).drop("_k")
    eab = ea.join(
        adj.withColumnRenamed("a", "_k"), F.col("b") == F.col("_k")
    ).drop("_k")
    tris = eab.select(
        F.size(F.array_intersect("na", "nb")).alias("t")
    ).agg(F.sum("t").alias("n"))
    verts = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    # materialize the persisted edge relation once (the count IS the
    # materializing action), then run the two independent follow-up
    # jobs CONCURRENTLY from driver threads (guide §2.6): the small
    # vertex-distinct job back-fills executor slots left idle by the
    # triangle job's straggler tail instead of paying its own wall
    # time after it.
    n_edges = edges.count()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        # sum over an empty relation is NULL where count() was 0 —
        # the empty-corpus contract needs the explicit 0
        f_tri = pool.submit(
            lambda: int(tris.collect()[0]["n"] or 0)
        )
        f_vert = pool.submit(lambda: verts.distinct().count())
        n_triangles = f_tri.result()
        n_vertices = f_vert.result()
    edges.unpersist()
    return spark.createDataFrame(
        [(n_edges, n_vertices, n_triangles)],
        "n_edges bigint, n_vertices bigint, n_triangles bigint",
    )


@register(
    "q102_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -- Efraimidis-Spirakis key u^(1/w) with a deterministic
               -- integer-hash u (identical arithmetic cross-engine)
               -- quantized to 12 digits so ordering never rides on a
               -- cross-engine pow() ulp (same round in the Spark side)
               round(pow(CAST((doc_id * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0,
                         1.0 / n_chars), 12) AS k
        FROM documents
    )
    SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rank,
           doc_id, n_chars
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 20
    """,
)
def q102_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES, Inf. Proc. Letters 2006): each row draws key u^(1/weight)
    from a deterministic per-row uniform u, and the global top-k by
    key IS a weighted sample — longer documents proportionally more
    likely, reproducible across engines and runs.

    The float key is used only for ORDERING (doc_id tiebreak), and it
    is quantized to 12 decimal digits in BOTH engines before ordering,
    so top-20 membership and rank can't flip on a cross-engine pow()
    ulp; the emitted columns are integers, so the hash compare never
    sees a float at all. Scale: map-only key computation + TakeOrdered top-k —
    the same one-pass shape as q17/q48; this is THE distributed
    weighted-subsampling op (quality-weighted corpus thinning) at any
    corpus size.
    """
    d = load(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)).cast(
        "double"
    ) / F.lit(2147483647.0)
    k = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 12)
    from pyspark.sql import Window

    keyed = d.select("doc_id", "n_chars", k.alias("k"))
    top = keyed.orderBy(F.desc("k"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("k"), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "doc_id", "n_chars")


@register(
    "q118_copurchase_pagerank",
    oracle=f"""
    WITH pairs AS ({_Q101_EDGES_SQL}),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY u),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM deg),
    it0 AS (SELECT u AS node, 1e0 / (SELECT cnt FROM n) AS pr FROM deg),
    it1 AS (
        SELECT e.v AS node,
               0.15e0 / (SELECT cnt FROM n) + 0.85e0 * sum(i.pr / d.d) AS pr
        FROM edges e JOIN it0 i ON e.u = i.node JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    it2 AS (
        SELECT e.v AS node,
               0.15e0 / (SELECT cnt FROM n) + 0.85e0 * sum(i.pr / d.d) AS pr
        FROM edges e JOIN it1 i ON e.u = i.node JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    it3 AS (
        SELECT e.v AS node,
               0.15e0 / (SELECT cnt FROM n) + 0.85e0 * sum(i.pr / d.d) AS pr
        FROM edges e JOIN it2 i ON e.u = i.node JOIN deg d ON d.u = e.u
        GROUP BY e.v
    )
    SELECT node, round(pr, 8) AS pr
    FROM it3
    ORDER BY node
    """,
)
def q118_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, damping 0.85, uniform init)
    over the undirected co-purchase graph — the canonical iterative
    mass-propagation shape (importance scoring for curriculum /
    source weighting), distinct from component-finding (q56/q76) and
    counting (q101).

    The co-purchase graph is symmetric, so there are no dangling
    nodes and every node receives mass each round; the oracle unrolls
    the same three iterations as chained CTEs.

    Scale: each iteration is ONE edge⋈rank equi-join + a partial-agg
    sum — the same per-round shape as a connected_components round in
    operators/graph.py, which carries the production controls this
    declarative unroll omits (per-round lineage truncation, reliable
    checkpoint for lost-executor safety, convergence RAISE). The edge
    relation is the output of the lineitem self-join — by far the most expensive
    stage — and appears in every iteration's subtree (plus deg / the
    node count), so edges, deg, and the weighted edge relation ew are
    persisted: the self-join materializes ONCE instead of ×4
    (q124's own pattern one function down). The final ranks
    materialize via an eager localCheckpoint — NOT a driver collect
    (the rank relation is |nodes| rows, unbounded at scale, unlike
    q124's ≤4-row histogram) — so every cache can be dropped before
    returning. Ranks round to 8 decimals so the cross-engine compare
    never rides on float-summation order (diffs ~1e-15 abs vs a 5e-9
    threshold).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(li).select("a", "b").distinct()
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).persist()
    deg = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
        .persist()
    )
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    pr = (
        deg.crossJoin(F.broadcast(nn))
        .select(F.col("u").alias("node"), (F.lit(1.0) / F.col("cnt")).alias("pr"))
    )
    ew = edges.join(deg, "u").persist()
    for _ in range(3):
        contrib = ew.join(pr, ew["u"] == pr["node"]).select(
            "v", (F.col("pr") / F.col("d")).alias("c")
        )
        pr = (
            contrib.groupBy("v")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("v").alias("node"),
                (F.lit(0.15) / F.col("cnt") + F.lit(0.85) * F.col("s")).alias("pr"),
            )
        )
    out = pr.select("node", F.round("pr", 8).alias("pr")).orderBy("node")
    # one job fills the three caches and freezes the result; lineage
    # truncation makes the subsequent unpersists safe
    final = out.localCheckpoint(eager=True)
    for df in (ew, deg, edges):
        df.unpersist()
    return final.orderBy("node")


@register(
    "q124_bfs_hop_distance",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_Q101_EDGES_SQL}),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    src AS (SELECT min(a) AS s FROM pairs),
    walk(node, d) AS (
        SELECT s, 0 FROM src
        UNION ALL
        SELECT e.v, w.d + 1
        FROM walk w JOIN edges e ON e.u = w.node
        WHERE w.d < 3
    )
    SELECT CAST(d AS BIGINT) AS hops, count(*) AS n_nodes
    FROM (SELECT node, min(d) AS d FROM walk GROUP BY node)
    GROUP BY d
    ORDER BY d
    """,
)
def q124_bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from the smallest part in the
    co-purchase graph, 3 levels deep: nodes-per-hop histogram — the
    reachability / blast-radius shape (how much of the catalog is
    within k association hops), complementing component labels
    (q56/q76), counts (q101), and mass propagation (q118).

    Spark runs true frontier BFS: each level expands ONLY the newly
    discovered frontier against the edge list, then anti-joins the
    visited set — so level cost is |frontier ⋈ edges|, not the
    oracle's unpruned path enumeration (the recursive CTE re-walks
    all length-k paths, which is fine at oracle scale and
    exponentially wasteful at ours; min(d) collapses it to the same
    answer because BFS level = shortest unweighted path).

    Scale: the frontier join shuffles on node id; visited stays a
    (node, d) relation anti-joined per round (broadcastable while
    the frontier is small — Spark's planner picks it per AQE
    stats); depth is a constant 3 rounds, so lineage stays shallow
    (the unbounded-depth variant would use the localCheckpoint
    controls documented in operators/graph.py).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(li).select("a", "b").distinct()
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    src = pairs.agg(F.min("a").alias("node")).withColumn("d", F.lit(0))
    visited = src
    frontier = src
    # each level's persist is reused twice (next level's anti-join +
    # the union); without it the lineage re-expands exponentially —
    # the same trade q101 makes, tracked here so nothing leaks in the
    # block manager after the bounded result materializes
    persisted = [edges]
    for depth in range(1, 4):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("d", F.lit(depth))
        )
        visited = visited.unionAll(nxt).persist()
        persisted.append(visited)
        frontier = nxt
    out = (
        visited.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("d").cast("long").alias("hops"), "n_nodes")
        .orderBy("hops")
    )
    # bounded materialize (≤4 rows, q101's pattern) so every cached
    # level can be dropped before returning
    rows = out.collect()
    for df in persisted:
        df.unpersist()
    return spark.createDataFrame(rows, out.schema).orderBy("hops")


@register(
    "q141_association_rules",
    oracle=f"""
    WITH pairs AS (
        SELECT l1.l_orderkey AS ok,
               least(l1.l_partkey, l2.l_partkey)    AS a,
               greatest(l1.l_partkey, l2.l_partkey) AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    pair_n AS (
        SELECT a, b, count(DISTINCT ok) AS n_ab FROM pairs GROUP BY a, b
    ),
    item_n AS (
        SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
              FROM lineitem),
    scored AS (
        SELECT p.a, p.b, p.n_ab,
               round(p.n_ab * (SELECT n_orders FROM total)
                     / (CAST(na.n AS DOUBLE) * nb.n), 6) AS lift,
               round(CAST(p.n_ab AS DOUBLE) / na.n, 6) AS conf_a_b
        FROM pair_n p
        JOIN item_n na ON na.item = p.a
        JOIN item_n nb ON nb.item = p.b
    )
    SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab, lift, conf_a_b
    FROM scored
    ORDER BY lift DESC, a, b
    LIMIT 20
    """,
)
def q141_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchases: per item
    pair the co-occurrence support, LIFT (observed / expected under
    independence) and directional confidence P(b|basket∋a) — the
    classic recommendation signal, turning q101/q118's raw graph
    into ranked rules. Top-20 by quantized lift (q102's ordering
    rule), pair tiebreak.

    Scale: the pair generation is the per-order bounded fan-out
    shared with q101 (Σ basket² per order, never |items|²); the
    marginals are one groupBy each; the order-count scalar attaches
    by broadcast. A min-support HAVING would bound the rule table at
    real corpus sizes — omitted here so the oracle checks the full
    lattice at test scale.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(li)
    pair_n = pairs.groupBy("a", "b").agg(
        F.countDistinct("ok").alias("n_ab")
    )
    item_n = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    total = li.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    na = item_n.select(F.col("item").alias("a"), F.col("n").alias("na"))
    nb = item_n.select(F.col("item").alias("b"), F.col("n").alias("nb"))
    return (
        pair_n.join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.col("n_ab") * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "conf_a_b"
            ),
        )
        .orderBy(F.desc("lift"), "a", "b")
        .limit(20)
    )


@register(
    "q143_canonical_collapse",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    fp AS (
        SELECT doc_id, length(text) AS n_chars,
               md5(text) AS fingerprint
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id, n_chars, fingerprint,
               row_number() OVER (PARTITION BY fingerprint
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY fingerprint) AS group_n,
               sum(n_chars) OVER (PARTITION BY fingerprint) AS group_chars
        FROM fp
    )
    SELECT fingerprint,
           doc_id AS canonical_doc,
           CAST(group_n AS BIGINT) AS n_collapsed,
           CAST(group_chars - n_chars AS BIGINT) AS chars_saved
    FROM ranked
    WHERE rn = 1 AND group_n > 1
    ORDER BY fingerprint
    """,
)
def q143_canonical_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization over the planted-dup corpus
    (q50's corpus — the raw table has no duplicates, which would make
    this a vacuous 0-row check): for every fingerprint group with >1
    member, elect the canonical survivor (longest text, doc_id
    tiebreak — so the ORIGINAL id wins over its planted copy) and
    report how much the collapse saves — the ACTION step that turns
    the dedup family's verdicts (q50-q57) into a materialized corpus
    rewrite plan.

    Scale: one hash shuffle on the fingerprint; the election, the
    member count, and the byte accounting all ride the same
    partitioning (single WindowExec sort — rank and both group
    aggregates share the fingerprint partition). The same shape
    canonicalizes MinHash cluster ids (q56's labels) in place of
    exact fingerprints.
    """
    from pyspark.sql import Window

    c = _corpus(spark, sf_dir)
    fp = c.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.md5(F.col("text")).alias("fingerprint"),
    )
    wp = Window.partitionBy("fingerprint")
    wr = wp.orderBy(F.desc("n_chars"), "doc_id")
    ranked = fp.select(
        "doc_id",
        "n_chars",
        "fingerprint",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("group_n"),
        F.sum("n_chars").over(wp).alias("group_chars"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("group_n") > 1))
        .select(
            "fingerprint",
            F.col("doc_id").alias("canonical_doc"),
            F.col("group_n").cast("long").alias("n_collapsed"),
            (F.col("group_chars") - F.col("n_chars"))
            .cast("long")
            .alias("chars_saved"),
        )
        .orderBy("fingerprint")
    )


@register(
    "q148_hits_scores",
    oracle=f"""
    WITH pairs AS ({_Q101_EDGES_SQL}),
    nodes AS (
        SELECT a AS node FROM pairs UNION SELECT b FROM pairs
    ),
    a1 AS (SELECT b AS node, count(*) AS s FROM pairs GROUP BY b),
    auth1 AS (SELECT n.node, coalesce(a1.s, 0) AS v
              FROM nodes n LEFT JOIN a1 USING (node)),
    h1 AS (SELECT p.a AS node, sum(x.v) AS s
           FROM pairs p JOIN auth1 x ON x.node = p.b GROUP BY p.a),
    hub1 AS (SELECT n.node, coalesce(h1.s, 0) AS v
             FROM nodes n LEFT JOIN h1 USING (node)),
    a2 AS (SELECT p.b AS node, sum(x.v) AS s
           FROM pairs p JOIN hub1 x ON x.node = p.a GROUP BY p.b),
    auth2 AS (SELECT n.node, coalesce(a2.s, 0) AS v
              FROM nodes n LEFT JOIN a2 USING (node)),
    h2 AS (SELECT p.a AS node, sum(x.v) AS s
           FROM pairs p JOIN auth2 x ON x.node = p.b GROUP BY p.a),
    hub2 AS (SELECT n.node, coalesce(h2.s, 0) AS v
             FROM nodes n LEFT JOIN h2 USING (node)),
    tot AS (SELECT (SELECT sum(v) FROM auth2) AS ta,
                   (SELECT sum(v) FROM hub2)  AS th)
    SELECT x.node,
           round(CAST(x.v AS DOUBLE) / t.ta, 8) AS authority,
           round(CAST(h.v AS DOUBLE) / t.th, 8) AS hub
    FROM auth2 x JOIN hub2 h USING (node), tot t
    ORDER BY x.v DESC, x.node
    LIMIT 20
    """,
)
def q148_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg), two iterations over the
    ORIENTED co-purchase graph (edge a→b for a < b) — link-analysis
    importance complementary to PageRank's random-walk mass (q118):
    an authority is a part that high-hub parts point at.

    Determinism trick: intermediate normalization is deferred —
    HITS iterates x ← AᵀAx up to scale, so both engines run the
    whole two-round recurrence in EXACT BIGINT arithmetic
    (auth1 = in-degree, hub1/auth2/hub2 = integer sums; bounded far
    below 2^63 at any df the pair-join admits) and divide by the
    integer totals exactly once at the end. The top-20 ordering key
    is the INTEGER auth2 score, so rank can never flip on a float
    ulp cross-engine.

    Scale: per iteration ONE edge⋈score equi-join + partial-agg sum
    (the q118 shape); the oriented edge relation and node set are
    persisted so the lineitem self-join materializes once, and the
    bounded top-20 result is collected to drop the caches (q124's
    pattern).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(li).select("a", "b").distinct().persist()
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )

    def fill(scores: DataFrame) -> DataFrame:
        return nodes.join(scores, "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0)).alias("v")
        )

    auth = fill(pairs.groupBy(F.col("b").alias("node")).agg(F.count(F.lit(1)).alias("s")))
    hub = fill(
        pairs.join(auth, pairs["b"] == auth["node"])
        .groupBy(F.col("a").alias("node2"))
        .agg(F.sum("v").alias("s"))
        .withColumnRenamed("node2", "node")
    )
    auth = fill(
        pairs.join(hub, pairs["a"] == hub["node"])
        .groupBy(F.col("b").alias("node2"))
        .agg(F.sum("v").alias("s"))
        .withColumnRenamed("node2", "node")
    )
    hub = fill(
        pairs.join(auth, pairs["b"] == auth["node"])
        .groupBy(F.col("a").alias("node2"))
        .agg(F.sum("v").alias("s"))
        .withColumnRenamed("node2", "node")
    )
    tot = auth.agg(F.sum("v").alias("ta")).crossJoin(
        hub.agg(F.sum("v").alias("th"))
    )
    out = (
        auth.withColumnRenamed("v", "av")
        .join(hub.withColumnRenamed("v", "hv"), "node")
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.col("av").alias("_rank_key"),
            F.round(F.col("av").cast("double") / F.col("ta"), 8).alias("authority"),
            F.round(F.col("hv").cast("double") / F.col("th"), 8).alias("hub"),
        )
        .orderBy(F.desc("_rank_key"), "node")
        .limit(20)
        .select("node", "authority", "hub")
    )
    rows = out.collect()
    pairs.unpersist()
    nodes.unpersist()
    return spark.createDataFrame(rows, out.schema)


# Rare-shingle containment: shingles with df above this are dropped
# from BOTH the candidate join and the intersection/denominator, so
# the measured containment is exactly "containment over rare
# shingles" in both engines (the standard ubiquitous-shingle cutoff).
_CONT_DF_CAP = 20
_CONT_MIN_SH = 5
_CONT_THRESH = 0.8


@register(
    "q153_shingle_containment",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   array_to_string(t[i.i : i.i + 2], ' ') AS g
            FROM (SELECT doc_id, {_TOKS} AS t FROM corpus),
                 LATERAL (SELECT unnest(generate_series(
                     1, greatest(len(t) - 2, 0))) AS i) AS i
        )
    ),
    rare AS (
        SELECT g FROM sh GROUP BY g HAVING count(*) <= {_CONT_DF_CAP}
    ),
    rsh AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM rsh GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        FROM rsh x JOIN rsh y ON x.g = y.g AND x.doc_id <> y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.a, i.b, s.n_sh AS n_shingles_a, i.common,
           round(CAST(i.common AS DOUBLE) / s.n_sh, 4) AS containment
    FROM inter i JOIN sizes s ON s.doc_id = i.a
    WHERE s.n_sh >= {_CONT_MIN_SH}
      AND CAST(i.common AS DOUBLE) / s.n_sh >= {_CONT_THRESH}
    ORDER BY containment DESC, i.a, i.b
    LIMIT 100
    """,
)
def q153_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(a,b) = |S(a)∩S(b)| / |S(a)|
    over word trigrams — the sub-document duplication detector
    Jaccard misses (a short doc fully embedded in a long one has high
    containment but low Jaccard), run on the planted corpus where the
    tail-truncated near-dups are contained in their originals by
    construction.

    Rare-shingle cutoff (df ≤ {_CONT_DF_CAP}) applies identically to
    the candidate join, the intersection AND the denominator in both
    engines, so the gated number is exact for the rare-shingle
    definition — not an approximation of the uncapped one.

    Scale: candidate pairs come from the shingle equi-join, bounded
    by Σ_(df≤cap) df² like q128's df-capped TF-IDF join — never
    corpus²; |S(a)| is a per-doc agg joined back on the bounded pair
    set. The gram explode feeds four subtrees (df ranking, the join
    filter, both self-join sides) — persisting it was TRIED AND
    REJECTED on measurement (q55's lesson repeats): interleaved A/B
    at ×100 (500k docs) gave 56.6/48.8 s lazy vs 73.6/57.9 s with a
    MEMORY_AND_DISK barrier on grams+rsh. Materializing the wide
    gram relation costs more than re-running its cheap map-side
    explode, and AQE's ReusedExchange already dedups the shuffle the
    aggs share. The containment ordering rounds to 4 before ranking
    with (a, b) tiebreak, so LIMIT 100 is engine-stable.
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    staged = c.select("doc_id", toks.alias("t"))
    n = F.size("t") - 2
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    # generate_series(1, 0) is empty — filter short docs out before
    # the sequence is built so both engines drop them identically
    grams = staged.filter(n > 0).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.array_join(F.slice(F.col("t"), i, 3), " "),
                )
            )
        ).alias("g"),
    )
    rare = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _CONT_DF_CAP
    )
    rsh = grams.join(rare.select("g"), "g")
    sizes = rsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    x, y = rsh.alias("x"), rsh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.g") == F.col("y.g"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cont = F.col("common").cast("double") / F.col("n_sh")
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a"), "a")
        .filter((F.col("n_sh") >= _CONT_MIN_SH) & (cont >= _CONT_THRESH))
        .select(
            "a",
            "b",
            F.col("n_sh").alias("n_shingles_a"),
            "common",
            F.round(cont, 4).alias("containment"),
        )
        .orderBy(F.desc("containment"), "a", "b")
        .limit(100)
    )


@register(
    "q159_incremental_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    keyed AS (
        SELECT doc_id, doc_id // 1000000 AS band,
               md5(text) AS content_hash,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
        FROM corpus
    ),
    idx_c AS (SELECT DISTINCT content_hash FROM keyed WHERE band = 0),
    idx_f AS (SELECT DISTINCT fingerprint  FROM keyed WHERE band = 0),
    batch AS (SELECT * FROM keyed WHERE band > 0)
    SELECT b.band,
           count(*) AS n_batch,
           count(c.content_hash) AS n_exact_dup,
           count(f.fingerprint)  AS n_fp_dup,
           count(*) - count(f.fingerprint) AS n_new
    FROM batch b
    LEFT JOIN idx_c c ON b.content_hash = c.content_hash
    LEFT JOIN idx_f f ON b.fingerprint = f.fingerprint
    GROUP BY b.band
    ORDER BY b.band
    """,
)
def q159_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (day-2) dedup: a new batch arrives and is checked
    against the EXISTING corpus index instead of re-deduping the
    world — the shape every production ingestion pipeline actually
    runs. Band 0 (the originals) is the standing index; bands 1
    (tail-truncated near-dups) and 2 (exact copies) are the incoming
    batch. Two escalating keys: exact content md5, then the
    order-insensitive distinct-token fingerprint (q40's) that still
    catches the truncated variants whose dropped tokens repeat
    earlier in the doc.

    Scale: two hash semi-joins of the batch against the index keys —
    the batch is small relative to the corpus, so both plan as
    shuffle-free broadcast probes when it fits, and the Bloom
    pre-filter (q119) prunes the corpus-side scan when it doesn't;
    the index is exactly the mergeable state a standing dedup
    service keeps per shard.
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    keyed = c.select(
        "doc_id",
        (F.col("doc_id") / 1000000).cast("long").alias("band"),
        F.md5("text").alias("content_hash"),
        F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
    )
    idx_c = keyed.filter(F.col("band") == 0).select("content_hash").distinct()
    idx_f = keyed.filter(F.col("band") == 0).select("fingerprint").distinct()
    batch = keyed.filter(F.col("band") > 0)
    return (
        batch.join(
            idx_c.withColumn("_ce", F.lit(1)), "content_hash", "left"
        )
        .join(idx_f.withColumn("_fe", F.lit(1)), "fingerprint", "left")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count("_ce").alias("n_exact_dup"),
            F.count("_fe").alias("n_fp_dup"),
            (F.count(F.lit(1)) - F.count("_fe")).alias("n_new"),
        )
        .orderBy("band")
    )


@register(
    "q175_item_cf_cosine",
    oracle="""
    WITH pc AS (
        SELECT a, b, count(*) AS n_ab
        FROM (
            SELECT DISTINCT l1.l_orderkey,
                   least(l1.l_partkey, l2.l_partkey) AS a,
                   greatest(l1.l_partkey, l2.l_partkey) AS b
            FROM lineitem l1
            JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        )
        GROUP BY a, b
    ),
    ic AS (
        SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS n_i
        FROM lineitem GROUP BY l_partkey
    )
    SELECT pc.a, pc.b, pc.n_ab,
           round(pc.n_ab / sqrt(CAST(ia.n_i AS DOUBLE) * ib.n_i), 4) AS cosine
    FROM pc JOIN ic ia ON ia.item = pc.a JOIN ic ib ON ib.item = pc.b
    ORDER BY round(pc.n_ab / sqrt(CAST(ia.n_i AS DOUBLE) * ib.n_i), 4) DESC,
             pc.a, pc.b
    LIMIT 20
    """,
)
def q175_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over the
    binary order×item incidence — sim(a,b) = |orders with both| /
    sqrt(|orders with a|·|orders with b|), top-20 pairs. The
    recommender primitive ("customers who bought a also bought b")
    the co-purchase graph family (q101/q118/q148) stops short of:
    co-counts NORMALIZED by item popularity so hub items don't
    dominate.

    Integer co-counts and order-counts feed one sqrt; the ordering
    key is the ROUNDED cosine with (a, b) tiebreak, so the top-20
    cut is engine-stable.

    Scale: the pair relation is q101's order-bounded self-join
    (fan-out Σ basket², never catalog²); item counts are one
    distinct agg joined back onto the bounded pair set — both joins
    reuse the item hash partitioning. This IS the co-occurrence CF
    production shape (swing/Jaccard/lift are the same plan with a
    different final expression; q141 already gates lift).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pc = (
        _copurchase_pairs(li)
        .distinct()
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ic = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.countDistinct("l_orderkey").alias("n_i")
    )
    ia = ic.withColumnRenamed("item", "a").withColumnRenamed("n_i", "na")
    ib = ic.withColumnRenamed("item", "b").withColumnRenamed("n_i", "nb")
    cosine = F.round(
        F.col("n_ab") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 4
    )
    return (
        pc.join(ia, "a")
        .join(ib, "b")
        .select("a", "b", "n_ab", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), "a", "b")
        .limit(20)
    )


@register(
    "q186_clustering_coefficient",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
        SELECT v, CAST(count(*) AS DOUBLE) AS d FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
        ) GROUP BY v
    ),
    tris AS (
        SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_v AS (
        SELECT v, CAST(count(*) AS DOUBLE) AS t FROM (
            SELECT va AS v FROM tris UNION ALL
            SELECT vb AS v FROM tris UNION ALL
            SELECT vc AS v FROM tris
        ) GROUP BY v
    )
    SELECT deg.v AS node, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tri_v.t, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(tri_v.t, 0) / (deg.d * (deg.d - 1)), 6)
               AS clustering_coef
    FROM deg LEFT JOIN tri_v ON deg.v = tri_v.v
    WHERE deg.d >= 2
    ORDER BY clustering_coef DESC, node ASC
    LIMIT 20
    """,
)
def q186_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the co-purchase
    graph — cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), the
    node-level community-density feature that q101's single global
    triangle count can't provide (top 20, ties broken by node id).

    Scale: q101's oriented wedge-close (each triangle found exactly
    once), then ONE explode attributes it to its 3 corners — so the
    per-node extension adds only a 3× fan-out of the (tiny) triangle
    set plus two |V|-sized aggs, not a new corpus join. The edge
    relation is persisted across its three uses (the q118 fix
    pattern); cc arithmetic is exact integer ratios so both engines
    agree bit-for-bit.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_pairs(li).select("a", "b").distinct().persist()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("va"),
            F.col("e1.b").alias("vb"),
            F.col("e2.b").alias("vc"),
        )
    )
    tri_v = (
        tris.select(
            F.explode(F.array("va", "vb", "vc")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
    )
    out = (
        deg.join(tri_v, "v", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("v").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0.0)).cast("long").alias("n_triangles"),
            F.round(
                2.0 * F.coalesce("t", F.lit(0.0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coef"),
        )
        .orderBy(F.desc("clustering_coef"), F.asc("node"))
        .limit(20)
    )
    rows = out.collect()  # bounded: LIMIT 20 — collected to drop the cache
    edges.unpersist()
    return spark.createDataFrame(
        rows,
        "node bigint, degree bigint, n_triangles bigint, clustering_coef double",
    )


@register(
    "q180_degree_assortativity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
        SELECT v, CAST(count(*) AS DOUBLE) AS d FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
        ) GROUP BY v
    ),
    ends AS (
        SELECT da.d AS x, db.d AS y FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b
        UNION ALL
        SELECT db.d AS x, da.d AS y FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           round(avg(x), 4) AS mean_end_degree,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                    * sqrt(count(*) * sum(y * y) - sum(y) * sum(y))),
                 6) AS assortativity
    FROM ends
    """,
)
def q180_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over all edge stubs (Newman's r):
    do high-degree parts co-occur with other high-degree parts
    (r > 0) or with leaves (r < 0)? This is the one-number structure
    summary that decides whether q101's degree-ordered wedge variant
    pays off. Both directions of every edge enter (the undirected
    stub convention), and the correlation is expanded into raw sums
    so both engines run the identical arithmetic.

    Scale: edges come from the bounded per-order fan-out (Σ lines²
    per order); degrees are one |V|-row agg joined back onto edges
    (broadcastable — |V| = |parts| is dimension-sized even at 100 TB
    fact scale); the correlation collapses to five mergeable sums in
    one partial agg. No corpus-sized shuffle beyond the edge build.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_pairs(li).select("a", "b").distinct().persist()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("dy"))
    # unhinted degree attach: the degree map is node-grain (corpus at
    # dedup-graph scale) — AQE broadcasts when it fits
    joined = edges.join(da, "a").join(db, "b")
    ends = joined.select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    ).unionAll(joined.select(F.col("dy").alias("x"), F.col("dx").alias("y")))
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = F.sqrt(
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    ) * F.sqrt(n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
    out = ends.agg(
        (n / 2).cast("long").alias("n_edges"),
        F.round(F.avg("x"), 4).alias("mean_end_degree"),
        F.round(num / den, 6).alias("assortativity"),
    )
    rows = out.collect()  # bounded: single row — collected to drop the cache
    edges.unpersist()
    return spark.createDataFrame(
        rows, "n_edges bigint, mean_end_degree double, assortativity double"
    )


@register(
    "q192_dedup_eval_pr",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
        SELECT doc_id,
               unnest(list_filter({_TOKS}, t -> length(t) > 0)) AS tok
        FROM corpus
    ),
    hashes AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    usig AS (
        SELECT doc_id,
               SUM(CASE WHEN vote > 0 THEN 1::HUGEINT << bit ELSE 0::HUGEINT END) AS u
        FROM votes GROUP BY doc_id
    ),
    sig AS (
        SELECT c.doc_id, c.text, COALESCE(u, 0::HUGEINT) AS u
        FROM corpus c LEFT JOIN usig USING (doc_id)
    ),
    bands AS (
        SELECT doc_id, b.b AS bi,
               CAST(((u >> (16 * b.b)) & 65535) AS BIGINT) AS bv
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE bit_count(xor(
            CAST(sa.u - CASE WHEN sa.u >= 9223372036854775808::HUGEINT
                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT),
            CAST(sb.u - CASE WHEN sb.u >= 9223372036854775808::HUGEINT
                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
        )) <= 8
    ),
    verified AS (
        SELECT h.id_a FROM ham h
        JOIN sig sa ON sa.doc_id = h.id_a
        JOIN sig sb ON sb.doc_id = h.id_b
        WHERE round(CAST(len(list_intersect(
                  list_distinct(string_split_regex(lower(trim(sa.text)), '\\s+')),
                  list_distinct(string_split_regex(lower(trim(sb.text)), '\\s+')))) AS DOUBLE)
              / greatest(CAST(len(list_distinct(
                  string_split_regex(lower(trim(sa.text)), '\\s+')
                  || string_split_regex(lower(trim(sb.text)), '\\s+'))) AS DOUBLE), 1.0),
              4) >= 0.7
    ),
    truth AS (
        SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
        UNION ALL
        SELECT doc_id, doc_id + 2000000 FROM documents
        UNION ALL
        SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM ham) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM ham JOIN truth USING (id_a, id_b)) AS BIGINT)
               AS n_truth_found,
           round((SELECT count(*) FROM ham JOIN truth USING (id_a, id_b))
                 / greatest((SELECT count(*) FROM truth), 1), 4) AS recall,
           round((SELECT count(*) FROM verified)
                 / greatest((SELECT count(*) FROM ham), 1), 4)
               AS precision_refined
    """,
)
def q192_dedup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the banded-SimHash near-dup detector —
    recall against the PLANTED ground truth (every base doc, its
    exact copy, and its tail-truncated near-dup form 3 true pairs)
    and precision of the hamming<=8 candidates under the exact-
    Jaccard>=0.7 refine. This is the eval harness a pipeline runs
    before trusting a sketch detector at 100 TB: q53 builds the
    sketch, q192 scores it. Banding = 4x16-bit signature slices
    (unsigned shifts both sides, so the bit patterns agree despite
    the signed storage type).

    Scale: the candidate set is Σ bucket² over 16-bit band buckets —
    never corpus² — and hamming + Jaccard run only on candidates;
    truth is a projection of the base table. The same plan scores a
    real corpus by swapping `truth` for a labeled pair sample.
    """
    c = _corpus(spark, sf_dir)
    sigs = D.simhash64(c, "doc_id", "text")  # doc_id, simhash (long)
    sigtext = sigs.join(c, "doc_id").select("doc_id", "simhash", "text")
    bidx = spark.range(0, 4).select(F.col("id").cast("int").alias("bi"))
    bands = sigtext.crossJoin(F.broadcast(bidx)).select(
        "doc_id",
        "bi",
        F.expr("shiftrightunsigned(simhash, bi * 16) & 65535").alias("bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sigtext.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sig_a"),
        F.col("text").alias("text_a"),
    )
    sb = sigtext.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sig_b"),
        F.col("text").alias("text_b"),
    )
    ham = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= 8
        )
    )
    ham = ham.withColumn(
        "verified",
        (D.token_set_jaccard(F.col("text_a"), F.col("text_b")) >= 0.7),
    ).persist()
    d = load(spark, sf_dir, "documents").select("doc_id")
    truth = (
        d.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
        .unionAll(
            d.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 2000000).alias("id_b"),
            )
        )
        .unionAll(
            d.select(
                (F.col("doc_id") + 1000000).alias("id_a"),
                (F.col("doc_id") + 2000000).alias("id_b"),
            )
        )
    )
    n_truth = truth.count()
    n_cand = ham.count()
    n_found = ham.join(truth, ["id_a", "id_b"]).count()
    n_verified = ham.where("verified").count()
    ham.unpersist()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_cand,
                n_found,
                round(n_found / max(n_truth, 1), 4),
                round(n_verified / max(n_cand, 1), 4),
            )
        ],
        "n_truth bigint, n_candidates bigint, n_truth_found bigint,"
        " recall double, precision_refined double",
    )


@register(
    "q199_minhash_eval_pr",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, text, {_TOKS} AS t FROM corpus),
    sh AS (
        SELECT doc_id, text,
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(0, len(t) - 2),
                                        i -> {_BASE_HASH_SQL})
                    ELSE [] END AS base_hashes
        FROM toks
    ),
    sig AS (SELECT doc_id, text, {_sig_sql()} AS sig FROM sh),
    bands AS (
        SELECT doc_id, text, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST(sig[2*b + 1] AS VARCHAR) || '|' || CAST(sig[2*b + 2] AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text AS text_a, b.text AS text_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_idx = b.band_idx
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    verified AS (
        SELECT id_a, id_b FROM cand
        WHERE round(CAST(len(list_intersect(
                  list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')),
                  list_distinct(string_split_regex(lower(trim(text_b)), '\\s+')))) AS DOUBLE)
              / greatest(CAST(len(list_distinct(
                  string_split_regex(lower(trim(text_a)), '\\s+')
                  || string_split_regex(lower(trim(text_b)), '\\s+'))) AS DOUBLE), 1.0),
              4) >= 0.7
    ),
    truth AS (
        SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
        UNION ALL
        SELECT doc_id, doc_id + 2000000 FROM documents
        UNION ALL
        SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS BIGINT)
               AS n_truth_found,
           round((SELECT count(*) FROM cand JOIN truth USING (id_a, id_b))
                 / greatest((SELECT count(*) FROM truth), 1), 4) AS recall,
           round((SELECT count(*) FROM verified)
                 / greatest((SELECT count(*) FROM cand), 1), 4)
               AS precision_refined
    """,
)
def q199_minhash_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the MinHash-LSH banded near-dup detector —
    q192's planted-truth precision/recall harness applied to the
    SECOND shipped sketch detector (q52's pipeline), so BOTH sketch
    families carry measured quality before anyone trusts them at
    100 TB. Candidates are the band-bucket pairs (operators/
    dedup.minhash_candidates: shingle → 8 affine min-hashes → 4
    bands → bucket self-join); recall is the fraction of planted
    true pairs (base/exact-copy/tail-truncated triangles) the bands
    surface, precision_refined the fraction of candidates surviving
    the exact Jaccard ≥ 0.7 refine.

    Scale: candidate cost is Σ bucket² over band buckets, never
    corpus²; the refine joins texts onto candidates only, and truth
    is a projection of the base table — the same plan scores a real
    corpus by swapping `truth` for a labeled pair sample.
    """
    c = _corpus(spark, sf_dir)
    cand = D.minhash_candidates(c, "doc_id", "text")
    da = c.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    db = c.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    scored = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            (D.token_set_jaccard(F.col("text_a"), F.col("text_b")) >= 0.7).alias(
                "verified"
            ),
        )
        .persist()
    )
    d = load(spark, sf_dir, "documents").select("doc_id")
    truth = (
        d.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
        .unionAll(
            d.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 2000000).alias("id_b"),
            )
        )
        .unionAll(
            d.select(
                (F.col("doc_id") + 1000000).alias("id_a"),
                (F.col("doc_id") + 2000000).alias("id_b"),
            )
        )
    )
    n_truth = truth.count()
    n_cand = scored.count()
    n_found = scored.join(truth, ["id_a", "id_b"]).count()
    n_verified = scored.where("verified").count()
    scored.unpersist()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_cand,
                n_found,
                round(n_found / max(n_truth, 1), 4),
                round(n_verified / max(n_cand, 1), 4),
            )
        ],
        "n_truth bigint, n_candidates bigint, n_truth_found bigint,"
        " recall double, precision_refined double",
    )


@register(
    "q200_entity_resolution_fs",
    oracle="""
    WITH a AS (
        SELECT c_custkey AS akey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
    ),
    b AS (
        SELECT c_custkey + 1000000 AS bkey,
               CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) ELSE c_name END AS c_name,
               c_nationkey,
               CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 0.01, 2)
                    ELSE c_acctbal END AS c_acctbal,
               CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
                   AS c_mktsegment
        FROM customer
    ),
    pairs AS (
        SELECT a.akey, b.bkey,
               CASE WHEN lower(a.c_name) = lower(b.c_name)
                    THEN log2(0.95 / 0.005) ELSE log2(0.05 / 0.995) END
             + CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 0.02
                    THEN log2(0.9 / 0.05) ELSE log2(0.1 / 0.95) END
             + CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN log2(0.85 / 0.25) ELSE log2(0.15 / 0.75) END AS score,
               CASE WHEN b.bkey - 1000000 = a.akey THEN 1 ELSE 0 END AS is_truth
        FROM a JOIN b ON a.c_nationkey = b.c_nationkey
    ),
    classed AS (
        SELECT CASE WHEN round(score, 4) >= 8.0 THEN 'link'
                    WHEN round(score, 4) >= 0.0 THEN 'possible'
                    ELSE 'non-link' END AS class,
               is_truth
        FROM pairs
    )
    SELECT class,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_truth) AS BIGINT) AS n_true,
           round(sum(is_truth) / CAST(count(*) AS DOUBLE), 4) AS precision,
           round(sum(is_truth) / CAST((SELECT count(*) FROM customer) AS DOUBLE), 4)
               AS truth_share
    FROM classed
    GROUP BY class
    ORDER BY class
    """,
)
def q200_entity_resolution_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage (the probabilistic entity
    resolution every multi-source training-data pipeline needs before
    cross-source dedup can trust an id): a planted 'dirty' second
    source (case-noised names, penny-drifted balances, missing
    segments — all deterministic in both engines), BLOCKED on
    nationkey, scored per field with log2(m/u) agreement /
    log2((1-m)/(1-u)) disagreement weights, and classified by the
    two-threshold rule (link / possible / non-link). Output is the
    per-class confusion row: pair counts, planted-truth hits,
    precision, and truth coverage.

    Scale: blocking is a pure EQUI-join, so candidate cost is
    Σ block² — bounded by the blocking key's granularity, never
    |A|×|B| (at 100 TB block on (nation, name-prefix/phonetic key);
    same plan, finer key). Scoring is map-side codegen arithmetic on
    candidate rows; the classification rollup is a 3-key agg.
    """
    c = load(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("akey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    b = c.select(
        (F.col("c_custkey") + 1000000).alias("bkey"),
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 3 == 0, F.round(F.col("c_acctbal") + 0.01, 2))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    lg2 = lambda m, u: F.lit(float(__import__("math").log2(m / u)))  # noqa: E731
    aa, bb = a.alias("a"), b.alias("b")
    score = (
        F.when(
            F.lower(F.col("a.c_name")) == F.lower(F.col("b.c_name")),
            lg2(0.95, 0.005),
        ).otherwise(lg2(0.05, 0.995))
        + F.when(
            F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) <= 0.02,
            lg2(0.9, 0.05),
        ).otherwise(lg2(0.1, 0.95))
        + F.when(
            F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), lg2(0.85, 0.25)
        ).otherwise(lg2(0.15, 0.75))
    )
    pairs = aa.join(bb, F.col("a.c_nationkey") == F.col("b.c_nationkey")).select(
        F.round(score, 4).alias("score"),
        F.when(F.col("b.bkey") - 1000000 == F.col("a.akey"), 1)
        .otherwise(0)
        .alias("is_truth"),
    )
    n_truth = c.count()  # bounded driver scalar: |customer| (the planted-truth size)
    classed = pairs.select(
        F.when(F.col("score") >= 8.0, "link")
        .when(F.col("score") >= 0.0, "possible")
        .otherwise("non-link")
        .alias("class"),
        "is_truth",
    )
    return (
        classed.groupBy("class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("is_truth").cast("long").alias("n_true"),
            F.round(F.sum("is_truth") / F.count(F.lit(1)).cast("double"), 4).alias(
                "precision"
            ),
            F.round(F.sum("is_truth") / F.lit(float(n_truth)), 4).alias("truth_share"),
        )
        .orderBy("class")
    )


_KCORE_K = 3  # peel threshold
_KCORE_ROUNDS = 12  # oracle unroll depth; >= observed convergence at both SFs

# Each round references the previous twice (both join sides); without
# MATERIALIZED DuckDB inlines the chain exponentially (2^rounds copies
# of the edge scan -> "Too many open files").
_KCORE_PEELS = ",\n".join(
    f"    c{i} AS MATERIALIZED (SELECT e.u FROM edges e JOIN c{i - 1} a ON e.u = a.u"
    f" JOIN c{i - 1} b ON e.v = b.u GROUP BY e.u HAVING count(*) >= {_KCORE_K})"
    for i in range(1, _KCORE_ROUNDS + 1)
)


def _kcore_peel(edges: DataFrame) -> DataFrame:
    """Peel the symmetric `edges(u, v)` relation (persisted by the
    caller) to its {_KCORE_K}-core fixpoint and return the surviving
    member relation `(u)`.

    Shared by q205/q227. The DuckDB oracle cannot iterate to a true
    fixpoint, so it unrolls exactly _KCORE_ROUNDS chained peels;
    rounds past convergence are no-ops, so c{rounds} == fixpoint IFF
    the fixpoint is reached within _KCORE_ROUNDS shrinking rounds.
    That coupling is enforced HERE: the loop counts shrinking rounds
    and raises when they exceed the oracle's unroll depth, so a
    dataset that peels deeper fails loudly at the source instead of
    surfacing as an unexplained gate hash-mismatch. Observed depth:
    0 shrinking rounds at sf0.001 (the dense small graph is its own
    3-core), 9 at sf0.01.
    """
    cur = edges.select("u").distinct().localCheckpoint(eager=True)
    n_cur = cur.count()
    shrink_rounds = 0
    for _ in range(40):
        nxt = (
            edges.join(cur.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"))
            .drop("cu")
            .join(cur.withColumnRenamed("u", "cv"), F.col("v") == F.col("cv"))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("u")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_cur:
            break
        shrink_rounds += 1
        n_cur = n_nxt
    else:
        edges.unpersist()
        raise RuntimeError("k-core peeling did not converge in 40 rounds")
    if shrink_rounds > _KCORE_ROUNDS:
        edges.unpersist()
        raise RuntimeError(
            f"k-core fixpoint took {shrink_rounds} shrinking rounds but the "
            f"DuckDB oracle unrolls only {_KCORE_ROUNDS}; raise _KCORE_ROUNDS "
            "so the oracle reaches the same fixpoint"
        )
    return cur


@register(
    "q205_kcore_membership",
    oracle=f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    p AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    pairs AS (SELECT a, b FROM p WHERE w >= 2),
    edges AS MATERIALIZED (
        SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
    ),
    c0 AS MATERIALIZED (SELECT DISTINCT u FROM edges),
{_KCORE_PEELS}
    SELECT e.u AS part_key, CAST(count(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN c{_KCORE_ROUNDS} a ON e.u = a.u
    JOIN c{_KCORE_ROUNDS} b ON e.v = b.u
    GROUP BY e.u
    ORDER BY e.u
    """,
)
def q205_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the weight-thresholded co-purchase graph (edges =
    part pairs sharing >= 2 orders) by iterative degree peeling —
    the graph-densification step a recommender/curriculum pipeline
    runs before expensive per-node work (q118 PageRank, q175 CF):
    drop every node whose degree inside the surviving subgraph falls
    below K, repeat to fixpoint, emit members with their within-core
    degree.

    Peeling is the textbook k-core algorithm (Matula-Beck); each
    round is ONE edge<->member equi-join + a partial-agg degree count
    - the same per-round shape as a connected_components round in
    operators/graph.py, which carries the production controls
    (lineage truncation, reliable checkpoint, convergence RAISE).
    Convergence at the gate SFs: 1 round at sf0.001 (the dense small
    graph IS its own 3-core), 9 rounds at sf0.01 (real cascade, core
    1055 of 1892 nodes); the oracle unrolls 12 chained-CTE rounds —
    strictly past both fixpoints, and peel rounds after convergence
    are no-ops, so fixpoint == c12. The Spark side (_kcore_peel)
    iterates with a convergence check, RAISES past 40 rounds rather
    than return partial labels, and RAISES if convergence needs more
    shrinking rounds than the oracle unrolls — the oracle-depth
    assumption fails loudly here, not as a silent gate mismatch.

    Scale: the edge relation (the lineitem self-join, the expensive
    stage) is persisted ONCE and reused every round; per-round state
    is |surviving nodes| rows, monotonically shrinking; per-round
    lineage is truncated via localCheckpoint so the plan cannot grow
    exponentially with rounds (the q56 CC lesson). Peeling rounds are
    bounded by the degeneracy ordering depth, not |V|; for power-law
    co-occurrence graphs that is O(tens) at any corpus size.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        _copurchase_pairs(li)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("a", "b")
    )
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    cur = _kcore_peel(edges)
    out = (
        edges.join(cur.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"))
        .drop("cu")
        .join(cur.withColumnRenamed("u", "cv"), F.col("v") == F.col("cv"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("part_key"), "core_degree")
        .orderBy("part_key")
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    return out


@register(
    "q212_repeated_span_coverage",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= 8
    ),
    g AS (
        SELECT doc_id, len(toks) AS n, u.i AS pos,
               array_to_string(toks[u.i:u.i + 7], ' ') AS gram
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u
    ),
    dfreq AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    dup AS (
        SELECT g.doc_id, g.n, g.pos, g.pos + 7 AS endp
        FROM g JOIN dfreq USING (gram)
    ),
    isl AS (
        SELECT doc_id, n, pos, endp,
               CASE WHEN lag(endp) OVER w IS NULL
                         OR pos > lag(endp) OVER w THEN 1 ELSE 0 END AS brk
        FROM dup
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ids AS (
        SELECT doc_id, n, pos, endp,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl_id
        FROM isl
    ),
    merged AS (
        SELECT doc_id, n, isl_id,
               max(endp) - min(pos) + 1 AS covered,
               CAST(count(*) AS BIGINT) AS occs
        FROM ids GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(occs) AS BIGINT) AS dup_occs,
           CAST(sum(covered) AS BIGINT) AS covered_tokens,
           round(sum(covered) / CAST(n AS DOUBLE), 4) AS coverage
    FROM merged
    GROUP BY doc_id, n
    ORDER BY doc_id
    """,
)
def q212_repeated_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span localization (the exact-substring
    dedup of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better", re-expressed relationally): every 8-token window
    appearing in >= 2 distinct documents is a duplicated span; per
    document, overlapping span hits merge into maximal islands
    (q116's interval-merge as a window, since fixed-length intervals
    sorted by start need only lag(end)) and the report is the token
    coverage a span-removal pass would delete. Complements q153
    (whose shingle containment scores DOC pairs; this localizes the
    OFFSETS) and q96 (whose boilerplate grams are within-source
    frequency filters).

    Scale: the gram fan-out is ~n rows per doc (linear, map-side
    slice/hash in codegen); the df filter is one gram-keyed agg — at
    100 TB the gram key becomes a 64-bit rolling hash (q51) and rare
    grams can be df-capped exactly like q153; the island merge is a
    per-doc window over ONLY the duplicated hits (~9%% of grams
    here), never the corpus.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    t = d.where(F.size("toks") >= 8)
    g = t.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.explode(F.sequence(F.lit(1), F.size("toks") - 7)).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "n",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), 8)).alias("gram"),
    )
    dfreq = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("d"))
        .where(F.col("d") >= 2)
        .select("gram")
    )
    dup = g.join(dfreq, "gram").select(
        "doc_id", "n", "pos", (F.col("pos") + 7).alias("endp")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn(
        "brk",
        F.when(
            F.lag("endp").over(w).isNull() | (F.col("pos") > F.lag("endp").over(w)), 1
        ).otherwise(0),
    )
    ids = isl.withColumn(
        "isl_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = ids.groupBy("doc_id", "n", "isl_id").agg(
        (F.max("endp") - F.min("pos") + 1).alias("covered"),
        F.count(F.lit(1)).alias("occs"),
    )
    return (
        merged.groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("occs").alias("dup_occs"),
            F.sum("covered").alias("covered_tokens"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            "n_spans",
            "dup_occs",
            "covered_tokens",
            F.round(F.col("covered_tokens") / F.col("n").cast("double"), 4).alias(
                "coverage"
            ),
        )
        .orderBy("doc_id")
    )


_RECSYS_SPLIT = "1999-01-01"  # temporal holdout boundary
_RECSYS_K = 4
_RECSYS_M = 50  # neighborhood truncation: top co-items kept per item


@register(
    "q218_recsys_backtest",
    oracle=f"""
    WITH oi AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i, o.o_orderkey AS ok,
               o.o_orderdate < DATE '{_RECSYS_SPLIT}' AS is_train
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    tr_items AS MATERIALIZED (
        SELECT DISTINCT ok, i FROM oi WHERE is_train
    ),
    cooc_full AS (
        SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS c
        FROM tr_items a JOIN tr_items b ON a.ok = b.ok AND a.i != b.i
        GROUP BY 1, 2
    ),
    cooc AS MATERIALIZED (
        -- production item-CF truncates neighborhoods: keep each
        -- item's top-50 co-items so the serving fan-out is bounded
        -- by history x M, not history x co-degree
        SELECT i, j, c FROM (
            SELECT i, j, c,
                   row_number() OVER (PARTITION BY i ORDER BY c DESC, j) AS nrk
            FROM cooc_full
        ) WHERE nrk <= 50
    ),
    tr_ui AS MATERIALIZED (
        SELECT DISTINCT u, i FROM oi WHERE is_train
    ),
    scores AS (
        SELECT t.u, c.j, sum(c.c) AS s
        FROM tr_ui t JOIN cooc c ON c.i = t.i
        WHERE NOT EXISTS (SELECT 1 FROM tr_ui o WHERE o.u = t.u AND o.i = c.j)
        GROUP BY t.u, c.j
    ),
    recs AS MATERIALIZED (
        SELECT u, j, row_number() OVER (PARTITION BY u ORDER BY s DESC, j) AS rk
        FROM scores
        QUALIFY rk <= {_RECSYS_K}
    ),
    te_ui AS MATERIALIZED (
        SELECT DISTINCT u, i FROM oi
        WHERE NOT is_train AND u IN (SELECT u FROM tr_ui)
    ),
    hits AS MATERIALIZED (
        SELECT t.u, r.rk FROM te_ui t JOIN recs r ON r.u = t.u AND r.j = t.i
    ),
    per_user AS (
        SELECT t.u, min(h.rk) AS first_hit
        FROM (SELECT DISTINCT u FROM te_ui) t
        LEFT JOIN hits h ON h.u = t.u
        GROUP BY t.u
    )
    SELECT CAST((SELECT count(*) FROM per_user) AS BIGINT) AS n_users,
           CAST((SELECT count(*) FROM te_ui) AS BIGINT) AS n_test_pairs,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           round((SELECT count(*) FROM hits)
                 / CAST((SELECT count(*) FROM te_ui) AS DOUBLE), 6) AS hit_rate,
           round((SELECT sum(CASE WHEN first_hit IS NULL THEN 0.0
                                  ELSE 1.0 / first_hit END) FROM per_user)
                 / (SELECT count(*) FROM per_user), 6) AS mrr
    """,
)
def q218_recsys_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-holdout backtest of the item-item co-purchase
    recommender (q175's model, q202's training pairs): train
    co-occurrence on orders before 1999-01-01, recommend each
    historical user their top-4 unowned items by summed co-purchase
    count (ties by item id), score hit-rate@4 and MRR against the
    user's actual post-split purchases — the end-to-end eval loop
    that turns the CF family into a measured system (the q192/q199
    pattern, applied to recommendation instead of dedup).

    Scale: co-occurrence is the order-bounded pair self-join (q101's
    bound: Sigma per-order |items|^2, never |items|^2 global);
    scoring fans out train(u,i) x cooc(i,j) — bounded by user
    history x item co-degree, the standard item-CF serving join; the
    anti-join removes owned items before the top-k window
    (per-user partitions, WindowGroupLimit pushes rank<=4 down).
    Metrics collapse to one row.
    """
    split = F.lit(_RECSYS_SPLIT).cast("date")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", (F.col("o_orderdate").cast("date") < split).alias("is_train")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    oi = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderkey").alias("ok"),
        "is_train",
    )
    tr_items = oi.where("is_train").select("ok", "i").distinct()
    a, b = tr_items.alias("a"), tr_items.alias("b")
    cooc_full = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.i") != F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wn = Window.partitionBy("i").orderBy(F.desc("c"), F.col("j"))
    cooc = (
        cooc_full.withColumn("nrk", F.row_number().over(wn))
        .where(F.col("nrk") <= _RECSYS_M)
        .drop("nrk")
    )
    tr_ui = oi.where("is_train").select("u", "i").distinct().persist()
    scores = (
        tr_ui.join(cooc, "i")
        .join(
            tr_ui.select(F.col("u").alias("u2"), F.col("i").alias("j2")),
            (F.col("u") == F.col("u2")) & (F.col("j") == F.col("j2")),
            "left_anti",
        )
        .groupBy("u", "j")
        .agg(F.sum("c").alias("s"))
    )
    wk = Window.partitionBy("u").orderBy(F.desc("s"), F.col("j"))
    recs = (
        scores.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= _RECSYS_K)
        .select("u", "j", "rk")
    )
    te_ui = (
        oi.where(~F.col("is_train"))
        .join(tr_ui.select("u").distinct(), "u", "left_semi")
        .select("u", "i")
        .distinct()
        .persist()
    )
    hits = te_ui.join(
        recs, (te_ui["u"] == recs["u"]) & (te_ui["i"] == recs["j"])
    ).select(te_ui["u"].alias("hu"), "rk")
    per_user = (
        te_ui.select("u")
        .distinct()
        .join(hits.groupBy("hu").agg(F.min("rk").alias("first_hit")),
              F.col("u") == F.col("hu"), "left")
        .select("u", "first_hit")
    )
    m_users = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum(
                F.when(F.col("first_hit").isNull(), 0.0).otherwise(
                    1.0 / F.col("first_hit")
                )
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mrr"),
    )
    m_pairs = te_ui.agg(F.count(F.lit(1)).alias("n_test_pairs"))
    m_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    out = (
        m_users.crossJoin(F.broadcast(m_pairs))
        .crossJoin(F.broadcast(m_hits))
        .select(
            "n_users",
            "n_test_pairs",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_test_pairs").cast("double"), 6).alias(
                "hit_rate"
            ),
            "mrr",
        )
        .localCheckpoint(eager=True)
    )
    tr_ui.unpersist()
    te_ui.unpersist()
    return out


@register(
    "q223_link_prediction_jaccard",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    p AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (SELECT a, b FROM p WHERE w >= 2),
    edges AS MATERIALIZED (
        SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
    ),
    deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    wedges AS (
        SELECT e1.v AS u, e2.v AS v, CAST(count(*) AS BIGINT) AS cn
        FROM edges e1 JOIN edges e2
          ON e1.u = e2.u AND e1.v < e2.v
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT w.u, w.v, w.cn FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.a = w.u AND p.b = w.v)
    )
    SELECT c.u, c.v, c.cn AS common_neighbors,
           du.d AS deg_u, dv.d AS deg_v,
           round(c.cn / CAST(du.d + dv.d - c.cn AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN deg du ON du.u = c.u JOIN deg dv ON dv.u = c.v
    ORDER BY jaccard DESC, c.u, c.v
    LIMIT 20
    """,
)
def q223_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the thresholded co-purchase graph (q205's
    edge relation): for every non-adjacent pair with at least one
    common neighbor, the neighborhood-Jaccard score
    cn/(deg_u + deg_v − cn); top-20 predicted links — the
    graph-completion signal a recommender mines for cold pairs
    (Liben-Nowell & Kleinberg's strongest simple baseline), built
    from the SAME wedge join as q101's triangles: triangle counting
    closes wedges that ARE edges, link prediction ranks the wedges
    that are NOT.

    Scale: wedges are Sigma deg(m)^2 — the q101 bound, the only
    corpus-scale stage and the reason hub capping is the documented
    knob there; existing-edge removal is one anti-join on the pair
    key; degrees attach by two small joins. Jaccard is an
    integer/integer division (identical doubles in both engines),
    rounded before the rank so top-20 ties break on (u, v) cleanly.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        _copurchase_pairs(li)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("a", "b")
        .persist()
    )
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .groupBy(F.col("e1.v").alias("u"), F.col("e2.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedges.join(
        pairs, (wedges["u"] == pairs["a"]) & (wedges["v"] == pairs["b"]), "left_anti"
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("deg_v"))
    out = (
        cand.join(du, cand["u"] == du["ju"])
        .join(dv, cand["v"] == dv["jv"])
        .select(
            "u",
            "v",
            F.col("cn").alias("common_neighbors"),
            "deg_u",
            "deg_v",
            F.round(
                F.col("cn") / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out


@register(
    "q227_modularity_score",
    oracle=f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    p AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    pairs AS (SELECT a, b FROM p WHERE w >= 2),
    edges AS MATERIALIZED (
        SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
    ),
    c0 AS MATERIALIZED (SELECT DISTINCT u FROM edges),
{_KCORE_PEELS},
    core AS MATERIALIZED (SELECT u FROM c{_KCORE_ROUNDS}),
    lab AS MATERIALIZED (
        SELECT e.u, e.v,
               CASE WHEN cu.u IS NOT NULL THEN 1 ELSE 0 END AS lu,
               CASE WHEN cv.u IS NOT NULL THEN 1 ELSE 0 END AS lv
        FROM edges e
        LEFT JOIN core cu ON cu.u = e.u
        LEFT JOIN core cv ON cv.u = e.v
    ),
    m AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM edges),
    within AS (
        SELECT CAST(sum(CASE WHEN lu = 1 AND lv = 1 THEN 1 ELSE 0 END) // 2
                    AS BIGINT) AS e_core,
               CAST(sum(CASE WHEN lu = 0 AND lv = 0 THEN 1 ELSE 0 END) // 2
                    AS BIGINT) AS e_non,
               CAST(sum(CASE WHEN lu != lv THEN 1 ELSE 0 END) // 2 AS BIGINT) AS cut
        FROM lab
    ),
    degsum AS (
        SELECT CAST(sum(CASE WHEN lu = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d_core,
               CAST(sum(CASE WHEN lu = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_non
        FROM lab
    )
    SELECT CAST(m.m AS BIGINT) AS m_edges,
           within.e_core, within.e_non, within.cut,
           round(within.e_core / CAST(m.m AS DOUBLE)
                 - pow(degsum.d_core / (2.0 * m.m), 2)
                 + within.e_non / CAST(m.m AS DOUBLE)
                 - pow(degsum.d_non / (2.0 * m.m), 2), 6) AS modularity
    FROM m, within, degsum
    """,
)
def q227_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the {{3-core, periphery}} bipartition of
    the co-purchase graph: Q = Sigma_c [e_c/m − (d_c/2m)^2] — the
    quality score that tells you whether a community assignment
    (here q205's core membership; in production a Louvain/label-prop
    output) beats the degree-preserving random baseline. Positive Q
    means the split is real structure; Q near 0 means the peel found
    density, not separation.

    Scale: the peel is q205 (persisted edges, shrinking membership);
    given ANY label relation, scoring is a single pass over edges
    with two broadcast label joins — e_c, d_c, and the cut collapse
    in one agg. All counts integer-exact; the final Q is four exact
    integer ratios, rounded at 6.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        _copurchase_pairs(li)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("a", "b")
    )
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    cur = _kcore_peel(edges)
    core_u = cur.withColumnRenamed("u", "cu").withColumn("lu", F.lit(1))
    core_v = cur.withColumnRenamed("u", "cv").withColumn("lv", F.lit(1))
    lab = (
        # unhinted membership attach: the surviving-core node set is
        # node-grain — AQE broadcasts when it fits
        edges.join(core_u, F.col("u") == F.col("cu"), "left")
        .join(core_v, F.col("v") == F.col("cv"), "left")
        .select(
            F.coalesce("lu", F.lit(0)).alias("lu"),
            F.coalesce("lv", F.lit(0)).alias("lv"),
        )
    )
    agg = lab.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("m_edges"),
        (F.sum(F.when((F.col("lu") == 1) & (F.col("lv") == 1), 1).otherwise(0)) / 2)
        .cast("long")
        .alias("e_core"),
        (F.sum(F.when((F.col("lu") == 0) & (F.col("lv") == 0), 1).otherwise(0)) / 2)
        .cast("long")
        .alias("e_non"),
        (F.sum(F.when(F.col("lu") != F.col("lv"), 1).otherwise(0)) / 2)
        .cast("long")
        .alias("cut"),
        F.sum(F.when(F.col("lu") == 1, 1).otherwise(0)).alias("d_core"),
        F.sum(F.when(F.col("lu") == 0, 1).otherwise(0)).alias("d_non"),
    )
    out = agg.select(
        "m_edges",
        "e_core",
        "e_non",
        "cut",
        F.round(
            F.col("e_core") / F.col("m_edges").cast("double")
            - F.pow(F.col("d_core") / (2.0 * F.col("m_edges")), 2)
            + F.col("e_non") / F.col("m_edges").cast("double")
            - F.pow(F.col("d_non") / (2.0 * F.col("m_edges")), 2),
            6,
        ).alias("modularity"),
    ).localCheckpoint(eager=True)
    edges.unpersist()
    return out


@register(
    "q252_golden_record",
    oracle="""
    WITH members AS MATERIALIZED (
        SELECT c_custkey AS k, 0 AS src, c_name AS name,
               c_acctbal AS bal, c_mktsegment AS seg
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, 1, lower(c_name),
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE c_acctbal + 5.0 END,
               CASE WHEN c_custkey % 4 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END
        FROM customer
        UNION ALL
        SELECT c_custkey + 2000000, 2, upper(c_name),
               c_acctbal - 2.5, c_mktsegment
        FROM customer
    ),
    agg AS (
        SELECT lower(name) AS ck,
               CAST(min(k) AS BIGINT) AS canonical_key,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
               round(max(bal), 2) AS best_acctbal
        FROM members GROUP BY 1
    ),
    segs AS (
        SELECT lower(name) AS ck, seg, count(*) AS c
        FROM members WHERE seg != 'UNKNOWN' GROUP BY 1, 2
    ),
    pick AS (
        SELECT ck, seg,
               row_number() OVER (PARTITION BY ck ORDER BY c DESC, seg) AS r
        FROM segs
    )
    SELECT a.canonical_key, a.n_members, a.n_sources, a.best_acctbal,
           p.seg AS segment
    FROM agg a JOIN pick p ON p.ck = a.ck AND p.r = 1
    ORDER BY a.canonical_key
    """,
)
def q252_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the consolidation step after
    entity resolution (q200 scores pairs, q56/q143 cluster them;
    this builds the ONE surviving record per cluster that downstream
    joins use): over a three-source planted corpus (original, a
    lower-cased feed with missing balances and UNKNOWN segments, an
    upper-cased feed with stale balances), apply per-attribute rules
    — canonical id = min key, balance = max non-null, segment =
    most-frequent non-placeholder with deterministic lexicographic
    tie-break — the MDM survivorship table, relationally.

    Scale: one cluster-keyed agg (min/count/max collapse map-side;
    NULLs drop out of max for free) + one (cluster, value) count
    with a cluster-partitioned rank-1 window for the mode — the path
    relation is |clusters| x |distinct values| (tiny per cluster),
    never corpus-wide; final assembly is a key-equi join on the
    cluster id. The reference's per-table staging->normalized merge
    (/root/reference/sql/migrations/004_staging_transform_template.sql)
    is the single-source ancestor; survivorship generalizes it to
    conflicting sources.
    """
    c = load(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(0).alias("src"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v1 = c.select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.lit(1).alias("src"),
        F.lower("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal") + 5.0)
        .alias("bal"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    v2 = c.select(
        (F.col("c_custkey") + 2000000).alias("k"),
        F.lit(2).alias("src"),
        F.upper("c_name").alias("name"),
        (F.col("c_acctbal") - 2.5).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    members = base.unionAll(v1).unionAll(v2).withColumn("ck", F.lower("name"))
    agg = members.groupBy("ck").agg(
        F.min("k").alias("canonical_key"),
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("src").alias("n_sources"),
        F.round(F.max("bal"), 2).alias("best_acctbal"),
    )
    segs = (
        members.where(F.col("seg") != "UNKNOWN")
        .groupBy("ck", "seg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("ck").orderBy(F.desc("c"), F.asc("seg"))
    pick = segs.withColumn("r", F.row_number().over(wr)).where(F.col("r") == 1)
    return (
        agg.join(pick.select("ck", F.col("seg").alias("segment")), "ck")
        .select("canonical_key", "n_members", "n_sources", "best_acctbal", "segment")
        .orderBy("canonical_key")
    )


@register(
    "q253_blocking_quality",
    oracle="""
    WITH a AS (SELECT c_custkey AS ak, c_nationkey AS nk FROM customer),
    b AS (
        SELECT c_custkey + 1000000 AS bk,
               CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
                    ELSE c_nationkey END AS nk
        FROM customer
    ),
    cand AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN b.bk - 1000000 = a.ak THEN 1 ELSE 0
                        END) AS BIGINT) AS truth_caught
        FROM a JOIN b ON a.nk = b.nk
    ),
    sizes AS (
        SELECT CAST(count(*) AS BIGINT) AS n_a,
               (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b
        FROM a
    )
    SELECT s.n_a, s.n_b, c.n_candidates, s.n_a AS n_truth, c.truth_caught,
           round(c.truth_caught * 1.0 / s.n_a, 6) AS pairs_completeness,
           round(1.0 - c.n_candidates * 1.0 / (s.n_a * s.n_b), 6)
               AS reduction_ratio
    FROM cand c CROSS JOIN sizes s
    """,
)
def q253_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for entity resolution — the two
    numbers (Christen's reduction ratio and pairs completeness) that
    justify a blocking key BEFORE q200's scorer runs: candidates
    from nationkey blocking over a dirty source whose nationkey is
    planted-wrong for every 7th record, so completeness measures the
    true pairs the block BOUNDARY loses (~1/7 here) and reduction
    ratio measures how much of the |A|x|B| comparison space the
    block prunes (~96%). The eval-harness sibling of q192/q199 —
    those grade the SCORER, this grades the CANDIDATE GENERATOR.

    Scale: one key-equi join counts candidates WITHOUT materializing
    them wider than the count agg (sum collapses map-side per
    block); sizes are two scalar aggs; everything after is
    arithmetic on a 1-row relation. At 100 TB the same audit runs
    per candidate blocking key on a sample (q194's coordinated-
    sample precedent) before committing to the full join.
    """
    c = load(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("ak"), F.col("c_nationkey").alias("nk"))
    b = c.select(
        (F.col("c_custkey") + 1000000).alias("bk"),
        F.when(F.col("c_custkey") % 7 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    cand = a.join(b, "nk").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("bk") - 1000000 == F.col("ak"), 1).otherwise(0)).alias(
            "truth_caught"
        ),
    )
    sizes = a.agg(F.count(F.lit(1)).alias("n_a")).crossJoin(
        F.broadcast(b.agg(F.count(F.lit(1)).alias("n_b")))
    )
    return cand.crossJoin(F.broadcast(sizes)).select(
        "n_a",
        "n_b",
        "n_candidates",
        F.col("n_a").alias("n_truth"),
        "truth_caught",
        F.round(F.col("truth_caught") * 1.0 / F.col("n_a"), 6).alias(
            "pairs_completeness"
        ),
        F.round(
            1.0 - F.col("n_candidates") * 1.0 / (F.col("n_a") * F.col("n_b")), 6
        ).alias("reduction_ratio"),
    )


@register(
    "q262_lsh_parameter_planner",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    grid AS (
        SELECT r, CAST(128 / r AS BIGINT) AS b
        FROM (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS r)
    ),
    curve AS (
        SELECT r, b,
               pow(1.0 / b, 1.0 / r) AS s_half,
               1.0 - pow(1.0 - pow(0.5, r), b)  AS p_at_50,
               1.0 - pow(1.0 - pow(0.7, r), b)  AS p_at_70,
               1.0 - pow(1.0 - pow(0.85, r), b) AS p_at_85,
               1.0 - pow(1.0 - pow(0.95, r), b) AS p_at_95
        FROM grid
    ),
    best AS (
        SELECT r FROM curve ORDER BY abs(s_half - 0.8), r LIMIT 1
    )
    SELECT CAST(c.r AS BIGINT) AS rows_per_band, c.b AS n_bands,
           round(c.s_half, 6) AS s_half,
           round(c.p_at_50, 6) AS p_at_50,
           round(c.p_at_70, 6) AS p_at_70,
           round(c.p_at_85, 6) AS p_at_85,
           round(c.p_at_95, 6) AS p_at_95,
           CAST(c.r = (SELECT r FROM best) AS BOOLEAN) AS recommended,
           CAST(c.b * (SELECT n_docs FROM n) AS BIGINT) AS est_index_rows
    FROM curve c ORDER BY c.r
    """,
)
def q262_lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner: for a fixed 128-hash signature
    budget, evaluate every (rows-per-band r, bands b = 128/r) split's
    S-curve — the half-collision similarity s_half = (1/b)^(1/r) and
    the candidate probability 1-(1-s^r)^b at probe similarities —
    and recommend the split whose s_half sits closest to the 0.8
    near-dup threshold (tie -> smaller r = higher recall). This is
    the sizing step a pipeline owner runs BEFORE q52's banded join:
    it explains WHY (r=8, b=16) is the shipped configuration and
    what recall/cost moving the knob buys (est_index_rows = n_docs
    x b is the LSH index the cluster must store and shuffle).

    Scale: the corpus contributes ONE count; everything else is
    arithmetic on a 7-row literal grid — the planner costs nothing
    at any corpus size, which is the point of planning before
    joining. Both engines evaluate the same pow() expression tree;
    rounded at 6 after.
    """
    n = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    grid = spark.createDataFrame(
        [(r, 128 // r) for r in (1, 2, 4, 8, 16, 32, 64)], "r long, b long"
    )
    curve = grid.select(
        "r",
        "b",
        F.pow(1.0 / F.col("b"), 1.0 / F.col("r")).alias("s_half"),
        (1.0 - F.pow(1.0 - F.pow(F.lit(0.5), F.col("r")), F.col("b"))).alias("p_at_50"),
        (1.0 - F.pow(1.0 - F.pow(F.lit(0.7), F.col("r")), F.col("b"))).alias("p_at_70"),
        (1.0 - F.pow(1.0 - F.pow(F.lit(0.85), F.col("r")), F.col("b"))).alias(
            "p_at_85"
        ),
        (1.0 - F.pow(1.0 - F.pow(F.lit(0.95), F.col("r")), F.col("b"))).alias(
            "p_at_95"
        ),
    )
    best = curve.agg(
        F.min_by("r", F.struct(F.abs(F.col("s_half") - 0.8), F.col("r").cast("double")))
        .alias("best_r")
    )
    return (
        curve.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("r").alias("rows_per_band"),
            F.col("b").alias("n_bands"),
            F.round("s_half", 6).alias("s_half"),
            F.round("p_at_50", 6).alias("p_at_50"),
            F.round("p_at_70", 6).alias("p_at_70"),
            F.round("p_at_85", 6).alias("p_at_85"),
            F.round("p_at_95", 6).alias("p_at_95"),
            (F.col("r") == F.col("best_r")).alias("recommended"),
            (F.col("b") * F.col("n_docs")).cast("long").alias("est_index_rows"),
        )
        .orderBy("rows_per_band")
    )


@register(
    "q264_lsh_calibration",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, text, {_TOKS} AS t FROM corpus),
    sh AS (
        SELECT doc_id, text,
               CASE WHEN len(t) >= 3
                    THEN list_transform(range(0, len(t) - 2),
                                        i -> {_BASE_HASH_SQL})
                    ELSE [] END AS base_hashes
        FROM toks
    ),
    sig AS (SELECT doc_id, text, {_sig_sql()} AS sig FROM sh),
    bands AS (
        SELECT doc_id, text, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST(sig[2*b + 1] AS VARCHAR) || '|' || CAST(sig[2*b + 2] AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.text AS text_a, b.text AS text_b,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_idx = b.band_idx
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    jac AS (
        SELECT n_shared_bands,
               round(CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')),
                                             list_distinct(string_split_regex(lower(trim(text_b)), '\\s+')))) AS DOUBLE)
                     / greatest(CAST(len(list_distinct(string_split_regex(lower(trim(text_a)), '\\s+')
                                         || string_split_regex(lower(trim(text_b)), '\\s+'))) AS DOUBLE), 1.0), 4) AS jaccard
        FROM cand
    )
    SELECT n_shared_bands,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard), 4) AS mean_jaccard,
           round(avg(CASE WHEN jaccard >= 0.7 THEN 1.0 ELSE 0.0 END), 4)
               AS precision_at_070
    FROM jac GROUP BY n_shared_bands ORDER BY n_shared_bands
    """,
)
def q264_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH calibration table: for every candidate pair of the q52
    banded MinHash join, bucket by the number of SHARED BANDS and
    report the measured exact-Jaccard distribution (count, mean,
    precision at the 0.7 refine threshold) — the empirical S-curve
    that closes the loop with q262's theoretical planner: q262 says
    what (r, b) SHOULD pass, this measures what the shipped (r=2,
    b=4) split DID pass on the real corpus, and the n_shared_bands
    gradient (more shared bands -> higher Jaccard) is the
    monotonicity a healthy LSH exhibits. Detector-quality triad:
    q199 grades planted recall, q192 the SimHash twin, this grades
    the candidate-precision profile on live data.

    Scale: identical candidate cost to q52 (Sigma bucket^2, never
    n^2); the calibration rollup collapses candidates into <= 4
    cells map-side. Mean-of-rounded-jaccard keeps the cross-engine
    compare exact at 4 decimals.
    """
    c = _corpus(spark, sf_dir)
    cand = D.minhash_candidates(c, "doc_id", "text")
    da = c.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    db = c.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    jac = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "n_shared_bands",
            D.token_set_jaccard(F.col("_ta"), F.col("_tb")).alias("jaccard"),
        )
    )
    return (
        jac.groupBy("n_shared_bands")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("mean_jaccard"),
            F.round(
                F.avg(F.when(F.col("jaccard") >= 0.7, 1.0).otherwise(0.0)), 4
            ).alias("precision_at_070"),
        )
        .orderBy("n_shared_bands")
    )


@register(
    "q275_dedup_storage_savings",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    fp AS (
        SELECT doc_id,
               length(text) AS nb,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                   AS fingerprint
        FROM corpus
    ),
    marked AS (
        SELECT doc_id, nb,
               CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fingerprint)
                    THEN 1 ELSE 0 END AS dropped
        FROM fp
    ),
    src AS (
        SELECT m.doc_id, m.nb, m.dropped, d.source
        FROM marked m JOIN documents d ON d.doc_id = m.doc_id % 1000000
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(sum(nb) AS BIGINT) AS bytes_total,
           CAST(sum(CASE WHEN dropped = 1 THEN nb ELSE 0 END) AS BIGINT)
               AS bytes_dropped,
           round(sum(CASE WHEN dropped = 1 THEN nb ELSE 0 END) * 1.0
                 / sum(nb), 4) AS savings_pct
    FROM src GROUP BY source ORDER BY source
    """,
)
def q275_dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup storage-savings manifest: run fingerprint dedup (q51's
    sorted-distinct-token md5) over the dup-bearing corpus, mark
    every non-canonical cluster member as droppable, and roll the
    byte savings up per source — the capacity-planning number that
    justifies a dedup pass BEFORE it runs at 100 TB (and the
    per-source attribution tells you WHICH feed pays for it).
    Composes q51 (the detector) with q143's canonical-keeper rule
    (min doc_id) into the planning artifact.

    Scale: one fingerprint groupBy-shaped window (partitioned by the
    hash key — same shuffle as q51), one key-equi join back to the
    source attribute, one combining rollup on the bounded source
    grid. Byte counts are exact integers end to end.
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    fp = c.select(
        "doc_id",
        F.length("text").alias("nb"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
    )
    wfp = Window.partitionBy("fingerprint")
    marked = fp.select(
        "doc_id",
        "nb",
        F.when(F.col("doc_id") != F.min("doc_id").over(wfp), 1)
        .otherwise(0)
        .alias("dropped"),
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    src = marked.join(d, d["doc_id"] == marked["doc_id"] % 1000000).drop(d["doc_id"])
    return (
        src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum("nb").cast("long").alias("bytes_total"),
            F.sum(F.when(F.col("dropped") == 1, F.col("nb")).otherwise(0))
            .cast("long")
            .alias("bytes_dropped"),
            F.round(
                F.sum(F.when(F.col("dropped") == 1, F.col("nb")).otherwise(0))
                * 1.0
                / F.sum("nb"),
                4,
            ).alias("savings_pct"),
        )
        .orderBy("source")
    )


@register(
    "q282_rec_coverage_audit",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    p AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b, CAST(count(*) AS BIGINT) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    pw AS (SELECT a, b, w FROM p WHERE w >= 2),
    edges AS (
        SELECT a AS part, b AS partner, w FROM pw
        UNION ALL
        SELECT b, a, w FROM pw
    ),
    recs AS (
        SELECT part, partner
        FROM (
            SELECT part, partner,
                   row_number() OVER (PARTITION BY part
                                      ORDER BY w DESC, partner) AS r
            FROM edges
        ) WHERE r <= 4
    ),
    freq AS (
        SELECT partner, CAST(count(*) AS DOUBLE) AS c FROM recs GROUP BY 1
    ),
    cat AS (SELECT CAST(count(*) AS DOUBLE) AS n_parts FROM part),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_recommended_distinct,
               sum(c) AS total_recs,
               sum(c * c) AS sum_c2,
               max(c) AS max_c
        FROM freq
    ),
    src AS (
        SELECT CAST(count(DISTINCT part) AS BIGINT) AS items_with_recs
        FROM recs
    )
    SELECT CAST(cat.n_parts AS BIGINT) AS catalog_size,
           src.items_with_recs,
           m.n_recommended_distinct,
           round(m.n_recommended_distinct / cat.n_parts, 6) AS coverage,
           round(m.sum_c2 / (m.total_recs * m.total_recs), 6) AS rec_hhi,
           round(m.max_c / m.total_recs, 6) AS top_item_share
    FROM cat, m, src
    """,
)
def q282_rec_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation coverage and concentration audit: build the
    top-4 co-purchase neighbor list per part (the q175/q218 CF
    surface), then measure what a RANKING metric never shows —
    catalog coverage (what fraction of items EVER get recommended),
    the Herfindahl concentration of recommendation slots, and the
    single-most-recommended item's share. Popularity bias is the
    classic CF failure (accuracy up, catalog dead); q218 grades
    hit-rate, this grades the assortment. HHI instead of Gini by
    design: it is a sort-free mergeable sum of squared shares, so
    the audit stays one aggregation at any catalog size.

    Scale: the pair join is the order-bounded wedge join (q101's
    bound); the top-4 cut is a part-partitioned rank over each
    part's bounded neighbor list; frequencies, HHI, and shares
    collapse in one agg each. No global sort anywhere.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pw = (
        _copurchase_pairs(li)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    edges = pw.select(F.col("a").alias("part"), F.col("b").alias("partner"), "w").unionAll(
        pw.select(F.col("b").alias("part"), F.col("a").alias("partner"), "w")
    )
    wr = Window.partitionBy("part").orderBy(F.desc("w"), F.asc("partner"))
    recs = (
        edges.withColumn("r", F.row_number().over(wr))
        .where(F.col("r") <= 4)
        .select("part", "partner")
    )
    freq = recs.groupBy("partner").agg(F.count(F.lit(1)).cast("double").alias("c"))
    cat = load(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("double").alias("n_parts")
    )
    m = freq.agg(
        F.count(F.lit(1)).alias("n_recommended_distinct"),
        F.sum("c").alias("total_recs"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.max("c").alias("max_c"),
    )
    src = recs.agg(F.countDistinct("part").alias("items_with_recs"))
    return (
        cat.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(src))
        .select(
            F.col("n_parts").cast("long").alias("catalog_size"),
            "items_with_recs",
            "n_recommended_distinct",
            F.round(F.col("n_recommended_distinct") / F.col("n_parts"), 6).alias(
                "coverage"
            ),
            F.round(
                F.col("sum_c2") / (F.col("total_recs") * F.col("total_recs")), 6
            ).alias("rec_hhi"),
            F.round(F.col("max_c") / F.col("total_recs"), 6).alias("top_item_share"),
        )
    )


@register(
    "q286_split_leakage_audit",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                   AS fingerprint,
               CASE WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              AS UBIGINT) AS BIGINT) < 3435973836
                    THEN 'train' ELSE 'eval' END AS id_split
        FROM corpus
    ),
    cl AS (
        SELECT fingerprint,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(DISTINCT id_split) AS BIGINT) AS id_splits
        FROM fp GROUP BY fingerprint
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_members > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_clusters,
           CAST(sum(CASE WHEN id_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS leaked_by_id_split,
           round(sum(CASE WHEN id_splits > 1 THEN 1 ELSE 0 END) * 1.0
                 / greatest(sum(CASE WHEN n_members > 1 THEN 1 ELSE 0 END),
                            1), 4) AS dup_leak_rate,
           CAST(0 AS BIGINT) AS leaked_by_content_split
    FROM cl
    """,
)
def q286_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split LEAKAGE audit: q137 splits by a hash of
    doc_id, so two copies of the same document (different ids, same
    content) can land on opposite sides of the train/eval boundary —
    the silent eval-inflation bug of every dedup-less pipeline. Over
    the dup-bearing corpus, count fingerprint clusters whose members
    straddle an id-keyed split, versus a CONTENT-keyed split
    (hash of the fingerprint itself), which leaks exactly zero by
    construction — the audit that says 'split AFTER dedup, or split
    BY content hash'. Composes q51 (detector) + q137 (splitter) into
    the check q75's decontamination assumes was run.

    Scale: one fingerprint groupBy carrying two count-distinct-split
    cells (split domains are 2-3 values — the distincts collapse
    map-side), then one scalar rollup. Same shuffle as q51.
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    fp = c.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
        F.when(u < 3435973836, "train").otherwise("eval").alias("id_split"),
    )
    cl = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("id_split").alias("id_splits"),
    )
    return cl.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.when(F.col("n_members") > 1, 1).otherwise(0)).alias("n_dup_clusters"),
        F.sum(F.when(F.col("id_splits") > 1, 1).otherwise(0)).alias(
            "leaked_by_id_split"
        ),
        F.round(
            F.sum(F.when(F.col("id_splits") > 1, 1).otherwise(0))
            * 1.0
            / F.greatest(
                F.sum(F.when(F.col("n_members") > 1, 1).otherwise(0)), F.lit(1)
            ),
            4,
        ).alias("dup_leak_rate"),
        F.lit(0).cast("long").alias("leaked_by_content_split"),
    )


_SWEEP_TS = (0.5, 0.6, 0.7, 0.8, 0.9)


@register(
    "q310_dedup_threshold_sweep",
    oracle=f"""
    WITH half AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    corpus AS (
        SELECT doc_id, text FROM half
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(toks[1:greatest(len(toks) - 3, 1)], ' ') AS text
        FROM (SELECT doc_id, {{toks}} AS toks FROM half)
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(length(s) - 3, 1)),
                                            i -> substr(s, i, 5))) AS g
        FROM (SELECT doc_id, lower(trim(text)) AS s FROM corpus)
    ),
    pairs AS (
        SELECT id_a, id_b, j FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                         len(list_distinct(list_concat(a.g, b.g))), 4) AS j
            FROM grams a JOIN grams b
              ON a.doc_id < b.doc_id
             AND len(a.g) >= CAST(ceil(0.5 * len(b.g)) AS BIGINT)
             AND len(b.g) >= CAST(ceil(0.5 * len(a.g)) AS BIGINT)
        ) WHERE j >= 0.5
    ),
    truth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM half),
    sweep AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_TS)}]) AS threshold)
    SELECT s.threshold,
           CAST(count(CASE WHEN p.j >= s.threshold THEN 1 END) AS BIGINT)
               AS n_pairs,
           CAST(count(CASE WHEN p.j >= s.threshold
                            AND p.id_b = p.id_a + 1000000 THEN 1 END) AS BIGINT)
               AS n_true,
           round(CAST(count(CASE WHEN p.j >= s.threshold
                                  AND p.id_b = p.id_a + 1000000 THEN 1 END)
                      AS DOUBLE)
                 / greatest(count(CASE WHEN p.j >= s.threshold THEN 1 END), 1), 6)
               AS precision,
           round(CAST(count(CASE WHEN p.j >= s.threshold
                                  AND p.id_b = p.id_a + 1000000 THEN 1 END)
                      AS DOUBLE) / max(truth.n_truth), 6) AS recall
    FROM sweep s
    CROSS JOIN truth
    LEFT JOIN pairs p ON TRUE
    GROUP BY s.threshold
    ORDER BY s.threshold
    """.replace("{toks}", _TOKS),
)
def q310_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold operating curve: precision/recall of the
    char-5-gram Jaccard detector (q55's machinery) at thresholds
    0.5-0.9 against the planted tail-truncation truth — the
    threshold-TUNING table q192/q199 (single-point evals) cannot
    give. Production dedup picks its threshold off exactly this
    curve: recall collapses once the threshold passes the planted
    pairs' true Jaccard band while precision holds, so the knee is
    visible. Candidate pairs are generated ONCE at the lowest swept
    threshold (prefix filtering stays lossless at 0.5) and each
    threshold is a conditional aggregate over that one pair
    relation.

    Scale: one prefix-filtered gram equi-join (the q55 bound — never
    all-pairs), then a 5-row broadcast sweep with conditional
    counts; the curve costs ONE candidate generation regardless of
    how many thresholds are swept.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    near = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " "
        ).alias("text"),
    )
    corpus = d.unionByName(near)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=5, threshold=0.5)
    truth = d.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    sweep = d.sparkSession.createDataFrame(
        [(t,) for t in _SWEEP_TS], "threshold double"
    )
    hit = F.col("jaccard") >= F.col("threshold")
    true_hit = hit & (F.col("id_b") == F.col("id_a") + 1000000)
    return (
        sweep.crossJoin(F.broadcast(truth))
        .join(pairs, F.lit(True), "left")
        .groupBy("threshold")
        .agg(
            F.count(F.when(hit, 1)).cast("long").alias("n_pairs"),
            F.count(F.when(true_hit, 1)).cast("long").alias("n_true"),
            F.round(
                F.count(F.when(true_hit, 1)).cast("double")
                / F.greatest(F.count(F.when(hit, 1)), F.lit(1)),
                6,
            ).alias("precision"),
            F.round(
                F.count(F.when(true_hit, 1)).cast("double") / F.max("n_truth"), 6
            ).alias("recall"),
        )
        .orderBy("threshold")
    )


@register(
    "q312_blocked_fuzzy_linkage",
    oracle="""
    WITH names AS (
        SELECT c_custkey AS id,
               substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS nm
        FROM customer
    ),
    corpus AS (
        SELECT id, nm FROM names
        UNION ALL
        SELECT id + 10000000 AS id,
               substr(nm, 1, 5) || 'x' || substr(nm, 7, 6) AS nm
        FROM names
    ),
    blocked AS (
        SELECT id, nm, substr(nm, 1, 4) AS blk FROM corpus
    ),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev,
               round(1.0 - levenshtein(a.nm, b.nm) / 12.0, 4) AS sim
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.id < b.id
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN sim >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matched,
               CAST(sum(CASE WHEN sim >= 0.8 AND id_b = id_a + 10000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_true_matched
        FROM cand
    ),
    truth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM names)
    SELECT agg.n_candidates, agg.n_matched, agg.n_true_matched, truth.n_truth,
           round(CAST(agg.n_true_matched AS DOUBLE)
                 / greatest(agg.n_matched, 1), 6) AS precision,
           round(CAST(agg.n_true_matched AS DOUBLE) / truth.n_truth, 6) AS recall
    FROM agg CROSS JOIN truth
    """,
)
def q312_blocked_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage on EDIT DISTANCE — the string-
    similarity leg q200's Fellegi-Sunter scorer treats as a feature:
    per-record 12-char synthetic names (md5 of the key — the real
    c_name column is 'Customer#NNNNNNNNN', where every in-block pair
    is 1 edit apart and fuzzy matching is degenerate, so names with
    realistic entropy are PLANTED, q298 precedent), one dirty twin
    per record (char 6 replaced), blocking on the 4-char name prefix
    (edits never touch it), Levenshtein similarity ≥ 0.8 to match.
    Twins sit at ≥0.9167 similarity; random in-block hex collisions
    sit near 0.3 — precision and recall 1.0 by construction, PINNED
    in tests (a broken blocker or metric shows up as a miss).

    Scale: the classic linkage shape — blocking turns |n|² into
    Σ block² (prefix-4 hex blocks ≈ n²/65536 pairs), the refine is
    JVM `levenshtein` in whole-stage codegen (integer edit counts,
    engine-exact), and the verdict is one combining agg. Swap the
    block key for q52's MinHash bands when names exceed one token.
    """
    c = load(spark, sf_dir, "customer")
    names = c.select(
        F.col("c_custkey").alias("id"),
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12).alias("nm"),
    )
    twins = names.select(
        (F.col("id") + 10_000_000).alias("id"),
        F.concat(
            F.substring("nm", 1, 5), F.lit("x"), F.substring("nm", 7, 6)
        ).alias("nm"),
    )
    corpus = names.unionByName(twins).withColumn("blk", F.substring("nm", 1, 4))
    a = corpus.select(
        F.col("id").alias("id_a"), F.col("nm").alias("nma"), "blk"
    )
    b = corpus.select(
        F.col("id").alias("id_b"), F.col("nm").alias("nmb"), F.col("blk").alias("blkb")
    )
    cand = a.join(
        b, (F.col("blk") == F.col("blkb")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a",
        "id_b",
        F.round(1.0 - F.levenshtein("nma", "nmb") / 12.0, 4).alias("sim"),
    )
    hit = F.col("sim") >= 0.8
    true_hit = hit & (F.col("id_b") == F.col("id_a") + 10_000_000)
    agg = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum(F.when(true_hit, 1).otherwise(0)).cast("long").alias("n_true_matched"),
    )
    truth = names.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return agg.crossJoin(F.broadcast(truth)).select(
        "n_candidates",
        "n_matched",
        "n_true_matched",
        "n_truth",
        F.round(
            F.col("n_true_matched").cast("double")
            / F.greatest(F.col("n_matched"), F.lit(1)),
            6,
        ).alias("precision"),
        F.round(F.col("n_true_matched").cast("double") / F.col("n_truth"), 6).alias(
            "recall"
        ),
    )


@register(
    "q323_survivorship_conflict_profile",
    oracle="""
    WITH members AS MATERIALIZED (
        SELECT c_custkey AS k, c_name AS name,
               c_acctbal AS bal, c_mktsegment AS seg
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, lower(c_name),
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE c_acctbal + 5.0 END,
               CASE WHEN c_custkey % 4 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END
        FROM customer
        UNION ALL
        SELECT c_custkey + 2000000, upper(c_name),
               c_acctbal - 2.5, c_mktsegment
        FROM customer
    ),
    per_cluster AS (
        SELECT lower(name) AS ck,
               count(DISTINCT name) AS d_name,
               count(DISTINCT bal) AS d_bal,
               count(DISTINCT seg) AS d_seg,
               CAST(sum(CASE WHEN name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_name,
               CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_bal,
               CAST(sum(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z_seg
        FROM members GROUP BY 1
    )
    SELECT * FROM (
        SELECT 'name' AS field,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN d_name > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_conflicted,
               round(CAST(sum(CASE WHEN d_name > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS conflict_rate,
               CAST(sum(z_name) AS BIGINT) AS n_null_members,
               round(avg(d_name), 4) AS avg_distinct_values
        FROM per_cluster
        UNION ALL
        SELECT 'bal', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN d_bal > 1 THEN 1 ELSE 0 END) AS BIGINT),
               round(CAST(sum(CASE WHEN d_bal > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6),
               CAST(sum(z_bal) AS BIGINT), round(avg(d_bal), 4)
        FROM per_cluster
        UNION ALL
        SELECT 'seg', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN d_seg > 1 THEN 1 ELSE 0 END) AS BIGINT),
               round(CAST(sum(CASE WHEN d_seg > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6),
               CAST(sum(z_seg) AS BIGINT), round(avg(d_seg), 4)
        FROM per_cluster
    ) ORDER BY field
    """,
)
def q323_survivorship_conflict_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FIELD conflict profile across merge clusters — the audit a
    steward reads BEFORE trusting q252's golden records (survivorship
    silently picks a winner; this says how often it had to): on the
    same three-source planted corpus, count clusters where a field
    has >1 distinct value, its null-member total, and the average
    distinct-value fan. The planted truth grades itself: name and
    balance conflict in every cluster (case variants / ±offsets),
    segment only where the planted 'UNKNOWN' source fires (~25%) —
    so the three rates (1.0 / 1.0 / ~0.25) prove the profiler
    separates fields rather than reporting a constant.

    Scale: one cluster-keyed combining agg (count DISTINCT per field
    inside the cluster — bounded by member count), then a 3-row
    rollup. The report costs exactly one pass over the merge input.
    """
    c = load(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v1 = c.select(
        F.lower("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal") + 5.0)
        .alias("bal"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    v2 = c.select(
        F.upper("c_name").alias("name"),
        (F.col("c_acctbal") - 2.5).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    members = base.unionByName(v1).unionByName(v2)
    per_cluster = members.groupBy(F.lower("name").alias("ck")).agg(
        F.countDistinct("name").alias("d_name"),
        F.countDistinct("bal").alias("d_bal"),
        F.countDistinct("seg").alias("d_seg"),
        F.sum(F.when(F.col("name").isNull(), 1).otherwise(0)).cast("long").alias("z_name"),
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0)).cast("long").alias("z_bal"),
        F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0)).cast("long").alias("z_seg"),
    )
    outs = []
    for field in ("name", "bal", "seg"):
        d, z = F.col(f"d_{field}"), F.col(f"z_{field}")
        outs.append(
            per_cluster.agg(
                F.lit(field).alias("field"),
                F.count(F.lit(1)).cast("long").alias("n_clusters"),
                F.sum(F.when(d > 1, 1).otherwise(0)).cast("long").alias("n_conflicted"),
                F.round(
                    F.sum(F.when(d > 1, 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("conflict_rate"),
                F.sum(z).cast("long").alias("n_null_members"),
                F.round(F.avg(d), 4).alias("avg_distinct_values"),
            )
        )
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    return out.orderBy("field")


@register(
    "q336_cluster_aware_split",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(lower(trim(text)), '\\s+'))), ' '))
                   AS fingerprint
        FROM corpus
    ),
    assigned AS (
        SELECT doc_id, fingerprint,
               CASE WHEN CAST(CAST('0x' || substr(md5(fingerprint), 1, 8)
                              AS UBIGINT) AS BIGINT) < 3435973836 THEN 'train'
                    WHEN CAST(CAST('0x' || substr(md5(fingerprint), 1, 8)
                              AS UBIGINT) AS BIGINT) < 3865470566 THEN 'val'
                    ELSE 'test' END AS split
        FROM fp
    ),
    cl AS (
        SELECT fingerprint, split,
               CAST(count(*) AS BIGINT) AS n_members
        FROM assigned GROUP BY fingerprint, split
    ),
    straddle AS (
        SELECT CAST(count(*) AS BIGINT) AS n_leaked FROM (
            SELECT fingerprint FROM cl GROUP BY fingerprint
            HAVING count(DISTINCT split) > 1
        )
    )
    SELECT cl.split,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cl.n_members) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN cl.n_members > 1 THEN cl.n_members ELSE 0 END)
                AS BIGINT) AS n_docs_in_dup_clusters,
           round(CAST(sum(cl.n_members) AS DOUBLE)
                 / (SELECT count(*) FROM assigned), 4) AS doc_fraction,
           straddle.n_leaked AS n_leaked_clusters
    FROM cl CROSS JOIN straddle
    GROUP BY cl.split, straddle.n_leaked
    ORDER BY cl.split
    """,
)
def q336_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the FIX for the leakage
    q286 measures (39% of dup clusters straddle q137's id-hashed
    split on this corpus): assign every document the split of its
    CONTENT fingerprint's hash, so all copies of a document travel
    together and the eval set cannot contain a training document's
    twin — zero straddling clusters BY CONSTRUCTION, and this query
    materializes the verification (n_leaked_clusters is computed,
    not asserted). Output per split: cluster and document tallies,
    how many docs sit in multi-member clusters, the realized doc
    fraction vs the 80/10/10 target (dup-cluster granularity skews
    realized fractions — the exact skew a pipeline needs to see),
    and the leakage counter.

    Scale: one fingerprint projection (map-only), one (fingerprint,
    split) combining rollup, one scalar straddle check over the
    cluster relation — the same shuffle budget as q51's detector,
    and the assignment column is stable under re-sharding and
    incremental ingestion (the q137 hash-split property lifted from
    id grain to cluster grain).
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    fp = c.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
    )
    u = F.conv(F.substring(F.md5(F.col("fingerprint")), 1, 8), 16, 10).cast("long")
    assigned = fp.select(
        "doc_id",
        "fingerprint",
        F.when(u < 3435973836, "train")
        .when(u < 3865470566, "val")
        .otherwise("test")
        .alias("split"),
    )
    cl = assigned.groupBy("fingerprint", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    straddle = (
        cl.groupBy("fingerprint")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaked")
        )
    )
    total = assigned.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        cl.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_members").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_members") > 1, F.col("n_members")).otherwise(0))
            .cast("long")
            .alias("n_docs_in_dup_clusters"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(straddle))
        .select(
            "split",
            "n_clusters",
            "n_docs",
            "n_docs_in_dup_clusters",
            F.round(F.col("n_docs").cast("double") / F.col("n_total"), 4).alias(
                "doc_fraction"
            ),
            F.col("n_leaked").alias("n_leaked_clusters"),
        )
        .orderBy("split")
    )


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """4 synchronous label-propagation rounds, unrolled: per round,
    each node takes the modal label among its neighbors (ties to the
    SMALLEST label), computed over the support->=2 co-purchase graph."""
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    l{r} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT sym.a AS node, p.label,
                   row_number() OVER (
                       PARTITION BY sym.a
                       ORDER BY count(*) DESC, p.label
                   ) AS rn
            FROM sym JOIN {prev} p ON p.node = sym.b
            GROUP BY sym.a, p.label
        ) WHERE rn = 1
    )""")
        prev = f"l{r}"
    return f"""
    WITH pairs AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(DISTINCT a.l_orderkey) >= 2
    ),
    sym AS (
        SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
    {", ".join(rounds)}
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS min_member
    FROM {prev}
    GROUP BY label
    HAVING count(*) >= 2
    ORDER BY n_members DESC, community
    """


@register("q337_label_propagation_communities", oracle=_lpa_oracle())
def q337_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the support≥2 co-purchase graph — the
    COMMUNITY semantics the graph family lacks (q56/q76 find
    connectivity, q205 finds cores, q227 SCORES a given partition;
    LPA produces the partition): every part starts as its own label,
    and for 4 synchronous rounds each node adopts the modal label
    among its neighbors, ties broken to the smallest label — fully
    deterministic, so both engines replay the identical walk. Output:
    communities of size ≥ 2 with their sizes.

    Fixed rounds instead of a convergence test, deliberately: LPA's
    fixpoint can oscillate under synchronous updates (the known
    bipartite 2-cycle), so production LPA runs bounded rounds — and
    bounded rounds are exactly what an unrolled MATERIALIZED-CTE
    oracle can mirror (the q215/q266 precedent).

    Scale: per round, ONE join of the edge relation to the label
    relation + ONE modal groupBy (count desc, label asc argmax via a
    min-struct — no per-node window over corpus rows); the edge
    relation is Σ basket² bounded with support pruning, labels are
    |nodes| rows, lineage truncated per round via localCheckpoint
    (the q56/q118 iterative-plan discipline).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        _copurchase_pairs(li)
        .groupBy("a", "b")
        .agg(F.countDistinct("ok").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("a", "b")
    )
    sym = pairs.unionAll(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        nbr = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
            .select("node", F.col("m.label").alias("label"))
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("long").alias("min_member"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy(F.desc("n_members"), "community")
    )


@register(
    "q338_effective_token_audit",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    docs AS (
        SELECT doc_id,
               md5(text) AS content_hash,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS n_tok
        FROM corpus
    ),
    cl AS (
        SELECT content_hash,
               CAST(count(*) AS BIGINT) AS sz,
               CAST(sum(n_tok) AS BIGINT) AS raw_tok,
               CAST(min(n_tok) AS BIGINT) AS uniq_tok
        FROM docs GROUP BY content_hash
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(raw_tok) AS BIGINT) AS raw_tokens,
           CAST(sum(uniq_tok) AS BIGINT) AS effective_tokens,
           round(CAST(sum(raw_tok) AS DOUBLE)
                 / greatest(sum(uniq_tok), 1), 4) AS duplication_factor
    FROM cl
    GROUP BY sz
    ORDER BY sz
    """,
)
def q338_effective_token_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective (dedup-weighted) token inventory by duplicate-cluster
    size — the capacity question a pretraining plan starts from: raw
    token counts overstate how much DATA a corpus holds when clusters
    repeat (training on k copies ≈ k epochs of one copy — the Lee et
    al. dedup motivation in planning-table form). Per exact-content
    cluster size: cluster/doc tallies, raw tokens, effective tokens
    (one representative per cluster — min is exact because members
    are byte-identical), and the duplication factor the mixture
    planner (q228) must divide by before allocating epochs.

    Scale: one map-side (md5, token-count) projection — token counts
    are array lengths, no explode — one combining cluster rollup,
    one |distinct sizes| rollup. Free rider on any dedup scan; the
    same shuffle as q50's detector.
    """
    c = _corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    docs = c.select(
        F.md5("text").alias("content_hash"),
        F.size(toks).cast("long").alias("n_tok"),
    )
    cl = docs.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.sum("n_tok").cast("long").alias("raw_tok"),
        F.min("n_tok").cast("long").alias("uniq_tok"),
    )
    return (
        cl.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum("raw_tok").cast("long").alias("raw_tokens"),
            F.sum("uniq_tok").cast("long").alias("effective_tokens"),
            F.round(
                F.sum("raw_tok").cast("double")
                / F.greatest(F.sum("uniq_tok"), F.lit(1)),
                4,
            ).alias("duplication_factor"),
        )
        .orderBy("cluster_size")
    )


def _q339_oracle() -> str:
    """q339 oracle: q295's planted corpus, candidates from the UNION
    of two independent SRP seeds (the multi-seed recall knob),
    deduped before the exact-cosine refine."""
    from g_etl_spark.queries.similarity import _srp_bucket_sql

    b0 = _srp_bucket_sql(8, 64, col="ve", seed="srp")
    b1 = _srp_bucket_sql(8, 64, col="ve", seed="srp:1")
    return f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, ve FROM base
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(range(1, 65),
                              i -> CASE WHEN i <= 4 THEN ve[i] * 1.5 ELSE ve[i] END)
        FROM base
    ),
    n AS (
        SELECT vec_id, ve,
               sqrt(list_aggregate(list_transform(ve, x -> x * x), 'sum')) AS nrm,
               {b0} AS b0, {b1} AS b1
        FROM corpus
    ),
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
        UNION
        SELECT a.vec_id, b.vec_id
        FROM n a JOIN n b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b,
               round(list_aggregate(list_transform(range(1, 65),
                                                   i -> a.ve[i] * b.ve[i]), 'sum')
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM cand c
        JOIN n a ON a.vec_id = c.id_a
        JOIN n b ON b.vec_id = c.id_b
    ) WHERE cosine >= 0.98
    ORDER BY id_a, id_b
    """


@register("q339_embedding_dedup_multiseed", oracle=_q339_oracle())
def q339_embedding_dedup_multiseed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q295's bucketed embedding dedup with the MULTI-SEED recall
    knob engaged (n_seeds=2): candidates are the union of two
    independent 8-plane SRP bucket equi-joins, deduplicated before
    the exact-cosine refine — this GATES the union path itself
    against a DuckDB oracle that replays both hyperplane sets as
    literal constants (measured on this corpus: recall 0.73 → 0.93
    over the single seed at precision 1.0; the full curve is in
    SCALE_NOTES round-9 and the recall test). q295 stays the
    single-seed default so its r8 oracle rows are byte-stable; this
    is the gated sibling for pipelines that buy the ~2× candidate
    cost for the extra recall.

    Scale: everything q295 argues, times the seed count on the
    candidate-generation side only — the refine touches each unique
    candidate once (the union dedup is one shuffle on the pair id),
    and no corpus × corpus stage exists at any seed count.
    """
    from g_etl_spark.operators import similarity as S

    corpus = _perturbed_embedding_corpus(spark, sf_dir)
    return S.srp_bucket_pairs(
        corpus, threshold=0.98, n_planes=8, dim=64, n_seeds=2
    ).orderBy("id_a", "id_b")


def _q347_oracle() -> str:
    """q347 oracle: the generic recursive-CTE reachability closure
    over the user↔device bipartite edges (q56/q76 precedent — it
    knows nothing about the household construction, so the hash
    match proves the labeling), rolled up to the identity-size
    histogram."""
    return """
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id FROM events
    ),
    edges0 AS (
        SELECT DISTINCT user_id AS u,
               2000000000 + user_id * 10 + event_id % 2 AS d
        FROM ev
        UNION
        SELECT DISTINCT user_id AS u,
               1000000000 + user_id // 4 AS d
        FROM ev WHERE event_id % 5 = 0
    ),
    und AS (
        SELECT u AS a, d AS b FROM edges0
        UNION SELECT d AS a, u AS b FROM edges0
    ),
    nodes AS (SELECT DISTINCT a AS node FROM und),
    reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT e.a AS node, reach.r
        FROM und e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    idents AS (
        SELECT component,
               CAST(sum(CASE WHEN node < 1000000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN node >= 1000000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_devices
        FROM comp GROUP BY component
    )
    SELECT n_users,
           CAST(count(*) AS BIGINT) AS n_identities,
           CAST(sum(n_devices) AS BIGINT) AS total_devices,
           CAST(min(component) AS BIGINT) AS min_identity_id
    FROM idents
    GROUP BY n_users
    ORDER BY n_users
    """


@register("q347_identity_stitching", oracle=_q347_oracle())
def q347_identity_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-device IDENTITY STITCHING — the identity-resolution
    composition the CC machinery exists for in adtech/analytics
    warehouses: users and devices form a bipartite graph (every user
    touches two personal devices; every fifth event goes through a
    shared household device covering four consecutive users), and an
    identity is a connected component — users linked ONLY
    transitively through a shared device land in one identity, which
    per-user sessionization (q213) and per-user rollups structurally
    miss. Deterministic synthetic device ids (personal ≥ 2e9,
    household ≥ 1e9 — disjoint from user ids) make the stitching
    verifiable: the oracle is the GENERIC recursive reachability
    closure, so the hash match proves the distributed labeling, not
    the construction. Output is the bounded identity-size histogram
    (components labeled by min member = min user id, since user ids
    sort below device ids).

    Scale: edges are two distinct map-side projections of the event
    scan; CC is the large-star/small-star operator
    (operators/graph.connected_components: O(log n) rounds of ONE
    equi-join + ONE groupBy-min, lineage truncated per round); the
    histogram is a second bounded agg. Nothing driver-side at any
    corpus size.
    """
    from g_etl_spark.operators import graph as G

    e = load(spark, sf_dir, "events").select("user_id", "event_id")
    personal = e.select(
        F.col("user_id").alias("id_a"),
        (F.lit(2_000_000_000) + F.col("user_id") * 10 + F.col("event_id") % 2)
        .cast("long")
        .alias("id_b"),
    ).distinct()
    household = (
        e.filter(F.col("event_id") % 5 == 0)
        .select(
            F.col("user_id").alias("id_a"),
            (F.lit(1_000_000_000) + F.floor(F.col("user_id") / 4))
            .cast("long")
            .alias("id_b"),
        )
        .distinct()
    )
    labels = G.connected_components(personal.unionAll(household).distinct())
    idents = labels.groupBy("component").agg(
        F.sum(F.when(F.col("node") < 1_000_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
        F.sum(F.when(F.col("node") >= 1_000_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_devices"),
    )
    return (
        idents.groupBy("n_users")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_identities"),
            F.sum("n_devices").cast("long").alias("total_devices"),
            F.min("component").cast("long").alias("min_identity_id"),
        )
        .orderBy("n_users")
    )


def _q361_oracle() -> str:
    """q361 oracle: BOTH paths computed independently in SQL — the
    full-recompute closure over all edges, and the incremental path
    (closure over day-1 edges, then a second closure over the
    component-projected delta edges) — rolled up to the size
    histogram with a per-bucket consistency verdict."""
    return """
    WITH RECURSIVE d AS (SELECT doc_id FROM documents),
    all_e AS (
        SELECT a.doc_id AS u, a.doc_id + 1 AS v
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 100 < 99
    ),
    e1 AS (SELECT u, v FROM all_e WHERE u % 7 != 0),
    de AS (SELECT u, v FROM all_e WHERE u % 7 = 0),
    nodes AS (SELECT DISTINCT u AS n FROM all_e
              UNION SELECT DISTINCT v FROM all_e),
    und1 AS (SELECT u AS a, v AS b FROM e1 UNION SELECT v, u FROM e1),
    r1 AS (
        SELECT n AS node, n AS r FROM nodes
        UNION
        SELECT e.a, r1.r FROM und1 e JOIN r1 ON r1.node = e.b
    ),
    c1 AS (SELECT node, min(r) AS lbl FROM r1 GROUP BY node),
    proj AS (
        SELECT DISTINCT ca.lbl AS u, cb.lbl AS v
        FROM de JOIN c1 ca ON ca.node = de.u JOIN c1 cb ON cb.node = de.v
    ),
    und2 AS (SELECT u AS a, b FROM (SELECT u, v AS b FROM proj
             UNION SELECT v, u FROM proj)),
    lnodes AS (SELECT DISTINCT lbl AS n FROM c1),
    r2 AS (
        SELECT n AS node, n AS r FROM lnodes
        UNION
        SELECT e.a, r2.r FROM und2 e JOIN r2 ON r2.node = e.b
    ),
    c2 AS (SELECT node, min(r) AS lbl2 FROM r2 GROUP BY node),
    inc AS (
        SELECT c2.lbl2 AS component, count(*) AS sz
        FROM c1 JOIN c2 ON c2.node = c1.lbl
        GROUP BY c2.lbl2
    ),
    undf AS (SELECT u AS a, v AS b FROM all_e UNION SELECT v, u FROM all_e),
    rf AS (
        SELECT n AS node, n AS r FROM nodes
        UNION
        SELECT e.a, rf.r FROM undf e JOIN rf ON rf.node = e.b
    ),
    cf AS (SELECT node, min(r) AS lbl FROM rf GROUP BY node),
    ful AS (SELECT lbl AS component, count(*) AS sz FROM cf GROUP BY lbl),
    day1 AS (SELECT lbl AS component, count(*) AS sz FROM c1 GROUP BY lbl)
    SELECT stage, CAST(sz AS BIGINT) AS component_size,
           CAST(count(*) AS BIGINT) AS n_components
    FROM (
        SELECT 'a_day1' AS stage, sz FROM day1
        UNION ALL SELECT 'b_incremental', sz FROM inc
        UNION ALL SELECT 'c_recomputed', sz FROM ful
    )
    GROUP BY stage, sz
    ORDER BY stage, component_size
    """


@register("q361_incremental_connected_components", oracle=_q361_oracle())
def q361_incremental_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL connected components — the dedup-cluster
    maintenance operator (q56/q76 build clusters from scratch; q159
    maintains the candidate INDEX; this maintains the CLUSTERS): new
    edges are projected into the existing labeling's component space
    (label(u), label(v)) and components are re-run on that TINY
    component graph only, then composed with the stored labels —
    daily ingest merges clusters without re-clustering the corpus.
    Day-1 edges are the q76 chain with every 7th link withheld as
    the delta, so applying the delta MERGES existing segments — the
    hard case (label(u)=min is preserved under composition because
    min-of-mins = global min, making incremental and full recompute
    EXACTLY equal, which the output verifies rather
    than asserts: the DAY-1, INCREMENTAL, and FULL-RECOMPUTE size
    histograms all land in the output, each computed independently
    in both engines — the incremental and recomputed stages must be
    row-identical, and the day-1 stage shows the pre-merge segments
    the delta stitched together).

    Scale: the day-1 labeling is the stored state; the per-ingest
    cost is |Δ| edge projections (two label-map equi-joins) + CC on
    a component-graph whose node count is the number of AFFECTED
    components — at 100 TB that is the difference between touching
    the delta and re-shuffling every edge ever ingested. All three
    CC runs use the large-star/small-star O(log n) alternation
    (operators/graph.py), so the chain fixture's diameter costs
    log-many rounds, not one per hop (q76's lesson).
    """
    from g_etl_spark.operators import graph as G

    d = load(spark, sf_dir, "documents").select("doc_id")
    all_e = (
        d.filter(F.col("doc_id") % 100 < 99)
        .select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b", "inner")
        .select("id_a", "id_b")
    )
    e1 = all_e.filter(F.col("id_a") % 7 != 0)
    de = all_e.filter(F.col("id_a") % 7 == 0)
    nodes = (
        all_e.select(F.col("id_a").alias("node"))
        .unionAll(all_e.select(F.col("id_b").alias("node")))
        .distinct()
    )
    # stored state: day-1 labeling + singletons for nodes the day-1
    # edges never saw (isolated until the delta arrives)
    lbl1 = G.connected_components(e1)
    c1 = (
        nodes.join(lbl1, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("lbl"))
        .localCheckpoint()
    )
    la = c1.select(F.col("node").alias("id_a"), F.col("lbl").alias("lu"))
    lb = c1.select(F.col("node").alias("id_b"), F.col("lbl").alias("lv"))
    proj = (
        de.join(la, "id_a")
        .join(lb, "id_b")
        .select(F.col("lu").alias("id_a"), F.col("lv").alias("id_b"))
        .distinct()
    )
    lbl2 = G.connected_components(proj)
    merged = (
        c1.join(
            lbl2.withColumnRenamed("node", "lbl").withColumnRenamed(
                "component", "lbl2"
            ),
            "lbl",
            "left",
        )
        .select("node", F.coalesce("lbl2", F.col("lbl")).alias("final"))
    )
    day1 = c1.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    inc = merged.groupBy("final").agg(F.count(F.lit(1)).alias("sz"))
    full = G.connected_components(all_e).groupBy("component").agg(
        F.count(F.lit(1)).alias("sz")
    )

    def hist(df, stage):
        return df.groupBy("sz").agg(
            F.count(F.lit(1)).cast("long").alias("n_components")
        ).select(F.lit(stage).alias("stage"), "sz", "n_components")

    return (
        hist(day1, "a_day1")
        .unionAll(hist(inc, "b_incremental"))
        .unionAll(hist(full, "c_recomputed"))
        .select(
            "stage",
            F.col("sz").cast("long").alias("component_size"),
            "n_components",
        )
        .orderBy("stage", "component_size")
    )


# Weighted corpus: documents ∪ exact copies ∪ a REWEIGHTED variant
# whose distinct-token SET is unchanged (first token appended 10 more
# times) — set-Jaccard sees 1.0, only a weighted detector separates it.
_WCORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || ' ' ||
           array_to_string(list_transform(range(0, 10), x -> toks[1]), ' ')
               AS text
    FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
"""


def _weighted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies ∪ tf-reweighted variants (same token
    set, first token's count +10)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    rew = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.col("text"),
            F.array_join(F.array_repeat(F.element_at(toks, 1), 10), " "),
        ).alias("text"),
    )
    return d.unionByName(exact).unionByName(rew)


def _q368_oracle() -> str:
    """q368 oracle: identical occurrence-replicated weighted MinHash —
    tf per (doc, token), elements (token, k<tf), md5-based base hash
    per OCCURRENCE, the same MINHASH_SALTS affine permutations as
    q52, 4×2 banding, exact integer weighted-Jaccard refine
    (Σmin / (n_a + n_b − Σmin)) with the threshold compared as
    2·inter ≥ union — no doubles in any decision."""
    h = (
        "CAST(CAST('0x' || substr(md5(tok || '#' || CAST(k AS VARCHAR)), 1, 8)"
        f" AS UBIGINT) AS BIGINT) % {D.MINHASH_P}"
    )
    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {D.MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(D.MINHASH_SALTS)
    )
    even = "CASE b WHEN 0 THEN s0 WHEN 1 THEN s2 WHEN 2 THEN s4 ELSE s6 END"
    odd = "CASE b WHEN 0 THEN s1 WHEN 1 THEN s3 WHEN 2 THEN s5 ELSE s7 END"
    return f"""
    WITH corpus AS ({_WCORPUS_SQL}),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(list_filter({_TOKS}, t -> length(t) > 0)) AS tok
              FROM corpus)
        GROUP BY doc_id, tok
    ),
    ntok AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf
             GROUP BY doc_id),
    elements AS (
        SELECT doc_id, tok, unnest(range(0, tf)) AS k FROM tf
    ),
    hashes AS (SELECT doc_id, {h} AS h FROM elements),
    sig AS (SELECT doc_id, {sig_cols} FROM hashes GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST({even} AS VARCHAR)
                   || '|' || CAST({odd} AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band = b.band
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.id_a, c.id_b, c.n_shared_bands,
               CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS inter_tf
        FROM cand c
        JOIN tf ta ON ta.doc_id = c.id_a
        JOIN tf tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
        GROUP BY 1, 2, 3
    )
    SELECT i.id_a, i.id_b, i.n_shared_bands, i.inter_tf,
           CAST(na.n + nb.n - i.inter_tf AS BIGINT) AS union_tf,
           round(CAST(i.inter_tf AS DOUBLE)
                 / (na.n + nb.n - i.inter_tf), 6) AS weighted_jaccard
    FROM inter i
    JOIN ntok na ON na.doc_id = i.id_a
    JOIN ntok nb ON nb.doc_id = i.id_b
    WHERE 2 * i.inter_tf >= na.n + nb.n - i.inter_tf
    ORDER BY id_a, id_b
    """


@register("q368_weighted_minhash_pairs", oracle=_q368_oracle())
def q368_weighted_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MinHash near-dup pairs — importance-weighted Jaccard
    J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) over token
    multisets (r10 verdict #4: the dedup family treated all shingles
    equally; a crawler that boilerplate-spams one phrase, or a doc
    that repeats its title 50×, is INVISIBLE to set-Jaccard). The
    sketch is consistent weighted sampling realized for integer
    weights by OCCURRENCE REPLICATION (Haveliwala/Broder): element
    (t, k) for k < tf(t), hashed per occurrence, then q52's exact
    affine-permutation MinHash machinery (same MINHASH_SALTS, 8
    hashes, 4×2 bands) — MinHash over the replicated sets is an
    unbiased J_w estimator because |A∩B| = Σmin and |A∪B| = Σmax.
    The refine is EXACT integer arithmetic: Σmin over shared tokens
    via one tf equi-join, union = n_a + n_b − Σmin, and the ≥ 0.5
    gate compared as 2·inter ≥ union (no doubles decide membership).
    The planted corpus proves the weighted separation: reweighted
    variants (same token SET, first token +10) score J_w = n/(n+10)
    < 1 here while q52's set-Jaccard calls them identical.

    Scale: |elements| = total corpus TOKEN COUNT (one row per
    occurrence — replication costs exactly what q53's per-occurrence
    simhash already pays, nothing extra for the weighting); the
    signature is a map-side 8-way min agg on doc_id; candidates come
    from the Σ bucket² band join; the refine joins tf vectors only
    for candidate pairs. ICWS generalizes this to real weights with
    the same banding — the integer-tf case needs no float sampling.
    """
    corpus = _weighted_corpus(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT)
    tf = (
        corpus.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ntok = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("n"))
    elements = tf.select(
        "doc_id",
        "tok",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("tf") - 1)).alias("k"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("tok"), F.lit("#"), F.col("k").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % D.MINHASH_P
    )
    hashed = elements.select("doc_id", h.alias("h"))
    sig = hashed.groupBy("doc_id").agg(*D.affine_min_sig_aggs())
    bands = sig.select(
        "doc_id",
        F.explode(D.sig_band_struct_array()).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.band")
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("band_idx").alias("bia"),
        F.col("band").alias("ba"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("bib"),
        F.col("band").alias("bbv"),
    )
    cand = (
        a.join(
            b,
            (F.col("bia") == F.col("bib"))
            & (F.col("ba") == F.col("bbv"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    ta = tf.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tfa")
    )
    tb = tf.select(
        F.col("doc_id").alias("id_b2"),
        F.col("tok").alias("tok_b"),
        F.col("tf").alias("tfb"),
    )
    inter = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("id_b2")) & (F.col("tok") == F.col("tok_b")),
        )
        .groupBy("id_a", "id_b", "n_shared_bands")
        .agg(F.sum(F.least("tfa", "tfb")).cast("long").alias("inter_tf"))
    )
    na = ntok.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = ntok.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    union_tf = F.col("n_a") + F.col("n_b") - F.col("inter_tf")
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(2 * F.col("inter_tf") >= union_tf)
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            "inter_tf",
            union_tf.cast("long").alias("union_tf"),
            F.round(
                F.col("inter_tf").cast("double") / union_tf, 6
            ).alias("weighted_jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def _q373_oracle() -> str:
    """q373 oracle: full 8-hash signatures (the q52 machinery), the
    2-bit truncated signatures (s mod 4), band-bucket candidates, and
    the EXACT shingle-set Jaccard refine from distinct base-hash
    sets — all agreement counts and set sizes are integers; the
    membership gate is the integer compare 5·inter ≥ 2·union."""
    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {D.MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(D.MINHASH_SALTS)
    )
    even = "CASE b WHEN 0 THEN s0 WHEN 1 THEN s2 WHEN 2 THEN s4 ELSE s6 END"
    odd = "CASE b WHEN 0 THEN s1 WHEN 1 THEN s3 WHEN 2 THEN s5 ELSE s7 END"
    full = " + ".join(f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END"
                      for i in range(8))
    twob = " + ".join(
        f"CASE WHEN sa.s{i} % 4 = sb.s{i} % 4 THEN 1 ELSE 0 END"
        for i in range(8)
    )
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
    hashes AS (
        SELECT doc_id, unnest(list_transform(
                   range(0, greatest(len(t) - 2, 0)),
                   i -> {_BASE_HASH_SQL})) AS h
        FROM toks WHERE len(t) >= 3
    ),
    dh AS (SELECT DISTINCT doc_id, h FROM hashes),
    dsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dh
            GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig_cols} FROM hashes GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST({even} AS VARCHAR)
                   || '|' || CAST({odd} AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band = b.band
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.id_a, c.id_b, c.n_shared_bands,
               CAST(count(*) AS BIGINT) AS i_sz
        FROM cand c
        JOIN dh da ON da.doc_id = c.id_a
        JOIN dh db ON db.doc_id = c.id_b AND db.h = da.h
        GROUP BY 1, 2, 3
    )
    SELECT i.id_a, i.id_b, i.n_shared_bands,
           round(CAST(i.i_sz AS DOUBLE) / (za.sz + zb.sz - i.i_sz), 4)
               AS jaccard_exact,
           CAST({full} AS BIGINT) AS n_match_full,
           CAST({twob} AS BIGINT) AS n_match_2bit,
           round(({full}) / 8.0, 4) AS est_full,
           round((({twob}) / 8.0 - 0.25) / 0.75, 4) AS est_2bit
    FROM inter i
    JOIN dsz za ON za.doc_id = i.id_a
    JOIN dsz zb ON zb.doc_id = i.id_b
    JOIN sig sa ON sa.doc_id = i.id_a
    JOIN sig sb ON sb.doc_id = i.id_b
    WHERE 5 * i.i_sz >= 2 * (za.sz + zb.sz - i.i_sz)
    ORDER BY id_a, id_b
    """


@register("q373_bbit_minhash_accuracy", oracle=_q373_oracle())
def q373_bbit_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-BIT MinHash accuracy audit (Li & König): storing only the
    low b bits of each minhash cuts signature storage 32/b× — the
    difference between a 100 TB dedup index that fits in RAM and one
    that doesn't — at the cost of RANDOM COLLISIONS a correction
    must remove: E[match] = C + (1−C)·J with C = 2^−b, so
    Ĵ_b = (match_rate − ¼)/¾ at b = 2. This query measures that
    tradeoff on the planted dup corpus: for every banded candidate
    pair with exact shingle Jaccard ≥ 0.4, the full-signature
    estimate (agreements/8), the 2-bit estimate with the Li-König
    correction, and the exact Jaccard from distinct shingle-hash
    sets — three columns the test compares for bias (the 2-bit
    estimator must track exact J on the exact-copy pairs where
    J = 1 and every truncated slot agrees).

    Scale: the 2-bit signatures are derived map-side from the same
    8-min agg q52/q368 already compute (s mod 4 — no extra hashing);
    candidates are the Σ bucket² band join; the exact refine joins
    distinct-hash sets only for candidates. At the 100 TB grain the
    full signatures never materialize — the point of the audit is to
    certify the 2-bit index BEFORE throwing the other 30 bits away.
    """
    corpus = _corpus(spark, sf_dir)
    base = corpus.select(
        "doc_id",
        F.explode(
            F.transform(D.shingles(F.col("text")), D.base_shingle_hash)
        ).alias("h"),
    )
    dh = base.distinct()
    dsz = dh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    sig = base.groupBy("doc_id").agg(*D.affine_min_sig_aggs())
    bands = sig.select(
        "doc_id",
        F.explode(D.sig_band_struct_array()).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.band")
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("band_idx").alias("bia"),
        F.col("band").alias("ba"),
    )
    b2 = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("bib"),
        F.col("band").alias("bbv"),
    )
    cand = (
        a.join(
            b2,
            (F.col("bia") == F.col("bib"))
            & (F.col("ba") == F.col("bbv"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    da = dh.select(F.col("doc_id").alias("id_a"), "h")
    db = dh.select(F.col("doc_id").alias("id_b2"), F.col("h").alias("h_b"))
    inter = (
        cand.join(da, "id_a")
        .join(db, (F.col("id_b") == F.col("id_b2")) & (F.col("h") == F.col("h_b")))
        .groupBy("id_a", "id_b", "n_shared_bands")
        .agg(F.count(F.lit(1)).cast("long").alias("i_sz"))
    )
    za = dsz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = dsz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"s{i}").alias(f"sa{i}") for i in range(8)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"s{i}").alias(f"sb{i}") for i in range(8)],
    )
    n_full = sum(
        F.when(F.col(f"sa{i}") == F.col(f"sb{i}"), 1).otherwise(0)
        for i in range(8)
    )
    n_2bit = sum(
        F.when(F.col(f"sa{i}") % 4 == F.col(f"sb{i}") % 4, 1).otherwise(0)
        for i in range(8)
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("i_sz")
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .filter(5 * F.col("i_sz") >= 2 * union_sz)
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            F.round(F.col("i_sz").cast("double") / union_sz, 4).alias(
                "jaccard_exact"
            ),
            n_full.cast("long").alias("n_match_full"),
            n_2bit.cast("long").alias("n_match_2bit"),
            F.round(n_full / 8.0, 4).alias("est_full"),
            F.round((n_2bit / 8.0 - 0.25) / 0.75, 4).alias("est_2bit"),
        )
        .orderBy("id_a", "id_b")
    )


def _q375_oracle() -> str:
    """q375 oracle: q137's md5 id-hash split over the planted dup
    corpus, q52's signature/band machinery run once, BIPARTITE
    train×eval band join (never train×train), exact shingle-set
    Jaccard refine gated as the integer compare 10·inter ≥ 7·union."""
    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {D.MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(D.MINHASH_SALTS)
    )
    even = "CASE b WHEN 0 THEN s0 WHEN 1 THEN s2 WHEN 2 THEN s4 ELSE s6 END"
    odd = "CASE b WHEN 0 THEN s1 WHEN 1 THEN s3 WHEN 2 THEN s5 ELSE s7 END"
    split = (
        "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
        " AS UBIGINT) AS BIGINT) % 10"
    )
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sides AS (
        SELECT doc_id, text,
               CASE WHEN {split} < 8 THEN 'train' ELSE 'eval' END AS side
        FROM corpus
    ),
    toks AS (SELECT doc_id, side, {_TOKS} AS t FROM sides),
    hashes AS (
        SELECT doc_id, side, unnest(list_transform(
                   range(0, greatest(len(t) - 2, 0)),
                   i -> {_BASE_HASH_SQL})) AS h
        FROM toks WHERE len(t) >= 3
    ),
    dh AS (SELECT DISTINCT doc_id, h FROM hashes),
    dsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dh
            GROUP BY doc_id),
    sig AS (SELECT doc_id, any_value(side) AS side, {sig_cols}
            FROM hashes GROUP BY doc_id),
    bands AS (
        SELECT doc_id, side, b AS band_idx,
               md5(CAST(b AS VARCHAR) || '|' || CAST({even} AS VARCHAR)
                   || '|' || CAST({odd} AS VARCHAR)) AS band
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
        SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
               count(*) AS n_shared_bands
        FROM bands e
        JOIN bands t ON e.band_idx = t.band_idx AND e.band = t.band
        WHERE e.side = 'eval' AND t.side = 'train'
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.eval_id, c.train_id, c.n_shared_bands,
               CAST(count(*) AS BIGINT) AS i_sz
        FROM cand c
        JOIN dh de ON de.doc_id = c.eval_id
        JOIN dh dt ON dt.doc_id = c.train_id AND dt.h = de.h
        GROUP BY 1, 2, 3
    )
    SELECT i.eval_id, i.train_id, i.n_shared_bands,
           round(CAST(i.i_sz AS DOUBLE) / (ze.sz + zt.sz - i.i_sz), 4)
               AS jaccard
    FROM inter i
    JOIN dsz ze ON ze.doc_id = i.eval_id
    JOIN dsz zt ON zt.doc_id = i.train_id
    WHERE 10 * i.i_sz >= 7 * (ze.sz + zt.sz - i.i_sz)
    ORDER BY eval_id, train_id
    """


@register("q375_fuzzy_decontamination", oracle=_q375_oracle())
def q375_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY train/eval decontamination — the near-duplicate closure
    of q75's exact-bigram check (GPT-3's 13-gram exact match misses
    re-wrapped or truncated eval leaks; production decontamination —
    The Pile, Llama — runs MinHash between splits): q137's id-hash
    split lands the planted dup families on BOTH sides (the leakage
    q286 measured at 39% of clusters), and a BIPARTITE MinHash-LSH
    band join (eval side × train side — never train×train, the index
    side a real run would precompute and keep standing) surfaces
    every eval document whose shingle-set Jaccard with some train
    document is ≥ 0.7, with the exact-refine gate as pure integer
    arithmetic (10·inter ≥ 7·union). Output = the contamination
    manifest: (eval_id, train_id, shared bands, exact Jaccard) —
    exactly what gets quarantined before an evaluation is trusted.

    Scale: signatures and bands are computed ONCE over the corpus
    (map-side min-aggs); the bipartite band join is Σ (train-bucket ×
    eval-bucket), strictly smaller than the self-join's Σ bucket²;
    the refine joins distinct-hash sets only for cross-split
    candidates. The standing-index variant (q159's shape) lets daily
    eval drops re-check in O(|eval|) without touching train again.
    """
    corpus = _corpus(spark, sf_dir)
    side = F.when(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
        < 8,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    sides = corpus.select("doc_id", "text", side.alias("side"))
    base = sides.select(
        "doc_id",
        "side",
        F.explode(
            F.transform(D.shingles(F.col("text")), D.base_shingle_hash)
        ).alias("h"),
    )
    dh = base.select("doc_id", "h").distinct()
    dsz = dh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    sig = base.groupBy("doc_id").agg(
        F.any_value(F.col("side")).alias("side"), *D.affine_min_sig_aggs()
    )
    bands = sig.select(
        "doc_id",
        "side",
        F.explode(D.sig_band_struct_array()).alias("bb"),
    ).select("doc_id", "side", "bb.band_idx", "bb.band")
    ev = bands.filter(F.col("side") == "eval").select(
        F.col("doc_id").alias("eval_id"),
        F.col("band_idx").alias("bie"),
        F.col("band").alias("be"),
    )
    tr = bands.filter(F.col("side") == "train").select(
        F.col("doc_id").alias("train_id"),
        F.col("band_idx").alias("bit"),
        F.col("band").alias("bt"),
    )
    cand = (
        ev.join(
            tr,
            (F.col("bie") == F.col("bit")) & (F.col("be") == F.col("bt")),
        )
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    de = dh.select(F.col("doc_id").alias("eval_id"), "h")
    dt = dh.select(F.col("doc_id").alias("train_id2"), F.col("h").alias("h_t"))
    inter = (
        cand.join(de, "eval_id")
        .join(
            dt,
            (F.col("train_id") == F.col("train_id2"))
            & (F.col("h") == F.col("h_t")),
        )
        .groupBy("eval_id", "train_id", "n_shared_bands")
        .agg(F.count(F.lit(1)).cast("long").alias("i_sz"))
    )
    ze = dsz.select(F.col("doc_id").alias("eval_id"), F.col("sz").alias("sz_e"))
    zt = dsz.select(F.col("doc_id").alias("train_id"), F.col("sz").alias("sz_t"))
    union_sz = F.col("sz_e") + F.col("sz_t") - F.col("i_sz")
    return (
        inter.join(ze, "eval_id")
        .join(zt, "train_id")
        .filter(10 * F.col("i_sz") >= 7 * union_sz)
        .select(
            "eval_id",
            "train_id",
            "n_shared_bands",
            F.round(F.col("i_sz").cast("double") / union_sz, 4).alias("jaccard"),
        )
        .orderBy("eval_id", "train_id")
    )


def _q384_oracle(k_picks: int = 3) -> str:
    ctes = [f"""sh AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   array_to_string(t[i.i : i.i + 2], ' ') AS g
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
                 LATERAL (SELECT unnest(generate_series(
                     1, greatest(len(t) - 2, 0))) AS i) AS i
        )
    ),
    u1 AS (SELECT doc_id, g FROM sh)"""]
    for t in range(1, k_picks + 1):
        ctes.append(f"""c{t} AS (
        SELECT doc_id, count(*) AS cnt FROM u{t} GROUP BY doc_id
    ),
    p{t} AS (SELECT doc_id, CAST(cnt AS BIGINT) AS cnt FROM c{t}
             ORDER BY cnt DESC, doc_id LIMIT 1),
    cov{t} AS (
        {"SELECT g FROM cov" + str(t - 1) + " UNION " if t > 1 else ""}
        SELECT sh.g FROM sh JOIN p{t} USING (doc_id)
    ),
    u{t + 1} AS (
        SELECT u.doc_id, u.g FROM u{t} u
        WHERE u.doc_id NOT IN (SELECT doc_id FROM p{t})
          AND u.g NOT IN (SELECT g FROM cov{t})
    )""")
    union = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, p{t}.doc_id,"
        f" p{t}.cnt AS new_shingles,"
        f" (SELECT CAST(count(DISTINCT g) AS BIGINT) FROM cov{t})"
        f" AS total_covered FROM p{t}"
        for t in range(1, k_picks + 1)
    )
    return f"WITH {', '.join(ctes)} {union} ORDER BY step"


@register("q384_greedy_max_coverage", oracle=_q384_oracle())
def q384_greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MAX-COVERAGE document selection (the (1−1/e)-optimal
    submodular greedy) — pick 3 documents that together cover the
    most distinct 3-token shingles: each round scores every
    remaining document by its count of still-UNCOVERED shingles,
    takes the argmax (ties → smaller doc_id), and retires its
    shingles. This is the eval-set / seed-corpus selection dual of
    q379's k-center (geometric diversity): coverage diversity over
    the same shingle space the dedup family (q52/q153) hashes —
    facility-location-style data selection for training pipelines.

    Scale: the corpus collapses once to the DISTINCT (doc, shingle)
    incidence table (the q153 relation); each round is one hash agg
    over the still-uncovered incidence, a 1-row argmax
    (TakeOrderedAndProject), and two anti-joins (picked docs,
    covered shingles) — the incidence shrinks monotonically, and
    nothing is ever collected: the covered-shingle set stays a
    distributed relation (doc-grain, NOT broadcast-hinted — one
    giant doc must not OOM the driver; AQE broadcasts it only if it
    measures small). localCheckpoint truncates the per-round
    lineage.
    """
    from g_etl_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.explode(shingles(F.col("text"))).alias("g"))
        .distinct()
        .localCheckpoint()
    )
    uncovered = sh
    picks = None
    covered = None
    outs = []
    for step in (1, 2, 3):
        cnt = uncovered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
        pick = cnt.orderBy(F.desc("cnt"), F.asc("doc_id")).limit(1).select(
            "doc_id", F.col("cnt").cast("long").alias("cnt")
        ).localCheckpoint()
        new_cov = sh.join(pick.select("doc_id"), "doc_id").select("g")
        covered = (
            new_cov if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint()
        total = covered.agg(
            F.countDistinct("g").cast("long").alias("total_covered")
        )
        outs.append(
            pick.crossJoin(total).select(
                F.lit(step).cast("long").alias("step"),
                "doc_id",
                F.col("cnt").alias("new_shingles"),
                "total_covered",
            )
        )
        picks = pick if picks is None else picks.unionByName(pick)
        uncovered = (
            uncovered.join(picks.select("doc_id"), "doc_id", "left_anti")
            .join(covered, "g", "left_anti")
            .localCheckpoint()
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("step")


@register(
    "q385_apriori_triples",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    isup AS (SELECT p, count(*) AS s FROM b GROUP BY p),
    bb AS (SELECT b.o, b.p FROM b JOIN isup ON isup.p = b.p
           WHERE isup.s >= 2),
    occ2 AS (
        SELECT x.o, x.p AS a, y.p AS bp
        FROM bb x JOIN bb y ON x.o = y.o AND x.p < y.p
    ),
    l2 AS (
        SELECT a, bp, count(*) AS s FROM occ2 GROUP BY a, bp
        HAVING count(*) >= 2
    ),
    c3 AS (
        SELECT u.a, u.bp AS b2, v.bp AS c2
        FROM l2 u JOIN l2 v ON v.a = u.a AND v.bp > u.bp
        WHERE EXISTS (SELECT 1 FROM l2 w
                      WHERE w.a = u.bp AND w.bp = v.bp)
    ),
    occ3 AS (
        SELECT o2.o, c3.a, c3.b2, c3.c2
        FROM c3
        JOIN occ2 o2 ON o2.a = c3.a AND o2.bp = c3.b2
        JOIN bb z ON z.o = o2.o AND z.p = c3.c2
    ),
    l3 AS (
        SELECT a, b2, c2, CAST(count(*) AS BIGINT) AS support
        FROM occ3 GROUP BY a, b2, c2 HAVING count(*) >= 2
    ),
    n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM b),
    meta AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM l2) AS n_l2,
               (SELECT CAST(count(*) AS BIGINT) FROM c3) AS n_c3
    )
    SELECT l3.a AS item_a, l3.b2 AS item_b, l3.c2 AS item_c,
           l3.support,
           round(l3.support * n.n * n.n
                 / (sa.s * sb.s * sc.s), 4) AS lift3,
           meta.n_l2, meta.n_c3
    FROM l3
    JOIN isup sa ON sa.p = l3.a
    JOIN isup sb ON sb.p = l3.b2
    JOIN isup sc ON sc.p = l3.c2
    CROSS JOIN n CROSS JOIN meta
    ORDER BY support DESC, item_a, item_b, item_c
    """,
)
def q385_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3 frequent-itemset mining — frequent part
    TRIPLES in order baskets at minsup 2, with the candidate
    generation that makes the algorithm survive scale: C3 triples
    are built ONLY from frequent-pair (L2) joins and pruned by the
    downward-closure check that ALL three sub-pairs are frequent,
    so the support-counting join touches |C3| candidates instead of
    the |parts|³ cross space (n_l2 / n_c3 ride along as the
    measured pruning telemetry — the q278-style fan-out audit).
    lift3 = n²·supp(abc)/(supp(a)·supp(b)·supp(c)) flags triples
    co-bought beyond independence; extends q141's pair rules one
    lattice level up.

    Scale: baskets dedup once; pair occurrences shuffle on order
    key (basket-local explode, bounded by per-order item count);
    L2/C3 live at the pair/triple grain; support counting re-joins
    candidates to pair occurrences + one item probe (never a 3-way
    basket cross). All thresholds integer-exact; lift's doubles come
    from exact counts so the 4-dp round cannot fork cross-engine.
    """
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    isup = b.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    bb = (
        b.join(isup.filter(F.col("s") >= 2).select("p"), "p", "left_semi")
        .localCheckpoint()
    )
    x = bb.select(F.col("o"), F.col("p").alias("a"))
    y = bb.select(F.col("o").alias("oy"), F.col("p").alias("bp"))
    occ2 = (
        x.join(y, (F.col("o") == F.col("oy")) & (F.col("a") < F.col("bp")))
        .select("o", "a", "bp")
        .localCheckpoint()
    )
    l2 = (
        occ2.groupBy("a", "bp")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= 2)
        .select("a", "bp")
        .localCheckpoint()
    )
    u = l2.select("a", F.col("bp").alias("b2"))
    v = l2.select(F.col("a").alias("va"), F.col("bp").alias("c2"))
    w = l2.select(F.col("a").alias("wa"), F.col("bp").alias("wb"))
    c3 = (
        u.join(v, (F.col("va") == F.col("a")) & (F.col("c2") > F.col("b2")))
        .select("a", "b2", "c2")
        .join(
            w,
            (F.col("wa") == F.col("b2")) & (F.col("wb") == F.col("c2")),
            "left_semi",
        )
        .localCheckpoint()
    )
    z = bb.select(F.col("o").alias("oz"), F.col("p").alias("zc"))
    o2 = occ2.select(
        F.col("o"), F.col("a").alias("o2a"), F.col("bp").alias("o2b")
    )
    occ3 = (
        c3.join(o2, (F.col("o2a") == F.col("a")) & (F.col("o2b") == F.col("b2")))
        .join(z, (F.col("oz") == F.col("o")) & (F.col("zc") == F.col("c2")))
        .select("a", "b2", "c2", "o")
    )
    l3 = (
        occ3.groupBy("a", "b2", "c2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    n = b.agg(F.countDistinct("o").cast("double").alias("n"))
    meta = (
        l2.agg(F.count(F.lit(1)).cast("long").alias("n_l2"))
        .crossJoin(
            F.broadcast(c3.agg(F.count(F.lit(1)).cast("long").alias("n_c3")))
        )
    )
    sa = isup.select(F.col("p").alias("pa"), F.col("s").alias("s_a"))
    sb = isup.select(F.col("p").alias("pb"), F.col("s").alias("s_b"))
    sc = isup.select(F.col("p").alias("pc"), F.col("s").alias("s_c"))
    return (
        l3.join(sa, F.col("pa") == F.col("a"))
        .join(sb, F.col("pb") == F.col("b2"))
        .join(sc, F.col("pc") == F.col("c2"))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(meta))
        .select(
            F.col("a").alias("item_a"),
            F.col("b2").alias("item_b"),
            F.col("c2").alias("item_c"),
            "support",
            F.round(
                F.col("support")
                * F.col("n")
                * F.col("n")
                / (F.col("s_a") * F.col("s_b") * F.col("s_c")),
                4,
            ).alias("lift3"),
            "n_l2",
            "n_c3",
        )
        .orderBy(F.desc("support"), "item_a", "item_b", "item_c")
    )


_Q400_STAGES = ("input", "quality", "exact_dedup", "fingerprint_dedup",
                "holdout", "decontam")
_Q400_STOP_IN = "('the','a','of','and','is','in','to')"
_Q400_QUALITY_SQL = f"""
    round(0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
        + 0.4 * (CAST(len(list_distinct(t)) AS DOUBLE)
                 / greatest(len(t), 1))
        + 0.2 * (1.0 - abs(CAST(len(list_filter(t, x -> x IN {_Q400_STOP_IN}))
                                AS DOUBLE)
                           / greatest(len(t), 1) - 0.3)), 4)
"""


def _q400_oracle() -> str:
    counts = ", ".join(
        f"c{i} AS (SELECT CAST(count(*) AS BIGINT) AS d,"
        f" CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS tok FROM s{i})"
        for i in range(len(_Q400_STAGES))
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS stage_ord,"
        f" '{name}' AS stage,"
        f" (SELECT d FROM c{i}) AS docs_out,"
        f" (SELECT tok FROM c{i}) AS tokens_out,"
        + (
            f" (SELECT d FROM c{i - 1}) - (SELECT d FROM c{i}) AS dropped"
            if i else " CAST(0 AS BIGINT) AS dropped"
        )
        for i, name in enumerate(_Q400_STAGES)
    )
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    s0 AS (SELECT doc_id, text, {_TOKS} AS t FROM corpus),
    s1 AS (
        SELECT * FROM s0
        WHERE len(t) BETWEEN 30 AND 1000
          AND CAST(len(list_filter(t, x -> x IN {_Q400_STOP_IN})) AS DOUBLE)
              / greatest(len(t), 1) <= 0.6
          AND {_Q400_QUALITY_SQL} >= 0.55
    ),
    s2 AS (
        SELECT s1.* FROM s1
        JOIN (SELECT md5(text) AS h, min(doc_id) AS keep
              FROM s1 GROUP BY 1) k
          ON md5(s1.text) = k.h AND s1.doc_id = k.keep
    ),
    s3 AS (
        SELECT s2.* FROM s2
        JOIN (SELECT md5(array_to_string(list_sort(list_distinct(t)), ' '))
                     AS fp,
                     min(doc_id) AS keep
              FROM s2 GROUP BY 1) k
          ON md5(array_to_string(list_sort(list_distinct(s2.t)), ' ')) = k.fp
         AND s2.doc_id = k.keep
    ),
    s4 AS (SELECT * FROM s3 WHERE doc_id % {25} <> 0),
    eg AS (
        SELECT DISTINCT array_to_string(t[i.i : i.i + 4], ' ') AS g
        FROM s0, LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(t) - 4, 0))) AS i) AS i
        WHERE doc_id % 25 = 0
    ),
    contam AS (
        SELECT doc_id,
               CAST(count(*) FILTER (g IN (SELECT g FROM eg)) AS DOUBLE)
                   / count(*) AS ratio
        FROM (
            SELECT doc_id,
                   array_to_string(t[i.i : i.i + 4], ' ') AS g
            FROM s4, LATERAL (SELECT unnest(generate_series(
                     1, greatest(len(t) - 4, 0))) AS i) AS i
        ) GROUP BY doc_id
    ),
    s5 AS (
        SELECT s4.* FROM s4
        LEFT JOIN contam USING (doc_id)
        WHERE coalesce(contam.ratio, 0.0) < 0.05
    ),
    {counts}
    {rows} ORDER BY stage_ord
    """


@register("q400_training_data_funnel", oracle=_q400_oracle())
def q400_training_data_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TRAINING-DATA FUNNEL — the engine's flagship composition:
    one pass of the full corpus-build pipeline over the planted
    dedup corpus, emitting the per-stage survival table every data
    card publishes. Stages, each applied to the previous stage's
    survivors, all reusing the registry's own primitives:

      input → quality (q58's C4 chain: length window, stopword cap,
      composite floor) → exact_dedup (q50: md5(text), min-id keeper)
      → fingerprint_dedup (q51: sorted-distinct-token md5) →
      holdout (q75's doc_id % 25 eval slice removed) → decontam
      (q75: drop docs whose 5-gram overlap with the eval slice is
      ≥ 5%).

    Output: docs_out, tokens_out, dropped per stage — the funnel a
    reviewer reads to see WHERE the corpus went; the oracle pins the
    exact composition semantics, so any drift in stage ordering or
    survivor propagation (e.g. deduping before filtering, the
    classic pipeline bug that changes keeper choice) breaks the
    hash.

    Scale: every stage is a hash-agg or equi-join at doc grain over
    a monotonically shrinking relation — the same shapes its parent
    queries ship individually; tokens stay an array column staged
    ONCE at s0 (tokenize a doc exactly once, the pipeline-fusion
    rule). The eval gram set is corpus-fraction-sized and stays
    unhinted (q75's discipline: AQE broadcasts it only when it
    fits).
    """
    from g_etl_spark.operators import text as T

    c = _corpus(spark, sf_dir)
    s0 = c.select(
        "doc_id", "text", T.tokens(F.col("text")).alias("t")
    ).localCheckpoint()
    n_tok = F.size("t")
    stop_ratio = F.size(
        F.filter(F.col("t"), lambda x: x.isin("the", "a", "of", "and",
                                              "is", "in", "to"))
    ).cast("double") / F.greatest(n_tok, F.lit(1))
    quality = F.round(
        0.4 * F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        + 0.4
        * (
            F.size(F.array_distinct("t")).cast("double")
            / F.greatest(n_tok, F.lit(1))
        )
        + 0.2 * (1.0 - F.abs(stop_ratio - 0.3)),
        4,
    )
    s1 = s0.filter(
        n_tok.between(30, 1000) & (stop_ratio <= 0.6) & (quality >= 0.55)
    )
    keep_h = s1.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep")
    )
    s2 = s1.join(
        keep_h,
        (F.md5(s1.text) == keep_h.h) & (s1.doc_id == keep_h.keep),
    ).select("doc_id", "text", "t")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct("t")), " "))
    keep_fp = s2.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("keep"))
    s3 = s2.join(
        keep_fp,
        (fp == keep_fp.fp) & (s2.doc_id == keep_fp.keep),
    ).select("doc_id", "text", "t")
    s4 = s3.filter(F.col("doc_id") % 25 != 0).localCheckpoint()
    grams = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(T.word_ngrams(F.col("t"), 5)).alias("g")
    )
    eg = grams(s0.filter(F.col("doc_id") % 25 == 0)).select("g").distinct()
    contam = (
        grams(s4)
        .join(eg.withColumn("_hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            (F.count("_hit").cast("double") / F.count(F.lit(1))).alias(
                "ratio"
            )
        )
    )
    s5 = (
        s4.join(contam, "doc_id", "left")
        .filter(F.coalesce(F.col("ratio"), F.lit(0.0)) < 0.05)
        .select("doc_id", "text", "t")
    )
    stages = [s0, s1, s2, s3, s4, s5]
    outs = []
    for i, (name, df) in enumerate(zip(_Q400_STAGES, stages)):
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("docs_out"),
                F.coalesce(F.sum(F.size("t")), F.lit(0))
                .cast("long")
                .alias("tokens_out"),
            ).select(
                F.lit(i).cast("long").alias("stage_ord"),
                F.lit(name).alias("stage"),
                "docs_out",
                "tokens_out",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    w = Window.orderBy("stage_ord")
    return out.select(
        "stage_ord",
        "stage",
        "docs_out",
        "tokens_out",
        F.coalesce(
            F.lag("docs_out").over(w) - F.col("docs_out"), F.lit(0)
        ).cast("long").alias("dropped"),
    ).orderBy("stage_ord")


@register(
    "q419_hash_width_collision_audit",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT array_to_string(t[i.i : i.i + 2], ' ') AS g
        FROM (SELECT {_TOKS} AS t FROM documents),
             LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(t) - 2, 0))) AS i) AS i
    ),
    hashed AS (
        SELECT g,
               CAST(CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT)
                    % {D.MINHASH_P} AS BIGINT) AS h
        FROM sh
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(DISTINCT h) AS BIGINT) AS n_hashes
        FROM hashed
    )
    SELECT n_shingles, n_hashes,
           n_shingles - n_hashes AS collisions_observed,
           round(CAST(n_shingles AS DOUBLE) * (n_shingles - 1)
                 / 2.0 / {D.MINHASH_P}, 3) AS collisions_expected,
           CAST(2 * length(bin(greatest(n_shingles, 2) - 1)) - 1 AS BIGINT)
               AS bits_for_lt1_collision,
           n_shingles - n_hashes
               <= 8 * greatest(CAST(round(CAST(n_shingles AS DOUBLE)
                      * (n_shingles - 1) / 2.0 / {D.MINHASH_P})
                      AS BIGINT), 1) AS within_8x_expected
    FROM stats
    """,
)
def q419_hash_width_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HASH-WIDTH collision audit — the engine measuring its OWN
    hashing: every dedup/LSH pipeline here rides the 31-bit base
    shingle hash (operators/dedup.base_shingle_hash, md5-derived mod
    2³¹−1), and a hash collision is a silent FALSE DUPLICATE (two
    different shingles counted as one — inflating Jaccard, merging
    clusters). The audit counts observed collisions exactly
    (distinct shingles − distinct hashes), compares with the
    birthday bound n(n−1)/2p, checks the generator behaves like a
    random function (within_8x_expected — a Poisson-tail sanity
    gate that survives fixture growth), and emits
    bits_for_lt1_collision = 2·bitlen(n−1)−1 (≥ ⌈log₂ n²⌉−1, at
    most one bit conservative, computed without ever squaring n so
    the advisor column cannot wrap at 1e9+ shingles), the hash
    width at which the expected collision count drops below one
    for THIS corpus's type count — the number that says when to move the pipelines
    from 32-bit to 64-bit keys (at 10⁹ shingles, 31 bits expect
    ~2·10⁸ collisions: unusable, exactly why q373's b-bit study
    keeps full-width keys for the refine stage).

    Scale: one shingle-distinct pass + one combining aggregate —
    the audit rides any existing dedup run's relations; all counts
    exact integers (the expectation is the only double, 3-dp).
    """
    sh = (
        load(spark, sf_dir, "documents")
        .select(F.explode(D.shingles(F.col("text"))).alias("g"))
        .distinct()
    )
    hashed = sh.select(D.base_shingle_hash(F.col("g")).alias("h"))
    stats = hashed.agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.countDistinct("h").cast("long").alias("n_hashes"),
    )
    exp = (
        F.col("n_shingles").cast("double")
        * (F.col("n_shingles") - 1)
        / 2.0
        / D.MINHASH_P
    )
    return stats.select(
        "n_shingles",
        "n_hashes",
        (F.col("n_shingles") - F.col("n_hashes")).alias(
            "collisions_observed"
        ),
        F.round(exp, 3).alias("collisions_expected"),
        # 2·bitlen(n−1) − 1 ≥ ⌈log₂ n²⌉ − 1: a ≤1-bit-conservative
        # width that never squares n — bin(n*n−1) wraps 64-bit
        # beyond ~3.04e9 shingles, exactly the 1e9+ regime this
        # audit advises on (r11 ADVICE).
        (
            2 * F.length(
                F.bin(F.greatest(F.col("n_shingles"), F.lit(2)) - 1)
            )
            - 1
        )
        .cast("long")
        .alias("bits_for_lt1_collision"),
        (
            F.col("n_shingles") - F.col("n_hashes")
            <= 8 * F.greatest(F.round(exp).cast("long"), F.lit(1))
        ).alias("within_8x_expected"),
    )


_Q421_T = 0.7  # Jaccard threshold


@register(
    "q421_prefix_filter_jaccard_join",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   array_to_string(t[i.i : i.i + 2], ' ') AS g
            FROM (SELECT doc_id, {_TOKS} AS t FROM corpus),
                 LATERAL (SELECT unnest(generate_series(
                     1, greatest(len(t) - 2, 0))) AS i) AS i
        )
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM sh GROUP BY doc_id),
    dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
    ranked AS (
        SELECT sh.doc_id, sh.g,
               row_number() OVER (PARTITION BY sh.doc_id
                                  ORDER BY dfreq.df, sh.g) AS rk
        FROM sh JOIN dfreq USING (g)
    ),
    pref AS (
        SELECT r.doc_id, r.g
        FROM ranked r JOIN sizes s USING (doc_id)
        WHERE r.rk <= s.sz - CAST(ceil({_Q421_T} * s.sz) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b
          ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i_sz
        FROM cand c
        JOIN sh x ON x.doc_id = c.id_a
        JOIN sh y ON y.doc_id = c.id_b AND y.g = x.g
        GROUP BY c.id_a, c.id_b
    ),
    meta AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) * (count(*) - 1) AS BIGINT) // 2
                FROM sizes) AS n_all_pairs
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.i_sz AS DOUBLE) / (sa.sz + sb.sz - i.i_sz), 4)
               AS jaccard,
           meta.n_candidates, meta.n_all_pairs
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    CROSS JOIN meta
    WHERE 10 * i.i_sz >= 7 * (sa.sz + sb.sz - i.i_sz)
    ORDER BY i.id_a, i.id_b
    """,
)
def q421_prefix_filter_jaccard_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT set-similarity join via PREFIX FILTERING (AllPairs /
    PPJoin, Bayardo et al. WWW'07) — the exact counterpart of the
    LSH family: MinHash banding (q52) finds near-dups
    probabilistically; this finds EVERY pair with Jaccard ≥ 0.7,
    guaranteed, without the n² pair space. The filter: order each
    doc's shingles by ascending global document frequency
    (rare-first — the canonical ordering that shrinks prefixes
    most), keep only the first |S| − ⌈t·|S|⌉ + 1 tokens as the
    PREFIX; two sets with Jaccard ≥ t provably share a prefix
    token, so the candidate join runs on the prefix relation only
    — n_candidates vs n_all_pairs rides along as the measured
    pruning (the same telemetry discipline as q385's Apriori).
    Survivors verify with exact intersection counts; the threshold
    compare is integer cross-multiplied (10·i ≥ 7·u — no float
    boundary), over the planted near-dup corpus so real pairs
    exist.

    Scale: df ordering is a vocab-grain rollup; the prefix relation
    is a ~(1−t) fraction of the shingle incidence; the candidate
    equi-join costs Σ bucket² over PREFIX tokens — rare tokens by
    construction, the whole point of the ordering. Verification
    joins only candidate pairs. This is the standard exact-dedup
    endgame when LSH recall < 1 is not acceptable (legal/eval
    dedup).
    """
    c = _corpus(spark, sf_dir)
    sh = (
        c.select("doc_id", F.explode(D.shingles(F.col("text"))).alias("g"))
        .distinct()
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wr = Window.partitionBy("doc_id").orderBy("df", "g")
    ranked = (
        sh.join(dfreq, "g")
        .select("doc_id", "g", F.row_number().over(wr).alias("rk"))
    )
    pref = (
        ranked.join(sizes, "doc_id")
        .filter(
            F.col("rk")
            <= F.col("sz") - F.ceil(_Q421_T * F.col("sz")).cast("long") + 1
        )
        .select("doc_id", "g")
        .localCheckpoint()
    )
    a = pref.select(F.col("doc_id").alias("id_a"), "g")
    b = pref.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    cand = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), "g")
    y = sh.select(F.col("doc_id").alias("yid"), F.col("g").alias("gy"))
    inter = (
        cand.join(x, "id_a")
        .join(y, (F.col("id_b") == F.col("yid")) & (F.col("g") == F.col("gy")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i_sz"))
    )
    meta = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")).crossJoin(
        F.broadcast(
            sizes.agg(
                F.expr("CAST(count(*) * (count(*) - 1) AS BIGINT) div 2")
                .alias("n_all_pairs")
            )
        )
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    un = F.col("sz_a") + F.col("sz_b") - F.col("i_sz")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(10 * F.col("i_sz") >= 7 * un)
        .crossJoin(F.broadcast(meta))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i_sz").cast("double") / un, 4).alias("jaccard"),
            "n_candidates",
            "n_all_pairs",
        )
        .orderBy("id_a", "id_b")
    )


# ---- q444: maximal cross-document exact substrings ----------------------
_Q444_W = 8        # anchor window (tokens) — the suffix-gram grain
_Q444_MIN = 12     # report spans of at least this many tokens


@register(
    "q444_maximal_shared_substrings",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, string_split(trim(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= {_Q444_W}
    ),
    g AS MATERIALIZED (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[u.i:u.i + {_Q444_W} - 1], ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {_Q444_W} + 2)) AS i) u
    ),
    hits AS MATERIALIZED (
        SELECT a.doc_id AS da, b.doc_id AS db,
               a.pos - b.pos AS off, a.pos AS pa
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT da, db, off, pa,
               CASE WHEN lag(pa) OVER w IS NULL
                         OR pa <> lag(pa) OVER w + 1 THEN 1 ELSE 0
               END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY da, db, off ORDER BY pa)
    ),
    ids AS (
        SELECT da, db, off, pa,
               sum(brk) OVER (PARTITION BY da, db, off ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs
    ),
    spans AS (
        SELECT da, db, off, run_id,
               max(pa) - min(pa) + {_Q444_W} AS span_len
        FROM ids GROUP BY 1, 2, 3, 4
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span_len) AS BIGINT) AS longest_span,
           CAST(sum(span_len) AS BIGINT) AS shared_tokens
    FROM spans
    WHERE span_len >= {_Q444_MIN}
    GROUP BY da, db
    ORDER BY da, db
    """,
)
def q444_maximal_shared_substrings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAXIMAL cross-document exact substrings — the suffix-array
    dedup result of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", ExactSubstr) re-expressed as
    bucketed suffix grams + alignment-space islands. Every
    8-token window is an anchor; two documents sharing a window at
    positions (pa, pb) are a hit at alignment off = pa − pb; within
    one (doc_a, doc_b, off) alignment a TRUE match of length L
    produces hits at EXACTLY the consecutive anchors pa..pa+L−8
    (any interior window of a matching region matches too), so
    maximal shared substrings are precisely the pa-consecutive runs,
    with exact length max(pa) − min(pa) + 8. Distinct from q212,
    which merges per-doc coverage regardless of partner and
    alignment — this emits per-PAIR maximal spans ≥ 12 tokens with
    their exact lengths, i.e. what a span-removal pass deletes and
    where. shared_tokens counts alignment-grain span lengths (text
    self-repeated under several alignments counts once per
    alignment, as in the suffix-array formulation).

    Scale: the candidate bound is Σ_gram occ(gram)² (bucketed block
    join), never corpus² — probed at ×25 (SCALE_NOTES.md "Round 13"); the
    island windows partition by (doc_a, doc_b, off), bounded by
    per-pair hit counts. At 100 TB the gram key becomes a 64-bit
    rolling hash (q51's device) and ultra-hot boilerplate grams get
    a loud df-cap before the self-join (the q153/q96 discipline) —
    both adaptations change constants, not the plan shape.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    t = d.where(F.size("toks") >= _Q444_W)
    g = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _Q444_W + 1)
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), _Q444_W)).alias(
            "gram"
        ),
    )
    a = g.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .where(F.col("da") < F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("off"), "pa")
    )
    w = Window.partitionBy("da", "db", "off").orderBy("pa")
    runs = hits.withColumn(
        "brk",
        F.when(
            F.lag("pa").over(w).isNull()
            | (F.col("pa") != F.lag("pa").over(w) + 1),
            1,
        ).otherwise(0),
    )
    ids = runs.withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = ids.groupBy("da", "db", "off", "run_id").agg(
        (F.max("pa") - F.min("pa") + _Q444_W).alias("span_len")
    )
    return (
        spans.where(F.col("span_len") >= _Q444_MIN)
        .groupBy("da", "db")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max("span_len").cast("long").alias("longest_span"),
            F.sum("span_len").cast("long").alias("shared_tokens"),
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "n_spans",
            "longest_span",
            "shared_tokens",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---- q448: eval-set n-gram decontamination report -----------------------
_Q448_W = 13   # the GPT-3/Brown et al. decontamination gram width
_Q448_EVAL_MOD, _Q448_EVAL_BUCKET = 10, 7   # eval split: doc_id%10 == 7


@register(
    "q448_eval_decontamination_report",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, doc_id % {_Q448_EVAL_MOD} = {_Q448_EVAL_BUCKET}
                   AS is_eval,
               string_split(trim(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= {_Q448_W}
    ),
    g AS MATERIALIZED (
        SELECT doc_id, is_eval, u.i AS pos,
               array_to_string(toks[u.i:u.i + {_Q448_W} - 1], ' ')
                   AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {_Q448_W} + 2)) AS i) u
    ),
    ng AS MATERIALIZED (
        SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
        FROM g WHERE is_eval GROUP BY doc_id
    ),
    hits AS MATERIALIZED (
        SELECT e.doc_id AS ev, tr.doc_id AS tr, e.gram,
               e.pos - tr.pos AS off, e.pos AS pe
        FROM g e JOIN g tr ON e.gram = tr.gram
        WHERE e.is_eval AND NOT tr.is_eval
    ),
    runs AS (
        SELECT ev, tr, off, pe,
               CASE WHEN lag(pe) OVER w IS NULL
                         OR pe <> lag(pe) OVER w + 1 THEN 1 ELSE 0
               END AS brk
        FROM (SELECT DISTINCT ev, tr, off, pe FROM hits)
        WINDOW w AS (PARTITION BY ev, tr, off ORDER BY pe)
    ),
    ids AS (
        SELECT ev, tr, off, pe,
               sum(brk) OVER (PARTITION BY ev, tr, off ORDER BY pe
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs
    ),
    spans AS (
        SELECT ev, max(mx) AS longest FROM (
            SELECT ev, tr, off, run_id,
                   max(pe) - min(pe) + {_Q448_W} AS mx
            FROM ids GROUP BY 1, 2, 3, 4
        ) GROUP BY ev
    ),
    agg AS (
        SELECT ev AS doc_id,
               CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams,
               CAST(count(DISTINCT tr) AS BIGINT) AS n_train_docs
        FROM hits GROUP BY ev
    )
    SELECT a.doc_id, ng.n_grams, a.n_shared_grams,
           CAST(round(1000.0 * a.n_shared_grams / ng.n_grams) AS BIGINT)
               AS shared_milli,
           a.n_train_docs,
           CAST(s.longest AS BIGINT) AS longest_shared_run
    FROM agg a JOIN ng USING (doc_id) JOIN spans s ON s.ev = a.doc_id
    ORDER BY doc_id
    """,
)
def q448_eval_decontamination_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EVAL-SET DECONTAMINATION report — the n-gram overlap audit
    every benchmark-honest training run owes its eval split (Brown
    et al. 2020's 13-gram rule): with a deterministic hash split
    (doc_id % {_Q448_EVAL_MOD} == {_Q448_EVAL_BUCKET} is eval), every
    13-token gram of every eval document is probed against the TRAIN
    side's grams; contaminated eval docs are reported with the
    distinct-gram hit count, the contaminated fraction (milli), the
    number of train documents implicated, and — via q444's
    alignment-island device restricted to eval×train pairs — the
    LONGEST exactly-shared token run (the number that distinguishes
    a quoted sentence from a wholesale copy). Complements q375
    (fuzzy MinHash decontamination) with the exact-gram standard,
    and q336 (which builds splits that avoid this) with the audit
    that catches splits that didn't.

    Scale: Σ_gram occ_eval(gram)·occ_train(gram) candidate bound —
    the eval side is a small fixed fraction of the corpus, so the
    bucket join is ~|eval docs|-proportional; islands partition by
    (eval, train, off) as in q444. At 100 TB: rolling-hash gram
    keys + a df-cap on boilerplate grams, constants not plan shape.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _Q448_EVAL_MOD == _Q448_EVAL_BUCKET).alias(
            "is_eval"
        ),
        F.split(F.trim("text"), " ").alias("toks"),
    )
    t = d.where(F.size("toks") >= _Q448_W)
    g = t.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _Q448_W + 1)
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "is_eval",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), _Q448_W)).alias(
            "gram"
        ),
    )
    ev = g.where("is_eval").select(
        F.col("doc_id").alias("ev"), F.col("pos").alias("pe"), "gram"
    )
    tr = g.where(~F.col("is_eval")).select(
        F.col("doc_id").alias("tr"), F.col("pos").alias("pt"), "gram"
    )
    ng = (
        ev.groupBy("ev")
        .agg(F.countDistinct("gram").cast("long").alias("n_grams"))
    )
    hits = ev.join(tr, "gram").select(
        "ev", "tr", "gram", (F.col("pe") - F.col("pt")).alias("off"), "pe"
    )
    hits = hits.localCheckpoint(eager=True)  # reused by agg + islands
    w = Window.partitionBy("ev", "tr", "off").orderBy("pe")
    runs = (
        hits.select("ev", "tr", "off", "pe")
        .distinct()
        .withColumn(
            "brk",
            F.when(
                F.lag("pe").over(w).isNull()
                | (F.col("pe") != F.lag("pe").over(w) + 1),
                1,
            ).otherwise(0),
        )
    )
    ids = runs.withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        ids.groupBy("ev", "tr", "off", "run_id")
        .agg((F.max("pe") - F.min("pe") + _Q448_W).alias("mx"))
        .groupBy("ev")
        .agg(F.max("mx").alias("longest"))
    )
    agg = hits.groupBy("ev").agg(
        F.countDistinct("gram").cast("long").alias("n_shared_grams"),
        F.countDistinct("tr").cast("long").alias("n_train_docs"),
    )
    return (
        agg.join(ng, "ev")
        .join(spans, "ev")
        .select(
            F.col("ev").alias("doc_id"),
            "n_grams",
            "n_shared_grams",
            F.round(
                1000.0 * F.col("n_shared_grams") / F.col("n_grams")
            ).cast("long").alias("shared_milli"),
            "n_train_docs",
            F.col("longest").cast("long").alias("longest_shared_run"),
        )
        .orderBy("doc_id")
    )


# ---- q451: policy propagation through near-dup clusters ------------------
_Q451_MIN = 20   # cluster edge: docs sharing an exact span ≥ this many tokens
# license class rides the SOURCE (how real corpora are licensed);
# strictness ladder: permissive(0) < attribution(1) < restricted(2)
_Q451_LIC = ("CAST(substr(source, 4) AS INT) % 3",
             "CAST(substring(source, 4, 10) AS INT) % 3")
_Q451_LIC_NAME = (
    "CASE {r} WHEN 0 THEN 'permissive' WHEN 1 THEN 'attribution'"
    " ELSE 'restricted' END"
)


@register(
    "q451_cluster_policy_propagation",
    oracle=f"""
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id, string_split(trim(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= {_Q444_W}
    ),
    g AS MATERIALIZED (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[u.i:u.i + {_Q444_W} - 1], ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {_Q444_W} + 2)) AS i) u
    ),
    hits AS MATERIALIZED (
        SELECT a.doc_id AS da, b.doc_id AS db,
               a.pos - b.pos AS o, a.pos AS pa
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT da, db, o, pa,
               CASE WHEN lag(pa) OVER w IS NULL
                         OR pa <> lag(pa) OVER w + 1 THEN 1 ELSE 0
               END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY da, db, o ORDER BY pa)
    ),
    ids AS (
        SELECT da, db, o, pa,
               sum(brk) OVER (PARTITION BY da, db, o ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS rid
        FROM runs
    ),
    spans AS (
        SELECT da, db, max(pa) - min(pa) + {_Q444_W} AS ln
        FROM ids GROUP BY da, db, o, rid
    ),
    pairs AS MATERIALIZED (
        SELECT DISTINCT da, db FROM spans WHERE ln >= {_Q451_MIN}
    ),
    edges AS (
        SELECT da AS a, db AS b FROM pairs
        UNION SELECT db, da FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    meta AS (
        SELECT c.component, c.node, d.source, d.lang,
               {_Q451_LIC[0]} AS lic
        FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT CAST(component AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS keeper_doc,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           {_Q451_LIC_NAME.format(r="max(lic)")} AS effective_license,
           count(DISTINCT lic) > 1 AS license_conflict,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM meta GROUP BY component ORDER BY cluster_id
    """,
)
def q451_cluster_policy_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POLICY PROPAGATION through near-dup clusters — the governance
    step dedup pipelines skip at their peril: when a cluster of
    near-duplicate documents collapses to one keeper, the keeper must
    inherit the STRICTEST policy of the cluster, not its own — the
    same text is out there under the restricted license even if the
    kept copy arrived through a permissive source. Edges = document
    pairs sharing an exact token run ≥ {_Q451_MIN} (q444's
    alignment-island machinery — content-grounded, not metadata),
    clusters by distributed connected components (recursive-closure
    oracle, the q56 device), and per cluster: the keeper (min id),
    source/language spread (cross-lingual members = translation-ish
    propagation), the effective license under the
    permissive < attribution < restricted ladder (license rides the
    SOURCE, as licensing actually does), and a conflict flag marking
    clusters whose members disagree — the rows a legal review reads.

    Scale: q444's Σ occ(gram)² pair bound + CC (O(log n) rounds,
    operators/graph.py); the policy rollup is
    cluster-grain. The one corpus pass is the gram fan-out.
    """
    from g_etl_spark.operators import graph as G

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    t = d.where(F.size("toks") >= _Q444_W)
    g = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _Q444_W + 1)
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), _Q444_W)).alias(
            "gram"
        ),
    )
    a = g.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .where(F.col("da") < F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("o"), "pa")
    )
    w = Window.partitionBy("da", "db", "o").orderBy("pa")
    spans = (
        hits.withColumn(
            "brk",
            F.when(
                F.lag("pa").over(w).isNull()
                | (F.col("pa") != F.lag("pa").over(w) + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "rid",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("da", "db", "o", "rid")
        .agg((F.max("pa") - F.min("pa") + _Q444_W).alias("ln"))
    )
    pairs = (
        spans.where(F.col("ln") >= _Q451_MIN)
        .select(F.col("da").alias("id_a"), F.col("db").alias("id_b"))
        .distinct()
    )
    comp = G.connected_components(pairs)
    meta = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.expr(_Q451_LIC[1]).alias("lic"),
    )
    lab = comp.selectExpr("node", "component").join(
        meta, F.col("node") == meta["doc_id"]
    )
    return (
        lab.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("long").alias("keeper_doc"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.expr(
                _Q451_LIC_NAME.format(r="max(lic)")
            ).alias("effective_license"),
            (F.countDistinct("lic") > 1).alias("license_conflict"),
            F.array_join(
                F.array_sort(F.collect_list("node")), ","
            ).alias("member_ids"),
        )
        .select(
            F.col("component").cast("long").alias("cluster_id"),
            "n_members",
            "keeper_doc",
            "n_sources",
            "n_langs",
            "effective_license",
            "license_conflict",
            "member_ids",
        )
        .orderBy("cluster_id")
    )


# ---- q456: dedup-threshold sensitivity curve -----------------------------
_Q456_GRID = (8, 12, 16, 24, 32, 48)


@register(
    "q456_dedup_threshold_curve",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, string_split(trim(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= {_Q444_W}
    ),
    g AS MATERIALIZED (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[u.i:u.i + {_Q444_W} - 1], ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) - {_Q444_W} + 2)) AS i) u
    ),
    hits AS MATERIALIZED (
        SELECT a.doc_id AS da, b.doc_id AS db,
               a.pos - b.pos AS o, a.pos AS pa
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT da, db, o, pa,
               CASE WHEN lag(pa) OVER w IS NULL
                         OR pa <> lag(pa) OVER w + 1 THEN 1 ELSE 0
               END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY da, db, o ORDER BY pa)
    ),
    ids AS (
        SELECT da, db, o, pa,
               sum(brk) OVER (PARTITION BY da, db, o ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS rid
        FROM runs
    ),
    spans AS MATERIALIZED (
        SELECT da, db, max(pa) - min(pa) + {_Q444_W} AS ln
        FROM ids GROUP BY da, db, o, rid
    ),
    grid AS (SELECT unnest({list(_Q456_GRID)}) AS thr),
    sw AS MATERIALIZED (
        SELECT grid.thr, s.da, s.db, s.ln
        FROM spans s JOIN grid ON s.ln >= grid.thr
    ),
    pairstats AS (
        SELECT thr,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(count(DISTINCT (da, db)) AS BIGINT) AS n_pairs,
               CAST(sum(ln) AS BIGINT) AS shared_tokens
        FROM sw GROUP BY thr
    ),
    docstats AS (
        SELECT thr, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
        FROM (SELECT thr, da AS d FROM sw
              UNION SELECT thr, db FROM sw)
        GROUP BY thr
    )
    SELECT g2.thr AS min_span_tokens,
           coalesce(p.n_spans, 0) AS n_spans,
           coalesce(p.n_pairs, 0) AS n_pairs,
           coalesce(d.n_docs, 0) AS n_affected_docs,
           coalesce(p.shared_tokens, 0) AS shared_tokens
    FROM (SELECT CAST(thr AS BIGINT) AS thr FROM grid) g2
    LEFT JOIN pairstats p ON p.thr = g2.thr
    LEFT JOIN docstats d ON d.thr = g2.thr
    ORDER BY min_span_tokens
    """,
)
def q456_dedup_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEDUP-THRESHOLD sensitivity curve — the aggressiveness dial
    every exact-substring dedup deployment has to set once (Lee et
    al. used 50 tokens; nobody's corpus is theirs): q444's maximal
    shared spans computed ONCE, then swept over a threshold grid
    {_Q456_GRID} in a single map-side grid join — per candidate
    threshold, how many spans/pairs/documents a span-removal pass
    would touch and how many tokens it would delete. The curve's
    knee (shared_tokens collapsing while n_pairs holds) separates
    boilerplate-grade sharing from wholesale copies; picking the
    threshold OFF this table replaces the folklore constant with a
    measured one. Monotone by construction: every column is
    non-increasing in the threshold (test-pinned).

    Scale: identical to q444 (Σ occ² anchors + alignment islands) —
    the sweep adds |grid| map-side replicas of the SPANS relation
    (alignment-grain, tiny), not of the corpus.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    t = d.where(F.size("toks") >= _Q444_W)
    g = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _Q444_W + 1)
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), _Q444_W)).alias(
            "gram"
        ),
    )
    a = g.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .where(F.col("da") < F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("o"), "pa")
    )
    w = Window.partitionBy("da", "db", "o").orderBy("pa")
    spans = (
        hits.withColumn(
            "brk",
            F.when(
                F.lag("pa").over(w).isNull()
                | (F.col("pa") != F.lag("pa").over(w) + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "rid",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("da", "db", "o", "rid")
        .agg((F.max("pa") - F.min("pa") + _Q444_W).alias("ln"))
    )
    spans = spans.localCheckpoint(eager=True)  # alignment-grain, swept 2x
    grid = spark.createDataFrame(
        [(int(x),) for x in _Q456_GRID], "thr long"
    )
    sw = spans.crossJoin(F.broadcast(grid)).where(
        F.col("ln") >= F.col("thr")
    )
    pairstats = sw.groupBy("thr").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct(F.struct("da", "db")).cast("long").alias(
            "n_pairs"
        ),
        F.sum("ln").cast("long").alias("shared_tokens"),
    )
    docstats = (
        sw.select("thr", F.explode(F.array("da", "db")).alias("d"))
        .distinct()
        .groupBy("thr")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        grid.join(pairstats, "thr", "left")
        .join(docstats, "thr", "left")
        .select(
            F.col("thr").alias("min_span_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).alias(
                "n_affected_docs"
            ),
            F.coalesce(F.col("shared_tokens"), F.lit(0)).alias(
                "shared_tokens"
            ),
        )
        .orderBy("min_span_tokens")
    )


# ---- q460 / q462: weighted cluster cohesion + span-removal pass ---------
# Shared device: q444's alignment-island spans WITH positions (pmin
# carried through so q462 can locate each span inside the later doc).
def _q444_spans_with_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(da, db, off, pmin, ln): every maximal cross-document exact
    token run, q444's machinery (8-token anchor grams, per-(pair,
    alignment) consecutive-run islands, exact lengths) plus the run's
    start anchor position in da — enough to place the span in either
    document (start in db = pmin − off)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    t = d.where(F.size("toks") >= _Q444_W)
    g = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _Q444_W + 1)
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), _Q444_W)).alias(
            "gram"
        ),
    )
    a = g.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .where(F.col("da") < F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("off"), "pa")
    )
    w = Window.partitionBy("da", "db", "off").orderBy("pa")
    return (
        hits.withColumn(
            "brk",
            F.when(
                F.lag("pa").over(w).isNull()
                | (F.col("pa") != F.lag("pa").over(w) + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "rid",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("da", "db", "off", "rid")
        .agg(
            F.min("pa").alias("pmin"),
            (F.max("pa") - F.min("pa") + _Q444_W).alias("ln"),
        )
    )


_Q460_SPANS_SQL = f"""
    t AS MATERIALIZED (
        SELECT doc_id, string_split(trim(text), ' ') AS toks
        FROM documents),
    tw AS MATERIALIZED (
        SELECT doc_id, toks FROM t WHERE len(toks) >= {_Q444_W}),
    g AS MATERIALIZED (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[u.i:u.i + {_Q444_W} - 1], ' ') AS gram
        FROM tw, LATERAL (
            SELECT unnest(range(1, len(toks) - {_Q444_W} + 2)) AS i) u),
    hits AS MATERIALIZED (
        SELECT a.doc_id AS da, b.doc_id AS db,
               a.pos - b.pos AS off, a.pos AS pa
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    runs AS (
        SELECT da, db, off, pa,
               CASE WHEN lag(pa) OVER w IS NULL
                         OR pa <> lag(pa) OVER w + 1 THEN 1 ELSE 0
               END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY da, db, off ORDER BY pa)),
    ids AS (
        SELECT da, db, off, pa,
               sum(brk) OVER (PARTITION BY da, db, off ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS rid
        FROM runs),
    spans AS (
        SELECT da, db, off, min(pa) AS pmin,
               max(pa) - min(pa) + {_Q444_W} AS ln
        FROM ids GROUP BY da, db, off, rid)
"""


@register(
    "q460_weighted_cluster_cohesion",
    oracle=f"""
    WITH RECURSIVE {_Q460_SPANS_SQL},
    wedges AS MATERIALIZED (
        SELECT da, db, CAST(sum(ln) AS BIGINT) AS w_tokens
        FROM spans WHERE ln >= {_Q451_MIN} GROUP BY da, db),
    edges AS (SELECT da AS a, db AS b FROM wedges
              UNION SELECT db, da FROM wedges),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    cl AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
           FROM comp GROUP BY component),
    eagg AS (
        SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(w.w_tokens) AS BIGINT) AS total_shared_tokens,
               CAST(min(w.w_tokens) AS BIGINT) AS weakest_edge_tokens,
               CAST(max(w.w_tokens) AS BIGINT) AS strongest_edge_tokens
        FROM wedges w JOIN comp c ON c.node = w.da
        GROUP BY c.component)
    SELECT CAST(cl.component AS BIGINT) AS cluster_id, cl.n_members,
           e.n_edges,
           CAST(round(1000.0 * e.n_edges
                      / (cl.n_members * (cl.n_members - 1) / 2))
               AS BIGINT) AS density_milli,
           e.n_edges = cl.n_members - 1 AS is_chain,
           e.total_shared_tokens, e.weakest_edge_tokens,
           e.strongest_edge_tokens
    FROM cl JOIN eagg e USING (component) ORDER BY cluster_id
    """,
)
def q460_weighted_cluster_cohesion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED cluster cohesion — q451's governance table learns to
    tell tight duplicate clusters from chained weak links (r13
    verdict item #2): the same exact-run edges (shared span ≥
    {_Q451_MIN} tokens, q444's alignment islands) now CARRY their
    island mass as an edge weight (total shared tokens per pair), and
    each connected component reports the numbers a collapse decision
    reads: edge count vs possible pairs (density — 1000 = clique,
    every member directly shares text with every other), the
    is_chain flag (edges == members − 1: the cluster holds together
    only transitively), and the weakest edge's token mass — a
    100-member "cluster" chained through one 20-token boilerplate
    link is a very different object from a 4-member clique sharing
    80-token runs pairwise, and q451's strictest-license propagation
    is arguably wrong for the former (the conservative reviewer
    splits at the weak link; this table is where they'd see it).

    Scale: identical to q451 (Σ occ(gram)² pair bound, O(log n) CC
    rounds) plus one cluster-grain weighted rollup — the
    weights ride the existing pair rows, nothing new shuffles at
    corpus grain.
    """
    from g_etl_spark.operators import graph as G

    spans = _q444_spans_with_pos(spark, sf_dir)
    wedges = (
        spans.where(F.col("ln") >= _Q451_MIN)
        .groupBy("da", "db")
        .agg(F.sum("ln").cast("long").alias("w_tokens"))
        .localCheckpoint()
    )
    comp = G.connected_components(
        wedges.select(
            F.col("da").alias("id_a"), F.col("db").alias("id_b")
        )
    )
    cl = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    eagg = (
        wedges.join(comp, wedges["da"] == comp["node"])
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("w_tokens").cast("long").alias("total_shared_tokens"),
            F.min("w_tokens").cast("long").alias("weakest_edge_tokens"),
            F.max("w_tokens").cast("long").alias("strongest_edge_tokens"),
        )
    )
    return (
        cl.join(eagg, "component")
        .select(
            F.col("component").cast("long").alias("cluster_id"),
            "n_members",
            "n_edges",
            F.round(
                1000.0
                * F.col("n_edges")
                / (F.col("n_members") * (F.col("n_members") - 1) / 2)
            ).cast("long").alias("density_milli"),
            (F.col("n_edges") == F.col("n_members") - 1).alias("is_chain"),
            "total_shared_tokens",
            "weakest_edge_tokens",
            "strongest_edge_tokens",
        )
        .orderBy("cluster_id")
    )


# ---- q462: exact-substring REMOVAL pass (Lee et al.'s output) -----------
_Q462_MIN = 50   # delete shared spans of at least this many tokens —
#                  Lee et al. 2022's published ExactSubstr threshold


@register(
    "q462_exact_substring_removal",
    oracle=f"""
    WITH {_Q460_SPANS_SQL},
    iv AS MATERIALIZED (
        SELECT db AS doc_id, pmin - off AS s, pmin - off + ln - 1 AS e
        FROM spans WHERE ln >= {_Q462_MIN}),
    o AS (SELECT doc_id, s, e,
          max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS pm
          FROM iv),
    isl AS (SELECT doc_id, s, e,
            sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS UNBOUNDED PRECEDING) AS k
            FROM o),
    merged AS MATERIALIZED (
        SELECT doc_id, k, min(s) AS s0, max(e) AS e0
        FROM isl GROUP BY doc_id, k),
    kept AS (
        SELECT t.doc_id, u.i AS pos, t.toks[u.i] AS tok
        FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) + 1)) AS i) u
        WHERE NOT EXISTS (SELECT 1 FROM merged m
                          WHERE m.doc_id = t.doc_id
                            AND u.i BETWEEN m.s0 AND m.e0)),
    acc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            string_agg(tok, ' ' ORDER BY pos) AS cleaned
            FROM kept GROUP BY doc_id),
    rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_removed,
            CAST(sum(e0 - s0 + 1) AS BIGINT) AS n_tokens_removed
            FROM merged GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           coalesce(r.n_spans_removed, 0) AS n_spans_removed,
           coalesce(r.n_tokens_removed, 0) AS n_tokens_removed,
           coalesce(a.n_kept, 0) AS n_tokens_kept,
           coalesce(a.n_kept, 0) + coalesce(r.n_tokens_removed, 0)
               = len(t.toks) AS roundtrip_ok,
           md5(coalesce(a.cleaned, '')) AS cleaned_md5
    FROM t LEFT JOIN rem r USING (doc_id) LEFT JOIN acc a USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q462_exact_substring_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT-SUBSTRING REMOVAL — the find→act closure of the
    suffix-array family (r13 verdict item #5): q444 FINDS the
    maximal cross-document runs; this pass EMITS the cleaned corpus,
    Lee et al. 2022's actual ExactSubstr output — every shared span
    of ≥ {_Q462_MIN} tokens is deleted from the LATER document (the
    pair's larger doc_id; the earlier copy survives, so every span
    keeps exactly one corpus occurrence), overlapping/adjacent
    deletions from different partners are interval-MERGED per doc,
    and each document is reconstructed from its surviving tokens
    (q57's reconstruction device at token grain). The row carries
    the audit a removal pass must ship with: tokens before /
    removed / kept, the merged-island count, an in-band round-trip
    check (kept + removed == before — torn reconstruction breaks
    the hash), and the cleaned text's md5 (exact copies of earlier
    docs come back EMPTY — md5('') — the full-delete case).

    Scale: span discovery is q444's Σ occ(gram)² bucketed join; the
    merged islands per doc are FEW (bounded by that doc's span
    count), collected into a per-doc array and applied MAP-SIDE with
    one filter() HOF over the token array — reconstruction never
    shuffles at token grain, and the output is corpus-shaped (one
    row per document), exactly what the next pipeline stage reads.
    At 100 TB the gram key becomes a 64-bit rolling hash and hot
    boilerplate grams get the q444 df-cap — same constants-only
    adaptations.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    spans = _q444_spans_with_pos(spark, sf_dir)
    iv = spans.where(F.col("ln") >= _Q462_MIN).select(
        F.col("db").alias("doc_id"),
        (F.col("pmin") - F.col("off")).alias("s"),
        (F.col("pmin") - F.col("off") + F.col("ln") - 1).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    pm = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = iv.withColumn(
        "k",
        F.sum(
            F.when(pm.isNull() | (F.col("s") > pm + 1), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("doc_id", "k").agg(
        F.min("s").alias("s0"), F.max("e").alias("e0")
    )
    rem = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_removed"),
        F.sum(F.col("e0") - F.col("s0") + 1)
        .cast("long")
        .alias("n_tokens_removed"),
        F.sort_array(
            F.collect_list(F.struct("s0", "e0"))
        ).alias("ivs"),  # few islands per doc — bounded array
    )
    joined = d.join(rem, "doc_id", "left")
    cleaned = F.when(F.col("ivs").isNull(), F.col("toks")).otherwise(
        F.expr(
            "filter(toks, (x, i) -> NOT exists(ivs,"
            " v -> i + 1 >= v.s0 AND i + 1 <= v.e0))"
        )
    )
    return (
        joined.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce("n_spans_removed", F.lit(0))
            .cast("long")
            .alias("n_spans_removed"),
            F.coalesce("n_tokens_removed", F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
            F.size(cleaned).cast("long").alias("n_tokens_kept"),
            (
                F.size(cleaned).cast("long")
                + F.coalesce("n_tokens_removed", F.lit(0))
                == F.size("toks").cast("long")
            ).alias("roundtrip_ok"),
            F.md5(F.concat_ws(" ", cleaned)).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# ---- q468: duplication epoch accounting (data-constrained scaling) ------
_Q468_CAP = 4   # repetition cap: epochs of repeated data counted as
#                 useful (the Muennighoff et al. 2023 knee — repeated
#                 tokens hold near-fresh value up to ~4 epochs)


@register(
    "q468_duplication_epoch_accounting",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, source, md5(text) AS h,
               coalesce(len(string_split_regex(lower(trim(text)),
                                               '\\s+')), 0) AS toks
        FROM documents
    ),
    grp AS MATERIALIZED (
        SELECT scope, h, count(*) AS c, min(toks) AS toks
        FROM (
            SELECT source AS scope, h, toks FROM d
            UNION ALL SELECT 'ALL', h, toks FROM d
        ) GROUP BY scope, h
    )
    SELECT scope,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(round(1000.0 * sum(c) / count(*)) AS BIGINT)
               AS dup_factor_milli,
           CAST(sum(c * toks) AS BIGINT) AS total_tokens,
           CAST(sum(toks) AS BIGINT) AS unique_tokens,
           CAST(sum(least(c, {_Q468_CAP}) * toks) AS BIGINT)
               AS effective_tokens_cap{_Q468_CAP},
           CAST(sum(c * toks) - sum(least(c, {_Q468_CAP}) * toks)
               AS BIGINT) AS excess_tokens,
           CAST(round(1000.0 * sum(least(c, {_Q468_CAP}) * toks)
                      / greatest(sum(c * toks), 1)) AS BIGINT)
               AS effective_fraction_milli
    FROM grp GROUP BY scope ORDER BY scope
    """,
)
def q468_duplication_epoch_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DUPLICATION EPOCH ACCOUNTING — the data-constrained scaling
    bookkeeping (Muennighoff et al. 2023): repeated data behaves
    like fresh data for only ~{_Q468_CAP} epochs, so a corpus's
    TRAINABLE token budget is not its raw size but
    Σ_groups len·min(copies, {_Q468_CAP}) over exact-duplicate
    groups (q50's md5 grouping). Per source (within-source
    duplication — what a single-crawl curator controls) and for the
    whole corpus ('ALL', cross-source duplication included): doc and
    unique counts, the duplication factor, raw vs unique vs
    effective token mass under the cap, and the excess — the tokens
    a scaling-law budget should NOT count. A source with
    effective_fraction well below 1000 is buying epochs, not data;
    the ALL row vs the per-source sum isolates CROSS-source
    duplication (mirrors/syndication) that no per-source view sees.

    Scale: one corpus pass to (scope, hash) grain — the md5 groupBy
    q50 already prices as the canonical dedup shuffle, doubled by
    the two scopes; everything after is |groups|-grain integer
    arithmetic. The group length uses min(toks) (copies of identical
    text tie except degenerate whitespace variants — min is the
    deterministic pick both engines share).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.coalesce(
            F.size(F.split(F.lower(F.trim("text")), r"\s+")), F.lit(0)
        ).alias("toks"),
    )
    both = d.select(F.col("source").alias("scope"), "h", "toks").unionByName(
        d.select(F.lit("ALL").alias("scope"), "h", "toks")
    )
    grp = both.groupBy("scope", "h").agg(
        F.count(F.lit(1)).alias("c"), F.min("toks").alias("toks")
    )
    cap = F.least(F.col("c"), F.lit(_Q468_CAP))
    return (
        grp.groupBy("scope")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.round(1000.0 * F.sum("c") / F.count(F.lit(1)))
            .cast("long")
            .alias("dup_factor_milli"),
            F.sum(F.col("c") * F.col("toks"))
            .cast("long")
            .alias("total_tokens"),
            F.sum("toks").cast("long").alias("unique_tokens"),
            F.sum(cap * F.col("toks"))
            .cast("long")
            .alias(f"effective_tokens_cap{_Q468_CAP}"),
            (
                F.sum(F.col("c") * F.col("toks"))
                - F.sum(cap * F.col("toks"))
            ).cast("long").alias("excess_tokens"),
            F.round(
                1000.0
                * F.sum(cap * F.col("toks"))
                / F.greatest(
                    F.sum(F.col("c") * F.col("toks")), F.lit(1)
                )
            ).cast("long").alias("effective_fraction_milli"),
        )
        .orderBy("scope")
    )


# ---- q474: near-dup-aware train/eval split (leakage-free) ----------------
_Q474_EVAL_DECILE = 7   # md5-hash decile held out for eval


@register(
    "q474_cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE {_Q460_SPANS_SQL},
    pairs AS MATERIALIZED (
        SELECT DISTINCT da, db FROM spans WHERE ln >= {_Q451_MIN}
    ),
    edges AS (SELECT da AS a, db AS b FROM pairs
              UNION SELECT db, da FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    keyed AS (
        SELECT t.doc_id, len(t.toks) AS toks,
               coalesce(c.component, t.doc_id) AS ck
        FROM t LEFT JOIN comp c ON c.node = t.doc_id
    ),
    assign AS (
        SELECT doc_id, toks,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS UBIGINT) AS BIGINT) % 10
                   = {_Q474_EVAL_DECILE} AS doc_eval,
               CAST(CAST('0x' || substr(md5(CAST(ck AS VARCHAR)), 1, 8)
                         AS UBIGINT) AS BIGINT) % 10
                   = {_Q474_EVAL_DECILE} AS cluster_eval
        FROM keyed
    ),
    leaks AS (
        SELECT
            CAST(count(*) FILTER (a.doc_eval <> b.doc_eval) AS BIGINT)
                AS doc_leak_pairs,
            CAST(count(*) FILTER (a.cluster_eval <> b.cluster_eval)
                AS BIGINT) AS cluster_leak_pairs,
            CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM pairs p
        JOIN assign a ON a.doc_id = p.da
        JOIN assign b ON b.doc_id = p.db
    )
    SELECT scheme,
           CAST(n_train AS BIGINT) AS n_train_docs,
           CAST(n_eval AS BIGINT) AS n_eval_docs,
           CAST(t_eval AS BIGINT) AS eval_tokens,
           n_dup_pairs, leak_pairs,
           leak_pairs = 0 AS leakage_free
    FROM (
        SELECT 'doc_hash' AS scheme,
               count(*) FILTER (NOT doc_eval) AS n_train,
               count(*) FILTER (doc_eval) AS n_eval,
               coalesce(sum(toks) FILTER (doc_eval), 0) AS t_eval,
               (SELECT n_dup_pairs FROM leaks) AS n_dup_pairs,
               (SELECT doc_leak_pairs FROM leaks) AS leak_pairs
        FROM assign
        UNION ALL
        SELECT 'cluster_hash',
               count(*) FILTER (NOT cluster_eval),
               count(*) FILTER (cluster_eval),
               coalesce(sum(toks) FILTER (cluster_eval), 0),
               (SELECT n_dup_pairs FROM leaks),
               (SELECT cluster_leak_pairs FROM leaks)
        FROM assign
    ) ORDER BY scheme
    """,
)
def q474_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP-AWARE train/eval split — the leakage-free holdout
    construction an eval you can trust requires: hashing DOC ids
    into splits leaks whenever two near-duplicates straddle the
    boundary (the eval doc's answers are in training data — q448
    measures that contamination after the fact; this op prevents
    it). Clusters come from the exact-run edges (shared span ≥
    {_Q451_MIN} tokens, q451's rule), every doc's split key is its
    CLUSTER id (component min; singletons key on themselves), and
    the md5 decile {_Q474_EVAL_DECILE} holds out eval. The row pair
    is the audit: the doc_hash scheme's leak_pairs counts real
    straddling duplicate pairs (nonzero on this corpus), the
    cluster_hash scheme is leakage-free BY CONSTRUCTION — and the
    gate pins leak_pairs = 0 through the hash, so a regression in
    the cluster keying breaks correctness, not just a metric.

    Scale: q444's Σ occ(gram)² edges + CC (O(log n) rounds);
    split assignment is one map-side md5 per doc; the leak audit
    joins |dup pairs| (not corpus²). The same construction swaps in
    q52's MinHash pairs for fuzzier edges unchanged.
    """
    from g_etl_spark.operators import graph as G

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    spans = _q444_spans_with_pos(spark, sf_dir)
    pairs = (
        spans.where(F.col("ln") >= _Q451_MIN)
        .select(F.col("da").alias("id_a"), F.col("db").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    comp = G.connected_components(pairs)
    keyed = d.join(
        comp, d["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id",
        F.size("toks").alias("toks"),
        F.coalesce("component", "doc_id").alias("ck"),
    )

    def eval_flag(col):
        return (
            F.conv(
                F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 10
            == _Q474_EVAL_DECILE
        )

    assign = keyed.select(
        "doc_id",
        "toks",
        eval_flag(F.col("doc_id")).alias("doc_eval"),
        eval_flag(F.col("ck")).alias("cluster_eval"),
    ).localCheckpoint()
    a = assign.select(
        F.col("doc_id").alias("id_a"),
        F.col("doc_eval").alias("a_doc"),
        F.col("cluster_eval").alias("a_cl"),
    )
    b = assign.select(
        F.col("doc_id").alias("id_b"),
        F.col("doc_eval").alias("b_doc"),
        F.col("cluster_eval").alias("b_cl"),
    )
    leaks = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.sum(F.when(F.col("a_doc") != F.col("b_doc"), 1).otherwise(0))
            .cast("long")
            .alias("doc_leak_pairs"),
            F.sum(F.when(F.col("a_cl") != F.col("b_cl"), 1).otherwise(0))
            .cast("long")
            .alias("cluster_leak_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        )
    )
    rows = []
    for scheme, flag in (("doc_hash", "doc_eval"), ("cluster_hash", "cluster_eval")):
        rows.append(
            assign.agg(
                F.lit(scheme).alias("scheme"),
                F.sum(F.when(~F.col(flag), 1).otherwise(0))
                .cast("long")
                .alias("n_train_docs"),
                F.sum(F.when(F.col(flag), 1).otherwise(0))
                .cast("long")
                .alias("n_eval_docs"),
                F.coalesce(
                    F.sum(F.when(F.col(flag), F.col("toks"))), F.lit(0)
                ).cast("long").alias("eval_tokens"),
            )
        )
    per = rows[0].unionByName(rows[1])
    lk = leaks.select(
        F.lit("doc_hash").alias("scheme"),
        "n_dup_pairs",
        F.col("doc_leak_pairs").alias("leak_pairs"),
    ).unionByName(
        leaks.select(
            F.lit("cluster_hash").alias("scheme"),
            "n_dup_pairs",
            F.col("cluster_leak_pairs").alias("leak_pairs"),
        )
    )
    return (
        per.join(F.broadcast(lk), "scheme")
        .select(
            "scheme",
            "n_train_docs",
            "n_eval_docs",
            "eval_tokens",
            "n_dup_pairs",
            "leak_pairs",
            (F.col("leak_pairs") == 0).alias("leakage_free"),
        )
        .orderBy("scheme")
    )
