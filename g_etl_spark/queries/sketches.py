"""Mergeable-sketch operators (beyond-reference extension).

A 100 TB pipeline cannot afford exact COUNT(DISTINCT) per dashboard
refresh; the standard answer is a mergeable sketch materialized with
the rollup (the same pattern as the reference's pre-aggregated
h3_stats — SURVEY §2 A4 — but for cardinality). Spark ships
approx_count_distinct (HLL++), but its register layout is
JVM-internal, so an oracle can't reproduce it bit-for-bit. The
operator here is a from-scratch HyperLogLog (Flajolet et al., AMS
2007) whose every step is integer-exact and expressible identically
in Spark SQL and DuckDB SQL, so the driver hash-gate applies to the
SKETCH itself, not just a tolerance band:

- per-row hashes are 31-bit affine maps mod the Mersenne prime
  (the q102 trick — identical arithmetic in both engines);
- the register update is max(rho) where rho = trailing zeros + 1 of
  an independent hash (Flajolet-Martin's original rho; trailing
  zeros = log2(h & -h), exact in IEEE for powers of two);
- the harmonic-mean denominator is computed in INTEGER space
  (sum of 2^(40 - rho), bounded by 256 * 2^40 << 2^63), so no
  float-summation-order nondeterminism exists cross-engine;
- only the final estimate touches doubles, with identical literal
  constants on both sides.

Scale: registers are max-mergeable — groupBy(bucket).max(rho) IS the
shard merge, so the sketch composes with any partitioning, streams
through partial aggregation map-side, and a per-partition sketch
table is 256 small ints regardless of corpus size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from g_etl_spark.queries import register
from g_etl_spark.tables import load

# m = 256 registers; alpha_256 = 0.7213 / (1 + 1.079/256) as a shared
# literal so both engines divide the same double
_M = 256
_ALPHA = 0.71827
_POW40 = 1099511627776  # 2^40, the integer scale for the denominator

# Shared HLL machinery (q113 grouped sketch, q169 rolling merge,
# q171 streaming registers) — ONE definition so an estimator change
# (e.g. adding the large-range correction) cannot drift between the
# operators that must agree with the same oracle arithmetic.
_RHO_SQL = (
    "least(cast(CASE WHEN h2 = 0 THEN 32 "
    "ELSE log2(h2 & (-h2)) + 1 END AS BIGINT), 40)"
)


def _hll_approx(agg):
    """(key..., n_present, sum_present) → same keys + `approx`:
    the alpha·m² estimate with linear-counting small-range
    correction, literal-identical to the oracle SQL."""
    est = agg.withColumn(
        "v", F.lit(_M) - F.col("n_present")
    ).withColumn(
        "e_raw",
        F.lit(_ALPHA * _M * _M * float(_POW40))
        / (
            F.col("sum_present")
            + (F.lit(_M) - F.col("n_present")) * F.lit(_POW40)
        ),
    )
    approx = F.expr(
        f"cast(round(CASE WHEN e_raw < {2.5 * _M} AND v > 0 "
        f"THEN {_M}.0 * ln({_M}.0 / v) ELSE e_raw END, 0) AS BIGINT)"
    )
    return est.withColumn("approx", approx).drop(
        "v", "e_raw", "n_present", "sum_present"
    )


@register(
    "q113_hll_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT event_type,
               ((user_id * 2654435761) % 2147483647) % {_M} AS bucket,
               (user_id * 104729 + 12345) % 2147483647 AS h2
        FROM events
    ),
    regs AS (
        SELECT event_type, bucket,
               max(least(CAST(CASE WHEN h2 = 0 THEN 32
                              ELSE log2(h2 & (-h2)) + 1 END AS BIGINT), 40)) AS rho
        FROM hashed GROUP BY event_type, bucket
    ),
    agg AS (
        SELECT event_type,
               count(*) AS n_present,
               sum(CAST(pow(2.0, 40 - rho) AS BIGINT)) AS sum_present
        FROM regs GROUP BY event_type
    ),
    est AS (
        SELECT event_type,
               {_M} - n_present AS v,
               -- e-notation literals force DOUBLE (DuckDB parses
               -- plain decimals as DECIMAL, which overflows here)
               {_ALPHA}e0 * {_M * _M} * {_POW40}e0
                 / (sum_present + ({_M} - n_present) * {_POW40}) AS e_raw
        FROM agg
    ),
    ex AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ex.exact_distinct,
           CAST(round(CASE WHEN e.e_raw < {2.5 * _M} AND e.v > 0
                           THEN {_M}.0 * ln({_M}.0 / e.v)
                           ELSE e.e_raw END, 0) AS BIGINT) AS approx_distinct,
           round(abs(CAST(round(CASE WHEN e.e_raw < {2.5 * _M} AND e.v > 0
                                     THEN {_M}.0 * ln({_M}.0 / e.v)
                                     ELSE e.e_raw END, 0) AS BIGINT)
                     - ex.exact_distinct) / ex.exact_distinct, 4) AS rel_err
    FROM est e JOIN ex ON e.event_type = ex.event_type
    ORDER BY e.event_type
    """,
)
def q113_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog cardinality sketch, oracle-gated on the
    exact register state (see module docstring). Output carries the
    exact distinct alongside so the estimate's honesty (rel_err,
    ~1.04/sqrt(256) = 6.5% expected) is part of the checked result.

    Scale: two narrow hash aggregates — (group, bucket) then (group) —
    both with map-side partials; the register relation is
    |groups| * 256 rows however large the input. The exact
    countDistinct exists only to score the sketch; a production
    rollup would materialize registers alone and merge them with
    max() across days/shards (the A4 incremental-refresh pattern).
    """
    e = load(spark, sf_dir, "events")
    hashed = e.select(
        "event_type",
        F.expr(f"((user_id * 2654435761) % 2147483647) % {_M}").alias("bucket"),
        F.expr("(user_id * 104729 + 12345) % 2147483647").alias("h2"),
    )
    regs = hashed.groupBy("event_type", "bucket").agg(
        F.max(F.expr(_RHO_SQL)).alias("rho")
    )
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("cast(pow(2.0, 40 - rho) AS BIGINT)")).alias("sum_present"),
    )
    est = _hll_approx(agg)
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(ex, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.col("approx").alias("approx_distinct"),
            F.round(
                F.abs(F.col("approx") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@register(
    "q119_bloom_join_pruning",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    hp AS (
        SELECT * FROM (VALUES (CAST(2654435761 AS BIGINT), CAST(1 AS BIGINT)),
                              (97, 48611),
                              (104729, 12345)) AS t(a, b)
    ),
    words AS (
        SELECT (((key * a + b) % 2147483647) % 65536) // 63 AS word,
               bit_or(CAST(1 AS BIGINT)
                      << ((((key * a + b) % 2147483647) % 65536) % 63)) AS w
        FROM dim CROSS JOIN hp
        GROUP BY 1
    ),
    op AS (
        SELECT o_orderkey, o_custkey,
               ((o_custkey * a + b) % 2147483647) % 65536 AS pos
        FROM orders CROSS JOIN hp
    ),
    hits AS (
        SELECT o_orderkey, o_custkey, count(*) AS nhit
        FROM op JOIN words ON words.word = op.pos // 63
        WHERE (words.w & (CAST(1 AS BIGINT) << (op.pos % 63))) != 0
        GROUP BY 1, 2
    ),
    cand AS (SELECT o_orderkey, o_custkey FROM hits WHERE nhit = 3)
    SELECT (SELECT count(*) FROM orders)   AS n_orders,
           (SELECT count(*) FROM cand)     AS n_candidates,
           (SELECT count(*) FROM orders o JOIN dim d ON o.o_custkey = d.key)
                                           AS n_members,
           (SELECT count(*) FROM cand c LEFT JOIN dim d ON c.o_custkey = d.key
            WHERE d.key IS NULL)           AS n_false_positives,
           round(CAST((SELECT count(*) FROM cand c LEFT JOIN dim d
                       ON c.o_custkey = d.key WHERE d.key IS NULL) AS DOUBLE)
                 / greatest((SELECT count(*) FROM orders)
                            - (SELECT count(*) FROM orders o JOIN dim d
                               ON o.o_custkey = d.key), 1), 6) AS fp_rate
    """,
)
def q119_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, with the filter itself built
    from deterministic cross-engine arithmetic (k=3 affine hashes mod
    the Mersenne prime; 65536-bit filter packed 63 bits per BIGINT
    word so no sign-bit shift exists in either engine). The report
    counts candidates vs true members vs false positives — the
    soundness (members ⊆ candidates, a bloom never false-negatives)
    and the measured fp rate are both part of the hash-gated result.

    Scale: THE standard trick for pruning a 100 TB fact scan against
    a selective dim without shuffling the fact side — the filter is
    one tiny aggregate (1041 words regardless of dim size), broadcast
    everywhere, and the probe is a map-side bitmask test; only
    bloom-surviving rows reach the exact join. Spark's own
    runtime-filter feature does this opaquely; here it is explicit,
    portable, and oracle-checked. The 5-scalar report assembles
    plan-side from single-row aggregates (no driver actions).
    """
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
    )
    o = load(spark, sf_dir, "orders")
    hp = spark.createDataFrame(
        [(2654435761, 1), (97, 48611), (104729, 12345)], "a bigint, b bigint"
    )
    build_pos = F.expr("((key * a + b) % 2147483647) % 65536")
    words = (
        c.crossJoin(F.broadcast(hp))
        .select(build_pos.alias("pos"))
        .groupBy(F.expr("pos div 63").alias("word"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 63))").alias("w"))
    )
    op = o.crossJoin(F.broadcast(hp)).select(
        "o_orderkey",
        "o_custkey",
        F.expr("((o_custkey * a + b) % 2147483647) % 65536").alias("pos"),
    )
    hits = (
        op.join(F.broadcast(words), words["word"] == F.expr("pos div 63"))
        .filter(F.expr("(w & shiftleft(CAST(1 AS BIGINT), pos % 63)) != 0"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("nhit"))
    )
    cand = hits.filter(F.col("nhit") == 3).select("o_orderkey", "o_custkey")
    n_orders = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_mem = (
        o.join(c, o["o_custkey"] == c["key"], "left_semi")  # member set is customer-grain: unhinted
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    n_fp = (
        cand.join(c, cand["o_custkey"] == c["key"], "left_anti")  # unhinted, AQE decides
        .agg(F.count(F.lit(1)).alias("n_false_positives"))
    )
    return (
        n_orders.crossJoin(n_cand)
        .crossJoin(n_mem)
        .crossJoin(n_fp)
        .select(
            "n_orders",
            "n_candidates",
            "n_members",
            "n_false_positives",
            F.round(
                F.col("n_false_positives").cast("double")
                / F.greatest(F.col("n_orders") - F.col("n_members"), F.lit(1)),
                6,
            ).alias("fp_rate"),
        )
    )


# Rolling 8-char token hash: identical SQL text in both engines
# (ascii() agrees cross-engine incl. unicode code points and '' -> 0;
# every term is cast to BIGINT BEFORE multiplying — INT32 would
# overflow-error in DuckDB and silently WRAP in non-ANSI Spark).
_TOKHASH = (
    "("
    + " + ".join(
        f"CAST(ascii(substr(t, {i + 1}, 1)) AS BIGINT) * {31 ** i}"
        for i in range(8)
    )
    + ") % 2147483647"
)
_CMS_W = 1024  # counters per row
_CMS_HP = "(VALUES (1, CAST(2654435761 AS BIGINT), CAST(1 AS BIGINT)), (2, 97, 48611), (3, 104729, 12345)) AS hp(i, a, b)"


@register(
    "q120_countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents
    ),
    hashed AS (SELECT t, {_TOKHASH} AS h0 FROM tok),
    cells AS (
        SELECT i, ((h0 * a + b) % 2147483647) % {_CMS_W} AS pos
        FROM hashed CROSS JOIN {_CMS_HP}
    ),
    counters AS (
        SELECT i, pos, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY i, pos
    ),
    exact AS (
        SELECT t, h0, CAST(count(*) AS BIGINT) AS exact_count
        FROM hashed GROUP BY t, h0
    ),
    top AS (
        SELECT t, h0, exact_count FROM exact
        ORDER BY exact_count DESC, t LIMIT 20
    ),
    probe AS (
        SELECT top.t, top.exact_count, hp.i,
               ((top.h0 * hp.a + hp.b) % 2147483647) % {_CMS_W} AS pos
        FROM top CROSS JOIN {_CMS_HP}
    )
    SELECT p.t AS token, p.exact_count,
           min(c.cnt) AS cms_estimate,
           min(c.cnt) - p.exact_count AS overestimate
    FROM probe p JOIN counters c ON c.i = p.i AND c.pos = p.pos
    GROUP BY p.t, p.exact_count
    ORDER BY p.exact_count DESC, p.t
    """,
)
def q120_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, scored on the top-20
    exact heavy hitters: depth 3 x width 1024 counters built from the
    same portable affine hashes as q113/q119 over a rolling 8-char
    token hash; estimate = min over the 3 rows; the guaranteed
    overestimate (CMS never undercounts) is part of the hash-gated
    output. Completes the sketch family: HLL (cardinality, q113),
    Bloom (membership, q119), CMS (frequency).

    Scale: the counter table is 3 x 1024 rows regardless of corpus
    size and is built by ONE map-side-combining aggregate over the
    token stream — the streaming-compatible answer to "how often does
    X occur in 100 TB" without materializing a full term dictionary.
    Counters are sum-mergeable across shards/days exactly like q113's
    registers. The exact counts here exist only to score the sketch.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.trim("text"), " ")).alias("t"))
    hashed = toks.select("t", F.expr(_TOKHASH).alias("h0"))
    hp = spark.createDataFrame(
        [(1, 2654435761, 1), (2, 97, 48611), (3, 104729, 12345)],
        "i int, a bigint, b bigint",
    )
    cells = hashed.crossJoin(F.broadcast(hp)).select(
        "i", F.expr(f"((h0 * a + b) % 2147483647) % {_CMS_W}").alias("pos")
    )
    counters = cells.groupBy("i", "pos").agg(F.count(F.lit(1)).alias("cnt"))
    exact = hashed.groupBy("t", "h0").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    top = exact.orderBy(F.desc("exact_count"), "t").limit(20)
    probe = top.crossJoin(F.broadcast(hp)).select(
        "t",
        "exact_count",
        "i",
        F.expr(f"((h0 * a + b) % 2147483647) % {_CMS_W}").alias("pos"),
    )
    return (
        probe.join(F.broadcast(counters), ["i", "pos"])
        .groupBy("t", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            F.col("t").alias("token"),
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


_KMV_K = 32


@register(
    "q149_kmv_source_similarity",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT source,
               CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) AS BIGINT) AS h
        FROM documents
    ),
    sig AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM (SELECT DISTINCT source FROM documents) a
        JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    ),
    uni AS (
        SELECT p.sa, p.sb, s.h, count(*) AS n_sides
        FROM pairs p JOIN sig s ON s.source IN (p.sa, p.sb)
        GROUP BY p.sa, p.sb, s.h
    ),
    ranked AS (
        SELECT sa, sb, n_sides,
               row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM uni
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           round(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS j_est
    FROM ranked WHERE rn <= {_KMV_K}
    GROUP BY sa, sb
    ORDER BY sa, sb
    """,
)
def q149_kmv_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimation from k-minimum-value
    (KMV / bottom-k minhash) signatures: per source, keep the k=32
    smallest distinct content hashes; for each source pair, the
    Jaccard estimate is n_common / min(k, |union signature|) — the
    denominator is the RETAINED union-rank count, not the fixed k,
    so small sets (|union| < k) estimate correctly (two identical
    sets give 1.0, not |set|/k) per Bar-Yossef et al. This is
    the SKETCH version of q99's exact overlap matrix — the number a
    100 TB pipeline can afford to refresh per ingest, because
    signatures merge (min-k of a union = min-k of the merged min-k
    sets) and the pairwise stage never touches the corpus.

    Every step is integer-exact cross-engine: the content hash is the
    32-bit md5 prefix (q137's portable conversion), bottom-k is an
    integer rank, and the estimate is an exact rational n/k — the
    driver gate hashes the SKETCH state itself.

    Scale: one distinct pass over the corpus builds |sources|·k
    signature rows (the per-source bottom-k collapses map-side as a
    mergeable min-k accumulator); all pair arithmetic runs on that
    tiny relation — |sources|²·k at worst, corpus-independent.
    """
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "source",
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sig = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )
    srcs = d.select("source").distinct()
    a, b = srcs.alias("a"), srcs.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
    )
    uni = (
        F.broadcast(pairs)
        .join(
            sig,
            (sig["source"] == F.col("sa")) | (sig["source"] == F.col("sb")),
        )
        .groupBy("sa", "sb", "h")
        .agg(F.count(F.lit(1)).alias("n_sides"))
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    both = F.when(F.col("n_sides") == 2, 1).otherwise(0)
    return (
        uni.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(
            F.sum(both).cast("long").alias("n_common"),
            # denominator = retained union ranks = min(k, |union|)
            F.round(
                F.sum(both) / F.count(F.lit(1)).cast("double"), 6
            ).alias("j_est"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "q160_loghist_quantile_sketch",
    oracle="""
    WITH pos AS (
        SELECT event_type, value,
               CAST(floor(value * 1000) AS BIGINT) AS s
        FROM events WHERE value > 0.001
    ),
    b AS (
        SELECT event_type,
               length(CAST(s AS VARCHAR)) AS slen,
               CAST(substr(CAST(s AS VARCHAR), 1, 1) AS BIGINT) AS fd,
               count(*) AS cnt
        FROM pos GROUP BY 1, 2, 3
    ),
    c AS (
        SELECT event_type, slen, fd, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY slen, fd
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM b
    ),
    est AS (
        SELECT event_type,
               min(CASE WHEN cum >= 0.5 * n THEN fd * pow(10, slen - 1) / 1000.0 END) AS est_p50,
               min(CASE WHEN cum >= 0.9 * n THEN fd * pow(10, slen - 1) / 1000.0 END) AS est_p90,
               min(CASE WHEN cum >= 0.99 * n THEN fd * pow(10, slen - 1) / 1000.0 END) AS est_p99
        FROM c GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               quantile_cont(value, 0.5)  AS ex_p50,
               quantile_cont(value, 0.9)  AS ex_p90,
               quantile_cont(value, 0.99) AS ex_p99
        FROM pos GROUP BY event_type
    )
    SELECT e.event_type,
           round(est_p50, 6) AS est_p50, round(ex_p50, 6) AS exact_p50,
           round(abs(est_p50 - ex_p50) / ex_p50, 4) AS err_p50,
           round(est_p90, 6) AS est_p90, round(ex_p90, 6) AS exact_p90,
           round(abs(est_p90 - ex_p90) / ex_p90, 4) AS err_p90,
           round(est_p99, 6) AS est_p99, round(ex_p99, 6) AS exact_p99,
           round(abs(est_p99 - ex_p99) / ex_p99, 4) AS err_p99
    FROM est e JOIN exact USING (event_type)
    ORDER BY event_type
    """,
)
def q160_loghist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-histogram quantile sketch (HdrHistogram shape):
    per event_type, values bucket by (decimal magnitude, first
    significant digit) — ~9 buckets per decade — and p50/p90/p99 are
    estimated from the cumulative bucket walk, scored against the
    exact quantiles. This is the quantile twin of the HLL/CMS family
    (q113/q120): COUNT state per (group, bucket), sum-mergeable
    across shards/streams, where exact percentiles need a sort.

    Bucketing is INTEGER-exact cross-engine: scale = floor(value ×
    1000) as BIGINT (floor-then-cast — a bare double→int cast ROUNDS
    in DuckDB and truncates in Spark), bucket = (digit-length, first
    digit) of its decimal string. No float log anywhere, so a bucket
    boundary can never flip on an ulp the way floor(log10(x)) could.

    Scale: the sketch is one map-side-combining count per
    (group, bucket) — |groups|×O(70) cells at any corpus size; the
    exact side (for the recorded error) is the only sorting stage
    and exists here to MEASURE the sketch, not to serve it.
    """
    e = load(spark, sf_dir, "events")
    pos = e.filter(F.col("value") > 0.001).select(
        "event_type",
        "value",
        F.floor(F.col("value") * 1000).cast("long").alias("s"),
    )
    b = (
        pos.withColumn("slen", F.length(F.col("s").cast("string")))
        .withColumn(
            "fd", F.substring(F.col("s").cast("string"), 1, 1).cast("long")
        )
        .groupBy("event_type", "slen", "fd")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("slen", "fd")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    c = b.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    lb = F.col("fd") * F.pow(F.lit(10.0), F.col("slen") - 1) / 1000.0
    est = c.groupBy("event_type").agg(
        *[
            F.min(F.when(F.col("cum") >= q * F.col("n"), lb)).alias(f"est_{tag}")
            for q, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
        ]
    )
    exact = pos.groupBy("event_type").agg(
        *[
            F.percentile("value", F.lit(q)).alias(f"ex_{tag}")
            for q, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
        ]
    )
    out = est.join(exact, "event_type")
    cols = ["event_type"]
    for tag in ("p50", "p90", "p99"):
        cols += [
            F.round(F.col(f"est_{tag}"), 6).alias(f"est_{tag}"),
            F.round(F.col(f"ex_{tag}"), 6).alias(f"exact_{tag}"),
            F.round(
                F.abs(F.col(f"est_{tag}") - F.col(f"ex_{tag}")) / F.col(f"ex_{tag}"),
                4,
            ).alias(f"err_{tag}"),
        ]
    return out.select(*cols).orderBy("event_type")


@register(
    "q169_rolling_hll_dau",
    oracle=f"""
    WITH hashed AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
               ((user_id * 2654435761) % 2147483647) % {_M} AS bucket,
               (user_id * 104729 + 12345) % 2147483647 AS h2
        FROM events
    ),
    daily_regs AS (
        SELECT di, bucket,
               max(least(CAST(CASE WHEN h2 = 0 THEN 32
                              ELSE log2(h2 & (-h2)) + 1 END AS BIGINT), 40)) AS rho
        FROM hashed GROUP BY di, bucket
    ),
    days AS (SELECT DISTINCT di FROM hashed),
    grid AS (
        SELECT d.di, b.bucket
        FROM days d CROSS JOIN (SELECT unnest(generate_series(0, {_M - 1})) AS bucket) b
    ),
    dense AS (
        SELECT g.di, g.bucket, r.rho
        FROM grid g LEFT JOIN daily_regs r ON r.di = g.di AND r.bucket = g.bucket
    ),
    merged AS (
        SELECT di, bucket,
               max(rho) OVER (PARTITION BY bucket ORDER BY di
                              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mrho
        FROM dense
    ),
    agg AS (
        SELECT di,
               count(mrho) AS n_present,
               coalesce(sum(CAST(pow(2.0, 40 - mrho) AS BIGINT)), 0) AS sum_present
        FROM merged GROUP BY di
    ),
    est AS (
        SELECT di, {_M} - n_present AS v,
               {_ALPHA}e0 * {_M * _M} * {_POW40}e0
                 / (sum_present + ({_M} - n_present) * {_POW40}) AS e_raw
        FROM agg
    ),
    exact AS (
        SELECT g.di, count(DISTINCT p.user_id) AS exact_wau
        FROM (SELECT DISTINCT di FROM hashed) g
        JOIN (SELECT DISTINCT user_id,
                     date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
              FROM events) p
          ON p.di BETWEEN g.di - 6 AND g.di
        GROUP BY g.di
    )
    SELECT e.di AS day_idx,
           x.exact_wau,
           CAST(round(CASE WHEN e.e_raw < {2.5 * _M} AND e.v > 0
                           THEN {_M}.0 * ln({_M}.0 / e.v)
                           ELSE e.e_raw END, 0) AS BIGINT) AS approx_wau
    FROM est e JOIN exact x ON x.di = e.di
    ORDER BY day_idx
    """,
)
def q169_rolling_hll_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day from MERGED daily HLL
    registers — the approximate path q147's exact rolling-WAU
    docstring names: materialize one 256-register sketch per day
    (q113's integer-exact registers), then a day's WAU is the
    estimate off max-merged registers of its trailing week. Register
    max IS the merge, so the rolling union costs |days|×256 window
    cells — never a re-scan of raw events per day, and the same
    registers answer any window length (7, 28, 90) for free.

    The bucket×day grid is densified before the rolling max (a
    bucket hit on day d−3 but silent on day d must still count for
    day d), and max() skips the null cells identically in both
    engines. The exact rolling distinct is computed alongside (the
    oracle-scale join; at production scale that side is exactly what
    this sketch replaces).

    Scale: daily registers are the A4 incremental pattern — each new
    day appends 256 small ints; the window merge + estimate run on
    |days|×256 rows total.
    """
    e = load(spark, sf_dir, "events")
    di = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    hashed = e.select(
        di.alias("di"),
        F.expr(f"((user_id * 2654435761) % 2147483647) % {_M}").alias("bucket"),
        F.expr("(user_id * 104729 + 12345) % 2147483647").alias("h2"),
        "user_id",
    )
    daily_regs = hashed.groupBy("di", "bucket").agg(
        F.max(F.expr(_RHO_SQL)).alias("rho")
    )
    days = hashed.select("di").distinct()
    buckets = spark.range(0, _M).select(F.col("id").alias("bucket"))
    grid = days.crossJoin(F.broadcast(buckets))
    dense = grid.join(daily_regs, ["di", "bucket"], "left")
    wm = (
        Window.partitionBy("bucket").orderBy("di").rangeBetween(-6, 0)
    )
    merged = dense.withColumn("mrho", F.max("rho").over(wm))
    agg = merged.groupBy("di").agg(
        F.count("mrho").alias("n_present"),
        F.coalesce(
            F.sum(F.expr("cast(pow(2.0, 40 - mrho) AS BIGINT)")), F.lit(0)
        ).alias("sum_present"),
    )
    est = _hll_approx(agg)
    presence = hashed.select("user_id", "di").distinct()
    g, p = days.alias("g"), presence.alias("p")
    exact = (
        g.join(
            p,
            (F.col("p.di") >= F.col("g.di") - 6) & (F.col("p.di") <= F.col("g.di")),
        )
        .groupBy(F.col("g.di").alias("di"))
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        est.join(exact, "di")
        .select(
            F.col("di").cast("long").alias("day_idx"),
            "exact_wau",
            F.col("approx").alias("approx_wau"),
        )
        .orderBy("day_idx")
    )


@register(
    "q172_bitmap_retention",
    oracle="""
    WITH presence AS (
        SELECT DISTINCT
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
               user_id
        FROM events
    ),
    bm AS (
        SELECT di, user_id // 62 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INTEGER)) AS b
        FROM presence GROUP BY di, word
    ),
    act AS (
        SELECT di, CAST(sum(bit_count(b)) AS BIGINT) AS active_users
        FROM bm GROUP BY di
    ),
    ret AS (
        SELECT a.di, CAST(sum(bit_count(a.b & p.b)) AS BIGINT) AS retained
        FROM bm a JOIN bm p ON p.word = a.word AND p.di = a.di - 1
        GROUP BY a.di
    )
    SELECT act.di AS day_idx, act.active_users,
           coalesce(ret.retained, 0) AS retained_from_prev
    FROM act LEFT JOIN ret ON ret.di = act.di
    ORDER BY day_idx
    """,
)
def q172_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retained users via BITMAP presence indexes — the
    roaring-bitmap trick OLAP stores use for audience/retention math:
    each day's active set packs into |users|/62 bigint words
    (word = user_id div 62, direct-mapped, no hashing → EXACT), daily
    build is one bit_or aggregate, and "retained from yesterday" is
    popcount(today & yesterday) summed over aligned words — set
    intersection at memory-bandwidth speed, no user-level join.

    All integer bit arithmetic end-to-end (bit_or / & / bit_count on
    BIGINT behave identically cross-engine; bit index capped at 62
    to stay in positive-sign territory), so the driver gate hashes
    the exact bitmap-derived counts.

    Scale: the corpus touch is the distinct presence pass; bitmaps
    are |days| × |users|/62 words (sparse users → sparse words), the
    intersection joins align on (word, day−1) — at 100 TB this is
    THE audience-overlap layout: any day-pair / cohort intersection
    is popcount over pre-built words, and the words themselves merge
    across shards with bit_or (same mergeability story as q113's
    registers, but exact).
    """
    e = load(spark, sf_dir, "events")
    di = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    presence = e.select(
        di.cast("long").alias("di"), "user_id"
    ).distinct()
    # integer `div`, not double-divide + cast: exact for the full
    # id domain (a double round-trips ids only below 2^53); ids are
    # non-negative by table contract (div and DuckDB's // agree
    # there), the same layout rule q119 uses for its word index
    bm = (
        presence.groupBy("di", F.expr("user_id div 62").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)))"
            ).alias("b")
        )
    )
    act = bm.groupBy("di").agg(
        F.sum(F.bit_count("b")).cast("long").alias("active_users")
    )
    a, p = bm.alias("a"), bm.alias("p")
    ret = (
        a.join(
            p,
            (F.col("p.word") == F.col("a.word"))
            & (F.col("p.di") == F.col("a.di") - 1),
        )
        .groupBy(F.col("a.di").alias("di"))
        .agg(
            F.sum(F.bit_count(F.col("a.b").bitwiseAND(F.col("p.b"))))
            .cast("long")
            .alias("retained")
        )
    )
    return (
        act.join(ret, "di", "left")
        .select(
            F.col("di").alias("day_idx"),
            "active_users",
            F.coalesce("retained", F.lit(0)).alias("retained_from_prev"),
        )
        .orderBy("day_idx")
    )


@register(
    "q197_equidepth_hist_sketch",
    oracle="""
    WITH pos AS (
        SELECT event_type, value,
               CAST(floor(value * 1000) AS BIGINT) AS s
        FROM events WHERE value > 0.001
    ),
    b AS (
        SELECT event_type,
               length(CAST(s AS VARCHAR)) AS sl,
               CAST(substr(CAST(s AS VARCHAR), 1, 1) AS BIGINT) AS fd,
               count(*) AS c,
               min(value) AS mnv, max(value) AS mxv, sum(value) AS sv
        FROM pos GROUP BY 1, 2, 3
    ),
    n AS (SELECT event_type, sum(c) AS n FROM b GROUP BY event_type),
    d AS (
        SELECT b.event_type, b.sl, b.fd, b.c, b.mnv, b.mxv, b.sv,
               least(10, CAST(floor(10.0 * (sum(b.c) OVER (
                   PARTITION BY b.event_type ORDER BY b.sl, b.fd) - b.c)
                   / n.n) AS BIGINT) + 1) AS bucket
        FROM b JOIN n USING (event_type)
    )
    SELECT event_type, CAST(bucket AS INT) AS bucket,
           CAST(sum(c) AS BIGINT) AS n,
           round(min(mnv), 4) AS lo,
           round(max(mxv), 4) AS hi,
           round(sum(sv) / sum(c), 4) AS mean
    FROM d
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def q197_equidepth_hist_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram from the MERGEABLE log-histogram —
    the 100 TB path q189's docstring names, promoted to oracle-gated
    code. Values bucket by q160's integer-exact (digit-length, first
    digit) key carrying (count, min, max, sum) cells; the per-group
    cumulative bucket walk assigns each log-bucket its decile
    d = floor(10·cum_before/n)+1, and decile stats fold from the
    bucket cells. Depth is approximately equal (log-bucket
    granularity — a heavy bucket stays whole), which is exactly the
    trade a t-digest/GK sketch makes; unlike them the bucket key is
    deterministic, so the oracle reproduces it bit-for-bit.

    Scale: ONE map-side-combining corpus agg to |groups|×O(70) cells;
    the cumulative walk and decile fold run on that sketch relation
    only (group-partitioned — no corpus sort, no global ntile over n
    rows, q189's single-sort-per-group shape retired). The cells are
    sum/min/max-mergeable across shards and streaming batches.
    """
    e = load(spark, sf_dir, "events")
    pos = e.filter(F.col("value") > 0.001).select(
        "event_type",
        "value",
        F.floor(F.col("value") * 1000).cast("long").alias("s"),
    )
    b = (
        pos.withColumn("sl", F.length(F.col("s").cast("string")))
        .withColumn("fd", F.substring(F.col("s").cast("string"), 1, 1).cast("long"))
        .groupBy("event_type", "sl", "fd")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("value").alias("mnv"),
            F.max("value").alias("mxv"),
            F.sum("value").alias("sv"),
        )
    )
    # cumulative-before within each group via the triangular broadcast
    # self-join on the tiny sketch relation (window-free: no
    # single-partition WindowExec even at |groups| = 1)
    x, y = b.alias("x"), b.alias("y")
    better = (F.col("y.event_type") == F.col("x.event_type")) & (
        (F.col("y.sl") < F.col("x.sl"))
        | ((F.col("y.sl") == F.col("x.sl")) & (F.col("y.fd") < F.col("x.fd")))
    )
    cb = (
        x.join(F.broadcast(y), better, "left")
        .groupBy(
            F.col("x.event_type").alias("event_type"),
            F.col("x.sl").alias("sl"),
            F.col("x.fd").alias("fd"),
        )
        .agg(F.coalesce(F.sum("y.c"), F.lit(0)).alias("cbefore"))
    )
    n = b.groupBy("event_type").agg(F.sum("c").alias("n"))
    d = (
        b.join(F.broadcast(cb), ["event_type", "sl", "fd"])
        .join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.least(
                F.lit(10),
                F.floor(10.0 * F.col("cbefore") / F.col("n")).cast("long") + 1,
            )
            .cast("int")
            .alias("bucket"),
            "c",
            "mnv",
            "mxv",
            "sv",
        )
    )
    return (
        d.groupBy("event_type", "bucket")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.round(F.min("mnv"), 4).alias("lo"),
            F.round(F.max("mxv"), 4).alias("hi"),
            F.round(F.sum("sv") / F.sum("c"), 4).alias("mean"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "q203_sketch_union_quantiles",
    oracle="""
    WITH b AS (
        SELECT source,
               length(CAST(n_chars AS VARCHAR)) AS sl,
               CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT) AS fd,
               count(*) AS c
        FROM documents WHERE n_chars > 0
        GROUP BY 1, 2, 3
    ),
    g AS (SELECT sl, fd, sum(c) AS c FROM b GROUP BY sl, fd),
    gw AS (
        SELECT sl, fd, c,
               sum(c) OVER (ORDER BY sl, fd) AS cum,
               sum(c) OVER () AS n
        FROM g
    ),
    gq AS (
        SELECT min(CASE WHEN cum >= 0.5 * n THEN fd * pow(10, sl - 1) END) AS g_p50,
               min(CASE WHEN cum >= 0.9 * n THEN fd * pow(10, sl - 1) END) AS g_p90
        FROM gw
    ),
    sw AS (
        SELECT source, sl, fd, c,
               sum(c) OVER (PARTITION BY source ORDER BY sl, fd) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM b
    ),
    sq AS (
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               min(CASE WHEN cum >= 0.5 * n THEN fd * pow(10, sl - 1) END) AS s_p50
        FROM sw GROUP BY source
    )
    SELECT s.source, s.n_docs,
           round(s.s_p50, 1) AS src_p50,
           round(g.g_p50, 1) AS global_p50,
           round(g.g_p90, 1) AS global_p90,
           round((s.s_p50 - g.g_p50) / g.g_p50, 4) AS p50_dev
    FROM sq s CROSS JOIN gq g
    ORDER BY source
    """,
)
def q203_sketch_union_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source sketch MERGE: per-source log-histogram sketches
    of document length are summed cell-wise into ONE global sketch
    (the property that makes q160's family a sketch at all — state
    from independent shards combines by addition, no re-scan), the
    global p50/p90 come from the merged cumulative walk, and each
    source is scored by its own p50's deviation from the global —
    the per-shard length-drift monitor a federated ingest runs.

    Scale: one combining corpus agg to |sources|×O(70) cells; the
    global sketch is a second tiny agg OVER THE CELLS (this is the
    merge — at 100 TB the per-source cells arrive from separate
    pipelines/regions and this stage is the only thing that runs);
    per-source walks ride source-partitioned windows on the cell
    relation, the global walk is the window-free triangular join.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    s = F.col("n_chars").cast("string")
    b = (
        d.select(
            "source",
            F.length(s).alias("sl"),
            F.substring(s, 1, 1).cast("long").alias("fd"),
        )
        .groupBy("source", "sl", "fd")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # THE MERGE: global sketch = cell-wise sum over sources
    g = b.groupBy("sl", "fd").agg(F.sum("c").alias("c"))
    x, y = g.alias("x"), g.alias("y")
    le = (F.col("y.sl") < F.col("x.sl")) | (
        (F.col("y.sl") == F.col("x.sl")) & (F.col("y.fd") <= F.col("x.fd"))
    )
    gw = (
        x.join(F.broadcast(y), le)
        .groupBy(F.col("x.sl").alias("sl"), F.col("x.fd").alias("fd"))
        .agg(F.sum("y.c").alias("cum"))
    )
    gn = g.agg(F.sum("c").alias("n"))
    lb = F.col("fd") * F.pow(F.lit(10.0), F.col("sl") - 1)
    gq = (
        gw.crossJoin(F.broadcast(gn))
        .agg(
            F.min(F.when(F.col("cum") >= 0.5 * F.col("n"), lb)).alias("g_p50"),
            F.min(F.when(F.col("cum") >= 0.9 * F.col("n"), lb)).alias("g_p90"),
        )
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("sl", "fd")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("source")
    sw = b.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(wn)
    )
    sq = sw.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min(F.when(F.col("cum") >= 0.5 * F.col("n"), lb)).alias("s_p50"),
    )
    return (
        sq.crossJoin(F.broadcast(gq))
        .select(
            "source",
            "n_docs",
            F.round("s_p50", 1).alias("src_p50"),
            F.round("g_p50", 1).alias("global_p50"),
            F.round("g_p90", 1).alias("global_p90"),
            F.round((F.col("s_p50") - F.col("g_p50")) / F.col("g_p50"), 4).alias(
                "p50_dev"
            ),
        )
        .orderBy("source")
    )


_MG_CAP = 1000  # Misra-Gries counter capacity per partition


@register(
    "q204_heavy_hitters_exact",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM orders)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS exact_count,
           round(count(*) / (SELECT CAST(n AS DOUBLE) FROM n), 6) AS freq_share
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) * 1000 > (SELECT n FROM n)
    ORDER BY o_custkey
    """,
)
def q204_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guaranteed heavy hitters (frequency > n/1000) by the two-pass
    Misra-Gries protocol — the deterministic counter-based sibling of
    q120's Count-Min: pass 1 runs an MG summary with capacity 1000
    per partition (mapInPandas, dict state across Arrow batches)
    emitting a bounded candidate set; pass 2 exact-counts ONLY the
    candidates and keeps those above the threshold.

    Why the answer is exact and partitioning-invariant: per-partition
    MG guarantees any key with local frequency > n_p/cap survives
    that partition's summary, and sum(freq_p) > n/cap implies
    freq_p > n_p/cap in at least one partition — so every global
    heavy hitter is a candidate regardless of how rows were split,
    and the threshold filter then discards the false positives using
    exact counts. The oracle is therefore the plain exact GROUP BY /
    HAVING, which IS the point: the sketch buys a bounded
    intermediate (<= cap x partitions candidate rows vs |keys|) with
    zero accuracy loss. Repartition-invariance is pinned by
    tests/test_operators.py.

    Scale: pass 1 is map-side only (no exchange; the candidate union
    is <= cap x partitions rows); pass 2 is one partial-agg count of
    a semi-join-pruned scan plus a broadcast of the single-row total.
    At 100 TB |keys| can exceed driver memory but cap x partitions
    cannot; this is the plan that replaces a full groupBy when only
    the > n/k tail matters.
    """
    import pandas as pd

    orders = load(spark, sf_dir, "orders").select("o_custkey")
    n_row = orders.agg(F.count(F.lit(1)).alias("n"))

    def mg_partition(batches):
        # Vectorized MG via the mergeable-summaries rule (Agarwal et
        # al., PODS'12): fold each Arrow batch's exact value_counts
        # into the summary; when over capacity, subtract the
        # (cap+1)-th largest count from everything and drop the
        # non-positives. Error bounds add across merges, so the
        # no-false-negative guarantee for freq > n_p/cap survives —
        # and the per-row Python dict loop (measured 9.5s vs 1.0s
        # for the plain groupBy at 15M rows, SCALE_NOTES.md "Round 6") becomes
        # a pandas add/nlargest per batch.
        summary = pd.Series(dtype="int64")
        for pdf in batches:
            summary = summary.add(pdf["o_custkey"].value_counts(), fill_value=0)
            if len(summary) > _MG_CAP:
                cut = summary.nlargest(_MG_CAP + 1).iloc[-1]
                summary = summary[summary > cut] - cut
        yield pd.DataFrame({"o_custkey": summary.index.astype("int64")})

    cands = orders.mapInPandas(mg_partition, "o_custkey long").distinct()
    exact = (
        orders.join(F.broadcast(cands), "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        exact.crossJoin(F.broadcast(n_row))
        .where(F.col("exact_count") * 1000 > F.col("n"))
        .select(
            "o_custkey",
            "exact_count",
            F.round(F.col("exact_count") / F.col("n").cast("double"), 6).alias(
                "freq_share"
            ),
        )
        .orderBy("o_custkey")
    )


_BFPR_CONFIGS = [
    # (label, m bits, k hashes) — the calibration grid
    ("m4096_k3", 4096, 3),
    ("m16384_k1", 16384, 1),
    ("m16384_k2", 16384, 2),
    ("m16384_k3", 16384, 3),
    ("m65536_k3", 65536, 3),
]


@register(
    "q333_bloom_fpr_calibration",
    oracle=f"""
    WITH members AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                    AS UBIGINT) AS BIGINT) % 2147483647 AS key
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    probes AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                    AS UBIGINT) AS BIGINT) % 2147483647 AS key
        FROM customer WHERE c_mktsegment <> 'BUILDING'
    ),
    cfg(label, m, k) AS (VALUES {", ".join(f"('{l}', CAST({m} AS BIGINT), CAST({k} AS BIGINT))" for l, m, k in _BFPR_CONFIGS)}),
    hp(a, b, idx) AS (VALUES (CAST(2654435761 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                             (97, 48611, 1), (104729, 12345, 2)),
    words AS (
        SELECT cfg.label,
               (((key * a + b) % 2147483647) % cfg.m) // 63 AS word,
               bit_or(CAST(1 AS BIGINT)
                      << ((((key * a + b) % 2147483647) % cfg.m) % 63)) AS w
        FROM members CROSS JOIN cfg JOIN hp ON hp.idx < cfg.k
        GROUP BY 1, 2
    ),
    pp AS (
        SELECT cfg.label, cfg.k, probes.key,
               ((key * a + b) % 2147483647) % cfg.m AS pos
        FROM probes CROSS JOIN cfg JOIN hp ON hp.idx < cfg.k
    ),
    hits AS (
        SELECT pp.label, pp.key, max(pp.k) AS k, count(*) AS nhit
        FROM pp JOIN words ON words.label = pp.label
                          AND words.word = pp.pos // 63
        WHERE (words.w & (CAST(1 AS BIGINT) << (pp.pos % 63))) != 0
        GROUP BY 1, 2
    ),
    fp AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_fp
        FROM hits WHERE nhit = k GROUP BY label
    ),
    n AS (SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
                 CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes)
    SELECT cfg.label AS config, cfg.m, cfg.k, n.n_members, n.n_probes,
           coalesce(fp.n_fp, 0) AS n_false_positives,
           round(CAST(coalesce(fp.n_fp, 0) AS DOUBLE) / n.n_probes, 6)
               AS measured_fpr,
           round(pow(1.0 - pow(1.0 - 1.0 / cfg.m, cfg.k * n.n_members),
                     cfg.k), 6) AS theoretical_fpr
    FROM cfg LEFT JOIN fp ON fp.label = cfg.label CROSS JOIN n
    ORDER BY config
    """,
)
def q333_bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate calibration across an (m, k)
    grid — the sketch-quality eval that closes q119's loop the way
    q264 closes q262's: q119 runs ONE filter configuration inside a
    join; this measures the FPR of five configurations on known
    non-members and prints it next to the theoretical
    (1 − (1 − 1/m)^{{kn}})^k, so sizing a runtime filter for a 100 TB
    scan is a table lookup on measured data instead of a formula
    taken on faith. Same portable k=3 affine-hash family and
    63-bit-word packing as q119 (no sign-bit shift in either
    engine), with the integer keys MIXED through md5 first —
    consecutive custkeys make the raw affine hash essentially
    collision-free (measured FPR 0 vs theory 0.018 in the first cut
    of this query: super-uniformity, not soundness), and the mix
    restores the uniform-hashing regime the theory formula models.
    Members = BUILDING customers, probes = every other customer
    (disjoint custkeys; md5-mixed keys are collision-free on this
    population, so every probe hit is a true false positive).

    Scale: the filters are |m/63| words each regardless of member
    count (one combining bit_or agg); probing is a broadcast word
    join + bitmask test; the verdict per config is exact integer
    counts. Measured-vs-theory divergence flags a bad hash family
    before it silently under-prunes a production scan.
    """
    c = load(spark, sf_dir, "customer")
    hkey = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2147483647
    ).alias("key")
    members = c.filter(F.col("c_mktsegment") == "BUILDING").select(hkey)
    probes = c.filter(F.col("c_mktsegment") != "BUILDING").select(hkey)
    cfg = spark.createDataFrame(
        [(l, m, k) for l, m, k in _BFPR_CONFIGS], "label string, m long, k long"
    )
    hp = spark.createDataFrame(
        [(2654435761, 1, 0), (97, 48611, 1), (104729, 12345, 2)],
        "a long, b long, idx long",
    )
    pos = F.expr("((key * a + b) % 2147483647) % m")
    words = (
        members.crossJoin(F.broadcast(cfg))
        .join(F.broadcast(hp), F.col("idx") < F.col("k"))
        .select("label", pos.alias("pos"))
        .groupBy("label", F.expr("pos div 63").alias("word"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 63))").alias("w"))
    )
    pp = (
        probes.crossJoin(F.broadcast(cfg))
        .join(F.broadcast(hp), F.col("idx") < F.col("k"))
        .select("label", "k", "key", pos.alias("pos"))
    )
    wr = words.select(
        F.col("label").alias("wlabel"), "word", "w"
    )
    hits = (
        pp.join(
            F.broadcast(wr),
            (F.col("wlabel") == F.col("label")) & (F.col("word") == F.expr("pos div 63")),
        )
        .where(F.expr("(w & shiftleft(CAST(1 AS BIGINT), pos % 63)) != 0"))
        .groupBy("label", "key")
        .agg(F.max("k").alias("k"), F.count(F.lit(1)).alias("nhit"))
    )
    fp = (
        hits.where(F.col("nhit") == F.col("k"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    )
    n = members.agg(F.count(F.lit(1)).cast("long").alias("n_members")).crossJoin(
        probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    )
    return (
        cfg.join(fp, "label", "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("label").alias("config"),
            "m",
            "k",
            "n_members",
            "n_probes",
            F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_false_positives"),
            F.round(
                F.coalesce("n_fp", F.lit(0)).cast("double") / F.col("n_probes"), 6
            ).alias("measured_fpr"),
            F.round(
                F.pow(
                    1.0 - F.pow(1.0 - 1.0 / F.col("m"), F.col("k") * F.col("n_members")),
                    F.col("k"),
                ),
                6,
            ).alias("theoretical_fpr"),
        )
        .orderBy("config")
    )


_THETA_M = 4294967296.0  # hash domain size (32-bit md5 prefix)


@register(
    "q352_kmv_set_operations",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT source,
               CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) AS BIGINT) AS h
        FROM documents
    ),
    sig AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM (SELECT DISTINCT source FROM documents) a
        JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    ),
    uni AS (
        SELECT p.sa, p.sb, s.h, count(*) AS n_sides
        FROM pairs p JOIN sig s ON s.source IN (p.sa, p.sb)
        GROUP BY p.sa, p.sb, s.h
    ),
    ranked AS (
        SELECT sa, sb, h, n_sides,
               row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM uni
    ),
    est AS (
        SELECT sa, sb,
               CAST(count(*) AS BIGINT) AS m,
               CAST(max(h) AS BIGINT) AS theta,
               CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both
        FROM ranked WHERE rn <= {_KMV_K}
        GROUP BY sa, sb
    ),
    srcbit AS (
        SELECT source,
               CAST(dense_rank() OVER (ORDER BY source) - 1 AS BIGINT) AS bit
        FROM (SELECT DISTINCT source FROM documents)
    ),
    masks AS (
        SELECT mask, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT h.h, CAST(sum(1 << b.bit) AS BIGINT) AS mask
            FROM h JOIN srcbit b USING (source)
            GROUP BY h.h
        ) GROUP BY mask
    ),
    exact AS (
        SELECT p.sa, p.sb,
               CAST(sum(CASE WHEN (m.mask & ((1 << ba.bit) | (1 << bb.bit))) != 0
                        THEN m.n ELSE 0 END) AS BIGINT) AS exact_union,
               CAST(sum(CASE WHEN (m.mask & (1 << ba.bit)) != 0
                             AND  (m.mask & (1 << bb.bit)) != 0
                        THEN m.n ELSE 0 END) AS BIGINT) AS exact_intersection
        FROM pairs p
        JOIN srcbit ba ON ba.source = p.sa
        JOIN srcbit bb ON bb.source = p.sb
        CROSS JOIN masks m
        GROUP BY p.sa, p.sb
    )
    SELECT e.sa AS source_a, e.sb AS source_b,
           round(CASE WHEN e.m < {_KMV_K} THEN CAST(e.m AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_THETA_M} / e.theta END, 2)
               AS est_union,
           x.exact_union,
           round(CASE WHEN e.m < {_KMV_K} THEN CAST(e.n_both AS DOUBLE)
                      ELSE e.n_both * (({_KMV_K} - 1) * {_THETA_M} / e.theta)
                           / e.m END, 2) AS est_intersection,
           x.exact_intersection
    FROM est e JOIN exact x ON x.sa = e.sa AND x.sb = e.sb
    ORDER BY source_a, source_b
    """,
)
def q352_kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch SET ALGEBRA: per source pair, estimate the
    DISTINCT-COUNT of the union and intersection from the merged
    bottom-k signatures (q149 estimates the Jaccard ratio; this is
    the Datasketches layer on top — the absolute counts a capacity
    plan needs): est_union = (k−1)·M/θ with θ = the k-th smallest
    union hash (exact count when the union retains < k values),
    est_intersection = n_both/m · est_union. Exact union/intersection
    counts ride along for the measured error — computed from a
    source-BITMASK rollup (hash → which-sources mask → ≤2^|sources|
    mask cells), never a per-pair corpus join.

    Every sketch quantity is an exact integer (32-bit md5-prefix
    hashes, ranks, θ, n_both) so both engines derive identical
    estimates; the merge property (bottom-k of a union = bottom-k of
    merged signatures) is what makes the sketch refreshable per
    ingest at 100 TB — signatures are |sources|·k rows, pair
    arithmetic never touches the corpus.
    """
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "source",
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long").alias("h"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sig = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )
    srcs = d.select("source").distinct()
    a, b = srcs.alias("a"), srcs.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
    )
    uni = (
        F.broadcast(pairs)
        .join(sig, (sig["source"] == F.col("sa")) | (sig["source"] == F.col("sb")))
        .groupBy("sa", "sb", "h")
        .agg(F.count(F.lit(1)).alias("n_sides"))
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    est = (
        uni.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.max("h").cast("long").alias("theta"),
            F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_both"),
        )
    )
    srcbit = srcs.select(
        "source",
        (F.dense_rank().over(Window.orderBy("source")) - 1)
        .cast("long")
        .alias("bit"),
    )
    masks = (
        h.join(F.broadcast(srcbit), "source")
        .groupBy("h")
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ba = srcbit.select(F.col("source").alias("sa"), F.col("bit").alias("bit_a"))
    bb = srcbit.select(F.col("source").alias("sb"), F.col("bit").alias("bit_b"))
    hit = lambda name: F.expr(  # noqa: E731
        f"(mask & shiftleft(CAST(1 AS BIGINT), CAST({name} AS INT))) != 0"
    )
    exact = (
        pairs.join(F.broadcast(ba), "sa")
        .join(F.broadcast(bb), "sb")
        .crossJoin(F.broadcast(masks))
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.when(hit("bit_a") | hit("bit_b"), F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("exact_union"),
            F.sum(
                F.when(hit("bit_a") & hit("bit_b"), F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("exact_intersection"),
        )
    )
    eu = F.when(F.col("m") < _KMV_K, F.col("m").cast("double")).otherwise(
        (_KMV_K - 1) * _THETA_M / F.col("theta")
    )
    ei = F.when(F.col("m") < _KMV_K, F.col("n_both").cast("double")).otherwise(
        F.col("n_both") * ((_KMV_K - 1) * _THETA_M / F.col("theta")) / F.col("m")
    )
    return (
        est.join(exact, ["sa", "sb"])
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.round(eu, 2).alias("est_union"),
            "exact_union",
            F.round(ei, 2).alias("est_intersection"),
            "exact_intersection",
        )
        .orderBy("source_a", "source_b")
    )


_AMS_COUNTERS = 9


@register(
    "q362_ams_f2_sketch",
    oracle=f"""
    WITH sk AS (
        SELECT j.j,
               CAST(sum(CASE WHEN (CAST(CAST('0x' ||
                        substr(md5(CAST(o_custkey AS VARCHAR) || ':' ||
                               CAST(j.j AS VARCHAR)), 1, 8)
                        AS UBIGINT) AS BIGINT) % 2) = 0
                        THEN 1 ELSE -1 END) AS BIGINT) AS counter
        FROM orders CROSS JOIN (SELECT unnest(range(0, {_AMS_COUNTERS})) AS j) j
        GROUP BY j.j
    ),
    est AS (
        SELECT CAST(counter * counter AS BIGINT) AS e FROM sk
    ),
    med AS (
        SELECT CAST(quantile_disc(e, 0.5) AS BIGINT) AS est_f2 FROM est
    ),
    exact AS (
        SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2,
               CAST(sum(f) AS BIGINT) AS n_rows
        FROM (SELECT CAST(count(*) AS BIGINT) AS f
              FROM orders GROUP BY o_custkey)
    )
    SELECT x.n_rows, x.exact_f2, m.est_f2,
           round(greatest(CAST(m.est_f2 AS DOUBLE) / x.exact_f2,
                          CAST(x.exact_f2 AS DOUBLE) / m.est_f2), 4)
               AS q_error
    FROM exact x CROSS JOIN med m
    """,
)
def q362_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) F2 sketch: estimate the SECOND
    frequency moment Σ f_k² of the order-customer key in ONE pass
    from {_AMS_COUNTERS} ±1-signed counters — F2 IS the self-join
    size, the quantity q278 computes exactly by shuffling the
    rollup; the AMS estimate costs 9 running integers per stream and
    is what a planner consults BEFORE committing to a self-join
    (Count-Min q120 answers point frequencies; AMS answers the
    aggregate join-size question). Counter j adds σ_j(k) ∈ {{±1}}
    (an md5 bit — portable, engine-identical) per row; each
    counter² is an unbiased F2 estimate and the MEDIAN of the 9
    tames the variance. Exact F2 rides along with the q-error so
    the sketch's accuracy is measured, not asserted.

    Scale: the sketch is a 9-cell combining aggregate (map-side
    partial counters, one 9-row exchange) — no per-key state at
    all, which is the whole point versus the exact rollup; every
    quantity is an exact integer in both engines (the median of 9
    bigints is order-statistic-exact).
    """
    o = load(spark, sf_dir, "orders")
    js = F.broadcast(
        spark.range(_AMS_COUNTERS).select(F.col("id").cast("int").alias("j"))
    )
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_custkey"), F.col("j"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    sk = (
        o.select("o_custkey")
        .crossJoin(js)
        .groupBy("j")
        .agg(F.sum(sign).cast("long").alias("counter"))
    )
    est = sk.select((F.col("counter") * F.col("counter")).cast("long").alias("e"))
    med = est.agg(
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY e) AS BIGINT)")
        .alias("est_f2")
    )
    exact = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .agg(
            F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
            .cast("long")
            .alias("exact_f2"),
            F.sum("f").cast("long").alias("n_rows"),
        )
    )
    return exact.crossJoin(F.broadcast(med)).select(
        "n_rows",
        "exact_f2",
        "est_f2",
        F.round(
            F.greatest(
                F.col("est_f2").cast("double") / F.col("exact_f2"),
                F.col("exact_f2").cast("double") / F.col("est_f2"),
            ),
            4,
        ).alias("q_error"),
    )
