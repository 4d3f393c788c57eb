"""Operator-library invariants: dedup recall, simhash locality, SRP
ANN recall, text stats."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from g_etl_spark.operators import dedup as D
from g_etl_spark.operators import similarity as S
from g_etl_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs for the party tonight"),
        (3, "sphinx of black quartz judge my vow said the old teacher"),
    ]
    rows = list(base)
    rows.append((101, base[0][1]))  # exact dup of 1
    rows.append((102, "the quick brown fox jumps over the lazy dog again"))  # near dup of 1
    rows.append((103, "completely different text about spark query engines and shuffles"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = D.exact_dedup(docs, ["text"], "doc_id")
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids and 101 not in ids
    assert kept.filter(F.col("doc_id") == 1).head().dup_count == 2


def test_minhash_finds_exact_and_near_dups(docs):
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 101) in got
    assert (1, 102) in got
    assert all(a != 103 and b != 103 for a, b in got)


def test_minhash_signature_stability(docs):
    sig = docs.select(D.minhash_signature(F.col("text")).alias("s")).head().s
    assert len(sig) == D.DEFAULT_NUM_HASHES
    sig2 = docs.select(D.minhash_signature(F.col("text")).alias("s")).head().s
    assert sig == sig2


def test_simhash_locality(spark, docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash64(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[101]  # identical text -> identical signature

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[102]) < hamming(sigs[1], sigs[103])


def test_embedding_cosine_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = D.embedding_cosine_pairs(df, threshold=0.95).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_srp_ann_recall(spark):
    """Bucketed ANN must recover most of the exact top-k (same-bucket
    vectors are the near ones by construction of SRP)."""
    import math
    import random

    rng = random.Random(5)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = []
    for i in range(200):
        if i % 4 == 0:  # cluster around base
            v = [b + rng.gauss(0, 0.05) for b in base]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {r.vec_id for r in S.cosine_topk(df, base, k=10).collect()}
    approx = {r.vec_id for r in S.ann_topk_srp(df, base, k=10, n_planes=4).collect()}
    assert len(exact & approx) >= 7  # ≥70% recall with 4 planes

    # multiprobe: recall must be monotone non-decreasing in the probe
    # radius, and probing EVERY bucket (b = n_planes) must equal the
    # exact brute-force answer (the candidate set is the full corpus)
    prev = len(exact & approx)
    for b in (1, 2, 4):
        got = {
            r.vec_id
            for r in S.ann_topk_srp(
                df, base, k=10, n_planes=4, n_probe_bits=b
            ).collect()
        }
        hits = len(exact & got)
        assert hits >= prev, f"recall dropped at n_probe_bits={b}"
        prev = hits
    assert prev == 10  # full-radius probe == brute force


def test_srp_probe_buckets_enumeration():
    """The probe set enumerates exactly the Hamming ball: C(n,0)+
    C(n,1)+... ids, all within the radius, query bucket first."""
    from math import comb

    planes = S.random_hyperplanes(4, 8)
    q = [1.0] * 8
    b0 = S.srp_probe_buckets(q, planes, 0)
    assert len(b0) == 1
    for radius in (1, 2, 3, 4):
        bs = S.srp_probe_buckets(q, planes, radius)
        assert bs[0] == b0[0]
        assert len(bs) == len(set(bs)) == sum(
            comb(4, d) for d in range(radius + 1)
        )
        assert all(bin(x ^ b0[0]).count("1") <= radius for x in bs)


def test_text_stats_and_langid(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house of the king"),
            (2, "der hund und die katze ist das beste und der schnellste"),
            (3, "xyzzy plugh foobar"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.with_text_stats(df).collect()}
    assert out[1].detected_lang == "en"
    assert out[2].detected_lang == "de"
    assert out[3].detected_lang == "und"
    assert out[1].n_tokens == 12
    assert 0.0 < out[1].stopword_ratio < 1.0
    # fingerprint is order-insensitive
    df2 = spark.createDataFrame(
        [(1, "house the of king the cat and the dog is in the")],
        "doc_id long, text string",
    )
    fp1 = T.with_text_stats(df).filter("doc_id=1").head().fingerprint
    fp2 = T.with_text_stats(df2).head().fingerprint
    assert fp1 == fp2


def test_multimodal_decode_schema(spark):
    from g_etl_spark.operators import multimodal as M

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    out = M.fake_decode_features(M.attach_binary_payload(df)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.byte_len == 11 and r.media_type == "text/plain"
    assert r.width == 11 % 640 + 16


def test_approx_rollup_close_to_exact(spark):
    from g_etl_spark.operators import rollup as R
    from g_etl_spark.tables import load

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    exact = li.agg(__import__("pyspark.sql.functions", fromlist=["countDistinct"])
                   .countDistinct("l_orderkey").alias("nd")).head().nd
    approx = R.approx_distinct_profile(li, ["l_orderkey"]).head().l_orderkey_approx_nd
    assert abs(approx - exact) / exact < 0.05


def test_srp_bucket_pairs_recall(spark):
    """The bucketed embedding-dedup scale path must recover the
    planted near-dup pairs the brute-force baseline finds."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(150):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
        if i < 30:  # plant a near-dup of the first 30
            rows.append((1000 + i, [x * 1.02 + rng.gauss(0, 0.005) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {
        (r.id_a, r.id_b)
        for r in D.embedding_cosine_pairs(df, threshold=0.98).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in S.srp_bucket_pairs(df, threshold=0.98, n_planes=6, dim=dim).collect()
    }
    planted = {(i, 1000 + i) for i in range(30)}
    assert planted <= brute
    assert len(bucketed & planted) >= 27  # ≥90% recall
    assert bucketed <= brute  # no false positives vs exact refine


def test_connected_components_transitive_chain(spark):
    """A—B—C chain must collapse to one component even though A—C is
    not an edge (transitivity); disjoint pairs stay separate."""
    from g_etl_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    labels = {r.node: r.component for r in G.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    summary = {
        r.component: (r.n_members, r.member_ids)
        for r in G.component_summary(G.connected_components(edges)).collect()
    }
    assert summary[1] == (4, "1,2,3,4")
    assert summary[10] == (2, "10,11")
    assert summary[20] == (2, "20,21")


def _chain(spark, n=120):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")


def test_connected_components_long_chain_at_default_rounds(spark):
    """A 120-node chain (diameter 119) comes out as one component with
    the default ``max_iter``: rounds are O(log n), not one per hop."""
    from g_etl_spark.operators import graph as G

    labels = {r.node: r.component for r in G.connected_components(_chain(spark)).collect()}
    assert labels == {i: 0 for i in range(120)}


def _union_find_labels(pairs):
    """Reference labeling in plain Python: node -> smallest id of its
    component, over the edges with two non-NULL, distinct endpoints."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is not None and b is not None and a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_logstar_matches_propagation_and_handles_long_chains(spark):
    """large-star/small-star must produce the labeling of a plain
    Python union-find over the same pairs, and converge on a chain
    whose diameter far exceeds its round budget (the O(log n) claim —
    Kiveris et al. SoCC'14).

    Each graph runs twice: as configured, where these small graphs
    coalesce into one partition and the per-partition contraction
    solves them outright, and with partition coalescing off, where the
    deduplicated edges spread over every shuffle partition, the
    contraction leaves pieces that cross partitions and the
    distributed rounds must finish the job. Nodes whose only edges are
    self-loops or NULL-ended are absent."""
    import random

    from g_etl_spark.operators import graph as G

    mixed = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20), (5, 4)]
    rng = random.Random(11)
    multi = [(rng.randrange(300), rng.randrange(300)) for _ in range(260)]
    multi += multi[:20] + [(b, a) for a, b in multi[20:40]]  # duplicates, reversals
    multi += [(900, 900), (901, None), (None, 902), (5, 5), (7, None)]
    cases = [
        (spark.createDataFrame(pairs, "id_a long, id_b long"), _union_find_labels(pairs))
        for pairs in (mixed, multi)
    ]

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    try:
        for coalesce in ("true", "false"):
            spark.conf.set(key, coalesce)
            for edges, want in cases:
                got = {r.node: r.component for r in G.connected_components(edges).collect()}
                assert got == want
            assert not {900, 901, 902} & set(got)
            # 120-node chain: diameter 119, still exactly one component
            labels = {r.node: r.component for r in G.connected_components(_chain(spark)).collect()}
            assert labels == {i: 0 for i in range(120)}
        # uncoalesced, the chain is not solved inside one partition
        with pytest.raises(RuntimeError, match="did not converge"):
            G.connected_components(_chain(spark), max_iter=0)
    finally:
        spark.conf.set(key, prev)


def test_logstar_small_graph_costs_a_handful_of_jobs(spark):
    """A graph that fits in one partition is solved by the per-partition
    contraction, so the 120-node chain costs a few jobs, not one batch
    of jobs per large-star/small-star round (89 jobs before the
    contraction and the star-forest stop)."""
    from g_etl_spark.operators import graph as G

    sc = spark.sparkContext
    group = "test-logstar-jobs"
    sc.setJobGroup(group, group)
    try:
        labels = {
            r.node: r.component
            for r in G.connected_components(_chain(spark)).collect()
        }
    finally:
        sc._jsc.clearJobGroup()
    assert labels == {i: 0 for i in range(120)}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, jobs


def test_multimodal_resize_binary_roundtrip(spark):
    """fake_resize: binary-in → binary-out mapInPandas; the output
    payload is exactly target_w*target_h bytes, writes back to
    parquet as BYTE_ARRAY, and survives a read round-trip."""
    from g_etl_spark.operators import multimodal as M

    d = M.attach_binary_payload(
        spark.createDataFrame(
            [(1, "abc"), (2, "x" * 5000)], "doc_id long, text string"
        )
    )
    out = M.fake_resize(d, target_w=32, target_h=32)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows[1].payload) == 32 * 32 == len(rows[2].payload)
    assert rows[1].width == 32 and rows[1].height == 32
    # truncate-or-pad semantics
    assert bytes(rows[1].payload[:3]) == b"abc"
    assert bytes(rows[2].payload) == b"x" * 1024
    assert dict(out.dtypes)["payload"] == "binary"


def test_global_ntile_twopass_matches_spark_ntile(spark):
    """operators/ranking: the two-pass bucket-partitioned ntile must
    reproduce Spark's global ntile EXACTLY — including the n % k
    uneven-tile split, tie groups crossing bucket boundaries, and
    the n < k degenerate case."""
    import random

    from pyspark.sql import Window

    from g_etl_spark.operators.ranking import (
        global_ntile_twopass,
        global_rank_twopass,
        log2_bucket,
    )

    random.seed(7)
    rows = [(i, random.random() * 1000.0) for i in range(1, 402)]
    rows += [(10_000 + i, 42.0) for i in range(25)]  # a fat tie group
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    for k in (4, 5, 7, 1000):  # 1000 > n exercises the n < k branch
        got = global_ntile_twopass(df, k, ["v", "id"], log2_bucket(F.col("v")), out="t")
        want = df.withColumn("t", F.ntile(k).over(Window.orderBy("v", "id")).cast("long"))
        bad = (
            got.join(want.withColumnRenamed("t", "wt"), "id")
            .where(F.col("t") != F.col("wt"))
            .count()
        )
        assert bad == 0, f"ntile({k}) mismatch"
    gr = global_rank_twopass(df, ["v", "id"], log2_bucket(F.col("v")), out="r")
    wr = df.withColumn("r", F.row_number().over(Window.orderBy("v", "id")).cast("long"))
    assert (
        gr.join(wr.withColumnRenamed("r", "wr"), "id")
        .where(F.col("r") != F.col("wr"))
        .count()
        == 0
    )


def test_global_cumsum_twopass_matches_spark_window(spark):
    """operators/ranking: the two-pass prefix sum must reproduce the
    global cumulative-sum window EXACTLY in both frame modes
    (inclusive and UNBOUNDED..1 PRECEDING), including tie groups that
    cross bucket boundaries and a descending order via negated key —
    and its plan must contain no unpartitioned WindowExec."""
    import random

    from pyspark.sql import Window

    from g_etl_spark.operators.ranking import global_cumsum_twopass, log2_bucket

    random.seed(11)
    rows = [(i, float(random.randint(0, 50)), random.random()) for i in range(1, 500)]
    df = spark.createDataFrame(rows, "id long, v double, w double").repartition(8)
    for inclusive in (True, False):
        got = global_cumsum_twopass(
            df, "w", ["v", "id"], log2_bucket(F.col("v")), out="c", inclusive=inclusive
        )
        hi = 0 if inclusive else -1
        wref = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, hi)
        want = df.withColumn("c", F.coalesce(F.sum("w").over(wref), F.lit(0.0)))
        bad = (
            got.join(want.withColumnRenamed("c", "wc"), "id")
            .where(F.abs(F.col("c") - F.col("wc")) > 1e-9)
            .count()
        )
        assert bad == 0, f"cumsum mismatch (inclusive={inclusive})"
    # descending order via the negated-key convention
    gd = global_cumsum_twopass(
        df.withColumn("negv", -F.col("v")),
        "w",
        ["negv", "id"],
        -log2_bucket(F.col("v")),
        out="c",
    )
    wd = Window.orderBy(F.desc("v"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wantd = df.withColumn("c", F.sum("w").over(wd))
    assert (
        gd.join(wantd.withColumnRenamed("c", "wc"), "id")
        .where(F.abs(F.col("c") - F.col("wc")) > 1e-9)
        .count()
        == 0
    )
    plan = gd._jdf.queryExecution().executedPlan().toString()
    import re

    for line in plan.splitlines():
        if re.search(r"\bWindow\b", line) and "[" in line:
            assert len(re.findall(r"\[[^\[\]]*\]", line)) >= 3, line


def test_minhash_agg_signature_bit_identical_to_per_row_form(spark):
    """Pins the equivalence the r15 explode+aggregate rewrite rests on
    (and its ADVICE-noted precondition): for UNIQUE ids the aggregated
    signature (explode shingles -> min aggregate over affine maps) is
    bit-identical to the per-row array_min HOF form, including the
    empty / NULL / sub-k-token edge docs whose signature is NULL."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),                    # empty -> no shingles -> NULL sig
        (3, None),                  # NULL text -> NULL sig
        (4, "two tokens"),          # sub-k (k=3) -> NULL sig
        (5, "exactly three tokens"),  # single shingle
        (6, "the quick brown fox jumps over the lazy dog"),  # dup text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    per_row = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", D.minhash_signature(F.col("text")).alias("s")
        ).collect()
    }
    # the aggregated pipeline form, exactly as minhash_candidates
    # stages it: explode_outer(shingles) -> top-level base hash ->
    # min-aggregate the affine maps
    agg = (
        df.select(
            F.col("doc_id").alias("_id"),
            F.explode_outer(D.shingles(F.col("text"))).alias("_sh"),
        )
        .select("_id", D.base_shingle_hash(F.col("_sh")).alias("h"))
        .groupBy("_id")
        .agg(*D.affine_min_sig_aggs())
    )
    agg_rows = {
        r["_id"]: [r[f"s{i}"] for i in range(D.DEFAULT_NUM_HASHES)]
        for r in agg.collect()
    }
    for doc_id, sig in per_row.items():
        got = agg_rows[doc_id]
        if sig is None or all(v is None for v in (sig or [])):
            assert all(v is None for v in got), (doc_id, got)
        else:
            assert list(sig) == got, (doc_id, sig, got)
    # identical texts -> identical signatures through both forms
    assert agg_rows[1] == agg_rows[6]


def test_minhash_candidates_requires_unique_ids(spark):
    """The documented id-uniqueness PRECONDITION: rows sharing an id
    are blended into ONE signature over the union of their shingles
    (groupBy id), not signed per row — callers must pass a primary
    key. This pins the behavior so a silent contract change fails."""
    text_a = "the quick brown fox jumps over the lazy dog"
    text_b = "sphinx of black quartz judge my vow tonight"
    dup_ids = spark.createDataFrame(
        [(1, text_a), (1, text_b)], "doc_id long, text string"
    )
    # min over the UNION of two shingle sets = elementwise min of the
    # two per-row signatures — the exact blend the groupBy produces
    per_row = (
        spark.createDataFrame(
            [(text_a,), (text_b,)], "text string"
        )
        .select(D.minhash_signature(F.col("text")).alias("s"))
        .collect()
    )
    expected = [
        min(per_row[0].s[i], per_row[1].s[i])
        for i in range(D.DEFAULT_NUM_HASHES)
    ]
    blended = (
        dup_ids.select(
            F.col("doc_id").alias("_id"),
            F.explode_outer(D.shingles(F.col("text"))).alias("_sh"),
        )
        .select("_id", D.base_shingle_hash(F.col("_sh")).alias("h"))
        .groupBy("_id")
        .agg(*D.affine_min_sig_aggs())
        .collect()[0]
    )
    got = [blended[f"s{i}"] for i in range(D.DEFAULT_NUM_HASHES)]
    assert got == expected
