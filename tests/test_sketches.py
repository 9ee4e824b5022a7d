"""Accuracy bounds for sketch aggregates — approx results can't hash-match
a DuckDB oracle (engine-specific HLL), so this is the stronger replacement
for the rows-only driver check: the estimate must fall within the sketch's
documented error envelope of the exact answer (reference ndv contract:
HyperLogLog with ~5% typical error, be/src/exprs/aggregate-functions.cc)."""

from __future__ import annotations

from pyspark.sql import functions as F

from minimised_impala_spark.tables import load_table

RSD_BOUND = 0.15  # generous 3x the ~5% default rsd


def test_approx_count_distinct_within_bounds(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert abs(r["approx"] - r["exact"]) <= RSD_BOUND * r["exact"], dict(r.asDict())


def test_percentile_approx_brackets_exact(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    ).collect()[0]
    spread = row["hi"] - row["lo"]
    assert abs(row["approx"] - row["exact"]) <= 0.05 * spread


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Two-probe candidate union can only widen the candidate set, so
    recall@3 vs the exact top-3 must be >= the single-probe query's."""
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import QUERIES

    load_all()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_cosine_topk"](spark, sf_dir).collect()
        if r.rn <= 3
    }
    single = {(r.qid, r.nid) for r in QUERIES["sim_lsh_ann"](spark, sf_dir).collect()}
    multi = {(r.qid, r.nid) for r in QUERIES["sim_lsh_multiprobe"](spark, sf_dir).collect()}
    qids = {q for q, _ in exact}
    single_hits = len(exact & {(q, n) for q, n in single if q in qids})
    multi_hits = len(exact & {(q, n) for q, n in multi if q in qids})
    assert multi_hits >= single_hits, (multi_hits, single_hits)


def test_bloom_decontamination_prunes_and_matches_exact(spark, sf_dir):
    """The bloom prefilter must (a) produce exactly the exact operator's
    output (false positives die in the rescore) and (b) actually prune:
    the candidate shingle set entering the exact string join is a small
    fraction of the full corpus gram stream."""
    from minimised_impala_spark.extensions.dedup import _trigrams_of
    from minimised_impala_spark.extensions.text import (
        _BLOOM_K,
        _bloom_positions,
        pipeline_decontaminate_bloom,
        text_contamination,
    )
    from minimised_impala_spark.tables import load_table

    exact = text_contamination(spark, sf_dir).collect()
    bloom = pipeline_decontaminate_bloom(spark, sf_dir).collect()
    assert exact == bloom

    docs = load_table(spark, sf_dir, "documents")
    grams = F.array_distinct(_trigrams_of(F.col("toks")))
    train_sh = docs.withColumn("toks", F.split("text", " ")).select(
        F.col("doc_id").alias("train_id"), F.explode(grams).alias("sh")
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text")
    )
    bench_sh = bench.withColumn("toks", F.split("text", " ")).select(
        F.explode(grams).alias("sh")
    )
    set_bits = _bloom_positions(bench_sh.distinct()).select("pos").distinct()
    n_all = train_sh.count()
    n_candidates = (
        _bloom_positions(train_sh)
        .join(F.broadcast(set_bits), "pos")
        .groupBy("train_id", "sh")
        .count()
        .filter(F.col("count") == _BLOOM_K)
        .count()
    )
    assert n_candidates < n_all * 0.5, (n_candidates, n_all)


def test_pq_kernels_roundtrip(spark):
    """Product-quantization kernel properties (vector_kernels.make_pq_*):
    (1) a vector assembled from codebook centroids encodes to exactly
    those centroid indices; (2) ADC of a query against that code equals
    the true dot product with the reconstruction (no approximation when
    quantization error is zero)."""
    import numpy as np
    import pandas as pd

    from minimised_impala_spark.extensions import vector_kernels as VK

    rng = np.random.default_rng(7)
    M, K, dsub = 4, 8, 16  # 4 subspaces over DIM=64
    codebooks = [rng.normal(size=(K, dsub)).tolist() for _ in range(M)]

    picks = [3, 0, 7, 5]
    vec = np.concatenate([np.array(codebooks[j][picks[j]]) for j in range(M)])
    query = rng.normal(size=M * dsub)

    df = spark.createDataFrame(
        pd.DataFrame({"e": [vec.tolist()], "q": [query.tolist()]})
    )
    encode = VK.make_pq_encode_udf(codebooks)
    adc = VK.make_adc_udf(codebooks)
    row = df.select(
        encode("e").alias("codes"),
        adc("q", encode("e")).alias("score"),
    ).collect()[0]
    assert list(row["codes"]) == picks
    assert abs(row["score"] - float(query @ vec)) < 1e-9


def test_kll_sketch_merge_matches_single_pass(spark):
    """KLL sketches built over partitioned data and merged must answer
    like a single sketch over all of it (mergeability is what makes the
    aggregate scale-safe): median of 0..9999 across 8 partitions lands
    within rank +-2% of 5000."""
    df = spark.range(10000).repartition(8).select((F.col("id") * 1.0).alias("x"))
    est = (
        df.agg(F.kll_sketch_agg_double("x").alias("sk"))
        .select(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("q"))
        .collect()[0]["q"]
    )
    assert 4800 <= est <= 5200


def test_band_signature_kernel_properties():
    """Properties of the banded-LSH signatures the shipped kernel
    (vector_kernels.make_lsh_prep_udf, ``sigs`` field) computes:
    (a) each band's bucket encodes exactly the sign pattern of its own
    plane block — recomputed independently per plane; (b) identical
    vectors share every band; (c) a sign-flipped vector shares none
    (every plane dot flips, every bucket is the bitwise complement)."""
    import numpy as np
    import pandas as pd

    from minimised_impala_spark.extensions import vector_kernels as VK

    n_bands, r = 6, 5
    total = n_bands * r
    planes = np.array([VK.plane(pl) for pl in range(total)])
    rng = np.random.default_rng(7)
    m = rng.normal(size=(40, VK.DIM))
    prep = VK.make_lsh_prep_udf(n_bands, r).func

    def sigs_of(vecs):
        return np.vstack(prep(pd.Series(list(vecs)))["sigs"].to_numpy())

    sigs = sigs_of(m)
    assert sigs.shape == (40, n_bands)
    # (a) independent per-plane recomputation
    for v in range(0, 40, 7):
        for b in range(n_bands):
            expect = sum(
                (1 << j)
                for j in range(r)
                if float(m[v] @ planes[b * r + j]) > 0
            )
            assert sigs[v, b] == expect
    # (b) duplicates collide in every band
    sigs2 = sigs_of(np.vstack([m, m[:3]]))
    assert (sigs2[:3] == sigs2[40:43]).all()
    # (c) sign-flip complements every bucket (no plane dot is exactly 0
    # for continuous random vectors)
    assert ((sigs ^ sigs_of(-m)) == (1 << r) - 1).all()


def test_int8_cosine_upper_bound_never_below_exact():
    """vector_kernels.cosine_ub_pair, fed the int8 codes, scale and norm
    that make_lsh_prep_udf produces, is >= the exact cosine for every
    pair: the LSH dedup pre-filter drops a pair only when its true
    cosine cannot reach the threshold. Covers non-zero vectors whose
    scale is near zero (or huge), elements at the max magnitude (codes
    at ±127) and one dominant component (the others quantize to 0), for
    identical, partly zeroed and independent pairs."""
    import numpy as np
    import pandas as pd
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    from minimised_impala_spark.extensions import vector_kernels as VK

    prep = VK.make_lsh_prep_udf(1, 1).func

    @st.composite
    def vectors(draw):
        m = np.array(draw(st.lists(
            st.floats(-1.0, 1.0, allow_subnormal=False),
            min_size=VK.DIM, max_size=VK.DIM,
        )))
        # component k fixes max|m| at 1 (1e6 when dominant), so |m|²
        # stays a normal double at every scale drawn below
        k = draw(st.integers(0, VK.DIM - 1))
        m[k] = draw(st.sampled_from((-1.0, 1.0)))
        shape = draw(st.sampled_from(("plain", "saturated", "dominant")))
        if shape == "saturated":
            m = np.where(np.abs(m) > 0.5, np.sign(m), m)
        elif shape == "dominant":
            m[k] *= 1e6
        return m * 10.0 ** draw(st.integers(-100, 100))

    @settings(max_examples=300, deadline=None)
    @given(a=vectors(), other=vectors(), kind=st.sampled_from(("same", "zeroed", "other")))
    def check(a, other, kind):
        b = {"same": a, "other": other}.get(kind)
        if b is None:
            b = a.copy()
            b[::16] = 0.0
        assume(np.any(b != 0.0))
        p = prep(pd.Series([a, b]))
        one = [p[c].iloc[[0]].reset_index(drop=True) for c in ("q", "qs", "nrm")]
        two = [p[c].iloc[[1]].reset_index(drop=True) for c in ("q", "qs", "nrm")]
        ub = float(VK.cosine_ub_pair.func(*one, *two).iloc[0])
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert ub >= exact, (ub, exact)

    check()
