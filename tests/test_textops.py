"""Training-data ops: dedup family, ANN, text analysis — semantic checks
(the value-level parity vs DuckDB runs in tools/check_oracle.py and the
driver harness)."""

import math

from pyspark.sql import Window, functions as F

from qs_spark import textops as X

SF = "/root/testdata/sf0.001"


def shingles_col(n: int = X.SHINGLE_N, text_col="text"):
    """Word n-gram shingles (distinct per doc when used with explode+distinct)."""
    toks = F.split(X.norm_text(text_col), " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def minhash_signatures_expr(docs, k: int = X.MINHASH_K, n: int = X.SHINGLE_N):
    """Oracle: the pure-column-expression form of X.minhash_signatures (r02
    shape): shingle explode -> md5 split -> k min-aggregates.  The kernel
    must equal it (the same md5 double-hashing math the DuckDB oracles
    reproduce)."""
    P = X.MINHASH_P
    sh = docs.select("doc_id", F.explode(shingles_col(n)).alias("sh"))
    md5 = F.md5(F.col("sh"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint") % P
    h2 = F.conv(F.substring(md5, 17, 15), 16, 10).cast("bigint") % P
    sh = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % P).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_pairs_selfjoin(sigs, max_bucket_size: int):
    """Oracle: the r05 form of X.lsh_candidate_pairs over given signatures —
    a (band, bucket) window attaches each bucket's size and min doc_id, a
    self-join on (band, bucket) emits all pairs of buckets within the cap,
    and a star (min, x) branch covers the buckets above it."""
    w = Window.partitionBy("band", "bucket")
    b2 = X.lsh_buckets(sigs).select(
        "*", F.count("*").over(w).alias("_m"), F.min("doc_id").over(w).alias("_rep")
    )
    small = b2.filter(F.col("_m") <= max_bucket_size).select("band", "bucket", "doc_id")
    all_pairs = (
        small.alias("l")
        .join(small.alias("r"), ["band", "bucket"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )
    star_pairs = b2.filter(
        (F.col("_m") > max_bucket_size) & (F.col("doc_id") > F.col("_rep"))
    ).select(F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return all_pairs.unionByName(star_pairs).distinct()


def near_dup_clusters_with_exact_edges(docs, jaccard_threshold):
    """Oracle: the r06 form of X.near_dup_clusters — the exact-copy edges
    (rep, doc_id) unioned with the Jaccard-verified near edges, one
    connected_components over the union, its labels joined back by
    doc_id."""
    sk = X._with_rep(X.doc_sketches(docs))
    exact = sk.where("doc_id != rep").selectExpr("rep AS doc_a", "doc_id AS doc_b")
    near = (
        X._jaccard_verify(docs, X._candidate_pairs(X._rep_sigs(sk)))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    comp = X.connected_components(exact.unionByName(near))
    return (
        sk.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(cluster, doc_id) AS cluster",
            "doc_id = coalesce(cluster, doc_id) AS is_representative",
        )
    )


def ann_sig_literal(vec_col, plane_ids, dim):
    """Oracle: the literal-plane form of X.ann_sig_col — each plane an array
    of _hyperplane(i, dim) literals, zip_with'd against the vector."""
    bits = None
    for j, i in enumerate(plane_ids):
        pl = F.array(*[F.lit(x) for x in X._hyperplane(i, dim)])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), pl, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup_partitions_docs(spark):
    d = _docs(spark)
    out = X.dedup_exact(d).toPandas()
    assert out["n_dups"].sum() == d.count()  # every doc in exactly one group


def test_minhash_lsh_finds_true_duplicates(spark):
    d = _docs(spark)
    first = d.orderBy("doc_id").first()
    # plant an exact copy (collapses into the original's exact-dup cluster)
    # and a near-duplicate (one appended token — survives dedup, must be
    # found by the banding)
    exact = d.limit(1).select(
        F.lit(900001).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = d.limit(1).select(
        F.lit(900002).alias("doc_id"),
        F.concat("text", F.lit(" zzzextra")).alias("text"),
        "lang", "source", "n_chars",
    )
    planted = d.unionByName(exact.unionByName(near))
    pairs = X.lsh_candidate_pairs(planted).toPandas()
    # exact copy never appears (represented by the original doc upstream)
    assert not ((pairs.doc_a == 900001) | (pairs.doc_b == 900001)).any()
    # near-dup pair (original, 900002) found by the banding
    assert ((pairs.doc_a == first.doc_id) & (pairs.doc_b == 900002)).any()
    # the exact cluster is still visible where it belongs: dedup_exact
    dd = X.dedup_exact(planted).toPandas()
    assert (dd[dd.keep_doc_id == first.doc_id].n_dups == 2).all()


def test_minhash_similar_docs_share_signature_bits(spark):
    d = _docs(spark)
    sigs = X.minhash_signatures(d.limit(20)).toPandas()
    assert len(sigs) == 20
    assert sigs.filter(like="mh").notna().all().all()


def test_simhash_identical_texts_equal(spark):
    d = _docs(spark).limit(5)
    a = X.simhash(d).toPandas().set_index("doc_id")["simhash"]
    b = X.simhash(d).toPandas().set_index("doc_id")["simhash"]
    assert (a == b).all()
    assert (a >= 0).all() and (a < (1 << X.SIMHASH_BITS)).all()


def test_jaccard_bounds_and_symmetric_blocking(spark):
    d = _docs(spark).filter(F.col("source") == "src0")
    out = X.ngram_jaccard_pairs(d).toPandas()
    if len(out):
        assert ((out.jaccard > 0) & (out.jaccard <= 1)).all()
        assert (out.doc_a < out.doc_b).all()


def test_ann_bruteforce_top1_is_query_itself(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    top = X.ann_bruteforce(ed, qvec, k=5).toPandas()
    assert top.iloc[0].vec_id == 0  # cosine(q, q) = 1
    assert abs(top.iloc[0].cosine - 1.0) < 1e-6
    assert top.cosine.is_monotonic_decreasing


def test_ann_lsh_subset_of_bruteforce_ordering(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    lsh = X.ann_lsh(ed, qvec, k=5).toPandas()
    assert len(lsh) > 0
    assert lsh.iloc[0].vec_id == 0  # query's own bucket contains itself
    # every LSH result's cosine must equal the exact cosine (same formula)
    bf = X.ann_bruteforce(ed, qvec, k=2000).toPandas().set_index("vec_id")["cosine"]
    for _, r in lsh.iterrows():
        assert abs(bf[r.vec_id] - r.cosine) < 1e-9


def test_quality_and_langid_ranges(spark):
    d = _docs(spark)
    q = X.text_quality(d).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1)).all()
    li = X.lang_id(d).toPandas()
    assert set(li.lang_pred.unique()) <= set(X._LANG_MARKERS) | {"other"}
    # multi-language markers: planted non-English docs classify correctly
    from qs_spark.session import get_spark

    planted = get_spark("t", cores=8).createDataFrame(
        [
            (1, "el que la de los se una con por y el que"),
            (2, "le les des et une du est dans qui pour"),
            (3, "der die und das ein zu ist den von nicht"),
            (4, "zzz qqq www"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.lang_pred for r in X.lang_id(planted).collect()}
    assert got == {1: "es", 2: "fr", 3: "de", 4: "other"}


def test_compute_score_reference_constants():
    # F10 column expr == reference compute_score (utils/util.py:165-192)
    from qs_spark.search import compute_score_col

    ref = min(0.7 + 0.3 * math.log(1 + 7) / math.log(1 + 40), 0.9995)
    from qs_spark.session import get_spark

    spark = get_spark("t", cores=8)
    got = spark.range(1).select(
        compute_score_col(F.lit(7.0), F.lit(40.0)).alias("s")
    ).first().s
    assert abs(got - round(ref, 6)) < 1e-9


def test_simhash_banded_equals_bruteforce(spark):
    """The pigeonhole band join must be LOSSLESS for hamming <= k: result
    set == brute-force all-pairs (the r01 group-blocked version was a scale
    hazard; this one must also be exactly right)."""
    import itertools

    d = _docs(spark).limit(80)
    assert X.SIMHASH_MAX_HAMMING == 4  # q50's oracle_sql() keeps <= 4
    got = X.simhash_near_dup_pairs(d).toPandas()
    sims = X.simhash(d).toPandas().set_index("doc_id")["simhash"]
    expect = {
        (a, b)
        for a, b in itertools.combinations(sorted(sims.index), 2)
        if bin(int(sims[a]) ^ int(sims[b])).count("1") <= 4
    }
    assert set(zip(got.doc_a, got.doc_b)) == expect
    assert (got.hamming <= 4).all()


def test_simhash_banded_plan_has_no_cartesian(spark):
    d = _docs(spark).limit(50)
    plan = (
        X.simhash_near_dup_pairs(d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_pairs_are_lsh_candidates(spark):
    """ngram_jaccard_pairs is LSH-prefiltered: every returned pair must be an
    LSH candidate, and jaccard values are exact (0, 1]."""
    d = _docs(spark).filter(F.col("source") == "src0")
    pairs = X.ngram_jaccard_pairs(d).toPandas()
    cand = X.lsh_candidate_pairs(d).toPandas()
    cset = set(zip(cand.doc_a, cand.doc_b))
    assert set(zip(pairs.doc_a, pairs.doc_b)) <= cset
    if len(pairs):
        assert ((pairs.jaccard > 0) & (pairs.jaccard <= 1)).all()
        assert (pairs.doc_a < pairs.doc_b).all()


def test_jaccard_pairs_above_broadcast_gate_match_default(spark, monkeypatch):
    """_BROADCAST_CANDS=0 puts any candidate set above the gate (the
    toArrow probe returns more pairs than the gate), so the pair sides are
    exploded from the candidate DataFrame and joined to the texts unhinted;
    the rows must equal the default call's, whose sides are built on the
    driver from the probe and broadcast."""
    d = _docs(spark)
    near = d.limit(1).select(
        F.lit(900002).alias("doc_id"),
        F.concat("text", F.lit(" zzzextra")).alias("text"),
        "lang", "source", "n_chars",
    )
    d = d.unionByName(near)
    default = sorted(map(tuple, X.ngram_jaccard_pairs(d).collect()))
    monkeypatch.setattr(X, "_BROADCAST_CANDS", 0)
    above = sorted(map(tuple, X.ngram_jaccard_pairs(d).collect()))
    assert default
    assert above == default


def test_ann_multiprobe_recall_dominates_single_probe(spark):
    """Multiprobe scans the single-probe bucket plus margin-ordered neighbor
    buckets: its top-k must be at least as good rank-for-rank, and its
    candidate set contains the single-probe results."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    one = X.ann_lsh(ed, qvec, k=10, n_probes=1).toPandas()
    multi = X.ann_lsh(ed, qvec, k=10, n_probes=4).toPandas()
    assert multi.iloc[0].vec_id == 0
    for r in range(min(len(one), len(multi))):
        assert multi.iloc[r].cosine >= one.iloc[r].cosine - 1e-12


def test_lsh_degenerate_dup_corpus_stays_linear(spark):
    """r02 weak spot: 10k copies of one doc share every band bucket; the
    naive bucket self-join emits ~50M pairs.  With exact-dedup upstream the
    cluster collapses to ONE representative — output stays small and no pair
    links two members of the duplicate cluster."""
    base = _docs(spark).limit(50).select("doc_id", "text")
    dup = spark.range(10_000).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.lit("aaa bbb ccc ddd eee fff ggg hhh").alias("text"),
    )
    pairs = X.lsh_candidate_pairs(base.unionByName(dup)).toPandas()
    assert len(pairs) < 5_000  # not ~50M
    # only the representative (min doc_id = 100000) survives from the cluster
    assert not ((pairs.doc_a > 100_000) | (pairs.doc_b > 100_000)).any()


def test_lsh_bucket_cap_emits_star_not_quadratic(spark, monkeypatch):
    """Near-identical family (shared 200-token text + unique suffix) is NOT
    collapsed by exact dedup; the bucket cap must turn its all-pairs output
    into a connectivity-preserving star."""
    base_text = " ".join(f"w{i}" for i in range(200))
    docs = spark.range(40).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit(base_text + " u"), F.col("id").cast("string")).alias("text"),
    )
    monkeypatch.setattr(X, "LSH_MAX_BUCKET", 8)
    capped = X.lsh_candidate_pairs(docs).toPandas()
    monkeypatch.setattr(X, "LSH_MAX_BUCKET", 10_000)
    uncapped = X.lsh_candidate_pairs(docs).toPandas()
    assert len(uncapped) > 600  # the family really is all-pairs-dense
    assert len(capped) < len(uncapped) / 3  # star output is O(m), not m^2/2
    # connectivity: every member still reachable (appears in some pair)
    assert set(capped.doc_a) | set(capped.doc_b) == set(range(40))


def test_lsh_pairs_at_the_cap_boundary_match_selfjoin_oracle(spark, monkeypatch):
    """Hand-built signatures: a family of exactly `cap` members shares one
    bucket per band (all pairs), a family of cap + 1 members does too (a
    star from its min), one pair agrees on a single band only, and two
    singletons agree on none.  lsh_candidate_pairs' banding stage
    (_candidate_pairs) must equal the window + self-join + star oracle,
    and the two families' expected shapes."""
    cap = 6
    k = X.MINHASH_K
    rows = [(f"a{i:02d}", [7] * k) for i in range(cap)]
    rows += [(f"b{i:02d}", [9] * k) for i in range(cap + 1)]
    rows += [("p0", [1] * 4 + [2] * (k - 4)), ("p1", [1] * 4 + [3] * (k - 4))]
    rows += [("s0", list(range(k))), ("s1", list(range(100, 100 + k)))]
    schema = "doc_id string, " + ", ".join(f"mh{i} long" for i in range(k))
    sigs = spark.createDataFrame([(d, *mh) for d, mh in rows], schema)

    monkeypatch.setattr(X, "LSH_MAX_BUCKET", cap)
    got = sorted(map(tuple, X._candidate_pairs(sigs).collect()))
    want = sorted(map(tuple, lsh_pairs_selfjoin(sigs, cap).collect()))
    assert got == want
    a = [f"a{i:02d}" for i in range(cap)]
    b = [f"b{i:02d}" for i in range(cap + 1)]
    assert [p for p in got if p[0].startswith("a")] == [
        (x, y) for i, x in enumerate(a) for y in a[i + 1 :]
    ]
    assert [p for p in got if p[0].startswith("b")] == [("b00", y) for y in b[1:]]
    assert [p for p in got if p[0].startswith(("p", "s"))] == [("p0", "p1")]


def test_jaccard_verify_spreads_a_hub_over_partitions(spark, monkeypatch):
    """A template family above a bucket cap of 8 makes its min doc_id a hub:
    every star pair shares it as doc_a.  The verify must not run them all in
    one task — no output partition may hold more than half of the pairs —
    and the pairs must equal the path above the broadcast gate."""
    base_text = " ".join(f"w{i}" for i in range(200))
    family = spark.range(40).selectExpr(
        "CAST(id AS INT) AS doc_id", f"concat('{base_text} u', CAST(id AS STRING)) AS text"
    )
    other = spark.range(6).selectExpr(
        "CAST(id + 1000 AS INT) AS doc_id",
        "concat_ws(' ', transform(sequence(0, 30), j -> concat('t', id, '_', j))) AS text",
    )
    near = other.limit(1).selectExpr("1999 AS doc_id", "concat(text, ' extra') AS text")
    docs = family.unionByName(other).unionByName(near)

    monkeypatch.setattr(X, "LSH_MAX_BUCKET", 8)
    pairs = X.ngram_jaccard_pairs(docs)
    per_part = [
        r["n"]
        for r in pairs.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    got = sorted(map(tuple, pairs.collect()))
    assert len(got) >= 39  # the star alone has 39 pairs
    assert (1000, 1999) in {(a, b) for a, b, _ in got}  # an unrelated near-dup
    assert max(per_part) <= len(got) / 2, per_part
    monkeypatch.setattr(X, "_BROADCAST_CANDS", 0)
    above = sorted(map(tuple, X.ngram_jaccard_pairs(docs).collect()))
    assert above == got


def test_ann_sig_col_matches_literal_planes_without_a_job(spark):
    """ann_sig_col's closed-form planes give the literal-plane signatures bit
    for bit: float and double vectors of dim 64 (the sf embeddings) and
    double vectors of dim 200 (d * 19349663 past INT range).  Building the
    signature plans and an ann_lsh plan runs no Spark job."""
    import random

    rnd = random.Random(5)
    vecs = [[rnd.uniform(-1, 1) for _ in range(200)] for _ in range(40)]
    wide = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    tables = [(e, 64), (ed, 64), (wide, 200)]
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    built = [
        (t.select("vec_id", X.ann_sig_col("embedding", ids).alias("sig")), t, ids, dim)
        for t, dim in tables
        for ids in (range(6), range(9, 17))
    ]
    X.ann_lsh(wide, vecs[0], n_probes=4)._jdf.queryExecution().optimizedPlan()
    assert set(tracker.getJobIdsForGroup(None)) == set(before)
    for got, t, ids, dim in built:
        want = t.select("vec_id", ann_sig_literal("embedding", ids, dim).alias("sig"))
        got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
        assert got_rows == want_rows, (dim, ids)
        assert len({r.sig for r in got_rows}) > 4


def test_ann_indexed_equals_scan_and_prunes(spark, tmp_path):
    """write_ann_index + ann_lsh_indexed must return exactly the scan-form
    ann_lsh result, with the plan pruned to the probed sig partitions."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    path = str(tmp_path / "ann")
    X.write_ann_index(ed, path)
    scan = X.ann_lsh(ed, qvec, k=10, n_probes=8).toPandas()
    idx = X.ann_lsh_indexed(spark, path, qvec, k=10, n_probes=8)
    assert idx.toPandas().values.tolist() == scan.values.tolist()
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "sig" in plan.split("PartitionFilters", 1)[1][:200]


def test_ann_probe_seq_margin_order(spark):
    """Probe sequence: starts at the query's own bucket (flip score 0),
    distinct buckets, covers the whole space when n_probes = 2^planes."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    probes = X.ann_probe_seq(qvec, 6, 64)
    assert len(probes) == 64 and len(set(probes)) == 64
    p1 = X.ann_probe_seq(qvec, 6, 1)
    assert probes[0] == p1[0]  # own bucket first
    assert X.ann_probe_seq(qvec, 6, 8) == probes[:8]  # prefix-stable


def test_minhash_kernel_matches_jvm_exprs(spark):
    """The Arrow-batched minhash kernel must produce EXACTLY the column-
    expression form's signatures (same md5 double-hashing math — this
    equality is what keeps the DuckDB oracles valid)."""
    d = _docs(spark).limit(100)
    a = X.minhash_signatures(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        minhash_signatures_expr(d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert a.equals(b.astype(a.dtypes.to_dict()))


def test_minhash_kernel_matches_jvm_exprs_non_ascii(spark):
    """r04 VERDICT #5: normalization now happens JVM-side for BOTH forms, so
    kernel == expr must hold on planted non-ASCII text too — Turkish dotted
    İ (str.lower() vs UTF8String divergence class), NBSP/ideographic-space
    separators (\\s-class divergence class), sharp s, combining accents."""
    rows = [
        (1, "İstanbul ŞEHİR Pİ yazı İİİ metin İçerik uzun"),
        (2, "données françaises straße GROßE text mit mehr"),
        (3, "a\xa0b\xa0c d　e f g h i j"),  # NBSP + ideographic space
        (4, "ΣΊΣΥΦΟΣ ΑΘΗΝΑ ελληνικά κείμενο με περισσότερες λέξεις"),
        (5, "plain ascii control row with enough words to shingle"),
        (6, None),  # null text: no signature row in either form
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    a = X.minhash_signatures(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        minhash_signatures_expr(d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(a["doc_id"]) == [1, 2, 3, 4, 5]
    assert a.equals(b.astype(a.dtypes.to_dict()))


def test_doc_sketches_matches_jvm_parts(spark):
    """doc_sketches (r05 fused scan) must equal X.fingerprint (JVM
    F.md5(norm_text())) on fp — including null-text rows, which it KEEPS —
    and minhash_signatures_expr on the signature columns, including planted
    non-ASCII (the fp hashes the same UTF-8 bytes the JVM md5 hashes)."""
    rows = [
        (1, "İstanbul ŞEHİR Pİ yazı İİİ metin İçerik uzun"),
        (2, "données françaises straße GROßE text mit mehr"),
        (3, "a\xa0b\xa0c d　e f g h i j"),  # NBSP + ideographic space
        (4, "plain ascii control row with enough words to shingle"),
        (5, "plain ascii control row with enough words to shingle"),  # dup
        (6, None),  # null text: kept, fp/mh* null
        (7, ""),  # empty text: non-null, hashes like the JVM form
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    sk = X.doc_sketches(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    fp = X.fingerprint(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(sk["doc_id"]) == list(fp["doc_id"])  # null rows kept
    assert list(sk["fp"]) == list(fp["fingerprint"])
    mh = (
        minhash_signatures_expr(d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = sk[sk["mh0"].notna()].reset_index(drop=True)
    mh_cols = [c for c in mh.columns if c.startswith("mh")]
    assert list(got["doc_id"]) == list(mh["doc_id"])
    for c in mh_cols:
        assert [int(x) for x in got[c]] == [int(x) for x in mh[c]], c


def test_salted_join_salt_is_content_derived(spark):
    """r04 VERDICT #7: the big-side salt must be a function of row CONTENT,
    not partition layout — identical (row -> salt) mapping and identical
    join output under different input partitionings (what a task retry or a
    different scan split produces)."""
    big = spark.range(0, 400).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "k long, v string")

    def salts(df):
        s = df.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(8)).cast("int"),
        )
        return {(r.k, r.payload): r._salt for r in s.collect()}

    assert salts(big.repartition(1)) == salts(big.repartition(13, "payload"))
    out1 = X.salted_join(big.repartition(1), small, "k").toPandas()
    out2 = X.salted_join(big.repartition(13, "payload"), small, "k").toPandas()
    key = ["k", "payload"]
    assert out1.sort_values(key).reset_index(drop=True).equals(
        out2.sort_values(key).reset_index(drop=True)
    )
    assert len(out1) == 400  # every big row joined exactly once


def test_connected_components_min_label(spark):
    """Known graph: {1,2,3} and {5,6} plus a diameter-8 chain — labels must
    be the component minimum for every node."""
    edges = [(1, 2), (2, 3), (5, 6)] + [(10 + i, 11 + i) for i in range(8)]
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.node: r.cluster for r in X.connected_components(pairs).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[5] == got[6] == 5
    assert all(got[10 + i] == 10 for i in range(9))


def test_connected_components_tiers_identical(spark, monkeypatch):
    """r05: the execution tiers — driver-local union-find (tiny graphs) and
    the distributed loop, broadcast-hinted (small) or shuffling every table
    (the 100 TB plan) — must produce IDENTICAL labels.  Mixed topology:
    clique + long chain + star + singletons-in-pairs."""
    edges = (
        [(1, 2), (2, 3), (1, 3)]
        + [(10 + i, 11 + i) for i in range(12)]
        + [(100, 100 + i) for i in range(1, 9)]
        + [(500, 501)]
    )
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")

    def run():
        return (
            X.connected_components(pairs)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )

    via_local = run()
    monkeypatch.setattr(X, "_LOCAL_EDGES", 0)
    via_broadcast = run()
    monkeypatch.setattr(X, "_BROADCAST_EDGES", 0)
    via_shuffle = run()
    assert via_local.equals(via_broadcast)
    assert via_local.equals(via_shuffle)
    assert set(via_local.cluster) == {1, 10, 100, 500}


def test_near_dup_clusters_drop_duplicates(spark, monkeypatch):
    """End-to-end dedup: exact copy + near copy cluster with the original;
    keeping representatives drops exactly the duplicates."""
    d = _docs(spark).limit(40).select("doc_id", "text")
    first = d.orderBy("doc_id").first()
    exact = d.limit(1).select(F.lit(900001).alias("doc_id"), "text")
    near = d.limit(1).select(
        F.lit(900002).alias("doc_id"), F.concat("text", F.lit(" zzz")).alias("text")
    )
    planted = d.unionByName(exact).unionByName(near)
    monkeypatch.setattr(X, "NEAR_DUP_JACCARD", 0.5)
    cl = X.near_dup_clusters(planted).toPandas()
    assert len(cl) == 42
    byid = cl.set_index("doc_id")
    assert byid.loc[900001, "cluster"] == first.doc_id
    assert byid.loc[900002, "cluster"] == first.doc_id
    assert bool(byid.loc[first.doc_id, "is_representative"])
    assert not bool(byid.loc[900001, "is_representative"])
    assert not bool(byid.loc[900002, "is_representative"])
    # exactly one representative per cluster; at least the two planted
    # duplicates are dropped (organic near-dups in the sample may add more)
    per_cluster = cl.groupby("cluster").is_representative.sum()
    assert (per_cluster == 1).all()
    assert int(cl.is_representative.sum()) <= 40


def test_near_dup_clusters_broadcasts_the_component_table(spark):
    """The driver tier's labels are a broadcast-hinted frame built from
    pandas: the executed plan joins them to the sketch ids with a
    BroadcastHashJoin, not a SortMergeJoin with two exchanges and sorts."""
    d = _docs(spark).limit(40).select("doc_id", "text")
    dup = d.limit(1).select(F.lit(900001).alias("doc_id"), "text")
    cl = X.near_dup_clusters(d.unionByName(dup))
    assert len(cl.collect()) == 41
    plan = cl._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    joins = [ln for ln in final.splitlines() if "Join" in ln]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], final
    assert "LeftOuter" in joins[0]


def test_near_dup_clusters_py4j_budget(spark):
    """One near_dup_clusters call, its candidate probe and component collect
    included, is driver time ahead of and between the op's jobs: each
    DataFrame or Column call is a py4j round trip.  Built from SQL text it
    sends ~390 commands on this table; the Column-op chains sent ~1,260."""
    from conftest import count_py4j_commands
    from qs_spark.cachereg import release_caches

    d = _docs(spark).limit(60).select("doc_id", "text")
    near = d.limit(1).select(
        F.lit(900002).alias("doc_id"), F.concat("text", F.lit(" zzz")).alias("text")
    )
    d = d.unionByName(near)

    def op():
        return X.near_dup_clusters(d).filter("is_representative").count()

    op()  # warm the lazy imports
    release_caches()
    n, sent = count_py4j_commands(op)
    release_caches()
    assert n <= 60  # the planted near copy clusters with its source
    assert sent <= 600, f"{sent} py4j commands for one near_dup_clusters call"


def _planted_dups(spark):
    """40 sf0.001 docs plus three exact copies of the smallest-id doc, a
    near copy of one of those copies, two null-text rows and two
    empty-text rows; the other docs are (mostly) singletons."""
    d = _docs(spark).limit(40).select("doc_id", "text")
    src = d.orderBy("doc_id").first()
    extra = spark.createDataFrame(
        [(900001 + i, src.text) for i in range(3)]
        + [(900004, src.text + " zzz")]
        + [(900005, None), (900006, None), (900007, ""), (900008, "")],
        d.schema,
    )
    return d.unionByName(extra), src.doc_id


def test_near_dup_clusters_reps_only_match_exact_edge_oracle(spark, monkeypatch):
    """Components over representatives only: the exact-copy edges no
    longer enter the graph, and the labels join back on rep.  The rows
    must equal the oracle that unions the exact edges into the graph —
    copies and the near copy with their source, each of the null-text and
    empty-text pairs with its own minimum."""
    docs, src = _planted_dups(spark)
    monkeypatch.setattr(X, "NEAR_DUP_JACCARD", 0.5)
    got = sorted(map(tuple, X.near_dup_clusters(docs).collect()))
    want = sorted(
        map(tuple, near_dup_clusters_with_exact_edges(docs, jaccard_threshold=0.5).collect())
    )
    assert got == want
    cluster = {d: c for d, c, _ in got}
    assert len(got) == 48
    assert {cluster[i] for i in (src, 900001, 900002, 900003, 900004)} == {src}
    assert cluster[900005] == cluster[900006] == 900005
    assert cluster[900007] == cluster[900008] == 900007


def test_near_dup_clusters_job_count(spark):
    """One near_dup_clusters(...).filter("is_representative").collect()
    runs 13 jobs on the planted table in this session: AQE query stages
    of the candidate probe (the sketch kernel and the LSH aggregates) and
    of the verify, and the output join.  With the count gate, the cached
    candidate-text table and the exact-copy edges in the component graph
    the same collect ran 20."""
    from qs_spark.cachereg import release_caches

    docs, _ = _planted_dups(spark)
    sc = spark.sparkContext
    group = "test_near_dup_clusters_job_count"
    sc.setJobGroup(group, group)
    try:
        reps = X.near_dup_clusters(docs).filter("is_representative").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_caches()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(reps) < 48
    assert n_jobs <= 13, f"{n_jobs} jobs for one near_dup_clusters collect"


def test_jaccard_pairs_sides_meet_across_arrow_batches(spark, monkeypatch):
    """The verify kernel pairs a pair's two side rows in a dict that lives
    across the partition's Arrow batches.  At maxRecordsPerBatch=2 a
    partition's ~20 side rows arrive in ~10 batches, so most pairs' sides
    arrive in different batches; the rows must equal the default batch
    size's and those of the path above the broadcast gate."""
    base_text = " ".join(f"w{i}" for i in range(60))
    docs = spark.range(20).selectExpr(
        "CAST(id AS INT) AS doc_id", f"concat('{base_text} u', CAST(id AS STRING)) AS text"
    )
    default = sorted(map(tuple, X.ngram_jaccard_pairs(docs).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        small = sorted(map(tuple, X.ngram_jaccard_pairs(docs).collect()))
        monkeypatch.setattr(X, "_BROADCAST_CANDS", 0)
        above = sorted(map(tuple, X.ngram_jaccard_pairs(docs).collect()))
    finally:
        spark.conf.set(key, prev)
    assert len(default) == 190  # every pair of the 20-doc family
    assert small == default
    assert above == default


def test_shingle_rule_at_the_short_end_matches_column_oracle(spark):
    """One shingle rule serves both kernels, below SHINGLE_N tokens too.
    Over an explicit all-pairs candidate table of docs with 0-4 tokens,
    leading and trailing whitespace, repeated tokens, a case and
    whitespace-run variant and a null text, _jaccard_verify's Jaccard of
    each pair equals the set Jaccard of the shingles_col oracle rounded to
    6; a pair with an empty intersection or a null side emits no row.
    The sketch kernel's signatures equal the oracle's on the same docs."""
    texts = {
        1: "", 2: "a", 3: "a b", 4: "a b c", 5: "a b c d", 6: "  a b c ",
        7: " a b", 8: "a b a b a b", 9: "A  B\tc", 10: "b c d",
        11: "a b c d a b c d", 12: None,
    }
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id int, text string")
    ids = sorted(texts)
    cand = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]], "doc_a int, doc_b int"
    )
    got = {(a, b): j for a, b, j in X._jaccard_verify(docs, cand).collect()}

    sh = {
        r.doc_id: set(r.sh)
        for r in docs.select("doc_id", shingles_col().alias("sh")).collect()
        if r.sh is not None
    }
    assert sh[1] == {""} and sh[2] == {"a"} and sh[4] == sh[9] == {"a b c"}
    assert sh[6] == {" a b", "a b c", "b c "} and sh[8] == {"a b a", "b a b"}
    want = {
        (a, b): round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if a in sh and b in sh and sh[a] & sh[b]
    }
    assert got == want
    assert not any(12 in p for p in got)
    assert len(want) >= 8

    a = X.minhash_signatures(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = minhash_signatures_expr(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(a.doc_id) == ids[:-1]
    assert a.equals(b.astype(a.dtypes.to_dict()))


def test_connected_components_driver_tier_without_arrow(spark):
    """With spark.sql.execution.arrow.pyspark.enabled off (a bare
    SparkSession's default) the driver tier's labels are still a local
    relation: built from a pa.Table they plan as a LocalTableScan, not as
    a parallelized Python RDD (Scan ExistingRDD), and equal the labels of
    a run with Arrow on."""
    edges = [(1, 2), (2, 3), (5, 6)] + [(10 + i, 11 + i) for i in range(8)]
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    default = sorted(map(tuple, X.connected_components(pairs).collect()))
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        labels = X.connected_components(pairs)
        plan = labels._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, labels.collect()))
    finally:
        spark.conf.set(key, prev)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert labels.schema.simpleString() == "struct<node:int,cluster:int>"
    assert got == default


def _pack_utilization(packed, budget, token_col="n_tokens"):
    """Packing quality rollup: packs, mean fill ratio, oversize count."""
    per_pack = packed.groupBy("pack_id").agg(
        F.sum(token_col).alias("_sum"), F.max(F.col("oversize").cast("int")).alias("_ov")
    )
    return per_pack.agg(
        F.count("*").alias("n_packs"),
        F.round(F.avg(F.least(F.col("_sum"), F.lit(budget)) / budget), 4).alias(
            "mean_fill"
        ),
        F.sum("_ov").alias("oversize_packs"),
    )


def test_pack_sequences_budget_and_determinism(spark):
    """Sequence packing: every non-oversize pack's token sum <= budget,
    oversize docs sit alone, pack ids are globally unique per doc, and the
    assignment is identical across input partitionings (content-derived
    sharding + ordering)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", (F.col("n_chars") / 4).cast("long").alias("n_tokens")
    )
    budget = 60
    packed = X.pack_sequences(docs, budget, n_shards=8).toPandas()
    assert len(packed) == docs.count()
    sums = packed.groupby("pack_id").n_tokens.sum()
    oversize_packs = set(packed[packed.oversize].pack_id)
    for pid, s in sums.items():
        if pid in oversize_packs:
            assert len(packed[packed.pack_id == pid]) == 1  # solo
        else:
            assert s <= budget, (pid, s)
    # determinism across partitionings
    again = X.pack_sequences(docs.repartition(17), budget, n_shards=8).toPandas()
    a = packed.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert (a.pack_id.values == b.pack_id.values).all()
    # utilization rollup sane
    u = _pack_utilization(X.pack_sequences(docs, budget, n_shards=8), budget).first()
    assert u.n_packs == packed.pack_id.nunique()
    assert 0 < u.mean_fill <= 1.0


def test_pack_sequences_oversize_and_edge(spark):
    d = spark.createDataFrame(
        [(1, 4), (2, 15), (3, 3), (4, 7), (5, 10)], "doc_id long, n_tokens long"
    )
    out = X.pack_sequences(d, budget=10, n_shards=1).toPandas().set_index("doc_id")
    assert bool(out.loc[2, "oversize"]) and not bool(out.loc[1, "oversize"])
    # doc 2 is alone in its pack
    p2 = out.loc[2, "pack_id"]
    assert (out.pack_id == p2).sum() == 1
    sums = out.groupby("pack_id").n_tokens.sum()
    for pid, s in sums.items():
        assert s <= 10 or pid == p2


def test_pack_sequences_string_id_collation(spark):
    """r05 VERDICT #6: the in-shard fill order is pandas sort_values —
    CODEPOINT order for string doc_ids.  Python's sorted() is the same
    order, and DuckDB's default collation for the oracle's ORDER BY is
    binary (also codepoint for UTF-8), so all three agree; this pins the
    contract with mixed-case + non-ASCII ids (where codepoint order differs
    visibly from any locale collation: 'Zebra' < 'apple' < 'Ärmel')."""
    ids = ["apple", "Apple", "Zebra", "zebra", "Ärmel", "éclair", "ABC1", "_x"]
    toks = [4, 7, 3, 9, 2, 6, 5, 8]
    docs = spark.createDataFrame(
        [(i, t, 0) for i, t in zip(ids, toks)],
        "doc_id string, n_tokens long, shard int",
    ).repartition(5)
    budget = 10
    out = (
        X.pack_sequences(docs, budget, shard_col="shard")
        .toPandas()
        .set_index("doc_id")
    )
    # reference greedy fill over Python sorted() (codepoint) order
    tok_of = dict(zip(ids, toks))
    expect, cur, pack = {}, 0, 0
    first = True
    for i in sorted(ids):
        t = tok_of[i]
        if not first and cur + t > budget:
            pack, cur = pack + 1, 0
        expect[i] = pack
        cur += t
        first = False
        if t > budget:
            pack, cur, first = pack + 1, 0, True
    got = {i: int(out.loc[i, "pack_id"]) for i in ids}
    assert got == expect, (got, expect)
    # codepoint order is visibly non-locale here: uppercase before lowercase
    assert sorted(ids)[:3] == ["ABC1", "Apple", "Zebra"]


def test_corpus_filter_single_reason_precedence(spark):
    """C4-style cleaning: every dropped doc gets exactly one reason in the
    documented precedence; keep == no reason; planted cases hit each rule."""
    rows = [
        (1, "short doc"),                                         # too_short
        (2, "!!! ??? ... " * 20),                                 # punctuation
        (3, "el que la de que los se una con por y el que la de"),  # language (es)
        (4, "the a of and to in is it that for " * 5),            # clean en
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    out = X.corpus_filter(d).toPandas().set_index("doc_id")
    assert out.loc[1, "drop_reason"] == "too_short" and not out.loc[1, "keep"]
    assert out.loc[2, "drop_reason"] == "punctuation"
    assert out.loc[3, "drop_reason"] == "language"
    assert out.loc[4, "drop_reason"] is None and bool(out.loc[4, "keep"])


def test_new_ops_hostile_edges(spark):
    """Empty/degenerate inputs must not crash the new operators."""
    empty_pairs = spark.createDataFrame([], "doc_a int, doc_b int")
    assert X.connected_components(empty_pairs).count() == 0
    one_doc = spark.createDataFrame([(1, "only doc here")], "doc_id int, text string")
    cl = X.near_dup_clusters(one_doc).toPandas()
    assert len(cl) == 1 and bool(cl.iloc[0].is_representative)
    # null text flows through corpus_filter without crashing
    nulls = spark.createDataFrame(
        [(1, None), (2, "the a of and to in is it that for " * 3)],
        "doc_id int, text string",
    )
    out = X.corpus_filter(nulls).toPandas().set_index("doc_id")
    assert not bool(out.loc[1, "keep"])  # null text never survives cleaning
    assert bool(out.loc[2, "keep"])
