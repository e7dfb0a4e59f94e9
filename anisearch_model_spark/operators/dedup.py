"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

The reference deduplicates only by key (``drop_duplicates``,
``src/merge_datasets.py:435-449``) and by title keeping the best score at
query time (``src/api.py:427-455``).  A 100 TB training-data pipeline needs
content dedup; these operators implement it Spark-first:

  * exact: hash-groupBy on a text fingerprint (never string-compare bodies)
  * near-dup candidates: token blocking → explode + self-join on rare
    tokens (df-bounded so the join can't quadratically explode on hot
    tokens) → exact Jaccard verify
  * MinHash: md5-based hash family (h_i(tok) = md5(i || ':' || tok), min
    over tokens) — a random-oracle permutation family that is reproducible
    across ANY engine that has md5, which is what makes the DuckDB oracle
    possible; LSH bands of the signature bucket candidates
  * SimHash: per-bit majority vote using the high bit of each md5 hex digit

All are pure DataFrame ops (explode / groupBy / join) — no UDFs — so
Catalyst handles pushdown, AQE handles skew, and every shuffle is on a
bounded key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _tokens(df: DataFrame, id_col: str, text_col: str,
            shingle_size: int = 1) -> DataFrame:
    """Distinct lowercase word tokens per doc; ``shingle_size`` > 1 emits
    word n-gram SHINGLES (space-joined) instead — the classic MinHash unit
    (token sets treat any permutation of the same words as a dup; 3-gram
    shingles keep local word order, the standard near-dup definition)."""
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9\s]", " "),
        r"\s+",
    )
    words = F.filter(words, lambda w: F.length(w) > 0)
    if shingle_size > 1:
        n = shingle_size
        # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in
        # Spark, so short docs (< n words) get an explicit empty array
        units = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        units = words
    # no .distinct() here: array_distinct already makes rows unique per
    # (doc_id, token), and a distinct would plan a full exchange of the
    # LARGEST intermediate in every content-dedup operator (~10-40× the
    # corpus row count) for nothing — test_plans asserts its absence.
    # BUT that exchange was also what spread a few-file scan across the
    # cluster (a 50 MB parquet file is ONE scan partition; dropping the
    # distinct alone serialized the whole hash pipeline onto it —
    # measured 13s → 98s at sf0.1).  Repartition the COMPACT doc rows
    # before exploding instead: same parallelism, and the shuffle moves
    # ~corpus bytes, not the 10-40× token relation.
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.explode(F.array_distinct(units)).alias("token"),
        )
        .filter(F.length("token") > 0)
    )


# the token relation is cached because three plan branches read it (hash
# signatures, candidate bands, verify); the cache must not LEAK executor
# storage across repeated dedup runs in one session, so each run releases
# the previous run's cache (≤1 resident at a time).  Unpersisting a frame
# some old plan still references is safe — Spark just recomputes it.
# (Eagerly materializing the result instead — localCheckpoint — executes
# the plan through the RDD path, losing AQE: measured 4× slower at sf0.1.)
# Keyed by SparkSession so interleaved runs on different sessions
# (threads, serve-mode extensions) can't unpersist each other's caches.
_token_caches: dict[int, list[DataFrame]] = {}


def _fresh_token_cache(df: DataFrame, id_col: str, text_col: str,
                       shingle_size: int = 1) -> DataFrame:
    mine = _token_caches.setdefault(id(df.sparkSession), [])
    while mine:
        mine.pop().unpersist()
    toks = _tokens(df, id_col, text_col, shingle_size).cache()
    mine.append(toks)
    return toks


def _injective_int_hash(units: DataFrame, col: str) -> bool:
    """True iff ``xxhash64`` is collision-free on the DISTINCT values of
    ``units[col]`` — checked, not assumed: one tiny two-aggregate job
    over the (cached) relation.  When true, the verify stage can compare
    int64 arrays instead of string arrays: ~2.5× less intersect CPU and
    ~3× fewer bytes per array element (guide §2.3 narrower types), with
    PROVABLY identical Jaccard counts on this corpus.  A collision
    (probability ~|vocab|²/2⁶⁵) falls back to raw strings."""
    r = units.agg(
        F.countDistinct(col).alias("nv"),
        F.countDistinct(F.xxhash64(col)).alias("nh"),
    ).collect()[0]
    return int(r["nv"]) == int(r["nh"])


def _verify_jaccard(cand: DataFrame, toks: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verify, CANDIDATE-DRIVEN: each candidate pair joins
    the two docs' SORTED TOKEN ARRAYS (one row per doc side) and counts
    the overlap with ``array_intersect`` inside whole-stage codegen.

    Two bounded shuffle joins on doc ids — never the all-shared-token
    self-join that explodes quadratically on Zipf-hot tokens, and never
    the exploded cand×token relation either (measured at sf0.1: the
    exploded verify was ~400M intermediate rows / 22s; the array form is
    |cand| rows wide and ~4× faster).  Work is O(|cand| × tokens/doc);
    tokens are int64-hashed when provably injective (r6: the intersect
    over 6.7M sf0.1 candidates dropped ~2.5×; in local/AQE runs the
    per-doc array side auto-broadcasts, so the candidate relation never
    shuffles at all).
    """
    unit = (F.xxhash64("token") if _injective_int_hash(toks, "token")
            else F.col("token"))
    tok_arr = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(unit)).alias("_toks"),
        F.count("*").alias("_n"),
    )
    a = tok_arr.select(F.col("doc_id").alias("doc_a"),
                       F.col("_toks").alias("_ta"), F.col("_n").alias("na"))
    b = tok_arr.select(F.col("doc_id").alias("doc_b"),
                       F.col("_toks").alias("_tb"), F.col("_n").alias("nb"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fingerprint, doc_id,
    keep) where keep marks the smallest doc_id of each group."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    fp = df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("fingerprint"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return fp.withColumn("keep", (F.row_number().over(w) == 1)).select(
        "fingerprint", "doc_id", "keep"
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_token_df: int = 10,
) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard ≥ threshold.

    Blocking: candidate pairs must share a RARE token (document frequency
    ≤ max_token_df).  This bounds the self-join fan-out per token to
    max_token_df², independent of corpus size — hot (Zipf-head) tokens
    never enter the join, which is the skew story at 100 TB.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 4dp.
    """
    toks = _fresh_token_cache(df, id_col, text_col)
    tok_df = toks.groupBy("token").agg(F.count("*").alias("token_df"))
    rare = toks.join(
        F.broadcast(tok_df.filter(F.col("token_df") <= max_token_df)), "token"
    )
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(cand, toks, threshold)


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_fp_df: int = 10,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint-set Jaccard — the
    rolling-hash route to near-dup detection (MOSS): robust to word
    reordering limits of token sets because fingerprints are CHARACTER
    k-gram window minima, so any shared run of ≥ k+w-1 normalized chars
    forces a shared fingerprint.

    Same scale discipline as ``jaccard_pairs``: candidates must share a
    RARE fingerprint (doc frequency ≤ max_fp_df — boilerplate substrings
    shared by half the corpus never enter the self-join), and the
    verify is candidate-driven over per-doc sorted fingerprint ARRAYS
    (array_intersect in codegen), never an exploded cand×fp relation.
    Returns (doc_a, doc_b, fp_jaccard) with doc_a < doc_b, 4dp.
    """
    from anisearch_model_spark.operators.textstats import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col,
                              k=k, w=w)
    if id_col != "doc_id":
        fps = fps.withColumnRenamed(id_col, "doc_id")
    # same cache discipline as _fresh_token_cache: three plan branches
    # read the md5-heavy fingerprint relation (df census, blocking join,
    # verify arrays) — cache it once per run, releasing the previous
    # dedup run's caches in this session
    mine = _token_caches.setdefault(id(df.sparkSession), [])
    while mine:
        mine.pop().unpersist()
    fps = fps.cache()
    mine.append(fps)
    fp_df = fps.groupBy("fp").agg(F.count("*").alias("fp_df"))
    rare = fps.join(
        F.broadcast(fp_df.filter(F.col("fp_df") <= max_fp_df)), "fp"
    )
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # same int64-hash trick as _verify_jaccard (checked injective, else
    # raw strings): the fp-set intersect compares longs, not hex strings
    fp_unit = (F.xxhash64("fp") if _injective_int_hash(fps, "fp")
               else F.col("fp"))
    fp_arr = fps.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(fp_unit)).alias("_fps"),
        F.count("*").alias("_n"),
    )
    a = fp_arr.select(F.col("doc_id").alias("doc_a"),
                      F.col("_fps").alias("_fa"), F.col("_n").alias("na"))
    b = fp_arr.select(F.col("doc_id").alias("doc_b"),
                      F.col("_fps").alias("_fb"), F.col("_n").alias("nb"))
    inter = F.size(F.array_intersect(F.col("_fa"), F.col("_fb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "fp_jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("fp_jaccard") >= threshold)
        .select("doc_a", "doc_b", "fp_jaccard")
    )


def minhash_signature_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sigs array<string>) — md5-family MinHash signatures.

    Each DISTINCT vocabulary token is hashed once per hash function into
    an ARRAY (md5 cost ∝ |vocab|, not corpus token count) and broadcast
    back; per-doc signatures are element-wise string-mins — ONE shuffle
    on doc_id over the (doc, token) relation, never the ×num_hashes
    exploded relation (measured: the exploded groupBy((doc, i)) shuffled
    16× the rows and dominated dedup_minhash).

    ``toks``: optionally reuse an already-tokenized (doc_id, token) frame
    (the corpus is tokenized once per dedup run, not once per stage)."""
    if toks is None:
        toks = _tokens(df, id_col, text_col)
    tok_hash = (
        toks.select("token")
        .distinct()
        .select(
            "token",
            F.array(*[
                F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))
                for i in range(num_hashes)
            ]).alias("_hs"),
        )
    )
    hashed = toks.join(F.broadcast(tok_hash), "token")
    return hashed.groupBy("doc_id").agg(
        F.array(*[F.min(F.col("_hs")[i]) for i in range(num_hashes)]).alias("sigs")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
    shingle_size: int = 1,
) -> DataFrame:
    """MinHash → LSH band buckets → candidate pairs → exact-Jaccard verify.

    shingle→minhash→band→bucket-join: docs sharing any band key become
    candidates; candidates are verified with true token-set Jaccard.
    Returns (doc_a, doc_b, jaccard).

    Band sizing matters at scale: collision probability per band is
    s^band_size, so 4-hash bands keep the false-candidate rate ~s^4 —
    with Zipf-head vocabularies (most docs share the hottest tokens,
    true pairwise Jaccard ~0.2-0.3) 2-hash bands admit O(n^2) candidates
    and the verify stage explodes; 4-hash bands keep it linear-ish while
    still catching true near-dups (P(caught | s=0.8) ≈ 0.9).
    """
    toks = _fresh_token_cache(df, id_col, text_col, shingle_size)
    sig = minhash_signature_arrays(df, id_col, text_col, num_hashes, toks=toks)
    # ceil: a num_hashes not divisible by band_size emits a final PARTIAL
    # band (the `i // band_size` grouping) instead of silently dropping the
    # remainder hashes; F.slice past the array end returns the short tail
    n_bands = -(-num_hashes // band_size)
    # bands straight off the signature array — no (doc, band) shuffle:
    # band_key = md5(concat of the band's hashes in i order), exactly the
    # oracle's md5(string_agg(minhash, '' ORDER BY i))
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws(
                    "", F.slice("sigs", b * band_size + 1, band_size)
                ))
                for b in range(n_bands)
            ])
        ).alias("band", "band_key"),
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, toks, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — per-bit majority vote over token md5 bits.

    Bit j of a token = high bit of hex digit j of md5(token); the doc's
    bit j is 1 iff more tokens vote 1 than 0.  Identical across engines.
    """
    toks = _tokens(df, id_col, text_col).withColumn("h", F.md5("token"))
    # one conditional-sum column per bit over the UN-EXPLODED (doc, token)
    # relation: exploding tokens × bits would shuffle `bits`× the token
    # relation to (doc_id, j) — at 100 TB that ×16 shuffle dominates; this
    # form is ONE map-side-combining groupBy on doc_id, same result
    def vote(j: int):
        return F.when(
            F.substring("h", j + 1, 1).isin(*list("89abcdef")), 1
        ).otherwise(-1)

    agg = toks.groupBy("doc_id").agg(
        *[F.sum(vote(j)).alias(f"_s{j}") for j in range(bits)]
    )
    sh = F.lit(0).cast("long")
    for j in range(bits):
        sh = sh + F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(0).cast("long")
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 16,
                       max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``:
    (doc_a, doc_b, hamming).

    The pigeonhole blocking trick: split the ``bits``-bit hash into
    ``n_bands`` contiguous bands — any pair within Hamming distance
    < n_bands must agree EXACTLY on at least one band, so candidates are
    same-band-value collisions (an equi-join on a bounded key, never
    all-pairs), verified with one ``bit_count(xor)``.  Requires
    ``max_hamming < n_bands`` for zero false negatives (r differing bits
    can ruin at most r bands).  Scale shape: each band key has
    2^(bits/n_bands) values; hot keys mean genuinely near-identical docs,
    the same skew AQE handles in the MinHash band join.
    """
    assert max_hamming < n_bands, "pigeonhole guarantee needs r < n_bands"
    assert bits % n_bands == 0
    width = bits // n_bands
    sh = simhash(df, id_col, text_col, bits)
    bands = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", b * width).bitwiseAND(F.lit((1 << width) - 1))
            for b in range(n_bands)
        ])).alias("band", "band_val"),
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def cosine_near_dup_pairs(df: DataFrame, dim: int, threshold: float = 0.9,
                          n_planes: int = 8, seed: int = 42,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked:
    (id_a, id_b, cosine) for SAME-BUCKET pairs with cosine ≥ threshold.

    Blocking = md5-derived random-hyperplane sign buckets
    (operators/similarity.RandomHyperplaneLSH — SQL-reproducible, so the
    oracle mirrors the exact candidate semantics).  The all-pairs compare
    never happens: the self-join is on the bucket key, each bucket holds
    ~N/2^n_planes vectors, and the join is bucket-co-partitioned — at
    100 TB this is a bounded shuffle on a 2^n_planes-ary key (raise
    n_planes with corpus size to keep buckets flat), not an O(N²) blow-up.
    Cosines are computed JVM-side (zip_with/aggregate, float64) and
    rounded to 4dp before the threshold for cross-engine determinism.
    """
    from anisearch_model_spark.operators.similarity import (
        RandomHyperplaneLSH,
        _as_double,
        _dot,
    )

    lsh = RandomHyperplaneLSH(dim=dim, n_planes=n_planes, seed=seed)
    t = lsh.transform(df, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket"
    )
    a = t.select(F.col("id").alias("id_a"), F.col("v").alias("_va"), "bucket")
    b = t.select(F.col("id").alias("id_b"), F.col("v").alias("_vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    va, vb = _as_double(F.col("_va")), _as_double(F.col("_vb"))
    cos = F.round(
        _dot(va, vb) / (F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb))), 4
    )
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
