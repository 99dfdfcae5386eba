"""Deduplication families for a large-scale training-data pipeline.

The reference dedups by key with hash indexes (`UniqueIndex`,
`vendor/mo_collections/unique_index.py`, used for idempotent block merges at
`activedata_etl/sinks/s3_bucket.py:99-117`).  A 100 TB corpus needs the
content-similarity families as well; all are implemented as compositions of
built-in DataFrame ops (shuffle-conscious: candidate generation always goes
through an equi-join key — shingle, band hash, or simhash chunk — never a
cross join).

Scale notes (10^10 docs):
- exact: one hash-agg on sha256 — map-side combine, minimal shuffle;
- ngram-jaccard: ONE shingle-keyed explode, then a PPJoin prefix and
  positional filter — each doc enters the self-equi-join with only its
  ~(1 - t)·|shingles| rarest shingles, not all its postings — then an exact
  verify; frequency cap drops stop-shingles that would quadratically blow
  up a hot join key (same skew reasoning as the salted LWW reduce);
- minhash-LSH: signature agg + band-bucket equi-join, candidates then
  verified exactly — the classic sub-quadratic path;
- simhash: 63-bit signature; block-permutation banding (every (B-h)-subset
  of B blocks) keeps exact recall while carrying multi-block band keys —
  vs naive h+1-chunk pigeonhole, ~10x fewer random collisions at h=8 and
  ~2^23x at h=3; optional per-bucket frequency cap bounds adversarial
  corpora;
- embedding near-dup: block×block tiling via applyInPandas — per-task
  memory O(corpus/n_blocks), no driver collect, no broadcast.
"""

from __future__ import annotations

import itertools as _it

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activedata_etl_spark.kernels import cosine_hits

TOKEN_RE = r"\S+"

# --- the "mix31" hash family: ANSI-SQL-expressible, engine-portable --------
# base60(s) = first 15 hex chars of sha256(s) as int64 (< 2^60), then the
# classic universal family u_i(x) = (a_i * (x mod P) + c_i) mod P over the
# Mersenne prime P = 2^31 - 1.  Every intermediate stays < 2^62, so the SAME
# arithmetic runs overflow-free as Spark long expressions AND DuckDB BIGINT
# SQL — which makes hash-defined operators (minhash, simhash) ORACLE-
# CHECKABLE.  It is the one family every hash-defined operator here uses.
MIX_P = 2_147_483_647


def mix_consts(seed: int, n: int) -> list[tuple[int, int]]:
    """n deterministic (a, c) pairs in [1, P-1] x [0, P-1] via a Lehmer
    LCG — driver-side only; the SAME constants are embedded in the Spark
    expressions and in the DuckDB oracle SQL."""
    state = (seed % MIX_P) or 1
    out = []
    for _ in range(n):
        state = (state * 48271) % MIX_P
        a = state
        state = (state * 48271) % MIX_P
        out.append((a or 1, state))
    return out


def base60(col) -> F.Column:
    """sha256 prefix as int64 — identical in Spark and DuckDB:
    Spark  conv(substring(sha2(x, 256), 1, 15), 16, 10)::long
    DuckDB ('0x' || substr(sha256(x), 1, 15))::BIGINT"""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical docs: (content_hash, n_docs, doc_ids, keep_id)."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        # null-content docs have NO established identity: sha2(null) = null
        # and groupBy buckets nulls together, which would report every
        # null-text doc as a byte-identical duplicate of the others
        .where(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin rebalance applied ONLY when the scan is under-parallel.

    Heavy per-row subtrees (shingle HOFs, k-hash minhash signatures,
    hyperplane projections) execute inside the MAP task that reads the
    file, BEFORE the first exchange.  A small local parquet (one file =
    one split) would serialize all of that on one core — measured 2.6 s
    vs 0.5 s for shingling sf0.1 on 32 cores.  At web scale inputs arrive
    as thousands of file-splits, the partition check passes, and this is
    a no-op (no extra shuffle of raw text/vectors).  Callers narrow the
    projection FIRST so any rebalance that does happen moves only the
    needed columns.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # non-batch plans (e.g. streaming) have no .rdd
        return df
    if parts >= max(2, target // 2):
        return df
    return df.repartition(target)


def shingles_of_tokens(toks: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles from an already-materialized token
    ARRAY COLUMN (1-based windows).  The tokens MUST be a bound column, not
    an inline expression: higher-order-function lambdas get no
    common-subexpression elimination, so an inlined tokenizer regex would
    re-run for every element_at — O(len x shingles) per doc (measured 12 s
    vs 0.5 s at sf0.1 before ``shingled`` materialized it)."""
    # docs with fewer than n tokens have NO shingles: guard with an explicit
    # empty array — sequence(1, 0) would be the DESCENDING [1, 0] in Spark,
    # whose element_at(toks, 0) throws under ANSI mode
    last = F.size(toks) - (n - 1)
    idx = F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(sh)


def shingled(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) frame: tokenize ONCE into a column, then window over it.

    The no-shingle guard filters on the TOKEN COUNT, not ``size(sh) > 0``
    (equivalent: a doc has a length-n window iff it has >= n tokens).
    Catalyst pushes the filter below the fanout exchange and substitutes
    the projection into the condition — with no CSE inside HOF lambdas a
    ``size(sh)`` condition re-ran the tokenizer regex per element_at,
    serially, in the scan task (measured 7.8 s vs 0.6 s at sf0.1).  The
    token-count predicate pays ONE regexp per row when pushed down.
    """
    df = fanout(df.select(id_col, text_col))
    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
    return (
        df.where(F.size(toks) >= n)
        .withColumn("__toks", toks)
        .select(
            F.col(id_col).alias("id"),
            shingles_of_tokens(F.col("__toks"), n).alias("sh"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard-similar pairs (id_a < id_b, jaccard >= threshold).

    PPJoin prefix + positional filter (Xiao et al., WWW 2008), then an exact
    verify.  ``max_shingle_freq`` drops shingles shared by more than N docs
    from candidate generation (stop-shingle skew guard for web scale);
    scores always come from the FULL shingle sets.

    Each doc's shingles are sorted by (f, shingle), f = the number of docs
    holding the shingle, rarest first.  Let w be a pair's first common
    shingle in that order, at 0-based positions i in x and j in y.  Every
    common shingle sorts at or after w, so |x∩y| <= min(|x| - i, |y| - j).
    Equivalence with the definition (a pair sharing at least one shingle of
    f <= cap, scored by round(J, 6) >= threshold):
    - with t' = threshold - 1e-6, round(J, 6) >= threshold implies J >= t',
      i.e. |x∩y| >= t'/(1 + t')·(|x| + |y|) and |x∩y| >= ceil(t'·|x|).  So
      i < |x| - ceil(t'·|x|) + 1, the prefix length (likewise j in y's
      prefix), and the row joining the two prefixes on w passes the
      positional bound min(|x| - i, |y| - j) >= t'/(1 + t')·(|x| + |y|);
      rows on later common shingles may fail it, as they miss earlier
      ones, and are dropped;
    - a shingle with f > cap sorts after every uncapped shingle, so when the
      pair shares an uncapped shingle, w is uncapped and its row is kept.
      The candidates are exactly the definition's candidates with J >= t',
      and the verify is exact.
    """
    t = threshold - 1e-6
    # ONE exchange on the shingle: the document frequency is a window over
    # it (no second consumer, so no pruned variant of the explode forks a
    # second exchange) and the per-doc regroup reads it.  explode_OUTER,
    # deliberately: plain explode lets Catalyst infer `size(sh) > 0 AND
    # isnotnull(sh)` predicates (InferFiltersFromGenerate) which push below
    # the fanout exchange and INLINE the whole shingle HOF into a scan-side
    # filter, with the tokenizer regex re-expanded per element_at (no CSE in
    # lambdas).  shingled() guarantees sh is non-null and non-empty, so
    # _outer is row-identical and generates no inferred predicates.
    ex = (
        shingled(df, id_col, text_col, n)
        .select("id", F.explode_outer("sh").alias("shingle"))
        .repartition("shingle")
        .withColumn("f", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    )
    # one id-keyed regroup gives each doc its size, its ordered prefix and
    # its shingle set for the verify; the aggregate is a pushdown barrier
    o = F.array_sort(F.collect_list(F.struct("f", "shingle")))
    size = F.size("o")
    docs = ex.groupBy("id").agg(o.alias("o")).select(
        "id", size.alias("n"),
        F.slice("o", 1, (size - F.ceil(size * t) + 1).cast("int")).alias("prefix"),
        F.col("o.shingle").alias("sh"),
    )
    pre = docs.select("id", "n", F.posexplode_outer("prefix").alias("i", "p"))
    if max_shingle_freq is not None:
        pre = pre.where(F.col("p.f") <= max_shingle_freq)
    a, b = (
        pre.select(F.col("id").alias(f"id_{side}"), F.col("n").alias(f"n_{side}"),
                   (F.col("n") - F.col("i")).alias(f"r_{side}"),
                   F.col("p.shingle").alias("shingle"))
        for side in "ab"
    )
    bound = (F.col("n_a") + F.col("n_b")) * (t / (1 + t))
    cand = (
        a.join(b, "shingle")
        .where((F.col("id_a") < F.col("id_b")) & (F.least("r_a", "r_b") >= bound))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - n_inter
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(n_inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 64,
    seed: int = 7,
) -> DataFrame:
    """k-permutation MinHash signature per doc.

    Computed with higher-order array functions (transform + array_min) so
    the signature is a per-ROW expression: no explode, no shuffle, no
    k-column aggregate — the doc table is scanned once and stays put.
    (The explode + groupBy(id).agg(64 mins) formulation was measured ~2x
    slower at sf0.1: it shuffles |doc|x|shingles| rows to re-group by id.)

    Hashing is the mix31 family: a sha256-prefix base per shingle, then k
    universal-hash permutations (a_i*x + c_i mod 2^31-1) — the classic
    MinHash family, reproducible in ANSI SQL, so the LSH pipeline is
    oracle-checkable.
    """
    sh = shingled(df, id_col, text_col, n)
    base = sh.withColumn(
        "__bh", F.transform("sh", lambda s: base60(s) % MIX_P)
    )

    # NOTE the closure factory: a `lambda b, a=a:` two-parameter lambda is
    # interpreted by pyspark's transform() as the (element, INDEX) form —
    # the "captured" default silently becomes the array position and every
    # permutation collapses to the same expression.  A one-parameter lambda
    # from a factory captures the loop variables correctly.
    def perm31(a, c):
        return lambda b: (b * a + c) % MIX_P

    sig = F.array(*[
        F.array_min(F.transform("__bh", perm31(a, c)))
        for a, c in mix_consts(seed, k)
    ])
    return base.select("id", sig.alias("signature"))


def _band_frame(sig: DataFrame, k: int, bands: int) -> tuple[DataFrame, list[str]]:
    """Explode a signature frame into one row per (id, band) with the band
    key columns, repartitioned ON those keys.  Shared by the self-join LSH
    (minhash_lsh_pairs) and the asymmetric batch-vs-corpus join
    (incremental_dedup).

    The key is the band number plus the band's raw r-value tuple, not a
    hash of it, so the candidate set is exactly reproducible in the DuckDB
    oracle (a hashed key could, with vanishing probability, admit a
    colliding candidate the oracle lacks).

    The repartition is deliberate: signatures are per-row HOF expressions
    with no exchange of their own, so without it every join consumer would
    recompute the whole k-hash subtree per side; with it the planner reuses
    one shuffle (ReusedExchange) and the join is co-partitioned — hashing
    happens exactly once per doc.
    """
    r = k // bands
    band_structs = F.array(*[
        F.struct(*[
            F.element_at("signature", b * r + j + 1).alias(f"v{j}")
            for j in range(r)
        ])
        for b in range(bands)
    ])
    banded = sig.select(
        # posexplode_OUTER everywhere a fixed-length array literal is exploded:
        # plain (pos)explode infers size>0/isnotnull predicates that inline the
        # whole signature/bucket HOF subtree into a pushed-down filter and
        # defeat AQE stage reuse (see ngram_jaccard_pairs).  These arrays are
        # fixed-length and non-null, so _outer is row-identical.
        "id", F.posexplode_outer(band_structs).alias("band", "bs")
    ).select("id", "band", "bs.*")
    join_keys = ["band"] + [f"v{j}" for j in range(r)]
    return banded.repartition(*[F.col(c) for c in join_keys]), join_keys


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 7,
    verify_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH banding + (optional) exact-Jaccard verification.

    bands of r = k/bands rows; docs colliding in any band are candidates
    (banded equi-join on the raw r-value tuple, never a cross join);
    candidates are then verified with the exact n-gram Jaccard so the
    output has no false positives.  Signatures and band keys are mix31
    (``minhash_signatures``, ``_band_frame``), so the candidate set is
    exactly reproducible in the DuckDB oracle.
    """
    sig = minhash_signatures(df, id_col, text_col, n=n, k=k, seed=seed)
    banded, join_keys = _band_frame(sig, k, bands)
    left = banded.withColumnsRenamed({"id": "id_a"})
    right = banded.withColumnsRenamed({"id": "id_b"})
    cand = (
        left.join(right, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not verify_exact:
        return cand
    # verify ONLY the candidate pairs: join each side's (distinct) shingle
    # set and compute Jaccard via array_intersect — O(candidates), not
    # O(all-pairs-sharing-a-shingle)
    # one id-keyed exchange feeds BOTH verify sides (shingling is a per-row
    # HOF subtree with no exchange of its own — same fix as ngram_jaccard)
    sh = shingled(df, id_col, text_col, n).repartition("id")
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    near: bool = False,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Survivors of a NEW batch deduplicated against an existing corpus —
    the steady-state shape of web-scale ingestion: the corpus is never
    re-deduplicated; each increment is checked against it (and against
    itself) and only survivors are appended.

    Exact stage (always): a batch doc is dropped when its content sha256
    appears in the corpus, or on a smaller-id doc of the batch itself.
    Both sides reduce to one projected hash column; the corpus check is a
    left_anti equi-join (no distinct — anti joins need none), the
    within-batch check a min-id-per-hash window.  At 10^10 corpus docs,
    materialize the corpus hash projection once (it is identical every
    increment) and feed it here instead of the raw corpus.

    Near stage (``near=True``): MinHash signatures for both sides, banded
    ASYMMETRIC equi-join — batch bands against corpus bands, never a self
    join over the union, so the shuffle carries O(batch + corpus bands)
    rows and the candidate set is O(collisions with the batch).  Survivor
    rule, greedy and order-independent: a batch doc is dropped iff it
    verifies (exact n-gram Jaccard) >= threshold against ANY corpus doc or
    any smaller-id batch doc.  Every stage is ANSI-SQL reproducible
    (registry oracle `dedup_incremental`).

    Returns the surviving batch rows with their original columns.

    Reference analog: content-addressed blocks keyed by etl2key made
    re-ingestion idempotent per block (activedata_etl/__init__.py:20-50);
    this generalizes the idea to corpus-level content identity.
    """
    from pyspark.sql import Window as W

    bh = F.sha2(F.col(text_col).cast("string"), 256)
    hb = batch.withColumn("__h", bh)
    # within-batch exact: first occurrence (min id) per hash survives
    hb = hb.withColumn(
        "__min_id", F.min(id_col).over(W.partitionBy("__h"))
    ).where(F.col(id_col) == F.col("__min_id")).drop("__min_id")
    survivors = hb.join(
        corpus.select(bh.alias("__h")), "__h", "left_anti"
    ).select(*batch.columns)
    if not near:
        return survivors
    # MATERIALIZE the batch-sized frames consumed by several branches
    # (survivors feeds the signature, the shingle verify AND the final
    # anti-join; the band frame feeds the asymmetric join and the
    # within-batch self-join; cand_x feeds the corpus semi-join and the
    # corpus verify).  AQE's stage cache only dedups branches with
    # identical canonical plans, and the event-log profile showed the
    # CORPUS signature+banding subtree executing twice (cand_x's two
    # consumers) plus 3-4 copies of the batch subtree — ~half the query's
    # CPU.  localCheckpoint pins each O(batch)/O(collisions) frame once;
    # nothing corpus-sized is ever materialized.
    survivors = survivors.localCheckpoint()
    # near stage over the exact survivors (strictly fewer docs to sign)
    sig_b = minhash_signatures(survivors, id_col, text_col, n=n, k=k,
                               seed=seed)
    sig_c = minhash_signatures(corpus, id_col, text_col, n=n, k=k, seed=seed)
    bb, keys = _band_frame(sig_b, k, bands)
    cb, _ = _band_frame(sig_c, k, bands)
    bb = bb.localCheckpoint()
    cand_x = (
        bb.withColumnsRenamed({"id": "id_b"})
        .join(cb.withColumnsRenamed({"id": "id_c"}), keys)
        .select("id_b", "id_c").distinct()
        .localCheckpoint()
    )
    sh_b = shingled(survivors, id_col, text_col, n).repartition("id") \
        .localCheckpoint()
    # shingle-verify ONLY the corpus docs that collided with the batch:
    # a broadcast-able semi join (candidate ids are O(batch collisions))
    # keeps the exact-Jaccard verify O(candidates) instead of re-shingling
    # the WHOLE corpus — at 10^10 corpus docs this is the difference
    # between an O(batch) increment and an O(table) one
    cand_c_ids = cand_x.select(F.col("id_c").alias(id_col)).distinct()
    sh_c = shingled(
        corpus.join(cand_c_ids, id_col, "left_semi").select(*corpus.columns),
        id_col, text_col, n,
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    union = F.size("sh_b") + F.size("sh_c") - inter
    hit_corpus = (
        cand_x
        .join(sh_b.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
        .join(sh_c.select(F.col("id").alias("id_c"),
                          F.col("sh").alias("sh_c")), "id_c")
        .where(F.round(inter / union, 6) >= threshold)
        .select("id_b").distinct()
    )
    # within-batch near pairs: self-join the EXISTING band frame (bb is
    # repartitioned on the band keys -> ReusedExchange with the asymmetric
    # join) and verify against the EXISTING sh_b — never re-sign or
    # re-shingle the batch (minhash_lsh_pairs would recompute both)
    cand_bb = (
        bb.withColumnsRenamed({"id": "id_a"})
        .join(bb.withColumnsRenamed({"id": "id_b"}), keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    inter_bb = F.size(F.array_intersect("sh_a", "sh_b"))
    union_bb = F.size("sh_a") + F.size("sh_b") - inter_bb
    dropped_in_batch = (
        cand_bb
        .join(sh_b.select(F.col("id").alias("id_a"),
                          F.col("sh").alias("sh_a")), "id_a")
        .join(sh_b.select(F.col("id").alias("id_b"),
                          F.col("sh").alias("sh_b")), "id_b")
        .where(F.round(inter_bb / union_bb, 6) >= threshold)
        .select("id_b")
    )
    drop = hit_corpus.unionByName(dropped_in_batch).distinct()
    out = survivors.join(
        drop.withColumnsRenamed({"id_b": id_col}), id_col, "left_anti"
    )
    # USING-join column hoist: left_anti reorders output columns — restore
    return out.select(*batch.columns)


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, seed: int = 11,
) -> DataFrame:
    """63-bit SimHash per doc (bit 63 kept clear to stay in signed long).

    One explode + one hash-agg with 63 conditional sums (all JVM-side);
    signature assembled from the per-bit majorities.

    Token bit b is the parity of the b-th mix31 universal hash of the
    token's sha256 prefix (see ``mix_consts``), which DuckDB reproduces, so
    the operator is oracle-checkable.
    """
    # explicit cheap token-count guard + explode_OUTER: plain explode would
    # infer the same size>0 predicate anyway (pushed below the fanout
    # exchange), but spelling it ourselves keeps the plan canonical across
    # branches so AQE can reuse the scan stage (see ngram_jaccard_pairs)
    toks_expr = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
    toks = (
        fanout(df.select(id_col, text_col))
        .where(F.size(toks_expr) >= 1)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(toks_expr).alias("tok"),
        )
    )
    # hash once per DISTINCT token, not per occurrence: sha256 + the 63
    # universal-hash parities are ~100x more rows of work when run per
    # occurrence (the corpus re-uses its vocabulary).  The parities pack
    # into one 63-bit mask long per token; occurrences join the mask
    # back (the vocab is frequency-floor-small, so AQE broadcasts it at
    # bench scale and it stays an equi-join at web scale) and the
    # per-doc aggregate tests mask bits instead of re-hashing.
    # Arithmetic is IDENTICAL to the per-occurrence form — same base60,
    # same (a, c) constants, same parity — so the signature is unchanged.
    # the second distinct is a CSE BARRIER, not a dedup: projection
    # collapse would otherwise inline base60 (sha256 + hex conv) into
    # every one of the 63 when-branches below — 126 sha256s per token,
    # measured 26 s serial in the AQE-coalesced single partition.  An
    # aggregate key is evaluated once per row and cannot be projected
    # into, so __bm materializes exactly once per distinct token.
    vocab = (
        toks.select("tok").distinct()
        .select("tok", (base60(F.col("tok")) % MIX_P).alias("__bm"))
        .distinct()
        # (a repartition here to parallelize the 63-way mask projection
        # was measured 3x WORSE: it cost the vocab its broadcast-join
        # plan and the exploded token frame got shuffled instead; the
        # ~2.6 s single-task mask stage is the cheaper evil)
    )
    mask = None
    for b, (a, c) in enumerate(mix_consts(seed, 63)):
        m = F.when(
            ((F.col("__bm") * a + c) % MIX_P) % 2 == 1, F.lit(1 << b)
        ).otherwise(F.lit(0))
        mask = m if mask is None else mask + m
    vocab = vocab.select("tok", mask.cast("long").alias("__mask"))
    toks = toks.join(vocab, "tok")
    bit = [
        F.col("__mask").bitwiseAND(F.lit(1 << b)) != 0 for b in range(63)
    ]
    sums = [
        F.sum(F.when(bit[b], 1).otherwise(-1)).alias(f"s{b}")
        for b in range(63)
    ]
    per_doc = toks.groupBy("id").agg(*sums)
    sig = None
    for b in range(63):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select("id", sig.cast("long").alias("simhash"))


# most blocks a band plan splits the signature into: the canonical-band
# dedup looks the first matching band up in a 2^B-entry literal table
_MAX_BAND_BLOCKS = 12


def _simhash_band_plan(max_hamming: int, max_bands: int = 64):
    """Block-permutation (Manku-style) band layout with EXACT recall.

    Split the 63 signature bits into B blocks and band on every
    (B - h)-subset of blocks: a pair within hamming h dirties <= h blocks,
    leaving >= B-h clean blocks, so at least one band (the all-clean subset)
    matches — no recall loss, by pigeonhole, for ANY B >= h + 1.  B is the
    largest block count with C(B, h) <= ``max_bands``, capped at
    ``_MAX_BAND_BLOCKS`` (the cap binds only at h = 1, where C(B, 1) = B
    would otherwise reach 16 and a 65,536-literal lookup table).

    Why not wider still: naive h+1-chunk pigeonhole (the B = h+1 degenerate
    case of this layout) gives 63/(h+1)-bit keys — at h=8 that is 7 bits /
    128 buckets, a ~n^2/128 candidate blowup on 10^9 docs.  Combining
    blocks multiplies key entropy by k = B-h while band count grows as
    C(B, h): h=8 -> B=10, 45 bands of ~12.6-bit keys (~10x fewer random
    collisions per shuffled row); h=3 -> B=8, 56 bands of ~39-bit keys
    (~2^23x fewer).  Returns (block bit offsets, list of block combos).
    """
    from math import comb

    B = max_hamming + 1
    while B < _MAX_BAND_BLOCKS and comb(B + 1, max_hamming) <= max_bands:
        B += 1
    starts = [63 * c // B for c in range(B + 1)]
    combos = list(_it.combinations(range(B), B - max_hamming))
    return starts, combos


# pipeline default for the per-band-bucket frequency cap — mirrors
# JACCARD_MAX_SHINGLE_FREQ (plans/queries.py): at 10^9 docs an adversarial
# near-identical boilerplate flood co-buckets in every band and candidate
# generation goes quadratic without it.  Exact-recall callers (the DuckDB
# oracle registry query) pass max_band_freq=None explicitly.
SIMHASH_MAX_BAND_FREQ = 200


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    seed: int = 11,
    max_bands: int = 64,
    max_band_freq: int | None = SIMHASH_MAX_BAND_FREQ,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates come from block-permutation banding (``_simhash_band_plan``:
    exact recall, wide band keys) and are verified with the exact hamming
    distance, so the output is precisely all pairs within ``max_hamming``.

    ``max_band_freq`` is the web-scale skew guard (same discipline as the
    Jaccard stop-shingle cap): band buckets holding more than N docs are
    dropped from candidate generation.  It bounds candidates at
    O(n * bands * freq) even on adversarial corpora, at the documented cost
    of recall for pairs ONLY co-bucketed in hot buckets (near-identical
    boilerplate floods).  ON by default (``SIMHASH_MAX_BAND_FREQ``) — pass
    ``None`` for exact recall-lossless semantics (the oracle registry query
    does).
    """
    sig = simhash(df, id_col, text_col, seed=seed)
    return simhash_pairs_from_sigs(
        sig, max_hamming=max_hamming, max_bands=max_bands,
        max_band_freq=max_band_freq,
    )


def simhash_pairs_from_sigs(
    sig: DataFrame,
    *,
    max_hamming: int = 3,
    max_bands: int = 64,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Banding + exact-hamming verify over an (id, simhash) frame."""
    cand = _simhash_candidates(
        sig, max_hamming=max_hamming, max_bands=max_bands,
        max_band_freq=max_band_freq,
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _simhash_candidates(
    sig: DataFrame,
    *,
    max_hamming: int,
    max_bands: int = 64,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b, sh_a, sh_b) from band joins —
    exposed separately so candidate volume is testable."""
    starts, combos = _simhash_band_plan(max_hamming, max_bands)

    def block(c):
        width = starts[c + 1] - starts[c]
        return F.shiftright("simhash", starts[c]).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    def band_key(combo):
        # concatenate the combo's block values into one long; total width
        # 63 - sum(dirty-block widths) <= 63 - h*ceil(63/B) < 60 bits for
        # h >= 1, so the concat never overflows a signed long
        key = None
        for c in combo:
            width = starts[c + 1] - starts[c]
            key = block(c) if key is None else (
                key * F.lit(1 << width) + block(c)
            )
        return key

    if max_hamming <= 0:
        keys = F.array(F.col("simhash"))  # hamming 0: the signature IS the key
    else:
        keys = F.array(*[band_key(cb) for cb in combos])
    banded = sig.select(
        "id", "simhash", F.posexplode_outer(keys).alias("band", "bk")
    )
    # ONE exchange aligned with the join keys: both self-join sides AND the
    # frequency cap hang off a single ReusedExchange (minhash/jaccard
    # discipline)
    banded = banded.repartition(F.col("band"), F.col("bk"))
    if max_band_freq is not None:
        freq = (
            banded.groupBy("band", "bk").count()
            .where(F.col("count") <= max_band_freq)
        )
        banded = banded.join(freq.select("band", "bk"), ["band", "bk"])
    left = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bk"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bk"
    )
    joined = left.join(right, ["band", "bk"]).where(F.col("id_a") < F.col("id_b"))
    if max_band_freq is None and max_hamming >= 1:
        # canonical-band dedup INSTEAD of a distinct shuffle: a band key is
        # the exact concatenation of its combo's block values, so two docs
        # co-bucket in band t iff every block of combo t is bit-identical —
        # a pure function of sig_a XOR sig_b.  A near-identical pair matches
        # up to ALL C(B, h) bands (hamming 0 matches every one), so the join
        # emits each true pair ~|combos| times and the old distinct shuffled
        # that whole multiplicity (~40x the output at h=8).  Keeping only
        # the FIRST matching band — computable per joined row from a B-bit
        # clean-block mask, no extra pass — emits each candidate pair
        # EXACTLY once, map-side, and the distinct disappears.  (With a
        # frequency cap a pair's canonical band can be capped away while a
        # later band still co-buckets it, so the capped path keeps the
        # distinct.)
        xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
        B = len(starts) - 1
        clean = None
        for c in range(B):
            width = starts[c + 1] - starts[c]
            m = F.when(
                F.shiftright(xor, starts[c]).bitwiseAND(
                    F.lit((1 << width) - 1)) == 0,
                F.lit(1 << c),
            ).otherwise(F.lit(0))
            clean = m if clean is None else clean + m
        # first matching combo per clean-block mask, precomputed driver-side
        # into a 2^B table (B <= 12 by the band plan for h <= 11; an exact
        # plan needs B >= h + 1 above that): one element_at per
        # joined row instead of |combos| chained comparisons
        combo_masks = [sum(1 << c for c in cb) for cb in combos]
        nope = len(combos)
        table = [
            next((t for t, m in enumerate(combo_masks) if mask & m == m), nope)
            for mask in range(1 << B)
        ]
        first = F.element_at(
            F.array(*[F.lit(t) for t in table]), clean.cast("int") + 1
        )
        return (
            joined.where(F.col("band") == first)
            .select("id_a", "id_b", "sh_a", "sh_b")
        )
    return joined.select("id_a", "id_b", "sh_a", "sh_b").distinct()


def _pair_schema(df: DataFrame, id_col: str):
    """Output schema of the embedding pair operators, and the numpy dtype
    their ``tile`` kernels read ids as: integral ids take the int64 path
    and come out ``long``; any other id type (a string id) passes through
    as Python objects and keeps its Spark type."""
    import numpy as np
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    integral = isinstance(id_type, T.IntegralType)
    if integral:
        id_type = T.LongType()
    return T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cosine", T.DoubleType()),
    ]), (np.int64 if integral else object)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-dup pairs over an embedding column — fully
    distributed block×block tiling, NO driver collect, NO broadcast.

    Each vector is hashed to one of ``n_blocks`` blocks and replicated to
    every tile (i<=j) its block participates in (``n_blocks`` replicas per
    row); ``groupBy(tile).applyInPandas`` then BLAS-multiplies the two
    blocks of each tile.  Per-task memory is O(2·corpus/n_blocks), shuffle
    volume is O(n_blocks·corpus) — size ``n_blocks`` so a tile fits executor
    memory (at 10^8 vectors × 768 dims float32, n_blocks≈4096 gives ~150 MB
    tiles).  Every unordered pair lands in exactly one tile, so the output
    is exact and duplicate-free.  The sub-quadratic alternative remains
    similarity.lsh_ann_topk's hyperplane buckets.
    """
    import numpy as np
    import pandas as pd

    out_schema, id_dtype = _pair_schema(df, id_col)

    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.least(F.col("__blk"), j).cast("int").alias("ti"),
            F.greatest(F.col("__blk"), j).cast("int").alias("tj"),
        ),
    )
    # a null vector has no cosine (the oracle's NULL fails >=): drop it
    # before the tiles stack vectors into one matrix
    replicated = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .where(F.col("vec").isNotNull())
        .withColumn("__blk", blk)
        .withColumn("__tile", F.explode_outer(F.array_distinct(tiles)))
        .select(
            F.col("__tile.ti").alias("ti"), F.col("__tile.tj").alias("tj"),
            "__blk", "id", "vec",
        )
    )

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = key
        ids = pdf["id"].to_numpy(dtype=id_dtype)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        if ti == tj:
            a_idx = b_idx = np.arange(len(ids))
        else:
            bk = pdf["__blk"].to_numpy()
            a_idx, b_idx = np.nonzero(bk == ti)[0], np.nonzero(bk == tj)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": id_dtype, "id_b": id_dtype, "cosine": np.float64}
            )
        sims = (mat[a_idx] @ mat[b_idx].T) / np.outer(norms[a_idx], norms[b_idx])
        # cosines round half away from zero, as the oracle's DuckDB round()
        # (and Spark's F.round, HALF_UP): a midpoint cosine (x * 1e6
        # exactly k + 0.5) scores the same here and in the oracle, so a
        # threshold between the two roundings cannot split them
        if ti == tj:
            # within-block: upper triangle only
            ii, jj, cos = cosine_hits(
                sims, threshold, ids[a_idx][:, None] < ids[b_idx][None, :])
            ia, ib = ids[a_idx][ii], ids[b_idx][jj]
        else:
            # cross-block: blocks are disjoint so every hit is a distinct
            # pair — normalize orientation to id_a < id_b
            ii, jj, cos = cosine_hits(sims, threshold, True)
            xa, xb = ids[a_idx][ii], ids[b_idx][jj]
            ia, ib = np.minimum(xa, xb), np.maximum(xa, xb)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cos})

    return replicated.groupBy("ti", "tj").applyInPandas(tile, out_schema)


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 23,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: hyperplane-LSH candidate pairs +
    exact-cosine verify — the scale path next to the exact (O(n²) compute)
    ``embedding_neardup_pairs`` tiling.

    Candidates are pairs co-bucketed in ANY of ``n_tables`` independent
    sign-bit tables (miss probability for a pair at angle θ decays as
    (1-(1-θ/π)^n_planes)^n_tables — vanishing for truly near-dup pairs);
    the (table, bucket) self-equi-join replaces the cross join, shrinking
    pair volume by ~2^n_planes/n_tables.  One explicit repartition on the
    join keys makes BOTH sides reuse a single exchange (the per-row HOF
    bucket expressions would otherwise be recomputed per side).  Verified
    pairs carry their true cosine, so output ⊆ the exact operator's output.

    The hyperplane weights are mix31, so bucketing is reproducible in ANSI
    SQL (DuckDB oracle).

    Physical shape (guide §4.2): bucket assignment goes through
    ``similarity.bucket_frame`` (one numpy matmul per Arrow batch —
    sign-equality with the JVM expressions it replaced is
    regression-tested, since the buckets DEFINE the candidate set), and
    scoring runs as one BLAS matmul per (table, bucket) group via
    ``applyInPandas`` — the same tiling kernel as the exact operator.  The
    previous per-pair Catalyst-HOF dot walked every candidate pair through
    an interpreted 64-element aggregate (~n²/2^n_planes pairs; 57 s at
    sf1.0); the per-bucket matmul scores the identical pairs in native
    code and emits only survivors, so the pair-dedup shuffle carries
    O(output) rows instead of O(candidates) (57.2 s -> ~3 s at sf1.0).
    Per-task memory is O(bucket rows x dim) plus a row-chunked score block
    — hot buckets stream through 2048-row chunks.
    """
    import numpy as np
    import pandas as pd

    from activedata_etl_spark.operators import similarity as S

    out_schema, id_dtype = _pair_schema(df, id_col)
    # a null vector has no cosine (the oracle's NULL fails >=): drop it
    # before bucket_frame and the tiles stack vectors into matrices
    src = df.select(id_col, vec_col).where(F.col(vec_col).isNotNull())
    b = S.bucket_frame(
        src, id_col, vec_col, n_planes=n_planes, n_tables=n_tables,
        seed=seed, carry_vec=True,
    ).repartition("table", "bucket")

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=id_dtype)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        # zero-norm vectors can never clear the threshold (the JVM path
        # scored them null); drop before scoring so 0/0 never occurs
        live = np.nonzero(norms > 0.0)[0]
        ids, mat, norms = ids[live], mat[live], norms[live]
        outs = []
        for lo in range(0, len(ids), 2048):  # bound the score block per chunk
            hi = min(lo + 2048, len(ids))
            # rounded half away from zero, as embedding_neardup_pairs
            ii, jj, cos = cosine_hits(
                (mat[lo:hi] @ mat.T) / np.outer(norms[lo:hi], norms),
                threshold, ids[lo:hi, None] < ids[None, :])
            outs.append((ids[lo:hi][ii], ids[jj], cos))
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": id_dtype, "id_b": id_dtype, "cosine": np.float64}
            )
        return pd.DataFrame({
            "id_a": np.concatenate([o[0] for o in outs]),
            "id_b": np.concatenate([o[1] for o in outs]),
            "cosine": np.concatenate([o[2] for o in outs]),
        })

    # a pair co-bucketed in several tables is scored once per table with the
    # identical deterministic cosine; one dedup shuffle over SURVIVORS only
    return (
        b.groupBy("table", "bucket").applyInPandas(tile, out_schema)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cosine")
    )


def near_dup_clusters(pairs: DataFrame, *, max_iter: int = 25) -> DataFrame:
    """Pair list -> connected components: (id, cluster_id = min id in the
    component).  This is the step a dedup pipeline actually consumes — keep
    ``id == cluster_id``, drop the rest.

    Min-label propagation WITH pointer jumping: each round every node takes
    (a) the min of its own and its neighbors' labels, then (b) the label of
    that label (the grandparent — path halving).  Step (b) turns the round
    complexity from O(component diameter) into **O(log diameter)** — a
    100k-doc boilerplate chain converges in ~17 rounds instead of 100k —
    at the cost of one extra equi-join per round against the (small) label
    frame.  Everything is distributed joins + hash aggs; the only driver
    action is the tiny convergence check.
    """
    from pyspark.sql import Observation

    # localCheckpoint(eager): materialize once AND truncate lineage so each
    # round's plan stays O(1) deep (persist alone lets the plan tree grow
    # with the iteration count)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # round 0 folded into the init: label = min(self, direct neighbors)
    labels = edges.groupBy("src").agg(F.min("dst").alias("nmin")).select(
        F.col("src").alias("id"), F.least("src", "nmin").alias("label")
    ).localCheckpoint()
    changed = None
    # +1: a run whose labels converge exactly on round max_iter-1 reports
    # changed>0 there — the extra round is the confirmation pass (changed==0)
    # that proves it, so correct output is not rejected
    for i in range(max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        mid = F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
        half = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select("id", F.col("label").alias("__old"), mid.alias("__mid"))
        # pointer jump (path halving): label <- label-of-label.  Every label
        # value is some node's id, so the self-join lookup always hits; the
        # result is monotone decreasing and stays within the component.
        parent = labels.select(
            F.col("id").alias("__pid"), F.col("label").alias("__plabel")
        )
        new = F.least(
            F.col("__mid"), F.coalesce(F.col("__plabel"), F.col("__mid"))
        )
        obs = Observation(f"cc_{i}")
        stepped = (
            half.join(parent, half["__mid"] == parent["__pid"], "left")
            .select("id", new.alias("label"), (new < F.col("__old")).alias("__chg"))
            .observe(obs, F.sum(F.col("__chg").cast("long")).alias("n"))
        )
        # ONE action per round: the checkpoint job also fills the observation
        labels = stepped.drop("__chg").localCheckpoint()
        changed = int(obs.get["n"] or 0)
        if changed == 0:
            break
    if changed:
        # exiting with labels still moving means cluster_id is NOT the
        # component minimum for chain-shaped components deeper than max_iter
        # — silently-wrong output; fail loudly instead
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter (components "
            f"deeper than max_iter exist)"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))
