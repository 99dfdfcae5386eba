"""Dataset-assembly operators for a training-data pipeline: deterministic
splits, quota resampling, exact-count stratified sampling, weighted source
interleaving, sequence packing, and train/test contamination detection.

The reference shards work by key hash (`activedata_etl/etl.py:438-446` spot
workers over key ranges; ES routing by _id); a corpus pipeline needs the
same idea as USER-FACING operators: assign every document to a
train/val/test split purely from its id (stable under reruns, joins,
repartitioning — never `rand()`), and detect evaluation-set text leaking
into the training set.

Both are pure Catalyst expressions over the SQL-expressible mix31 hash
family (`operators/dedup.py`), so the DuckDB oracle replicates them
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activedata_etl_spark.operators.dedup import (
    MIX_P,
    fanout,
    mix_consts,
    shingled,
)


_INT_ID_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _id_residue(df: DataFrame, id_col: str, *, id_hash: str = "auto"):
    """Residue in [0, MIX_P) derived from the id column, with a dtype guard.

    Real corpora key on string/UUID ids (the reference's keys are strings
    end-to-end, `activedata_etl/__init__.py:20-50`), so the sampling family
    must accept them — and must NEVER silently mis-hash: under ANSI-off
    builds a ``string -> long`` cast yields null, which would route every
    row into the last split / drop it from every quota.  Hence an explicit
    dtype check instead of a cast.

    Modes:
      - ``auto``: integer ids use their own value as the residue (the
        legacy, oracle-bit-compatible path); string ids route through
        ``xxhash64`` (one JVM hash, the fast default at 10^10 rows).
      - ``xxhash64``: force the xxhash64 path (ids cast to string first so
        the int 7 and the string "7" agree).  Not SQL-oracle-replicable —
        DuckDB has no xxhash64.
      - ``sha``: first 15 hex digits of sha256(string(id)) as a long —
        slower, but both engines compute it identically
        (Spark ``conv(substring(sha2(x,256),1,15),16,10)`` == DuckDB
        ``('0x' || substr(sha256(x),1,15))::BIGINT``), so string-id splits
        stay DuckDB-oracle-checkable.
      - ``numeric``: force the legacy integer path (raises on non-integer).
    """
    dtype = dict(df.dtypes).get(id_col)
    if dtype is None:
        raise ValueError(f"id column {id_col!r} not in frame: {df.columns}")
    is_int = dtype in _INT_ID_TYPES
    if id_hash == "auto":
        id_hash = "numeric" if is_int else "xxhash64"
    if id_hash == "numeric":
        if not is_int:
            raise TypeError(
                f"id column {id_col!r} has dtype {dtype}; the numeric id "
                "path requires an integer column (string/UUID ids: use "
                "id_hash='xxhash64' or 'sha')"
            )
        # pmod, not %: both Spark and DuckDB keep the dividend's sign on %,
        # so a negative id would always land in the first split; the oracle
        # mirrors with ((id % P + P) % P)
        return F.pmod(F.col(id_col).cast("long"), F.lit(MIX_P))
    if not (is_int or dtype == "string"):
        raise TypeError(
            f"id column {id_col!r} has dtype {dtype}; supported id dtypes "
            "are integers and strings (float/binary ids are almost always "
            "a bug — derive a stable string key first)"
        )
    if id_hash == "xxhash64":
        return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(MIX_P))
    if id_hash == "sha":
        h = F.conv(
            F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 15),
            16, 10,
        ).cast("long")
        return F.pmod(h, F.lit(MIX_P))
    raise ValueError(f"unknown id_hash {id_hash!r}")


def _id_order(df: DataFrame, id_col: str):
    """Deterministic within-shard ordering key: integer ids order
    numerically (legacy/oracle-compatible), strings order by their UTF8
    binary value (Spark's default collation == DuckDB's)."""
    dtype = dict(df.dtypes).get(id_col)
    if dtype in _INT_ID_TYPES:
        return F.col(id_col).cast("long")
    return F.col(id_col)


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    *,
    seed: int = 101,
    id_hash: str = "auto",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named fraction.

    u = mix31(id) / P is uniform on [0, 1); cumulative weight intervals map
    u to a split name.  Deterministic in the id alone: the same document
    lands in the same split across reruns, engines, and table layouts —
    the property ``rand()``-based splitting lacks and training pipelines
    require (no eval contamination from re-shuffles).  Weights are
    normalized; iteration order of ``weights`` fixes the interval order.
    String/UUID ids are supported via ``id_hash`` (see ``_id_residue``).
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    total = float(sum(weights.values()))
    ((a, c),) = mix_consts(seed, 1)
    u = (_id_residue(df, id_col, id_hash=id_hash) * a + c) % MIX_P
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cut = int(acc * MIX_P)
        branch = F.when(u < cut, F.lit(name))
        expr = branch if expr is None else expr.when(u < cut, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def quota_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    id_col: str,
    *,
    default_rate: float = 1.0,
    seed: int = 202,
    id_hash: str = "auto",
) -> DataFrame:
    """Deterministic per-group subsampling to target mixing weights.

    A corpus pipeline rebalances sources/languages by DOWN-sampling
    over-represented groups ("keep 25% of en, all of everything else").
    Keep a row iff u = mix31(id) < rate(group) * P — the keep decision is a
    pure function of (id, group), so reruns, retries, and layout changes
    select the SAME subset (``df.sample`` does not survive any of those),
    and a row kept at rate r stays kept at any rate r' > r (nested samples
    for ablations).  One scan, zero shuffles; groups absent from ``rates``
    use ``default_rate``.  String/UUID ids via ``id_hash``
    (see ``_id_residue``).
    """
    if not all(0.0 <= r <= 1.0 for r in rates.values()):
        raise ValueError("rates must be fractions in [0, 1]")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError("default_rate must be a fraction in [0, 1]")
    ((a, c),) = mix_consts(seed, 1)
    u = (_id_residue(df, id_col, id_hash=id_hash) * a + c) % MIX_P
    cut = F.lit(int(default_rate * MIX_P))
    for name, rate in rates.items():
        cut = F.when(F.col(group_col) == name, int(rate * MIX_P)).otherwise(cut)
    return df.where(u < cut)


def stratified_sample_k(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    *,
    seed: int = 404,
    id_hash: str = "auto",
) -> DataFrame:
    """EXACTLY min(k, |group|) rows per group, chosen by deterministic
    hash rank — the eval-set construction primitive ("512 held-out docs
    per language").  ``quota_sample`` picks a RATE (count drifts with the
    group); this picks a COUNT.

    Rank = mix31(id) with the id itself as tiebreak, so membership is a
    pure function of (id, group): stable under reruns, retries, and
    layout changes, and NESTED — the k' < k sample is exactly the first
    k' rows of the k sample (ablation ladders share documents).

    One shuffle (the per-group window).  The rank is a full per-group
    sort: fine when groups ≫ cores and bounded (languages, sources); for
    a skewed giant group prefer ``quota_sample`` (rate, zero-shuffle) or
    pre-filter with it before ranking.  Adds ``sample_rank`` (0-based).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql import Window as W

    ((a, c),) = mix_consts(seed, 1)
    u = (_id_residue(df, id_col, id_hash=id_hash) * a + c) % MIX_P
    w = W.partitionBy(group_col).orderBy(u, _id_order(df, id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w) - 1)
        .where(F.col("sample_rank") < k)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    *,
    n_shards: int = 256,
    seed: int = 303,
    id_hash: str = "auto",
) -> DataFrame:
    """Greedy token-budget packing: assign every document to a training
    sequence ("pack") of ~``budget`` tokens.

    Layout: shard = mix31(id) % n_shards partitions the corpus into
    independent packing streams (one shuffle, each stream ~corpus/n_shards
    — size n_shards to executor counts, NOT one global window, which would
    serialize 10^10 rows through a single task).  Within a shard, docs are
    concatenated in deterministic id order and a doc belongs to the pack
    where its FIRST token lands: pack_id = floor((cumsum - tokens)/budget).
    A doc longer than the remaining room therefore OVERFLOWS its pack by up
    to one doc (standard pack-then-truncate semantics; callers that split
    documents instead should pre-chunk them).  Output adds shard, pack_id,
    pack_pos (0-based position within the pack) and tok_offset (tokens
    before this doc in its pack).

    Deterministic in (id, tokens) alone — same packs across reruns and
    engines; the arithmetic is plain windowed SUM, so a SQL oracle
    reproduces it exactly.  String/UUID ids via ``id_hash`` (shard comes
    from the hash residue; within-shard order is the id's own collation —
    see ``_id_residue`` / ``_id_order``).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    from pyspark.sql import Window as W

    ((a, c),) = mix_consts(seed, 1)
    u = (_id_residue(df, id_col, id_hash=id_hash) * a + c) % MIX_P
    order = _id_order(df, id_col)
    # a null token count must not poison the running sum for every later
    # doc in the shard — treat it as a zero-length doc
    toks = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    out = df.withColumn("shard", (u % n_shards).cast("int"))
    w = W.partitionBy("shard").orderBy(order)
    cum = F.sum(toks).over(w)
    out = out.withColumn("__start", cum - toks)
    out = out.withColumn(
        "pack_id", F.floor(F.col("__start") / budget).cast("long")
    )
    wp = W.partitionBy("shard", "pack_id").orderBy(order)
    return (
        out.withColumn("pack_pos", F.row_number().over(wp) - 1)
        .withColumn(
            "tok_offset",
            (F.col("__start") - F.col("pack_id") * budget).cast("long"),
        )
        .drop("__start")
    )


def interleave_sources(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    id_col: str,
    *,
    default_weight: float = 1.0,
    seed: int = 505,
    id_hash: str = "auto",
) -> DataFrame:
    """Deterministic weighted interleave of sources into one training
    stream: adds ``mix_key`` (double); ordering — or range-partitioning —
    by ``(mix_key, id)`` yields a stream that consumes source s at
    ``weight_s`` times the base rate, with each source's documents
    uniformly spread (no long single-source runs), until the source is
    exhausted.  The standard data-mixing shape ("sample wiki at 3x, web
    at 1x") without replacement.

    mix_key = u / weight, u = mix31(id)/P uniform on [0, 1): a pure
    per-row expression — ZERO shuffles here; the one range-partitioned
    sort belongs to the consumer that writes the stream (it pays it
    anyway to lay the order out).  A per-source row_number would instead
    serialize each source through a single task at 10^10 rows.

    Absolute composition targets (regardless of source size) compose:
    ``quota_sample`` to the target sizes first, then interleave.  Rows
    whose source has weight <= 0 are dropped (explicitly excluded).
    IEEE double division is bit-identical across engines, so the key is
    DuckDB-oracle-checkable (rounded to 9 places on both sides).
    """
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("weights must be >= 0 (0 drops the source)")
    ((a, c),) = mix_consts(seed, 1)
    u = ((_id_residue(df, id_col, id_hash=id_hash) * a + c) % MIX_P) \
        / F.lit(float(MIX_P))
    w = F.lit(float(default_weight))
    for name, wt in weights.items():
        w = F.when(F.col(source_col) == name, float(wt)).otherwise(w)
    # nullif, not a bare division: ANSI (Spark 4 default) raises
    # DIVIDE_BY_ZERO even for doubles, and a weight-0 source must simply
    # drop (null key), not kill the job
    key = F.round(u / F.nullif(w, F.lit(0.0)), 9)
    return (
        df.withColumn("mix_key", key)
        .where(F.col("mix_key").isNotNull())
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """(test_id, train_id, jaccard) pairs where evaluation text leaks into
    the training corpus — n-gram Jaccard over word shingles, computed as a
    bucketed equi-join (shared shingle -> candidate -> exact verify), never
    a cross join.

    Count-filter-verify across two corpora (``ngram_jaccard_pairs`` uses a
    prefix filter instead): one exploded frame per side joined on the
    shingle, candidate pair counts aggregated map-side, exact scores only
    for survivors.  At 10^10 train docs the join is bounded by the
    (capped) shingle postings, and the test side is typically small.
    """
    sh_tr = shingled(train, id_col, text_col, n)
    sh_te = shingled(test, id_col, text_col, n)
    # localCheckpoint, not just repartition: the exploded train frame feeds
    # the frequency cap, the posting join AND the size counts — AQE's
    # exchange reuse proved unreliable across those branches here (event-log
    # profile: the 48 MB explode exchange ran twice per query), and the
    # checkpoint stores the same bytes the shuffle already spills
    ex_tr = sh_tr.select(
        F.col("id").alias("train_id"), F.explode_outer("sh").alias("shingle")
    ).repartition("shingle").localCheckpoint()
    ex_te = sh_te.select(
        F.col("id").alias("test_id"), F.explode_outer("sh").alias("shingle")
    )
    ex_tr0 = ex_tr
    if max_shingle_freq is not None:
        freq = ex_tr0.groupBy("shingle").count().where(
            F.col("count") <= max_shingle_freq
        )
        ex_tr = ex_tr0.join(freq.select("shingle"), "shingle")
    # count-filter-verify across the two corpora: __c = shared shingles
    # with CAPPED train postings; the test side is uncapped, so the only
    # intersection __c can miss comes from capped-away train shingles —
    # with d = |train| - |train_capped|, |A∩B| <= __c + d bounds the
    # achievable jaccard and prunes candidates before any array_intersect
    # (exact when no cap).
    pc = (
        ex_te.join(ex_tr, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    sz_te = ex_te.groupBy("test_id").agg(F.count(F.lit(1)).alias("__n_te"))
    sz_tr = ex_tr0.groupBy("train_id").agg(F.count(F.lit(1)).alias("__n_tr"))
    if max_shingle_freq is not None:
        capped = ex_tr.groupBy("train_id").agg(
            F.count(F.lit(1)).alias("__n_tr_c")
        )
        sz_tr = sz_tr.join(capped, "train_id", "left").select(
            "train_id", "__n_tr",
            F.coalesce("__n_tr_c", F.lit(0)).alias("__n_tr_c"),
        )
    else:
        sz_tr = sz_tr.withColumn("__n_tr_c", F.col("__n_tr"))
    ub = F.col("__c") + (F.col("__n_tr") - F.col("__n_tr_c"))
    # materialize the pruned candidate list (O(candidates), tiny) so its
    # subtree runs once, then re-shingle ONLY the candidate docs for the
    # exact verify — the incremental_dedup corpus-narrowing pattern.  The
    # previous verify joined against FULL re-shingles of both corpora
    # (event-log profile: two extra whole-corpus shingle subtrees, ~50 s of
    # stage CPU at sf1.0); at 10^10 train docs that is the difference
    # between an O(candidates) verify and an O(corpus) one.  Scores still
    # come from the candidates' FULL shingle sets — output is unchanged.
    cand = (
        pc.join(sz_te, "test_id").join(sz_tr, "train_id")
        .where(ub / (F.col("__n_te") + F.col("__n_tr") - ub)
               >= threshold - 1e-6)
        .select("test_id", "train_id", "__n_te", "__n_tr")
        .localCheckpoint()
    )
    te_ids = cand.select(F.col("test_id").alias(id_col)).distinct()
    tr_ids = cand.select(F.col("train_id").alias(id_col)).distinct()
    sh_te_v = shingled(
        test.join(te_ids, id_col, "left_semi").select(*test.columns),
        id_col, text_col, n,
    )
    sh_tr_v = shingled(
        train.join(tr_ids, id_col, "left_semi").select(*train.columns),
        id_col, text_col, n,
    )
    verify = (
        cand.join(
            sh_te_v.select(F.col("id").alias("test_id"),
                           F.col("sh").alias("sh_te")),
            "test_id",
        )
        .join(
            sh_tr_v.select(F.col("id").alias("train_id"),
                           F.col("sh").alias("sh_tr")),
            "train_id",
        )
    )
    inter = F.size(F.array_intersect("sh_te", "sh_tr"))
    union = F.col("__n_te") + F.col("__n_tr") - inter
    return (
        verify.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("test_id", "train_id", "jaccard")
    )


__all__ = [
    "split_assign",
    "quota_sample",
    "stratified_sample_k",
    "interleave_sources",
    "pack_sequences",
    "contamination_pairs",
    "fanout",
]
