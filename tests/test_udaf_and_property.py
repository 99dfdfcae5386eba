"""Custom Arrow aggregations + hypothesis property test for LWW invariance."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from activedata_etl_spark.functions.udaf import mode_agg, trimmed_mean_agg
from activedata_etl_spark.operators.lww import lww_reduce


def test_mode_and_trimmed_mean(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("a", "x", 100.0),
         ("b", "z", 5.0), ("b", "w", 5.0)],
        "g string, v string, n double",
    )
    got = {
        r["g"]: (r["m"], r["tm"])
        for r in df.groupBy("g").agg(
            mode_agg("v").alias("m"), trimmed_mean_agg("n").alias("tm")
        ).collect()
    }
    assert got["a"][0] == "x"
    assert got["b"][0] == "w"  # tie -> lexicographically smallest
    assert abs(got["a"][1] - (103.0 / 3)) < 1e-9


def test_jx_script_and_leaves(spark):
    from activedata_etl_spark.plans import jx

    df = spark.createDataFrame([(1, 2)], "a int, b int").select(
        "a", F.struct(F.col("b").alias("inner"), F.lit("s").alias("tag")).alias("obj")
    )
    out = jx.run(
        {"from": "t",
         "select": ["a", {"name": "calc", "value": {"script": "a * 10 + obj.inner"}},
                    {"value": {"leaves": "obj"}}]},
        {"t": df},
    )
    row = out.first()
    assert row["calc"] == 12 and row["inner"] == 2 and row["tag"] == "s"


# ---------------------------------------------------------------------------
# property: LWW reduce == python reduce, for arbitrary event sets and
# arbitrary partitioning (hypothesis-generated)
# ---------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),     # key id
        st.integers(min_value=0, max_value=50),    # commit_seq
        st.integers(min_value=0, max_value=50),    # offset
        st.sampled_from(["insert", "update", "delete"]),
        st.text(alphabet="abc", max_size=4),       # content
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy, n_parts=st.integers(min_value=1, max_value=5))
def test_lww_matches_python_reduce(spark, events, n_parts):
    rows = [
        (f"repo{k % 2}", f"p{k}", int(cs), int(off), op, c)
        for (k, cs, off, op, c) in events
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit_seq long, offset long, op string, content string"
    ).repartition(n_parts)
    got = {
        (r["repo"], r["path"]): (r["commit_seq"], r["offset"], r["op"], r["content"])
        for r in lww_reduce(df).collect()
    }

    expect: dict = {}
    for repo, path, cs, off, op, c in rows:
        k = (repo, path)
        if k not in expect or (cs, off) > (expect[k][0], expect[k][1]):
            expect[k] = (cs, off, op, c)
    # ties on (commit_seq, offset): duplicates may differ in payload — the
    # engine picks one deterministically; compare only where versions unique
    vc = Counter((r[0], r[1], r[2], r[3]) for r in rows)
    for k, v in expect.items():
        assert got[k][:2] == v[:2]
        key_rows = [r for r in rows if (r[0], r[1]) == k and (r[2], r[3]) == v[:2]]
        if len({(r[4], r[5]) for r in key_rows}) == 1:
            assert got[k] == v


# --- property: prefix-filter-verify jaccard == brute force ----------------

def _py_jaccard_pairs(texts: dict[int, str], n: int, threshold: float,
                      cap: int | None = None):
    """Reference implementation: exact jaccard over distinct word n-grams.
    With a ``cap``, a pair is a candidate only if it shares at least one
    shingle held by <= cap docs (the registry oracle's keep/cand rule)."""
    sets = {}
    for i, t in texts.items():
        toks = t.split()
        sh = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
        if sh:
            sets[i] = sh
    freq = Counter(s for sh in sets.values() for s in sh)
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            if cap is not None and all(freq[s] > cap for s in a & b):
                continue
            j = round(len(a & b) / len(a | b), 6)
            if j >= threshold:
                out[(ids[x], ids[y])] = j
    return out


_vocab = ["aa", "bb", "cc", "dd", "ee"]
_texts = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=0, max_size=14).map(" ".join),
    min_size=2, max_size=8,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=_texts,
       threshold=st.sampled_from([0.3, 0.5, 0.8]),
       cap=st.sampled_from([None, 1, 2, 100]))
# docs 0 and 1 share "cc bb dd" (held by 2 docs) and "aa cc bb" (held by
# 3, over the cap); by shingle text alone each doc's 2-shingle prefix would
# share only the capped one, so the pair survives only if capped shingles
# sort last
@example(texts=["aa cc bb dd ee", "aa cc bb dd aa", "aa cc bb"],
         threshold=0.5, cap=2)
def test_ngram_jaccard_matches_bruteforce(spark, texts, threshold, cap):
    """The prefix filter may never drop a qualifying pair: the operator
    equals brute force exactly, capped or not, with EXACT scores (never
    biased by the cap)."""
    from activedata_etl_spark.operators.dedup import ngram_jaccard_pairs

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold,
            max_shingle_freq=cap,
        ).collect()
    }
    assert got == _py_jaccard_pairs(dict(rows), 3, threshold, cap)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=_texts, threshold=st.sampled_from([0.3, 0.5]),
       cap=st.sampled_from([None, 1, 100]))
def test_contamination_matches_bruteforce(spark, texts, threshold, cap):
    """Cross-corpus count-filter-verify: even-indexed docs are the held-out
    set, odd-indexed the training set; every reported pair must carry the
    exact brute-force jaccard, and with no cap the scan is exhaustive."""
    from activedata_etl_spark.operators.sampling import contamination_pairs

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    test = df.where("doc_id % 2 = 0")
    train = df.where("doc_id % 2 = 1")
    got = {
        (r["test_id"], r["train_id"]): r["jaccard"]
        for r in contamination_pairs(
            train, test, "doc_id", "text", n=3, threshold=threshold,
            max_shingle_freq=cap,
        ).collect()
    }
    all_pairs = _py_jaccard_pairs(dict(rows), 3, threshold)
    # reorient brute-force pairs to (test_id, train_id)
    want = {}
    for (a, b), j in all_pairs.items():
        if a % 2 == 0 and b % 2 == 1:
            want[(a, b)] = j
        elif a % 2 == 1 and b % 2 == 0:
            want[(b, a)] = j
    if cap is None or cap >= len(texts):
        assert got == want
    else:
        assert set(got) <= set(want)
        for k, v in got.items():
            assert v == want[k]


_pack_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**40), max_value=2**40),  # doc id (any sign)
        st.one_of(st.none(), st.integers(min_value=0, max_value=5000)),
    ),
    min_size=1, max_size=60,
    unique_by=lambda r: r[0],
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_pack_rows,
       budget=st.integers(min_value=1, max_value=3000),
       shards=st.integers(min_value=1, max_value=6))
def test_pack_sequences_property_matches_greedy_fold(spark, rows, budget, shards):
    """For ANY (id, tokens) set — negative ids, null token counts, tiny
    budgets — the distributed packing equals the per-shard greedy python
    fold, and every item starts inside its pack's window."""
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts
    from activedata_etl_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(rows, "doc_id long, toks long")
    got = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["pack_pos"], r["tok_offset"])
        for r in pack_sequences(df, "doc_id", "toks", budget,
                                n_shards=shards).collect()
    }
    assert len(got) == len(rows)
    ((a, c),) = mix_consts(303, 1)
    by_shard = {}
    for i, t in rows:
        sh = ((i % MIX_P + MIX_P) % MIX_P * a + c) % MIX_P % shards
        by_shard.setdefault(sh, []).append((i, t or 0))
    for sh, docs in by_shard.items():
        cum = 0
        pos_in_pack = {}
        for i, t in sorted(docs):
            pack = cum // budget
            pos = pos_in_pack.get(pack, 0)
            pos_in_pack[pack] = pos + 1
            assert got[i] == (sh, pack, pos, cum - pack * budget), (i, got[i])
            assert 0 <= cum - pack * budget < budget
            cum += t
