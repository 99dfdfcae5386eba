"""Cut the query_mix tables from a full data directory (one that holds the
``documents``, ``embeddings`` and ``events`` parquet files of a scale
factor, as the registry's oracle checks use).  Run once, from the
repository root, and commit the output:

    python3 perfbench/make_sample.py <sf0.1 data dir> [--fraction 0.2]

The sample keeps whole entities, so the rows keep the source's
distributions and the structure that spans rows:

- ``documents``: ``doc_id`` below ``fraction`` x rows, plus the near-copy
  partner of every kept document that has one.  Near copies sit anywhere
  in the source, so a bare prefix would keep only ``fraction`` of the
  pairs; the closure keeps the source's near-duplicate rate.
- ``embeddings``: ``vec_id`` below ``fraction`` x rows.
- ``events``: every event of the users with ``user_id`` below
  ``fraction`` x users, so each kept user keeps their whole history
  (sessions and funnels span a user's events).

It then prints the statistics of source and sample side by side, the
figures ``perfbench/README.md`` cites, including the result size of each
query_mix query's DuckDB oracle, scaled by the rows or row pairs it reads.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "data")
TABLES = ("documents", "embeddings", "events")
NEAR = 0.8  # 3-shingle Jaccard at which two documents are near copies


def _shingles(text: str) -> set:
    w = text.split()
    return set(zip(w, w[1:], w[2:]))


def near_copy_pairs(texts: list[str]) -> list[tuple[int, int]]:
    """(i, j) for every document i carrying the near-copy marker token and
    its most similar other document j, when that one is a near copy."""
    sh = [_shingles(t) for t in texts]
    pairs = []
    for i, t in enumerate(texts):
        if "dup" not in t.split():
            continue
        best, j = max((len(sh[i] & sh[k]) / max(len(sh[i] | sh[k]), 1), k)
                      for k in range(len(texts)) if k != i)
        if best >= NEAR:
            pairs.append((i, j))
    return pairs


def sample(src: str, out: str, fraction: float) -> None:
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ev = pq.read_table(os.path.join(src, "events.parquet"))
    ids = docs["doc_id"].to_pylist()
    limit = round(docs.num_rows * fraction)
    pairs = [(ids[a], ids[b])
             for a, b in near_copy_pairs(docs["text"].to_pylist())]
    paired = {i for p in pairs for i in p}
    # unpaired documents by prefix; a pair whole when its marked copy is
    # in the prefix, so both kinds keep their source share
    keep = {i for i in ids if i < limit and i not in paired}
    keep |= {i for a, b in pairs if a < limit for i in (a, b)}
    n_users = pc.max(ev["user_id"]).as_py() + 1
    cut = {
        "documents": docs.filter(pc.is_in(
            docs["doc_id"], value_set=pa.array(sorted(keep), pa.int64()))),
        "embeddings": emb.filter(pc.less(
            emb["vec_id"], round(emb.num_rows * fraction))),
        "events": ev.filter(pc.less(ev["user_id"], round(n_users * fraction))),
    }
    for name, t in cut.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                       compression="zstd")


def oracle_rows(data_dir: str) -> dict:
    """Result rows of each query_mix query's DuckDB oracle."""
    import duckdb

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from querymix import QUERIES

    from activedata_etl_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return {q: len(con.sql(ORACLE_SQL[q]).df()) for q in QUERIES}
    finally:
        con.close()


def stats(data_dir: str) -> dict:
    """The figures that shape the query costs: row counts, token and length
    distributions, near-duplicate rates, the cosine tail of the embeddings,
    the per-user event counts, and the oracle result sizes."""
    d = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
    toks = [t.split() for t in d.text]
    lens = np.array([len(t) for t in toks])
    vocab = {w for t in toks for w in t}
    e = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pandas()
    x = np.stack(e.embedding.values).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = (x @ x.T)[np.triu_indices(len(x), 1)]
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).to_pandas()
    per_user = ev.user_id.value_counts().values
    ev = ev.sort_values(["user_id", "ts"])
    same_user = ev.user_id.values[1:] == ev.user_id.values[:-1]
    gaps = np.diff(ev.ts.values).astype("int64")[same_user] / 1e6
    rows = oracle_rows(data_dir)
    # queries whose result grows with the pairs of inputs are scaled by the
    # pair count; near copies and the event queries grow with the rows
    pairs = {"dedup_embedding_lsh": len(e), "dedup_embedding": len(e)}
    per = {q: (f"oracle_rows_per_million_pairs.{q}",
               n / (pairs[q] * (pairs[q] - 1) / 2) * 1e6) if q in pairs
           else (f"oracle_rows_per_1000_rows.{q}",
                 n / (len(d) if q.startswith("dedup") else len(ev)) * 1e3)
           for q, n in rows.items()}
    return {
        "documents": len(d),
        "vocabulary": len(vocab),
        "tokens_per_doc_p10_p50_p90": np.percentile(lens, [10, 50, 90]).tolist(),
        "docs_in_near_copy_pairs": round(
            len({i for p in near_copy_pairs(list(d.text)) for i in p})
            / len(d), 4),
        "lang_shares": d.lang.value_counts(normalize=True).round(3).to_dict(),
        "embeddings": len(e),
        "embedding_dim": int(x.shape[1]),
        "cosine_p99": round(float(np.percentile(cos, 99)), 4),
        "pairs_cosine_ge_0.5_per_million": round(
            float(np.mean(cos >= 0.5)) * 1e6, 2),
        "events": len(ev),
        "users": int(ev.user_id.nunique()),
        "events_per_user_p50": float(np.median(per_user)),
        "event_span_days": round(float(
            (ev.ts.max() - ev.ts.min()).total_seconds() / 86400), 2),
        "user_gap_s_p50": round(float(np.median(gaps)), 1),
        "event_type_shares": ev.event_type.value_counts(
            normalize=True).round(3).to_dict(),
        "value_p50": float(ev.value.median()),
        **{name: round(v, 2) for name, v in per.values()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src")
    ap.add_argument("--fraction", type=float, default=0.2)
    ap.add_argument("--out", default=OUT)
    args = ap.parse_args()
    sample(args.src, args.out, args.fraction)
    a, b = stats(args.src), stats(args.out)
    width = max(map(len, a))
    print(f"{'statistic':<{width}}  source | sample")
    for k in a:
        print(f"{k:<{width}}  {a[k]} | {b[k]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
