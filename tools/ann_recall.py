"""Measured recall@10 per ANN variant per scale factor (VERDICT r7
item 8; extended r10 with VERDICT r9 items 2-3): the committed evidence
behind the regression tripwires in tests/test_similarity_oracle.py.

Ground truth is the exact brute-force spec (similarity_topk_cosine);
recall@10 = |ANN top-10 ∩ exact top-10| / |exact top-10| over all
query points. Three sections per SF in ANN_RECALL.json:

- the four shipped variants at the spec's own query set
  (``vec_id % 100 == 0`` — 1% of the corpus);
- ``dense`` (small SFs only): the SAME pipelines re-measured on a
  denser query set (``vec_id % DENSE_MOD == 0``) so the estimate rests
  on >= 20 queries instead of 5 — r9's 0.58/0.60 small-SF LSH numbers
  were 5-query estimates with +-0.2 binomial noise (VERDICT r9 item 3).
  Query density does not change the index (buckets/centroids are
  corpus-side), so this is the same measurement with tighter error
  bars.
- ``by_k`` (sf >= 0.1): recall of the IVF-Flat pipeline at the K
  sweep points of the occupancy audit (tools/ann_candidates.py) —
  the production knob ``N_PROBE*N/K`` needs a quality axis next to
  its cost axis (VERDICT r9 item 2). K != IVF_K runs a freshly
  trained Lloyd index with the spec's own fit/probe/re-rank rules.

Per-SF records MERGE into ANN_RECALL.json (same discipline as
ANN_CANDIDATES.json — a partial rerun must not drop other scales).

Run:  python tools/ann_recall.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VARIANTS = (
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "similarity_ann_ivf_kmeans",
    "similarity_pq_adc",
    "similarity_pq_ivf",
)

#: denser measurement-only query set for small SFs: 4x the spec's
#: query density -> >= 20 queries at sf0.001/sf0.01.
DENSE_MOD = 25
#: re-measure densely when the spec's own query count is below this
DENSE_MIN_QUERIES = 20

#: the spec's K plus the occupancy audit's sweep point
K_SWEEP = (128, 512)

OUT_PATH = os.path.join(REPO, "ANN_RECALL.json")


sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ann_candidates import ivf_index, write_merged  # noqa: E402


def _topk_sets(df) -> dict[int, set]:
    out: dict[int, set] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(ann_df, bf: dict[int, set], n_pairs: int) -> float:
    hits = sum(
        1 for r in ann_df.collect() if r.neighbor_id in bf.get(r.query_id, ())
    )
    return round(hits / n_pairs, 4)


def _ivf_flat_k(spark, sf_dir: str, k: int):
    """The similarity_ann_ivf pipeline (``similarity._ivf_flat``) over a
    freshly trained K-cell index — only the cell count varies."""
    from gcp_dbt_data_engineering_spark.operators import similarity as S

    base = S._quantized(spark, sf_dir)
    return S._ivf_flat(base, *ivf_index(base, k))


def _dedup_gt_recall(spark, sf_dir: str, names, max_queries: int = 200):
    """Recall@10 against UNIQUE-VECTOR ground truth (VERDICT r10 item
    6): sfN replica corpora carry verbatim duplicate vectors, so the
    naive sf1+ numbers are inflated — replicas of the query itself
    score cosine 1.0 and any index finds them. Here every vector maps
    to a content key (xxhash64 of the exact int64 quantized vector);
    the truth set is each query's top-10 DISTINCT contents excluding
    the query's own content, and a variant scores a hit only when it
    returns a vector whose content is in that set. Queries are strided
    to <= max_queries so the brute-force stage stays bounded.

    Measurement-only: indexes and spec outputs are untouched."""
    from pyspark.sql import Window, functions as F

    from gcp_dbt_data_engineering_spark.operators import similarity as S

    base = S._quantized(spark, sf_dir)
    qmod = S.QUERY_MOD
    nq = S._queries(base).count()
    stride = max(1, -(-nq // max_queries))
    ck = base.selectExpr("vec_id", "xxhash64(q) AS ck").persist()
    queries = S._queries(base).filter(
        (F.col("query_id") % (qmod * stride)) == 0
    )
    qck = ck.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "ck", "qck"
    )
    scored = S._exact_rerank(queries, S._neighbors(base))
    grouped = (
        scored
        .join(ck.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qck), "query_id")
        .filter(F.col("ck") != F.col("qck"))
        .groupBy("query_id", "ck")
        .agg(F.max("cosine").alias("cosine"),
             F.min("neighbor_id").alias("rep"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("rep")
    )
    truth: dict[int, set] = {}
    for r in (grouped.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 10).collect()):
        truth.setdefault(r.query_id, set()).add(r.ck)
    n_slots = sum(len(v) for v in truth.values())
    uniq = ck.select("ck").distinct().count()
    res: dict[str, object] = {
        "n_queries": len(truth),
        "query_stride": stride,
        "n_unique_vectors": uniq,
        "n_truth_slots": n_slots,
    }
    # the exact brute-force spec measures FIRST: replica corpora make
    # even the exact top-10 collapse onto copies of one unique
    # neighbor (sf1: 20k rows, 2000 unique vectors -> exact scores
    # 0.1 here), so the honest per-variant statement is recall
    # RELATIVE to the exact-search ceiling under the same lens.
    for name in ("similarity_topk_cosine",) + tuple(names):
        ann = (
            S.SPECS[name].spark(spark, sf_dir)
            .filter((F.col("query_id") % (qmod * stride)) == 0)
            .join(ck.withColumnRenamed("vec_id", "neighbor_id"),
                  "neighbor_id")
            .join(F.broadcast(qck), "query_id")
            .filter(F.col("ck") != F.col("qck"))
            .select("query_id", "ck").distinct()
        )
        hits = sum(
            1 for r in ann.collect() if r.ck in truth.get(r.query_id, ())
        )
        res[name] = round(hits / max(n_slots, 1), 4)
    ceiling = res["similarity_topk_cosine"]
    res["relative_to_exact"] = {
        n: round(res[n] / ceiling, 4) if ceiling else None for n in names
    }
    ck.unpersist()
    return res


def main() -> int:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(REPO, ".artifacts", "sf1"),
    ]
    from gcp_dbt_data_engineering_spark import clear_caches, get_spark
    from gcp_dbt_data_engineering_spark.operators import similarity as S

    spark = get_spark(app_name="ann_recall")
    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_dir} (absent)")
            continue
        bf = _topk_sets(S.SPECS["similarity_topk_cosine"].spark(spark, sf_dir))
        n_pairs = sum(len(v) for v in bf.values())
        row: dict[str, object] = {
            "n_queries": len(bf), "n_exact_pairs": n_pairs,
        }
        for name in VARIANTS:
            row[name] = _recall(
                S.SPECS[name].spark(spark, sf_dir), bf, n_pairs
            )

        # --- denser query set at small SFs (measurement-only: the
        # index is corpus-side, so only the query filter changes) -----
        if len(bf) < DENSE_MIN_QUERIES:
            orig = S.QUERY_MOD
            try:
                S.QUERY_MOD = DENSE_MOD
                dbf = _topk_sets(
                    S.SPECS["similarity_topk_cosine"].spark(spark, sf_dir)
                )
                dn = sum(len(v) for v in dbf.values())
                dense: dict[str, object] = {
                    "query_mod": DENSE_MOD,
                    "n_queries": len(dbf),
                    "n_exact_pairs": dn,
                }
                for name in VARIANTS:
                    dense[name] = _recall(
                        S.SPECS[name].spark(spark, sf_dir), dbf, dn
                    )
                row["dense"] = dense
            finally:
                S.QUERY_MOD = orig

        # --- per-K recall for the occupancy sweep (sf >= 0.1: K=512
        # needs enough vectors for 512 non-trivial cells) -------------
        n_vec = S._quantized(spark, sf_dir).count()
        if n_vec >= 2000:
            by_k: dict[str, float] = {}
            for k in K_SWEEP:
                if k == S.IVF_K:
                    by_k[f"k{k}"] = row["similarity_ann_ivf"]  # the spec
                    continue
                ann = _ivf_flat_k(spark, sf_dir, k)
                by_k[f"k{k}"] = _recall(ann, bf, n_pairs)
            row["ivf_flat_by_k"] = by_k

        # --- honest recall at replica-inflated SFs: unique-vector
        # ground truth (sf >= 1 corpora carry verbatim duplicates) ----
        if os.environ.get("DEDUP_GT") and n_vec >= 2000:
            row["dedup_ground_truth"] = _dedup_gt_recall(
                spark, sf_dir, VARIANTS
            )

        out[os.path.basename(sf_dir.rstrip("/"))] = row
        print(sf_dir, row, flush=True)
        write_merged(OUT_PATH, out)
        clear_caches(spark)
    print(f"-> {OUT_PATH}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
