"""MinHash-LSH bucket-occupancy audit across scale factors.

The companion of ``tools/ann_candidates.py`` for the dedup side
(VERDICT r7 item 7): measures the candidate volume of
``dedup_minhash_lsh``'s banded-LSH stage directly from bucket
occupancy — a LINEAR scan at any SF (signatures + a groupBy; no pair
materialization), so it reaches sf100 where the pair join itself is
the thing under audit.

Per SF it records: docs, bucket count, pre-distinct candidate pairs
(sum over buckets of C(size, 2)), max bucket, top bucket sizes, and
candidates-per-doc. Linear candidate growth (pairs/doc ~flat across
SFs) is the property that makes the operator viable at 100 TB.

The banding layout and prefix filters are NOT re-implemented here:
the audit calls the operator module's own ``_lsh_bands`` /
``_prefix_filter_expr`` / ``_ranked_shingles`` helpers over its
``_shingle_sets`` artifact, so a change to the shipping algorithm is
automatically a change to the audited one (the r8 lesson: evidence
describing an old algorithm is worse than no evidence).

History: this audit is how the r8 permutation defect was found. The
old family ``perm_coeffs`` (a_i = -70(i+1) mod P) made every
permutation rank shingles by the same g = 70h mod P, so buckets
degenerated to per-shingle document frequency: measured at sf100,
726,925,074 pre-distinct pairs / max bucket 7531 → ENOSPC. The fixed
family (``minhash_coeffs``, independent avalanched multipliers)
measured 44,828,526 / max 986 on the same corpus — 16x less, and
linear per decade.

``AUDIT=minhash,ppjoin`` (default both) also measures the PPJoin
paths from the same occupancy principle:

- jaccard prefix join volume = sum over shingles h of
  C(prefix_df(h), 2) — the rows streamed through the prefix equi-join
  before the size/position filters;
- containment join volume = sum of prefix_df(h) * full_df(h) minus
  the self-matches — the contained-prefix x container-full stream.

Run: python tools/lsh_buckets.py /root/testdata/sf0.1 \
         .artifacts/sf1 .artifacts/sf10 .artifacts/sf100
Writes LSH_BUCKETS.json at the repo root ($LSH_BUCKETS_OUT to
override).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark import get_spark
    from gcp_dbt_data_engineering_spark.operators import dedup
    from gcp_dbt_data_engineering_spark.session import clear_caches

    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]
    audits = set(os.environ.get("AUDIT", "minhash,ppjoin").split(","))
    spark = get_spark(app_name="lsh_buckets")
    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        label = os.path.basename(os.path.normpath(sf_dir))
        sets = dedup._shingle_sets(spark, sf_dir)
        sh = dedup._shingle_rows(spark, sf_dir)
        n_docs = sets.count()
        out[label] = {"n_docs": int(n_docs)}
        if "ppjoin" in audits:
            ranked = dedup._ranked_shingles(spark, sf_dir)
            jac = (
                ranked.filter(
                    F.expr(
                        dedup._prefix_filter_expr(
                            dedup.JACCARD_T_NUM, dedup.JACCARD_T_DEN
                        )
                    )
                )
                .groupBy("h")
                .count()
                .agg(
                    F.sum(F.expr("count*(count-1)/2")).alias("pairs"),
                    F.max("count").alias("max_df"),
                    F.sum("count").alias("pref_rows"),
                )
                .collect()[0]
            )
            con_pref = (
                ranked.filter(
                    F.expr(
                        dedup._prefix_filter_expr(
                            dedup.CONTAIN_T_NUM, dedup.CONTAIN_T_DEN
                        )
                    )
                )
                .groupBy("h")
                .agg(F.count(F.lit(1)).alias("pdf"))
            )
            full_df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("fdf"))
            con = (
                con_pref.join(full_df, "h")
                .agg(
                    F.sum(F.expr("pdf * fdf")).alias("stream"),
                    F.sum("pdf").alias("self_matches"),
                )
                .collect()[0]
            )
            # empty/degenerate corpus (no doc reaches shingle width):
            # aggregates come back NULL — record zeros, don't crash the
            # rest of a multi-SF sweep
            j_pairs = int(jac["pairs"] or 0)
            c_stream = int((con["stream"] or 0) - (con["self_matches"] or 0))
            out[label]["ppjoin_jaccard"] = {
                "prefix_rows": int(jac["pref_rows"] or 0),
                "prefix_join_pairs": j_pairs,
                "max_prefix_df": int(jac["max_df"] or 0),
                "pairs_per_doc": round(j_pairs / max(n_docs, 1), 3),
            }
            out[label]["ppjoin_containment"] = {
                "stream_rows": c_stream,
                "rows_per_doc": round(c_stream / max(n_docs, 1), 3),
            }
        if "minhash" in audits:
            sizes = (
                dedup._lsh_bands(sets).groupBy("band", "key").count().persist()
            )
            agg = sizes.agg(
                F.count("*").alias("n_buckets"),
                F.sum("count").alias("n_rows"),
                F.sum(F.expr("count*(count-1)/2")).alias("pairs"),
                F.max("count").alias("max_bucket"),
            ).collect()[0]
            top = [
                x["count"]
                for x in sizes.orderBy(F.desc("count")).limit(5).collect()
            ]
            sizes.unpersist(blocking=False)
            pairs = int(agg["pairs"] or 0)
            out[label].update({
                "n_buckets": int(agg["n_buckets"] or 0),
                "pre_distinct_pairs": pairs,
                "max_bucket": int(agg["max_bucket"] or 0),
                "top_buckets": top,
                "pairs_per_doc": round(pairs / max(n_docs, 1), 3),
            })
        print(label, json.dumps(out[label]))
        # the shingle relations are memoized per (session, sf_dir);
        # release them before the next (potentially huge) corpus
        clear_caches(spark, keep_table_handles=True)
    out["note"] = (
        "pre_distinct_pairs = sum over LSH buckets of C(size,2) — the "
        "exact volume entering the band self-join before DISTINCT. "
        "pairs_per_doc ~flat across SFs = linear candidate stage. Old "
        "perm_coeffs family at sf100 (pre-fix, for contrast): "
        "726925074 pairs, max bucket 7531."
    )
    out["note_ppjoin"] = (
        "ppjoin_jaccard.prefix_join_pairs = sum over shingles of "
        "C(prefix_df, 2) — rows streamed through the prefix equi-join "
        "before the size/position prunes; ppjoin_containment."
        "stream_rows = contained-prefix x container-full stream minus "
        "self matches. Both are per-doc FLAT-to-FALLING across "
        "sf0.1->1->10->100 (jaccard 24.5/8.9/6.8/6.9 pairs/doc; "
        "containment 27.2/16.5/14.7/14.8 rows/doc; max prefix df "
        "saturates at 17): the (df, h) global order keeps "
        "high-frequency shingles out of prefixes, so the candidate "
        "stage is sub-linear per doc as the corpus grows — the PPJoin "
        "property the operator docstrings claim, now measured."
    )
    path = os.path.join(
        REPO, os.environ.get("LSH_BUCKETS_OUT", "LSH_BUCKETS.json")
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("->", path)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
