"""Per-query candidate-volume audit for the ANN family (VERDICT r7
item 7, ANN half).

Running the ANN pair joins at sf100 is intractable by construction:
the spec's query set is a fixed 1% of the corpus, so total pair work
grows quadratically even though each variant's PER-QUERY work is the
bounded quantity that matters on a cluster (a production deployment
serves a fixed query batch against a growing corpus). This tool
measures that per-query quantity directly from index OCCUPANCY —
bucket/cluster sizes joined to each query's probe set — which is a
linear scan at any SF, no pair materialization.

Variants:

- ``lsh``: candidates/query = sum over the query's 56 8-bit band
  keys of (bucket size - 1) — the spec's pre-distinct join volume
  (an upper bound on distinct candidates; at sf0.1 distinct is
  ~0.22N vs ~0.26N pre-distinct). Band geometry is fixed, so the
  audit shows linear-in-N growth: the published knob is band
  count/width, not corpus-side magic.
- ``ivf_flat``: rows in the FLAT_PROBE probed cells (minus self when
  the query's own cell is probed) — the spec's own query set and
  probe step (``similarity._queries`` / ``_ivf_probes``) over an index
  trained with the spec's fit and assignment. All of these rows get
  exact math.
- ``ivf_sq8``: rows in the SQ8_PROBE probed cells — but these are
  scanned through 4x int8 codes; the exact-math budget is only the
  compressed top max(RERANK_MIN, N/RERANK_DIV) per query, reported
  as ``exact_rerank_frac``.
- ``ivf_flat_k512``: the K sweep point demonstrating the ~N/K
  scaling law a 100 TB deployment uses (K grows with the corpus;
  per-query candidates stay ~flat when K ∝ N).
- ``pq_adc`` / ``topk_cosine``: linear scans by design (PQ compresses
  8x but scores every row); recorded analytically as N-1.

Writes ANN_CANDIDATES.json at the repo root.

Run: python tools/ann_candidates.py /root/testdata/sf0.1 \
         .artifacts/sf1 .artifacts/sf10 .artifacts/sf100
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from gcp_dbt_data_engineering_spark.session import (  # noqa: E402
    clear_caches,
    get_spark,
)
from gcp_dbt_data_engineering_spark.operators.similarity import (  # noqa: E402
    BAND_BITS,
    FLAT_PROBE,
    IVF_ITERS,
    IVF_K,
    N_BANDS,
    PQ_PROBE,
    QUERY_MOD,
    RERANK_DIV,
    RERANK_MIN,
    SQ8_PROBE,
    _assign_cids,
    _ivf_probes,
    _kmeans_cents_df,
    _quantized,
    _queries,
    _spark_chunks,
    band_geometry,
)

#: the spec's K plus one sweep point to demonstrate the N/K law (the
#: production knob: grow K with the corpus, per-query work stays flat)
K_SWEEP = (IVF_K, 512)


def _stats(perq: DataFrame, n_corpus: int) -> dict:
    r = perq.agg(
        F.count("*").alias("n_queries"),
        F.avg("cand").alias("mean"),
        F.expr("CAST(percentile(cand, 0.5) AS DOUBLE)").alias("p50"),
        F.expr("CAST(percentile(cand, 0.95) AS DOUBLE)").alias("p95"),
        F.max("cand").alias("max"),
    ).collect()[0]
    return {
        "n_queries": r["n_queries"],
        "mean": round(r["mean"], 1),
        "p50": r["p50"],
        "p95": r["p95"],
        "max": r["max"],
        "frac_of_corpus": round(r["mean"] / max(n_corpus - 1, 1), 4),
    }


def ivf_index(base: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """(cents, members): a ``k``-cell inverted file trained with the
    spec's Lloyd fit and assignment — at ``k = IVF_K`` the spec's own
    ``_ivf_cents`` / ``_ivf_members``."""
    cents = _kmeans_cents_df(base, k, IVF_ITERS)
    members = _assign_cids(
        base.select("vec_id", "q"), cents, extra_cols=("vec_id",)
    )
    return cents, members


def _probes(base: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """(vec_id, cid): the spec's queries and their ``n_probe`` probed
    cells of the index ``cents`` — the spec's own probe step."""
    return _ivf_probes(_queries(base), cents, n_probe).selectExpr(
        "query_id AS vec_id", "cid"
    )


def _probed_stats(
    probes: DataFrame, sizes: DataFrame, own: DataFrame, n: int
) -> dict:
    """Candidates/query = sum of probed cluster sizes, minus self when
    the query's own cluster is probed (the spec's query_id !=
    neighbor_id filter)."""
    perq = (
        probes.join(F.broadcast(sizes), "cid")
        .join(own, "vec_id")
        .groupBy("vec_id")
        .agg(
            (
                F.sum("sz")
                - F.max((F.col("cid") == F.col("own_cid")).cast("bigint"))
            ).alias("cand")
        )
    )
    return _stats(perq, n)


OUT_PATH = os.path.join(REPO, "ANN_CANDIDATES.json")


def merge_into(path: str, fresh: dict) -> dict:
    """Merge this run's per-SF records into the existing artifact.

    A plain overwrite silently DROPS every scale factor not re-measured
    by this invocation — exactly what happened in r9, when a dying
    multi-hour all-SF run left only sf10 behind and the multi-SF
    flat-fraction evidence vanished (VERDICT r9 item 1). Per-SF records
    are independent measurements, so the merge is a dict update: fresh
    SFs replace same-named stale ones, untouched SFs survive.
    """
    out: dict[str, dict] = {}
    try:
        with open(path) as f:
            out = json.load(f)
    except (OSError, ValueError):
        pass  # first run / corrupt partial write: start fresh
    out.update(fresh)
    return out


def write_merged(path: str, fresh: dict) -> dict:
    """Merge THEN write. The read must complete before the file is
    opened for writing — ``json.dump(merge_into(path, out),
    open(path, 'w'))`` truncates the file before merge_into reads it,
    silently reproducing the overwrite bug the merge exists to fix
    (caught live in r10: the first checkpoint emptied the committed
    sf10 record)."""
    merged = merge_into(path, fresh)
    # atomic replace: a kill mid-dump must never tear the artifact
    # (a torn file makes the next merge_into "start fresh" and drop
    # every previously committed per-SF record)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(merged, f, indent=1)
    os.replace(tmp, path)
    return merged


def main() -> int:
    spark = get_spark()
    out: dict[str, dict] = {}
    for sf_dir in sys.argv[1:]:
        sf_dir = os.path.abspath(sf_dir)
        base = _quantized(spark, sf_dir)
        n = base.count()
        rec: dict[str, object] = {"n_vectors": n}

        # --- sign-LSH: per-query pre-distinct join volume -------------
        nb, bb = band_geometry(n)  # size-adaptive, matches the spec
        rec["band_geometry"] = [nb, bb]
        chunks = _spark_chunks(base, nb, bb).persist()
        sizes = chunks.groupBy("c", "ck").agg(F.count("*").alias("sz"))
        perq = (
            chunks.filter((F.col("vec_id") % QUERY_MOD) == 0)
            .join(F.broadcast(sizes), ["c", "ck"])
            .groupBy("vec_id")
            .agg(F.sum(F.col("sz") - 1).alias("cand"))
        )
        rec["lsh"] = _stats(perq, n)
        chunks.unpersist()

        # --- trained IVF (shared by both IVF specs), K sweep ----------
        for k in K_SWEEP:
            cents, members = ivf_index(base, k)
            assigned = members.withColumnRenamed("cid", "own_cid").persist()
            sizes = (
                assigned.groupBy("own_cid").agg(F.count("*").alias("sz"))
                .withColumnRenamed("own_cid", "cid")
            )
            if k == IVF_K:
                # the two spec probing styles over the spec's index
                rec["ivf_flat"] = _probed_stats(
                    _probes(base, cents, FLAT_PROBE),
                    sizes, assigned, n,
                )
                sq8 = _probed_stats(
                    _probes(base, cents, SQ8_PROBE),
                    sizes, assigned, n,
                )
                sq8["note"] = (
                    "compressed (4x int8) scan of the probed cells; "
                    "exact re-rank only the compressed top "
                    f"max({RERANK_MIN}, N/{RERANK_DIV}) per query"
                )
                sq8["exact_rerank_frac"] = round(
                    max(RERANK_MIN, -(-n // RERANK_DIV)) / max(n - 1, 1),
                    4,
                )
                rec["ivf_sq8"] = sq8
                pq = _probed_stats(
                    _probes(base, cents, PQ_PROBE),
                    sizes, assigned, n,
                )
                pq["note"] = (
                    "IVF-PQ: compressed (8x packed PQ) ADC scan of "
                    "the probed cells; exact re-rank only the ADC top "
                    f"max({RERANK_MIN}, N/{RERANK_DIV}) per query"
                )
                pq["exact_rerank_frac"] = round(
                    max(RERANK_MIN, -(-n // RERANK_DIV)) / max(n - 1, 1),
                    4,
                )
                rec["pq_ivf"] = pq
            else:
                rec[f"ivf_flat_k{k}"] = _probed_stats(
                    _probes(base, cents, FLAT_PROBE),
                    sizes, assigned, n,
                )
            assigned.unpersist()

        # --- linear scans by design -----------------------------------
        rec["pq_adc"] = {"mean": n - 1, "frac_of_corpus": 1.0,
                         "note": "compressed (8x) full scan by design"}
        rec["topk_cosine"] = {"mean": n - 1, "frac_of_corpus": 1.0,
                              "note": "exact brute-force baseline"}
        clear_caches(spark)
        out[os.path.basename(sf_dir)] = rec
        print(os.path.basename(sf_dir), json.dumps(rec), flush=True)
        # checkpoint after EVERY sf: a dying multi-hour run keeps the
        # scales it finished (the r9 failure mode), and a partial rerun
        # merges into — never overwrites — the committed history.
        write_merged(OUT_PATH, out)

    out["note"] = (
        "candidates probed per query, from index occupancy (linear "
        "scans; no pair materialization). lsh = pre-distinct banded "
        f"join volume ({N_BANDS} bands x {BAND_BITS} bits); ivf_flat = "
        f"rows in the {FLAT_PROBE} probed cells (exact math on all of "
        f"them); ivf_sq8 = rows in the {SQ8_PROBE} probed cells "
        "(int8-compressed scan) with exact_rerank_frac the bounded "
        "exact-math budget; the K sweep shows the production knob — "
        "scale K with the corpus and per-query work stays bounded "
        "(~N_PROBE*N/K)."
    )
    write_merged(OUT_PATH, out)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
