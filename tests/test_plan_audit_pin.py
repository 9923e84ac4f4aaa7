"""PLAN_AUDIT.json staleness tripwire (VERDICT r10 item 2).

Round 10 shipped a plan audit generated hours BEFORE the last engine
change, so the committed 100-TB-posture artifact no longer described
HEAD's physical plans (a cache-build repartition exchange of the
``_quantized`` memo was missing from eight specs). This test re-audits a fixed sample of
specs live — the whole ``_quantized`` family (the one that went stale)
plus shape-diverse representatives — and asserts the committed
per-spec feature rows still match exactly. Regenerate with
``python tools/plan_audit.py`` whenever a plan legitimately changes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF = "/root/testdata/sf0.01"

#: the r10 stale family (everything consuming the _quantized cache) +
#: one spec per major shape class (star BHJ, window, sketch, pack).
SAMPLE = (
    "dedup_embedding_cosine",
    "dedup_semantic",
    "embeddings_outlier_audit",
    "embeddings_quantize_int8",
    "similarity_ann_ivf",
    "similarity_ann_ivf_kmeans",
    "similarity_ann_lsh",
    "similarity_pq_adc",
    "similarity_pq_ivf",
    "similarity_topk_cosine",
    "revenue_by_region",
    "events_key_skew_stats",
    "sketch_hll_distinct_users",
    # the consumers of the other session memos (shingle, pair, cc
    # labels, PageRank graph, contamination shingles, decoded assets)
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "dedup_keep_best",
    "dedup_graph_pagerank",
    "text_ngram_novelty",
    "contamination_ngram_check",
    "multimodal_meta",
)

#: features whose committed values must match a live re-audit. Node
#: ids and codegen spans are formatting-sensitive; these counts are
#: the scale-relevant shape.
PINNED = (
    "exchanges",
    "broadcast_exchanges",
    "bhj",
    "smj",
    "shj",
    "cartesian",
    "rowwise_python",
    "global_sorts",
    "bnlj_risky",
    "single_part_risky",
)


@pytest.mark.slow
def test_plan_audit_matches_head(spark):
    from plan_audit import audit_spec

    import __spark_entry__ as entry
    from gcp_dbt_data_engineering_spark.session import clear_caches

    with open(os.path.join(REPO, "PLAN_AUDIT.json")) as f:
        committed = json.load(f)["per_spec"]
    queries = entry.queries()
    stale = {}
    for name in SAMPLE:
        # Normalize session state to the artifact's generation
        # conditions (tools/plan_audit.py: clean memos per spec). Once
        # a memo such as _quantized has been EXECUTED — by an earlier
        # test, or by a sampled spec's own builder (dedup_semantic fits
        # k-means eagerly) — its materialized InMemoryRelation prints
        # the finalized cached plan, including the exchanges of its
        # build, inside every later consumer's formatted explain
        # (reproduced: pq_adc.toArrow() first => 23/5/10/12 vs
        # 22/4/9/11; clear_caches restores the committed counts).
        clear_caches(spark)
        live = audit_spec(queries[name](spark, SF))
        diff = {
            k: (committed[name][k], live[k])
            for k in PINNED
            if committed[name][k] != live[k]
        }
        if diff:
            stale[name] = diff
    assert not stale, (
        "PLAN_AUDIT.json no longer matches HEAD plans (committed, live): "
        f"{stale} — regenerate with tools/plan_audit.py"
    )
