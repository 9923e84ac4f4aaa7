"""Randomized differential test of the set-similarity joins.

The PPJoin prefix/size/position filters and the containment prefix
filter claim EXACT recall (every filter only prunes pairs the
threshold check would discard). The fixture corpus exercises one data
distribution; here random corpora from a tiny vocabulary (maximal
shingle collision pressure) are written as real parquet, the engine's
own shingle relation is read back, and the expected pair sets are
recomputed in plain Python set arithmetic over those shingle sets —
so a recall bug in ANY candidate stage shows up as a missing pair.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gcp_dbt_data_engineering_spark.operators.dedup import (
    CONTAIN_T_DEN,
    CONTAIN_T_NUM,
    JACCARD_T,
    _shingle_rows,
    dedup_containment,
    dedup_ngram_jaccard,
)
from gcp_dbt_data_engineering_spark.session import clear_caches

VOCAB = ["a", "b", "c", "d", "e"]


def _write_corpus(path: str, rng: random.Random, n_docs: int) -> None:
    os.makedirs(f"{path}/documents.parquet")
    texts = []
    for i in range(n_docs):
        n_words = rng.randrange(3, 14)
        words = [rng.choice(VOCAB) for _ in range(n_words)]
        texts.append(" ".join(words))
        # plant near-dups: sometimes append a copy / a truncation
        if rng.random() < 0.25:
            texts.append(" ".join(words + [rng.choice(VOCAB)]))
        if rng.random() < 0.15:
            texts.append(" ".join(words[: max(3, n_words - 1)]))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "source": pa.array(["s"] * len(texts)),
                "text": pa.array(texts),
            }
        ),
        f"{path}/documents.parquet/part-0.parquet",
    )


@pytest.mark.parametrize("seed", [7, 20260814])
def test_similarity_joins_exact_on_random_corpora(spark, tmp_path, seed):
    rng = random.Random(seed)
    corpus = str(tmp_path / f"corpus{seed}")
    _write_corpus(corpus, rng, 60)
    clear_caches(spark)
    try:
        sets: dict[int, frozenset] = {}
        for r in _shingle_rows(spark, corpus).collect():
            sets.setdefault(r.doc_id, set())
            sets[r.doc_id].add(r.h)
        sets = {k: frozenset(v) for k, v in sets.items()}
        assert len(sets) > 30

        ids = sorted(sets)
        exp_jac = {}
        exp_con = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(sets[a] & sets[b])
                if not inter:
                    continue
                j = inter / len(sets[a] | sets[b])
                if j >= JACCARD_T:
                    exp_jac[(a, b)] = j
                for x, y in ((a, b), (b, a)):
                    if (
                        CONTAIN_T_DEN * len(sets[x] & sets[y])
                        >= CONTAIN_T_NUM * len(sets[x])
                    ):
                        exp_con[(x, y)] = inter / len(sets[x])

        got_jac = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup_ngram_jaccard(spark, corpus).collect()
        }
        assert got_jac == exp_jac
        got_con = {
            (r.contained_doc, r.container_doc): r.containment
            for r in dedup_containment(spark, corpus).collect()
        }
        assert got_con == exp_con
        assert exp_jac and exp_con  # planted dups actually materialized
    finally:
        clear_caches(spark)  # no tmp-corpus state leaks to other tests


def test_minhash_coeffs_are_independent_permutations():
    """Regression: the r8 sf100 ENOSPC. perm_coeffs has a_i = -70(i+1)
    mod P — every permutation ranks shingles by the same g = 70h mod P,
    so one low-g shingle is the argmin of ALL 16 permutations and LSH
    buckets degenerate to shingle document frequency (measured 7.3e8
    candidate pairs / max bucket 7531 at the 5M-doc sf100 corpus).
    minhash_coeffs must (a) contain no near-proportional multiplier
    pair and (b) spread argmins on an adversarial shingle set built
    around a minimal-g member."""
    from gcp_dbt_data_engineering_spark.operators import texthash as th

    P = th.P
    coeffs = [th.minhash_coeffs(i) for i in range(16)]
    assert len({a for a, _ in coeffs}) == 16

    for i in range(16):
        inv = pow(coeffs[i][0], P - 2, P)
        for j in range(i + 1, 16):
            r = coeffs[j][0] * inv % P
            assert min(r, P - r) > 10**6, (i, j, r)

    # adversarial doc: 99 spread shingles + one whose (-70h) mod P is
    # tiny — the old family's value at h is g*(i+1)+i with
    # g = (-70h) mod P, exactly the arithmetic-progression band keys
    # observed in the sf100 hot buckets (252332, 504665, 756998, ...).
    hs = [(k * 48_271_009 + 7) % P for k in range(99)]
    h_star = pow(70, P - 2, P) * (P - 5) % P
    assert (P - 70 * h_star % P) % P == 5
    hs.append(h_star)

    def argmin(a, b):
        return min(range(len(hs)), key=lambda k: (a * hs[k] + b) % P)

    old_argmins = {argmin(*th.perm_coeffs(i)) for i in range(16)}
    new_argmins = {argmin(a, b) for a, b in coeffs}
    assert len(old_argmins) == 1  # documents the defect being guarded
    assert len(new_argmins) >= 8  # independent perms pick spread minima


def test_dedup_exact_whitespace_class_matches_oracle(spark, tmp_path):
    """VT (0x0B) is whitespace to Java's regex ``\\s`` but not to
    DuckDB's RE2 ``\\s``; both dialects spell the class out, so a
    VT-separated document groups with its space- and tab-separated
    copies in the engine and in the oracle alike."""
    import duckdb

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        ORACLE_DEDUP_EXACT,
        dedup_exact,
    )

    corpus = str(tmp_path / "ws")
    os.makedirs(corpus)
    texts = ["a\x0bb", "a b", "a\tb"]
    path = f"{corpus}/documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "source": pa.array(["s"] * len(texts)),
                "text": pa.array(texts),
            }
        ),
        path,
    )
    got = sorted(tuple(r) for r in dedup_exact(spark, corpus).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    want = sorted(con.execute(ORACLE_DEDUP_EXACT).fetchall())
    con.close()
    assert got == want == [(0, 2, 3)]
