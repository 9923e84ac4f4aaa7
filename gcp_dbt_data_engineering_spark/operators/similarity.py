"""Similarity search over the ``embeddings`` table.

North-star [EXT] surface (SURVEY.md §2.3 J4, §2.6 F8): top-k nearest
neighbours by cosine over ``embedding: array<float>``.

Every variant runs ONE filter-and-refine pipeline, built from the same
steps: the query set (``_queries``: ``vec_id % QUERY_MOD == 0``), a
candidate generator (``_pairs``: a broadcast query side meets a
neighbour side on a join key), for the compressed variants a pre-rank
cut to the re-rank budget (``_rerank_budget``: the first
``max(RERANK_MIN, ceil(N/RERANK_DIV))`` per query), the exact re-rank
(``_exact_rerank``) and the top-10 window (``_ann_topk``). The specs
differ only in their candidate generator:

- brute force (``similarity_topk_cosine``): every vector — the
  correctness baseline;
- sign-LSH (``similarity_ann_lsh``): vectors sharing a hyperplane-sign
  band key with the query;
- IVF-Flat (``similarity_ann_ivf``): the members of the query's
  ``FLAT_PROBE`` nearest cells of a trained K=128 inverted file;
- IVF-SQ8 (``similarity_ann_ivf_kmeans``): the members of
  ``SQ8_PROBE`` cells, pre-ranked through int8 codes;
- IVF-PQ (``similarity_pq_ivf``): the members of ``PQ_PROBE`` cells,
  pre-ranked by PQ asymmetric distance (``_adc_dist``);
- PQ-ADC (``similarity_pq_adc``): every vector, ranked by asymmetric
  distance alone — its output is the distance, not a cosine.

Determinism contract (same as ``dedup.py``): embeddings are quantized
to int64 (``floor(x * 2^20)``), so dot products and norms are *exact
integers* in both engines; cosine is then a fixed sequence of IEEE
double ops. The LSH hyperplanes, k-means seeds and codebooks are
integer-arithmetic too, so candidate sets — and therefore every
variant's entire output, including its recall misses — are bit-exactly
reproduced by the DuckDB oracle.

Scale posture (100 TB):

- The query side is bounded (a fixed 1% sample, or its probed cells)
  and always broadcast; the corpus side streams with no shuffle of the
  embedding table. Brute force is O(|Q| x N): it exists to validate the
  ANN paths and to serve small query batches.
- Sign-LSH: one projection pass computes 448 hyperplane sign bits per
  vector (integer arithmetic, no shuffle); the bands generate
  candidates via an equi-join on (band_idx, band_key). At 100 TB the
  bucket table is the thing you bucket/partition the lake by; for IVF
  it is the inverted-file assignment.
- The r9 recall work: the original hyperplane family
  ``(j*DIM+d) * 2654435761 mod P`` is a multiplicative LATTICE — the
  exact degeneracy the r8 MinHash fix removed from ``texthash.py``.
  Extra planes were nearly parallel to old ones, so sketch quality was
  flat in plane count (measured: Hamming-rank recall identical at
  B=128 and B=1024). Every plane/seed constant now goes through the
  avalanched ``_hll_hash`` mix; measured recall@10 at sf0.1 rose
  0.375 -> 0.745 (lsh), 0.335 -> 0.725 (ivf), 0.485 -> 0.76 (sq8)
  with candidate budgets at or below the r8 ones (ANN_RECALL.json,
  ANN_CANDIDATES.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec
from ..session import memo
from ..sources import load_table
from .dedup import EMB_DIM as DIM  # single source of truth for dim
from .dedup import QSCALE, quant_transform, usable_embedding_pred
from .sketch import _hll_hash
TOP_K = 10
QUERY_MOD = 100  # queries = vec_id % 100 == 0

#: sign-LSH geometry: 56 bands x 8 bits = 448 avalanched hyperplanes.
#: Candidates share >= 1 full 8-bit band key with the query. Chosen by
#: measurement (tools/ann_recall.py grid, r9): recall@10 = 0.745 at a
#: 0.220 distinct-candidate fraction on sf0.1 — vs 0.375 @ 0.225 for
#: the r8 4x4-bit lattice family (strictly better on BOTH axes).
#: 8-bit bands keep random collisions at ~1/256 per band; 56 bands
#: push near-pair collision to ~1-(1-p^8)^56.
N_PLANES = 448
N_BANDS = 56
BAND_BITS = 8

#: size-adaptive banding (r11, VERDICT r10 item 4): below ``SMALL_N``
#: usable vectors the SAME 448 planes regroup into 64 bands x 7 bits.
#: Why: near-pair band collision is 1-(1-p^bits)^bands with p the
#: plane-agreement probability, and p FALLS as the corpus shrinks
#: (mean true-top-10 cosine 0.300 @ 500 vectors vs 0.352 @ 2k —
#: corpus statistics, measured r10). At p~=0.60, 8-bit bands give
#: ~0.59 collision (the measured 500-vector recall floor) while 7-bit
#: bands give ~0.82 (measured post-fix: 0.805/0.855 dense recall@10
#: at the two 500-vector corpora); the extra random-collision cost
#: (1/128 vs 1/256 per band: candidate fraction 0.26 -> 0.57) is paid
#: ONLY where N is tiny enough that everything is cheap. The 2000-
#: vector corpus already measures 0.745 >= the 0.7 bar at 56x8, so
#: the threshold sits at 1000 — flipping it too would trade 2.6x the
#: candidate volume for recall it does not need. Decided from N at
#: index-build time; the DuckDB oracle derives the identical split
#: from COUNT(*) of the same relation (``geo`` CTE), keeping both
#: sides in lockstep at every SF.
SMALL_N = 1000
SMALL_N_BANDS = 64
SMALL_BAND_BITS = 7


def band_geometry(n: int) -> tuple[int, int]:
    """(n_bands, band_bits) for a corpus of ``n`` usable vectors —
    the single decision point shared by the Spark path, the numpy
    replays, and the evidence tools (the SQL oracle re-derives it
    textually in the ``geo`` CTE)."""
    if n < SMALL_N:
        return SMALL_N_BANDS, SMALL_BAND_BITS
    return N_BANDS, BAND_BITS

#: hyperplane components live in [-2^28, 2^28): |q| <= QCLAMP < 2^27
#: and 64 terms of |q*w| < 2^55 keep every dot fold < 2^61 — no int64
#: overflow even on clamped adversarial components. The IVF L2 fold
#: Σ(x-v)² over 64 dims is the tightest consumer of QCLAMP: see the
#: bound note at ``dedup.QCLAMP`` and the headroom assertions in
#: tests/test_content_robustness.py.
_WMOD = 1 << 29
_WHALF = 1 << 28


def _w_sql(idx: str, engine: str) -> str:
    """Avalanched hyperplane component for flat plane index ``idx``
    (= j*DIM + d) — same integer semantics in both dialects."""
    return f"({_hll_hash(idx, engine)} % {_WMOD} - {_WHALF})"


def _mix_np(x):
    """numpy twin of ``sketch._hll_hash`` (exact int64 semantics)."""
    import numpy as np

    p = 2_147_483_647
    a1, b1, a2, b2 = 1_103_515_245, 12_345, 69_069, 1
    h = (np.asarray(x, dtype=np.int64) % p) * a1 % p
    h = (h + b1) % p
    h = h ^ (h >> 16)
    h = (h * a2 + b2) % p
    h = h ^ (h >> 13)
    h = (h * a1 + b1) % p
    return h ^ (h >> 16)


def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """Usable-vector count, a :func:`session.memo` entry like
    ``_quantized`` — an index-build-time scalar (it picks the LSH band
    geometry), counted ONCE on the persisted quantized relation so the
    lsh spec builder stays cheap on warm sessions."""
    return memo(
        spark, "corpus_n", sf_dir, lambda: _quantized(spark, sf_dir).count()
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q, nn): int64-quantized vectors + exact norms.

    A lazily persisted :func:`session.memo` entry like the dedup
    shingle relation: the quantized table is the input artifact every
    similarity spec (brute force, LSH, IVF, k-means IVF, embedding
    near-dup) reads several times per query — a production deployment
    materializes it once per corpus snapshot.
    """

    def build() -> DataFrame:
        # content-robustness boundary (shared by every similarity
        # spec): NULL / wrong-dimension / non-finite embeddings (failed
        # encodes) are excluded (usable_embedding_pred, wave 6), FINITE
        # components are clamped before the bigint cast (quant_transform
        # — a corrupt ±1e30 component would overflow the int64 norm
        # fold), and all-zero quantized vectors (no representable
        # direction) are excluded — cosine is undefined for them.
        # The persisted relation inherits the scan's split count, so
        # every Lloyd assignment / banding / candidate fold runs on as
        # many cores as the scan had tasks. load_table stages a source
        # with fewer row groups than cores (sf100 ships 2M rows in TWO
        # row groups) into one part per core, so no shuffle is needed.
        return (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.expr(usable_embedding_pred("embedding", "spark")))
            .selectExpr(
                "vec_id",
                f"{quant_transform('embedding', 'spark')} AS q",
            )
            .selectExpr(
                "vec_id",
                "q",
                "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
                " AS nn",
            )
            .filter(F.col("nn") > 0)
            .persist()
        )

    return memo(spark, "quantized", sf_dir, build)


_SQL_QUANTIZED = f"""
q AS (
  SELECT vec_id,
         {quant_transform('embedding', 'duck')} AS qv
  FROM embeddings WHERE {usable_embedding_pred('embedding', 'duck')}),
qn0 AS (
  SELECT vec_id, qv,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nn
  FROM q),
qn AS MATERIALIZED (SELECT * FROM qn0 WHERE nn > 0)"""

#: cosine from exact integer dot/norms — identical text both sides
#: modulo column prefixes, fixed op order.
def _cosine(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST({dot} AS DOUBLE)"
        f" / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
    )


# ---------------------------------------------------------------------------
# the search pipeline steps every spec (and tools/ann_*.py) composes
# ---------------------------------------------------------------------------

def _queries(base: DataFrame) -> DataFrame:
    """(query_id, qa, na): the query set, every vector with
    ``vec_id % QUERY_MOD == 0``. ``QUERY_MOD`` is read per call, so a
    measurement can densify the queries; the indexes are corpus-side
    and do not change with it."""
    return base.filter((F.col("vec_id") % QUERY_MOD) == 0).selectExpr(
        "vec_id AS query_id", "q AS qa", "nn AS na"
    )


def _neighbors(base: DataFrame) -> DataFrame:
    """(neighbor_id, qb, nb): the corpus side of the exact re-rank."""
    return base.selectExpr("vec_id AS neighbor_id", "q AS qb", "nn AS nb")


def _pairs(qside: DataFrame, nside: DataFrame, on=None) -> DataFrame:
    """Candidate pairs: each row of the broadcast query side
    (``query_id``, …) with every row of the neighbour side
    (``neighbor_id``, …) it shares the ``on`` columns with — every row
    when ``on`` is None — bar the query itself. The query side is
    bounded (the query set, its probed cells or its candidate ids), so
    the corpus side streams map-side."""
    q = F.broadcast(qside)
    joined = q.crossJoin(nside) if on is None else q.join(nside, on)
    return joined.filter(F.col("query_id") != F.col("neighbor_id"))


def _exact_rerank(qside: DataFrame, nside: DataFrame, on=None) -> DataFrame:
    """(query_id, neighbor_id, cosine): the exact cosine of the
    ``_pairs`` of a query side carrying ``qa``/``na`` and a neighbour
    side carrying ``qb``/``nb`` — the integer dot product runs as a JVM
    higher-order fold."""
    return _pairs(qside, nside, on).selectExpr(
        "query_id",
        "neighbor_id",
        _cosine(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)",
            "na",
            "nb",
        )
        + " AS cosine",
    )


def _adc_dist(qside: DataFrame, nside: DataFrame, on=None) -> DataFrame:
    """(query_id, neighbor_id, adc_dist): PQ asymmetric distance of the
    ``_pairs`` — exact int64 squared L2 from the full-precision query
    ``qa`` to the neighbour's reconstruction ``centers``."""
    return _pairs(qside, nside, on).selectExpr(
        "query_id",
        "neighbor_id",
        "aggregate(zip_with(qa, centers, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS adc_dist",
    )


def _rerank_budget(pre: DataFrame, order, base: DataFrame) -> DataFrame:
    """(query_id, neighbor_id): each query's first
    ``max(RERANK_MIN, ceil(N/RERANK_DIV))`` candidates of ``pre`` by the
    compressed pre-rank ``order`` (ties to the smaller neighbor_id) —
    the bounded exact-math budget. N = |base| comes from a one-row
    count relation crossJoined in-plan: no driver collect."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    ncnt = base.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        pre.withColumn("prn", F.row_number().over(w))
        .crossJoin(F.broadcast(ncnt))
        .filter(F.expr(
            f"prn <= GREATEST({RERANK_MIN},"
            f" (n_corpus + {RERANK_DIV - 1}) DIV {RERANK_DIV})"
        ))
        .select("query_id", "neighbor_id")
    )


def _ann_topk(scored: DataFrame) -> DataFrame:
    """Top-10 by (cosine desc, neighbor_id) per query — the same total
    order in every spec and oracle."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# brute-force top-k (correctness baseline)
# ---------------------------------------------------------------------------

def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbours for each query vector: every
    vector is a candidate (the broadcast queries cross the corpus)."""
    base = _quantized(spark, sf_dir)
    return _ann_topk(_exact_rerank(_queries(base), _neighbors(base)))


ORACLE_TOPK_COSINE = f"""
WITH {_SQL_QUANTIZED},
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {_cosine(
             "list_reduce(list_transform(generate_series(1, len(a.qv)),"
             " i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)",
             "a.nn", "b.nn")} AS cosine
  FROM qn a JOIN qn b ON a.vec_id % {QUERY_MOD} = 0
                     AND a.vec_id != b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# sign-LSH bucketed ANN (scale path)
# ---------------------------------------------------------------------------

def _spark_chunks(
    df: DataFrame, n_bands: int = N_BANDS, band_bits: int = BAND_BITS
) -> DataFrame:
    """(vec_id, c, ck): ``band_bits``-bit LSH band keys per vector,
    one row per band (default 56 bands x 8 bits = 448 planes; small
    corpora pass the 64x7 regrouping from ``band_geometry``).

    Computed with one numpy int64 matmul per Arrow batch (signs of
    X @ W.T, W avalanched integer hyperplanes from the same ``_mix_np``
    formula the oracle replays — exact integers, so bit-for-bit
    portable). A pure-SQL higher-order-function version is possible
    but runs ~32k interpreted ops per row; the Arrow path is one
    BLAS-free int64 matmul and keeps the output narrow (ids only, no
    embedding arrays through the shuffle).
    """
    import numpy as np
    import pandas as pd

    jd = (
        np.arange(N_PLANES, dtype=np.int64)[:, None] * DIM
        + np.arange(DIM, dtype=np.int64)[None, :]
    )
    W = _mix_np(jd) % _WMOD - _WHALF  # |w| <= 2^28: dot folds < 2^62
    pow2 = 1 << np.arange(band_bits, dtype=np.int64)

    def chunk_keys(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            bits = (X @ W.T > 0).astype(np.int64)  # (n, 448)
            cks = bits.reshape(len(X), n_bands, band_bits) @ pow2
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(), n_bands
                    ),
                    "c": np.tile(
                        np.arange(n_bands, dtype=np.int64), len(X)
                    ),
                    "ck": cks.reshape(-1),
                }
            )

    return df.select("vec_id", "q").mapInPandas(
        chunk_keys, schema="vec_id bigint, c bigint, ck bigint"
    )


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours among banded sign-LSH candidates.

    Candidates share at least one of 56 8-bit hyperplane-sign band
    keys with the query (classic banding: random pairs collide per
    band at ~1/256, near pairs at p^8 with p the plane-agreement
    probability); only candidates get the exact re-rank. Output shape
    matches the brute-force spec so recall is directly measurable
    (tests pin it); misses are deterministic and mirrored by the
    oracle. Geometry and the avalanched plane family are the r9
    recall fix — see the module docstring.
    """
    base = _quantized(spark, sf_dir)
    chunks = _spark_chunks(base, *band_geometry(_corpus_n(spark, sf_dir)))
    qc = chunks.filter((F.col("vec_id") % QUERY_MOD) == 0).selectExpr(
        "vec_id AS query_id", "c", "ck"
    )
    # narrow candidate join (ids only); vectors attach afterwards so
    # the distinct shuffles 16-byte rows, not embedding arrays.
    cand = (
        _pairs(qc, chunks.selectExpr("vec_id AS neighbor_id", "c", "ck"),
               ["c", "ck"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _ann_topk(_exact_rerank(
        _queries(base), cand.join(_neighbors(base), "neighbor_id"), "query_id"
    ))


#: vectorized plane-sign computation: the lambda form (one 512x64
#: interpreted fold per row) is O(32k ops/row) in DuckDB's expression
#: interpreter; the relational form below (unnest dims -> join the 32k
#: (plane, dim) weight rows -> hash-aggregate per (vec, plane)) runs
#: through vectorized operators instead — ~20x faster at sf0.1 and the
#: only formulation that survives the sf1/sf10 exact gates.
_SQL_CHUNKS = f"""
wt AS MATERIALIZED (
  SELECT jj.j AS j, dd.d AS d,
         {_w_sql(f'jj.j * {DIM} + dd.d', 'duck')} AS w
  FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS j) jj,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) dd),
qdim AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS x
  FROM qn),
geo AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM qn0 WHERE nn > 0) < {SMALL_N}
              THEN {SMALL_BAND_BITS} ELSE {BAND_BITS} END AS bb),
dots AS (
  SELECT e.vec_id, w.j,
         CASE WHEN SUM(e.x * w.w) > 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS b
  FROM qdim e JOIN wt w ON w.d = e.d
  GROUP BY e.vec_id, w.j),
chunks AS MATERIALIZED (
  SELECT vec_id, j // g.bb AS c,
         SUM(b * (CAST(1 AS BIGINT) << (j % g.bb))) AS ck
  FROM dots, geo g GROUP BY vec_id, j // g.bb)"""


ORACLE_ANN_LSH = f"""
WITH {_SQL_QUANTIZED},
{_SQL_CHUNKS},
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck
  WHERE a.vec_id % {QUERY_MOD} = 0 AND a.vec_id != b.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         {_cosine(
             "list_reduce(list_transform(generate_series(1, len(a.qv)),"
             " i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)",
             "a.nn", "b.nn")} AS cosine
  FROM cand c
  JOIN qn a ON a.vec_id = c.query_id
  JOIN qn b ON b.vec_id = c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF ANN — trained coarse quantizer (k-means), two probing styles
# ---------------------------------------------------------------------------
# ``similarity_ann_ivf`` (IVF-Flat) and ``similarity_ann_ivf_kmeans``
# (IVF-SQ8) are defined AFTER the shared Lloyd's-k-means machinery
# below. Until r9 the ivf spec used the table's ``label`` column as
# the coarse quantizer; measured on the corpus, labels carry ZERO
# geometry (9.5% of true top-10 neighbours share the query's label —
# exactly chance at 10 labels), so its recall was hard-capped at
# ~N_PROBE/N_LABELS no matter the probe rule. A coarse quantizer must
# be geometric; both IVF variants now share one trained inverted file.

# ---------------------------------------------------------------------------
# IVF with a REAL k-means coarse quantizer (Lloyd's algorithm)
# ---------------------------------------------------------------------------

#: semdedup-shared k-means config (dedup_semantic clusters at K=8 —
#: unchanged since r5; its sf100 staged-exact replay pins these).
K_CLUSTERS = 8
KM_ITERS = 2

#: r9 similarity-IVF config, chosen by measured recall/occupancy grid
#: (tools/ann_recall.py / ann_candidates.py): one trained inverted
#: file (K=128, 2 Lloyd iterations) shared by both IVF variants.
#: IVF-Flat probes the 28 nearest cells and exactly re-ranks their
#: members (recall@10 0.725 at a 0.229 corpus fraction, sf0.1);
#: IVF-SQ8 probes 32 cells through int8 codes (4x compression) and
#: exactly re-ranks only the compressed top max(50, N/20) (recall
#: 0.76 at a 0.05 exact-rerank fraction).
IVF_K = 128
IVF_ITERS = 2
FLAT_PROBE = 28
SQ8_PROBE = 32
RERANK_MIN = 50
RERANK_DIV = 20


#: argmin fold over an ascending-cid ``__cents`` array-of-structs
#: column: each centroid's exact-int64 l2 is computed once by
#: ``transform``, then ``aggregate`` folds with a strict ``<`` — first
#: minimum wins, i.e. ties break to the smallest centroid id, matching
#: numpy argmin and the oracle's ORDER BY l2, cid.
_ARGMIN_FOLD = (
    "aggregate(transform(__cents, c -> named_struct("
    " 'cid', c.cid,"
    " 'l2', aggregate(zip_with(q, c.cv, (x, y) -> (x - y) * (x - y)),"
    "       CAST(0 AS BIGINT), (acc, v) -> acc + v))),"
    " named_struct('cid', CAST(-1 AS BIGINT),"
    "              'l2', CAST(9223372036854775807 AS BIGINT)),"
    " (best, s) -> CASE WHEN s.l2 < best.l2 THEN s ELSE best END"
    ").cid AS cid"
)


def _cents_one_row(cents: DataFrame) -> DataFrame:
    """Collapse a (cid, cv) centroid relation to ONE row holding the
    ascending-cid array-of-structs that ``_ARGMIN_FOLD`` consumes —
    ``array_sort`` on structs orders by the leading field (cid)."""
    return cents.agg(
        F.expr(
            "array_sort(collect_list(named_struct('cid', cid, 'cv', cv)))"
        ).alias("__cents")
    )


def _assign_cids(vecs: DataFrame, cents: DataFrame, extra_cols=("q",)):
    """Nearest-centroid assignment as a map-only projection: the k
    centroids ride in as a broadcast ONE-ROW array column; vectors
    never shuffle and no literal is inlined into the expression tree
    (an earlier form unrolled one l2 fold per centroid — at k=8,
    dim=64 Janino compile of the generated code dominated the spec's
    wall-clock)."""
    return (
        vecs.crossJoin(F.broadcast(_cents_one_row(cents)))
        .selectExpr(*extra_cols, _ARGMIN_FOLD)
    )


def _seed_mix(x: str, engine: str) -> str:
    """Avalanched seed-order hash (the HLL mix from ``sketch.py``,
    identical integer semantics in both engines). K-means seeds are the
    k vectors with the smallest ``(mix(vec_id), vec_id)`` — a property
    of the ID VALUES only, independent of their layout. The previous
    evenly-strided rule (``vec_id % (n DIV k) = 0``) silently assumed
    dense 0..n-1 ids: on the sfN replica corpora (ids offset by
    1e6 per replica) and on any production id scheme it selected ~1
    seed, collapsing the quantizer to one cluster — the r8 occupancy
    audit (tools/ann_candidates.py) caught ivf_kmeans probing 100 % of
    the corpus at sf >= 1."""
    from .sketch import _hll_hash

    return _hll_hash(x, engine)


def _sql_kmeans_seed_cte(k: int) -> str:
    """DuckDB twin of the seed selection in ``_kmeans_cents_df``."""
    return f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY m, vec_id) - 1 AS cid, cv FROM (
    SELECT vec_id, qv AS cv, {_seed_mix('vec_id', 'duck')} AS m
    FROM qn ORDER BY m, vec_id LIMIT {k}))"""


def _kmeans_cents_df(vecs: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd's k-means, fitted ONCE per call and returned as a
    materialized k-row (cid, cv) relation — no driver collect at all.

    Each iteration: assignment via the broadcast-centroid argmin fold
    (map-only over the vectors), then recenter as posexplode →
    (cid, dim) hash aggregate whose map-side combine reduces every
    partition to k x dim partial rows before the tiny shuffle, folded
    back to (cid, cv) arrays. Iterations chain lazily — the k-row
    centroid relation flows between them as a broadcast — and the
    finished chain is ``localCheckpoint``-ed: the fit runs as one
    action (a handful of AQE jobs) inside this call, and every
    consumer reads k x dim materialized ints instead of replaying the
    seed TakeOrdered and the Lloyd chain inside its own plan. The
    centroids stay distributed (never collected), so the same form
    holds at production k ≈ sqrt(n).

    Determinism: seeds are the k vectors with the smallest avalanched
    id hash (``_seed_mix`` — id-layout-independent; ties by vec_id),
    picked with a distributed TakeOrdered (orderBy + limit), never a
    global sort; distances and sums are exact int64; new centroids are
    floor(double(sum)/count); ties break to the smallest centroid id.
    The DuckDB oracle replays the same iterations unrolled as SQL
    CTEs, bit-for-bit. Clusters that lose all members disappear, in
    both engines alike.
    """
    seeds = (
        vecs.selectExpr(
            "vec_id", "q", f"{_seed_mix('vec_id', 'spark')} AS __m"
        )
        .orderBy("__m", "vec_id")
        .limit(k)
    )
    # k rows at most — the single-partition window is on a broadcast-
    # sized relation, not the corpus
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("__m", "vec_id")) - 1)
        .cast("bigint")
        .alias("cid"),
        F.col("q").alias("cv"),
    )
    for _ in range(iters):
        cents = (
            _assign_cids(vecs, cents)
            .select("cid", F.posexplode("q").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                F.expr(
                    "CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*))"
                    " AS BIGINT)"
                ).alias("v")
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list("
                    "named_struct('i', i, 'v', v))), s -> s.v)"
                ).alias("cv")
            )
        )
    return cents.localCheckpoint()


def _ivf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared trained coarse quantizer: K=128 Lloyd centroids over
    the quantized corpus (materialized by the fit itself), a
    :func:`session.memo` entry like ``_quantized`` — a production
    deployment trains the inverted file once per corpus snapshot."""
    return memo(
        spark,
        "ivf_cents",
        sf_dir,
        lambda: _kmeans_cents_df(_quantized(spark, sf_dir), IVF_K, IVF_ITERS),
    )


def _ivf_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid): final inverted-file assignment — the relation a
    100 TB lake is bucketed/partitioned by. A lazily persisted
    :func:`session.memo` entry."""
    return memo(
        spark,
        "ivf_members",
        sf_dir,
        lambda: _assign_cids(
            _quantized(spark, sf_dir).select("vec_id", "q"),
            _ivf_cents(spark, sf_dir),
            extra_cols=("vec_id",),
        ).persist(),
    )


def _ivf_probes(queries: DataFrame, cents: DataFrame,
                n_probe: int) -> DataFrame:
    """Each query's ``n_probe`` nearest cells by exact int64 L2 to the
    centroid, ties to the smaller cid — identical rule in the oracle.
    Both sides of the cross join are broadcast-sized (queries are a
    fixed 1% sample; cents is K rows)."""
    l2 = F.broadcast(queries).crossJoin(F.broadcast(cents)).selectExpr(
        "query_id",
        "qa",
        "na",
        "cid",
        "aggregate(zip_with(qa, cv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS l2",
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("cid"))
    return (
        l2.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qa", "na", "cid")
    )


def _ivf_flat(base: DataFrame, cents: DataFrame,
              members: DataFrame) -> DataFrame:
    """IVF-Flat search over the inverted file (``cents``, ``members``):
    each query's ``FLAT_PROBE`` nearest cells, every member of them
    exactly re-ranked. ``similarity_ann_ivf`` runs it on the spec's
    index; tools/ann_recall.py on indexes of other K."""
    probes = _ivf_probes(_queries(base), cents, FLAT_PROBE)
    nside = members.selectExpr("vec_id AS neighbor_id", "cid").join(
        _neighbors(base), "neighbor_id"
    )
    return _ann_topk(_exact_rerank(probes, nside, "cid"))


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours via IVF-Flat search.

    The trained inverted file (``_ivf_cents``/``_ivf_members``,
    K=128 Lloyd cells) replaces the pre-r9 ``label``-column coarse
    quantizer, which carried no geometry (measured: 9.5% of true
    top-10 shared the query's label = chance at 10 labels) and
    hard-capped recall at ~probes/labels. Each query scans only its
    ``FLAT_PROBE`` nearest cells (exact int64 L2 to the centroid),
    then exact cosine re-ranks those cells' members: the IVF trade of
    recall for a bounded fraction of the table scanned. At 100 TB the
    final assignment is what you bucket the lake by, and the probe
    count is the recall/cost knob (``N_PROBE*N/K`` candidates/query).
    """
    return _ivf_flat(
        _quantized(spark, sf_dir),
        _ivf_cents(spark, sf_dir),
        _ivf_members(spark, sf_dir),
    )


def _sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c8, n8): per-vector max-abs int8 codes + exact integer
    norm, row-aligned with ``_quantized`` (same NULL/zero-vector
    boundary). ``scale > 0`` for every surviving row (a non-zero
    quantized vector has a non-zero raw component), and the max-abs
    component always codes to ±127, so ``n8 > 0`` — the compressed
    cosine is total. All integer arithmetic: the oracle replays codes
    bit-for-bit."""
    keep = _quantized(spark, sf_dir).select("vec_id")
    emb = load_table(spark, sf_dir, "embeddings").join(keep, "vec_id")
    return (
        emb.selectExpr(
            "vec_id",
            "embedding",
            "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) ->"
            " greatest(a, abs(coalesce(CAST(x AS DOUBLE), 0.0))))"
            " AS scale",
        )
        .selectExpr(
            "vec_id",
            f"transform(embedding, x -> CAST({_q8_expr('x')} AS BIGINT))"
            " AS c8",
        )
        .selectExpr(
            "vec_id",
            "c8",
            "aggregate(c8, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS n8",
        )
    )


def similarity_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours via IVF-SQ8: compressed probe, exact
    re-rank.

    The second probing style over the same trained inverted file as
    ``similarity_ann_ivf``: probe MORE cells (``SQ8_PROBE`` = 32) but
    scan them through 4x-compressed int8 codes, then exactly re-rank
    only the compressed top ``max(RERANK_MIN, N/RERANK_DIV)``
    candidates per query. On the measured corpus the int8 ranking is
    near-exact, so recall tracks probe coverage while the exact-math
    budget stays at ~5% of the corpus — the production IVF-ADC-with-
    re-rank shape (FAISS-style), where the compressed table is the
    artifact you keep hot.

    Every stage is JVM expression code over integer arithmetic; the
    k-means fit is the shared zero-collect Lloyd inverted file
    (``_ivf_cents``), and the rerank threshold is computed
    in-plan from a one-row count relation — no driver collect
    anywhere.
    """
    base = _quantized(spark, sf_dir)
    codes = _sq8_codes(spark, sf_dir)
    queries = _queries(base)
    probes = _ivf_probes(
        queries, _ivf_cents(spark, sf_dir), SQ8_PROBE
    ).select("query_id", "cid")
    qcodes = codes.filter((F.col("vec_id") % QUERY_MOD) == 0).selectExpr(
        "vec_id AS query_id", "c8 AS q8", "n8 AS qn8"
    )
    pre = _pairs(
        probes.join(qcodes, "query_id"),
        _ivf_members(spark, sf_dir).join(codes, "vec_id").selectExpr(
            "vec_id AS neighbor_id", "c8", "n8", "cid"
        ),
        "cid",
    ).selectExpr(
        "query_id",
        "neighbor_id",
        "CAST(aggregate(zip_with(q8, c8, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (a, v) -> a + v) AS DOUBLE)"
        " / (sqrt(CAST(qn8 AS DOUBLE)) * sqrt(CAST(n8 AS DOUBLE)))"
        " AS s8",
    )
    rr = _rerank_budget(pre, F.desc("s8"), base)
    return _ann_topk(_exact_rerank(
        queries, rr.join(_neighbors(base), "neighbor_id"), "query_id"
    ))


def _sql_lloyd_iteration(t: int, prev: str) -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs (assign + recenter)."""
    return f"""
a{t} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT q.vec_id, q.qv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_transform(generate_series(1, {DIM}),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
               (x, y) -> x + y) ASC,
             c.cid ASC) AS rn
    FROM qn q CROSS JOIN {prev} c)
  WHERE rn = 1),
c{t} AS (
  SELECT cid, list(c ORDER BY i) AS cv FROM (
    SELECT cid, i,
           CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
    FROM (SELECT cid, unnest(qv) AS x, generate_subscripts(qv, 1) AS i
          FROM a{t})
    GROUP BY cid, i)
  GROUP BY cid)"""


_FINAL_C = f"c{KM_ITERS}"
_FINAL_A = f"a{KM_ITERS + 1}"

#: vectorized Lloyd replay for the K=128 similarity quantizer: the
#: lambda form (``_sql_lloyd_iteration``, kept above for semdedup's
#: K=8 oracle) folds K x DIM interpreted ops per row per iteration —
#: 16x costlier at K=128 and infeasible at the sf1/sf10 exact gates.
#: This form is relational (unnest dims -> join centroid dims ->
#: hash-aggregate), so DuckDB executes it through vectorized
#: operators; results are identical (same seeds, same exact int64
#: L2, same floor-mean recenter, same tie rules).
_SQL_QDIM = """
qdim AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS x
  FROM qn)"""


def _sql_ivf_fit(k: int, iters: int) -> str:
    """CTE chain fitting the inverted file: seeds ``c0`` (avalanched
    id hash, ties by vec_id), ``iters`` assign/recenter rounds, final
    assignment ``af(vec_id, cid)`` and centroid dims ``cdN(cid,d,v)``.
    Requires ``qn`` and ``qdim`` in scope."""
    s = f"""{_sql_kmeans_seed_cte(k)},
cd0 AS MATERIALIZED (
  SELECT cid, generate_subscripts(cv, 1) - 1 AS d, unnest(cv) AS v
  FROM c0)"""
    prev = "cd0"
    for t in range(1, iters + 1):
        s += f""",
l2_{t} AS (
  SELECT q.vec_id, c.cid, SUM((q.x - c.v) * (q.x - c.v)) AS l2
  FROM qdim q JOIN {prev} c ON c.d = q.d GROUP BY q.vec_id, c.cid),
a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY l2 ASC, cid ASC) AS rn
    FROM l2_{t}) WHERE rn = 1),
cd{t} AS MATERIALIZED (
  SELECT a.cid, q.d,
         CAST(floor(CAST(SUM(q.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM qdim q JOIN a{t} a USING (vec_id) GROUP BY a.cid, q.d)"""
        prev = f"cd{t}"
    s += f""",
l2f AS (
  SELECT q.vec_id, c.cid, SUM((q.x - c.v) * (q.x - c.v)) AS l2
  FROM qdim q JOIN cd{iters} c ON c.d = q.d GROUP BY q.vec_id, c.cid),
af AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY l2 ASC, cid ASC) AS rn
    FROM l2f) WHERE rn = 1)"""
    return s


#: query-side probe CTEs shared by both IVF oracles: ``qrys`` and the
#: top-``{n_probe}`` cells per query by exact int64 centroid L2.
def _sql_ivf_probes(n_probe: int) -> str:
    return f"""qrys AS (
  SELECT vec_id AS query_id, qv AS qa, nn AS na
  FROM qn WHERE vec_id % {QUERY_MOD} = 0),
l2q AS (
  SELECT q.vec_id AS query_id, c.cid,
         SUM((q.x - c.v) * (q.x - c.v)) AS l2
  FROM qdim q JOIN cd{IVF_ITERS} c ON c.d = q.d
  WHERE q.vec_id % {QUERY_MOD} = 0 GROUP BY q.vec_id, c.cid),
probes AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY l2 ASC, cid ASC) AS pr
    FROM l2q) WHERE pr <= {n_probe})"""


_SQL_ANN_TAIL = f"""ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}"""


def _sql_budget_rerank(pre_order: str) -> str:
    """Oracle twin of ``_rerank_budget`` + ``_exact_rerank`` +
    ``_ann_topk`` over a ``pre(query_id, neighbor_id, …)`` CTE
    pre-ranked by ``pre_order``."""
    return f"""rr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {pre_order}, neighbor_id) AS prn
    FROM pre)
  WHERE prn <= (SELECT GREATEST({RERANK_MIN},
                  (COUNT(*) + {RERANK_DIV - 1}) // {RERANK_DIV})
                FROM qn)),
scored AS (
  SELECT r.query_id, r.neighbor_id,
         {_cosine(
             "list_reduce(list_transform(generate_series(1, len(a.qv)),"
             " i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)",
             "a.nn", "b.nn")} AS cosine
  FROM rr r
  JOIN qn a ON a.vec_id = r.query_id
  JOIN qn b ON b.vec_id = r.neighbor_id),
{_SQL_ANN_TAIL}"""


ORACLE_ANN_IVF = f"""
WITH {_SQL_QUANTIZED},
{_SQL_QDIM},
{_sql_ivf_fit(IVF_K, IVF_ITERS)},
{_sql_ivf_probes(FLAT_PROBE)},
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         {_cosine(
             "list_reduce(list_transform(generate_series(1, len(q.qa)),"
             " i -> q.qa[i] * b.qv[i]), (x, y) -> x + y)",
             "q.na", "b.nn")} AS cosine
  FROM probes p
  JOIN qrys q ON q.query_id = p.query_id
  JOIN af m ON m.cid = p.cid AND m.vec_id != q.query_id
  JOIN qn b ON b.vec_id = m.vec_id),
{_SQL_ANN_TAIL}
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization (vector compression for the ANN scale path)
# ---------------------------------------------------------------------------

Q8 = 127


def _q8_expr(x: str) -> str:
    """int8 code for element ``x`` given per-vector ``scale`` in scope.

    floor(v + 0.5) instead of round(): Spark and DuckDB disagree on
    round-half behavior for doubles; floor is unambiguous. Same text in
    both dialects. The coalesce pins a NULL array element to 0.0 (the
    same boundary rule as ``quant_transform``): Spark's greatest/least
    skip NULLs while older DuckDB propagates them, so an uncoalesced
    NULL element would quantize dialect-dependently (ADVICE r8).
    """
    return (
        f"CASE WHEN scale > 0.0 THEN"
        f" FLOOR(coalesce(CAST({x} AS DOUBLE), 0.0) / scale * {Q8}.0 + 0.5)"
        f" ELSE 0.0 END"
    )


def embeddings_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max-abs int8 quantization + reconstruction error.

    The compression step of a scale ANN deployment: 4x smaller
    vectors, dot products in int8. Emits per-vector scale and the L2
    reconstruction error so drift is auditable. All math is a fixed
    left-fold of double ops over the same element order in both
    engines — bit-identical results.

    Scale posture: pure projection, no shuffle; at 100 TB this is the
    map stage you run once and write next to the raw vectors.
    """
    # NULL / wrong-dimension / non-finite embeddings (failed encodes)
    # are excluded — same usability boundary as _quantized; there is
    # nothing meaningful to quantize or audit (a NaN component makes
    # the max-abs scale NaN, with engine-divergent greatest()
    # semantics downstream — wave 6).
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(usable_embedding_pred("embedding", "spark"))
    )
    scaled = emb.selectExpr(
        "vec_id",
        "label",
        "embedding",
        "aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (a, x) -> greatest(a, abs(coalesce(CAST(x AS DOUBLE), 0.0)))) AS scale",
    )
    # (d * d), not pow(d, 2.0): pow goes through libm, whose last-ulp
    # behavior differs between the JVM and DuckDB; multiplication is
    # IEEE-exact in both.
    _delta = (
        f"(coalesce(CAST(element_at(embedding, i) AS DOUBLE), 0.0)"
        f" - ({_q8_expr('element_at(embedding, i)')}) * scale / {Q8}.0)"
    )
    err_term = f"({_delta} * {_delta})"
    return scaled.selectExpr(
        "vec_id",
        "label",
        "scale",
        "CAST(aggregate(sequence(1, size(embedding)), CAST(0.0 AS DOUBLE),"
        f" (a, i) -> a + {err_term}) AS DOUBLE) AS sq_err",
        f"CAST(aggregate(embedding, CAST(0 AS BIGINT), (a, x) -> a +"
        f" CAST(ABS({_q8_expr('x')}) AS BIGINT)) AS BIGINT) AS l1_code_mass",
    ).selectExpr(
        "vec_id", "label", "scale",
        "sqrt(sq_err) AS recon_l2_err",
        "l1_code_mass",
    )


ORACLE_QUANTIZE_INT8 = f"""
WITH scaled AS (
  SELECT vec_id, label, embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(coalesce(CAST(x AS DOUBLE), 0.0)))),
           (a, x) -> greatest(a, x)) AS scale
  FROM embeddings WHERE {usable_embedding_pred('embedding', 'duck')})
SELECT vec_id, label, scale,
       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(generate_series(1, len(embedding)),
           i -> (coalesce(CAST(embedding[i] AS DOUBLE), 0.0)
                 - ({_q8_expr('embedding[i]')}) * scale / {Q8}.0)
                * (coalesce(CAST(embedding[i] AS DOUBLE), 0.0)
                   - ({_q8_expr('embedding[i]')}) * scale / {Q8}.0))),
         (a, x) -> a + x)) AS recon_l2_err,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(embedding,
           x -> CAST(ABS({_q8_expr('x')}) AS BIGINT))),
         (a, x) -> a + x) AS BIGINT) AS l1_code_mass
FROM scaled
"""


#: SQ8 code CTEs: per-vector max-abs scale over the RAW floats (same
#: boundary as the engine), int8 codes via ``_q8_expr``, exact int64
#: norms. ``sc8`` joins ``qn`` so the row set inherits the NULL/zero-
#: vector exclusions.
_SQL_SQ8 = f"""sc8 AS (
  SELECT e.vec_id, e.embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(e.embedding,
             x -> abs(coalesce(CAST(x AS DOUBLE), 0.0)))),
           (a, x) -> greatest(a, x)) AS scale
  FROM embeddings e JOIN qn ON qn.vec_id = e.vec_id),
i8 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST({{q8}} AS BIGINT)) AS c8
  FROM sc8),
i8n AS MATERIALIZED (
  SELECT vec_id, c8,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(c8, x -> x * x)), (a, b) -> a + b) AS n8
  FROM i8)"""


ORACLE_ANN_IVF_KMEANS = f"""
WITH {_SQL_QUANTIZED},
{_SQL_QDIM},
{_sql_ivf_fit(IVF_K, IVF_ITERS)},
{_SQL_SQ8.replace("{q8}", _q8_expr("x"))},
{_sql_ivf_probes(SQ8_PROBE)},
pre AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(generate_series(1, {DIM}),
           i -> bq.c8[i] * bn.c8[i]), (x, y) -> x + y) AS DOUBLE)
           / (sqrt(CAST(bq.n8 AS DOUBLE)) * sqrt(CAST(bn.n8 AS DOUBLE)))
           AS s8
  FROM probes p
  JOIN af m ON m.cid = p.cid AND m.vec_id != p.query_id
  JOIN i8n bq ON bq.vec_id = p.query_id
  JOIN i8n bn ON bn.vec_id = m.vec_id),
{_sql_budget_rerank("s8 DESC")}
"""


# ---------------------------------------------------------------------------
# product quantization + asymmetric-distance (ADC) top-k
# ---------------------------------------------------------------------------

#: PQ codebook: 4-bit uniform scalar quantizer per dimension over
#: [-0.625, 0.625) in the int64-quantized domain (QSCALE = 2^20).
#: Uniform (data-independent) codebooks keep the DuckDB oracle
#: bit-exact; a trained variant would fit per-subspace k-means
#: centroids exactly like ``similarity_ann_ivf_kmeans`` fits its
#: coarse centroids, with the same plan shape.
PQ_L = 16
PQ_LO = -655360          # floor(-0.625 * 2^20)
PQ_STEP = 81920          # 1.25 * 2^20 / PQ_L
PQ_HALF = PQ_STEP // 2
PQ_PACK = 8              # 4-bit codes packed per 32-bit word
PQ_WORDS = DIM // PQ_PACK


def _pq_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centers): PQ reconstruction centers decoded from the
    packed 4-bit codes — the shared encode stage of ``similarity_pq_adc``
    (IVF-less full scan) and ``similarity_pq_ivf`` (cell-probed). One
    map-only projection over the quantized corpus; the decode derives
    centers from the PACKED words so packing correctness stays on the
    gate's critical path for both specs."""
    return (
        _quantized(spark, sf_dir)
        .selectExpr(
            "vec_id",
            f"transform(q, x -> least(CAST({PQ_L - 1} AS BIGINT),"
            f" greatest(CAST(0 AS BIGINT), x - ({PQ_LO})) div {PQ_STEP}))"
            " AS cds",
        )
        .selectExpr(
            "vec_id",
            f"transform(sequence(0, {PQ_WORDS - 1}),"
            f" w -> aggregate(slice(cds, w * {PQ_PACK} + 1, {PQ_PACK}),"
            f" CAST(0 AS BIGINT), (a, c) -> a * {PQ_L} + c)) AS codes",
        )
        .selectExpr(
            "vec_id",
            f"transform(sequence(0, {DIM - 1}),"
            f" d -> {PQ_LO} + ((element_at(codes, CAST(d div {PQ_PACK} AS INT)"
            f" + 1) div CAST(pow({PQ_L}, {PQ_PACK - 1} - d % {PQ_PACK})"
            f" AS BIGINT)) % {PQ_L}) * {PQ_STEP} + {PQ_HALF}) AS centers",
        )
    )


def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours by PQ asymmetric distance (ADC).

    The memory-side ANN technique: each vector is compressed to 64
    4-bit codes packed into ``PQ_WORDS`` integer words (32 B vs 256 B
    of float32 — 8x), and queries score against *reconstruction
    centers* decoded from the packed codes while staying full
    precision themselves (asymmetric distance, Jégou et al.'s ADC).
    All arithmetic is exact int64 (quantized domain), so distances —
    and therefore the ranking, including PQ's approximation error —
    are reproduced bit-for-bit by the oracle.

    Shape (100 TB): encode is one map-only projection (the compressed
    table is 8x smaller than the corpus — the artifact you actually
    keep hot); decode-to-centers is fused into the same scan; the
    query side is broadcast, so scoring streams the compressed table
    with no shuffle, and only the tiny top-k window shuffles. The
    decode derives centers from the PACKED words, so packing
    correctness sits on the gate's critical path.
    """
    base = _quantized(spark, sf_dir)
    pairs = _adc_dist(
        _queries(base),
        _pq_centers(spark, sf_dir).selectExpr("vec_id AS neighbor_id",
                                              "centers"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


#: oracle twin of ``_pq_centers``: encode -> pack -> decode-to-centers
#: (shared by the ADC full-scan and IVF-PQ oracles; requires ``qn``)
_SQL_PQ_DEC = f"""enc AS (
  SELECT vec_id,
         list_transform(qv, x -> least(CAST({PQ_L - 1} AS BIGINT),
           greatest(CAST(0 AS BIGINT), x - ({PQ_LO})) // {PQ_STEP})) AS cds
  FROM qn),
packed AS (
  SELECT vec_id,
         list_transform(generate_series(0, {PQ_WORDS - 1}),
           w -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_slice(cds, w * {PQ_PACK} + 1, w * {PQ_PACK} + {PQ_PACK})),
             (a, c) -> a * {PQ_L} + c)) AS codes
  FROM enc),
dec AS MATERIALIZED (
  SELECT vec_id,
         list_transform(generate_series(0, {DIM - 1}),
           d -> {PQ_LO} + ((codes[d // {PQ_PACK} + 1]
             // CAST(pow({PQ_L}, {PQ_PACK - 1} - (d % {PQ_PACK})) AS BIGINT))
             % {PQ_L}) * {PQ_STEP} + {PQ_HALF}) AS centers
  FROM packed)"""


ORACLE_PQ_ADC = f"""
WITH {_SQL_QUANTIZED},
{_SQL_PQ_DEC},
pairs AS (
  SELECT qq.vec_id AS query_id, d.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, {DIM}),
           i -> (qq.qv[i] - d.centers[i]) * (qq.qv[i] - d.centers[i])),
           (a, b) -> a + b) AS adc_dist
  FROM qn qq, dec d
  WHERE qq.vec_id % {QUERY_MOD} = 0 AND qq.vec_id <> d.vec_id)
SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adc_dist
FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rn
  FROM pairs)
WHERE rn <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-PQ: cell-probed ADC with bounded exact re-rank (VERDICT r10 item 5)
# ---------------------------------------------------------------------------

#: cells probed by the IVF-PQ composition — the same 28 cells as
#: IVF-Flat, so the candidate fraction is identical to ivf_flat's by
#: construction (VERDICT r10 item 5's bar) while those members are
#: scanned 8x COMPRESSED and exact math touches only the ADC top
#: max(RERANK_MIN, N/RERANK_DIV) ~= 5% of the corpus per query.
PQ_PROBE = FLAT_PROBE


def similarity_pq_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours via IVF-PQ: probe the trained inverted
    file, ADC-rank within the probed cells, exact re-rank the top
    slice.

    The composition closes ``similarity_pq_adc``'s honest scale gap —
    IVF-less ADC scans 100% of the corpus per query (compressed 8x,
    but still a full scan; ANN_CANDIDATES.json pinned
    ``pq_adc.frac_of_corpus = 1.0``). Here each query touches only its
    ``PQ_PROBE`` nearest cells of the shared K=128 inverted file
    (``_ivf_cents``/``_ivf_members`` — the relation a 100 TB lake is
    bucketed by), scores those members through the 8x-compressed PQ
    reconstruction centers (asymmetric distance: the query side stays
    full precision), and spends exact math only on the ADC top
    ``max(RERANK_MIN, N/RERANK_DIV)`` per query — the FAISS IVF-PQ
    shape. All arithmetic is exact int64, so the oracle replays the
    ranking bit-for-bit, including PQ's approximation error.

    Shape (100 TB): the compressed table streams map-side against the
    broadcast probe set (no shuffle on the corpus side beyond the
    inverted-file co-location); the rerank threshold comes from a
    one-row count relation crossJoined in-plan — no driver collect.
    """
    base = _quantized(spark, sf_dir)
    queries = _queries(base)
    pre = _adc_dist(
        _ivf_probes(queries, _ivf_cents(spark, sf_dir), PQ_PROBE),
        _ivf_members(spark, sf_dir)
        .join(_pq_centers(spark, sf_dir), "vec_id")
        .selectExpr("vec_id AS neighbor_id", "centers", "cid"),
        "cid",
    )
    rr = _rerank_budget(pre, F.asc("adc_dist"), base)
    return _ann_topk(_exact_rerank(
        queries, rr.join(_neighbors(base), "neighbor_id"), "query_id"
    ))


ORACLE_PQ_IVF = f"""
WITH {_SQL_QUANTIZED},
{_SQL_QDIM},
{_sql_ivf_fit(IVF_K, IVF_ITERS)},
{_SQL_PQ_DEC},
{_sql_ivf_probes(PQ_PROBE)},
pre AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, {DIM}),
           i -> (q.qa[i] - d.centers[i]) * (q.qa[i] - d.centers[i])),
           (a, b) -> a + b) AS adc_dist
  FROM probes p
  JOIN qrys q ON q.query_id = p.query_id
  JOIN af m ON m.cid = p.cid AND m.vec_id != p.query_id
  JOIN dec d ON d.vec_id = m.vec_id),
{_sql_budget_rerank("adc_dist ASC")}
"""


# ---------------------------------------------------------------------------
# embedding outlier audit — distance-to-centroid pruning (curation)
# ---------------------------------------------------------------------------

#: vectors with centroid-cosine below this are flagged as outliers
OUTLIER_COS_T = 0.0


def embeddings_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster outlier pruning audit: cosine to the label centroid.

    The embedding-quality gate a curation pipeline runs before
    training: vectors far from their cluster centroid (here:
    ``cos < OUTLIER_COS_T``) are candidate mislabels/noise. Exactness:
    the centroid is the element-wise ``floor(avg(q))`` of the
    int64-quantized vectors — floor of one BIGINT->DOUBLE division is
    the same IEEE op in both engines — which keeps centroid components
    in q's range, so every dot product stays an exact int64 (64 terms
    of ~2^40 << 2^63) at any corpus size. Per-vector cosines round
    through DECIMAL(28,9) before the mean (fixed order); min is
    order-insensitive.

    Shape (100 TB): centroids are one (label, pos) aggregate over the
    posexploded quantized table — 64 rows per label — rebuilt as a
    broadcast array dim; scoring is map-side; output is one row per
    label. No driver collect, no UDF.
    """
    ql = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("label").cast("bigint").alias("label"))
        .join(_quantized(spark, sf_dir), "vec_id")
    )
    cent = (
        ql.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.floor(F.avg("v")).cast("bigint").alias("c"))
    )
    carr = F.broadcast(
        cent.groupBy("label").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))),"
                " s -> s.c)"
            ).alias("cv")
        ).selectExpr(
            "label",
            "cv",
            "aggregate(cv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
            " AS nc",
        )
    )
    scored = ql.join(carr, "label").selectExpr(
        "label",
        "CAST("
        + _cosine(
            "aggregate(zip_with(q, cv, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)",
            "nn",
            "nc",
        )
        + " AS DECIMAL(28,9)) AS cos_dec",
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                (F.col("cos_dec") < F.lit(OUTLIER_COS_T)).cast("long")
            ).alias("n_outliers"),
            F.sum("cos_dec").alias("cos_sum"),
            F.min("cos_dec").alias("cos_min_dec"),
        )
        .selectExpr(
            "label",
            "n_vectors",
            "n_outliers",
            "CAST(n_outliers AS DOUBLE) / CAST(n_vectors AS DOUBLE)"
            " AS outlier_share",
            "CAST(cos_sum AS DOUBLE) / CAST(n_vectors AS DOUBLE)"
            " AS mean_cos",
            "CAST(cos_min_dec AS DOUBLE) AS min_cos",
        )
    )


ORACLE_OUTLIER_AUDIT = f"""
WITH {_SQL_QUANTIZED},
lbl AS (
  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, qn.qv, qn.nn
  FROM embeddings e JOIN qn ON e.vec_id = qn.vec_id),
ex AS (
  SELECT label, u.pos, u.v
  FROM lbl, LATERAL (SELECT UNNEST(qv) AS v,
                            generate_subscripts(qv, 1) AS pos) u),
cent AS (
  SELECT label, pos, CAST(floor(AVG(v)) AS BIGINT) AS c
  FROM ex GROUP BY label, pos),
carr AS (
  SELECT label, list(c ORDER BY pos) AS cv,
         list_reduce(list_transform(list(c ORDER BY pos), x -> x * x),
                     (a, b) -> a + b) AS nc
  FROM cent GROUP BY label),
scored AS (
  SELECT lbl.label,
         CAST({_cosine(
             "list_reduce(list_transform(generate_series(1, 64),"
             " i -> qv[i] * cv[i]), (a, b) -> a + b)",
             "nn",
             "nc",
         )} AS DECIMAL(28,9)) AS cos_dec
  FROM lbl JOIN carr USING (label))
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN cos_dec < {OUTLIER_COS_T} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN cos_dec < {OUTLIER_COS_T} THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS outlier_share,
       CAST(CAST(SUM(cos_dec) AS DECIMAL(38,9)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_cos,
       CAST(MIN(cos_dec) AS DOUBLE) AS min_cos
FROM scored GROUP BY label
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in (
        QuerySpec(
            "embeddings_outlier_audit", embeddings_outlier_audit,
            ORACLE_OUTLIER_AUDIT,
            "per-label centroid-cosine outlier pruning audit "
            "(broadcast centroid dim, exact int64 dots)",
        ),
        QuerySpec(
            "embeddings_quantize_int8", embeddings_quantize_int8,
            ORACLE_QUANTIZE_INT8,
            "max-abs int8 vector quantization + reconstruction error",
        ),
        QuerySpec(
            "similarity_topk_cosine", similarity_topk_cosine,
            ORACLE_TOPK_COSINE,
        ),
        QuerySpec(
            "similarity_pq_adc", similarity_pq_adc, ORACLE_PQ_ADC,
            "product-quantization ADC top-k (packed 4-bit codes, 8x "
            "compression, exact-integer asymmetric distance)",
        ),
        QuerySpec(
            "similarity_pq_ivf", similarity_pq_ivf, ORACLE_PQ_IVF,
            "IVF-PQ ANN: probe 32 cells of the shared K=128 inverted "
            "file through 8x-compressed packed PQ codes (asymmetric "
            "distance), exact re-rank only the ADC top max(50, N/20) "
            "— closes pq_adc's full-scan gap",
        ),
        QuerySpec(
            "similarity_ann_lsh", similarity_ann_lsh, ORACLE_ANN_LSH,
            "banded sign-LSH ANN (avalanched planes; size-adaptive "
            "banding: 56x8 bits at >=1k vectors, 64x7 below — "
            "recall@10 0.81/0.86 at the 500-vector corpora where the "
            "old fixed geometry floored at 0.59, 0.745 at sf0.1)",
            # geometry comes from _corpus_n (memoized one-time count,
            # an index-build artifact like _ivf_cents) so the builder
            # is lazy on warm sessions — no eager flag needed
        ),
        QuerySpec(
            "similarity_ann_ivf", similarity_ann_ivf, ORACLE_ANN_IVF,
            "IVF-Flat ANN over a trained K=128 Lloyd inverted file "
            "(probe 28 cells, exact re-rank; recall@10 0.725 at a "
            "0.23 corpus fraction)",
        ),
        QuerySpec(
            "similarity_ann_ivf_kmeans", similarity_ann_ivf_kmeans,
            ORACLE_ANN_IVF_KMEANS,
            "IVF-SQ8 ANN: probe 32 cells of the shared inverted file "
            "through 4x int8 codes, exact re-rank only the compressed "
            "top max(50, N/20) (recall@10 0.76 at a 0.05 exact-rerank "
            "fraction); the k-means fit is a zero-collect checkpointed "
            "relation, oracle replays it relationally",
        ),
    )
}
