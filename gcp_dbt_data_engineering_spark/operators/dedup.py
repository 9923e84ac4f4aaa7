"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

North-star [EXT] surface (SURVEY.md §2.4 A8, §2.3 J4): the reference's
uniqueness machinery (``tests/dq_sql_notes.md:116-117`` — groupBy
business key, count, flag groups >1) generalized to the five dedup
strategies a large-scale training-data pipeline needs:

- ``dedup_exact``            — hash-groupBy on normalized text (A3/A8).
- ``dedup_ngram_jaccard``    — exact set-similarity self-join on 3-word
                               shingles (inverted-index PPJoin shape).
- ``dedup_minhash_lsh``      — MinHash signatures -> banded LSH bucket
                               join -> exact-Jaccard verification.
- ``dedup_simhash``          — 60-bit SimHash + 5-chunk banding;
                               pigeonhole-exact for hamming <= 4.
- ``dedup_embedding_cosine`` — near-dup pairs by cosine over quantized
                               int64 embeddings, blocked by ``label``.
- ``dedup_containment``      — asymmetric containment join (quote
                               inclusion; prefix-filtered, exact recall).
- ``dedup_cluster_components`` / ``dedup_keep_best`` — connected
                               components over the near-dup graph and
                               the per-cluster keep decision.

Correctness: every hash is portable integer arithmetic (see
``texthash.py``) so the DuckDB oracle reproduces Spark's output
bit-for-bit — including any LSH misses (determinism, not recall, is
what the driver gate checks; recall is asserted separately in tests).

Scale posture (100 TB):

- Shingling/hashing is per-row projection work — no shuffle, linear.
- Every pair-generating join keys on 8-byte hashes, never raw text;
  the only shuffles are on those hashes and on ``doc_id``.
- One shingle artifact: each doc's sorted distinct shingle-hash array
  and its size, a narrow projection persisted once per corpus; rows
  (``explode``), sizes and MinHash signatures derive from it inside
  the consuming plan, and only the global-frequency ranking of the
  PPJoin prefix filter is a second memo.
- MinHash: signatures are 16 ``array_min`` projections over each
  doc's shingle array — no aggregate, no shuffle; LSH bucket join
  replaces the O(n^2) pairing with per-bucket blow-up. Skewed buckets
  (boilerplate docs) would salt or cap-by-frequency here — noted, not
  needed at test SF.
- SimHash: one groupBy(doc_id) with 60 partial-agg sign counters over
  the exploded shingle rows, then a 5-way chunk-equality self-join
  (hamming<=4 has exact recall by pigeonhole over 5 chunks of 12 bits).
- Embedding near-dup: ``applyInPandas`` per blocking key — the classic
  blocked near-dup pattern; at 100 TB the block key becomes an LSH
  bucket (see ``similarity.py``) instead of the synthetic ``label``.
  Quantization (floor(x * 2^20) -> int64) makes the dot products exact
  integers, so numpy matmul and the SQL oracle agree bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..plans.spec import QuerySpec
from ..session import memo
from . import texthash as th

# ---------------------------------------------------------------------------
# shared shingle/word-hash relations
# ---------------------------------------------------------------------------

SHINGLE_N = 3


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` persisted and materialized at creation (r12, guide §3.1).

    A LAZY persist leaves every downstream plan built against the
    CHILD plan's estimated stats, which at sf10 under-estimated the
    26M-row/417MB shingle relation below the broadcast threshold — the
    containment verify chain then broadcast the FULL relation twice
    per execution (measured: 919 exec-seconds per warm pass; at 100 TB
    it would OOM outright). After count() the InMemoryRelation carries
    its ACCURATE size, so joins pick broadcast only when it truly fits
    — BHJ at sf0.1, sort-merge at sf10+, decided by measurement.
    """
    df = df.persist()
    df.count()
    return df


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs, n): each doc's distinct shingle hashes as ONE sorted
    array row plus the set size — the dedup family's one shingle
    artifact, a :func:`session.memo` entry every shingle consumer
    derives its relation from (rows, sizes, ranks, MinHash signatures).

    A narrow projection over the documents scan, which
    :func:`sources.load_table` already splits across cores:
    ``array_distinct`` + ``array_sort`` make the set per row, with no
    explode + distinct or groupBy + collect_list shuffle. Docs shorter
    than the shingle width (n = 0) and NULL text drop out, like the
    oracle's unnest. Persisted once per (session, sf_dir) and
    count()-materialized for the accurate-stats reason in
    :func:`_materialized`; a per-CALL persist would leak one cached
    copy per spec per run into the shared session (the round-1
    contamination persist bug).
    """

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        hs = th.shingle_hashes("text", SHINGLE_N, "spark")
        return _materialized(
            docs.selectExpr(
                "doc_id", f"array_sort(array_distinct({hs})) AS hs"
            )
            .selectExpr("doc_id", "hs", "CAST(size(hs) AS BIGINT) AS n")
            .filter("n > 0")
        )

    return memo(spark, "shingle_set", sf_dir, build)


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, h) rows — the inverted-index input, exploded
    from :func:`_shingle_sets` inside the consuming plan (each array is
    already distinct, so no ``distinct`` is needed)."""
    return _shingle_sets(spark, sf_dir).select(
        "doc_id", F.explode("hs").alias("h")
    )


def _shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n): per-doc distinct-shingle counts, projected from
    :func:`_shingle_sets` — the Spark twin of the oracle's ``sz``."""
    return _shingle_sets(spark, sf_dir).select("doc_id", "n")


def _sql_shingle_cte() -> str:
    """DuckDB CTE bodies mirroring :func:`_shingle_rows` and
    :func:`_shingle_sizes` (names sh, sz).

    ``sh`` is MATERIALIZED: every consumer references it 2+ times (both
    self-join sides, sizes, verification), and DuckDB's default CTE
    inlining re-evaluates the shingle hashing per reference — at sf1+
    that turned several oracles from seconds into >60 GB spills (the
    pagerank oracle inlined its whole quadratic candidate chain once
    per unrolled iteration). Purely a plan hint; results are identical.
    """
    hashes = th.shingle_hashes("text", SHINGLE_N, "duck")
    return f"""
sh AS MATERIALIZED (SELECT DISTINCT doc_id, h
       FROM (SELECT doc_id, unnest({hashes}) AS h FROM documents)),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""


def _ranked_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h, rnk, n): each doc's shingles ranked by the GLOBAL
    (document-frequency, hash) order, plus the doc's shingle count.

    The prefix-filter index both set-similarity joins cut their
    prefixes from (Jaccard keeps rnk <= n - ceil(t*n) + 1, containment
    likewise with its own t). Global document frequencies need a
    shuffle on h anyway, so this stays a materialized
    :func:`session.memo` entry, built over the exploded set artifact.
    """
    return memo(
        spark,
        "ranked_shingle",
        sf_dir,
        lambda: _materialized(
            _rank_shingle_frame(_shingle_rows(spark, sf_dir))
        ),
    )


def _jaccard_pairs(
    pairs: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs.

    ``sets`` is the per-doc shingle-array relation
    (:func:`_shingle_sets`): each pair picks up both members' arrays
    in two doc-id equi-joins and ``|A∩B|`` is one JVM
    ``array_intersect`` in the projection — no pair x shingle
    explosion, no re-aggregation exchange, and the set sizes ride
    along for free (guide §2.3/§2.4). Pairs with
    an empty intersection surface as jaccard = 0 and are dropped by
    the threshold filter — the row-join form never produced them
    (inner join on h), so outputs are identical.
    """
    sa = sets.selectExpr("doc_id AS doc_a", "hs AS hs_a", "n AS na")
    sb = sets.selectExpr("doc_id AS doc_b", "hs AS hs_b", "n AS nb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(hs_a, hs_b)) AS BIGINT) AS i",
            "na",
            "nb",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# 1. exact dedup (hash-groupBy) — SURVEY.md §2.4 A3/A8
# ---------------------------------------------------------------------------

#: a whitespace run, spelled out: Java's ``\s`` (this class) includes
#: VT (0x0B) while DuckDB's RE2 ``\s`` does not, so both dialects use
#: the explicit class instead of ``\s``
_WS_RUN = r"[ \t\n\x0B\f\r]+"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on whitespace/case-normalized text.

    Output: one row per distinct normalized text — first/last doc_id to
    keep (keep-first and keep-latest policies) and the copy count. The
    keep-latest column is MAX per group rather than a row_number window
    (same result, one hash aggregate, no sort) — the window variant
    only matters when whole duplicate *rows* must be kept, not ids.

    Engine-stable normalization: the oracle pins DuckDB's trim to the
    ASCII space character (``trim(x, ' ')``) because DuckDB >= 1.0
    strips the full Unicode space set while Spark's ``trim`` strips
    0x20 only — on an all-NBSP document the engines otherwise disagree
    about membership in the empty-key group (caught by the nasty-
    corpus gate). Whitespace runs are the explicit :data:`_WS_RUN`
    class in both dialects: the two engines' regex ``\\s`` classes
    differ on VT (0x0B).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "k", F.regexp_replace(F.trim(F.lower("text")), _WS_RUN, " ")
        )
        .groupBy("k")
        .agg(
            F.min("doc_id").alias("keep_first"),
            F.max("doc_id").alias("keep_last"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_first", "keep_last", "n_copies")
    )


ORACLE_DEDUP_EXACT = f"""
SELECT MIN(doc_id) AS keep_first,
       MAX(doc_id) AS keep_last,
       COUNT(*)    AS n_copies
FROM (SELECT doc_id, regexp_replace(trim(lower(text), ' '), '{_WS_RUN}', ' ', 'g') AS k
      FROM documents)
GROUP BY k
"""


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard set-similarity join (exact)
# ---------------------------------------------------------------------------

# Threshold kept as an exact rational so prefix lengths use integer
# arithmetic: ceil(0.8 * n) in floats rounds 4.0000000000000002 up and
# silently SHORTENS the prefix (a recall bug); (4n + 4) DIV 5 cannot.
JACCARD_T_NUM, JACCARD_T_DEN = 4, 5
JACCARD_T = JACCARD_T_NUM / JACCARD_T_DEN


def _rank_shingle_frame(sh: DataFrame) -> DataFrame:
    """The (doc_id, h, rnk, n) ranking for an arbitrary shingle frame —
    the computation :func:`_ranked_shingles` memoizes per corpus;
    exposed separately so tests can drive synthetic frames."""
    from pyspark.sql import Window

    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(freq, "h")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "h")
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        .select("doc_id", "h", "rnk", "n")
    )


def _ppjoin_candidates(ranked: DataFrame) -> DataFrame:
    """Prefix-filtered candidate pairs (Bayardo et al., WWW'07; PPJoin).

    ``ranked`` is a (doc_id, h, rnk, n) ranking — the corpus memo
    :func:`_ranked_shingles`, or :func:`_rank_shingle_frame` over a
    synthetic shingle frame.

    For Jaccard >= t, any qualifying pair overlaps each member in
    >= ceil(t*n) shingles, so under ONE global shingle order both docs
    must share a shingle inside their first ``n - ceil(t*n) + 1``
    shingles. Ordering globally by (document frequency, hash) puts
    boilerplate shingles LAST, so a shingle appearing in f docs no
    longer yields f^2/2 join rows — the hot-shingle skew bomb the naive
    inverted-index join has — while recall stays exact: every filter
    below only prunes pairs the threshold check would discard anyway.

    The prefix rows carry (rnk, n), so two further exact PPJoin prunes
    run INSIDE the equi-join on columns already present (no extra
    joins; all-integer arithmetic):

    - size filter: J <= min(na,nb)/max(na,nb), so qualifying pairs
      satisfy t_num*na <= t_den*nb and t_num*nb <= t_den*na;
    - position filter: J >= t needs overlap i >= ceil(t_num*(na+nb) /
      (t_num+t_den)); a shared prefix shingle at ranks (ra, rb) bounds
      the overlap by 1 + min(na-ra, nb-rb). A pair survives if ANY of
      its matched prefix rows passes — its FIRST shared shingle gives
      the loosest (valid) bound, so pruning is exact.

    Measured at sf0.1 (5k docs, 260k shingle rows): 119k candidates
    with the prefix filter alone -> far fewer after size+position,
    which is what the verification join's cost scales with.
    """
    pref = ranked.filter(
        F.expr(_prefix_filter_expr(JACCARD_T_NUM, JACCARD_T_DEN))
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("rnk").alias("ra"),
        F.col("n").alias("na"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("rnk").alias("rb"),
        F.col("n").alias("nb"),
    )
    tn, td = JACCARD_T_NUM, JACCARD_T_DEN
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr(f"{tn} * na <= {td} * nb AND {tn} * nb <= {td} * na"))
        .filter(
            F.expr(
                f"1 + least(na - ra, nb - rb)"
                f" >= ({tn} * (na + nb) + {tn} + {td} - 1) DIV ({tn} + {td})"
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with 3-word-shingle Jaccard >= 0.8, exactly.

    Two stages, both exact: (1) candidate generation through the PPJoin
    prefix filter (:func:`_ppjoin_candidates`) — the equi-join runs only
    over each doc's ~(1-t) rarest shingles, so document-frequency-hot
    boilerplate shingles never enter the join; (2) exact-Jaccard
    verification of the candidates over the FULL shingle sets
    (:func:`_jaccard_pairs`). Identical output to the naive
    inverted-index self-join (the oracle still runs the naive plan),
    without its f^2 blow-up on a shingle appearing in f documents —
    the difference between "works at sf0.1" and "works on a 100 TB
    boilerplate-heavy crawl".
    """
    return _jaccard_pairs(
        _ppjoin_candidates(_ranked_shingles(spark, sf_dir)),
        _shingle_sets(spark, sf_dir),
        JACCARD_T,
    )


ORACLE_NGRAM_JACCARD = f"""
WITH {_sql_shingle_cte()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sz x ON doc_a = x.doc_id
JOIN sz y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= {JACCARD_T}
"""


# ---------------------------------------------------------------------------
# 2b. containment join — asymmetric set similarity (quote inclusion)
# ---------------------------------------------------------------------------

#: containment threshold as an exact rational (same integer-prefix
#: arithmetic rationale as JACCARD_T_NUM/DEN)
CONTAIN_T_NUM, CONTAIN_T_DEN = 9, 10


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where >= 90% of one doc's shingles appear in another —
    the ASYMMETRIC near-dup Jaccard misses.

    C(A→B) = |A∩B| / |A|: a short document quoted or embedded inside
    a longer one has high containment but low Jaccard (the union is
    dominated by B), so a Jaccard-threshold dedup keeps both copies.
    Containment is the standard complement (quote inclusion, page
    boilerplate around a reused article, sub-document plagiarism).

    Plan — prefix-filtered, exact recall:

    - Only the CONTAINED side is prefix-pruned: if C(A→B) >= t, A
      shares >= ceil(t*|A|) shingles with B, so A's first
      |A| - ceil(t*|A|) + 1 shingles under the global (df, h) order
      must contain a shared one; the container side indexes all its
      shingles (no symmetric prune exists for containment). The df
      ordering keeps boilerplate shingles out of prefixes — the same
      hot-key defense as the Jaccard PPJoin.
    - Size filter inside the join: i <= nb, so t_num*na <= t_den*nb.
    - Exact verification on the full sets: each candidate pair picks
      up both members' shingle ARRAYS (:func:`_shingle_sets`) in two
      doc-id equi-joins and |A∩B| is one JVM ``array_intersect`` —
      no pair x shingle explosion, no re-aggregation exchange (guide
      §2.3/§2.4). The threshold is the integer test
      t_den*i >= t_num*na (no float wobble); the reported
      ``containment`` is one double division.

    Output is directional: (contained_doc, container_doc) — both
    directions can appear, and exact duplicates appear twice with
    containment 1.0. The oracle runs the naive all-co-shingle-pairs
    plan; outputs are identical.
    """
    sh = _shingle_rows(spark, sf_dir)
    tn, td = CONTAIN_T_NUM, CONTAIN_T_DEN
    pref = (
        _ranked_shingles(spark, sf_dir)
        .filter(F.expr(_prefix_filter_expr(tn, td)))
        .select(
            F.col("doc_id").alias("doc_a"), "h", F.col("n").alias("na")
        )
    )
    # the container side is every doc's FULL exploded shingle set. Its
    # size estimate is the set memo's scaled by row width, which
    # misses the explode fan-out (16 MiB estimated vs ~40 MiB at sf1),
    # so left to that estimate the planner would broadcast an
    # O(corpus) relation; the inverted-index join is a sort-merge
    # join on h at every scale
    full_b = sh.select(F.col("doc_id").alias("doc_b"), "h").hint("merge")
    sizes = _shingle_sizes(spark, sf_dir)
    sz_b = sizes.withColumnRenamed("n", "nb")
    cands = (
        pref.join(full_b, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        # no forced-broadcast hint: the sizes project the materialized
        # set memo, whose stats are measured (an over-estimate for two
        # of its columns), so the planner picks BHJ when it truly fits
        # and a shuffled join at corpus sizes where a forced broadcast
        # would hit the 8 GB relation cap
        .join(sz_b.selectExpr("doc_id AS doc_b", "nb"), "doc_b")
        .filter(F.expr(f"{tn} * na <= {td} * nb"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    inter = (
        cands.join(
            sets.selectExpr(
                "doc_id AS doc_a", "hs AS hs_a", "n AS na"
            ),
            "doc_a",
        )
        .join(sets.selectExpr("doc_id AS doc_b", "hs AS hs_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(hs_a, hs_b)) AS BIGINT) AS i",
            "na",
        )
    )
    return (
        inter.filter(F.expr(f"{td} * i >= {tn} * na"))
        .selectExpr(
            "doc_a AS contained_doc",
            "doc_b AS container_doc",
            "CAST(i AS DOUBLE) / CAST(na AS DOUBLE) AS containment",
        )
    )


ORACLE_CONTAINMENT = f"""
WITH {_sql_shingle_cte()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id != b.doc_id
  GROUP BY 1, 2)
SELECT doc_a AS contained_doc, doc_b AS container_doc,
       CAST(i AS DOUBLE) / CAST(x.n AS DOUBLE) AS containment
FROM inter
JOIN sz x ON doc_a = x.doc_id
WHERE {CONTAIN_T_DEN} * i >= {CONTAIN_T_NUM} * x.n
"""


# ---------------------------------------------------------------------------
# 3. MinHash + banded LSH, exact-Jaccard verification
# ---------------------------------------------------------------------------

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
VERIFY_T = 0.5


def _lsh_bands(sets: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from the (doc_id, hs) shingle
    sets (:func:`_shingle_sets`) — the single definition of the
    signature + banding layout, shared by the operator and the
    occupancy audit (tools/lsh_buckets.py) so the audited algorithm
    cannot drift from the shipping one. Each MinHash value is an
    ``array_min`` over the doc's own array, so signatures are a
    per-row projection with no groupBy."""
    r = MINHASH_K // LSH_BANDS
    mins = sets.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hs, h -> ({a} * h + {b}) % {th.P}))"
            ).alias(f"mh{i}")
            for i, (a, b) in (
                (i, th.minhash_coeffs(i)) for i in range(MINHASH_K)
            )
        ],
    )
    band_keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"mh{bnd * r + j}") for j in range(r)])
            for bnd in range(LSH_BANDS)
        ]
    )
    return mins.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key")
    )


def _prefix_filter_expr(t_num: int, t_den: int) -> str:
    """SQL predicate selecting a ranked shingle row iff it is inside
    its doc's PPJoin prefix for threshold t_num/t_den — shared by the
    jaccard/containment operators and the occupancy audit."""
    return (
        f"rnk <= n - ({t_num} * n + {t_num}) DIV {t_den} + 1"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle -> 16-perm MinHash -> 4x4 banded LSH -> verified pairs.

    Signatures are 16 ``array_min`` projections over each doc's shingle
    array (:func:`_lsh_bands`) — no shuffle before the band join. Band
    keys bucket docs; docs sharing any band become candidates;
    candidates are verified with exact Jaccard. The oracle replays the
    identical permutations, so even LSH *misses* match bit-for-bit.
    """
    sets = _shingle_sets(spark, sf_dir)
    bands = _lsh_bands(sets)
    x = bands.selectExpr("doc_id AS doc_a", "band", "key")
    y = bands.selectExpr("doc_id AS doc_b", "band", "key")
    pairs = (
        x.join(y, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_pairs(pairs, sets, VERIFY_T)


def _sql_minhash() -> str:
    r = MINHASH_K // LSH_BANDS
    min_cols = ",\n       ".join(
        f"MIN(({a} * h + {b}) % {th.P}) AS mh{i}"
        for i, (a, b) in ((i, th.minhash_coeffs(i)) for i in range(MINHASH_K))
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bnd} AS band, concat_ws('_', {cols}) AS key FROM mins".format(
            bnd=bnd,
            cols=", ".join(f"mh{bnd * r + j}" for j in range(r)),
        )
        for bnd in range(LSH_BANDS)
    )
    return f"""
mins AS (SELECT doc_id,
       {min_cols}
       FROM sh GROUP BY doc_id),
bands AS (
{band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


ORACLE_MINHASH_LSH = f"""
WITH {_sql_shingle_cte()},
{_sql_minhash()},
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sz x ON doc_a = x.doc_id
JOIN sz y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= {VERIFY_T}
"""


# ---------------------------------------------------------------------------
# 4. SimHash near-dup pairs (hamming <= 4, recall-exact via 5 banded chunks)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
HAMMING_T = 4
#: HAMMING_T + 1 chunks is the pigeonhole MINIMUM for exact recall at
#: hamming <= HAMMING_T — and the minimum is also the FASTEST choice:
#: candidate volume is sum_k n^2 / 2^width_k, so fewer chunks means both
#: fewer exploded rows (5n not 8n) and wider buckets.  The original
#: 8x4-bit banding (complete for hamming <= 7, far looser than the <= 4
#: filter) measured n^2/2 streamed candidates = 1.25e11 at the 500k-doc
#: sf10; the 5-chunk partition cut that ~8x with byte-identical output.
#: Width history: 32 bits (really 30 — the shingle hash carries < 2^30)
#: measured output-pair slope 1.9 sf1→sf10 (SCALE_CURVE.json): at 500k
#: docs the random-collision floor of a 30-bit fingerprint at
#: hamming <= 4 (P ~ C(30,<=4)/2^30 per pair) dominates real near-dups
#: and output grows ~quadratically.  60 bits (two independent 30-bit
#: feature hashes) push that floor to ~C(60,<=4)/2^60 ~ 5e-13 —
#: negligible at any realistic corpus — restoring ~linear output
#: growth, and each chunk spans 12 bits (4096 buckets), shrinking the
#: candidate multiset another 64x on uniform corpora.
SIMHASH_CHUNK_WIDTHS = (12, 12, 12, 12, 12)  # sums to SIMHASH_BITS
SIMHASH_CHUNK_OFFSETS = (0, 12, 24, 36, 48)

#: second feature hash: affine rehash of the shingle hash (bits 30-59)
_SIM_A2, _SIM_B2 = th.perm_coeffs(17)


def _sim_bit(j: int, dialect: str) -> str:
    """Feature bit j of the 60-bit space: bits 0-29 from the shingle
    hash h, 30-59 from its affine rehash h2 (both < 2^30)."""
    src, off = ("h", 0) if j < 30 else ("h2", 30)
    return th.bit(src, str(j - off), dialect)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over distinct shingle hashes; pairs hamming<=4.

    Features are 3-word shingles, not single words: the synthetic
    corpus has a ~40-word vocabulary, so word-level simhashes collapse
    (every doc shares most words); shingles keep fingerprints apart
    while planted near-dups still land at hamming <= 4.

    One groupBy(doc_id) computes all 32 sign counters as partial aggs
    (no per-bit shuffle); the fingerprint is assembled with shifts.
    Candidate pairs share at least one of the 5 banded chunks
    (SIMHASH_CHUNK_WIDTHS) — hamming <= 4 can corrupt at most 4
    chunks, so by pigeonhole the candidate set is *complete* for the
    <= 4 filter: the output is exact (no LSH luck involved), and the
    oracle agrees exactly.
    """
    # ONE spark.sql statement instead of a DataFrame chain: each chain
    # step eagerly re-analyzes the growing 60-expression tree (measured
    # ~1.2 s of driver CPU per build; the single-SQL form is 0.5 s and
    # executes ~1 s faster) — the round-2 "compile to SQL text
    # end-to-end" discipline applied here.
    # Per-call unique view name, dropped before returning (ADVICE r7):
    # a fixed session-global name was silently overwritten by
    # concurrent/interleaved calls and leaked afterward. Dropping is
    # safe immediately — spark.sql resolves the view at ANALYSIS time,
    # so the returned DataFrame's plan no longer needs the catalog
    # entry. The view is the exploded rows DERIVED from the set memo,
    # never the memo itself: dropTempView uncaches the view's own
    # plan, which would evict the persisted artifact for every later
    # consumer.
    import uuid

    view = f"__graft_simhash_sh_{uuid.uuid4().hex}"
    _shingle_rows(spark, sf_dir).createOrReplaceTempView(view)
    sign_cols = ",\n       ".join(
        f"SUM(CASE WHEN {_sim_bit(j, 'spark')} = 1 THEN 1 ELSE -1 END)"
        f" AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {th.shiftleft_one(str(j), 'spark')}"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(SIMHASH_BITS)
    )
    chunk_vals = ", ".join(
        f"({k}, {off}, {(1 << w) - 1})"
        for k, (off, w) in enumerate(
            zip(SIMHASH_CHUNK_OFFSETS, SIMHASH_CHUNK_WIDTHS)
        )
    )
    # hamming BEFORE the candidate-dedup distinct: bit_count on the
    # streaming join output is nearly free, while distinct() is a
    # shuffle whose input would otherwise be the FULL candidate
    # multiset — on chunk-saturated corpora that multiset dominated
    # the whole spec (measured pre-widening at the 500k-doc sf10:
    # 17 min, almost all in the pre-filter distinct).
    df = spark.sql(f"""
WITH shx AS (SELECT doc_id, h,
                    (({_SIM_A2} * h + {_SIM_B2}) % {th.P}) AS h2
             FROM {view}),
signs AS (SELECT doc_id,
       {sign_cols}
       FROM shx GROUP BY doc_id),
sim AS (SELECT doc_id, {fp_expr} AS simhash FROM signs),
chunks AS (SELECT doc_id, simhash, k,
                  (shiftright(simhash, off) & mask) AS ck
           FROM sim, (VALUES {chunk_vals}) AS c(k, off, mask))
SELECT DISTINCT doc_a, doc_b, hamming
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count({th.xor('a.simhash', 'b.simhash', 'spark')})
              AS INT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.k = b.k AND a.ck = b.ck AND a.doc_id < b.doc_id)
WHERE hamming <= {HAMMING_T}
""")
    spark.catalog.dropTempView(view)
    return df


def _sql_chunk_values() -> str:
    return ", ".join(
        f"({k}, {off}, {(1 << w) - 1})"
        for k, (off, w) in enumerate(
            zip(SIMHASH_CHUNK_OFFSETS, SIMHASH_CHUNK_WIDTHS)
        )
    )


def _sql_simhash() -> str:
    sign_cols = ",\n       ".join(
        f"SUM(CASE WHEN {_sim_bit(j, 'duck')} = 1 THEN 1 ELSE -1 END)"
        f" AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {th.shiftleft_one(str(j), 'duck')}"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
shx AS (SELECT doc_id, h,
               (({_SIM_A2} * h + {_SIM_B2}) % {th.P}) AS h2 FROM sh),
signs AS (SELECT doc_id,
       {sign_cols}
       FROM shx GROUP BY doc_id),
sim AS (SELECT doc_id, {fp} AS simhash FROM signs),
chunks AS (SELECT doc_id, simhash, k, (simhash >> off) & mask AS ck
           FROM sim, (VALUES {_sql_chunk_values()}) AS c(k, off, mask))"""


ORACLE_SIMHASH = f"""
WITH {_sql_shingle_cte()},
{_sql_simhash()}
SELECT DISTINCT doc_a, doc_b, hamming
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count({th.xor('a.simhash', 'b.simhash', 'duck')}) AS INT)
           AS hamming
  FROM chunks a JOIN chunks b
    ON a.k = b.k AND a.ck = b.ck AND a.doc_id < b.doc_id)
WHERE hamming <= {HAMMING_T}
"""


# ---------------------------------------------------------------------------
# 5. embedding cosine near-dup (quantized int64, label-blocked)
# ---------------------------------------------------------------------------

QSCALE = 1 << 20  # floor(x * 2^20): exact in float64, portable to SQL
COSINE_T = 0.4

#: clamp bound for quantized components: with |q| ≤ 2^27-1 and DIM=64,
#: every squared norm / dot product is < 64·2^54 = 2^60, and — the
#: binding case (ADVICE r9) — the IVF centroid-distance fold
#: Σ(x-v)² ≤ 64·(2·QCLAMP)² < 2^62 is exact int64 too (centroid
#: components are means of clamped values, so |x-v| ≤ 2·QCLAMP). The
#: previous 2^28-1 bound protected norms and dots but left the L2 fold
#: a theoretical 2^64 worst case where Spark wraps/throws while
#: DuckDB's SUM promotes to HUGEINT — a latent engine/oracle
#: divergence on adversarial corpora. A corrupt ±1e30 component (a
#: real failure mode in 100 TB embedding dumps) would otherwise
#: overflow the int64 fold under ANSI mode and kill the whole job.
#: For sane embeddings (|x| ≤ 128 = QCLAMP/QSCALE) the clamp never
#: binds, so results on clean corpora are unchanged (test corpora max
#: |x| ≈ 0.58 → |q| ≈ 6·10^5 ≪ 2^27).
QCLAMP = (1 << 27) - 1


#: embedding dimensionality of the corpus contract (similarity.DIM
#: aliases this — defined here so the usability predicate can live
#: beside the quantization boundary without a circular import)
EMB_DIM = 64

#: any float32-origin finite value is <= ~3.4028e38; above this the
#: component can only be +-Infinity (cast to DOUBLE preserves it)
_FINITE_MAX = "3.5e38"


def usable_embedding_pred(col: str, dialect: str, dim: int = EMB_DIM) -> str:
    """The usability boundary every embedding consumer applies, in
    identical SQL text for both dialects (wave-6 adversarial corpus):
    a usable vector is non-NULL, exactly ``dim`` components, and all
    components finite.

    - Wrong-dimension vectors (truncated/concatenated encodes — a real
      failure mode in 100 TB embedding dumps) would silently NULL-pad
      Spark's ``zip_with`` dot products while DuckDB's ``qv[i]``
      indexing yields NULLs at different positions, and a RAGGED batch
      crashes the numpy matmul in ``similarity._spark_chunks``.
    - NaN components diverge between engines inside ``greatest``/
      ``least``/CAST chains (measured: quant_transform yields +QCLAMP
      in DuckDB but 0 in Spark); +-Infinity would clamp consistently
      today but is equally meaningless as a direction component.

    NULL ELEMENTS inside a well-formed vector stay allowed (pinned to
    0 by ``quant_transform``'s coalesce — the ADVICE r8 boundary);
    they drop out of the filter lambda because ``isnan(NULL)`` is NULL.
    """
    fil, ln = ("filter", "size") if dialect == "spark" else (
        "list_filter", "len"
    )
    lam = (
        "x -> isnan(CAST(x AS DOUBLE))"
        f" OR abs(CAST(x AS DOUBLE)) > {_FINITE_MAX}"
    )
    return (
        f"{col} IS NOT NULL AND {ln}({col}) = {dim}"
        f" AND {ln}({fil}({col}, {lam})) = 0"
    )


def quant_transform(col: str, dialect: str) -> str:
    """Clamped int64 quantization of a float-array column — identical
    arithmetic text in both dialects (greatest/least/floor are IEEE
    double ops in both; the clamp happens BEFORE the bigint cast so the
    cast itself can never overflow).

    The coalesce pins a NULL ELEMENT (one missing component inside an
    otherwise-present vector) to 0.0 on both sides: Spark's
    greatest/least skip NULL arguments while DuckDB's NULL handling is
    version-dependent (>= 1.1 skips, older propagates), so an
    uncoalesced NULL element would quantize to +QCLAMP on one side and
    NULL on another (ADVICE r8). On clean corpora (no NULL elements)
    the coalesce is a provable no-op.
    """
    lam = (
        f"x -> CAST(greatest(CAST(-{QCLAMP} AS DOUBLE),"
        f" least(CAST({QCLAMP} AS DOUBLE),"
        f" floor(coalesce(CAST(x AS DOUBLE), 0.0) * {QSCALE})))"
        f" AS BIGINT)"
    )
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({col}, {lam})"

#: max vectors per Gram-tile side — bounds every task's memory and CPU
#: regardless of label skew. At 100 TB raise/lower so a 2S x dim int64
#: tile fits an executor comfortably; shape is unchanged.
COSINE_TILE = 4096

#: chunk assignment within a label: a BALANCED function of the id.
#: Raw ``vec_id % m`` looks uniform but isn't — strided ids (all-even
#: with m=2, ids = k*m generally) or clustered ranges concentrate into
#: one chunk, silently restoring the O(b²) single hot task the tiling
#: exists to eliminate (ADVICE r5). xxhash64 decorrelates any id
#:  pattern from the mod. Shared with the balance regression test.
COSINE_CHUNK_EXPR = "CAST(pmod(xxhash64(vec_id), m) AS INT)"


def embedding_cosine_pairs(emb: DataFrame, tile: int = COSINE_TILE):
    """All within-``label`` pairs with cosine >= COSINE_T, with every
    task bounded to <= 2·``tile`` vectors no matter how hot a label is.

    The r4 form handed each label's FULL block to one ``applyInPandas``
    task — O(b²) memory/CPU in one task for a hot label (VERDICT r4
    item 7). The exact-pairs work is irreducibly O(b²), so the fix is
    TILING, not candidate pruning: each label is split into
    m = ceil(cnt / tile) hash-groups (``pmod(xxhash64(vec_id), m)`` —
    a balanced function of the id, NOT raw ``vec_id % m``, which
    silently re-concentrates strided or clustered id sets into one
    hot chunk and restores the O(b²) single task), every vector
    fans out to the m tiles ``(min(c,o), max(c,o))`` it participates
    in, and each (label, i, j) tile task computes one bounded Gram
    block — within-chunk (i == j) upper-triangle or cross-chunk
    (i < j) full rectangle, emitting (min, max) ids so every unordered
    pair surfaces exactly once. Duplication factor is m per row — the
    standard triangle-tiling cost — and small labels (m = 1) run the
    identical single-tile path as before.

    Numerics are unchanged: exact int64 Gram (dim 64, |x_q| < 2^20 →
    dot < 2^47, exactly representable in float64), then the same fixed
    IEEE op sequence the SQL oracle replays.
    """
    counts = emb.groupBy("label").agg(
        F.expr(f"CAST((COUNT(*) + {tile} - 1) DIV {tile} AS INT) AS m")
    )
    fanned = (
        emb.join(F.broadcast(counts), "label")
        .withColumn("c", F.expr(COSINE_CHUNK_EXPR))
        .withColumn(
            "t",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, m - 1),"
                    " o -> named_struct('i', least(c, o),"
                    "                   'j', greatest(c, o))))"
                )
            ),
        )
        .select(
            "label", F.col("t.i").alias("i"), F.col("t.j").alias("j"),
            "vec_id", "q", "c",
        )
    )

    def tile_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        _, i, j = key
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        if i == j:
            ids = pdf["vec_id"].to_numpy()
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            G = X @ X.T  # exact: values < 2^47
            norms = np.sqrt(np.diag(G).astype(np.float64))
            ia, ib = np.triu_indices(len(ids), k=1)
            cos = G[ia, ib].astype(np.float64) / (norms[ia] * norms[ib])
            va, vb = ids[ia], ids[ib]
        else:
            pa = pdf[pdf["c"] == i]
            pb = pdf[pdf["c"] == j]
            ida = pa["vec_id"].to_numpy()
            idb = pb["vec_id"].to_numpy()
            A = np.array(pa["q"].tolist(), dtype=np.int64)
            B = np.array(pb["q"].tolist(), dtype=np.int64)
            G = A @ B.T
            na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
            nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
            cos = (
                G.astype(np.float64) / (na[:, None] * nb[None, :])
            ).ravel()
            xa = np.repeat(ida, len(idb))
            xb = np.tile(idb, len(ida))
            va = np.minimum(xa, xb)
            vb = np.maximum(xa, xb)
        keep = cos >= COSINE_T
        return pd.DataFrame(
            {"vec_a": va[keep], "vec_b": vb[keep], "cosine": cos[keep]}
        )

    return fanned.groupBy("label", "i", "j").applyInPandas(
        tile_pairs, schema="vec_a bigint, vec_b bigint, cosine double"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup embedding pairs (cosine >= 0.4) within each label block.

    Embeddings are quantized to int64 (clamped floor(x * 2^20),
    ``quant_transform``) in a JVM-side projection, then tiled bounded
    Gram blocks run under ``applyInPandas``
    (``embedding_cosine_pairs``). Blocking key: ``label`` here; at
    scale an LSH bucket id (similarity.py) plays this role, with the
    tiling keeping hot buckets task-bounded.

    Content robustness: NULL / wrong-dimension / non-finite embeddings
    (failed encodes — similarity.usable_embedding_pred, wave 6) and
    vectors whose every component quantizes to 0 (no representable
    direction at QSCALE — the all-zero vector, sub-quantum denormals)
    are excluded at this boundary; cosine is undefined for them and a
    NULL or ragged row would crash the numpy Gram kernel
    (inhomogeneous array).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(usable_embedding_pred("embedding", "spark")))
        .selectExpr(
            "vec_id",
            "label",
            f"{quant_transform('embedding', 'spark')} AS q",
        )
        .filter(
            F.expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
            > 0
        )
    )
    return embedding_cosine_pairs(emb)


ORACLE_EMBEDDING_COSINE = f"""
WITH q AS (
  SELECT vec_id, label,
         {quant_transform('embedding', 'duck')} AS qv
  FROM embeddings WHERE {usable_embedding_pred('embedding', 'duck')}),
n AS (
  SELECT vec_id, label, qv,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nn
  FROM q),
nz AS (SELECT * FROM n WHERE nn > 0),
d AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_reduce(
           list_transform(generate_series(1, len(a.qv)),
                          i -> a.qv[i] * b.qv[i]),
           (x, y) -> x + y) AS dot,
         a.nn AS na, b.nn AS nb
  FROM nz a JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM d
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= {COSINE_T}
"""


# ---------------------------------------------------------------------------
# 6. near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20



def _jaccard_pair_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized near-dup pair list (doc_a, doc_b) per (session, corpus).

    Shared by the clustering and PageRank operators; a lazily persisted
    :func:`session.memo` entry (the pair list is the tiny materialized
    edge table a production pipeline would stage before any graph
    pass).
    """
    return memo(
        spark,
        "pair",
        sf_dir,
        lambda: dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(),
    )


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group near-duplicate documents into clusters — the step that
    turns a pair list (dedup #2/#3) into an actual dedup decision
    (keep one canonical doc per component).

    Connected components by iterative min-label propagation over the
    exact-Jaccard >= 0.8 edge set: every node starts labeled with its
    own doc_id; each round every node takes the minimum label in its
    neighborhood; at fixpoint label == min doc_id of the component.

    Scale posture: rounds = graph diameter, and near-dup components
    are small and dense (diameter 2-4), so this converges in a few
    rounds of one shuffle join each. ``localCheckpoint`` after every
    round truncates plan lineage (without it the plan doubles per
    iteration and the driver dies long before the executors notice).
    For adversarial chain-shaped graphs switch to the alternating
    large-star/small-star algorithm (O(log n) rounds, same join
    primitive). The convergence count per round is the one driver
    action an iterative algorithm genuinely needs.

    Output: one row per component (singletons included) with its
    canonical keep id (= component_id, the min doc_id), member count,
    and max member id.
    """
    labels = _cluster_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("component_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("doc_id").alias("max_doc"),
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id → label) at the min-label-propagation fixpoint — the
    factored iterative core of :func:`dedup_cluster_components`,
    reused by the keep-decision spec.

    A :func:`session.memo` entry like the shingle/pair relations: the
    converged label table is a per-corpus-snapshot artifact a
    production dedup materializes ONCE and every downstream decision
    reads — not something to re-derive per query. The returned frame
    is localCheckpoint-backed (materialized blocks).
    """

    def build() -> DataFrame:
        pairs = _jaccard_pair_list(spark, sf_dir)
        edges = (
            pairs.union(pairs.select("doc_b", "doc_a"))
            .toDF("src", "dst")
            .persist()
        )
        labels = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.col("doc_id").alias("label"))
            .localCheckpoint()
        )
        for _ in range(CC_MAX_ITERS):
            prop = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nlabel"))
            )
            merged = (
                labels.join(prop, "doc_id", "left")
                .select(
                    "doc_id",
                    F.col("label").alias("old"),
                    F.least("label", "nlabel").alias("label"),
                )
                .localCheckpoint()
            )
            changed = merged.filter(F.col("label") < F.col("old")).count()
            labels = merged.select("doc_id", "label")
            if changed == 0:
                break
        edges.unpersist()
        return labels

    return memo(spark, "cc_labels", sf_dir, build)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup DECISION: per near-dup cluster, keep the
    richest member, drop the rest.

    Composes the pipeline end-to-end: pair list → connected
    components (:func:`_cluster_labels`) → a keep policy. Policy here
    is "keep the member with the most DISTINCT shingles" (the
    keep-longest rule production dedups default to — boilerplate
    wrappers and truncated copies lose to the fullest text), ties to
    the smallest doc_id. One arg-max per component via a struct MAX —
    no window, one hash aggregate over (component, member) rows.

    Output: component_id, member count, kept doc + its shingle count,
    and how many docs the decision drops. Singletons keep themselves
    with n_dropped = 0.
    """
    labels = _cluster_labels(spark, sf_dir)
    sz = _shingle_sizes(spark, sf_dir)
    members = labels.join(sz, "doc_id", "left").selectExpr(
        "label AS component_id",
        "doc_id",
        "COALESCE(n, CAST(0 AS BIGINT)) AS n",
    )
    return (
        members.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("MAX(named_struct('n', n, 'neg_id', -doc_id))").alias(
                "best"
            ),
        )
        .selectExpr(
            "component_id",
            "n_docs",
            "-best.neg_id AS keep_doc",
            "best.n AS keep_n_shingles",
            "n_docs - 1 AS n_dropped",
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup similarity graph (iterative numeric op)
# ---------------------------------------------------------------------------

PR_DAMP = 0.85
PR_ITERS = 3
PR_SCALE = 10**12  # contributions quantized to integer "picoranks"


def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank on the Jaccard near-dup graph.

    Ranks which documents sit at the center of duplication clusters
    (high-rank docs are the canonical copies worth keeping). Classic
    power iteration, with cross-engine determinism engineered in:
    each edge contribution ``r/deg`` is quantized with
    ``FLOOR(x * 1e12)`` to an integer BEFORE summing, so the
    per-destination sum is exact and partial-order-free, and every
    remaining op is a fixed double sequence. (A raw double SUM's
    merge order is nondeterministic; a DECIMAL cast rounds, and
    Spark/DuckDB disagree on rounding mode at the last digit — FLOOR
    has no midpoints.) Dangling mass is not redistributed (standard
    simplified PR; documented contract).

    Scale posture: per iteration one join on src + one aggregate on
    dst — two shuffles over the EDGE list. Since r5 the whole 3-round
    power iteration is ONE lazy plan: the node count rides in as a
    broadcast scalar column (no ``docs.count()`` driver action) and
    the fixed iteration count needs no per-round lineage truncation
    (the memoized graph below is the checkpointed base). At 1e9+ docs
    switch the picorank sums to DECIMAL (int64 bounds); a
    convergence-driven variant would reintroduce the driver loop —
    see dedup_cluster_components for that (legitimately eager) shape.
    """
    # the degree-annotated edge list is the GRAPH — a per-corpus
    # artifact like the pair list it derives from; memoized so repeated
    # rank computations (and each one's 3 iterations) read materialized
    # blocks instead of rebuilding edges+degrees per run
    def build_graph() -> DataFrame:
        pairs = _jaccard_pair_list(spark, sf_dir)
        edges = pairs.union(pairs.select("doc_b", "doc_a")).toDF(
            "src", "dst"
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        return edges.join(deg, "src").localCheckpoint()

    edeg = memo(spark, "prgraph", sf_dir, build_graph)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ncnt = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n")))
    # n rides as a broadcast scalar column; 0.15/n and 1/n evaluate to
    # the same IEEE doubles the old Python-inlined literals did
    ranks = docs.crossJoin(ncnt).selectExpr(
        "doc_id", "__n", "1.0 / CAST(__n AS DOUBLE) AS r"
    )
    for _ in range(PR_ITERS):
        contrib = (
            edeg.join(ranks, edeg.src == ranks.doc_id)
            .selectExpr(
                "dst",
                f"CAST(FLOOR(r / CAST(deg AS DOUBLE) * {PR_SCALE})"
                " AS BIGINT) AS c",
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("cs"))
        )
        ranks = (
            docs.crossJoin(ncnt)
            .join(contrib, F.col("doc_id") == contrib.dst, "left")
            .selectExpr(
                "doc_id",
                "__n",
                f"0.15 / CAST(__n AS DOUBLE)"
                f" + {PR_DAMP} * (CAST(COALESCE(cs, 0) AS DOUBLE)"
                f" / {float(PR_SCALE)!r}) AS r",
            )
        )
    return ranks.select(
        "doc_id", F.col("r").alias("pagerank")
    )


def _sql_jaccard_pairs_cte() -> str:
    """CTE chain ending in ``jp`` = the ngram-Jaccard pair list."""
    return f"""{_sql_shingle_cte()},
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jp AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz x ON doc_a = x.doc_id
  JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= {JACCARD_T})"""


def _oracle_pagerank() -> str:
    # ``edeg`` is referenced once per unrolled iteration; without
    # MATERIALIZED, DuckDB inlines the whole quadratic shingle
    # self-join chain into every iteration, and the sf1 oracle spills
    # past a 70 GB temp cap. Materializing the shared prefix makes the
    # oracle linear in PR_ITERS (one candidate-join evaluation total).
    n_expr = "(SELECT COUNT(*) FROM documents)"
    body = f"""
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM jp),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
edeg AS MATERIALIZED (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
r0 AS (
  SELECT doc_id, 1.0 / CAST({n_expr} AS DOUBLE) AS r FROM documents)"""
    for k in range(PR_ITERS):
        body += f""",
c{k} AS (
  SELECT dst, CAST(SUM(CAST(FLOOR(r / CAST(deg AS DOUBLE) * {PR_SCALE})
                            AS BIGINT)) AS BIGINT) AS cs
  FROM edeg JOIN r{k} ON edeg.src = r{k}.doc_id
  GROUP BY dst),
r{k + 1} AS (
  SELECT d.doc_id,
         0.15 / CAST({n_expr} AS DOUBLE)
           + {PR_DAMP} * (CAST(COALESCE(cs, 0) AS DOUBLE)
                          / {float(PR_SCALE)!r}) AS r
  FROM documents d LEFT JOIN c{k} ON d.doc_id = c{k}.dst)"""
    return (
        "WITH "
        + _sql_jaccard_pairs_cte()
        + ","
        + body
        + f"\nSELECT doc_id, r AS pagerank FROM r{PR_ITERS}"
    )


#: min-reachable-label via recursive closure — tractable because test
#: components are tiny; the Spark side is the scalable path.
ORACLE_CLUSTER_COMPONENTS = f"""
WITH RECURSIVE {_sql_shingle_cte()},
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= {JACCARD_T}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY node)
SELECT component_id, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc
FROM comp GROUP BY component_id
"""


ORACLE_KEEP_BEST = f"""
WITH RECURSIVE {_sql_shingle_cte()},
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= {JACCARD_T}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY node),
members AS (
  SELECT c.component_id, c.doc_id, COALESCE(z.n, 0) AS n
  FROM comp c LEFT JOIN sz z ON c.doc_id = z.doc_id),
ranked AS (
  SELECT component_id, doc_id, n,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component_id) AS n_docs
  FROM members)
SELECT component_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS keep_doc,
       CAST(n AS BIGINT) AS keep_n_shingles,
       CAST(n_docs - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# 10. exact repeated-substring spans (Lee et al. 2022, "Deduplicating
#     Training Data Makes Language Models Better")
# ---------------------------------------------------------------------------

#: minimum repeated run length in tokens (the paper uses 50 BPE tokens
#: on web text; 15 words matches this corpus's ~100-word documents)
SPAN_L = 15


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language audit of exact cross-document repeated substrings.

    The suffix-array dedup of Lee et al. (2022), re-expressed for a
    shuffle architecture: instead of one giant suffix array, every
    overlapping ``SPAN_L``-token window is hashed with position kept
    (stride 1), windows whose hash occurs in >= 2 DISTINCT documents
    are cross-corpus repeats, and per document the hit positions merge
    into maximal spans by interval union (two bounded per-doc windows:
    a lag gap-flag, then a running-sum island id — the standard
    islands-and-gaps plan). A maximal repeated run of R >= SPAN_L
    tokens contributes exactly R - SPAN_L + 1 consecutive hits, so the
    merged span recovers the full run, same as the suffix-array walk.

    Output: per language — documents carrying at least one span, span
    count, duplicated-token mass, and the share of the language's
    token mass that is cross-document duplicate text (the number the
    paper reports per corpus).

    Shape (100 TB): hashing is map-side (the two-level word-hash fold,
    text never shuffles); the df-filter join moves (h: int64, doc_id,
    pos: int) rows; the island windows partition by doc_id (bounded by
    document length, never corpus-wide); the final aggregate is
    per-language. Same two-shuffle profile as the contamination and
    boilerplate families.
    """
    docs = load_table(spark, sf_dir, "documents")
    hits = docs.selectExpr(
        "doc_id",
        "lang",
        f"{th.shingle_hashes('text', SPAN_L, 'spark')} AS hs",
    ).select(
        "doc_id", "lang", F.posexplode("hs").alias("pos", "h")
    )
    rep = hits.join(
        hits.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("h"),
        "h",
    )
    from pyspark.sql.window import Window

    byd = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        rep.withColumn(
            "new_isl",
            (
                F.col("pos") - F.lag("pos").over(byd) > F.lit(SPAN_L)
            ).cast("long"),
        )
        .withColumn(
            "isl",
            F.sum(F.coalesce(F.col("new_isl"), F.lit(1))).over(
                byd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "lang", "isl")
        .agg(
            (F.max("pos") - F.min("pos") + SPAN_L).alias("span_tokens")
        )
    )
    per_doc = islands.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    tok = docs.selectExpr(
        "lang", f"size({th.words('text', 'spark')}) AS n_tok"
    ).groupBy("lang").agg(F.sum("n_tok").alias("lang_tokens"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_with_spans"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("dup_tokens").alias("dup_tokens"),
        )
        .join(tok, "lang")
        .selectExpr(
            "lang",
            "docs_with_spans",
            "n_spans",
            "dup_tokens",
            "CAST(dup_tokens AS DOUBLE) / CAST(lang_tokens AS DOUBLE)"
            " AS dup_token_share",
        )
    )


ORACLE_REPEATED_SPANS = f"""
WITH hits AS (
  SELECT doc_id, lang, pos - 1 AS pos, h
  FROM (SELECT doc_id, lang,
               unnest({th.shingle_hashes('text', SPAN_L, 'duck')}) AS h,
               generate_subscripts(
                 {th.shingle_hashes('text', SPAN_L, 'duck')}, 1) AS pos
        FROM documents)),
rep AS (
  SELECT hits.* FROM hits
  JOIN (SELECT h FROM hits GROUP BY h
        HAVING COUNT(DISTINCT doc_id) >= 2) r USING (h)),
gaps AS (
  SELECT doc_id, lang, pos,
         COALESCE(CASE WHEN pos - LAG(pos)
                              OVER (PARTITION BY doc_id ORDER BY pos)
                            > {SPAN_L}
                       THEN 1 ELSE 0 END, 1) AS new_isl
  FROM rep),
islands AS (
  SELECT doc_id, lang, isl,
         MAX(pos) - MIN(pos) + {SPAN_L} AS span_tokens
  FROM (
    SELECT doc_id, lang, pos,
           SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl
    FROM gaps)
  GROUP BY doc_id, lang, isl),
per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_spans, SUM(span_tokens) AS dup_tokens
  FROM islands GROUP BY doc_id, lang),
tok AS (
  SELECT lang, SUM(len({th.words('text', 'duck')})) AS lang_tokens
  FROM documents GROUP BY lang)
SELECT lang,
       COUNT(*) AS docs_with_spans,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens,
       CAST(SUM(dup_tokens) AS DOUBLE) / CAST(MIN(lang_tokens) AS DOUBLE)
         AS dup_token_share
FROM per_doc JOIN tok USING (lang)
GROUP BY lang
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in (
        QuerySpec(
            "dedup_repeated_spans",
            dedup_repeated_spans,
            ORACLE_REPEATED_SPANS,
            "Lee-et-al. exact repeated-substring spans: positional "
            "shingle hits merged by interval union",
        ),
        QuerySpec(
            "dedup_cluster_components",
            dedup_cluster_components,
            ORACLE_CLUSTER_COMPONENTS,
            eager=True,
        ),
        QuerySpec(
            "dedup_graph_pagerank",
            dedup_graph_pagerank,
            _oracle_pagerank(),
            "3-iter PageRank on the near-dup graph; quantized exact "
            "sums; one lazy plan since r5",
        ),
        QuerySpec(
            "dedup_keep_best",
            dedup_keep_best,
            ORACLE_KEEP_BEST,
            "end-to-end dedup decision: per cluster keep the member "
            "with the most distinct shingles, ties to smallest id",
            eager=True,
        ),
        QuerySpec("dedup_exact", dedup_exact, ORACLE_DEDUP_EXACT),
        QuerySpec(
            "dedup_ngram_jaccard", dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD
        ),
        QuerySpec(
            "dedup_containment", dedup_containment, ORACLE_CONTAINMENT,
            "asymmetric containment join C(A->B)>=0.9 — quote-inclusion "
            "near-dups Jaccard misses; prefix-filtered, exact recall",
        ),
        QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, ORACLE_MINHASH_LSH),
        QuerySpec("dedup_simhash", dedup_simhash, ORACLE_SIMHASH),
        QuerySpec(
            "dedup_embedding_cosine",
            dedup_embedding_cosine,
            ORACLE_EMBEDDING_COSINE,
        ),
    )
}
