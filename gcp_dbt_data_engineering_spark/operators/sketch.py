"""Distributed probabilistic sketches with bit-exact cross-engine math.

Sketches are the scale path for "how many distinct / roughly how often /
probably seen before" questions: their partial states are tiny and
MERGEABLE (max per register, bit-or per word, sum per counter), so at
100 TB each executor folds its partition into a few KB of state and the
shuffle carries sketch states, not rows. These four are the standard
kit a training-data pipeline runs continuously (cardinality tracking,
membership pre-filters before expensive joins, heavy-hitter
detection, quantile tracking):

- ``sketch_hll_distinct_users``  — HyperLogLog register build + raw
  estimator (Flajolet et al. 2007), avalanched hash (see _hll_hash).
- ``sketch_bloom_customer_filter`` — Bloom filter build over one
  relation, probe of another, with the realized false-positive set.
- ``sketch_countmin_heavy_users`` — count-min sketch (Cormode &
  Muthukrishnan 2005) vs true counts for the top keys.
- ``sketch_kmv_distinct_users`` — k-minimum-values (theta-sketch
  ancestor) distinct-count estimate.
- ``sketch_kmv_set_ops`` — theta-sketch set operations (Dasgupta et
  al. 2016): |A∪B| / |A∩B| / |A\\B| estimated from two KMV samples
  under the common θ, no rescan of the raw rows.
- ``sketch_quantile_hdr_prices`` — HDR-histogram quantile sketch
  (hdrhistogram.org design): bit-length bucketing, relative error
  bounded by 2^-B, merge by per-bucket sum.

Engine-stable math contract (the driver hash-compares against DuckDB):

- Hashing is 31-bit modular arithmetic (``(x*A + B) mod P``,
  P = 2^31-1): products stay < 2^62, so no BIGINT overflow in either
  engine (DuckDB errors on overflow; Spark ANSI too).
- Register ranks use ``length(bin(x))`` — both engines' ``bin()``
  returns the minimal binary string (verified: bin(0)='0',
  bin(170)='10101010') — never floor(log2(x)) whose libm path can be
  off-by-one at exact powers of two.
- The HLL harmonic sum is kept in INTEGERS: Z·2^24 = Σ 2^(24-M_j)
  (a BIGINT ≤ 2^32), because DuckDB's double→DECIMAL(38,30) cast is
  imprecise (observed: 2^-24 → …0626185216e-8, not the exact
  …0625e-8), so high-scale decimal sums of doubles are NOT a portable
  exactness trick. One final double division is deterministic IEEE.
- No libm transcendentals anywhere (the textbook small/large-range
  corrections need ln() — libm-dependent — so the spec reports the RAW
  estimator plus the empty-bucket count a production wrapper would
  feed into the correction; tests/test_sketch_merge.py pins both the
  raw-regime accuracy and the client-side linear-counting correction
  against true cardinalities).

Reference parity: the reference repo has no sketch surface (its DQ
design counts exactly — /root/reference/tests/dq_sql_notes.md); these
are [EXT] operators for the 100 TB pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec
from ..sources import load_table

#: 31-bit Mersenne prime — all hash arithmetic is mod P
P = 2_147_483_647
#: LCG-style mixing constants (Numerical Recipes / old-glibc pairs);
#: any fixed odd multipliers work, these are spelled identically in
#: both engines' SQL
A1, B1 = 1_103_515_245, 12_345
A2, B2 = 69_069, 1


def _h1(x: str) -> str:
    return f"(((({x}) % {P}) * {A1} + {B1}) % {P})"


def _h2(x: str) -> str:
    return f"(((({x}) % {P}) * {A2} + {B2}) % {P})"


def _hll_hash(x: str, engine: str) -> str:
    """Avalanching 31-bit hash — HLL needs it, the other sketches don't.

    A single LCG round is a bijective lattice: sequential keys produce
    evenly-spaced hashes whose high (rank) bits are NOT geometric, and
    the raw estimator lands ~1.7x high (measured). Three xor-shift
    rounds interleaved with the two LCG multiplies give murmur-style
    avalanche while staying integer-exact in both engines; only the
    xor spelling differs (Spark ``^`` / shiftright vs DuckDB
    ``xor()`` / ``>>``). Measured on sequential/offset ranges at
    n = 2k..200k: max |est/true - 1| = 0.105, inside 3σ = 0.195 at
    m = 256. Bloom/CM only need position uniformity and KMV only order
    statistics, both fine under the lattice, so they keep the cheaper
    ``_h1``/``_h2``.
    """

    def xs(e: str, s: int) -> str:
        if engine == "spark":
            return f"(({e}) ^ shiftright(({e}), {s}))"
        return f"xor(({e}), (({e}) >> {s}))"

    h = _h1(x)
    h = xs(h, 16)
    h = f"((({h}) * {A2} + {B2}) % {P})"
    h = xs(h, 13)
    h = f"((({h}) * {A1} + {B1}) % {P})"
    return xs(h, 16)


# ---------------------------------------------------------------------------
# HyperLogLog: m=256 registers over events.user_id
# ---------------------------------------------------------------------------

HLL_M = 256  # buckets (b=8 bucket bits, 23 rank bits)

#: alpha_m * m^2 * 2^24 precomputed in Python and inlined in %.17e
#: exponent notation: BOTH engines parse exponent literals as DOUBLE,
#: whereas plain decimal literals (0.7213, 256.0) parse as DECIMAL in
#: DuckDB and the decimal-vs-double arithmetic diverges past 1 ulp
#: (observed: 359.89171882390184 vs 359.8917174799724)
HLL_PREFACTOR = (
    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 16777216.0
)
_HLL_PF = f"{HLL_PREFACTOR:.17e}"


def hll_registers(df: DataFrame, key: str, *groups: str) -> DataFrame:
    """(group…, bucket → max rank) HLL register state for ``df[key]``,
    one register table per value of the ``groups`` columns (none: one
    table).

    Works identically over a batch DataFrame and a streaming one (max
    is a supported streaming aggregate; with complete output mode the
    register table is exactly the batch one — asserted in
    tests/test_streaming.py). This mergeability is the whole sketch
    contract: partial register tables combine by per-bucket max.
    """
    h = _hll_hash(key, "spark")
    return (
        df.selectExpr(*groups, f"{h} AS h")
        .selectExpr(
            *groups,
            f"h % {HLL_M} AS bucket",
            # 23-bit remainder; rank = leading zeros + 1 = 24 - bitlen
            f"CAST(h / {HLL_M} AS BIGINT) AS rem",
        )
        .selectExpr(
            *groups,
            "bucket",
            "CASE WHEN rem = 0 THEN 24 ELSE 24 - length(bin(rem)) END"
            " AS rank",
        )
        .groupBy(*groups, "bucket")
        .agg(F.max("rank").alias("m_j"))
    )


def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register build + raw estimate of distinct ``user_id``.

    Plan: one hash-aggregate to (bucket → max rank) — 256 rows of
    partial state regardless of input size (the mergeable-sketch
    property: partials combine by max) — then a 256-row broadcast-range
    left join to materialize empty buckets, and a single-row final agg.
    The integer harmonic sum Σ 2^(24-M_j) feeds one double division;
    ``true_distinct`` rides along from an exact count-distinct for
    error inspection (drop it at 100 TB — it is the expensive half).
    """
    # sketch key boundary: NULL keys follow SQL COUNT(DISTINCT)/join
    # semantics — they are not members of any key set (the r8
    # adversarial corpus injected NULL user_id/o_custkey; unfiltered,
    # Spark's distinct() COUNTS the null row while COUNT(DISTINCT)
    # ignores it, a NULL hash enters the KMV min-set under Spark's
    # NULLS FIRST default sort but not DuckDB's NULLS LAST, and a NULL
    # Bloom word is an illegal map key)
    ev = load_table(spark, sf_dir, "events").where("user_id IS NOT NULL")
    regs = hll_registers(ev, "user_id")
    buckets = spark.range(HLL_M).selectExpr("CAST(id AS BIGINT) AS bucket")
    filled = buckets.join(F.broadcast(regs), "bucket", "left").selectExpr(
        "bucket", "COALESCE(m_j, 0) AS m_j"
    )
    true_d = ev.selectExpr("user_id").distinct().agg(
        F.count(F.lit(1)).alias("true_distinct")
    )
    return (
        filled.agg(
            F.expr("SUM(shiftleft(CAST(1 AS BIGINT), 24 - m_j))").alias(
                "z_scaled"
            ),
            F.expr("SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END)").alias(
                "n_empty_buckets"
            ),
            F.expr("MAX(m_j)").alias("max_rank"),
        )
        .join(F.broadcast(true_d))
        .selectExpr(
            f"CAST({HLL_M} AS BIGINT) AS m",
            "n_empty_buckets",
            "max_rank",
            f"{_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate",
            "true_distinct",
        )
    )


ORACLE_HLL = f"""
WITH hashed AS (
  SELECT {_hll_hash('user_id', 'duckdb')} AS h FROM events
  WHERE user_id IS NOT NULL),
ranks AS (
  SELECT h % {HLL_M} AS bucket,
         CASE WHEN h // {HLL_M} = 0 THEN 24
              ELSE 24 - length(bin(h // {HLL_M})) END AS rank
  FROM hashed),
regs AS (
  SELECT bucket, MAX(rank) AS m_j FROM ranks GROUP BY bucket),
filled AS (
  SELECT g.bucket, COALESCE(regs.m_j, 0) AS m_j
  FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range({HLL_M})) g
  LEFT JOIN regs ON g.bucket = regs.bucket),
agg AS (
  SELECT SUM(1::BIGINT << (24 - m_j)) AS z_scaled,
         CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty_buckets,
         CAST(MAX(m_j) AS INTEGER) AS max_rank
  FROM filled)
SELECT CAST({HLL_M} AS BIGINT) AS m,
       n_empty_buckets,
       max_rank,
       {_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS true_distinct
FROM agg
"""


def sketch_hll_merge_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGE: per-source registers combined into the union.

    Splits events into two disjoint sources (user_id parity — stands in
    for per-datacenter / per-day partial sketches), builds both
    register tables in ONE grouped pass, then derives the union's
    sketch purely from the partial REGISTERS (per-bucket max — no
    rescan of the data). That register-merge step is the whole point of
    sketches at 100 TB: daily/per-shard partials are a few KB each and
    any union (day range, shard set) is answerable without touching the
    rows again. Output: one row per source plus the merge, each with
    its raw estimate and the exact distinct count for error inspection.
    """
    ev = load_table(spark, sf_dir, "events").where("user_id IS NOT NULL")
    per_src = hll_registers(
        ev.selectExpr(
            "CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS src",
            "user_id",
        ),
        "user_id",
        "src",
    )
    merged = (
        per_src.groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
        .selectExpr("'merged' AS src", "bucket", "m_j")
    )
    regs = per_src.unionByName(merged)
    buckets = spark.range(HLL_M).selectExpr(
        "CAST(id AS BIGINT) AS bucket"
    ).crossJoin(
        spark.createDataFrame(
            [("even",), ("odd",), ("merged",)], "src string"
        )
    )
    filled = buckets.join(F.broadcast(regs), ["src", "bucket"], "left")
    ests = (
        filled.selectExpr("src", "bucket", "COALESCE(m_j, 0) AS m_j")
        .groupBy("src")
        .agg(
            F.expr("SUM(shiftleft(CAST(1 AS BIGINT), 24 - m_j))").alias(
                "z_scaled"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_empty_buckets"),
        )
    )
    true_d = (
        ev.selectExpr(
            "CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS src",
            "user_id",
        )
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("true_distinct"))
    )
    true_all = (
        ev.select("user_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("true_distinct"))
        .selectExpr("'merged' AS src", "true_distinct")
    )
    return (
        ests.join(F.broadcast(true_d.unionByName(true_all)), "src")
        .selectExpr(
            "src",
            "n_empty_buckets",
            f"{_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate",
            "true_distinct",
        )
    )


ORACLE_HLL_MERGE = f"""
WITH tagged AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS src,
         user_id, {_hll_hash('user_id', 'duckdb')} AS h
  FROM events WHERE user_id IS NOT NULL),
ranks AS (
  SELECT src, h % {HLL_M} AS bucket,
         CASE WHEN h // {HLL_M} = 0 THEN 24
              ELSE 24 - length(bin(h // {HLL_M})) END AS rank
  FROM tagged),
per_src AS (
  SELECT src, bucket, MAX(rank) AS m_j FROM ranks GROUP BY src, bucket),
regs AS (
  SELECT * FROM per_src
  UNION ALL
  SELECT 'merged' AS src, bucket, MAX(m_j) AS m_j
  FROM per_src GROUP BY bucket),
buckets AS (
  SELECT s.src, CAST(g.range AS BIGINT) AS bucket
  FROM range({HLL_M}) g,
       (SELECT 'even' AS src UNION ALL SELECT 'odd'
        UNION ALL SELECT 'merged') s),
ests AS (
  SELECT b.src,
         SUM(1::BIGINT << (24 - COALESCE(m_j, 0))) AS z_scaled,
         CAST(SUM(CASE WHEN COALESCE(m_j, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_empty_buckets
  FROM buckets b
  LEFT JOIN regs r ON b.src = r.src AND b.bucket = r.bucket
  GROUP BY b.src),
trued AS (
  SELECT src, COUNT(DISTINCT user_id) AS true_distinct
  FROM tagged GROUP BY src
  UNION ALL
  SELECT 'merged', COUNT(DISTINCT user_id) FROM events)
SELECT e.src, e.n_empty_buckets,
       {_HLL_PF} / CAST(e.z_scaled AS DOUBLE) AS hll_estimate,
       t.true_distinct
FROM ests e JOIN trued t ON e.src = t.src
"""


def sketch_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL: distinct-user estimate per event_type.

    The GROUP BY form every dashboard runs ("distinct users per
    product area, daily"): registers keyed by (group, bucket) — state
    is groups × 256 rows total regardless of input — then one
    per-group estimate. The exact count rides along per group for
    error inspection. Same integer-only estimator as the global spec.
    """
    ev = load_table(spark, sf_dir, "events").where("user_id IS NOT NULL")
    regs = hll_registers(ev, "user_id", "event_type")
    types = ev.select("event_type").distinct()
    buckets = types.crossJoin(
        spark.range(HLL_M).selectExpr("CAST(id AS BIGINT) AS bucket")
    )
    ests = (
        buckets.join(F.broadcast(regs), ["event_type", "bucket"], "left")
        .selectExpr("event_type", "COALESCE(m_j, 0) AS m_j")
        .groupBy("event_type")
        .agg(
            F.expr("SUM(shiftleft(CAST(1 AS BIGINT), 24 - m_j))").alias(
                "z_scaled"
            )
        )
    )
    true_d = ev.select("event_type", "user_id").distinct().groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).alias("true_distinct"))
    return ests.join(F.broadcast(true_d), "event_type").selectExpr(
        "event_type",
        f"{_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate",
        "true_distinct",
    )


ORACLE_HLL_BY_TYPE = f"""
WITH hashed AS (
  SELECT event_type, {_hll_hash('user_id', 'duckdb')} AS h FROM events
  WHERE user_id IS NOT NULL),
ranks AS (
  SELECT event_type, h % {HLL_M} AS bucket,
         CASE WHEN h // {HLL_M} = 0 THEN 24
              ELSE 24 - length(bin(h // {HLL_M})) END AS rank
  FROM hashed),
regs AS (
  SELECT event_type, bucket, MAX(rank) AS m_j
  FROM ranks GROUP BY event_type, bucket),
buckets AS (
  SELECT t.event_type, CAST(g.range AS BIGINT) AS bucket
  FROM range({HLL_M}) g,
       (SELECT DISTINCT event_type FROM events
        WHERE user_id IS NOT NULL) t),
ests AS (
  SELECT b.event_type,
         SUM(1::BIGINT << (24 - COALESCE(m_j, 0))) AS z_scaled
  FROM buckets b
  LEFT JOIN regs r
    ON b.event_type = r.event_type AND b.bucket = r.bucket
  GROUP BY b.event_type),
trued AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
  FROM events GROUP BY event_type)
SELECT e.event_type,
       {_HLL_PF} / CAST(e.z_scaled AS DOUBLE) AS hll_estimate,
       t.true_distinct
FROM ests e JOIN trued t ON e.event_type = t.event_type
"""


# ---------------------------------------------------------------------------
# Bloom filter: build over orders.o_custkey, probe every customer
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096   # m
BLOOM_K = 3         # hash functions: (h1 + i*h2) mod m
BLOOM_WORD = 32     # bits per BIGINT word (32 keeps shifts overflow-free)


def bloom_positions(df: DataFrame, key: str) -> DataFrame:
    """k bit positions per key — the Bloom filter's hash fan-out."""
    return df.selectExpr(
        key,
        f"{_h1(key)} AS h1",
        f"{_h2(key)} AS h2",
    ).selectExpr(
        key,
        "explode(array("
        + ", ".join(
            f"(h1 + {i} * h2) % {BLOOM_BITS}" for i in range(BLOOM_K)
        )
        + ")) AS pos",
    )


def bloom_words(df: DataFrame, key: str, *, distinct: bool = True) -> DataFrame:
    """(word → or-ed bits) Bloom state for distinct ``df[key]``.

    Mergeable by per-word ``bit_or`` — two filters built from disjoint
    key sets OR together into exactly the filter of the union
    (asserted in tests/test_sketch_merge.py), which is how per-shard /
    per-day filters combine at 100 TB without touching rows again.

    ``distinct=False`` skips the internal dedup when the caller already
    holds a distinct key relation (bit-OR is idempotent, so the state
    is identical either way — dedup only trims the explode volume).
    """
    keyed = df.select(key)
    if distinct:
        keyed = keyed.distinct()
    return (
        bloom_positions(keyed, key)
        .selectExpr(
            f"CAST(pos / {BLOOM_WORD} AS BIGINT) AS word",
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
            " AS bit",
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def sketch_bloom_customer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership of customers in the orders key set.

    Build: distinct order custkeys → k=3 bit positions each → one
    bit-or aggregate into 128 32-bit words (the filter is 512 bytes of
    mergeable state — at 100 TB each executor ors its partition's
    words and the reduce is trivial). Probe: every customer key checks
    its 3 bits against the BROADCAST filter; ``false_positive`` marks
    keys the filter admits that have no orders (the sketch's one-sided
    error — no false negatives, asserted implicitly by the oracle
    match). This is the standard pre-join filter: at scale you probe
    before shuffling the big side.
    """
    orders = load_table(spark, sf_dir, "orders")
    # NULL-key boundary pinned on BOTH sides (ADVICE r8): a NULL
    # custkey has no membership question to ask — the build side
    # already drops NULLs, and an unfiltered probe side would diverge
    # from the oracle (whose final equi-join silently drops NULL keys
    # while the engine's map-only probe would emit a row for them).
    cust = load_table(spark, sf_dir, "customer").where(
        "c_custkey IS NOT NULL"
    )
    # ONE distinct pass over orders feeds BOTH the filter build and the
    # false-positive audit: the shared DataFrame canonicalizes to the
    # same shuffle, so ReusedExchange serves the second consumer from
    # the first's output instead of re-scanning + re-distincting orders
    # (the r5 form paid two full DISTINCTs — the dominant cost at sf1).
    keys = (
        orders.where("o_custkey IS NOT NULL")
        .select("o_custkey")
        .distinct()
    )
    words = bloom_words(keys, "o_custkey", distinct=False)
    actual = keys.selectExpr("o_custkey AS a_key")
    # The whole 512-byte filter folds to ONE row (a 128-word array) and
    # broadcasts; each customer then tests its k bits as a map-only
    # projection — no explode, no per-key groupBy, no shuffle of the
    # probe side. (The previous form exploded k rows per key and
    # shuffled them back through a bool_and groupBy — at 100 TB that
    # shuffles the big side, the exact thing a pre-join Bloom probe
    # exists to avoid.)
    n_words = BLOOM_BITS // BLOOM_WORD
    warr = words.agg(
        F.expr(
            f"transform(sequence(0, {n_words - 1}),"
            " w -> coalesce(element_at(map_from_entries("
            "collect_list(struct(CAST(word AS INT) AS key, bits AS value))"
            "), w), CAST(0 AS BIGINT)))"
        ).alias("warr")
    )

    def _bit_test(i: int) -> str:
        pos = f"((h1 + {i} * h2) % {BLOOM_BITS})"
        return (
            f"((element_at(warr, CAST({pos} div {BLOOM_WORD} AS INT) + 1)"
            f" div shiftleft(CAST(1 AS BIGINT),"
            f" CAST({pos} % {BLOOM_WORD} AS INT))) % 2) = 1"
        )

    probe = (
        cust.selectExpr(
            "c_custkey",
            f"{_h1('c_custkey')} AS h1",
            f"{_h2('c_custkey')} AS h2",
        )
        .crossJoin(F.broadcast(warr))
        .selectExpr(
            "c_custkey",
            " AND ".join(_bit_test(i) for i in range(BLOOM_K))
            + " AS bloom_member",
        )
    )
    return (
        probe.join(
            F.broadcast(actual),
            probe.c_custkey == F.col("a_key"),
            "left",
        )
        .selectExpr(
            "c_custkey",
            "bloom_member",
            "a_key IS NOT NULL AS actual_member",
            "bloom_member AND a_key IS NULL AS false_positive",
        )
    )


ORACLE_BLOOM = f"""
WITH okeys AS (SELECT DISTINCT o_custkey FROM orders
              WHERE o_custkey IS NOT NULL),
build_pos AS (
  SELECT DISTINCT
         (({_h1('o_custkey')}) + i * ({_h2('o_custkey')})) % {BLOOM_BITS}
           AS pos
  FROM okeys, (SELECT range AS i FROM range({BLOOM_K})) ks),
words AS (
  SELECT pos // {BLOOM_WORD} AS word,
         bit_or(1::BIGINT << CAST(pos % {BLOOM_WORD} AS INT)) AS bits
  FROM build_pos GROUP BY 1),
probe_pos AS (
  -- NULL keys excluded explicitly (the engine probe filters them too;
  -- relying on the final equi-join to drop them left the boundary
  -- implicit — ADVICE r8)
  SELECT c_custkey,
         (({_h1('c_custkey')}) + i * ({_h2('c_custkey')})) % {BLOOM_BITS}
           AS pos
  FROM customer, (SELECT range AS i FROM range({BLOOM_K})) ks
  WHERE c_custkey IS NOT NULL),
probe AS (
  SELECT c_custkey,
         bool_and(COALESCE((bits // (1::BIGINT << CAST(pos % {BLOOM_WORD}
           AS INT))) % 2, 0) = 1) AS bloom_member
  FROM probe_pos
  LEFT JOIN words ON pos // {BLOOM_WORD} = word
  GROUP BY c_custkey)
SELECT c.c_custkey,
       p.bloom_member,
       o.o_custkey IS NOT NULL AS actual_member,
       p.bloom_member AND o.o_custkey IS NULL AS false_positive
-- one output row PER CUSTOMER ROW (duplicate keys repeat), matching
-- the engine's map-only per-row probe — the scale-correct shape; the
-- per-key GROUP BY above is only the explode replay's bookkeeping
FROM customer c
JOIN probe p ON c.c_custkey = p.c_custkey
LEFT JOIN okeys o ON c.c_custkey = o.o_custkey
WHERE c.c_custkey IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Count-min sketch: d=3 rows x w=512 counters over events.user_id
# ---------------------------------------------------------------------------

CM_W = 512
CM_D = 3
#: per-row hash constants (row i uses (x*A + B_i) style independence)
CM_AB = ((1_103_515_245, 12_345), (69_069, 1), (1_664_525, 1_013_904_223))
CM_TOP = 20


def _cm_col(row: int, x: str) -> str:
    a, b = CM_AB[row]
    return f"(((({x}) % {P}) * {a} + {b}) % {P}) % {CM_W}"


def cm_cells(df: DataFrame, key: str) -> DataFrame:
    """Explode each row of ``df`` into its d (row, col) count-min cells.

    Shared by the batch spec and the streaming counter build
    (streaming/events.py::run_countmin_stream) — counting these cells
    IS the sketch, and counts merge across partials/micro-batches by
    plain summation.
    """
    return df.selectExpr(
        "explode(array("
        + ", ".join(
            f"struct(CAST({r} AS INT) AS row,"
            f" CAST({_cm_col(r, key)} AS BIGINT) AS col)"
            for r in range(CM_D)
        )
        + ")) AS cell",
    ).selectExpr("cell.row AS row", "cell.col AS col")


def sketch_countmin_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs true counts for the top-k event users.

    Build: one pass explodes each event into its d=3 (row, col) cells
    and sums — 1536 counters of mergeable state. Estimate: each probed
    key reads its d cells and takes the min (overcount-only error).
    The probed set is the true top-20 (count desc, user_id asc) so the
    oracle is deterministic; ``overcount`` exposes collision error.
    At 100 TB the counter build is one map-side-combined aggregation;
    probes are a broadcast join against the 1536-row counter table.
    """
    ev = load_table(spark, sf_dir, "events")
    counters = cm_cells(ev, "user_id").groupBy("row", "col").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("user_id"))
        .limit(CM_TOP)
    )
    probes = top.selectExpr(
        "user_id",
        "true_n",
        "explode(array("
        + ", ".join(
            f"struct(CAST({r} AS INT) AS row, CAST({_cm_col(r, 'user_id')} AS BIGINT) AS col)"
            for r in range(CM_D)
        )
        + ")) AS cell",
    ).selectExpr("user_id", "true_n", "cell.row AS row", "cell.col AS col")
    return (
        probes.join(F.broadcast(counters), ["row", "col"])
        .groupBy("user_id", "true_n")
        .agg(F.min("n").alias("cm_n"))
        .selectExpr(
            "user_id", "true_n", "cm_n", "cm_n - true_n AS overcount"
        )
    )


def _oracle_cm() -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT user_id, {r} AS row, {_cm_col(r, 'user_id')} AS col"
        " FROM events"
        for r in range(CM_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, true_n, {r} AS row,"
        f" {_cm_col(r, 'user_id')} AS col FROM top"
        for r in range(CM_D)
    )
    return f"""
WITH cells AS ({cell_rows}),
counters AS (
  SELECT row, col, COUNT(*) AS n FROM cells GROUP BY row, col),
top AS (
  SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
  ORDER BY true_n DESC, user_id ASC LIMIT {CM_TOP}),
probes AS ({probe_rows})
SELECT p.user_id, p.true_n, MIN(c.n) AS cm_n, MIN(c.n) - p.true_n AS overcount
FROM probes p JOIN counters c ON p.row = c.row AND p.col = c.col
GROUP BY p.user_id, p.true_n
"""


ORACLE_CM = _oracle_cm()


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct estimate over events.user_id
# ---------------------------------------------------------------------------

KMV_K = 64


def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate: keep the k smallest distinct hash
    values; estimate = (k-1) / (kth_min / P) — the hash-space fraction
    the k minima occupy.

    Plan: distinct-hash aggregate, then a global top-k (ORDER BY hash
    LIMIT k) — Spark executes that as per-partition partial top-k +
    driver merge (TakeOrderedAndProject), i.e. each partition ships at
    most k values: mergeable state, no full sort. One final single-row
    agg computes the estimate; ``true_distinct`` rides along for error
    inspection.
    """
    ev = load_table(spark, sf_dir, "events").where("user_id IS NOT NULL")
    h = _h1("user_id")
    mins = (
        ev.selectExpr(f"{h} AS h")
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )
    true_d = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("true_distinct")
    )
    return (
        mins.agg(F.max("h").alias("kth_hash"))
        .join(F.broadcast(true_d))
        .selectExpr(
            f"CAST({KMV_K} AS BIGINT) AS k",
            "kth_hash",
            f"({KMV_K}.0 - 1.0) / (CAST(kth_hash AS DOUBLE) / {P}.0)"
            " AS kmv_estimate",
            "true_distinct",
        )
    )


ORACLE_KMV = f"""
WITH mins AS (
  SELECT DISTINCT {_h1('user_id')} AS h FROM events
  WHERE user_id IS NOT NULL
  ORDER BY h LIMIT {KMV_K})
SELECT CAST({KMV_K} AS BIGINT) AS k,
       MAX(h) AS kth_hash,
       ({KMV_K}.0 - 1.0) / (CAST(MAX(h) AS DOUBLE) / {P}.0)
         AS kmv_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS true_distinct
FROM mins
"""


# ---------------------------------------------------------------------------
# Sliding-window HLL: trailing 7-day distinct users from per-day registers
# ---------------------------------------------------------------------------

#: trailing window width in calendar days
HLL_WINDOW_DAYS = 7


def sketch_hll_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {HLL_WINDOW_DAYS}-day distinct-user estimate per day,
    derived ENTIRELY from per-day HLL register tables — the time-window
    payoff of sketch mergeability: a deployment stores one 256-register
    state per day (KBs) and answers ANY trailing window by per-bucket
    max over the stored states, never rescanning the events.

    Plan: one grouped pass builds (day, bucket → max rank); a dense
    (days × 256) grid (bounded: both sides are calendar/constant sized)
    left-joins the registers, and a RANGE window over the integer day
    number merges each bucket's trailing week — RANGE, not ROWS, so
    days with no traffic still align the calendar correctly. The exact
    trailing distinct rides along via a banded day-range join for error
    inspection (the expensive half — drop it at 100 TB).
    """
    ev = load_table(spark, sf_dir, "events")
    per_day = hll_registers(
        ev.selectExpr("CAST(ts AS DATE) AS d", "user_id"), "user_id", "d"
    )
    days = per_day.select("d").distinct()
    buckets = spark.range(HLL_M).selectExpr("CAST(id AS BIGINT) AS bucket")
    dense = (
        days.crossJoin(F.broadcast(buckets))
        .join(per_day, ["d", "bucket"], "left")
        .selectExpr(
            "d",
            "bucket",
            "COALESCE(m_j, 0) AS m_j",
            "datediff(d, DATE '1970-01-01') AS dn",
        )
    )
    w = (
        f"(PARTITION BY bucket ORDER BY dn RANGE BETWEEN"
        f" {HLL_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW)"
    )
    ests = (
        dense.selectExpr("d", "bucket", f"MAX(m_j) OVER {w} AS m7")
        .groupBy("d")
        .agg(
            F.expr("SUM(shiftleft(CAST(1 AS BIGINT), 24 - m7))").alias(
                "z_scaled"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN m7 = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_empty_buckets"),
        )
    )
    userdays = (
        ev.selectExpr("CAST(ts AS DATE) AS ud", "user_id")
        .distinct()
        .selectExpr("datediff(ud, DATE '1970-01-01') AS udn", "user_id")
    )
    truth = (
        userdays.join(
            F.broadcast(
                days.selectExpr(
                    "d", "datediff(d, DATE '1970-01-01') AS dn"
                )
            ),
            F.expr(f"udn BETWEEN dn - {HLL_WINDOW_DAYS - 1} AND dn"),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("true_distinct_7d"))
    )
    return ests.join(truth, "d").selectExpr(
        "CAST(d AS STRING) AS day",
        "n_empty_buckets",
        f"{_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate",
        "true_distinct_7d",
    )


ORACLE_HLL_SLIDING = f"""
WITH hashed AS (
  SELECT CAST(ts AS DATE) AS d, user_id,
         {_hll_hash('user_id', 'duckdb')} AS hh
  FROM events),
per_day AS (
  SELECT d, hh % {HLL_M} AS bucket,
         MAX(CASE WHEN hh // {HLL_M} = 0 THEN 24
                  ELSE 24 - length(bin(hh // {HLL_M})) END) AS m_j
  FROM hashed GROUP BY d, hh % {HLL_M}),
days AS (SELECT DISTINCT d FROM per_day),
dense AS (
  SELECT days.d, CAST(g.range AS BIGINT) AS bucket,
         COALESCE(p.m_j, 0) AS m_j,
         date_diff('day', DATE '1970-01-01', days.d) AS dn
  FROM days
  CROSS JOIN range({HLL_M}) g
  LEFT JOIN per_day p
    ON p.d = days.d AND p.bucket = CAST(g.range AS BIGINT)),
merged AS (
  SELECT d, bucket,
         MAX(m_j) OVER (PARTITION BY bucket ORDER BY dn
                        RANGE BETWEEN {HLL_WINDOW_DAYS - 1} PRECEDING
                        AND CURRENT ROW) AS m7
  FROM dense),
ests AS (
  SELECT d,
         SUM(1::BIGINT << (24 - m7)) AS z_scaled,
         CAST(SUM(CASE WHEN m7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty_buckets
  FROM merged GROUP BY d),
userdays AS (
  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
           AS udn, user_id
  FROM events),
truth AS (
  SELECT days.d, COUNT(DISTINCT user_id) AS true_distinct_7d
  FROM days
  JOIN userdays
    ON udn BETWEEN date_diff('day', DATE '1970-01-01', days.d)
                     - {HLL_WINDOW_DAYS - 1}
               AND date_diff('day', DATE '1970-01-01', days.d)
  GROUP BY days.d)
SELECT CAST(e.d AS VARCHAR) AS day,
       n_empty_buckets,
       {_HLL_PF} / CAST(z_scaled AS DOUBLE) AS hll_estimate,
       true_distinct_7d
FROM ests e JOIN truth t ON e.d = t.d
"""


# ---------------------------------------------------------------------------
# Theta-sketch set operations over two KMV samples (orders epochs)
# ---------------------------------------------------------------------------

#: sample size per set for the set-operation sketches
KMV_SET_K = 256
#: epoch split: set A = customers ordering before, B = on/after
_KMV_SET_EPOCH = "1998-01-01"


def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations (the DataSketches/theta design,
    Dasgupta et al. 2016): estimate |A∪B|, |A∩B|, |A\\B| from two KMV
    samples WITHOUT touching the raw rows again.

    A = customers with an order before {epoch}, B = on/after. Each
    sketch keeps its k smallest distinct key hashes; a FULL sketch's
    θ is its kth minimum, while an under-full sketch (fewer than k
    distinct keys) is EXACT and its θ is P — the standard theta-sketch
    convention (ADVICE r7: taking θ = max sample hash for an
    under-full set both biased the estimate and let the strict h < θ
    filter drop the θ-defining member itself on small inputs; with
    θ = P in exact mode the strict filter keeps every member, and for
    full sketches it correctly retains the k−1 hashes below the kth
    minimum — the unbiased (k−1)/θ̂ estimator). θ = least of the
    per-set θs. Every hash below θ is a uniform sample of the union,
    so any set expression is estimated as (matching sample hashes)
    / (θ/P) — the sketch algebra that lets a 100 TB pipeline answer
    arbitrary audience/overlap queries from per-shard KB-sized states.
    Exact counts ride along for error inspection (drop them at scale —
    they are the expensive half).

    Plan: one distinct over (set, hash) → per-set top-k via a 2-
    partition window → a ≤2k-row membership aggregate joined to a
    broadcast 1-row θ. All integer until the final double division.
    """
    od = load_table(spark, sf_dir, "orders")
    h = _h1("o_custkey")
    setcase = (
        f"CASE WHEN o_orderdate < TIMESTAMP '{_KMV_SET_EPOCH}'"
        " THEN 'A' ELSE 'B' END"
    )
    from pyspark.sql.window import Window

    sh = od.selectExpr(f"{setcase} AS s", f"{h} AS h").distinct()
    topk = sh.withColumn(
        "rn", F.row_number().over(Window.partitionBy("s").orderBy("h"))
    ).filter(F.col("rn") <= KMV_SET_K)
    theta = (
        topk.groupBy("s")
        .agg(F.count("h").alias("n"), F.max("h").alias("mx"))
        .agg(
            F.min(
                F.expr(
                    f"CASE WHEN n < {KMV_SET_K}"
                    f" THEN CAST({P} AS BIGINT) ELSE mx END"
                )
            ).alias("theta")
        )
    )
    memb = topk.groupBy("h").agg(
        F.max(F.expr("CASE WHEN s = 'A' THEN 1 ELSE 0 END")).alias("in_a"),
        F.max(F.expr("CASE WHEN s = 'B' THEN 1 ELSE 0 END")).alias("in_b"),
    )
    cnts = (
        memb.crossJoin(F.broadcast(theta))
        .filter("h < theta")
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(
                F.expr("CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END")
            ).alias("n_inter"),
            F.sum(
                F.expr("CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END")
            ).alias("n_diff"),
            F.max("theta").alias("theta"),
        )
    )
    truth = (
        od.selectExpr(
            "o_custkey AS c",
            f"CASE WHEN {setcase} = 'A' THEN 1 ELSE 0 END AS a",
            f"CASE WHEN {setcase} = 'B' THEN 1 ELSE 0 END AS b",
        )
        .groupBy("c")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
        .agg(
            F.count(F.lit(1)).alias("t_union"),
            F.sum(
                F.expr("CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END")
            ).alias("t_inter"),
            F.sum(
                F.expr("CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END")
            ).alias("t_diff"),
        )
    )
    return (
        cnts.crossJoin(F.broadcast(truth))
        .selectExpr(
            "stack(3,"
            " 'union', n_union, theta, t_union,"
            " 'intersect', n_inter, theta, t_inter,"
            " 'a_minus_b', n_diff, theta, t_diff"
            ") AS (op, sample_hits, theta_hash, true_count)"
        )
        .selectExpr(
            "op",
            "theta_hash",
            "sample_hits",
            "CAST(sample_hits AS DOUBLE)"
            f" / (CAST(theta_hash AS DOUBLE) / {P}.0) AS estimate",
            "true_count",
        )
    )


ORACLE_KMV_SET_OPS = f"""
WITH sh AS (
  SELECT DISTINCT
         CASE WHEN o_orderdate < TIMESTAMP '{_KMV_SET_EPOCH}'
              THEN 'A' ELSE 'B' END AS s,
         {_h1('o_custkey')} AS h
  FROM orders),
topk AS (
  SELECT s, h FROM (
    SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn
    FROM sh)
  WHERE rn <= {KMV_SET_K}),
theta AS (
  SELECT MIN(CASE WHEN n < {KMV_SET_K}
             THEN CAST({P} AS BIGINT) ELSE mx END) AS theta
  FROM (SELECT s, COUNT(*) AS n, MAX(h) AS mx FROM topk GROUP BY s)),
memb AS (
  SELECT h,
         MAX(CASE WHEN s = 'A' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s = 'B' THEN 1 ELSE 0 END) AS in_b
  FROM topk GROUP BY h),
cnts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_inter,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_diff,
         MAX(theta) AS theta
  FROM memb, theta WHERE h < theta),
tm AS (
  SELECT o_custkey AS c,
         MAX(CASE WHEN o_orderdate < TIMESTAMP '{_KMV_SET_EPOCH}'
                  THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o_orderdate < TIMESTAMP '{_KMV_SET_EPOCH}'
                  THEN 0 ELSE 1 END) AS in_b
  FROM orders GROUP BY 1),
tc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t_union,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS t_inter,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS t_diff
  FROM tm),
ops AS (
  SELECT 'union' AS op, n_union AS sample_hits, theta, t_union
           AS true_count FROM cnts, tc
  UNION ALL
  SELECT 'intersect', n_inter, theta, t_inter FROM cnts, tc
  UNION ALL
  SELECT 'a_minus_b', n_diff, theta, t_diff FROM cnts, tc)
SELECT op, theta AS theta_hash, sample_hits,
       CAST(sample_hits AS DOUBLE)
         / (CAST(theta AS DOUBLE) / {P}.0) AS estimate,
       true_count
FROM ops
"""


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch over orders.o_totalprice (cents)
# ---------------------------------------------------------------------------

#: sub-bucket precision bits: relative error <= 2^-HDR_B ~ 3.1%
HDR_B = 5
HDR_W = 1 << (HDR_B + 1)  # sub-bucket values fit in [0, 2^(B+1))

#: quantiles as exact rationals (num, den) — rank arithmetic stays
#: integer, so no float q*n boundary ambiguity between engines
HDR_QUANTILES = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def _hdr_bucket_exprs(v: str) -> tuple[str, str, str]:
    """(bucket_index, bucket_id, lower_bound) integer expressions.

    The HDR-histogram bucketing (public design, hdrhistogram.org):
    values below 2^(B+1) are exact; above, the top B+1 bits index a
    sub-bucket whose width doubles per power of two — a base-2
    log-scale histogram with bounded RELATIVE error 2^-B, computed
    entirely from ``length(bin(v))`` and shifts. No libm anywhere
    (a ln-based DDSketch bucket index can straddle a FLOOR boundary
    on the last ulp and diverge between engines; bit length cannot).
    Buckets MERGE by per-id count sum — the sketch property.
    Identical text in both engines except shiftright spelling.
    """
    bi = f"GREATEST(length(bin({v})) - 1 - {HDR_B}, 0)"
    return bi, f"({bi}) * {HDR_W} + ({v} >> ({bi}))", f"({v} >> ({bi})) << ({bi})"


def hdr_buckets(df: DataFrame, cents: str) -> DataFrame:
    """(bucket_id → lower bound, count) HDR state for ``df[cents]``."""
    _, bid, lo = _hdr_bucket_exprs(cents)
    return (
        df.selectExpr(f"{cents} AS v")
        .selectExpr(f"{bid} AS bucket_id", f"{lo} AS lo")
        .groupBy("bucket_id", "lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sketch_quantile_hdr_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of order value from an HDR-histogram sketch vs exact.

    Build: one map-side-combined aggregate into ~hundreds of buckets —
    mergeable, bounded state (size is log(max)/2^-B buckets no matter
    the input). Estimate: cumulative counts in bucket order, first
    bucket whose cumulative count reaches rank = ceil(q*n) (integer
    rational rank arithmetic); the bucket's LOWER BOUND is the
    deterministic reported estimate, so estimate <= true <
    estimate*(1+2^-B) for values above the exact range. The exact
    quantile rides along for error inspection — ranked by the
    distributed two-phase scan (pipeline.two_phase_prefix_sum over a
    1-literal, so every sort is bucket-bounded; the r4 form
    row_numbered the whole table in one task). At 100 TB you drop the
    rider; the sketch is the product.
    """
    orders = load_table(spark, sf_dir, "orders")
    # double -> DECIMAL(22,6) -> cents: the repo money rule (a raw
    # double*100 -> BIGINT cast truncates in Spark but rounds in
    # DuckDB; through decimal the value is exact in both)
    # HDR is defined on NON-NEGATIVE values (bin()/shifts of a
    # negative diverge between engines and hdrhistogram itself):
    # negative prices (refunds) clamp into the v=0 exact bucket —
    # the documented underflow bucket of the sketch.
    cents = orders.selectExpr(
        "GREATEST(CAST(CAST(o_totalprice AS DECIMAL(22,6)) * 100"
        " AS BIGINT), CAST(0 AS BIGINT)) AS v"
    )
    buckets = hdr_buckets(cents, "v")
    from pyspark.sql.window import Window

    wb = Window.orderBy("bucket_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = buckets.withColumn("cum", F.sum("n").over(wb))
    # total row count N derived from the bucket table (SUM of counts)
    # and the rank for each quantile computed lazily from it — the
    # whole spec is one lazy plan, no scalar-count driver action
    total = buckets.agg(F.sum("n").alias("__N"))
    qs = spark.createDataFrame(
        list(HDR_QUANTILES), "quantile string, num long, den long"
    )
    ranks = (
        qs.crossJoin(F.broadcast(total))
        .selectExpr(
            "quantile",
            "CAST((__N * num + den - 1) DIV den AS BIGINT) AS rank",
        )
    )
    # estimate: smallest bucket whose cumulative count reaches rank
    # (min over struct(bucket_id, lo) — bucket_id unique, so this IS
    # the first qualifying bucket)
    est = (
        cum.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("quantile", "rank")
        .agg(F.min(F.struct("bucket_id", "lo")).alias("s"))
        .selectExpr("quantile", "rank", "s.lo AS est_cents")
    )
    # exact rider via rank-prefilter over the SAME bucket relation the
    # sketch already built (r12, guide §8/§2.3: decide with small
    # rows). HDR bucket_id is order-monotone in v by construction (the
    # cum window depends on it), so per-bucket exclusive offsets
    # (cum - n) are global rank offsets; only the ≤1 bucket containing
    # each target rank has its rows shuffled + sorted, instead of the
    # prior two_phase scan's full-data (group, bucket) exchange. Ties
    # share v, so the arbitrary in-tie order cannot change which v
    # sits at a given rank — the only thing joined on.
    tb = (
        cum.crossJoin(F.broadcast(ranks))
        .filter(
            (F.col("rank") > F.col("cum") - F.col("n"))
            & (F.col("rank") <= F.col("cum"))
        )
        .select(
            F.col("bucket_id").alias("__bkt"),
            (F.col("cum") - F.col("n")).alias("__off"),
        )
        .distinct()
    )
    _, _bid, _ = _hdr_bucket_exprs("v")
    w_in = Window.partitionBy("__bkt").orderBy("v")
    tru = (
        cents.selectExpr("v", f"{_bid} AS __bkt")
        .join(F.broadcast(tb), "__bkt")
        .select(
            "v", (F.row_number().over(w_in) + F.col("__off")).alias("rn")
        )
        .join(F.broadcast(ranks), F.col("rn") == F.col("rank"))
        .selectExpr("quantile", "v AS true_cents")
    )
    return est.join(tru, "quantile").selectExpr(
        "quantile",
        "rank",
        "est_cents",
        "true_cents",
        "CAST(true_cents - est_cents AS DOUBLE)"
        " / CAST(true_cents AS DOUBLE) AS rel_err",
    )


def _oracle_hdr() -> str:
    _, bid, lo = _hdr_bucket_exprs("v")
    qrows = " UNION ALL ".join(
        f"SELECT '{label}' AS quantile, {num} AS num, {den} AS den"
        for label, num, den in HDR_QUANTILES
    )
    return f"""
WITH cents AS (
  SELECT GREATEST(CAST(CAST(o_totalprice AS DECIMAL(22,6)) * 100
           AS BIGINT), CAST(0 AS BIGINT)) AS v
  FROM orders),
buckets AS (
  SELECT {bid} AS bucket_id, {lo} AS lo, COUNT(*) AS n
  FROM cents GROUP BY 1, 2),
cum AS (
  SELECT bucket_id, lo, SUM(n) OVER (ORDER BY bucket_id) AS cum
  FROM buckets),
qs AS ({qrows}),
ranks AS (
  SELECT quantile, ((SELECT COUNT(*) FROM cents) * num + den - 1) // den
           AS rank
  FROM qs),
est AS (
  SELECT r.quantile, CAST(r.rank AS BIGINT) AS rank,
         (SELECT lo FROM cum
          WHERE cum >= r.rank ORDER BY bucket_id LIMIT 1) AS est_cents
  FROM ranks r),
exact AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM cents)
SELECT e.quantile, e.rank, e.est_cents, x.v AS true_cents,
       CAST(x.v - e.est_cents AS DOUBLE) / CAST(x.v AS DOUBLE) AS rel_err
FROM est e JOIN exact x ON x.rn = e.rank
"""


ORACLE_HDR = _oracle_hdr()


SPECS: dict[str, QuerySpec] = {
    "sketch_hll_distinct_users": QuerySpec(
        "sketch_hll_distinct_users", sketch_hll_distinct_users, ORACLE_HLL,
        "HyperLogLog m=256 register build + raw estimator, integer-exact",
    ),
    "sketch_hll_users_by_type": QuerySpec(
        "sketch_hll_users_by_type", sketch_hll_users_by_type,
        ORACLE_HLL_BY_TYPE,
        "grouped HLL: distinct users per event_type vs exact",
    ),
    "sketch_hll_merge_sources": QuerySpec(
        "sketch_hll_merge_sources", sketch_hll_merge_sources,
        ORACLE_HLL_MERGE,
        "per-source HLL registers merged by bucket-max into the union",
    ),
    "sketch_bloom_customer_filter": QuerySpec(
        "sketch_bloom_customer_filter", sketch_bloom_customer_filter,
        ORACLE_BLOOM,
        "Bloom build over order keys, probe all customers, realized FPs",
    ),
    "sketch_countmin_heavy_users": QuerySpec(
        "sketch_countmin_heavy_users", sketch_countmin_heavy_users,
        ORACLE_CM,
        "count-min d=3 w=512 vs true counts for top-20 users",
    ),
    "sketch_kmv_distinct_users": QuerySpec(
        "sketch_kmv_distinct_users", sketch_kmv_distinct_users, ORACLE_KMV,
        "k-minimum-values distinct estimate, k=64",
    ),
    "sketch_hll_sliding_window": QuerySpec(
        "sketch_hll_sliding_window", sketch_hll_sliding_window,
        ORACLE_HLL_SLIDING,
        f"trailing {HLL_WINDOW_DAYS}-day distinct users from per-day "
        "HLL registers: calendar RANGE merge, no event rescan",
    ),
    "sketch_kmv_set_ops": QuerySpec(
        "sketch_kmv_set_ops", sketch_kmv_set_ops, ORACLE_KMV_SET_OPS,
        "theta-sketch union/intersection/difference estimates from two "
        f"k={KMV_SET_K} KMV samples (customer epochs) vs exact",
    ),
    "sketch_quantile_hdr_prices": QuerySpec(
        "sketch_quantile_hdr_prices", sketch_quantile_hdr_prices,
        ORACLE_HDR,
        "HDR-histogram quantile sketch p50/p90/p99 vs exact, integer-only",
    ),
}
