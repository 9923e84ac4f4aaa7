"""Build the adversarial-content corpus for the robustness sweep.

Copies an sf dir and injects the pathological rows a real 100 TB
crawl/training corpus always contains, into `documents` and
`embeddings` (every other table is byte-identical):

documents (appended, doc_id ≥ 900000):
  empty string, whitespace-only (including a non-breaking space —
  the only multi-byte UTF-8 char in an otherwise-ASCII doc, which is
  exactly what exposed the byte-vs-codepoint oracle divergence in
  multimodal_byte_features), single char, punctuation-only, a
  50k-char single-repeated-char doc, an exact duplicate of doc 0's
  text under a new id, a one-char-edit near-duplicate of doc 0,
  unicode stress (ZWJ emoji, astral-plane letters, combining marks,
  RTL Hebrew/Arabic, CJK, ligatures), quote/backslash/control
  whitespace soup, a vertical-tab-separated doc, and a
  NULL-text/NULL-lang row. `n_chars` is
  recomputed as code-point length for injected rows.

embeddings (appended, vec_id ≥ 900000):
  the all-zero vector (cosine denominators!), an exact duplicate of
  vec 0, a ±1e30 huge-magnitude vector, a 1e-30 denormal-scale
  vector, and a NULL-embedding row.

orders (appended, o_orderkey ≥ 900000 plus one DUPLICATE of orderkey
0): NULL o_custkey (orphan FK), empty-string status/priority, price
0 / negative / 1e12, 1900 and 2099 order dates, NULL status + NULL
date. These drive the DQ violation paths (uniqueness, referential
integrity, completeness, ranges) to NONZERO counts — on clean data
the violation arithmetic itself is never exercised — and stress
NULL/extreme keys through every join, window and daily rollup.

events (appended, event_id ≥ 900000 plus one DUPLICATE of event_id
0): NULL ts (window ORDER BY null placement differs per engine by
default!), epoch-0 and 2099 timestamps, NULL user_id, NULL and
empty event_type, negative and 1e12 values, NULL / empty-object /
INVALID-JSON props.

customer (appended, c_custkey ≥ 900000 plus one DUPLICATE of custkey
0): NULL name, empty mktsegment, negative balance.

lineitem (appended under o_orderkey 900000 so order-level joins see
them): NULL l_partkey (orphan part FK — the tolerance audit's LEFT
JOIN reason), ZERO l_quantity (the unit-price division), negative
quantity/price, discount > 1, NULL l_shipdate, NULL returnflag, a
DUPLICATE (orderkey, linenumber) pair.

part (appended, p_partkey ≥ 900000): NULL p_brand (group key), zero
and negative p_retailprice (tolerance denominators), NULL p_type.

supplier (appended, s_suppkey ≥ 900000): NULL s_nationkey (orphan
dim FK through every star join).

nation/region (appended, keys ≥ 900000): a nation with a NULL
r_regionkey FK and a NULL-named region — the broadcast dims every
star join traverses.

The oracles stay exact by construction — DuckDB reads the same
injected parquet. Anything that crashes or hash-mismatches on this
corpus is a genuine content-robustness defect (division by zero on
empty docs, unicode length disagreements, NaN ordering, null
propagation), the class of failure small-SF clean data never shows.

Run:  python tools/make_nasty.py [src_sf_dir] [dst_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNICODE_STRESS = (
    "\U0001f469‍\U0001f469‍\U0001f467‍\U0001f466 "
    "café vs café, בְּרֵא"
    "שִׁית برنام"
    "ج 你好世界 \U0001d518\U0001d52b\U0001d526"
    "\U0001d520\U0001d52c\U0001d521\U0001d522 ﬁne"
)
QUOTE_SOUP = (
    "it's a \"test\" with \\backslashes\\ and\tmixed\r\n'quotes' "
    "-- ; DROP TABLE documents; %s {fmt} $dollar `tick`"
)

import unicodedata  # noqa: E402

#: NFC/NFD normalization twins (wave 6): same rendered text, different
#: code points — composed é (U+00E9) vs e + combining acute (U+0301)
NFC_TEXT = unicodedata.normalize(
    "NFC", "café déjà vu naïve münchen"
)
NFD_TEXT = unicodedata.normalize("NFD", NFC_TEXT)
assert NFC_TEXT != NFD_TEXT and len(NFC_TEXT) < len(NFD_TEXT)


def doc_rows() -> list[tuple]:
    """(doc_id, text, lang) — source fixed below, n_chars computed."""
    return [
        (900000, "", "en"),
        (900001, "   \n\t  \xa0 ", "en"),
        (900002, "a", "en"),
        (900003, "!!! ??? ... ,,, ;;;", "en"),
        (900004, "x" * 50000, "en"),
        (900007, UNICODE_STRESS, "zz"),
        (900008, QUOTE_SOUP, "en"),
        (900009, None, None),
        # media-type-aligned stress (media_type = doc_id % 3:
        # 0=image, 1=audio, 2=video). The first batch's unicode doc
        # happened to land on audio; these pin every decoder path
        # against multi-byte payloads (phash samples single BYTES out
        # of payloads — mid-codepoint slices must not corrupt) and
        # zero-length bodies.
        (900010, "", "en"),               # audio, empty body
        (900011, UNICODE_STRESS, "zz"),   # video, multi-byte payload
        (900012, UNICODE_STRESS, "zz"),   # image, multi-byte payload
        (900014, "", "en"),               # video, empty body
        # ---- wave 6 ----------------------------------------------
        # NFC/NFD normalization twins: identical rendered text,
        # different code points — they must NOT exact-dedup (hashes
        # are over raw code points in both engines) but are legit
        # near-dup/shingle bait; n_chars differs (7 vs 10 per word
        # class), stressing every length/ratio path.
        (900015, NFC_TEXT, "fr"),
        (900016, NFD_TEXT, "fr"),
        # word counts at the SHINGLE_N=3 boundary: 2 words (zero
        # shingles — must vanish from shingle relations without
        # dividing by zero), exactly 3 (one shingle), 4 (two).
        (900017, "alpha beta", "en"),
        (900018, "alpha beta gamma", "en"),
        (900019, "alpha beta gamma delta", "en"),
        # one 10k-char word: tokenizers/shingles see ONE giant token
        # (char-level ops see 10k), no whitespace anywhere.
        (900020, "w" * 10000, "en"),
        # every separator class between words: tab, LF, CR, NBSP —
        # the words() split contract across engines.
        (900021, "alpha\tbeta\ngamma\rdelta\xa0epsilon", "en"),
        # exact duplicate of the NFC twin: 900015/900022 is a true
        # dup pair; 900015/900016 must stay distinct in exact dedup.
        (900022, NFC_TEXT, "fr"),
        # ---- wave 7 ----------------------------------------------
        # a single 10 MB token with no whitespace anywhere: word-level
        # ops see ONE giant token, char-level ops see 10M chars — the
        # "binary blob pasted into a text column" crawl reality. 200x
        # the wave-6 10k-word; stresses shingle hashing, token-length
        # stats, entropy folds and every length ratio at real scale.
        (900023, "y" * 10_000_000, "en"),
        # pure non-breaking-space doc (whitespace to a renderer, a
        # 3-byte-per-char multibyte word to a naive splitter)
        (900024, "\xa0" * 500, "zz"),
        # a vertical tab (0x0B) between words: Java's regex \s counts
        # it as whitespace and DuckDB's RE2 \s does not, so it pins
        # the explicit whitespace class of dedup_exact and the
        # [a-z0-9]+ word split behind every shingle
        (900025, "alpha\x0bbeta gamma delta", "en"),
    ]


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    dst = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".artifacts", "sf0.01_nasty")
    )
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        s, d = os.path.join(src, f), os.path.join(dst, f)
        if f == "documents.parquet":
            con.execute(
                "CREATE OR REPLACE TEMP TABLE inj(doc_id BIGINT, "
                "text VARCHAR, lang VARCHAR)"
            )
            con.executemany(
                "INSERT INTO inj VALUES (?, ?, ?)", doc_rows()
            )
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  -- exact duplicate + one-char-edit near-duplicate of
                  -- doc 0 under fresh ids (cross-id dedup bait)
                  SELECT 900005, text, lang, 'src_nasty', n_chars
                  FROM read_parquet('{s}') WHERE doc_id = 0
                  UNION ALL
                  SELECT 900006, 'Z' || substr(text, 2), lang,
                         'src_nasty', length('Z' || substr(text, 2))
                  FROM read_parquet('{s}') WHERE doc_id = 0
                  UNION ALL
                  SELECT doc_id, text, lang, 'src_nasty', length(text)
                  FROM inj
                  ORDER BY doc_id
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "embeddings.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT 900000,
                         list_transform(range(64), i -> CAST(0.0 AS FLOAT)),
                         0
                  UNION ALL
                  SELECT 900001, embedding, label
                  FROM read_parquet('{s}') WHERE vec_id = 0
                  UNION ALL
                  SELECT 900002,
                         list_transform(range(64), i ->
                           CAST(CASE WHEN i % 2 = 0 THEN 1e30
                                     ELSE -1e30 END AS FLOAT)),
                         1
                  UNION ALL
                  SELECT 900003,
                         list_transform(range(64), i ->
                           CAST(1e-30 AS FLOAT)),
                         2
                  UNION ALL
                  SELECT 900004, NULL, 3
                  UNION ALL
                  -- wave 6: non-finite and wrong-dimension encodes.
                  -- The usability boundary (dedup.usable_embedding_
                  -- pred) must exclude ALL of these identically in
                  -- both engines: NaN quantizes divergently
                  -- (+QCLAMP in DuckDB, 0 in Spark), inf is a
                  -- meaningless direction, ragged dims NULL-pad
                  -- zip_with / crash the numpy matmul.
                  SELECT 900005,
                         list_transform(range(64), i ->
                           CAST(CASE WHEN i % 7 = 3 THEN 'NaN'
                                     ELSE '0.25' END AS FLOAT)),
                         4
                  UNION ALL
                  SELECT 900006,
                         list_transform(range(64), i ->
                           CAST(CASE WHEN i = 0 THEN 'Infinity'
                                     WHEN i = 63 THEN '-Infinity'
                                     ELSE '0.5' END AS FLOAT)),
                         5
                  UNION ALL
                  SELECT 900007,
                         list_transform(range(3), i ->
                           CAST(0.5 AS FLOAT)),
                         6
                  UNION ALL
                  SELECT 900008,
                         list_transform(range(100), i ->
                           CAST(0.1 AS FLOAT)),
                         7
                  UNION ALL
                  SELECT 900009, CAST([] AS FLOAT[]), 8
                  UNION ALL
                  -- NULL ELEMENT inside a well-formed vector: stays
                  -- USABLE, element pins to 0 (ADVICE r8 boundary,
                  -- now corpus-level)
                  SELECT 900010,
                         list_transform(range(64), i ->
                           CAST(CASE WHEN i = 5 THEN NULL
                                     ELSE '0.3' END AS FLOAT)),
                         9
                  ORDER BY 1
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "orders.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  -- duplicate PRIMARY KEY: same orderkey as row 0,
                  -- different payload (uniqueness DQ must count it)
                  SELECT o_orderkey, o_custkey, 'F', 77.77,
                         o_orderdate, '5-LOW'
                  FROM read_parquet('{s}') WHERE o_orderkey =
                    (SELECT MIN(o_orderkey) FROM read_parquet('{s}'))
                  UNION ALL
                  -- wave 6: FULL-ROW duplicate (every column equal) —
                  -- the distinct-vs-groupBy class: uniqueness DQ must
                  -- count it, row-level DISTINCT must collapse it
                  SELECT * FROM read_parquet('{s}') WHERE o_orderkey =
                    (SELECT MIN(o_orderkey) FROM read_parquet('{s}'))
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, NULL, 'O', 123.45,
                     TIMESTAMP '1996-06-15 00:00:00', '1-URGENT'),
                    (900001, 1, '', 0.0,
                     TIMESTAMP '2099-01-01 00:00:00', ''),
                    (900002, 1, 'O', -999.99,
                     TIMESTAMP '1900-01-01 00:00:00', '3-MEDIUM'),
                    (900003, 1, NULL, 1000000000000.0, NULL, NULL)
                  ) AS v(o_orderkey, o_custkey, o_orderstatus,
                         o_totalprice, o_orderdate, o_orderpriority)
                  ORDER BY o_orderkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "events.parquet":
            # preserve the source's physical timestamp type
            # (TIMESTAMP_NS) so the engine's nanosAsLong read path is
            # unchanged for the whole table
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  -- duplicate event_id with a different timestamp
                  SELECT event_id, ts + INTERVAL 1 MINUTE, user_id,
                         event_type, value, props
                  FROM read_parquet('{s}') WHERE event_id =
                    (SELECT MIN(event_id) FROM read_parquet('{s}'))
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, CAST(NULL AS TIMESTAMP_NS), 1,
                     'view', 1.0, NULL),
                    (900001, CAST('1970-01-01 00:00:00' AS
                     TIMESTAMP_NS), 1, 'view', 0.0, '{{}}'),
                    (900002, CAST('2099-12-31 23:59:59' AS
                     TIMESTAMP_NS), 1, 'purchase', 1000000000000.0,
                     '{{"k": 1}}'),
                    (900003, CAST('2024-01-10 12:00:00' AS
                     TIMESTAMP_NS), NULL, 'view', 5.0, NULL),
                    (900004, CAST('2024-01-10 12:01:00' AS
                     TIMESTAMP_NS), 2, NULL, -5.0, 'not valid json'),
                    (900005, CAST('2024-01-10 12:02:00' AS
                     TIMESTAMP_NS), 2, '', 2.5, '')
                  ) AS v(event_id, ts, user_id, event_type, value,
                         props)
                  UNION ALL
                  -- wave 6: timestamp collision storm — 40 events at
                  -- ONE instant (distinct ids). Any window/rollup
                  -- ordered by ts alone is nondeterministic under
                  -- this; every deterministic spec must tie-break on
                  -- event_id identically in both engines.
                  SELECT 900100 + i,
                         CAST('2024-01-10 13:00:00' AS TIMESTAMP_NS),
                         3, 'view', CAST(i AS DOUBLE),
                         '{{"storm": ' || i || '}}'
                  FROM range(40) t(i)
                  UNION ALL
                  -- identical (ts, event_id) pair with different
                  -- payloads: the strongest ordering-ambiguity case a
                  -- dedup/window path can meet
                  SELECT * FROM (VALUES
                    (900140, CAST('2024-01-10 13:00:00' AS
                     TIMESTAMP_NS), 3, 'view', 1.0, '{{"a": 1}}'),
                    (900140, CAST('2024-01-10 13:00:00' AS
                     TIMESTAMP_NS), 3, 'click', 2.0, '{{"a": 2}}')
                  ) AS w(event_id, ts, user_id, event_type, value,
                         props)
                  ORDER BY event_id
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "lineitem.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  -- duplicate (orderkey, linenumber) with a changed
                  -- payload
                  SELECT l_orderkey, l_partkey, l_suppkey,
                         l_linenumber, l_quantity + 1, l_extendedprice,
                         l_discount, l_tax, l_returnflag, l_linestatus,
                         l_shipdate
                  FROM read_parquet('{s}') WHERE l_orderkey =
                    (SELECT MIN(l_orderkey) FROM read_parquet('{s}'))
                    AND l_linenumber = 1
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, NULL, 1, 1, 5.0, 500.0, 0.05, 0.02,
                     'N', 'O', TIMESTAMP '1996-03-01 00:00:00'),
                    (900000, 1, 1, 2, 0.0, 100.0, 0.0, 0.0,
                     'N', 'O', TIMESTAMP '1996-03-02 00:00:00'),
                    (900000, 1, 1, 3, -3.0, -150.0, 1.5, 0.0,
                     'R', 'F', TIMESTAMP '1996-03-03 00:00:00'),
                    (900000, 1, 1, 4, 2.0, 200.0, 0.1, 0.04,
                     NULL, NULL, NULL)
                  ) AS v(l_orderkey, l_partkey, l_suppkey,
                         l_linenumber, l_quantity, l_extendedprice,
                         l_discount, l_tax, l_returnflag,
                         l_linestatus, l_shipdate)
                  ORDER BY l_orderkey, l_linenumber
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "part.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, 'nasty part zero', NULL, NULL, 1, 0.0),
                    (900001, 'nasty part neg', 'Brand#99',
                     'NASTY TYPE', 2, -50.0)
                  ) AS v(p_partkey, p_name, p_brand, p_type, p_size,
                         p_retailprice)
                  ORDER BY p_partkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "supplier.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, 'nasty supplier', NULL, -1.0)
                  ) AS v(s_suppkey, s_name, s_nationkey, s_acctbal)
                  ORDER BY s_suppkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "nation.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, 'NASTYLAND', NULL),
                    (900001, NULL, 0)
                  ) AS v(n_nationkey, n_name, n_regionkey)
                  ORDER BY n_nationkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "region.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT * FROM (VALUES (900000, NULL))
                    AS v(r_regionkey, r_name)
                  ORDER BY r_regionkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        elif f == "customer.parquet":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM read_parquet('{s}')
                  UNION ALL
                  SELECT c_custkey, NULL, c_nationkey, -10.0, ''
                  FROM read_parquet('{s}') WHERE c_custkey =
                    (SELECT MIN(c_custkey) FROM read_parquet('{s}'))
                  UNION ALL
                  SELECT * FROM (VALUES
                    (900000, NULL, 0, -10.0, ''),
                    (900001, 'Customer#900001', NULL, 0.0, NULL)
                  ) AS v(c_custkey, c_name, c_nationkey, c_acctbal,
                         c_mktsegment)
                  ORDER BY c_custkey
                ) TO '{d}' (FORMAT PARQUET)
                """
            )
        else:
            shutil.copyfile(s, d)
    chk = con.execute(
        f"SELECT COUNT(*), COUNT(text), MAX(n_chars) FROM "
        f"read_parquet('{dst}/documents.parquet')"
    ).fetchall()
    chk2 = con.execute(
        f"SELECT COUNT(*), COUNT(embedding) FROM "
        f"read_parquet('{dst}/embeddings.parquet')"
    ).fetchall()
    print(f"nasty corpus at {dst}; documents {chk}, embeddings {chk2}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
