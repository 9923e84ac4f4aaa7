"""Text-analysis operators over the ``documents`` table.

North-star [EXT] surface (SURVEY.md §2.6 F7): the operations a
training-data pipeline runs over raw text — language identification,
quality scoring, token counting, document fingerprinting. The
reference's own text surface is regex format checks
(``tests/dq_sql_notes.md:147-161``); these operators are the same
"per-row expression, zero UDF" idiom applied to corpus curation.

Everything here is built-in Spark SQL expressions (JVM-side; the
higher-order folds are interpreted but per-row and shuffle-free), with
bit-exact DuckDB oracle twins from the shared dialect fragments in
``texthash.py``. All derived ratios are fixed-order IEEE double
arithmetic over exact integers, so both engines produce identical
bits. Regex patterns deliberately avoid backslash classes (``\\s``
etc.) because Spark and DuckDB unescape string literals differently —
explicit character classes are portable verbatim.

Scale posture (100 TB): every operator is a projection followed by at
most one aggregation or window — no joins, no skew risk; Catalyst
prunes to the ``text`` (+ grouping) columns at the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec
from ..sources import load_table
from . import texthash as th

#: BPE-ish token pattern: word, integer, or single non-alnum mark.
#: (text is pre-lowered; explicit space class keeps the pattern
#: escape-free and therefore dialect-portable.)
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: tiny per-language stopword lexicons (public common-word lists) for
#: the stopword-ratio language heuristic.
LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr": ("le", "la", "de", "et", "un", "en", "les", "des"),
    "de": ("der", "die", "und", "das", "ein", "in", "den", "von"),
}


def _size(arr: str, dialect: str) -> str:
    return f"size({arr})" if dialect == "spark" else f"len({arr})"


def _stop_ratio(ws: str, lang: str, dialect: str) -> str:
    """Fraction of tokens that are ``lang`` stopwords (0.0 if empty)."""
    inlist = ", ".join(f"'{w}'" for w in LEXICONS[lang])
    flt = "filter" if dialect == "spark" else "list_filter"
    n = _size(f"{flt}({ws}, w -> w IN ({inlist}))", dialect)
    tot = _size(ws, dialect)
    return (
        f"CASE WHEN {tot} > 0 THEN CAST({n} AS DOUBLE) / CAST({tot} AS DOUBLE)"
        " ELSE 0.0 END"
    )


def _cjk_count(col: str, dialect: str) -> str:
    """Count of CJK-range code points, via per-char code-point filter
    (portable: no regex escapes; CJK Unified Ideographs block)."""
    if dialect == "spark":
        return (
            f"size(filter(split({col}, ''),"
            " c -> ascii(c) >= 19968 AND ascii(c) <= 40959))"
        )
    return (
        f"len(list_filter(string_split({col}, ''),"
        " c -> ord(c) >= 19968 AND ord(c) <= 40959))"
    )


# ---------------------------------------------------------------------------
# token counting (whitespace words + BPE-ish regex), per source
# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting: docs, word/BPE-ish token totals.

    ``total_bpe_tokens`` (words + numbers + punctuation marks) is the
    usual cheap proxy for tokenizer cost when budgeting a training
    mix. One projection + one hash aggregate on ``source``.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.selectExpr(
        "source",
        f"size({th.words('text', 'spark')}) AS n_words",
        f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0)) AS n_bpe",
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.expr(
            "CAST(SUM(n_words) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
        ).alias("avg_words_per_doc"),
    )


ORACLE_TOKEN_STATS = f"""
WITH per_doc AS (
  SELECT source,
         len({th.words('text', 'duck')}) AS n_words,
         len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_bpe
  FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_words) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_words_per_doc
FROM per_doc
GROUP BY source
"""


# ---------------------------------------------------------------------------
# language identification (stopword-ratio + CJK code-point heuristic)
# ---------------------------------------------------------------------------

#: fixed-precedence argmax over the four stopword ratios, CJK override
#: first: >30% CJK code points ⇒ zh (integer compare — no float ratio).
_LANG_PRED = """CASE
  WHEN cjk_n * 10 > txt_len * 3 THEN 'zh'
  WHEN r_en >= r_es AND r_en >= r_fr AND r_en >= r_de THEN 'en'
  WHEN r_es >= r_fr AND r_es >= r_de THEN 'es'
  WHEN r_fr >= r_de THEN 'fr'
  ELSE 'de' END"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK code-point share, else best stopword
    ratio (ties broken by fixed precedence en>es>fr>de).

    The synthetic corpus draws text from one shared vocabulary and
    assigns ``lang`` labels independently, so predictions collapse to
    'en' — the deliverable is the deterministic classifier plumbing
    (reproduced exactly by the oracle), not label accuracy.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.selectExpr(
        "doc_id",
        "lang",
        f"{th.words('text', 'spark')} AS ws",
        f"{_cjk_count('text', 'spark')} AS cjk_n",
        "length(text) AS txt_len",
    )
    scored = feats.selectExpr(
        "doc_id",
        "lang",
        *[
            f"{_stop_ratio('ws', lang, 'spark')} AS r_{lang}"
            for lang in LEXICONS
        ],
        "cjk_n",
        "txt_len",
    )
    return scored.selectExpr(
        "doc_id", "lang", f"{_LANG_PRED} AS pred_lang",
        "r_en", "r_es", "r_fr", "r_de",
    )


ORACLE_LANGUAGE_ID = f"""
WITH feats AS (
  SELECT doc_id, lang,
         {th.words('text', 'duck')} AS ws,
         {_cjk_count('text', 'duck')} AS cjk_n,
         length(text) AS txt_len
  FROM documents),
scored AS (
  SELECT doc_id, lang,
         {",".join(f"{_stop_ratio('ws', lang, 'duck')} AS r_{lang}" for lang in LEXICONS)},
         cjk_n, txt_len
  FROM feats)
SELECT doc_id, lang, {_LANG_PRED} AS pred_lang, r_en, r_es, r_fr, r_de
FROM scored
"""


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def _quality_feats(dialect: str) -> dict[str, str]:
    ws = th.words("text", dialect)
    n_words = _size(ws, dialect)
    g = ", 'g'" if dialect == "duck" else ""
    alpha_len = f"length(regexp_replace(lower(text), '[^a-z0-9]', ''{g}))"
    digit_len = f"length(regexp_replace(text, '[^0-9]', ''{g}))"
    return {
        "n_words": n_words,
        "avg_word_len": (
            f"CASE WHEN {n_words} > 0 THEN CAST({alpha_len} AS DOUBLE)"
            f" / CAST({n_words} AS DOUBLE) ELSE 0.0 END"
        ),
        "stop_ratio": _stop_ratio(ws, "en", dialect),
        "digit_ratio": (
            f"CASE WHEN length(text) > 0 THEN CAST({digit_len} AS DOUBLE)"
            " / CAST(length(text) AS DOUBLE) ELSE 0.0 END"
        ),
    }


#: weighted score — fixed operation order, identical text both sides.
_SCORE = (
    "0.4 * stop_ratio"
    " + 0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)"
    " + 0.2 * (1.0 - digit_ratio)"
    " + 0.1 * least(avg_word_len / 8.0, 1.0)"
)

_TIER = (
    "CASE WHEN score >= 0.6 THEN 'high'"
    " WHEN score >= 0.45 THEN 'medium' ELSE 'low' END"
)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics + weighted score + tier.

    Length, stopword density, digit density, mean word length — the
    standard cheap pre-filters before model-based scoring. Pure
    projection; deterministic double arithmetic.
    """
    feats = _quality_feats("spark")
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id", *[f"{e} AS {name}" for name, e in feats.items()]
        )
        .selectExpr(
            "doc_id", "n_words", "avg_word_len", "stop_ratio",
            "digit_ratio", f"{_SCORE} AS score",
        )
        .selectExpr(
            "doc_id", "n_words", "avg_word_len", "stop_ratio",
            "digit_ratio", "score", f"{_TIER} AS tier",
        )
    )


def _oracle_quality() -> str:
    feats = _quality_feats("duck")
    cols = ",\n         ".join(f"{e} AS {k}" for k, e in feats.items())
    return f"""
WITH feats AS (
  SELECT doc_id,
         {cols}
  FROM documents),
scored AS (
  SELECT doc_id, n_words, avg_word_len, stop_ratio, digit_ratio,
         {_SCORE} AS score
  FROM feats)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, avg_word_len,
       stop_ratio, digit_ratio, score,
       {_TIER} AS tier
FROM scored
"""


ORACLE_QUALITY = _oracle_quality()


# ---------------------------------------------------------------------------
# document fingerprinting (rolling-hash winnowing-lite)
# ---------------------------------------------------------------------------

FP_GRAM = 5


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling char-5-gram min-hash fingerprint + whole-doc hash.

    ``fp_min`` is the minimum rolling polynomial hash over all
    character 5-grams (a 1-permutation MinHash — the winnowing
    primitive); ``fp_full`` is the polyhash of the whole lowered text
    (exact-dup detector). ``n_docs_same_fp`` counts docs sharing
    ``fp_min`` via a window — a cheap near-dup signal.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.selectExpr(
        "doc_id",
        f"array_min({th.char_shingle_hashes('lower(text)', FP_GRAM, 'spark')})"
        " AS fp_min",
        f"{th.polyhash('lower(text)', 'spark')} AS fp_full",
    )
    w = Window.partitionBy("fp_min")
    return per_doc.select(
        "doc_id", "fp_min", "fp_full",
        F.count(F.lit(1)).over(w).alias("n_docs_same_fp"),
    )


#: LINEAR gram stage (wave 7): per-gram ``substr(text, i, 5)`` is an
#: O(i) code-point scan in DuckDB (21 s at a 100k-char doc, 315 s at
#: 400k — weeks at the 10 MB-token pathology), and folding a captured
#: code list inside a list_transform lambda re-materializes the list
#: per gram (worse). Relational instead: one row per char code, the
#: 5-gram hash as a fixed nesting of LEADs over (doc, pos) — the
#: nested ``(…*31 + c) % P`` equals the polyhash fold exactly — then
#: MIN per doc. Every stage is a vectorized window/aggregate, O(n).
#: fp_full keeps the whole-doc list_reduce (linear; 16 s at 10M).
def _oracle_fingerprint() -> str:
    g = "c0"
    for k in range(1, FP_GRAM):
        g = f"(({g}) * 31 + c{k}) % {th.P}"
    leads = ",\n         ".join(
        f"lead(c, {k}) OVER w AS c{k}" for k in range(1, FP_GRAM)
    )
    return f"""
WITH cd AS MATERIALIZED (
  SELECT doc_id, lower(text) AS lt, length(lower(text)) AS L,
         {th.char_codes('lower(text)')} AS codes
  FROM documents),
ch AS (
  SELECT doc_id, generate_subscripts(codes, 1) AS pos, unnest(codes) AS c
  FROM cd),
gr AS (
  SELECT doc_id, pos, c AS c0,
         {leads}
  FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
gmin AS (
  SELECT doc_id, MIN({g}) AS fp_min
  FROM gr WHERE c{FP_GRAM - 1} IS NOT NULL GROUP BY doc_id),
per_doc AS (
  SELECT cd.doc_id, gmin.fp_min,
         {th.polyhash('lt', 'duck')} AS fp_full
  FROM cd LEFT JOIN gmin ON gmin.doc_id = cd.doc_id)
SELECT doc_id, fp_min, fp_full,
       COUNT(*) OVER (PARTITION BY fp_min) AS n_docs_same_fp
FROM per_doc
"""


ORACLE_FINGERPRINT = _oracle_fingerprint()


# ---------------------------------------------------------------------------
# lexicon-based sentiment (SURVEY.md §2.6 F7: "lexicon join for
# sentiment"). The corpus vocabulary is database jargon, so the
# lexicons map speed/size connotations; the deliverable is the
# deterministic scoring plumbing (explode-free membership counting,
# fixed-order ratio arithmetic), reproduced exactly by the oracle.
# ---------------------------------------------------------------------------

POSITIVE_WORDS = ("fast", "small", "value")
NEGATIVE_WORDS = ("slow", "big", "error")


def _polarity_counts(ws: str, dialect: str) -> tuple[str, str]:
    flt = "filter" if dialect == "spark" else "list_filter"
    pos_in = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
    neg_in = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)
    pos = _size(f"{flt}({ws}, w -> w IN ({pos_in}))", dialect)
    neg = _size(f"{flt}({ws}, w -> w IN ({neg_in}))", dialect)
    return pos, neg


_POLARITY = (
    "CASE WHEN n_pos > n_neg THEN 'positive'"
    " WHEN n_neg > n_pos THEN 'negative' ELSE 'neutral' END"
)


def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sentiment: lexicon hit counts -> signed score -> label.

    score = (pos - neg) / (pos + neg + 1): bounded, smooth near zero,
    integer inputs so the double division is deterministic.
    """
    pos, neg = _polarity_counts("ws", "spark")
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("doc_id", f"{th.words('text', 'spark')} AS ws")
        .selectExpr("doc_id", f"{pos} AS n_pos", f"{neg} AS n_neg")
        .selectExpr(
            "doc_id",
            "n_pos",
            "n_neg",
            "CAST(n_pos - n_neg AS DOUBLE) / CAST(n_pos + n_neg + 1"
            " AS DOUBLE) AS sentiment_score",
            f"{_POLARITY} AS polarity",
        )
    )


def _oracle_sentiment() -> str:
    pos, neg = _polarity_counts("ws", "duck")
    return f"""
WITH w AS (
  SELECT doc_id, {th.words('text', 'duck')} AS ws FROM documents),
counts AS (
  SELECT doc_id, {pos} AS n_pos, {neg} AS n_neg FROM w)
SELECT doc_id, CAST(n_pos AS INTEGER) AS n_pos,
       CAST(n_neg AS INTEGER) AS n_neg,
       CAST(n_pos - n_neg AS DOUBLE) / CAST(n_pos + n_neg + 1 AS DOUBLE)
         AS sentiment_score,
       {_POLARITY} AS polarity
FROM counts
"""


ORACLE_SENTIMENT = _oracle_sentiment()


# ---------------------------------------------------------------------------
# TF-IDF characteristic terms (per-doc top-k)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.

    tf = in-doc term count; idf = ln(N / df) with df counted over
    distinct (doc, term); rank by (score desc, term asc).

    Determinism: ln() is libm-dependent — the JVM and DuckDB disagree
    by 1 ulp on some inputs (observed at sf0.01: 1.2938536447868043 vs
    ...804), so the raw double score is NOT engine-stable. Each score
    is therefore rounded through DECIMAL(28,9) identically on both
    sides — same contract as ``text_unigram_logprob`` — and the
    ROUNDED value drives both the output column and the ranking (ties
    broken by term asc), keeping rank and value consistent across
    engines. A double's exact decimal expansion can never end at a
    scale-9 midpoint (5e-10 is not dyadic), so the rounding itself is
    mode-independent; residual risk is a 1-ulp pair straddling a 1e-9
    boundary (~3e-7 per value).

    Scale posture: two shuffles (term counts by (doc,term), document
    frequency by term) + one window partitioned by doc_id. The corpus
    size N rides along as a broadcast single-row cross join — no
    driver round-trip, so the whole thing is still one lazy plan.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.selectExpr(
        "doc_id", f"explode({th.words('text', 'spark')}) AS term"
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            )
            .cast("decimal(28,9)")
            .cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


ORACLE_TFIDF = f"""
WITH words AS (
  SELECT doc_id, unnest({th.words('text', 'duck')}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term, tf, df,
         CAST(CAST(
           tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df)
         AS DECIMAL(28,9)) AS DOUBLE) AS tfidf
  FROM tf JOIN dfreq USING (term))
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored)
WHERE rnk <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Gopher/C4-style repetition filters (dup-token and top-n-gram mass)
# ---------------------------------------------------------------------------

#: pass thresholds (Gopher-flavored, adapted to the synthetic corpus)
GOPHER_MIN_WORDS = 40
GOPHER_MIN_DISTINCT_RATIO = 0.20
GOPHER_MAX_TOP_WORD_FRAC = 0.20
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.15
GOPHER_MEAN_LEN_LO = 2.0
GOPHER_MEAN_LEN_HI = 10.0

_GOPHER_PASS = (
    f"n_words >= {GOPHER_MIN_WORDS}"
    f" AND distinct_ratio >= {GOPHER_MIN_DISTINCT_RATIO}"
    f" AND top_word_frac <= {GOPHER_MAX_TOP_WORD_FRAC}"
    f" AND top_bigram_frac <= {GOPHER_MAX_TOP_BIGRAM_FRAC}"
    f" AND mean_word_len >= {GOPHER_MEAN_LEN_LO}"
    f" AND mean_word_len <= {GOPHER_MEAN_LEN_HI}"
)


def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher/C4 family of rules).

    Per document: distinct-token ratio, mass of the most frequent
    token and of the most frequent bigram, mean token length, and the
    combined pass verdict. These are the published repetition filters
    (duplicate-line/ngram fraction) adapted to the corpus; together
    with ``text_quality_score`` they form the full heuristic gate a
    pretraining pipeline runs before model-based scoring.

    Scale posture: ONE explode + one two-level aggregation. Unigrams
    and bigrams ride the same explode (a unigram is ``[a-z0-9]+`` so it
    can never contain the space that marks a bigram), and every base
    stat falls out of the gram counts themselves: n_words = sum of
    unigram counts, n_distinct = count of distinct unigrams,
    total_chars = sum(count x token length). That replaces the previous
    three aggregation passes (base scan + unigram topk + bigram topk)
    and two wide joins with one shuffle pair keyed on (doc, gram) ->
    doc. Ratios are single int/int double divisions — bit-stable in
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.selectExpr(
        "doc_id", f"{th.words('text', 'spark')} AS ws"
    )
    # zip_with over two slices, NOT transform(sequence, i -> ws[i]):
    # a non-literal array subscript falls off the codegen fast path and
    # costs ~12x on long token arrays.
    grams = per.selectExpr(
        "doc_id",
        "explode(concat(ws, CASE WHEN size(ws) >= 2 THEN zip_with("
        "slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, ' ', b)) ELSE array() END)) AS g",
    )
    stats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("is_uni", ~F.col("g").contains(" "))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("is_uni"), F.col("n"))).alias("uni_n"),
            F.count(F.when(F.col("is_uni"), F.lit(1))).alias("uni_d"),
            F.sum(
                F.when(F.col("is_uni"), F.col("n") * F.length("g"))
            ).alias("uni_chars"),
            F.max(F.when(F.col("is_uni"), F.col("n"))).alias("top_word_n"),
            F.max(F.when(~F.col("is_uni"), F.col("n"))).alias(
                "top_bigram_n"
            ),
        )
    )
    # zero-word docs emit no grams; restore them via a left join from
    # the (tiny, column-pruned) id projection
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(COALESCE(uni_n, 0) AS INT) AS n_words",
            "CAST(COALESCE(uni_d, 0) AS INT) AS n_distinct",
            "COALESCE(uni_chars, CAST(0 AS BIGINT)) AS total_chars",
            "top_word_n",
            "top_bigram_n",
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "CASE WHEN n_words > 0 THEN CAST(n_distinct AS DOUBLE)"
            " / CAST(n_words AS DOUBLE) ELSE 0.0 END AS distinct_ratio",
            "CASE WHEN n_words > 0 THEN"
            " CAST(COALESCE(top_word_n, 0) AS DOUBLE)"
            " / CAST(n_words AS DOUBLE) ELSE 0.0 END AS top_word_frac",
            "CASE WHEN n_words >= 2 THEN"
            " CAST(COALESCE(top_bigram_n, 0) AS DOUBLE)"
            " / CAST(n_words - 1 AS DOUBLE) ELSE 0.0 END AS top_bigram_frac",
            "CASE WHEN n_words > 0 THEN CAST(total_chars AS DOUBLE)"
            " / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mean_word_len",
        )
        .selectExpr(
            "doc_id", "n_words", "distinct_ratio", "top_word_frac",
            "top_bigram_frac", "mean_word_len",
            f"({_GOPHER_PASS}) AS quality_pass",
        )
    )


ORACLE_GOPHER = f"""
WITH per AS (
  SELECT doc_id, {th.words('text', 'duck')} AS ws FROM documents),
base AS (
  SELECT doc_id,
         len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws, w -> CAST(length(w) AS BIGINT))),
                     (a, w) -> a + w) AS total_chars
  FROM per),
tok AS (
  SELECT doc_id, unnest(ws) AS w FROM per),
topw AS (
  SELECT doc_id, MAX(n) AS top_word_n
  FROM (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY doc_id, w)
  GROUP BY doc_id),
big AS (
  SELECT doc_id, unnest(bs) AS b
  FROM (SELECT doc_id,
               CASE WHEN len(ws) >= 2 THEN
                 list_transform(generate_series(2, len(ws)),
                                i -> ws[i - 1] || ' ' || ws[i])
               ELSE [] END AS bs
        FROM per)),
topb AS (
  SELECT doc_id, MAX(n) AS top_bigram_n
  FROM (SELECT doc_id, b, COUNT(*) AS n FROM big GROUP BY doc_id, b)
  GROUP BY doc_id),
feats AS (
  SELECT base.doc_id,
         CAST(n_words AS INTEGER) AS n_words,
         CASE WHEN n_words > 0 THEN CAST(n_distinct AS DOUBLE)
              / CAST(n_words AS DOUBLE) ELSE 0.0 END AS distinct_ratio,
         CASE WHEN n_words > 0 THEN
              CAST(COALESCE(top_word_n, 0) AS DOUBLE)
              / CAST(n_words AS DOUBLE) ELSE 0.0 END AS top_word_frac,
         CASE WHEN n_words >= 2 THEN
              CAST(COALESCE(top_bigram_n, 0) AS DOUBLE)
              / CAST(n_words - 1 AS DOUBLE) ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN n_words > 0 THEN CAST(total_chars AS DOUBLE)
              / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mean_word_len
  FROM base
  LEFT JOIN topw ON base.doc_id = topw.doc_id
  LEFT JOIN topb ON base.doc_id = topb.doc_id)
SELECT doc_id, n_words, distinct_ratio, top_word_frac, top_bigram_frac,
       mean_word_len, ({_GOPHER_PASS}) AS quality_pass
FROM feats
"""


# ---------------------------------------------------------------------------
# unigram log-probability (perplexity-proxy quality from the corpus's
# own unigram LM — the cheap stand-in for KenLM-style model scoring)
# ---------------------------------------------------------------------------

def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average unigram log-probability per document.

    Vocabulary = the corpus itself (one count pass); each document is
    scored by mean ln(count(w)/N) over its tokens. Low scores flag
    rare-token-heavy (noisy) documents — the usual pre-filter before
    real LM scoring.

    Determinism: a float SUM's partial-aggregation order is
    nondeterministic under parallelism, so each per-token ln() is cast
    to DECIMAL(28,9) BEFORE summing — rounding per term is
    deterministic, the decimal sum is exact and order-free, and the
    final divide is one double op (spec.py rules). Scale 9 (not 12)
    leaves ~0.5e-9 of slack to each rounding boundary, so a last-ulp
    (~1e-16) libm difference between the JVM's ln and DuckDB's cannot
    realistically straddle one; residual risk is a term landing within
    1e-16 of a boundary, ~2e-7 per term.

    Scale posture: one vocab aggregate (shuffle on token), one
    fact-to-vocab join (shuffle on token; at 100 TB the vocab side is
    Zipf-heavy — AQE skew-join or a broadcast of the top-K head plus a
    join for the tail), one per-doc rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.selectExpr(
        "doc_id", f"explode({th.words('text', 'spark')}) AS w"
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    # corpus token total N derived from the (small) vocab aggregate and
    # broadcast as a 1-row relation — keeps the whole spec one lazy
    # plan (no scalar-count driver action; ReuseExchange shares the
    # vocab shuffle between the total and the score join)
    total = F.broadcast(vocab.agg(F.sum("n_w").alias("__N")))
    scored = (
        tok.join(vocab, "w")
        .crossJoin(total)
        .selectExpr(
            "doc_id",
            "CAST(ln(CAST(n_w AS DOUBLE) / CAST(__N AS DOUBLE))"
            " AS DECIMAL(28,9)) AS lp",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp").alias("lp_sum"),
        )
    )
    return scored.selectExpr(
        "doc_id",
        "n_tokens",
        "CAST(lp_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_logprob",
    )


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average bigram conditional log-probability per document.

    The conditional upgrade of ``text_unigram_logprob``: each document
    scores mean ln P(w_i | w_{i-1}) under the corpus's own bigram LM
    with add-one smoothing — P(b|a) = (c(a,b) + 1) / (c(a) + V), all
    integer counts, so the only float op per term is one ln over a
    ratio of exact integers, rounded through DECIMAL(28,9) exactly as
    the unigram spec (same libm-margin analysis). Repetitive or
    templated text scores HIGH (its transitions are common), noisy
    text LOW — combined with the unigram score this is the classic
    cheap perplexity-proxy pair run before real LM scoring.

    Scale posture: everything flows through ONE doc-level gram-count
    aggregate per gram order — (doc, a, b, c_doc) and (doc, w,
    c_doc_w) — from which the corpus-level pair/unigram counts are
    derived by a second (much smaller) aggregate, so the raw
    token/bigram explodes run exactly once each and Spark's
    ReuseExchange shares the doc-level shuffle between the derive and
    the score paths. Each DISTINCT pair is scored once and weighted by
    its in-doc count (decimal x integer — exact, identical to summing
    count copies of the rounded term). The fact side of the score
    joins is the distinct doc-pair table, not the raw bigram stream —
    strictly smaller, Zipf-heavy heads → AQE skew join at 100 TB.
    Docs with <2 words have no bigrams and are absent in both engines
    alike.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.selectExpr("doc_id", f"{th.words('text', 'spark')} AS ws")
    doc_pair = (
        per.selectExpr(
            "doc_id",
            "explode(CASE WHEN size(ws) >= 2 THEN zip_with("
            "slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
            " (a, b) -> struct(a AS a, b AS b)) ELSE array() END) AS p",
        )
        .selectExpr("doc_id", "p.a AS a", "p.b AS b")
        .groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).alias("c_doc"))
    )
    doc_tok = (
        per.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c_doc_w"))
    )
    uni = doc_tok.groupBy("w").agg(F.sum("c_doc_w").alias("c_a"))
    pair = doc_pair.groupBy("a", "b").agg(F.sum("c_doc").alias("c_ab"))
    # vocab size V as a broadcast 1-row relation — no scalar-count
    # driver action, the whole spec stays one lazy plan
    vocab_v = F.broadcast(uni.agg(F.count(F.lit(1)).alias("__V")))
    scored = (
        doc_pair.join(pair, ["a", "b"])
        .join(uni, F.col("a") == F.col("w"))
        .crossJoin(vocab_v)
        .selectExpr(
            "doc_id",
            "c_doc",
            "CAST(ln(CAST(c_ab + 1 AS DOUBLE)"
            " / CAST(c_a + __V AS DOUBLE))"
            " AS DECIMAL(28,9)) AS lp",
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.expr("SUM(lp * CAST(c_doc AS DECIMAL(9,0)))").alias(
                "lp_sum"
            ),
        )
    )
    return scored.selectExpr(
        "doc_id",
        "n_bigrams",
        "CAST(lp_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)"
        " AS avg_bigram_logprob",
    )


ORACLE_BIGRAM = f"""
WITH per AS (
  SELECT doc_id, {th.words('text', 'duck')} AS ws FROM documents),
bi AS (
  SELECT doc_id, unnest(bs).a AS a, unnest(bs).b AS b
  FROM (SELECT doc_id,
               CASE WHEN len(ws) >= 2 THEN
                 list_transform(generate_series(2, len(ws)),
                                i -> {{'a': ws[i - 1], 'b': ws[i]}})
               ELSE [] END AS bs
        FROM per)),
doc_pair AS (
  SELECT doc_id, a, b, COUNT(*) AS c_doc FROM bi GROUP BY doc_id, a, b),
doc_tok AS (
  SELECT doc_id, w, COUNT(*) AS c_doc_w
  FROM (SELECT doc_id, unnest(ws) AS w FROM per)
  GROUP BY doc_id, w),
uni AS (
  SELECT w, SUM(c_doc_w) AS c_a FROM doc_tok GROUP BY w),
pair AS (
  SELECT a, b, SUM(c_doc) AS c_ab FROM doc_pair GROUP BY a, b),
scored AS (
  SELECT doc_id, c_doc,
         CAST(ln(CAST(c_ab + 1 AS DOUBLE)
                 / CAST(c_a + (SELECT COUNT(*) FROM uni)
                        AS DOUBLE))
              AS DECIMAL(28,9)) AS lp
  FROM doc_pair JOIN pair USING (a, b) JOIN uni ON doc_pair.a = uni.w)
SELECT doc_id, CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(lp * CAST(c_doc AS DECIMAL(9,0))) AS DECIMAL(38,9))
            AS DOUBLE)
         / CAST(SUM(c_doc) AS DOUBLE) AS avg_bigram_logprob
FROM scored
GROUP BY doc_id
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy (nats) per document.

    Low entropy flags repeated/templated filler, high entropy flags
    encoded blobs and binary-in-text — the CCNet/RefinedWeb-class
    cheap detector that complements the word-level filters. Entropy
    = -Σ p_c ln p_c over the document's character distribution;
    each term is computed in double from exact integer counts and
    rounded through DECIMAL(28,9) before the (order-free, exact)
    decimal sum — the same libm-margin contract as the LM scores.

    Scale posture: one char explode (fan-out ~doc length), a
    (doc, char) count aggregate, a per-doc window for the total, and
    a per-doc rollup — two shuffles, both keyed on doc_id(+char).

    Contract notes: empty documents are filtered on BOTH sides
    (Spark's split('', '') yields [''] while DuckDB's string_split
    yields [], so an empty doc would appear in one engine only), and
    the per-CHARACTER split assumes BMP text — Spark splits UTF-16
    code units (non-BMP chars become surrogate halves) while DuckDB
    splits codepoints.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.filter("length(text) > 0").selectExpr(
        "doc_id", "explode(split(lower(text), '')) AS c"
    )
    counts = chars.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).alias("n")
    )
    terms = counts.selectExpr(
        "doc_id",
        "n",
        "SUM(n) OVER (PARTITION BY doc_id) AS n_chars",
    ).selectExpr(
        "doc_id",
        "n_chars",
        "CAST((CAST(n AS DOUBLE) / CAST(n_chars AS DOUBLE))"
        " * ln(CAST(n AS DOUBLE) / CAST(n_chars AS DOUBLE))"
        " AS DECIMAL(28,9)) AS term",
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.max("n_chars").alias("n_chars"),
            F.sum("term").alias("tsum"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
        .selectExpr(
            "doc_id",
            "n_chars",
            "CAST(n_distinct_chars AS INT) AS n_distinct_chars",
            "-CAST(tsum AS DOUBLE) AS entropy_nats",
        )
    )


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(lower(text), '')) AS c
  FROM documents WHERE length(text) > 0),
counts AS (
  SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c),
terms AS (
  SELECT doc_id,
         SUM(n) OVER (PARTITION BY doc_id) AS n_chars,
         CAST((CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY doc_id)
                AS DOUBLE))
              * ln(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY
                doc_id) AS DOUBLE))
              AS DECIMAL(28,9)) AS term
  FROM counts)
SELECT doc_id,
       CAST(MAX(n_chars) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS INTEGER) AS n_distinct_chars,
       -CAST(CAST(SUM(term) AS DECIMAL(38,9)) AS DOUBLE) AS entropy_nats
FROM terms
GROUP BY doc_id
"""


def _oracle_unigram(total_expr: str = "(SELECT COUNT(*) FROM tok)") -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({th.words('text', 'duck')}) AS w FROM documents),
vocab AS (
  SELECT w, COUNT(*) AS n_w FROM tok GROUP BY w),
scored AS (
  SELECT doc_id,
         CAST(ln(CAST(n_w AS DOUBLE)
                 / CAST({total_expr} AS DOUBLE))
              AS DECIMAL(28,9)) AS lp
  FROM tok JOIN vocab USING (w))
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(CAST(SUM(lp) AS DECIMAL(38,9)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
FROM scored
GROUP BY doc_id
"""


ORACLE_UNIGRAM = _oracle_unigram()


# ---------------------------------------------------------------------------
# hashing-trick linear quality classifier (fastText-style, zero UDF)
# ---------------------------------------------------------------------------

#: hashed feature buckets and the deterministic per-bucket weight
#: (Knuth-multiplier pseudo-random integer in [-48, 48]; the "trained
#: model" of a fastText-style linear filter, frozen so the oracle can
#: reproduce every score bit-for-bit).
CLS_BUCKETS = 64
CLS_WMOD = 97
CLS_WSHIFT = 48


def _cls_weights(wh: str, dialect: str) -> str:
    """Integer weight array from a word-hash array expression."""
    lam = "transform" if dialect == "spark" else "list_transform"
    return (
        f"{lam}({wh}, h -> (h % {CLS_BUCKETS}) * 2654435761"
        f" % {CLS_WMOD} - {CLS_WSHIFT})"
    )


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, verdict) audit of a hashed linear quality filter.

    The standard cheap corpus-quality gate (fastText / CCNet style): a
    linear model over hashing-trick bag-of-words features. Each word
    hashes to one of ``CLS_BUCKETS`` buckets; the bucket's weight is a
    fixed deterministic integer; the document score is the mean token
    weight (exact integer sum, one final IEEE division) and docs with
    score > 0 are kept. Zero UDF: bucketing, weights, and the score
    fold are all JVM-side higher-order expressions, so the filter runs
    at scan speed — the reason hashed linear models are THE quality
    filter that survives 100 TB (one projection, no shuffle until the
    tiny audit aggregate; a learned-weight variant only changes the
    weight literal to a broadcast map lookup).

    Mean score per group uses the repo's decimal-sum determinism
    pattern (``plans/spec.py`` rules: per-row double → DECIMAL(22,6),
    exact associative sum, one final double division).
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "source",
        f"size({th.words('text', 'spark')}) AS n_tok",
        f"aggregate({_cls_weights(th.word_hashes('text', 'spark'), 'spark')},"
        " CAST(0 AS BIGINT), (a, b) -> a + b) AS num",
    ).filter("n_tok > 0").selectExpr(
        "source",
        f"CAST(num AS DOUBLE) / CAST({CLS_WMOD} * n_tok AS DOUBLE) AS score",
    ).selectExpr(
        "source",
        "CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS verdict",
        "score",
    )
    return scored.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("score").cast("decimal(22,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
    )


ORACLE_CLASSIFIER = f"""
WITH scored AS (
  SELECT source,
         len({th.words('text', 'duck')}) AS n_tok,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             {_cls_weights(th.word_hashes('text', 'duck'), 'duck')}),
           (a, b) -> a + b) AS num
  FROM documents),
verdicts AS (
  SELECT source,
         CAST(num AS DOUBLE) / CAST({CLS_WMOD} * n_tok AS DOUBLE) AS score
  FROM scored WHERE n_tok > 0)
SELECT source,
       CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS verdict,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(score AS DECIMAL(22,6))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_score
FROM verdicts GROUP BY source, verdict
"""


# ---------------------------------------------------------------------------
# RAKE-lite keyword extraction (Rose et al. 2010)
# ---------------------------------------------------------------------------

#: phrase delimiters = the union of the per-language stopword lexicons
_RAKE_STOPS = tuple(sorted({w for ws in LEXICONS.values() for w in ws}))
RAKE_TOP_K = 20
RAKE_MAX_PHRASE = 4  # classic RAKE caps candidate length


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keywords via RAKE (Rapid Automatic Keyword Extraction).

    The classic unsupervised keyword extractor: candidate phrases are
    maximal stopword-free token runs; each word scores
    ``degree/frequency`` (degree = total length of phrases containing
    it, with multiplicity); a phrase scores the sum of its member-word
    scores. Output: the global top-``RAKE_TOP_K`` phrases of at most
    ``RAKE_MAX_PHRASE`` words (the classic cap — without it, sparse
    stopwords make near-whole documents "phrases") by score, ties by
    phrase text, with occurrence counts. Word statistics still count
    EVERY phrase (degree/frequency are corpus properties); only the
    emitted candidates are capped.

    Determinism: phrase segmentation is the islands trick (a running
    stopword count per doc assigns phrase ids — one bounded per-doc
    window); word scores are ONE double division of exact integers
    rounded through DECIMAL(28,9); phrase scores are decimal sums; the
    final top-K is TakeOrdered on (score DESC, phrase).

    Shape (100 TB): tokenize once map-side; one per-doc window for
    segmentation + phrase length; the word-stats relation is
    vocabulary-sized and BROADCASTS back onto the member stream; the
    phrase rollup shuffles on the 8-byte-ish phrase text only after
    per-phrase aggregation. No driver-side text processing.
    """
    docs = load_table(spark, sf_dir, "documents")
    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    toks = docs.selectExpr(
        "doc_id", f"posexplode({th.words('text', 'spark')}) AS (pos, w)"
    ).selectExpr("doc_id", "pos", "w", f"w IN ({stops}) AS is_stop")
    from pyspark.sql.window import Window

    byd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    members = (
        toks.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("long")).over(byd)
        )
        .filter(~F.col("is_stop"))
        .withColumn(
            "plen",
            F.count(F.lit(1)).over(
                Window.partitionBy("doc_id", "phrase_id")
            ),
        )
    )
    word_scores = F.broadcast(
        members.groupBy("w").agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        ).selectExpr(
            "w",
            "CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)"
            " AS DECIMAL(28,9)) AS wscore",
        )
    )
    phrases = (
        members.filter(F.col("plen") <= RAKE_MAX_PHRASE)
        .join(word_scores, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort("
                "collect_list(struct(pos, w))), s -> s.w))"
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wscore").alias("pscore"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.first("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("pscore").alias("pscore"),
        )
        .selectExpr(
            "phrase",
            "n_words",
            "n_occurrences",
            "CAST(pscore AS DOUBLE) AS score",
        )
        .orderBy(F.col("pscore").desc(), F.col("phrase"))
        .limit(RAKE_TOP_K)
        .drop()
    )


def _oracle_rake() -> str:
    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    return f"""
WITH toks AS (
  SELECT doc_id, pos - 1 AS pos, w, w IN ({stops}) AS is_stop
  FROM (SELECT doc_id, unnest({th.words('text', 'duck')}) AS w,
               generate_subscripts({th.words('text', 'duck')}, 1) AS pos
        FROM documents)),
numbered AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS phrase_id
  FROM toks),
members AS (
  SELECT doc_id, phrase_id, pos, w,
         COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM numbered WHERE NOT is_stop),
word_scores AS (
  SELECT w, CAST(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS DECIMAL(28,9)) AS wscore
  FROM members GROUP BY w),
phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS n_words,
         CAST(SUM(wscore) AS DECIMAL(38,9)) AS pscore
  FROM members JOIN word_scores USING (w)
  WHERE plen <= {RAKE_MAX_PHRASE}
  GROUP BY doc_id, phrase_id)
SELECT phrase,
       CAST(MIN(n_words) AS BIGINT) AS n_words,
       COUNT(*) AS n_occurrences,
       CAST(MAX(pscore) AS DOUBLE) AS score
FROM phrases
GROUP BY phrase
ORDER BY MAX(pscore) DESC, phrase
LIMIT {RAKE_TOP_K}
"""


ORACLE_RAKE = _oracle_rake()


# ---------------------------------------------------------------------------
# N-gram novelty — fraction of a doc's shingles unique to it
# ---------------------------------------------------------------------------


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's distinct
    3-gram shingles that occur in NO other document (corpus doc-
    frequency 1). Low novelty flags templated/boilerplate/near-dup
    content from a different angle than pairwise dedup — it needs no
    candidate pairs at all, so it scales as a plain aggregation where
    MinHash needs a join.

    Plan: explodes the per-corpus persisted shingle-set memo shared
    with the dedup family (``dedup._shingle_rows``), one window over
    the hash for doc frequency (the shuffle moves compact (h, doc_id)
    rows), then a per-doc aggregate. Docs shorter than the shingle
    width have no rows and drop out — same in the oracle.
    """
    from .dedup import _shingle_rows

    sh = _shingle_rows(spark, sf_dir)
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        sh.withColumn("df", dfreq)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.expr("CASE WHEN df = 1 THEN 1 ELSE 0 END")).alias(
                "n_novel"
            ),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)"
            " AS novelty_ratio",
        )
    )


def _oracle_ngram_novelty() -> str:
    from .dedup import _sql_shingle_cte

    return f"""
WITH {_sql_shingle_cte()},
flagged AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS df FROM sh)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
FROM flagged
GROUP BY doc_id
"""


ORACLE_NGRAM_NOVELTY = _oracle_ngram_novelty()


# ---------------------------------------------------------------------------
# PMI word co-occurrence — association strength over a bounded vocab
# ---------------------------------------------------------------------------

#: vocabulary cap: only the top-V words by document frequency enter
#: the pair space, so per-doc fan-out is bounded by C(V,2) at ANY
#: corpus size (unbounded-vocab PMI is a quadratic blow-up waiting on
#: the first crawl shard)
PMI_TOP_V = 32
#: minimum co-occurring docs for a reported pair
PMI_MIN_CO = 5
#: pairs reported (top by co-occurrence, total-order tiebreak)
PMI_TOP_K = 30


def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring in a
    document — the collocation/association statistic (Church & Hanks
    1990) every corpus-analysis stack ships.

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over document frequencies.
    Plan: distinct (doc, word) restricted to the broadcast top-{V}
    vocabulary (df-ranked, total-order tiebreak), doc-keyed self-join
    (fan-out ≤ C(V,2) per doc — bounded, linear in corpus), pair
    counts, broadcast marginals. The single ``ln`` rides the
    DECIMAL(28,9) rounding recipe; its argument is a ratio of exact
    BIGINT cross-products.
    """
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.selectExpr(
            "doc_id", f"explode({th.words('text', 'spark')}) AS w"
        )
        .distinct()
    )
    topv = F.broadcast(
        dw.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .orderBy(F.desc("n_w"), "w")
        .limit(PMI_TOP_V)
    )
    dv = dw.join(topv, "w").select("doc_id", "w", "n_w")
    n_docs = docs.agg(F.count(F.lit(1)).alias("__nd"))
    a = dv.selectExpr("doc_id", "w AS word_a", "n_w AS n_a")
    b = dv.selectExpr("doc_id", "w AS word_b", "n_w AS n_b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_CO)
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "word_a",
            "word_b",
            "n_ab",
            "n_a",
            "n_b",
            "CAST(CAST(ln("
            "  CAST(n_ab * __nd AS DOUBLE)"
            "  / CAST(n_a * n_b AS DOUBLE)"
            ") AS DECIMAL(28,9)) AS DOUBLE) AS pmi",
        )
        .orderBy(F.desc("n_ab"), "word_a", "word_b")
        .limit(PMI_TOP_K)
    )


def _oracle_pmi() -> str:
    w = th.words("text", "duck")
    return f"""
WITH dw AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest({w}) AS w FROM documents),
topv AS (
  SELECT w, COUNT(*) AS n_w FROM dw GROUP BY w
  ORDER BY COUNT(*) DESC, w LIMIT {PMI_TOP_V}),
dv AS (SELECT doc_id, dw.w, n_w FROM dw JOIN topv ON dw.w = topv.w),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.w AS word_a, b.w AS word_b, a.n_w AS n_a, b.n_w AS n_b,
         COUNT(*) AS n_ab
  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= {PMI_MIN_CO})
SELECT word_a, word_b, n_ab, n_a, n_b,
       CAST(CAST(ln(
         CAST(n_ab * n_docs AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE)
       ) AS DECIMAL(28,9)) AS DOUBLE) AS pmi
FROM pairs, nd
ORDER BY n_ab DESC, word_a, word_b
LIMIT {PMI_TOP_K}
"""


ORACLE_PMI = _oracle_pmi()


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in (
        QuerySpec(
            "text_rake_keywords", text_rake_keywords, ORACLE_RAKE,
            "RAKE keyword extraction: stopword-delimited phrases, "
            "degree/frequency scores, broadcast word stats",
        ),
        QuerySpec(
            "text_unigram_logprob", text_unigram_logprob, ORACLE_UNIGRAM,
            "mean unigram ln-prob per doc (perplexity-proxy quality)",
        ),
        QuerySpec(
            "text_bigram_logprob", text_bigram_logprob, ORACLE_BIGRAM,
            "mean add-one-smoothed bigram conditional ln-prob per doc",
        ),
        QuerySpec(
            "text_char_entropy", text_char_entropy, ORACLE_CHAR_ENTROPY,
            "character-level Shannon entropy (gibberish/blob detector)",
        ),
        QuerySpec(
            "text_gopher_repetition", text_gopher_repetition, ORACLE_GOPHER,
            "Gopher/C4 repetition filters: dup-token + top-ngram mass",
        ),
        QuerySpec(
            "text_tfidf_top_terms", text_tfidf_top_terms, ORACLE_TFIDF
        ),
        QuerySpec(
            "text_sentiment_lexicon", text_sentiment_lexicon, ORACLE_SENTIMENT
        ),
        QuerySpec(
            "text_quality_classifier", text_quality_classifier,
            ORACLE_CLASSIFIER,
            "hashing-trick linear quality filter (fastText-style)",
        ),
        QuerySpec("text_token_stats", text_token_stats, ORACLE_TOKEN_STATS),
        QuerySpec("text_language_id", text_language_id, ORACLE_LANGUAGE_ID),
        QuerySpec("text_quality_score", text_quality_score, ORACLE_QUALITY),
        QuerySpec("text_fingerprint", text_fingerprint, ORACLE_FINGERPRINT),
        QuerySpec(
            "text_ngram_novelty", text_ngram_novelty, ORACLE_NGRAM_NOVELTY,
            "share of a doc's 3-gram shingles unique to it corpus-wide "
            "(template detector; no candidate pairs needed)",
        ),
        QuerySpec(
            "text_pmi_cooccurrence", text_pmi_cooccurrence, ORACLE_PMI,
            "PMI word collocations over a bounded top-V vocabulary "
            "(doc-keyed self-join, fan-out <= C(V,2))",
        ),
    )
}
