"""Text-analysis queries over ``documents`` (SURVEY.md §2.3): token stats,
term frequency, language ID, quality scoring, fingerprinting, shingles.

Spark side uses only higher-order Column functions (functions/text.py);
oracles re-express the identical semantics in DuckDB list/regex functions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    bpe_token_count,
    fingerprint_md5,
    lang_scores,
    predicted_lang,
    punct_count,
    quality_score,
    shingles,
    token_count,
    tokens,
)
from ..registry import register
from ..sources.tables import load_table

# DuckDB fragments mirroring functions/text.py exactly.
_TOKS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


def _marker_sql(words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"CAST(len(list_filter(t, x -> list_contains({arr}, x))) AS BIGINT)"


_TOKEN_STATS_SQL = rf"""
WITH toks AS (SELECT doc_id, n_chars, text, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
       CAST(length(text) AS BIGINT) AS n_chars_live,
       n_chars
FROM toks
"""


@register("text_token_stats", oracle=_TOKEN_STATS_SQL)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting (SURVEY §2.3 'token
    counting'); pure codegen expressions, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count().alias("n_tokens"),
        bpe_token_count().alias("n_bpe_tokens"),
        punct_count().alias("n_punct"),
        F.length("text").cast("long").alias("n_chars_live"),
        "n_chars",
    )


_TERM_FREQ_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
terms AS (SELECT unnest(t) AS term FROM toks)
SELECT term, COUNT(*) AS n FROM terms
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


@register("text_term_frequency", oracle=_TERM_FREQ_SQL)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency: explode + count + top-k.  At 100 TB this is
    the canonical map-side-combine aggregation; explode stays JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


def _langid_sql() -> str:
    score_cols = ",\n       ".join(
        f"{_marker_sql(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items()
    )
    best = "greatest(s_en, s_es, s_fr, s_de, s_zh)"
    case = "CASE "
    for lang in LANG_MARKERS:
        case += f"WHEN s_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return rf"""
WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
scored AS (SELECT doc_id, lang,
       {score_cols}
FROM toks)
SELECT lang, {case} AS predicted, COUNT(*) AS n
FROM scored GROUP BY 1, 2
"""


@register("text_language_id", oracle=_langid_sql())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram heuristic, SURVEY §2.3) — confusion
    matrix against the labelled ``lang`` column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", predicted_lang().alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


def _quality_sql() -> str:
    sw = _marker_sql(EN_STOPWORDS)
    return rf"""
WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT doc_id,
           CAST(len(t) AS DOUBLE) AS n_tok,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(list_aggregate(list_transform(t, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) AS tok_chars,
           CAST({sw} AS DOUBLE) AS n_sw
    FROM toks
)
SELECT doc_id,
       0.3 * least(n_tok / 20.0, 1.0)
     + 0.2 * (1.0 - least((n_punct / nullif(n_chars, 0.0)) * 4.0, 1.0))
     + 0.25 * (1.0 - abs(coalesce(n_sw / nullif(n_tok, 0.0), 0.0) - 0.4))
     + 0.25 * (1.0 - least(abs(coalesce(tok_chars / nullif(n_tok, 0.0), 0.0) - 5.0) / 5.0, 1.0))
       AS quality
FROM m
"""


@register("text_quality_score", oracle=_quality_sql())
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length/punct/stopword/word-length) —
    the filter stage of a 100 TB corpus-cleaning pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score().alias("quality"))


_FP_SQL = """
SELECT doc_id, md5(text) AS fp FROM documents
"""


@register("text_fingerprint", oracle=_FP_SQL)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of raw text) — the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5().alias("fp"))


_SHINGLE_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(CASE WHEN len(t) >= 3
            THEN len(list_distinct(list_transform(generate_series(0, len(t)-3),
                                                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
            ELSE 0 END AS BIGINT) AS n_shingles
FROM toks
"""


@register("text_shingle_stats", oracle=_SHINGLE_SQL)
def text_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(shingles()).cast("long").alias("n_shingles"))


def _pipeline_sql() -> str:
    """quality-filter -> exact-dedup (keep lowest doc_id per fingerprint)
    -> per-language corpus stats, as one DuckDB CTE chain."""
    sw = _marker_sql(EN_STOPWORDS)
    return rf"""
WITH toks AS (SELECT doc_id, lang, text, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT doc_id, lang, text,
           CAST(len(t) AS BIGINT) AS n_tok_i,
           CAST(len(t) AS DOUBLE) AS n_tok,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(list_aggregate(list_transform(t, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) AS tok_chars,
           CAST({sw} AS DOUBLE) AS n_sw
    FROM toks),
q AS (
    SELECT doc_id, lang, text, n_tok_i,
           0.3 * least(n_tok / 20.0, 1.0)
         + 0.2 * (1.0 - least((n_punct / nullif(n_chars, 0.0)) * 4.0, 1.0))
         + 0.25 * (1.0 - abs(coalesce(n_sw / nullif(n_tok, 0.0), 0.0) - 0.4))
         + 0.25 * (1.0 - least(abs(coalesce(tok_chars / nullif(n_tok, 0.0), 0.0) - 5.0) / 5.0, 1.0))
           AS quality
    FROM m),
kept AS (SELECT * FROM q WHERE quality > 0.89),
first AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
ded AS (SELECT k.* FROM kept k JOIN first f ON k.doc_id = f.doc_id)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok_i) AS BIGINT) AS n_tokens,
       MIN(quality) AS min_quality, MAX(quality) AS max_quality
FROM ded GROUP BY lang
"""


@register("pipeline_training_prep", oracle=_pipeline_sql())
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation pipeline, composed from this
    module's stages: quality-score filter (> 0.89,
    the corpus median — half the docs drop) -> exact dedup on the md5
    fingerprint keeping the lowest doc_id (this corpus has no exact dups —
    near-dup removal is dedup_minhash_pairs' job — so the stage is
    verified as a pass-through here) -> per-language doc/token
    stats.  One declarative plan: Catalyst fuses the scoring expressions
    into the scan stage, the dedup is one shuffle on the fingerprint, the
    final rollup one more — at 100 TB this is scan + 2 exchanges total,
    no materialization between 'stages'.  min/max (not avg) of quality
    keep the doubles order-independent for the oracle hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    # fingerprint computed BEFORE the shuffle and text dropped: the dedup
    # window only needs (fp, doc_id, lang, quality, n_tok_i), so the
    # shuffle carries ~50 bytes/row instead of the document body — at
    # 100 TB that's the difference between shuffling kilobytes and the
    # whole corpus
    enriched = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("_fp"),
        quality_score().alias("quality"),
        token_count().alias("n_tok_i"),
    )
    kept = enriched.filter(F.col("quality") > 0.89)
    # keep-first dedup as ONE window pass (rank over fingerprint, ordered
    # by doc_id) — a groupBy-min + semi-join back would re-evaluate the
    # expensive scoring expressions for the probe side; this shape scans
    # once and shuffles once (on the fingerprint)
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy("doc_id")
    ded = (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )
    return ded.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok_i").alias("n_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


# ---------------------------------------------------------------------------
# Round 4: the remaining corpus-hygiene stages of an LLM training pipeline —
# repetition/boilerplate stats (C4/Gopher-style rules), PII scrubbing, and
# benchmark decontamination.  All three stay in pure codegen expressions /
# one bounded broadcast; oracles re-express identical semantics in DuckDB.
# ---------------------------------------------------------------------------

_REP_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
g AS (SELECT doc_id, t,
             CASE WHEN len(t) >= 3
                  THEN list_transform(generate_series(0, len(t)-3),
                                      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                  ELSE [] END AS g3
      FROM toks),
m AS (SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(g3) AS BIGINT) AS n_3grams,
             CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct_3grams,
             CAST(CASE WHEN len(t) > 0
                  THEN list_max(list_transform(list_distinct(t),
                                               w -> len(list_filter(t, x -> x = w))))
                  ELSE 0 END AS BIGINT) AS max_tf
      FROM g)
SELECT doc_id, n_tokens, n_3grams, n_distinct_3grams,
       CAST(CASE WHEN n_3grams > 0
            THEN (1000 * (n_3grams - n_distinct_3grams)) // n_3grams ELSE 0 END AS BIGINT)
         AS dup_3gram_milli,
       CAST(CASE WHEN n_tokens > 0 THEN (1000 * max_tf) // n_tokens ELSE 0 END AS BIGINT)
         AS top_term_milli
FROM m
"""


@register("text_repetition_stats", oracle=_REP_SQL)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate quality rules (the C4 / Gopher-rules family):
    duplicate-3-gram ratio and top-term dominance per document, as integer
    permille so the gate hashes exactly.

    Round-4 rewrite after the bench caught the first formulation at 23 s
    for sf0.1 (4% of the corpus): building grams with a per-index
    ``transform`` + ``element_at`` lambda is INTERPRETED per element
    (~13 µs each) and the expression was evaluated twice.  Now the gram
    array is three codegen ``slice`` views aligned by ``arrays_zip``
    (the minhash shingler's pattern — zero lambdas), distinctness is one
    native ``array_distinct`` over the struct array, and top-term
    frequency is the explode + two-level groupBy — every stage
    whole-stage codegen, shuffles carrying only (doc_id, term) pairs
    with map-side partial counts.  23 s -> ~1 s at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n = F.size(t)
    ns = F.greatest(n - F.lit(2), F.lit(0))
    zipped = F.arrays_zip(
        F.slice(t, 1, ns), F.slice(t, 2, ns), F.slice(t, 3, ns)
    )
    base = docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(zipped).cast("long").alias("n_3grams"),
        F.size(F.array_distinct(zipped)).cast("long").alias("n_distinct_3grams"),
    )
    tf = (
        docs.select("doc_id", F.explode(t).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(F.max("tf").alias("max_tf"))
    )
    m = base.join(tf, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_3grams",
        "n_distinct_3grams",
        F.coalesce(F.col("max_tf"), F.lit(0)).cast("long").alias("max_tf"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_3grams",
        "n_distinct_3grams",
        F.expr(
            "CAST(CASE WHEN n_3grams > 0 THEN (1000 * (n_3grams - n_distinct_3grams)) DIV n_3grams ELSE 0 END AS BIGINT)"
        ).alias("dup_3gram_milli"),
        F.expr(
            "CAST(CASE WHEN n_tokens > 0 THEN (1000 * max_tf) DIV n_tokens ELSE 0 END AS BIGINT)"
        ).alias("top_term_milli"),
    )


# PII synthesis + scrub.  The corpus is synthetic word salad with no real
# PII, so the gate INJECTS deterministic PII derived from doc_id (the same
# trick as the multimodal decode gates), then scrubs it back out; counts
# and the scrubbed fingerprint are hash-compared.  Patterns are kept in
# the RE2/Java-regex common subset so both engines compile them alike.
_PII_EMAIL = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PII_PHONE = r"555-[0-9]{4}-[0-9]{4}"
_PII_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"

_PII_SQL = rf"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                          || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS s
  FROM documents),
scrub AS (
  SELECT doc_id, s,
         regexp_replace(regexp_replace(regexp_replace(s,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_SSN}', '[SSN]', 'g') AS clean
  FROM inj)
SELECT doc_id,
       CAST(len(regexp_extract_all(s, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(s, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(s, '{_PII_SSN}')) AS BIGINT) AS n_ssns,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_fp
FROM scrub
"""


@register("text_pii_scrub", oracle=_PII_SQL)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, phone numbers, SSN-shaped ids):
    counts per class and the md5 of the scrubbed text, so the gate proves
    the redaction REMOVED the patterns (fingerprint match requires every
    byte of every replacement to agree).  Pure regexp codegen — the scrub
    runs map-side at scan speed on any corpus size; the deterministic
    injection stage stands in for real PII in this synthetic corpus."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit("-"),
                F.lpad(((did * 7) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(s, _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
        ),
        _PII_SSN,
        "[SSN]",
    )
    count = lambda pat: F.size(F.regexp_extract_all(s, F.lit(pat), F.lit(0))).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        count(_PII_EMAIL).alias("n_emails"),
        count(_PII_PHONE).alias("n_phones"),
        count(_PII_SSN).alias("n_ssns"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_fp"),
    )


_DECON_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(generate_series(0, len(t)-5),
                       i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))
                  ELSE [] END AS g5
      FROM toks),
bench AS (SELECT DISTINCT unnest(g5) AS bg FROM g WHERE doc_id < 20),
hits AS (SELECT c.doc_id, COUNT(DISTINCT u.gram) AS n_hits
         FROM g c, unnest(c.g5) AS u(gram)
         JOIN bench ON u.gram = bench.bg
         WHERE c.doc_id >= 20
         GROUP BY c.doc_id)
SELECT g.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
WHERE g.doc_id >= 20
"""


@register("text_decontaminate_overlap", oracle=_DECON_SQL)
def text_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with the held-out eval set (docs 0..19 stand in for the
    benchmark).  The eval side's distinct 5-grams BROADCAST (eval sets
    are tiny next to a training corpus); the corpus side explodes its
    5-grams and hash-joins map-side, so at 100 TB the only shuffle is
    the per-doc hit count — the standard n-gram-overlap decontamination
    used for LLM training data.

    Round-4 rewrite (bench caught 49 s at sf0.1): grams build as five
    codegen ``slice`` views aligned by ``arrays_zip`` and explode as
    STRUCTS — no per-element ``transform`` lambda, no string
    concatenation; the join key is the 5-token struct itself (tokens
    contain no whitespace, so struct equality == joined-string equality,
    the same equivalence the minhash shingler documents).  49 s ->
    ~0.5 s at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n = F.size(t)
    ns = F.greatest(n - F.lit(4), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(t, j + 1, ns) for j in range(5)])
    grams = docs.select("doc_id", F.explode(zipped).alias("g"))
    bench = (
        grams.filter(F.col("doc_id") < 20).select(F.col("g").alias("bg")).distinct()
    )
    corpus_ids = docs.filter(F.col("doc_id") >= 20).select("doc_id")
    hits = (
        grams.filter(F.col("doc_id") >= 20)
        .join(F.broadcast(bench), F.col("g") == F.col("bg"))
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("_n"))
    )
    return (
        corpus_ids.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_hits"),
            F.when(F.coalesce(F.col("_n"), F.lit(0)) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("contaminated"),
        )
    )


_FUZZY_SQL = rf"""
WITH toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
terms AS (SELECT DISTINCT unnest(t) AS term FROM toks),
q AS (SELECT DISTINCT substr(term, 1, 1) || substr(term, 3) AS qterm
      FROM terms WHERE length(term) >= 4)
SELECT q.qterm, d.term AS dict_term,
       CAST(levenshtein(q.qterm, d.term) AS BIGINT) AS dist
FROM q JOIN terms d ON levenshtein(q.qterm, d.term) <= 1
"""


@register("text_fuzzy_join_edit1", oracle=_FUZZY_SQL)
def text_fuzzy_join_edit1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dictionary matching within edit distance 1 via the
    deletion-neighborhood EQUIJOIN (operators/fuzzy.py): the query side is
    the corpus vocabulary deterministically corrupted (2nd char deleted),
    the dictionary side is the vocabulary itself.  The oracle is the
    naive cross join + exact levenshtein in DuckDB — the differential
    proves the variant decomposition finds EXACTLY the <=1 pairs (FastSS
    completeness), while the Spark plan does it with one hash equijoin
    instead of |Q|x|D| distance evaluations."""
    from ..operators.fuzzy import fuzzy_join_edit1

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens()).alias("term")).distinct()
    q = (
        terms.filter(F.length("term") >= 4)
        .select(
            F.concat(
                F.substring("term", 1, 1), F.expr("substring(term, 3)")
            ).alias("qterm")
        )
        .distinct()
    )
    return fuzzy_join_edit1(q, terms.withColumnRenamed("term", "dict_term"), "qterm", "dict_term").select(
        "qterm", F.col("dict_term"), "dist"
    )


_TFIDF_TERMS = ["spark", "join", "window", "stream"]

_TFIDF_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
       WHERE term IN ('spark', 'join', 'window', 'stream')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (SELECT tf.doc_id,
                  SUM(tf.tf * ((1000 * n.n_docs) // dfreq.df)) AS score
           FROM tf JOIN dfreq USING (term) CROSS JOIN n
           GROUP BY tf.doc_id)
SELECT doc_id, CAST(score AS BIGINT) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 15
"""


@register("text_tfidf_topk", oracle=_TFIDF_SQL)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF retrieval: top-15 documents for a multi-term query, scored
    sum(tf x idf) per doc.  IDF uses the RATIONAL surrogate
    (1000*N) DIV df instead of ln(N/df) — integer arithmetic keeps the
    differential bit-exact (ln's last-ulp behavior differs between
    libm and the JVM), and any monotone transform of N/df preserves the
    ranking the operator exists to produce.  Plan: tokens explode and
    filter to the query terms BEFORE the tf groupBy (the shuffle carries
    only query-term hits), document frequencies are a tiny aggregate
    joined back broadcast, and the top-k compiles to
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms_arr = [F.lit(t) for t in _TFIDF_TERMS]
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term").isin(_TFIDF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = dfreq.select(
        "term", F.expr(f"CAST((1000 * {n_docs}) DIV df AS BIGINT)").alias("idf_milli")
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_milli")).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


_PACK_SQL = rf"""
WITH tok AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
  FROM documents),
packed AS (
  SELECT lang, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) // 2048 AS bin
  FROM tok)
SELECT lang, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS token_sum,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed GROUP BY 1, 2
"""


@register("pipeline_sequence_packing", oracle=_PACK_SQL)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining (round 5): documents are
    concatenated per language in deterministic doc_id order and cut into
    2048-token context bins — each doc's bin is the running token count
    BEFORE it, integer-divided by the context length (the
    concat-and-chunk assignment every pretraining data loader performs,
    made engine-side and deterministic: no RNG, no packing heuristic
    whose output depends on partitioning).  Token counts reuse the
    whitespace tokenizer the token-stats gate pins.  Scale: one window
    shuffle per language partition; the bin assignment is a running sum
    — at 100 TB the same plan packs each language shard independently."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", token_count("text").alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = tok.select(
        "lang",
        "doc_id",
        "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 2048).alias("bin"),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("token_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_ENTROPY_SQL = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 3),
pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i FROM d),
cnt AS (SELECT doc_id, substring(t, i, 3) AS gram, COUNT(*) AS c
        FROM pos GROUP BY 1, 2),
agg AS (SELECT doc_id,
               SUM(c) AS n,
               COUNT(*) AS n_distinct,
               SUM(c * c) AS sum_c2,
               SUM(CAST(c * log2(c) AS DECIMAL(28,12))) AS s
        FROM cnt GROUP BY 1)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_grams,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       1.0 - CAST(sum_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         AS diversity,
       round(log2(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 3)
         AS entropy_bits
FROM agg
"""


@register("text_char_ngram_entropy", oracle=_ENTROPY_SQL)
def text_char_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram diversity signals (round 5) — the language-model
    quality heuristic that flags keyboard-mash / template / low-entropy
    documents: per doc, the trigram count, distinct-trigram count,
    Gini-Simpson diversity 1 - Σ(c/N)², and Shannon entropy
    log2(N) - Σ c·log2(c) / N in bits.

    Hash-exactness is engineered per column: diversity is pure integer
    moments (Σc², N) divided once — bit-identical in any engine; entropy
    needs transcendental log2, so each term is quantized to DECIMAL(28,12)
    before the sum (order-independent, ≤1e-12/term cross-libm drift) and
    the output rounds to 3 decimals — drift ~1e-11 against a 5e-4
    boundary, so the round cannot flip.

    Plan: the gram table comes from three codegen ``slice`` views of the
    char array aligned by ``arrays_zip`` (the minhash shingler's zero-
    lambda pattern — an exploded row carries only (doc_id, 3 chars), never
    the full text), then two key-partitioned aggregations with map-side
    partial agg.  Shuffles carry (doc_id, gram, count) — at 100 TB that is
    ~chars-per-corpus slim rows, the same O(n) the tokenizer pays."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    cs = F.split(F.lower(F.col("text")), "")
    ln = F.length(F.lower(F.col("text")))
    sliced = docs.select(
        "doc_id",
        *[F.slice(cs, j + 1, ln - 2).alias(f"_c{j}") for j in range(3)],
    )
    grams = sliced.select(
        "doc_id",
        F.explode(F.arrays_zip("_c0", "_c1", "_c2")).alias("z"),
    ).select(
        "doc_id",
        F.concat(F.col("z._c0"), F.col("z._c1"), F.col("z._c2")).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.sum((F.col("c") * F.log2("c")).cast("decimal(28,12)")).alias("s"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        "doc_id",
        F.col("n").alias("n_grams"),
        F.col("n_distinct").alias("n_distinct"),
        (F.lit(1.0) - F.col("sum_c2").cast("double") / (n_d * n_d)).alias("diversity"),
        F.round(
            F.log2(n_d) - F.col("s").cast("double") / n_d, 3
        ).alias("entropy_bits"),
    )


# Explicit [ \t\r\n] charset instead of \s: Java regex \s includes \x0B
# where RE2 (DuckDB) does not — the one place the engines' regex
# dialects would diverge on plausible text.
_SENT_SQL = r"""
WITH segs AS (
  SELECT doc_id,
         regexp_replace(unnest(string_split_regex(text, '[.!?]+')),
                        '^[ \t\r\n]+|[ \t\r\n]+$', '', 'g') AS s
  FROM documents),
ne AS (SELECT doc_id, s FROM segs WHERE length(s) > 0)
SELECT doc_id,
       COUNT(*) AS n_sentences,
       CAST(SUM(length(s)) AS BIGINT) AS total_sent_chars,
       CAST((1000 * SUM(length(s))) // COUNT(*) AS BIGINT) AS avg_sent_chars_milli,
       CAST(MAX(length(s)) AS BIGINT) AS max_sent_chars
FROM ne GROUP BY doc_id
"""


@register("text_sentence_stats", oracle=_SENT_SQL)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (round 5) — the length/shape signals
    sentence-level quality filters key on (too-long run-ons, fragment
    spam): segments split on [.!?]+ runs, whitespace-trimmed, empties
    dropped; per doc the sentence count, total/average (integer permille)
    and max sentence character lengths.  All-integer outputs — exact in
    any engine.  Pure codegen split+explode+regexp, two partial-agg
    shuffles; at 100 TB this is scan-bound like the tokenizer."""
    docs = load_table(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id", F.explode(F.split("text", r"[.!?]+")).alias("seg")
    ).select(
        "doc_id",
        F.regexp_replace("seg", r"^[ \t\r\n]+|[ \t\r\n]+$", "").alias("s"),
    ).filter(F.length("s") > 0)
    return (
        segs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum(F.length("s")).alias("total_sent_chars"),
            F.max(F.length("s")).cast("long").alias("max_sent_chars"),
        )
        .select(
            "doc_id",
            "n_sentences",
            "total_sent_chars",
            # integer floor-division, exact at any magnitude (a double
            # division could land on the wrong side of an integer)
            F.expr("(1000 * total_sent_chars) DIV n_sentences").alias(
                "avg_sent_chars_milli"
            ),
            "max_sent_chars",
        )
    )


_AZ = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_az = "abcdefghijklmnopqrstuvwxyz"

_CLEAN_SQL = rf"""
WITH c AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(translate(text, '{_AZ}', '{_az}'),
                            '[ \t\n\r\f]', ' ', 'g'),
             '[\x00-\x1f\x7f]', '', 'g'),
           '  +', ' ', 'g')) AS clean
  FROM documents)
SELECT doc_id, md5(clean) AS clean_fp,
       CAST(length(clean) AS BIGINT) AS n_chars_clean
FROM c
"""


@register("text_clean_normalize", oracle=_CLEAN_SQL)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text CLEANING/NORMALIZATION (round 6) — the first stage of every
    LLM corpus pipeline, run before dedup so near-identical docs
    actually collide: case-fold (explicit A-Z translate, so both
    engines use the identical simple mapping — no locale-dependent
    toLowerCase edge), convert whitespace variants to single spaces,
    strip remaining C0/DEL control characters, squeeze runs, trim.
    Regexes use explicit character classes only — Java regex and RE2
    disagree on \\s (vertical tab), so the dialect-portable subset is
    part of the operator's contract.  Emits the cleaned fingerprint +
    length per doc; the fingerprint feeds exact dedup downstream
    (dedup_exact on clean_fp instead of raw md5(text) merges docs that
    differ only in case/whitespace).  Pure codegen — one map stage, no
    shuffle, scan-speed at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.translate("text", _AZ, _az), "[ \t\n\r\f]", " "
                ),
                "[\\x00-\\x1f\\x7f]",
                "",
            ),
            "  +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_fp"),
        F.length(clean).cast("long").alias("n_chars_clean"),
    )


def _hex2int_sql(expr: str, pos: int) -> str:
    """DuckDB CASE expression mapping one lowercase hex char of
    ``expr`` (1-based ``pos``) to its integer value — the portable twin
    of Spark's conv(x, 16, 10) for md5 buckets (DuckDB has no conv)."""
    cases = " ".join(
        f"WHEN '{c}' THEN {int(c, 16)}" for c in "0123456789abcdef"
    )
    return f"(CASE substr({expr}, {pos}, 1) {cases} END)"


_MIX_SQL = f"""
WITH b AS (
  SELECT doc_id, source,
         {_hex2int_sql("md5(CAST(doc_id AS VARCHAR))", 1)} * 16
         + {_hex2int_sql("md5(CAST(doc_id AS VARCHAR))", 2)} AS bucket
  FROM documents),
s AS (
  SELECT source, COUNT(*) AS n_source,
         SUM(COUNT(*)) OVER () AS n_total,
         COUNT(*) OVER () AS k_sources
  FROM b GROUP BY source),
t AS (
  SELECT source, n_source,
         CAST(floor(least(1.0,
           (CAST(n_total AS DOUBLE) / k_sources) / n_source) * 256.0) AS BIGINT)
           AS thresh
  FROM s)
SELECT b.source, t.thresh,
       COUNT(*) AS n_kept,
       CAST(SUM(b.doc_id) AS BIGINT) AS id_checksum
FROM b JOIN t ON b.source = t.source
WHERE b.bucket < t.thresh
GROUP BY b.source, t.thresh
"""


@register("pipeline_domain_mixture", oracle=_MIX_SQL)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE REBALANCING (round 6): downsample each source
    toward a uniform target share — the "data mixing" stage of an LLM
    corpus (cap the dominant crawl, keep the rare domains whole).
    Membership is a pure function of doc_id (md5 first-two-hex bucket
    < per-source threshold), so the sample is reproducible under
    repartitioning, engines, and incremental loads — the same
    hash-bucket discipline as sample_deterministic_split, with the
    threshold now COMPUTED from the corpus statistics instead of fixed.

    Plan: one partial-agg pass for per-source counts (tiny — one row
    per source), the corpus totals re-aggregated from those rows as a
    1-row scalar frame and broadcast-crossed back on (the engine's
    standing broadcast-scalar idiom — r12 converted this from an
    unpartitioned window, which computed the same two TOTALS but
    single-partitioned the frame and tripped the WindowExec warning),
    then broadcast onto the scan, map-side filter.  No row-level
    shuffle at any scale; the id checksum proves the exact kept sets,
    not just their sizes."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "source",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        .alias("bucket"),
    )
    per_source = b.groupBy("source").agg(F.count("*").alias("n_source"))
    totals = per_source.agg(
        F.sum("n_source").alias("n_total"), F.count("*").alias("k_sources")
    )
    stats = (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.floor(
                F.least(
                    F.lit(1.0),
                    (F.col("n_total").cast("double") / F.col("k_sources"))
                    / F.col("n_source"),
                )
                * 256.0
            )
            .cast("long")
            .alias("thresh"),
        )
    )
    return (
        b.join(F.broadcast(stats), "source")
        .filter(F.col("bucket") < F.col("thresh"))
        .groupBy("source", "thresh")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# -- round 6: skew-proof top-k per group -----------------------------------

_TOPK_DOMAIN_SQL = """
SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
WHERE rk <= 3
"""


@register("pipeline_topk_per_domain", oracle=_TOPK_DOMAIN_SQL)
def pipeline_topk_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K PER GROUP without the skew trap (round 6): the 3 longest
    documents per language — the curation primitive ("keep the k best
    per domain/language/source") behind quality-filtered corpus cuts.

    A row_number window partitioned by lang shuffles EVERY row to its
    group's partition — with a handful of languages over 100 TB that is
    a few executors receiving everything.  This plan never moves raw
    rows by group: stage 1 reduces each INPUT partition to its local
    top-3 per lang (groupBy (lang, partition_id) + sorted-slice — the
    partial-aggregate shape, bounded by k x groups x partitions), and
    stage 2 merges those slivers per lang, of which at most
    3 x n_partitions rows per language exist.  Ordering key
    (n_chars DESC, doc_id) is total, so the result is unique and the
    window-based oracle agrees exactly."""
    docs = load_table(spark, sf_dir, "documents")
    item = F.struct(
        (-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("doc_id")
    )
    local = (
        docs.withColumn("pid", F.spark_partition_id())
        .groupBy("lang", "pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, 3).alias("top"))
    )
    merged = (
        local.select("lang", F.explode("top").alias("it"))
        .groupBy("lang")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, 3).alias("top"))
    )
    return merged.select(
        "lang", F.posexplode("top").alias("pos", "it")
    ).select(
        "lang",
        F.col("it.doc_id").alias("doc_id"),
        (-F.col("it.neg_chars")).alias("n_chars"),
        (F.col("pos") + 1).cast("long").alias("rk"),
    )


# -- round 6: probability-proportional-to-size sampling --------------------

_PPS_SQL = """
WITH stats AS (
  SELECT COUNT(*) AS n_total, SUM(n_chars) AS chars_total FROM documents),
b AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           AS bucket,
         CAST(floor(least(1.0,
             0.25 * s.n_total / s.chars_total * n_chars) * 65536.0) AS BIGINT)
           AS thresh
  FROM documents, stats s)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM b WHERE bucket < thresh
GROUP BY lang
"""


@register("sample_weighted_pps", oracle=_PPS_SQL)
def sample_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED (probability-proportional-to-size) deterministic
    sampling (round 6): each document's inclusion probability is
    proportional to its length, scaled so the expected kept-count is
    25% of the corpus — the curation move that keeps long documents
    (rare, information-dense) at a higher rate than boilerplate-length
    ones, while staying fully reproducible: membership is a pure
    function of doc_id (16-bit md5 bucket vs a per-row threshold), so
    the same doc survives under any partitioning, engine, or re-run —
    the PPS generalization of sample_deterministic_split's coin.

    Plan: one tiny stats agg (count + weight sum) broadcast back onto
    the scan, threshold arithmetic per row, map-side filter, partial
    agg.  No row-level shuffle at any scale.  The id checksum pins the
    exact kept SET, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count("*").alias("n_total"), F.sum("n_chars").alias("chars_total")
    )
    b = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "lang",
        "n_chars",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        .alias("bucket"),
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(0.25)
                * F.col("n_total")
                / F.col("chars_total")
                * F.col("n_chars"),
            )
            * 65536.0
        )
        .cast("long")
        .alias("thresh"),
    )
    return (
        b.filter(F.col("bucket") < F.col("thresh"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_kept"),
        )
    )


# -- round 7: BM25 retrieval ------------------------------------------------

_BM25_TERMS = ["data", "scan", "vector", "stream"]
# Fixed-point BM25 (k1=1.2, b=0.75 in millis): every intermediate is an
# INTEGER, so the Spark/DuckDB differential is bit-exact — ln() and
# double division differ in last-ulp behavior between libm and the JVM
# (the same reason text_tfidf_topk uses the rational idf surrogate).
# The fixed-point formulation preserves BM25's two defining behaviors —
# tf saturation (tf/(tf+K)) and doc-length normalization (K grows with
# len/avglen) — up to milli-resolution rounding.
_BM25_K1_MILLI = 1200
_BM25_B_MILLI = 750

_BM25_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lens),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
       WHERE term IN ('data', 'scan', 'vector', 'stream')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
idf AS (SELECT term, (1000 * (SELECT n_docs FROM corpus)) // df AS idf_milli
        FROM dfreq),
scored AS (
  SELECT tf.doc_id,
         SUM(idf.idf_milli *
             ((1000000 * tf.tf) //
              (1000 * tf.tf +
               ({_BM25_K1_MILLI} *
                (1000 - {_BM25_B_MILLI} +
                 ({_BM25_B_MILLI} * lens.dl * (SELECT n_docs FROM corpus))
                 // (SELECT sum_dl FROM corpus))) // 1000))) AS score
  FROM tf
  JOIN idf USING (term)
  JOIN lens ON lens.doc_id = tf.doc_id
  GROUP BY tf.doc_id)
SELECT doc_id, CAST(score AS BIGINT) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 15
"""


@register("text_bm25_topk", oracle=_BM25_SQL)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (round 7): top-15 documents for a 4-term query
    under the fixed-point BM25 scorer (k1=1.2, b=0.75, milli scaling) —
    the production retrieval scorer a pretraining-data pipeline uses
    for targeted corpus search and contamination screening, extending
    text_tfidf_topk with BM25's tf SATURATION (a 100th occurrence adds
    almost nothing) and DOC-LENGTH NORMALIZATION (long word-salad
    documents stop winning on raw tf).  All-integer arithmetic keeps
    the oracle differential bit-exact (see _BM25_SQL comment).

    Plan: tokens explode and filter to query terms BEFORE the tf
    groupBy (the shuffle carries only query-term hits); doc lengths are
    one partial-agg per doc; corpus stats (N, sum_dl) are one tiny
    collected aggregate embedded as literals; idf is a broadcast join;
    the top-k compiles to TakeOrderedAndProject.  At 100 TB: two
    passes over the token stream (length + hits), both map-side
    partial; no shuffle ever carries non-matching tokens."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(tokens()).cast("long").alias("dl")
    )
    n_docs, sum_dl = lens.agg(
        F.count("*"), F.sum("dl")
    ).first()
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = tf.groupBy("term").agg(
        F.expr(f"CAST((1000 * {n_docs}) DIV COUNT(DISTINCT doc_id) AS BIGINT)").alias(
            "idf_milli"
        )
    )
    # every step integer DIV (never `/` + cast: double division rounds
    # to nearest and can land one above the true floor at quotient
    # boundaries, where DuckDB's // would not)
    k_expr = (
        f"CAST(({_BM25_K1_MILLI} * ({1000 - _BM25_B_MILLI} + "
        f"CAST(({_BM25_B_MILLI} * dl * {n_docs}) DIV {sum_dl} AS BIGINT)))"
        f" DIV 1000 AS BIGINT)"
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(lens, "doc_id")
        .withColumn("_k", F.expr(k_expr))
        .withColumn(
            "_tfsat",
            F.expr("CAST((1000000 * tf) DIV (1000 * tf + _k) AS BIGINT)"),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("idf_milli") * F.col("_tfsat")).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


# -- round 7: deterministic per-stratum reservoir sample -------------------

_RESERVOIR_K = 20

_RESERVOIR_SQL = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
  FROM documents)
WHERE rk <= {_RESERVOIR_K}
"""


@register("sample_reservoir_per_group", oracle=_RESERVOIR_SQL)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC RESERVOIR SAMPLE per stratum (round 7): a uniform
    k=20 without-replacement sample per language — the "hold out a
    fixed-size eval slice per domain" curation primitive.  The classic
    streaming reservoir is RNG-stateful and order-dependent; ordering
    by md5(doc_id) instead makes the "random" k a PURE FUNCTION of the
    ids — stable under repartitioning, engine changes, and incremental
    corpus growth (a new doc displaces at most one sampled member, the
    bottom-k-sketch property), while remaining uniform because the hash
    is equidistributed over ids.

    Plan shape: the same skew-proof TWO-STAGE partial top-k as
    pipeline_topk_per_domain — each input partition reduces to its
    local bottom-20-by-hash per lang (partial-agg, k x groups x
    partitions rows out), slivers merge per lang — so a handful of
    strata over 100 TB never pulls raw rows onto a few executors the
    way a row_number window would.  Ordering key (md5 hex, doc_id) is
    total, so the sample is unique and the window-based oracle agrees
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    item = F.struct(
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.col("doc_id").alias("doc_id"),
    )
    local = (
        docs.withColumn("pid", F.spark_partition_id())
        .groupBy("lang", "pid")
        .agg(
            F.slice(F.array_sort(F.collect_list(item)), 1, _RESERVOIR_K).alias(
                "top"
            )
        )
    )
    merged = (
        local.select("lang", F.explode("top").alias("it"))
        .groupBy("lang")
        .agg(
            F.slice(F.array_sort(F.collect_list("it")), 1, _RESERVOIR_K).alias(
                "top"
            )
        )
    )
    return merged.select("lang", F.posexplode("top").alias("pos", "it")).select(
        "lang",
        F.col("it.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("long").alias("rk"),
    )


# -- round 8: corpus-level n-gram statistics ---------------------------------

_NGRAM_TOPK_SQL = rf"""
WITH toks AS (SELECT lang, {_TOKS_SQL} AS t FROM documents),
bg AS (SELECT lang,
              unnest(CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(0, len(t)-2),
                                              i -> t[i+1] || ' ' || t[i+2])
                          ELSE [] END) AS bigram
       FROM toks),
c AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2)
SELECT lang, bigram, n, CAST(rk AS BIGINT) AS rk
FROM (SELECT lang, bigram, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, bigram) AS rk
      FROM c)
WHERE rk <= 10
"""

_NGRAM_K = 10


@register("text_ngram_topk", oracle=_NGRAM_TOPK_SQL)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 token BIGRAMS per language by occurrence count (round 8)
    — the corpus-statistics primitive behind boilerplate detection,
    stop-phrase lists, and n-gram LM vocabularies.

    Scale shape: bigram construction is a codegen transform over the
    token array (no Python); the (lang, bigram) count is one map-side-
    partial aggregate whose shuffle key is well-spread (vocabulary^2,
    not |langs|); the per-language top-10 then reuses the skew-proof
    two-stage partial top-k (pipeline_topk_per_domain): each partition
    reduces to its local top-10 per lang, so no window ever shuffles
    the full n-gram distribution to one executor per language.
    Ordering key (count DESC, bigram ASC) is total -> unique result,
    window-based oracle agrees exactly."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    # bigrams via SLICED OFFSET VIEWS + arrays_zip, the codegen shingle
    # idiom (shingle_hash_sets) — a per-element transform() lambda is
    # INTERPRETED and measured 9x slower on this exact stage (5.8 s ->
    # 0.6 s at sf0.1); the concat happens per exploded ROW, in codegen
    n = F.size(t)
    z = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(t, 1, n - 1).alias("t0"), F.slice(t, 2, n - 1).alias("t1")
        ),
    ).otherwise(F.array().cast("array<struct<t0:string,t1:string>>"))
    counts = (
        docs.select("lang", F.explode(z).alias("g"))
        .select("lang", F.concat_ws(" ", F.col("g.t0"), F.col("g.t1")).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    item = F.struct((-F.col("n")).alias("neg_n"), F.col("bigram").alias("bigram"))
    local = (
        counts.withColumn("pid", F.spark_partition_id())
        .groupBy("lang", "pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, _NGRAM_K).alias("top"))
    )
    merged = (
        local.select("lang", F.explode("top").alias("it"))
        .groupBy("lang")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, _NGRAM_K).alias("top"))
    )
    return merged.select("lang", F.posexplode("top").alias("pos", "it")).select(
        "lang",
        F.col("it.bigram").alias("bigram"),
        (-F.col("it.neg_n")).alias("n"),
        (F.col("pos") + 1).cast("long").alias("rk"),
    )


# -- round 8: vocabulary-coverage (OOV) scoring ------------------------------

_OOV_V = 1000  # vocabulary size: corpus top-V terms by (count DESC, term ASC)

_OOV_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
tc AS (SELECT unnest(t) AS term FROM toks),
vocab AS (SELECT term FROM (
            SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
            FROM tc GROUP BY term) WHERE rk <= {_OOV_V}),
x AS (SELECT doc_id, unnest(t) AS term FROM toks)
SELECT x.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (1000 * CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT))
         // COUNT(*) AS oov_milli
FROM x LEFT JOIN vocab v USING (term)
GROUP BY x.doc_id
"""


@register("text_oov_rate", oracle=_OOV_SQL)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per document against the corpus's own
    top-1000 term vocabulary (round 8) — the lexicon-coverage quality
    signal: gibberish, code dumps, and wrong-language text all surface
    as high OOV against the corpus head, and the same shape scores
    against an external tokenizer vocab.

    Scale shape: the vocabulary is distilled by the two-stage partial
    top-k (never a global window over raw term counts), collected
    bounded (V=1000 strings), and applied as a literal-array membership
    test in the scoring pass — zero shuffle, no term-keyed exchange
    (term frequency is maximally skewed: 'the' would hot-spot any
    shuffle join).  The membership test is O(V) comparisons per token,
    which an A/B against the O(1)-probe alternative (explode +
    broadcast hash join + per-doc re-agg) MEASURED as the right trade
    at V=1000: 0.33 s vs 3.05 s at sf0.1 — the codegen'd compare loop
    beats the join path's row-explosion overhead and doc_id exchange by
    9x, identical results.  For tokenizer-scale vocabularies (V ~ 10^5)
    the crossover flips and the broadcast-join form wins; both shapes
    are recorded here so the V regime picks the plan.  Integer outputs
    only (count, OOV count, milli-rate) — no float seam."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    tc = (
        docs.select(F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    item = F.struct((-F.col("n")).alias("neg_n"), F.col("term").alias("term"))
    local = (
        tc.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, _OOV_V).alias("top"))
    )
    merged = (
        local.select(F.explode("top").alias("it"))
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, _OOV_V).alias("top"))
    )
    vocab = [r["it"]["term"] for r in merged.select(F.explode("top").alias("it")).collect()]
    vlit = F.array(*[F.lit(v) for v in sorted(vocab)])
    hits = F.size(F.filter(t, lambda tok: F.array_contains(vlit, tok)))
    base = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        (F.size(t) - hits).cast("long").alias("n_oov"),
    ).filter(F.col("n_tokens") > 0)
    return base.withColumn("oov_milli", F.expr("(1000 * n_oov) div n_tokens"))


# -- round 9: tokenizer-scale OOV (the join side of the crossover) -----------

_OOV_AUG_V = 100_000  # synthetic vocab floor: the tokenizer-scale regime

_OOV_TOKENIZER_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
vocab AS (
  SELECT DISTINCT unnest(t) AS term FROM toks WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'aug ' || CAST(i AS VARCHAR) AS term
  FROM generate_series(0, {_OOV_AUG_V - 1}) s(i)),
x AS (SELECT doc_id, unnest(t) AS term FROM toks WHERE doc_id % 2 = 1)
SELECT x.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (1000 * CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT))
         // COUNT(*) AS oov_milli
FROM x LEFT JOIN vocab v USING (term)
GROUP BY x.doc_id
"""


@register("text_oov_rate_tokenizer", oracle=_OOV_TOKENIZER_SQL)
def text_oov_rate_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-SCALE OOV scoring (round 9 — the banked r8 candidate
    d): per-document out-of-vocabulary rate of the EVAL split (odd
    doc_ids) against a V > 10^5 vocabulary — the train split's distinct
    tokens plus 100k synthetic tokenizer entries ('aug <i>': the
    embedded space makes collision with whitespace tokens impossible by
    construction, so the augmentation changes join SIZE, never
    results).  This is the decontamination-style eval-coverage check at
    the vocabulary size real BPE tokenizers carry.

    Scale shape — the OTHER side of text_oov_rate's measured crossover:
    at V=1000 a literal-array membership loop beat the join 9x, but a
    10^5-literal expression is past codegen's practical limits and the
    O(V) per-token compare loop inverts the trade, so THIS regime uses
    the O(1)-probe form: explode eval tokens, BROADCAST-hash-join the
    vocab (a few MB at V~10^5 — broadcastable at any corpus size since
    vocab scales with the tokenizer, not the corpus), re-aggregate per
    doc.  Token traffic is one explode + one map-side join + one
    partial agg keyed by doc_id (never by term — term frequency is
    maximally skewed; doc_id is not).  Integer outputs only."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    train_vocab = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(t).alias("term"))
        .distinct()
    )
    aug = spark.range(_OOV_AUG_V).select(
        F.format_string("aug %d", F.col("id")).alias("term")
    )
    vocab = train_vocab.unionAll(aug).withColumn("_inv", F.lit(1))
    x = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode(t).alias("term")
    )
    joined = x.join(F.broadcast(vocab), "term", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn("oov_milli", F.expr("(1000 * n_oov) div n_tokens"))
    )


def _token_budget_sql() -> str:
    # per-lang greedy prefix under the quality ranking; the quality CTE
    # is the text_quality_score oracle verbatim, the token counter the
    # token-stats fragment — both already bit-exact gates
    return rf"""
WITH q AS ({_quality_sql()}),
tox AS (SELECT doc_id, lang,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_toks
        FROM documents),
j AS (SELECT t.lang, t.doc_id, t.n_toks, q.quality
      FROM tox t JOIN q USING (doc_id)),
c AS (SELECT lang, doc_id, n_toks, quality,
             CAST(SUM(n_toks) OVER (PARTITION BY lang
                                    ORDER BY quality DESC, doc_id)
                  AS BIGINT) AS cum_toks
      FROM j)
SELECT lang, doc_id, n_toks, quality, cum_toks
FROM c WHERE cum_toks <= {TOKEN_BUDGET_PER_LANG}
"""


TOKEN_BUDGET_PER_LANG = 2000


@register("pipeline_token_budget_select", oracle=_token_budget_sql())
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET corpus selection (round 11): training
    mixtures are priced in tokens, so the curation step after scoring
    is "spend each language's token budget on its BEST documents" —
    per language, rank by the composite quality score (ties to the
    lowest doc_id), take the greedy prefix whose running token total
    stays within the budget (2,000 tokens/language here — nonvacuous
    both ways on the driver corpus: every language holds 3.5-11.8k
    tokens, so some docs select and most reject).  One row per
    SELECTED document with its rank context (n_toks, quality,
    cum_toks) — the manifest a mixture builder consumes.

    Determinism: token counts are exact longs; the quality score is
    the bit-identical double the text_quality_score gate pins on both
    engines, so the (quality DESC, doc_id) order — and therefore the
    integer running sum and the cut — is identical; the oracle reuses
    that gate's SQL verbatim as a CTE.

    Plan/scale shape: ONE raw scan computes (lang, doc_id, n_toks,
    quality) in pure codegen; the window shuffles only those slim rows
    partitioned by lang.  At 100 TB a per-lang total order is the
    honest cost of an EXACT greedy prefix; the production screen cuts
    it first — percentile_approx on quality per lang finds the cutoff
    q* where tokens-above ~= budget, the window then runs over only
    the ~budget-sized survivors (same two-stage shape as the engine's
    skew-proof top-k) — and the exact form here is that path's oracle
    twin, the engine's standing exact/scale pairing."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        "doc_id",
        token_count().alias("n_toks"),
        quality_score().alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_toks", F.sum("n_toks").over(w))
        .filter(F.col("cum_toks") <= TOKEN_BUDGET_PER_LANG)
        .select("lang", "doc_id", "n_toks", "quality", "cum_toks")
    )


# -- round 12: tokenizer whitespace-edge gate --------------------------------

_EDGE_TOKS = r"len(list_filter(string_split_regex(lower({e}), '\s+'), x -> x <> ''))"

_EDGE_SQL = rf"""
WITH v AS (
  SELECT lang,
         {_EDGE_TOKS.format(e="text")} AS o,
         {_EDGE_TOKS.format(e="chr(9) || text")} AS tp,
         {_EDGE_TOKS.format(e="text || chr(10)")} AS ns,
         {_EDGE_TOKS.format(e="' ' || chr(9) || text || chr(10) || ' '")} AS pd
  FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(o) AS BIGINT) AS toks_orig,
       CAST(SUM(tp) AS BIGINT) AS toks_tab_prefix,
       CAST(SUM(ns) AS BIGINT) AS toks_nl_suffix,
       CAST(SUM(pd) AS BIGINT) AS toks_padded
FROM v GROUP BY lang
"""


@register("text_tokenizer_whitespace_edge", oracle=_EDGE_SQL)
def text_tokenizer_whitespace_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER WHITESPACE-EDGE differential (round 12): the r11 review
    surfaced a latent cross-engine seam — Spark's old trim-then-split
    tokenizer stripped only 0x20 spaces, so a document with a leading
    tab/newline counted a spurious empty first token, while every DuckDB
    oracle mirror filters all-whitespace tokens.  The corpus contains no
    such document, so no fixture could exercise the seam; this gate
    MANUFACTURES the adversarial inputs deterministically from the corpus
    itself: each document is tokenized four ways — as stored, tab-prefixed
    (chr(9)||text), newline-suffixed (text||chr(10)), and mixed-padded
    (' '||chr(9)||text||chr(10)||' ') — and the per-language token totals
    of all four variants land as separate columns.  With the r12
    ``\\S+``-extraction tokenizer the four columns are EQUAL by
    construction (padding adds no non-whitespace run), and the strict
    hash-match proves BOTH engines agree on every padded variant — under
    the old idiom toks_tab_prefix/toks_padded would each exceed toks_orig
    by n_docs and the gate would hash-fail.

    Plan/scale shape: one raw scan, four codegen expression columns, one
    partial-agg groupBy(lang) — shuffle carries |langs| rows.  No Python,
    no window, no join at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    variants = docs.select(
        "lang",
        token_count(text).alias("o"),
        token_count(F.concat(F.lit("\t"), text)).alias("tp"),
        token_count(F.concat(text, F.lit("\n"))).alias("ns"),
        token_count(
            F.concat(F.lit(" \t"), text, F.lit("\n "))
        ).alias("pd"),
    )
    return variants.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("o").alias("toks_orig"),
        F.sum("tp").alias("toks_tab_prefix"),
        F.sum("ns").alias("toks_nl_suffix"),
        F.sum("pd").alias("toks_padded"),
    )
