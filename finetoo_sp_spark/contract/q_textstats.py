"""Contract queries: text quality, lang-id, fingerprints, PII, sampling.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    dd,
    ts,
    T,
    _WORDS_SQL,
    _q,
    _STOP_LIST_SQL,
    _LANG_COUNTS_SQL,
    _REP_WORDS_SQL,
    _ngram_cte,
)


# --- text analysis ---------------------------------------------------------


@_q(
    "token_counts",
    f"""
SELECT doc_id AS id, length(text) AS n_chars,
  CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
FROM documents""",
)
def q_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.token_counts(T(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("id", F.col("n_chars").cast("int").alias("n_chars"), "n_words", "n_tokens_est")


@_q(
    "quality_scores",
    f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws,
    length(text) AS n_chars, CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words
  FROM documents
)
SELECT doc_id AS id, n_chars, n_words,
  round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) AS mean_word_len,
  round(len(list_filter(ws, x -> list_contains({_STOP_LIST_SQL}, x))) / greatest(n_words, 1), 4) AS stopword_ratio,
  round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(n_chars, 1), 4) AS punct_ratio,
  round(length(regexp_replace(text, '[^A-Z]', '', 'g')) / greatest(n_chars, 1), 4) AS upper_ratio,
  (n_words >= 10
   AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
   AND round(len(list_filter(ws, x -> list_contains({_STOP_LIST_SQL}, x))) / greatest(n_words, 1), 4) >= 0.01) AS keep
FROM w""",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.quality_scores(T(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "id",
        F.col("n_chars").cast("int").alias("n_chars"),
        "n_words",
        "mean_word_len",
        "stopword_ratio",
        "punct_ratio",
        "upper_ratio",
        "keep",
    )


@_q(
    "fingerprint_summary",
    f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh AS (
  SELECT doc_id, i AS pos,
    sha256(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ')) AS h
  FROM w, UNNEST(generate_series(0, greatest(len(ws) - 3, 0))) AS t(i)
  WHERE length(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ')) > 0
), win AS (
  SELECT doc_id, pos,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fingerprint
  FROM sh
), fp AS (
  SELECT DISTINCT doc_id, fingerprint FROM win WHERE pos >= 3
)
SELECT doc_id AS id, count(*) AS n_fingerprints, min(fingerprint) AS min_fingerprint
FROM fp GROUP BY doc_id""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.fingerprint_summary(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "tfidf_top_terms",
    f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
wd AS (SELECT doc_id, u.w AS term FROM w, UNNEST(ws) AS u(w) WHERE length(u.w) > 0),
tf AS (SELECT doc_id AS id, term, count(*) AS tf FROM wd GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (
  SELECT id, term, tf, df, tf * (n.n / df) AS score
  FROM tf JOIN dfq USING (term), n
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS BIGINT) AS rk
  FROM s
)
SELECT id, term, tf, df, round(score, 6) AS score, rk FROM r WHERE rk <= 5""",
    audit=[
        ("term-df equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (ratio-idf mode: exact integer-ratio
    arithmetic, cross-engine reproducible — the log variant is a flag)."""
    return ts.tfidf_top_terms(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "repetition_scores",
    f"""
WITH r AS (
  SELECT doc_id,
    substr(text, 1, 40) || chr(10) || substr(text, 1, 40) || chr(10)
      || substr(text, 41, 2000) AS rtext
  FROM documents
), s AS (
  SELECT doc_id, string_split(rtext, chr(10)) AS lines, {_REP_WORDS_SQL} AS ws
  FROM r
), b AS (
  SELECT doc_id, lines, ws,
    list_transform(range(1, greatest(len(ws), 1)), i -> ws[i] || ' ' || ws[i + 1]) AS bg
  FROM s
), m AS (
  SELECT doc_id, lines, ws,
    coalesce(list_max(list_transform(list_distinct(bg),
      x -> len(list_filter(bg, y -> y = x)))), 0) AS mode_n
  FROM b
)
SELECT doc_id AS id,
  round((len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1), 4) AS dup_line_frac,
  round(2 * mode_n / greatest(len(ws), 1), 4) AS top_bigram_frac,
  ((len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1) < 0.3
   AND 2 * mode_n / greatest(len(ws), 1) < 0.18) AS keep_repetition
FROM m""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.3: duplicate-line
    fraction, top-bigram word fraction) over a corpus with injected line
    duplication so the dup path is actually exercised."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 1, 40),
            F.substring("text", 41, 2000),
        ).alias("rtext"),
    )
    return ts.repetition_scores(docs, "doc_id", "rtext")


@_q(
    "rarity_scores",
    f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
wd AS (
  SELECT doc_id, i AS pos, ws[CAST(i AS BIGINT)] AS w
  FROM w, UNNEST(generate_series(1, len(ws))) t(i)
  WHERE length(ws[CAST(i AS BIGINT)]) > 0
),
counts AS (SELECT w, count(*) AS cnt FROM wd GROUP BY w),
tot AS (SELECT sum(cnt) AS n_total FROM counts),
j AS (
  SELECT doc_id, pos, (t.n_total / c.cnt) AS inv
  FROM wd JOIN counts c USING (w), tot t
),
arr AS (SELECT doc_id, list(inv ORDER BY pos) AS invs FROM j GROUP BY doc_id)
SELECT doc_id AS id, CAST(len(invs) AS INTEGER) AS n_words,
  round(list_sum(invs) / len(invs), 6) AS rarity
FROM arr""",
    audit=[
        ("word-count partial agg", r"HashAggregate"),
        ("only doc_id+text read", r"ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
)
def q_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy rarity score (mean inverse corpus unigram
    frequency — the CCNet LM-filter idea without an external model)
    under a full value oracle: the per-doc mean is an ORDERED left fold
    over the word sequence, so both engines sum identical IEEE doubles
    in identical order and the 6dp values match exactly."""
    return ts.rarity_scores(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "script_profile",
    """
WITH t AS (
  SELECT doc_id AS id,
    text || CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN ' привет мир 123'
      WHEN 1 THEN ' 你好世界'
      ELSE '' END AS tx
  FROM documents
)
SELECT id,
  CAST(length(tx) - length(regexp_replace(tx, '\\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
  CAST(length(tx) - length(regexp_replace(tx, '\\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
  CAST(length(tx) - length(regexp_replace(tx, '\\p{Han}', '', 'g')) AS BIGINT) AS n_han,
  CAST(length(tx) - length(regexp_replace(tx, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
  CAST(length(tx)
    - (length(tx) - length(regexp_replace(tx, '\\p{Latin}', '', 'g')))
    - (length(tx) - length(regexp_replace(tx, '\\p{Cyrillic}', '', 'g')))
    - (length(tx) - length(regexp_replace(tx, '\\p{Han}', '', 'g')))
    - (length(tx) - length(regexp_replace(tx, '[0-9]', '', 'g')))
    - (length(tx) - length(regexp_replace(tx, '\\s', '', 'g'))) AS BIGINT) AS n_other
FROM t""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system census with injected multilingual tails (Cyrillic
    + digits for doc_id%3==0, Han for %3==1) so every script branch is
    exercised; Java \\p{IsX} and RE2 \\p{X} agree on these script sets,
    so the counts verify exactly. One narrow JVM pass, no shuffle."""
    from finetoo_sp_spark.operators.textstats import script_profile

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 3).cast("int")
    tail = (
        F.when(m == 0, F.lit(" привет мир 123"))
        .when(m == 1, F.lit(" 你好世界"))
        .otherwise(F.lit(""))
    )
    pages = d.select("doc_id", F.concat("text", tail).alias("text"))
    return script_profile(pages, "doc_id", "text")


@_q(
    "template_ngrams",
    f"""
WITH w AS (
  SELECT doc_id, source AS host, {_WORDS_SQL} AS ws FROM documents
),
sh AS (
  SELECT DISTINCT host, doc_id, ws[g.i] || ' ' || ws[g.i + 1] AS shingle
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
),
dfc AS (SELECT host, shingle, count(*) AS n_docs FROM sh GROUP BY 1, 2),
hp AS (
  SELECT host, count(*) AS host_pages FROM w GROUP BY 1
  HAVING count(*) >= 10
)
SELECT host, shingle, n_docs, host_pages,
  (n_docs * 1000000) // host_pages AS share_ppm
FROM dfc JOIN hp USING (host)
WHERE (n_docs * 1000000) // host_pages >= 150000""",
    audit=[
        ("host page-count dimension equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_template_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level template/boilerplate mining: bigram shingles recurring
    on >= 15% of a host's pages (hosts with >= 10 pages). Per-doc
    distinct shingles -> (host, shingle) counts -> host page-count
    dimension equi-join; exact integer ppm share."""
    from finetoo_sp_spark.operators.textstats import template_ngrams

    return template_ngrams(
        T(spark, sf_dir, "documents"), "source", "doc_id", "text", ratio_ppm=150_000,
    )


@_q(
    "normalize_mojibake",
    """
SELECT doc_id AS id,
  CASE WHEN doc_id % 3 = 0 THEN '"' || text || '"' ELSE text END AS text,
  doc_id % 3 IN (0, 1) AS changed
FROM documents""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen (replace chain fused)", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_normalize_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mojibake repair: corrupt each document deterministically
    (doc_id%3==0 -> wrapped in CP1252-mojibake curly quotes, %3==1 ->
    every space becomes NBSP, else untouched), run the repair chain, and
    check against the relational expectation — repaired text must be
    byte-identical to the clean original (+ folded ascii quotes) and the
    changed flag exact. Pure codegen'd replace chain, no shuffle."""
    from finetoo_sp_spark.operators.normalize import _mojibake, normalize_text

    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    corrupted = (
        F.when(m == 0, F.concat(F.lit(_mojibake("“")), F.col("text"), F.lit(_mojibake("”"))))
        .when(m == 1, F.replace(F.col("text"), F.lit(" "), F.lit("\u00a0")))
        .otherwise(F.col("text"))
    )
    pages = d.select("doc_id", corrupted.alias("text"))
    return normalize_text(pages, "doc_id", "text")


@_q(
    "classifier_scores",
    f"""
WITH w AS (
  SELECT doc_id AS id, {_WORDS_SQL} AS ws FROM documents
),
f AS (
  SELECT id, ws[g.i] AS feat
  FROM w, UNNEST(generate_series(1, len(ws))) AS g(i)
  UNION ALL
  SELECT id, ws[g.i] || ' ' || ws[g.i + 1] AS feat
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
),
sw AS (
  SELECT id,
    ('0x' || substr(md5('w#' ||
       (('0x' || substr(md5(feat), 1, 15))::BIGINT % 65536)), 1, 15)
    )::BIGINT % 2001 - 1000 AS w
  FROM f
),
agg AS (
  SELECT id, count(*) AS n_feats, CAST(sum(w) AS BIGINT) AS margin
  FROM sw GROUP BY 1
)
SELECT id, n_feats,
  (margin * 65536) // n_feats AS score_fp,
  (margin * 65536) // n_feats >= 0 AS keep
FROM agg""",
    audit=[
        ("feature fan-out via Generate (explode)", r"Generate"),
        ("partial aggregation before the shuffle", r"HashAggregate"),
        ("default weight path has NO join at all", r"!Join"),
    ],
)
def q_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (CCNet/FineWeb-style model-based
    filter, apply side) with the deterministic hash-derived weight
    table: unigram+bigram feature instances, portable 60-bit md5 bucket
    hash, integer fixed-point length-normalized margin, keep = score >= 0.
    Default path has NO join — explode -> inline weight eval -> one
    partial agg; with a trained weight table it is a broadcast probe."""
    from finetoo_sp_spark.operators.classifier import hashed_linear_scores

    return hashed_linear_scores(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "blocklist_filter",
    """
SELECT doc_id, source FROM documents
WHERE source NOT IN ('src0', 'src7', 'src13')""",
    audit=[
        ("anti-join is broadcast", r"BroadcastHashJoin.*LeftAnti|BroadcastHashJoin LeftAnti"),
    ],
)
def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source blocklist via broadcast anti-join — the standard
    corpus-hygiene gate (at 10^12 rows the blocklist is dimension-sized,
    so the anti-join is broadcast and costs one map-side probe)."""
    docs = T(spark, sf_dir, "documents")
    blocked = docs.sparkSession.createDataFrame(
        [("src0",), ("src7",), ("src13",)], ["source"]
    )
    return docs.join(F.broadcast(blocked), "source", "left_anti").select(
        "doc_id", "source"
    )


@_q(
    "pii_scrub",
    """
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      substr(text, 1, 40) || ' contact u' || doc_id || '@example.com or +1-555-0' || doc_id,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
FROM documents""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails, phone numbers) as pure column regexps —
    deterministically verifiable because the PII is synthesized into the
    text from doc_id before scrubbing."""
    withpii = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact u"),
        F.col("doc_id"),
        F.lit("@example.com or +1-555-0"),
        F.col("doc_id"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(withpii, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
    )


# --- similarity search ----------------------------------------------------


@_q(
    "pii_detect_stats",
    """
WITH m AS (
  SELECT doc_id,
    substr(text, 1, 40) || ' contact u' || doc_id || '@example.com or +1-555-0'
      || doc_id || ' and u' || doc_id || '@alt.example.org' AS mtext
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(mtext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(mtext, '\\+?[0-9][0-9()\\-. ]{7,}[0-9]')) AS INTEGER) AS n_phones,
  (len(regexp_extract_all(mtext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(mtext, '\\+?[0-9][0-9()\\-. ]{7,}[0-9]'))) > 0 AS has_pii
FROM m""",
)
def q_pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection statistics (the measurement half of the scrub op):
    per-doc email/phone match counts over text with synthesized PII —
    what a privacy audit reports before deciding to scrub or drop."""
    mtext = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact u"),
        F.col("doc_id"),
        F.lit("@example.com or +1-555-0"),
        F.col("doc_id"),
        F.lit(" and u"),
        F.col("doc_id"),
        F.lit("@alt.example.org"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
    n_em = F.regexp_count(mtext, F.lit(email))
    n_ph = F.regexp_count(mtext, F.lit(phone))
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        n_em.alias("n_emails"),
        n_ph.alias("n_phones"),
        ((n_em + n_ph) > 0).alias("has_pii"),
    )


@_q(
    "lang_id",
    f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
c AS (SELECT doc_id, {_LANG_COUNTS_SQL} FROM w),
b AS (SELECT *, greatest(c_de, c_en, c_es, c_fr) AS best FROM c)
SELECT doc_id AS id,
  CASE WHEN c_de > 0 AND c_de = best THEN 'de'
       WHEN c_en > 0 AND c_en = best THEN 'en'
       WHEN c_es > 0 AND c_es = best THEN 'es'
       WHEN c_fr > 0 AND c_fr = best THEN 'fr'
       ELSE 'und' END AS pred_lang,
  best AS marker_hits
FROM b""",
)
def q_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.lang_id(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "corpus_health",
    f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws,
    length(text) AS n_chars, CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words
  FROM documents
), lc AS (
  SELECT doc_id, n_chars, n_words,
    (n_words >= 10
     AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
     AND round(len(list_filter(ws, x -> list_contains({_STOP_LIST_SQL}, x))) / greatest(n_words, 1), 4) >= 0.01) AS keep,
    {_LANG_COUNTS_SQL}
  FROM w
), b AS (
  SELECT *, greatest(c_de, c_en, c_es, c_fr) AS best FROM lc
), lang AS (
  SELECT doc_id, n_chars, n_words, keep,
    CASE WHEN c_de > 0 AND c_de = best THEN 'de'
         WHEN c_en > 0 AND c_en = best THEN 'en'
         WHEN c_es > 0 AND c_es = best THEN 'es'
         WHEN c_fr > 0 AND c_fr = best THEN 'fr'
         ELSE 'und' END AS pred_lang
  FROM b
)
SELECT pred_lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum(n_words) AS BIGINT) AS total_words,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality
FROM lang GROUP BY pred_lang""",
)
def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health dashboard: per predicted language, document count,
    char/word volume and the quality-gate pass count — the one-stop
    rollup a curation run reports. Composes lang_id + quality_scores
    (one join on id, one groupBy)."""
    docs = T(spark, sf_dir, "documents")
    lang = ts.lang_id(docs, "doc_id", "text")
    qual = ts.quality_scores(docs, "doc_id", "text")
    return (
        lang.join(qual, "id")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep_quality"),
        )
    )


@_q(
    "containment_pairs",
    f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, substr(text, 1, CAST(floor(n_chars / 2) AS BIGINT)) FROM documents
), w AS (
  SELECT id, {_WORDS_SQL} AS ws FROM corpus
), sh AS (
  SELECT id, i AS pos,
    sha256(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ')) AS h
  FROM w, UNNEST(generate_series(0, greatest(len(ws) - 3, 0))) AS t(i)
  WHERE length(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ')) > 0
), win AS (
  SELECT id, pos,
    min(h) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fingerprint
  FROM sh
), fp AS (
  SELECT DISTINCT id, fingerprint FROM win WHERE pos >= 3
), sizes AS (
  SELECT id, count(*) AS n_fp FROM fp GROUP BY id
), inter AS (
  SELECT a.id AS id_small, b.id AS id_big, count(*) AS n
  FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.id != b.id
  GROUP BY 1, 2
)
SELECT id_small, id_big, round(n / s.n_fp, 6) AS containment
FROM inter JOIN sizes s ON s.id = id_small
WHERE round(n / s.n_fp, 6) >= 0.6""",
    audit=[
        ("fingerprint equi-join (hash family)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("stop-fingerprint anti-join prune", r"LeftAnti"),
    ],
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (winnowing fingerprint overlap /
    |fp(small)|): half-prefix fragments of every document are injected
    as extra docs, and the operator must find fragment-in-original
    containments that symmetric Jaccard would score low."""
    docs = T(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("id"),
            F.substring("text", 1, F.floor(F.col("n_chars") / 2).cast("int")).alias("text"),
        )
    )
    return ts.containment_pairs(corpus, "id", "text", threshold=0.6)


@_q(
    "stratified_sample",
    """
SELECT doc_id, source FROM documents
WHERE CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 <
  CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
    WHEN 'src2' THEN 250000 ELSE 100000 END""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sampling: per-source keep
    rates (100%/50%/25%, 10% default) as a pure function of the row id —
    identical samples across runs, partitionings and cluster sizes
    (resumable pipelines cannot tolerate task-order-dependent RNG)."""
    docs = T(spark, sf_dir, "documents")
    out = ts.stratified_sample(
        docs, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "doc_id", default_rate=0.1
    )
    return out.select("doc_id", "source")


@_q(
    "top_ngrams",
    f"""
WITH {_ngram_cte('sh', 'doc_id AS id', _WORDS_SQL, 2).format(where='')},
d AS (SELECT shingle AS ngram, count(*) AS df_docs FROM sh GROUP BY 1)
SELECT ngram, df_docs FROM d ORDER BY df_docs DESC, ngram LIMIT 20""",
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram document-frequency top-20 — the boilerplate
    discovery / max_df tuning surface."""
    return dd.top_ngrams(T(spark, sf_dir, "documents"), "doc_id", "text")


GOPHER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws,
    regexp_split_to_array(text, '\\n') AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(ws) AS INTEGER) AS n_words,
    round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
          / greatest(len(ws), 1), 4) AS mean_word_len,
    round(((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3.0)
          / greatest(len(ws), 1), 4) AS symbol_ratio,
    round(CAST(len(list_filter(lines,
            l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS DOUBLE)
          / greatest(len(lines), 1), 4) AS bullet_line_frac,
    round(CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS DOUBLE)
          / greatest(len(lines), 1), 4) AS ellipsis_line_frac,
    round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / greatest(len(ws), 1), 4) AS alpha_word_frac
  FROM w
)
SELECT doc_id AS id, n_words, mean_word_len, symbol_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len BETWEEN 3 AND 10
   AND symbol_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8) AS keep
FROM m"""


@_q("gopher_rules", GOPHER_ORACLE)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.gopher_rules(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "bpe_pair_counts",
    f"""
WITH occ AS (
  SELECT unnest({_WORDS_SQL}) AS w FROM documents
), v AS (
  SELECT w, count(*) AS n FROM occ WHERE length(w) >= 2 GROUP BY w
), p AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, n
  FROM v, UNNEST(generate_series(1, length(w) - 1)) AS t(i)
)
SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.bpe_pair_counts(T(spark, sf_dir, "documents"), "text")


@_q(
    "sentence_stats",
    f"""
WITH s AS (
  SELECT doc_id, {_WORDS_SQL} AS ws,
    len(list_filter(regexp_split_to_array(text, '[.!?]+(\\s+|$)'),
        x -> length(trim(x)) > 0)) AS n_sent
  FROM documents
)
SELECT doc_id AS id,
  CAST(n_sent AS INTEGER) AS n_sentences,
  CAST(len(ws) AS INTEGER) AS n_words,
  round(CAST(len(ws) AS DOUBLE) / greatest(n_sent, 1), 4) AS avg_sentence_words
FROM s""",
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.sentence_stats(T(spark, sf_dir, "documents"), "doc_id", "text")


# PII synthesis: the corpus is built from scratch strings (never the free
# text, which could contain accidental matches) so the oracle can state
# expected counts AND the exact redacted string RELATIONALLY — DuckDB
# never runs a regex, so an over-/under-matching Spark pattern fails the
# value check instead of being mirrored.
_PII_SYNTH_SQL = """
  SELECT doc_id,
    'Account page ' || doc_id || ' notes: '
    || (CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'write to user' || doc_id || '@mail.example.com for help'
          WHEN 1 THEN 'call (' || (100 + doc_id % 900) || ') '
                      || (200 + doc_id % 800) || '-' || (1000 + doc_id % 9000)
                      || ' now'
          WHEN 2 THEN 'host 10.' || (doc_id % 200) || '.' || (doc_id % 250)
                      || '.' || (doc_id % 100) || ' is up'
          WHEN 3 THEN 'id on file 512-' || (10 + doc_id % 90) || '-'
                      || (1000 + doc_id % 9000) || ' ok'
          ELSE 'v1.2.3 build 4567 released; reach support at example dot com'
        END)
    || (CASE WHEN doc_id % 7 = 0
             THEN ' cc admin' || doc_id || '@example.org' ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' origin 192.168.0.1' ELSE '' END)
    AS text
  FROM documents
"""


@_q(
    "pii_scan",
    f"""
WITH synth AS ({_PII_SYNTH_SQL})
SELECT doc_id AS id,
  CAST((CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
     + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_emails,
  CAST(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_phones,
  CAST((CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END)
     + (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ipv4,
  CAST(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_ssn,
  (doc_id % 5 <= 3 OR doc_id % 7 = 0 OR doc_id % 11 = 0) AS has_pii,
  'Account page ' || doc_id || ' notes: '
  || (CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN 'write to [EMAIL] for help'
        WHEN 1 THEN 'call [PHONE] now'
        WHEN 2 THEN 'host [IP] is up'
        WHEN 3 THEN 'id on file [SSN] ok'
        ELSE 'v1.2.3 build 4567 released; reach support at example dot com'
      END)
  || (CASE WHEN doc_id % 7 = 0 THEN ' cc [EMAIL]' ELSE '' END)
  || (CASE WHEN doc_id % 11 = 0 THEN ' origin [IP]' ELSE '' END) AS redacted
FROM synth""",
    audit=[
        ("fully narrow plan: no shuffle at all", r"!\+- Exchange"),
        ("NO join", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact end-to-end: a controlled corpus (emails,
    NANP phones, dotted-quad IPs, SSN-shaped ids, plus a decoy class
    with version strings / digit runs / spelled-out addresses that must
    NOT match) synthesized from documents, run through the real
    regex operators; the oracle reconstructs counts and the exact
    redacted string from the synthesis parameters — regex-free."""
    from finetoo_sp_spark.operators.pii import pii_scan

    d = T(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m5 = (i % 5).cast("int")
    s = lambda c: c.cast("string")  # noqa: E731
    body = (
        F.when(
            m5 == 0,
            F.concat(F.lit("write to user"), s(i), F.lit("@mail.example.com for help")),
        )
        .when(
            m5 == 1,
            F.concat(
                F.lit("call ("),
                s(i % 900 + 100),
                F.lit(") "),
                s(i % 800 + 200),
                F.lit("-"),
                s(i % 9000 + 1000),
                F.lit(" now"),
            ),
        )
        .when(
            m5 == 2,
            F.concat(
                F.lit("host 10."),
                s(i % 200),
                F.lit("."),
                s(i % 250),
                F.lit("."),
                s(i % 100),
                F.lit(" is up"),
            ),
        )
        .when(
            m5 == 3,
            F.concat(
                F.lit("id on file 512-"),
                s(i % 90 + 10),
                F.lit("-"),
                s(i % 9000 + 1000),
                F.lit(" ok"),
            ),
        )
        .otherwise(F.lit("v1.2.3 build 4567 released; reach support at example dot com"))
    )
    text = F.concat(
        F.lit("Account page "),
        s(i),
        F.lit(" notes: "),
        body,
        F.when(
            i % 7 == 0, F.concat(F.lit(" cc admin"), s(i), F.lit("@example.org"))
        ).otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit(" origin 192.168.0.1")).otherwise(F.lit("")),
    )
    synth = d.select("doc_id", text.alias("text"))
    return pii_scan(synth, "doc_id", "text")


@_q(
    "corpus_report",
    f"""
WITH w AS (
  SELECT doc_id, source, text, {_WORDS_SQL} AS ws,
    regexp_split_to_array(text, '\\n') AS lines
  FROM documents
), m AS (
  SELECT doc_id, source,
    CAST(len(ws) AS INTEGER) AS n_words,
    round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
          / greatest(len(ws), 1), 4) AS mean_word_len,
    round(((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3.0)
          / greatest(len(ws), 1), 4) AS symbol_ratio,
    round(CAST(len(list_filter(lines,
            l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS DOUBLE)
          / greatest(len(lines), 1), 4) AS bullet_line_frac,
    round(CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS DOUBLE)
          / greatest(len(lines), 1), 4) AS ellipsis_line_frac,
    round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / greatest(len(ws), 1), 4) AS alpha_word_frac
  FROM w
), k AS (
  SELECT source AS grp, n_words,
    (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
     AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
     AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8) AS keep
  FROM m
), counts AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
    CAST(sum(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS total_kept_words
  FROM k GROUP BY grp
), b2 AS (
  SELECT grp, greatest(n_words, 1) AS x,
    (CAST(1 AS BIGINT) << (length(bin(greatest(n_words, 1))) - 1)) AS base
  FROM k WHERE keep
), binned AS (
  SELECT grp,
    (length(bin(base)) - 1) * 16 + ((x - base) * 16 // base) AS bucket,
    base + ((x - base) * 16 // base) * base // 16 AS lo
  FROM b2
), sk AS (SELECT grp, bucket, lo, count(*) AS cnt FROM binned GROUP BY grp, bucket, lo),
cum AS (
  SELECT grp, bucket, lo,
    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS total
  FROM sk
), q50 AS (
  SELECT grp, min(bucket) AS b FROM cum
  WHERE cum * 1000000 >= 500000 * total GROUP BY grp
), q90 AS (
  SELECT grp, min(bucket) AS b FROM cum
  WHERE cum * 1000000 >= 900000 * total GROUP BY grp
)
SELECT c.grp, c.n_docs, c.n_keep,
  CAST(c.n_keep * 1000000 // c.n_docs AS BIGINT) AS kept_frac_ppm,
  c.total_kept_words,
  CAST(p50.lo AS BIGINT) AS p50_words,
  CAST(p90.lo AS BIGINT) AS p90_words
FROM counts c
LEFT JOIN q50 ON q50.grp = c.grp
LEFT JOIN cum p50 ON p50.grp = q50.grp AND p50.bucket = q50.b
LEFT JOIN q90 ON q90.grp = c.grp
LEFT JOIN cum p90 ON p90.grp = q90.grp AND p90.bucket = q90.b""",
    audit=[
        ("pruned to text+source only (id unused, dropped)", r"ReadSchema: struct<text:string,source:string>"),
        ("dimension-sized joins stay broadcast", r"!SortMergeJoin"),
    ],
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 composition capstone: the per-source curation dashboard
    (Gopher keep rate in exact ppm, kept token budget, sketch-read
    p50/p90 word counts) in one lazy plan — one text pass, two partial
    aggregations, dimension-sized joins. The oracle composes the same
    gate + bucket + ceil-rank CTEs relationally."""
    from finetoo_sp_spark.operators.report import corpus_report

    return corpus_report(T(spark, sf_dir, "documents"), "doc_id", "text", "source")


@_q(
    "bpe_encode_tokens",
    """
SELECT doc_id AS id,
  CAST(3 AS BIGINT) AS n_words,
  CAST(((1 + doc_id % 7) + 1) // 2   -- repeat('ab', k): k 'ab' tokens pair up to ceil(k/2)
     + (1 + doc_id % 5)              -- repeat('cde', m): (c,d) then (cd,e) -> m 'cde' tokens
     + 3 AS BIGINT) AS n_tokens      -- 'xyz': no merges apply, 3 char tokens
FROM documents""",
    audit=[
        ("kernel over the distinct vocabulary", r"MapInPandas"),
        ("token dimension joined broadcast", r"BroadcastHashJoin"),
    ],
)
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE apply under a closed-form oracle: a corpus with provable
    tokenization — repeat('ab', k) merges (a,b) then (ab,ab) into
    ceil(k/2) tokens, repeat('cde', m) chains two merges into m tokens,
    'xyz' stays 3 characters — is encoded by the vocabulary-collapsed
    merge kernel; the oracle states every token budget arithmetically
    from doc_id, never running a merge."""
    from finetoo_sp_spark.operators.tokenize import bpe_token_counts

    d = T(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat(
            F.expr("repeat('ab', 1 + doc_id % 7)"),
            F.lit(" "),
            F.expr("repeat('cde', 1 + doc_id % 5)"),
            F.lit(" xyz"),
        ).alias("text"),
    )
    return bpe_token_counts(synth, "doc_id", "text")


@_q(
    "bpe_learn_merges",
    """
SELECT * FROM (VALUES
  (0, 'l', 'o', 'lo', CAST(900 AS BIGINT)),
  (1, 'lo', 'w', 'low', CAST(900 AS BIGINT)),
  (2, 'low', 'e', 'lowe', CAST(300 AS BIGINT)),
  (3, 'lowe', 'r', 'lower', CAST(200 AS BIGINT)),
  (4, 'lowe', 's', 'lowes', CAST(100 AS BIGINT)),
  (5, 'lowes', 't', 'lowest', CAST(100 AS BIGINT))
) t(merge_idx, "left", "right", merged, cnt)""",
)
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table LEARNING end to end (Sennrich 2016 train phase,
    the classic low/lower/lowest worked example): a 900-occurrence
    vocabulary synthesized from range (600 low / 200 lower / 100
    lowest), six find-top-pair -> greedy-merge rounds over the
    vocabulary only. Every merge, its order, and its count are
    hand-derived in the oracle — including both tie-breaks ((l,o) vs
    (o,w) at 900 and (lowe,s) vs (s,t) at 100, resolved by pair-asc).
    Scale: the loop touches the Heaps'-law vocabulary, never the
    corpus; each round is one partial agg + a 1-row collect."""
    from finetoo_sp_spark.operators.tokenize import bpe_learn

    i = F.col("id")
    vocab = (
        spark.range(0, 900, 1, 4)
        .select(
            F.when(i < 600, F.lit("low"))
            .when(i < 800, F.lit("lower"))
            .otherwise(F.lit("lowest"))
            .alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return bpe_learn(vocab, 6)


# --- multilingual segmentation (space-free scripts) --------------------------

# RE2 (DuckDB) and Java (Spark) agree on all five script classes — proven
# by the script_profile oracle; verified for Hiragana/Katakana/Hangul/Thai
# in round 5.
_SPACEFREE_RE2 = "[\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}\\p{Thai}]"

_ML_TAIL_SQL = """CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN ' 日本語のテキストです'
      WHEN 1 THEN ' 你好世界欢迎光临'
      WHEN 2 THEN ' 안녕하세요세계'
      WHEN 3 THEN ' สวัสดีโลก'
      ELSE '' END"""


@_q(
    "token_counts_multilingual",
    f"""
WITH t AS (
  SELECT doc_id AS id, text || {_ML_TAIL_SQL} AS tx FROM documents
), c AS (
  SELECT id, length(tx) AS n_chars,
    length(tx) - length(regexp_replace(tx, '{_SPACEFREE_RE2}', '', 'g')) AS n_cjk,
    trim(regexp_replace(regexp_replace(tx, '{_SPACEFREE_RE2}', ' ', 'g'), '\\s+', ' ', 'g')) AS scrub
  FROM t
), w AS (
  SELECT id, n_chars, n_cjk,
    CASE WHEN scrub = '' THEN 0 ELSE len(string_split(scrub, ' ')) END AS n_space_words
  FROM c
)
SELECT id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_cjk AS BIGINT) AS n_cjk,
  CAST(n_space_words AS BIGINT) AS n_space_words,
  CAST(n_space_words + n_cjk AS BIGINT) AS n_words_seg,
  CAST((n_chars - n_cjk + 3) // 4 + n_cjk AS BIGINT) AS n_tokens_est
FROM w""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_tokens_multilingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation-aware token counting over a mixed-script corpus:
    every doc gets a deterministic space-free-script tail (Japanese with
    all three scripts / Chinese / Korean / Thai, cycling by id, with a
    pure-Latin residue class) so the CJK census, the scrubbed
    whitespace word count, and the per-script BPE cost model are all
    exercised against an oracle that recomputes them from the same
    regex classes. Whitespace-only token_counts reads these tails as
    ~1 giant word — the miss this operator exists to fix."""
    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 5).cast("int")
    tail = (
        F.when(m == 0, F.lit(" 日本語のテキストです"))
        .when(m == 1, F.lit(" 你好世界欢迎光临"))
        .when(m == 2, F.lit(" 안녕하세요세계"))
        .when(m == 3, F.lit(" สวัสดีโลก"))
        .otherwise(F.lit(""))
    )
    pages = d.select("doc_id", F.concat("text", tail).alias("text"))
    return ts.token_counts_multilingual(pages, "doc_id", "text")


@_q(
    "lang_id_script",
    f"""
WITH t AS (
  SELECT doc_id, CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN '日本語のテキストです'
      WHEN 1 THEN '你好世界欢迎光临'
      WHEN 2 THEN '안녕하세요세계'
      WHEN 3 THEN 'สวัสดีโลก'
      WHEN 4 THEN '12345 67890 !!'
      ELSE text END AS tx
  FROM documents
), w AS (
  SELECT doc_id, tx,
    regexp_split_to_array(trim(regexp_replace(lower(tx), '\\s+', ' ', 'g')), ' ') AS ws
  FROM t
), c AS (
  SELECT doc_id, tx, {_LANG_COUNTS_SQL} FROM w
), s AS (
  SELECT *,
    length(tx) - length(regexp_replace(tx, '[\\p{{Hiragana}}\\p{{Katakana}}]', '', 'g')) AS kana,
    length(tx) - length(regexp_replace(tx, '\\p{{Hangul}}', '', 'g')) AS hang,
    length(tx) - length(regexp_replace(tx, '\\p{{Thai}}', '', 'g')) AS thai,
    length(tx) - length(regexp_replace(tx, '\\p{{Han}}', '', 'g')) AS han,
    greatest(c_de, c_en, c_es, c_fr) AS best
  FROM c
)
SELECT doc_id AS id,
  CASE WHEN best > 0 THEN
    CASE WHEN c_de > 0 AND c_de = best THEN 'de'
         WHEN c_en > 0 AND c_en = best THEN 'en'
         WHEN c_es > 0 AND c_es = best THEN 'es'
         WHEN c_fr > 0 AND c_fr = best THEN 'fr'
         ELSE 'und' END
  ELSE
    CASE WHEN kana > 0 THEN 'ja' WHEN hang > 0 THEN 'ko'
         WHEN thai > 0 THEN 'th' WHEN han > 0 THEN 'zh'
         ELSE 'und' END
  END AS pred_lang,
  CAST(best AS BIGINT) AS marker_hits,
  CAST(CASE WHEN best = 0 THEN
    CASE WHEN kana > 0 THEN kana WHEN hang > 0 THEN hang
         WHEN thai > 0 THEN thai WHEN han > 0 THEN han ELSE 0 END
  ELSE 0 END AS BIGINT) AS script_hits
FROM s""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_lang_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID with the writing-system fallback: five residue
    classes REPLACE the text (Japanese incl. kana-beats-Han priority,
    Chinese, Korean, Thai, a digits/punctuation 'und' decoy) and the
    sixth keeps the original marker-word path, so both voting layers
    and every branch of the script chain execute under the value
    oracle. Stopword voting alone calls every one of these pages
    'und' — the blind spot this operator closes."""
    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 6).cast("int")
    tx = (
        F.when(m == 0, F.lit("日本語のテキストです"))
        .when(m == 1, F.lit("你好世界欢迎光临"))
        .when(m == 2, F.lit("안녕하세요세계"))
        .when(m == 3, F.lit("สวัสดีโลก"))
        .when(m == 4, F.lit("12345 67890 !!"))
        .otherwise(F.col("text"))
    )
    pages = d.select("doc_id", tx.alias("text"))
    return ts.lang_id_script(pages, "doc_id", "text")
