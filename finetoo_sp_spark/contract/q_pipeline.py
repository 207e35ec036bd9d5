"""Contract queries: sinks, lineage, WARC, snapshots, curation capstones.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.

The WARC queries stage their archives through ``_core._stage``. The
round-trip queries' own writes (sinks, lineage, tables, WET/WAT) are
declared staging too: they run at build time into fresh
``_core._tmp_out`` paths, and the returned plan reads them back.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    documents_to_pages,
    extract_pages,
    dd,
    ts,
    T,
    _WORDS_SQL,
    _q,
    _STOP_LIST_SQL,
    _SANITIZE_SQL,
    _tmp_out,
    _FILE_ID,
    _stage,
    _snapshot_b,
    _CURATION_MAX_DF,
    _CURATION_JACCARD,
    _rank_oracle,
    _SHA60_ID,
    _curation_v2_oracle,
)


@_q(
    "sink_json_roundtrip",
    f"""
SELECT doc_id,
  {_SANITIZE_SQL.format(x="substr(text, 1, 30) || chr(10) || 'café' || chr(9) || 'end'")} AS s
FROM documents""",
)
def q_sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 JSON sink with sanitization (reference: bom_exporter.cc:154-219,
    sanitize :16-28): write JSON lines with non-printables injected, read
    the files back; the oracle recomputes the sanitized strings."""
    from finetoo_sp_spark.operators.sinks import write_json

    df = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.substring("text", 1, 30), F.lit("\ncafé\tend")).alias("s"),
    )
    path = _tmp_out("sink_json")
    write_json(df, path)
    return spark.read.schema("doc_id LONG, s STRING").json(path)


@_q(
    "sink_csv_roundtrip",
    f"""
SELECT doc_id,
  {_SANITIZE_SQL.format(x=chr(39) + 'He said "hi", ' + chr(39) + " || substr(text, 1, 20)")} AS s
FROM documents""",
)
def q_sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 CSV sink: quoted RFC-4180 CSV (quoteAll + doubled quotes,
    reference: bom_exporter.cc:221-259) survives embedded quotes and
    commas through a write/read round trip."""
    from finetoo_sp_spark.operators.sinks import write_csv

    df = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('He said "hi", '), F.substring("text", 1, 20)).alias("s"),
    )
    path = _tmp_out("sink_csv")
    write_csv(df, path)
    return (
        spark.read.option("header", True)
        .option("escape", '"')
        .schema("doc_id LONG, s STRING")
        .csv(path)
    )


@_q(
    "sink_dimensions_csv",
    """
SELECT 'h' || CAST(doc_id AS VARCHAR) AS handle,
  CASE CAST(doc_id % 6 AS INTEGER) WHEN 0 THEN 'LINEAR' WHEN 1 THEN 'ALIGNED'
    WHEN 2 THEN 'ANGULAR' WHEN 3 THEN 'DIAMETER' WHEN 4 THEN 'RADIUS'
    ELSE 'OTHER' END AS dim_type,
  round(doc_id / 7.0, 4) AS value,
  'note for ' || source AS text_override,
  'DIMS' AS layer,
  source AS drawing
FROM documents""",
)
def q_sink_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 dimensions CSV sink + F7 dim-type decode (reference:
    bom_exporter.cc:261-285 ExportDimensions, :111-120 decode table):
    handle/type/value/text/layer/drawing rows, written then read back."""
    from finetoo_sp_spark.operators.sinks import dim_type_decode, write_csv

    dims = T(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), "doc_id").alias("handle"),
        dim_type_decode(F.col("doc_id") % 6).alias("dim_type"),
        F.round(F.col("doc_id") / 7.0, 4).alias("value"),
        F.concat(F.lit("note for "), "source").alias("text_override"),
        F.lit("DIMS").alias("layer"),
        F.col("source").alias("drawing"),
    )
    path = _tmp_out("sink_dimensions")
    write_csv(dims, path)
    return (
        spark.read.option("header", True)
        .option("escape", '"')
        .schema(
            "handle STRING, dim_type STRING, value DOUBLE, "
            "text_override STRING, layer STRING, drawing STRING"
        )
        .csv(path)
    )


@_q(
    "lineage_manifests",
    """
WITH exp AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
    'heading for document ' || doc_id || chr(10)
      || trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
  FROM documents
), b AS (
  SELECT CAST(CAST('0x' || substr(sha256(url), 1, 15) AS BIGINT) % 16 AS INTEGER) AS bucket,
    url, text
  FROM exp
)
SELECT bucket, count(*) AS input_count, count(*) AS output_count,
  bit_xor(CAST('0x' || substr(sha256(url || chr(1) || text), 1, 15) AS BIGINT)) AS content_checksum,
  CAST(sum(length(text)) AS BIGINT) AS output_chars,
  'committed' AS status
FROM b GROUP BY bucket""",
)
def q_lineage_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: the per-partition lineage manifest table itself under a value
    oracle — run the full resumable extraction (hash_mode='sha' so both
    the bucket assignment and the order-independent xor-fold checksum are
    DuckDB-reproducible), read the manifests back; the oracle recomputes
    every bucket's counts, chars and checksum from the expected
    extraction."""
    from finetoo_sp_spark.sources.lineage import read_manifests, run_resumable_extraction

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    out_dir = _tmp_out("lineage")
    run_resumable_extraction(pages, out_dir, n_buckets=16, hash_mode="sha")
    man = read_manifests(spark, out_dir)
    return man.select(
        "bucket", "input_count", "output_count", "content_checksum", "output_chars", "status"
    )


@_q(
    "snapshot_churn",
    """
WITH base AS (
  SELECT source,
    CASE WHEN doc_id % 11 = 3 THEN 'removed'
         WHEN doc_id % 7 = 0 THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM documents
),
adds AS (SELECT source, 'added' AS status FROM documents WHERE doc_id % 13 = 1)
SELECT source || '.example.com' AS host, status, CAST(count(*) AS BIGINT) AS n
FROM (SELECT * FROM base UNION ALL SELECT * FROM adds)
GROUP BY host, status""",
    audit=[
        ("full-outer delta join on url", r"SortMergeJoin.*FullOuter|ShuffledHashJoin.*FullOuter"),
        ("payload hashed before the join (slim projection)", r"xxhash64"),
    ],
)
def q_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl churn report: per-host counts of added /
    removed / changed / unchanged urls between two snapshots. The delta
    itself moves only (url, xxhash64) — never the payload — in one
    full-outer equi-join (sources/snapshot.py)."""
    from finetoo_sp_spark.sources.snapshot import snapshot_delta

    docs = T(spark, sf_dir, "documents")
    delta = snapshot_delta(documents_to_pages(docs), _snapshot_b(docs))
    return delta.groupBy(
        F.regexp_extract("url", r"^https://([^/]+)", 1).alias("host"), "status"
    ).agg(F.count(F.lit(1)).alias("n"))


@_q(
    "incremental_extract",
    """
WITH work AS (
  SELECT doc_id, source, text || ' rev2' AS text
  FROM documents WHERE doc_id % 11 != 3 AND doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, source, text || ' brand new page'
  FROM documents WHERE doc_id % 13 = 1
)
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  'heading for document ' || doc_id || chr(10)
    || trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
FROM work""",
    audit=[
        ("old side joins as slim hash dimension", r"xxhash64"),
        ("extraction kernel only after the delta filter", r"MapInArrow"),
    ],
)
def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-extraction: run the extraction kernel ONLY on
    pages whose payload is new or changed vs the previous snapshot —
    at 10^12 pages and few-percent crawl churn this is the difference
    between paying for the churn and paying for the corpus. The oracle
    is the expected extraction of exactly the changed+added rows, so a
    false 'unchanged' (missed work) or false 'changed' (wasted work
    would still extract correctly, but removed/unchanged rows appearing
    here) both fail the value hash."""
    from finetoo_sp_spark.sources.snapshot import changed_pages

    docs = T(spark, sf_dir, "documents")
    work = changed_pages(documents_to_pages(docs), _snapshot_b(docs))
    out = extract_pages(
        work, repartition_buckets=spark.sparkContext.defaultParallelism
    )
    return out.select("url", "text")


@_q(
    "curation_pipeline",
    f"""
WITH RECURSIVE pairs AS ({_CURATION_JACCARD}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT reach.u, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
cc AS (SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u),
w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws,
    length(text) AS n_chars, CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words
  FROM documents
),
features AS (
  SELECT doc_id, n_words,
    (n_words >= 10
     AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
     AND round(len(list_filter(ws, x -> list_contains({_STOP_LIST_SQL}, x))) / greatest(n_words, 1), 4) >= 0.01) AS keep_quality,
    CASE WHEN len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) > 0 THEN true ELSE false END AS _unused
  FROM w
)
SELECT f.doc_id, f.n_words
FROM features f
LEFT JOIN cc ON cc.doc_id = f.doc_id
WHERE f.keep_quality
  AND coalesce(cc.component, f.doc_id) = f.doc_id""",
    audit=[
        # NOTE: the jaccard/CC stages run behind a localCheckpoint (lineage
        # cut), so only the post-checkpoint plan is visible here; the
        # stop-shingle prune is audited on dedup_ngram_jaccard.
        ("keep-list semi-join", r"LeftSemi"),
    ],
)
def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone training-data curation chain, one lazy plan end to end:
    quality gate (Gopher/C4-style) -> near-dup clustering (n-gram
    Jaccard >= 0.5 over ALL docs, stop-shingle-pruned inverted index
    with max_df engaged -> connected components) -> keep cluster
    representatives. Returns the surviving (doc_id, n_words)."""
    from finetoo_sp_spark.operators.components import dedup_keep_list

    docs = T(spark, sf_dir, "documents")
    quality = ts.quality_scores(docs, "doc_id", "text").filter(F.col("keep"))
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, max_df=_CURATION_MAX_DF)
    keep = dedup_keep_list(pairs, docs.select(F.col("doc_id").alias("id")))
    return (
        quality.join(keep.filter(F.col("keep")), quality.id == keep.id, "left_semi")
        .select(F.col("id").alias("doc_id"), "n_words")
    )


@_q("pagerank_links", _rank_oracle("SELECT id FROM nodes", "rank_fp"))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-authority prior for corpus curation: 5 rounds of fixed-point
    PageRank over the REAL extracted LINKS_TO graph. Integer fixed-point
    (rank 1.0 = 1e9, integer div, integer sums) makes the whole
    iteration order-independent and hence exactly reproducible by the
    SQL oracle — float PageRank could never value-match across engines."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.pagerank import pagerank_fixed_point

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    edges = g.edges.filter(F.col("edge_type") == "LINKS_TO")
    pr = pagerank_fixed_point(edges)
    return pr.select(F.col("id").alias("url"), "rank_fp")


@_q(
    "warc_roundtrip",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
  sha256(text) AS payload_sha
FROM documents""",
)
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl container parity (sources/warc.py): real WARC
    archives (gzip-per-record members, HTTP response envelopes) are
    written from the driver table, read back through the binaryFile +
    Arrow-kernel parser, and every record's url / WARC-Date / payload
    sha must match the oracle's recomputation — the archive format
    itself is the thing under test."""
    import datetime as _dt

    from finetoo_sp_spark.sources.warc import make_warc, read_warc_pages

    def encode(pdf) -> bytes:
        recs = [
            (
                f"https://{r.source}.example.com/doc/{int(r.doc_id)}",
                _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=int(r.doc_id)),
                r.text.encode("utf-8"),
            )
            for r in pdf.itertuples()
        ]
        return make_warc(recs, gzip_members=True)

    docs = T(spark, sf_dir, "documents").selectExpr("doc_id", "source", "text", _FILE_ID)
    pages = read_warc_pages(spark, _stage(docs, "warc", ".warc.gz", encode))
    return pages.select("url", "warc_ts", F.sha2("html", 256).alias("payload_sha"))


@_q(
    "warc_revisit_resolve",
    """
WITH d AS (
  SELECT doc_id, text,
    'https://' || source || '.example.com/doc/' || doc_id AS url,
    TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts
  FROM documents
)
SELECT url, warc_ts, sha256(text) AS payload_sha,
  FALSE AS is_revisit, TRUE AS digest_ok
FROM d WHERE doc_id % 3 <> 2
UNION ALL
SELECT r.url, r.warc_ts, sha256(o.text) AS payload_sha,
  TRUE AS is_revisit, (r.doc_id % 9 <> 2) AS digest_ok
FROM d r JOIN d o ON o.doc_id = r.doc_id - 1
WHERE r.doc_id % 3 = 2 AND r.doc_id % 9 <> 8""",
    audit=[
        ("WARC parse (responses + revisits) is the Arrow kernel", r"MapInPandas"),
        (
            "revisit resolution is a hash equi-join on the pointer key",
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
        ),
    ],
)
def q_warc_revisit_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-time dedup via IIPC identical-payload-digest revisits
    (sources/warc.py make_warc_mixed / read_warc_resolved): every third
    capture is written as a revisit record carrying only (refers-to
    url, refers-to date, payload digest) — Common Crawl's way of not
    storing a repeat capture's bytes twice. The reader resolves each
    revisit to its original's payload by an equi-join on the pointer
    key and re-verifies the stored digest against the resolved bytes.
    Fault injection: doc_id%9==2 carries a corrupted digest (must
    surface digest_ok=false, not drop), doc_id%9==8 points at a
    capture outside the corpus (must drop). At crawl scale the join
    shuffles (url, ts, sha) pointer rows, never response payloads —
    responses pass through map-side."""
    import datetime as _dt
    import hashlib as _hl

    from finetoo_sp_spark.sources.warc import make_warc_mixed, read_warc_resolved

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    prev = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
        F.col("source").alias("prev_source"),
    )
    staged = docs.join(prev, "doc_id", "left").selectExpr("*", _FILE_ID)

    def encode(pdf) -> bytes:
        t0 = _dt.datetime(2024, 1, 1)
        recs = []
        for r in pdf.itertuples():
            i = int(r.doc_id)
            url = f"https://{r.source}.example.com/doc/{i}"
            ts = t0 + _dt.timedelta(seconds=i)
            if i % 3 != 2:
                recs.append(("response", url, ts, r.text.encode("utf-8")))
                continue
            # the original capture's url embeds ITS OWN source
            refers = f"https://{r.prev_source}.example.com/doc/{i - 1}"
            body = (r.prev_text or "").encode("utf-8")
            digest = _hl.sha256(body + (b"!" if i % 9 == 2 else b"")).hexdigest()
            if i % 9 == 8:
                refers = f"https://void.example.com/doc/{i}"
            recs.append(
                (
                    "revisit",
                    url,
                    ts,
                    refers,
                    t0 + _dt.timedelta(seconds=i - 1),
                    "sha256:" + digest,
                )
            )
        return make_warc_mixed(recs, gzip_members=True)

    pages = read_warc_resolved(spark, _stage(staged, "warc_revisit", ".warc.gz", encode))
    return pages.select(
        "url",
        "warc_ts",
        F.sha2("html", 256).alias("payload_sha"),
        "is_revisit",
        "digest_ok",
    )


@_q(
    "curation_lineage",
    f"""
WITH RECURSIVE pairs AS ({_CURATION_JACCARD}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT reach.u, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
cc AS (SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u),
w AS (
  SELECT doc_id, text, {{_ws}} AS ws,
    CAST(len({{_ws}}) AS INTEGER) AS n_words
  FROM documents
),
surv AS (
  SELECT w.doc_id FROM w LEFT JOIN cc ON cc.doc_id = w.doc_id
  WHERE (n_words >= 10
     AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
     AND round(len(list_filter(ws, x -> list_contains({{_stop}}, x))) / greatest(n_words, 1), 4) >= 0.01)
    AND coalesce(cc.component, w.doc_id) = w.doc_id
)
SELECT CAST({_SHA60_ID} % 16 AS INTEGER) AS bucket,
  count(*) AS output_count,
  bit_xor({_SHA60_ID}) AS content_checksum,
  'committed' AS status
FROM surv GROUP BY 1""".replace("{_ws}", _WORDS_SQL).replace("{_stop}", _STOP_LIST_SQL),
)
def q_curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resumable-curation manifest table itself under a value oracle
    (sources/curation.py, VERDICT r02 #9): run the two-phase
    checkpointed curation in hash_mode='sha' (DuckDB-reproducible bucket
    ids and xor-fold checksums), read the survivors manifests back; the
    oracle recomputes every bucket's count and checksum from the
    curation semantics alone — it never sees a manifest file."""
    import os as _os

    from finetoo_sp_spark.sources.curation import run_resumable_curation
    from finetoo_sp_spark.sources.lineage import read_manifests

    docs = T(spark, sf_dir, "documents")
    out_dir = _tmp_out("curation_lineage")
    run_resumable_curation(
        docs, out_dir, n_buckets=16, hash_mode="sha"
    )
    man = read_manifests(spark, _os.path.join(out_dir, "survivors"))
    return man.select("bucket", "output_count", "content_checksum", "status")


@_q(
    "curation_v2",
    _curation_v2_oracle(),
    audit=[
        ("dedup survivor filter is a semi-join", r"LeftSemi"),
        ("score joins back on the id key", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
)
def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #2 — the session-2 operators composed as one lazy plan:
    deterministic corruption (mojibake wrap / NBSP flood by doc_id%3) ->
    normalize_text repair chain -> hashed-linear classifier gate
    (keep score_fp >= 0) -> exact-dedup survivor corpus. Output is the
    surviving docs with repaired length + classifier score; the DuckDB
    twin composes the SAME generated chains, so repair bytes, scores
    and survivor choice all verify end to end. One equi-join of the
    per-id score aggregate back to the text, then the dedup semi-join —
    nothing quadratic, nothing driver-side."""
    from finetoo_sp_spark.operators.classifier import hashed_linear_scores
    from finetoo_sp_spark.operators.dedup import apply_exact_dedup
    from finetoo_sp_spark.operators.normalize import _mojibake, normalize_text

    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    corrupted = (
        F.when(
            m == 0,
            F.concat(
                F.lit(_mojibake(chr(0x201C))), F.col("text"), F.lit(_mojibake(chr(0x201D)))
            ),
        )
        .when(m == 1, F.replace(F.col("text"), F.lit(" "), F.lit(" ")))
        .otherwise(F.col("text"))
    )
    raw = d.select("doc_id", corrupted.alias("text"))
    rep = normalize_text(raw, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "text"
    )
    scores = hashed_linear_scores(rep, "doc_id", "text").filter("keep").select(
        F.col("id").alias("doc_id"), "score_fp"
    )
    kept = rep.join(scores, "doc_id")
    surv = apply_exact_dedup(kept, "doc_id", "text")
    return surv.select(
        F.col("doc_id").alias("id"), F.length("text").alias("n_chars"), "score_fp"
    )


@_q(
    "ascii_sanitize",
    f"""
SELECT doc_id,
  {_SANITIZE_SQL.format(x="substr(text, 1, 40) || 'é' || chr(9) || '|' || chr(10) || '|€ end'")} AS clean
FROM documents""",
)
def q_ascii_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 ASCII sanitize as a direct column op (reference:
    bom_exporter.cc:16-28: keep 0x20-0x7E, newline/tab -> space, drop the
    rest)."""
    from finetoo_sp_spark.operators.sinks import sanitize_ascii

    messy = F.concat(
        F.substring("text", 1, 40), F.lit("é\t|\n|€ end")
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id", sanitize_ascii(messy).alias("clean")
    )


@_q(
    "schema_discovery",
    """
SELECT * FROM (VALUES
  ('block', 'block_key',    'string', true,  true,  false, false),
  ('block', 'url',          'string', false, true,  false, false),
  ('block', 'tag',          'string', false, true,  false, false),
  ('block', 'text',         'string', false, true,  true,  false),
  ('block', 'n_words',      'int64',  false, true,  true,  true),
  ('block', 'n_chars',      'int64',  false, false, true,  true),
  ('block', 'link_density', 'double', false, false, true,  true),
  ('block', 'is_content',   'bool',   false, true,  false, false),
  ('block', 'content_hash', 'string', false, true,  true,  false),
  ('page', 'url',              'string', true,  true,  false, false),
  ('page', 'title',            'string', false, true,  true,  false),
  ('page', 'h1',               'string', false, true,  true,  false),
  ('page', 'lang_attr',        'string', false, true,  false, false),
  ('page', 'n_blocks',         'int64',  false, false, true,  true),
  ('page', 'n_content_blocks', 'int64',  false, false, true,  true),
  ('page', 'content_chars',    'int64',  false, false, true,  true),
  ('page', 'content_hash',     'string', false, true,  true,  false)
) AS t(node_type, property, dtype, is_unique, is_indexed, is_comparable, is_aggregable)""",
)
def q_schema_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-driven operator-discovery table AS DATA (reference:
    schema_analyzer.cc:103-184 capability finders + the discovery-thesis
    test, schema_analyzer_test.cc): the Spark side derives every row
    from the live registry object; the oracle hand-restates the expected
    capability matrix, so a silent registry regression fails the
    correctness gate, not just a pytest."""
    from finetoo_sp_spark.schema.registry import web_graph_schema

    s = web_graph_schema()
    rows = [
        (t, p.name, p.dtype, p.unique, p.indexed, p.comparable, p.aggregable)
        for t, nt in sorted(s.node_types.items())
        for p in nt.properties.values()
    ]
    return spark.createDataFrame(
        rows,
        "node_type string, property string, dtype string, is_unique boolean, "
        "is_indexed boolean, is_comparable boolean, is_aggregable boolean",
    )


def _curation_v3_oracle() -> str:
    from finetoo_sp_spark.contract.q_similarity import CCNET_ORACLE
    from finetoo_sp_spark.contract.q_textstats import GOPHER_ORACLE

    return f"""
WITH gopher AS ({GOPHER_ORACLE}),
ccnet AS ({CCNET_ORACLE}),
kept AS (
  SELECT d.doc_id, d.source, d.text, c.ppl_bucket
  FROM documents d
  JOIN gopher g ON g.id = d.doc_id AND g.keep
  JOIN ccnet c ON c.id = d.doc_id AND c.ppl_bucket <> 'tail'
),
surv AS (
  SELECT * FROM (
    SELECT kept.*, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
    FROM kept
  ) WHERE doc_id = keep_id
)
SELECT source,
  count(*) AS n_kept,
  CAST(sum(CASE WHEN ppl_bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
  CAST(sum(CASE WHEN ppl_bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
  CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM surv GROUP BY source"""


@_q(
    "curation_v3",
    _curation_v3_oracle(),
    audit=[
        ("dimension-sized gates broadcast", r"BroadcastHashJoin"),
        ("partial aggregation on source", r"HashAggregate"),
    ],
)
def q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #3 — the round-4 LM filter composed with the Gopher
    gate and exact dedup as one lazy plan: documents pass the Gopher
    quality rules AND land in the CCNet head/middle terciles (reference
    = src0), then exact dedup keeps the min-id survivor per content
    sha; output is the per-source kept-corpus report (doc counts by
    tercile + total chars). Both filters are broadcast-probe plans over
    one corpus scan each, the dedup is one uniform-sha shuffle, and the
    final agg groups on the tiny source dimension. The DuckDB twin
    composes the HAND-WRITTEN gopher + ccnet oracle texts — not
    generated code — so the composition verifies end to end."""
    from finetoo_sp_spark.operators.dedup import apply_exact_dedup
    from finetoo_sp_spark.operators.lmfilter import ccnet_lm_scores
    from finetoo_sp_spark.operators.textstats import gopher_rules

    d = T(spark, sf_dir, "documents")
    gate = (
        gopher_rules(d, "doc_id", "text")
        .filter("keep")
        .select(F.col("id").alias("doc_id"))
    )
    lm = (
        ccnet_lm_scores(d, "doc_id", "text", F.col("source") == "src0")
        .filter(F.col("ppl_bucket") != "tail")
        .select(F.col("id").alias("doc_id"), "ppl_bucket")
    )
    kept = d.select("doc_id", "source", "text").join(gate, "doc_id").join(lm, "doc_id")
    surv = apply_exact_dedup(kept, "doc_id", "text")
    return surv.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.when(F.col("ppl_bucket") == "head", 1).otherwise(0)).alias("n_head"),
        F.sum(F.when(F.col("ppl_bucket") == "middle", 1).otherwise(0)).alias("n_middle"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@_q(
    "wet_roundtrip",
    """
SELECT 'https://' || source || '.example/' || doc_id AS url,
  TIMESTAMP '2026-01-01 00:00:00' AS warc_ts,
  text
FROM documents""",
)
def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export/ingest round trip (the Common Crawl extracted-text
    interchange format): documents written as WARC/1.0 conversion
    records (operators/sinks.write_wet — one JVM concat per record, one
    .wet file per partition, no driver collection), read back through
    the binaryFile + Arrow parse path (sources/warc.read_wet_text).
    Content-Length binds each body, so multi-line text and embedded
    'WARC/' decoys survive byte-exactly; the oracle restates the
    expected rows from documents directly."""
    from finetoo_sp_spark.operators.sinks import write_wet
    from finetoo_sp_spark.sources.warc import read_wet_text

    d = T(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/"), F.col("doc_id")
        ).alias("url"),
        "text",
    )
    path = _tmp_out("wet_roundtrip")
    write_wet(d, path)
    return read_wet_text(spark, path)  # the listing skips _SUCCESS and .crc


@_q(
    "table_time_travel",
    """
WITH v0 AS (SELECT doc_id FROM documents WHERE doc_id < 300),
v1 AS (SELECT doc_id FROM documents),
v2 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
SELECT 0 AS version, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM v0
UNION ALL SELECT 1, count(*), CAST(sum(doc_id) AS BIGINT) FROM v1
UNION ALL SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT) FROM v2
UNION ALL SELECT 3, count(*), CAST(sum(doc_id) AS BIGINT) FROM v1""",
)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log versioned table (sources/table.py — the Iceberg
    commit discipline on plain parquet): v0 = initial commit
    (doc_id<300), v1 = APPEND of the rest (parent files REUSED, only
    the delta written), v2 = OVERWRITE with the even half, v3 =
    ROLLBACK to v1 (a new manifest, history immutable). Every
    historical version is then snapshot-read back and summarized; the
    oracle recomputes each version's row count and exact id sum from
    the commit semantics alone — it never sees a manifest."""
    from finetoo_sp_spark.sources.table import (
        commit_version,
        read_version,
        rollback,
    )

    d = T(spark, sf_dir, "documents").select("doc_id")
    path = _tmp_out("table_tt")
    commit_version(d.filter(F.col("doc_id") < 300), path, mode="overwrite")
    commit_version(d.filter(F.col("doc_id") >= 300), path, mode="append")
    commit_version(d.filter(F.col("doc_id") % 2 == 0), path, mode="overwrite")
    rollback(spark, path, 1)
    out = None
    for v in (0, 1, 2, 3):
        s = read_version(spark, path, v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("id_sum"),
        )
        out = s if out is None else out.unionByName(s)
    return out


@_q(
    "table_schema_evolution",
    """
WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
v0 AS (SELECT doc_id, n FROM d WHERE doc_id < 300),
latest AS (
  SELECT doc_id, n AS n_chars, NULL AS flag FROM v0
  UNION ALL
  SELECT doc_id, n, doc_id % 3 FROM d WHERE doc_id >= 300
)
SELECT 0 AS version, count(*) AS n_rows,
       CAST(sum(n) AS BIGINT) AS chars_sum,
       CAST(-1 AS BIGINT) AS flag_sum,
       CAST(-1 AS BIGINT) AS null_flags
FROM v0
UNION ALL
SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT),
       CAST(coalesce(sum(flag), 0) AS BIGINT),
       CAST(sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM latest""",
    audit=[
        ("no join: projection is per-file select, not a data join", r"!Join"),
        ("whole-stage codegen aggregation", r"codegen id : "),
    ],
)
def q_table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style schema evolution on the versioned table
    (sources/table.evolve_schema): v0 commits (doc_id, n), v1 is a
    METADATA-ONLY evolution renaming n -> n_chars and adding a flag
    column (no data file touched), v2 appends rows under the new
    shape. Reading the latest version must map v0's files through
    their write-time schema BY FIELD ID — renamed columns keep their
    data, the added column reads as NULL from pre-evolution files —
    while v0 itself still time-travels under its original schema. The
    oracle recomputes both states from the evolution semantics alone;
    at 10^12 rows this is the only affordable way to change a table's
    shape (O(manifest), never O(data))."""
    from finetoo_sp_spark.sources.table import (
        commit_version,
        evolve_schema,
        read_version,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    path = _tmp_out("table_evolve")
    commit_version(d.filter(F.col("doc_id") < 300), path, mode="overwrite")
    evolve_schema(path, rename={"n": "n_chars"}, add=[("flag", "bigint")])
    commit_version(
        d.filter(F.col("doc_id") >= 300).select(
            "doc_id",
            F.col("n").alias("n_chars"),
            (F.col("doc_id") % 3).alias("flag"),
        ),
        path,
    )
    v0 = read_version(spark, path, 0).agg(
        F.lit(0).alias("version"),
        F.count("*").alias("n_rows"),
        F.sum("n").alias("chars_sum"),
        F.lit(-1).cast("long").alias("flag_sum"),
        F.lit(-1).cast("long").alias("null_flags"),
    )
    latest = read_version(spark, path).agg(
        F.lit(2).alias("version"),
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("chars_sum"),
        F.coalesce(F.sum("flag"), F.lit(0)).alias("flag_sum"),
        F.sum(F.when(F.col("flag").isNull(), 1).otherwise(0)).alias(
            "null_flags"
        ),
    )
    return v0.unionByName(latest)


@_q(
    "table_upsert_mor",
    """
WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
v0 AS (SELECT doc_id, n FROM d),
v1 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN -1 ELSE n END AS n FROM d),
v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN -2 WHEN doc_id % 5 = 0 THEN -1 ELSE n END AS n
  FROM d
  UNION ALL SELECT doc_id + 100000, -3 FROM d WHERE doc_id < 10
)
SELECT 0 AS version, count(*) AS n_rows, CAST(sum(n) AS BIGINT) AS n_sum FROM v0
UNION ALL SELECT 1, count(*), CAST(sum(n) AS BIGINT) FROM v1
UNION ALL SELECT 2, count(*), CAST(sum(n) AS BIGINT) FROM v2""",
    audit=[
        ("equality deletes apply as anti hash join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*LeftAnti|LeftAnti"),
    ],
)
def q_table_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read upserts (Iceberg equality-delete model,
    sources/table.upsert_version): v0 = full corpus, v1 = upsert every
    5th key (no parent rewrite — the commit is the delta + an
    equality-delete file), v2 = upsert every 7th key PLUS brand-new
    keys. Each historical version snapshot-reads through the delete
    chain; the oracle recomputes all three states from the upsert
    semantics alone. New data wins per key, untouched rows pass
    through, inserts appear once."""
    from finetoo_sp_spark.sources.table import (
        commit_version,
        read_version,
        upsert_version,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    path = _tmp_out("table_mor")
    commit_version(d, path, mode="overwrite")
    upsert_version(
        d.filter(F.col("doc_id") % 5 == 0).select("doc_id", F.lit(-1).alias("n")),
        path,
        "doc_id",
    )
    v2_rows = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.lit(-2).alias("n"))
        .unionByName(
            d.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 100000).alias("doc_id"), F.lit(-3).alias("n")
            )
        )
    )
    upsert_version(v2_rows, path, "doc_id")
    out = None
    for v in (0, 1, 2):
        s = read_version(spark, path, v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum("n").alias("n_sum"),
        )
        out = s if out is None else out.unionByName(s)
    return out


@_q(
    "snapshot_drift",
    """
WITH newd AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id + 1000000, source, text || ' brand new page'
  FROM documents WHERE doc_id % 13 = 1
),
a AS (
  SELECT source AS grp, count(*) AS n_old,
    CAST(sum(length(text)) AS BIGINT) AS chars_old
  FROM documents GROUP BY 1
),
b AS (
  SELECT source AS grp, count(*) AS n_new,
    CAST(sum(length(text)) AS BIGINT) AS chars_new
  FROM newd GROUP BY 1
)
SELECT coalesce(a.grp, b.grp) AS source,
  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
  coalesce(chars_old, 0) AS chars_old, coalesce(chars_new, 0) AS chars_new,
  CASE WHEN coalesce(n_old, 0) = 0 THEN NULL
       ELSE ((coalesce(n_new, 0) - n_old) * 1000000) // n_old END AS docs_delta_ppm,
  CASE WHEN coalesce(chars_old, 0) = 0 THEN NULL
       ELSE ((coalesce(chars_new, 0) - chars_old) * 1000000) // chars_old END
    AS chars_delta_ppm
FROM a FULL OUTER JOIN b ON a.grp = b.grp""",
)
def q_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source drift report between two crawl snapshots (the
    monitoring twin of snapshot_churn's row-level delta): snapshot B is
    the standard synthetic evolution (every 11th doc dropped, every 7th
    edited, every 13th spawning a new page). Counts, exact char totals,
    integer-ppm deltas; one tiny-dimension agg per side + a
    dimension-sized full-outer join."""
    from finetoo_sp_spark.operators.report import snapshot_drift

    d = T(spark, sf_dir, "documents")
    kept = d.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))).otherwise(
            F.col("text")
        ),
    )
    added = (
        d.filter(F.col("doc_id") % 13 == 1)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat("text", F.lit(" brand new page")))
    )
    return snapshot_drift(d, kept.unionByName(added))


@_q(
    "rrf_quality_fusion",
    f"""
WITH c AS (
  SELECT doc_id, n_chars,
    {_SHA60_ID} % 1000 AS s_cls,
    doc_id % 251 AS s_bal
  FROM documents WHERE doc_id % 3 = 0
), r AS (
  SELECT doc_id,
    rank() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank_length,
    rank() OVER (ORDER BY s_cls DESC, doc_id ASC) AS rank_classifier,
    rank() OVER (ORDER BY s_bal DESC, doc_id ASC) AS rank_balance
  FROM c
)
SELECT doc_id AS id, rank_length, rank_classifier, rank_balance,
  CAST(1000000000 // (60 + rank_length)
     + 1000000000 // (60 + rank_classifier)
     + 1000000000 // (60 + rank_balance) AS BIGINT) AS rrf_fp
FROM r""",
    audit=[
        ("per-signal rank windows", r"Window"),
    ],
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of three
    incomparable quality signals over a post-gate candidate set — rank
    fusion needs no calibration, and the integer fixed-point
    1e9 div (60 + rank) sum with id tiebreaks is exactly portable.
    Signals: content length, a sha-derived pseudo-classifier score,
    and a modular balance score (deliberately discordant rankings)."""
    from finetoo_sp_spark.operators.dedup import sha60
    from finetoo_sp_spark.operators.fusion import rrf_fuse

    cand = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.col("n_chars").alias("s_len"),
            (F.pmod(sha60(F.col("doc_id").cast("string")), F.lit(1000))).alias("s_cls"),
            (F.col("doc_id") % 251).alias("s_bal"),
        )
    )
    return rrf_fuse(
        cand,
        "doc_id",
        {"length": "s_len", "classifier": "s_cls", "balance": "s_bal"},
    ).withColumnRenamed("id", "id")


@_q(
    "wat_roundtrip",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  'document ' || doc_id || ' from ' || source AS title,
  CAST(8 AS BIGINT) AS n_links
FROM documents""",
    audit=[
        ("metadata parse is the Arrow binaryFile kernel", r"MapInPandas"),
    ],
)
def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT export/ingest round trip — the Common Crawl METADATA
    interchange format completing the container trio beside
    warc_roundtrip (raw) and wet_roundtrip (text): per page, the JSON
    envelope carries the REAL extracted title and resolved link list
    (operators/sinks.write_wat: one to_json + one concat per record,
    one .wat file per partition), read back through binaryFile +
    parse_warc(metadata) and lifted with JVM get_json_object /
    json_array_length. The oracle restates title and link count from
    the template rule."""
    from finetoo_sp_spark.extraction.graph import extract_link_pairs
    from finetoo_sp_spark.operators.sinks import write_wat
    from finetoo_sp_spark.sources.warc import read_wat_meta

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    titles = extract_pages(pages).select("url", "title")
    links = extract_link_pairs(pages).groupBy("url").agg(
        F.sort_array(F.collect_list("target")).alias("links")
    )
    path = _tmp_out("wat_roundtrip")
    write_wat(titles.join(links, "url"), path)
    back = read_wat_meta(spark, path)
    meta = "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']['HTML-Metadata']"
    return back.select(
        "url",
        F.get_json_object("wat_json", meta + "['Head']['Title']").alias("title"),
        F.json_array_length(
            F.get_json_object("wat_json", meta + "['Links']")
        ).cast("long").alias("n_links"),
    )


@_q(
    "table_pruned_scan",
    """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id BETWEEN 100 AND 180""",
    audit=[
        ("range filter pushed into the parquet scan", r"PushedFilters: \[IsNotNull\(doc_id\), GreaterThanOrEqual\(doc_id,100\), LessThanOrEqual\(doc_id,180\)"),
        ("file-granular pruning left ONE file to scan", r"InMemoryFileIndex \[[^\]]*1 entries"),
        ("NO shuffle: metadata planning + narrow scan", r"!Exchange"),
    ],
)
def q_table_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest data-skipping (Iceberg scan planning): commits record
    per-file [min, max] footer bounds for doc_id in the manifest
    (stats_cols), and the pruned read opens ONLY files overlapping
    [100, 180] — the range lives in the first of two range-partitioned
    commits, so at least the second commit's files all skip (asserted:
    files_skipped >= files of one commit). The oracle recomputes the
    surviving rows relationally; file-level skip counts are pinned by
    tests/test_tables.py hand fixtures. At 10^12 rows this planning
    step is the difference between a corpus scan and a range read."""
    from finetoo_sp_spark.sources.table import commit_version, read_version_pruned

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = _tmp_out("table_prune")
    commit_version(
        d.filter(F.col("doc_id") < 250).repartitionByRange(4, "doc_id"),
        path, mode="overwrite", stats_cols=["doc_id"],
    )
    commit_version(
        d.filter(F.col("doc_id") >= 250).repartitionByRange(4, "doc_id"),
        path, mode="append", stats_cols=["doc_id"],
    )
    df, report = read_version_pruned(spark, path, "doc_id", 100, 180)
    assert report["files_skipped"] >= 4, report  # all of commit 2 skips
    return df.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
