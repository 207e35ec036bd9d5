"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 (and the training-data-pipeline
extensions: dedup, similarity, text analysis, events, multimodal,
extraction) gets a named query over the driver's parquet tables plus —
wherever the semantics are SQL-expressible — an equivalent DuckDB oracle
string. Column names AND types are aligned pairwise (computed ints are
BIGINT on both sides; floats are rounded at the boundary to absorb
summation-order ulps between engines).

The flagship (``entry``) is the end-to-end extraction pipeline: the
driver documents are wrapped in a deterministic HTML template
(extraction/docpages.py) whose correct extraction is computable in plain
SQL — so the oracle check IS the byte-identical-text-per-url invariant
from BASELINE.json.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from finetoo_sp_spark.extraction.docpages import documents_to_pages
from finetoo_sp_spark.extraction.extract import extract_pages
from finetoo_sp_spark.operators import dedup as dd
from finetoo_sp_spark.operators import similarity as sim
from finetoo_sp_spark.operators import textstats as ts
from finetoo_sp_spark.operators import windows as ev
from finetoo_sp_spark.operators.pagerank import DAMP_NUM as RANK_DAMP_NUM
from finetoo_sp_spark.operators.pagerank import ROUNDS as RANK_ROUNDS
from finetoo_sp_spark.operators.pagerank import SCALE as RANK_SCALE
from finetoo_sp_spark.operators.primitives import (
    PropertyGraphFrames,
    op_aggregate,
    op_compare,
    op_filter,
    op_group_by,
    op_join,
    op_match,
    op_project,
    op_traverse,
)
from finetoo_sp_spark.schema.registry import PropertyMeta, Schema
from finetoo_sp_spark.sources.curation import MAX_DF as _CURATION_MAX_DF

# ---------------------------------------------------------------- helpers


# table path -> its parquet schema, inferred once per process: inference
# is a Spark job, and builders call T() for the same tables again and again
_SCHEMAS: dict[str, StructType] = {}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if path not in _SCHEMAS:
        _SCHEMAS[path] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMAS[path]).parquet(path)


def tpch_schema() -> Schema:
    """Schema registry over the driver's TPC-H-ish tables — the analogue
    of the reference's hand-declared CreateDXFSchema (schema-driven
    operator discovery gates every primitive below)."""
    s = Schema("tpch")
    s.add_node_type(
        "customer",
        [
            PropertyMeta("c_custkey", "int64", unique=True, indexed=True, comparable=True),
            PropertyMeta("c_name", "string", indexed=True),
            PropertyMeta("c_nationkey", "int64", indexed=True),
            PropertyMeta("c_acctbal", "double", indexed=True, comparable=True, aggregable=True),
            PropertyMeta("c_mktsegment", "string", indexed=True),
        ],
    )
    s.add_node_type(
        "orders",
        [
            PropertyMeta("o_orderkey", "int64", unique=True, indexed=True),
            PropertyMeta("o_custkey", "int64", indexed=True),
            PropertyMeta("o_orderstatus", "string", indexed=True),
            PropertyMeta("o_totalprice", "double", indexed=True, comparable=True, aggregable=True),
            PropertyMeta("o_orderpriority", "string", indexed=True),
        ],
    )
    s.add_node_type(
        "part",
        [
            PropertyMeta("p_partkey", "int64", unique=True, indexed=True),
            PropertyMeta("p_name", "string", indexed=True),
            PropertyMeta("p_brand", "string", indexed=True),
            PropertyMeta("p_type", "string", indexed=True),
            PropertyMeta("p_size", "int64", indexed=True, comparable=True, aggregable=True),
            PropertyMeta("p_retailprice", "double", comparable=True, aggregable=True),
        ],
    )
    s.add_node_type(
        "lineitem",
        [
            PropertyMeta("l_orderkey", "int64", indexed=True),
            PropertyMeta("l_quantity", "double", indexed=True, comparable=True, aggregable=True),
            PropertyMeta("l_returnflag", "string", indexed=True),
        ],
    )
    s.add_edge_type("PLACED", "customer", "orders")
    return s


def tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraphFrames:
    """The driver tables mounted as a property graph (nodes_by_type model,
    SURVEY §1.1): per-type node frames + the PLACED edge frame."""
    cust = T(spark, sf_dir, "customer").withColumn("node_id", F.col("c_custkey"))
    orders = T(spark, sf_dir, "orders").withColumn("node_id", F.col("o_orderkey"))
    part = T(spark, sf_dir, "part").withColumn("node_id", F.col("p_partkey"))
    li = T(spark, sf_dir, "lineitem").withColumn(
        "node_id", F.concat_ws("-", "l_orderkey", "l_linenumber")
    )
    edges = T(spark, sf_dir, "orders").select(
        F.lit("PLACED").alias("edge_type"),
        F.col("o_custkey").alias("src"),
        F.col("o_orderkey").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    return PropertyGraphFrames(
        schema=tpch_schema(),
        nodes={"customer": cust, "orders": orders, "part": part, "lineitem": li},
        edges=edges,
    )


_CUSTOMER_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
_ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

_WORDS_SQL = "regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
_STOP_ALL = sorted({w for ws in ts.STOPWORDS.values() for w in ws})


def _docpages_expected_sql(cols: str) -> str:
    """Oracle-side recomputation of the correct extraction for the
    documents_to_pages template (docpages.py)."""
    return f"""
WITH exp AS (
  SELECT
    'https://' || source || '.example.com/doc/' || doc_id AS url,
    'heading for document ' || doc_id || chr(10)
      || trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text,
    'document ' || doc_id || ' from ' || source AS title,
    'heading for document ' || doc_id AS h1,
    lang AS lang_attr,
    doc_id
  FROM documents
)
SELECT {cols} FROM exp"""


# ---------------------------------------------------------------- queries

_REGISTRY: list[tuple[str, Callable[[SparkSession, str], DataFrame], str]] = []
# query -> its own physical-plan checks, (description, regex) pairs that
# tools/audit_plans.py evaluates on the AQE-off formatted explain; a
# leading "!" means the regex must be absent.
_AUDIT: dict[str, list[tuple[str, str]]] = {}


def _q(name: str, oracle: str, audit: Sequence[tuple[str, str]] = ()):
    def deco(fn):
        _REGISTRY.append((name, fn, oracle))
        _AUDIT[name] = list(audit)
        return fn

    return deco


# --- flagship extraction -------------------------------------------------

_EXTRACT_ORACLE = _docpages_expected_sql("url, text, title, h1, doc_id")


def _extracted_blocks_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finetoo_sp_spark.extraction.graph import extract_blocks

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    return (
        extract_blocks(pages)
        .withColumn("name", F.concat_ws("#", "tag", "block_id"))
        .withColumn("content_hash", F.sha2("text", 256))
    )


def _shingle_ctes(where: str, src: str = "documents") -> str:
    """Shared DuckDB CTEs: distinct 3-word shingles per doc (twin of
    dd.shingles)."""
    return f"""w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM {src} WHERE {where}
), sh AS (
  SELECT DISTINCT doc_id,
    array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ') AS shingle
  FROM w, UNNEST(generate_series(0, greatest(len(ws) - 3, 0))) AS t(i)
  WHERE length(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 3 AS BIGINT)], ' ')) > 0
)"""


def _jaccard_sql(where: str, threshold: float, max_df: int | None = None) -> str:
    """Oracle twin of dd.ngram_jaccard_pairs (3-word shingles): shingle inverted-index
    self-join; with ``max_df``, the same stop-shingle pruning (index
    pruned, union sizes from the UNPRUNED sets — matching the Spark
    implementation exactly)."""
    prune = ""
    idx = "sh"
    if max_df is not None:
        prune = f""", idx AS (
  SELECT * FROM sh WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {max_df})
)"""
        idx = "idx"
    return f"""
WITH {_shingle_ctes(where)}{prune}, sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM {idx} a JOIN {idx} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}"""


_JACCARD_ORACLE = _jaccard_sql("doc_id < 300", 0.05)


# DuckDB twin of dd.sha60 — the portable base hash for verifiable mode.
_H60 = "CAST('0x' || substr(sha256({x}), 1, 15) AS BIGINT)"


def _minhash_oracle(
    where: str,
    k: int,
    bands: int,
    threshold: float,
    src: str = "documents",
    prelude: str = "",
) -> str:
    """Full-value oracle for minhash_lsh_pairs(hash_mode='sha'):
    identical permutations (minhash_params), banding, candidate join and
    exact-Jaccard verification, recomputed in plain SQL."""
    from finetoo_sp_spark.operators.dedup import _MERSENNE, minhash_params

    r = k // bands
    mins = ",\n    ".join(
        f"min(({a} * h + {b}) % {_MERSENNE}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || ',' || ".join(f"CAST(m{bi * r + j} AS VARCHAR)" for j in range(r))
        + " AS bucket FROM sig"
        for bi in range(bands)
    )
    return f"""
WITH {prelude}{_shingle_ctes(where, src)},
hh AS (SELECT doc_id, {_H60.format(x='shingle')} % {_MERSENNE} AS h FROM sh),
sig AS (SELECT doc_id,
    {mins}
  FROM hh GROUP BY doc_id),
banded AS ({band_selects}),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.id_a, c.id_b,
  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}"""


def _simhash_oracle(max_hamming: int, src: str = "documents", prelude: str = "") -> str:
    """Full-value oracle for simhash_pairs(hash_mode='sha'): 60-bit
    fingerprint from per-bit +-1 sums, pigeonhole banding, xor/bit_count
    verify — all recomputed in SQL."""
    nbits = 60
    nb = max_hamming + 1
    width = nbits // nb
    sums = ",\n    ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(nbits)
    )
    fp_expr = "\n    + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(nbits)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, (fp >> {bi * width}) & {(1 << width) - 1} AS bits FROM fps"
        for bi in range(nb)
    )
    return f"""
WITH {prelude}w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM {src}),
wd AS (SELECT doc_id, u.w AS w FROM w, UNNEST(ws) AS u(w) WHERE length(u.w) > 0),
hh AS (SELECT doc_id, {_H60.format(x='w')} AS h FROM wd),
s AS (SELECT doc_id,
    {sums}
  FROM hh GROUP BY doc_id),
fps AS (SELECT doc_id, {fp_expr} AS fp FROM s),
banded AS ({band_selects}),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
SELECT c.id_a, c.id_b, bit_count(xor(fa.fp, fb.fp)) AS hamming
FROM cand c
JOIN fps fa ON fa.doc_id = c.id_a
JOIN fps fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= {max_hamming}"""


# Incremental (new-crawl-vs-existing-corpus) near-dup corpus: the new
# batch is 20 edited copies of old docs (guaranteed cross hits) plus 50
# fresh docs, id-offset so cross pairs are exactly {id_a < 100000 <=
# id_b} in the combined self-join oracle.
_INCR_CORPUS_SQL = """newdocs AS (
  SELECT 100000 + doc_id AS doc_id, text || ' update' AS text
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 100000 + doc_id AS doc_id, text
  FROM documents WHERE doc_id >= 150 AND doc_id < 200
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL SELECT doc_id, text FROM newdocs
),
"""


# Template-heavy corpus for exercising the hot-bucket salting branch
# UNDER the value oracle: 60 injected copies of doc 0's text (three
# near-identical ' v0/v1/v2' variants of 20 exact copies each) flood
# every LSH band bucket far past bucket_cap=16, so the registered plan
# executes the triangular-cell split (_bucket_self_pairs hot branch) —
# and the oracle, which knows nothing about salting, proves the split
# is output-identical to the logical uncapped self-join.
_TEMPLATE_CORPUS_SQL = """tmpl AS (SELECT text FROM documents WHERE doc_id = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT 100000 + i, t.text || ' v' || CAST(i % 3 AS VARCHAR)
  FROM tmpl t, UNNEST(generate_series(0, 59)) AS g(i)
),
"""


def _template_heavy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    tmpl = docs.filter(F.col("doc_id") == 0).select(F.col("text").alias("_t"))
    copies = (
        spark.range(60)
        .crossJoin(F.broadcast(tmpl))  # broadcast-scalar: one template row
        .select(
            (F.lit(100000) + F.col("id")).alias("doc_id"),
            F.concat("_t", F.lit(" v"), (F.col("id") % 3).cast("string")).alias("text"),
        )
    )
    return base.unionByName(copies)


_COSINE_SQL = """
round(
  list_sum(list_transform(range(1, 65),
    i -> (a.embedding[i] / sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x))))
       * (b.embedding[i] / sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x))))
  )), 6)"""

_BUCKET_SQL = (
    "array_to_string(list_transform({side}.embedding[1:8], "
    "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
)


_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _STOP_ALL) + "]"


_LANG_COUNTS_SQL = ", ".join(
    f"CAST(len(list_filter(ws, x -> list_contains([{', '.join(repr(w) for w in ws_)}], x))) AS INTEGER) AS c_{lang}"
    for lang, ws_ in sorted(ts.STOPWORDS.items())
)


_SLICE_BUCKET_SQL = (
    "array_to_string(list_transform({side}.embedding[{lo}:{hi}], "
    "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
)


def _multiprobe_oracle(k: int, n_bits: int, n_tables: int) -> str:
    cond = " OR ".join(
        f"{_SLICE_BUCKET_SQL.format(side='q', lo=t * n_bits + 1, hi=(t + 1) * n_bits)}"
        f" = {_SLICE_BUCKET_SQL.format(side='c', lo=t * n_bits + 1, hi=(t + 1) * n_bits)}"
        for t in range(n_tables)
    )
    cos = _COSINE_SQL.replace("a.embedding", "q.embedding").replace(
        "b.embedding", "c.embedding"
    )
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 5 AND c.vec_id != q.vec_id AND ({cond})
)
SELECT query_id, neighbor_id, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}"""


def _recall_curve_oracle(k: int, n_bits: int, n_tables_list: tuple[int, ...], n_q: int) -> str:
    """Oracle twin of sim.ann_recall_curve: exact top-k truth, per-table
    multiprobe ANN top-k, hits-join recall — all recomputed in SQL."""
    cos = _COSINE_SQL.replace("a.embedding", "q.embedding").replace(
        "b.embedding", "c.embedding"
    )
    ann_ctes = []
    for t in n_tables_list:
        cond = " OR ".join(
            f"{_SLICE_BUCKET_SQL.format(side='q', lo=i * n_bits + 1, hi=(i + 1) * n_bits)}"
            f" = {_SLICE_BUCKET_SQL.format(side='c', lo=i * n_bits + 1, hi=(i + 1) * n_bits)}"
            for i in range(t)
        )
        ann_ctes.append(
            f"""ann{t} AS (
  SELECT {t} AS n_tables, query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
    FROM embeddings q JOIN embeddings c
      ON q.vec_id < {n_q} AND c.vec_id != q.vec_id AND ({cond})
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= {k}
)"""
        )
    union = "\nUNION ALL ".join(f"SELECT * FROM ann{t}" for t in n_tables_list)
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id < {n_q} AND c.vec_id != q.vec_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= {k}
),
{",".join(ann_ctes)},
ann AS ({union}),
hits AS (
  SELECT n_tables, count(*) AS n_hit
  FROM ann JOIN truth USING (query_id, neighbor_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_truth FROM truth)
SELECT n_tables, round(n_hit / n_truth, 6) AS recall FROM hits, tot"""


_REP_WORDS_SQL = _WORDS_SQL.replace("lower(text)", "lower(rtext)")


def _ngram_cte(alias: str, source: str, words_expr: str, n: int) -> str:
    return f"""{alias} AS (
  SELECT DISTINCT id,
    array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + {n} AS BIGINT)], ' ') AS shingle
  FROM (SELECT {source}, {words_expr} AS ws FROM documents {{where}}) src,
    UNNEST(generate_series(0, greatest(len(ws) - {n}, 0))) AS t(i)
  WHERE length(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + {n} AS BIGINT)], ' ')) > 0
)"""


_BENCH_WORDS_SQL = _WORDS_SQL.replace("lower(text)", "lower(substr(text, 1, 200))")


# --- multimodal plumbing ---------------------------------------------------


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary 'assets' derived from documents: payload =
    utf-8 bytes of the text, modality assigned round-robin. Only the
    metadata query (multimodal.asset_metadata) reads them; no codec
    decodes these payloads."""
    return T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
    )


# --- sinks / lineage / PDF / reference-parity operators -------------------
# (the SURVEY §2 rows that were fixture-only in round 1: A6-A10, C4, D5,
#  D7, E2, F2, F9 — each now has a queries() entry + DuckDB oracle.)

_SANITIZE_SQL = (
    "regexp_replace(regexp_replace({x}, '[\\n\\t\\r]', ' ', 'g'), "
    "'[^\\x20-\\x7E]', '', 'g')"
)


_ROOT: list[str] = []  # this process's staging root, made on first use
_SEQ = itertools.count()


def _tmp_out(name: str) -> str:
    """A fresh, not-yet-existing path for a query's build-time files,
    under one root this process creates once and removes at exit — so
    two harnesses, or two builds in one process, never share a path."""
    if not _ROOT:
        _ROOT.append(tempfile.mkdtemp(prefix="finetoo_q_"))
        atexit.register(shutil.rmtree, _ROOT[0], True)
    return os.path.join(_ROOT[0], f"{name}-{next(_SEQ)}")


# the usual fixture-archive membership for _stage: four files by doc_id
_FILE_ID = "CAST(doc_id % 4 AS INT) AS file_id"


def _stage(df: DataFrame, name: str, suffix: str, encode: Callable) -> str:
    """Write one fixture file per ``file_id`` group of ``df`` — the bytes
    ``encode(pdf)`` returns for that group's rows in doc_id order — to
    ``part-<file_id><suffix>`` in a fresh _tmp_out directory; one small
    action drives the write. Returns the directory."""
    import pandas as pd  # noqa: PLC0415

    out = _tmp_out(name)
    os.makedirs(out)

    def write(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        with open(os.path.join(out, f"part-{int(pdf['file_id'].iloc[0])}{suffix}"), "wb") as f:
            f.write(encode(pdf))
        return pd.DataFrame({"n": [len(pdf)]})

    df.groupBy("file_id").applyInPandas(write, "n long").collect()
    return out


def _blocks_cte(where: str = "doc_id >= 0") -> str:
    """DuckDB CTE reproducing the docpages template's fixed 10-block
    decomposition (empirically pinned by tests/test_extract_spark.py and
    the extract_block_stats oracle): (url, block_id, tag, btext) rows."""
    rows = [
        (3, "title", "'document ' || doc_id || ' from ' || source"),
        (9, "li", "'home'"),
        (11, "li", "source"),
        (13, "li", "'related'"),
        (15, "li", "'more'"),
        (17, "li", "'about'"),
        (22, "h1", "'heading for document ' || doc_id"),
        (24, "p", "trim(regexp_replace(text, '\\s+', ' ', 'g'))"),
        (26, "p", "'short teaser here'"),
        (30, "p", "'terms contact author ' || doc_id"),
    ]
    selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, 'https://' || source || '.example.com/doc/' || doc_id AS url, "
        f"CAST({bid} AS BIGINT) AS block_id, '{tag}' AS tag, {expr} AS btext "
        f"FROM documents WHERE {where}"
        for bid, tag, expr in rows
    )
    return f"blocks AS (\n  {selects}\n)"


# --- crawl-snapshot delta -----------------------------------------------
# Snapshot B is derived from the documents table by fixed congruence
# rules, so every status is recomputable in SQL: doc_id % 11 == 3 ->
# removed, else doc_id % 7 == 0 -> changed (text || ' rev2'),
# doc_id % 13 == 1 -> ALSO re-added under doc_id + 1000000 as a brand
# new url; everything else unchanged.


def _snapshot_b(docs: DataFrame) -> DataFrame:
    kept = docs.filter(F.col("doc_id") % 11 != 3)
    edited = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    added = (
        docs.filter(F.col("doc_id") % 13 == 1)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat("text", F.lit(" brand new page")))
    )
    return documents_to_pages(edited.unionByName(added))


# --- capstone: end-to-end curation pipeline -------------------------------

# stop-shingle pruning ON: a shingle in more than curation.MAX_DF (100)
# of the 500 sf0.01 docs is dropped, as run_resumable_curation does.
_CURATION_JACCARD = _jaccard_sql("doc_id >= 0", 0.5, max_df=_CURATION_MAX_DF)


def _rank_oracle(seeds: str, rank_col: str) -> str:
    """Unrolled fixed-point PageRank twin, seed-biased as TrustRank
    (recursive CTEs can't hold the per-round aggregation, so the rounds
    unroll as chained CTEs). ``seeds`` selects the seed ``id``s; PageRank
    seeds every node. The edge rule is the docpages parent-link rule, as
    in the traverse oracle. Round 0 is base * 100 // (100 - damp) per
    seed (SCALE when every node is seeded); each round is base + damp% of
    the propagated rank. Integer fixed-point makes every round exactly
    portable."""
    base = (100 - RANK_DAMP_NUM) * RANK_SCALE // 100
    ctes = [
        f"""nb AS MATERIALIZED (
  SELECT n.id,
    CASE WHEN s.id IS NOT NULL THEN CAST({base} AS BIGINT) ELSE CAST(0 AS BIGINT) END AS base_fp
  FROM nodes n LEFT JOIN seeds s ON s.id = n.id)""",
        f"t0 AS MATERIALIZED (SELECT id, CAST((base_fp * 100) // {100 - RANK_DAMP_NUM} AS BIGINT) AS rank_fp FROM nb)",
    ]
    for i in range(1, RANK_ROUNDS + 1):
        ctes.append(
            f"""t{i} AS MATERIALIZED (
  SELECT n.id, CAST(n.base_fp + ({RANK_DAMP_NUM} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nb n LEFT JOIN (
    SELECT e.dst AS id, sum(t.rank_fp // d.deg) AS s
    FROM e JOIN deg d USING (src) JOIN t{i - 1} t ON t.id = e.src
    GROUP BY e.dst) s ON s.id = n.id)"""
        )
    return f"""
WITH u AS (
  SELECT doc_id,
    'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
e AS MATERIALIZED (
  SELECT DISTINCT s.url AS src, t.url AS dst
  FROM u s JOIN u t
    ON t.doc_id IN (CAST(floor(s.doc_id / 2) AS BIGINT), CAST(floor(s.doc_id / 3) AS BIGINT))
),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
seeds AS ({seeds}),
{",".join(ctes)}
SELECT id AS url, rank_fp AS {rank_col} FROM t{RANK_ROUNDS}"""


def _hits_oracle(iterations: int) -> str:
    """Unrolled fixed-point HITS twin over the same docpages parent-link
    edge rule as the PageRank oracle. Each half-round is a raw-sum CTE
    plus a max-normalized CTE (L-infinity normalization: * SCALE //
    scalar max — integer, so exactly portable); DuckDB sum(BIGINT)
    returns HUGEINT, hence the CAST back to BIGINT before the multiply.
    Every chained CTE is AS MATERIALIZED: each normalization references
    its raw-sum CTE twice (join + scalar max), so inlined expansion
    would double per half-round (2^(2*iterations) base scans)."""
    scale = 1_000_000
    ctes = [
        f"h0 AS MATERIALIZED (SELECT id, CAST({scale} AS BIGINT) AS sc FROM nodes)"
    ]
    for i in range(1, iterations + 1):
        for tag, prev, fwd, rev in (
            ("a", f"h{i - 1}", "src", "dst"),
            ("h", f"a{i}", "dst", "src"),
        ):
            ctes.append(
                f"""{tag}{i}r AS MATERIALIZED (
  SELECT e.{rev} AS id, CAST(sum(p.sc) AS BIGINT) AS s
  FROM e JOIN {prev} p ON p.id = e.{fwd} GROUP BY e.{rev})"""
            )
            ctes.append(
                f"""{tag}{i} AS MATERIALIZED (
  SELECT n.id, COALESCE((r.s * {scale}) // (SELECT max(s) FROM {tag}{i}r), 0) AS sc
  FROM nodes n LEFT JOIN {tag}{i}r r ON r.id = n.id)"""
            )
    return f"""
WITH u AS (
  SELECT doc_id,
    'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
e AS MATERIALIZED (
  SELECT DISTINCT s.url AS src, t.url AS dst
  FROM u s JOIN u t
    ON t.doc_id IN (CAST(floor(s.doc_id / 2) AS BIGINT), CAST(floor(s.doc_id / 3) AS BIGINT))
),
nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
{",".join(ctes)}
SELECT h.id AS url, CAST(h.sc AS BIGINT) AS hub_fp, CAST(a.sc AS BIGINT) AS auth_fp
FROM h{iterations} h JOIN a{iterations} a ON a.id = h.id"""


_SHA60_ID = "CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


# --- embedding clustering / SemDeDup / DSIR --------------------------------

_KMEANS_CTE = """
e AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v FROM e ORDER BY vec_id LIMIT 4),
a1 AS (
  SELECT e.vec_id,
    CAST(min(CAST(list_sum(list_transform(range(1, 65),
        i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS BIGINT) * 4 + c.cid) % 4 AS INT) AS cluster
  FROM e CROSS JOIN c0 c
  GROUP BY e.vec_id
),
u AS (
  SELECT a1.cluster, gs.i AS dim,
    CAST(sum(e.v[gs.i]) AS BIGINT) AS s, count(*) AS n
  FROM a1 JOIN e USING (vec_id), generate_series(1, 64) AS gs(i)
  GROUP BY 1, 2
),
c1 AS (SELECT cluster AS cid, dim, s // CAST(n AS BIGINT) AS cv FROM u),
ev AS (
  SELECT e.vec_id, gs.i AS dim, e.v[gs.i] AS val
  FROM e, generate_series(1, 64) AS gs(i)
),
d2 AS (
  SELECT ev.vec_id, c1.cid,
    CAST(sum((ev.val - c1.cv) * (ev.val - c1.cv)) AS BIGINT) AS dist
  FROM ev JOIN c1 USING (dim)
  GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, CAST(min(dist * 4 + cid) % 4 AS INT) AS cluster
  FROM d2 GROUP BY vec_id
)"""


def _curation_v2_oracle() -> str:
    """Composed DuckDB twin of the curation-v2 capstone: the corrupt
    expression and the repair chain are GENERATED from the normalize
    module's tables (single source of truth), then the classifier and
    exact-dedup CTEs mirror their standalone oracles verbatim."""
    from finetoo_sp_spark.operators.normalize import _mojibake, oracle_sql_chain

    corrupt = (
        f"CASE WHEN doc_id % 3 = 0 THEN '{_mojibake(chr(0x201C))}' || text || "
        f"'{_mojibake(chr(0x201D))}' "
        "WHEN doc_id % 3 = 1 THEN replace(text, ' ', chr(160)) ELSE text END"
    )
    repaired = oracle_sql_chain(corrupt)
    return f"""
WITH rep AS (
  SELECT doc_id AS id, {repaired} AS text FROM documents
),
w AS (
  SELECT id, regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM rep
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
),
kept AS (
  SELECT rep.id, rep.text, (agg.margin * 65536) // agg.n_feats AS score_fp
  FROM rep JOIN agg USING (id)
  WHERE (agg.margin * 65536) // agg.n_feats >= 0
),
surv AS (SELECT min(id) AS id FROM kept GROUP BY sha256(text))
SELECT k.id, length(k.text) AS n_chars, k.score_fp
FROM kept k JOIN surv USING (id)"""


_BM25_TERMS = ("spark", "stream", "dup", "customer")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
