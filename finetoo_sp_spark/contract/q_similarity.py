"""Contract queries: ANN retrieval, clustering, importance weights, BM25.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    sim,
    T,
    _WORDS_SQL,
    _q,
    _COSINE_SQL,
    _BUCKET_SQL,
    _multiprobe_oracle,
    _recall_curve_oracle,
    _KMEANS_CTE,
    _BM25_TERMS,
    _BM25_TERMS_SQL,
)


@_q(
    "ann_topk_bruteforce",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COSINE_SQL.replace("a.embedding", "q.embedding").replace("b.embedding", "c.embedding")} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5""",
    audit=[
        ("query side broadcast", r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
        ("single window for top-k", r"Window"),
    ],
)
def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@_q(
    "ann_lsh_bucketed",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COSINE_SQL.replace("a.embedding", "q.embedding").replace("b.embedding", "c.embedding")} AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 5 AND c.vec_id != q.vec_id
    AND {_BUCKET_SQL.format(side='q')} = {_BUCKET_SQL.format(side='c')}
)
SELECT query_id, neighbor_id, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5""",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return sim.ann_lsh_bucketed(emb, emb.filter(F.col("vec_id") < 5))


@_q(
    "ann_recall_curve",
    _recall_curve_oracle(k=10, n_bits=8, n_tables_list=(1, 2, 3), n_q=50),
    audit=[
        ("bucket equi-joins", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
)
def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall adequacy measurement for multi-probe ANN (the number the
    superset-recall property test can't give): recall@10 of 1/2/3 probe
    tables vs exact brute-force truth over 50 query vectors. On this
    near-random corpus the measured curve (0.016/0.034/0.046) matches
    sign-LSH theory ((1-θ/π)^8 at median top-10 θ≈73°) and composes
    near-additively across tables — the basis for the n_tables=3
    default; see sim.ann_recall_curve docstring for the high-cosine
    operating-point numbers."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.ann_recall_curve(
        emb, emb.filter(F.col("vec_id") < 50)
    )


@_q(
    "ann_lsh_multiprobe",
    _multiprobe_oracle(k=5, n_bits=8, n_tables=3),
    audit=[
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("union of per-table bucket joins", r"Union"),
    ],
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN: 3 tables over disjoint coordinate
    slices, union-of-buckets candidates, exact cosine + top-k — the
    recall dial over the single-table ann_lsh_bucketed."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.ann_lsh_multiprobe(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_tables=3
    )


@_q(
    "embedding_centroids",
    f"""
WITH e AS (
  SELECT {_BUCKET_SQL.format(side='embeddings').replace('[1:8]', '[1:4]')} AS bucket,
    embedding[CAST(i AS BIGINT)]::DOUBLE AS v, i AS pos
  FROM embeddings, UNNEST(range(1, 65)) AS t(i)
), c AS (
  SELECT bucket, pos, avg(v::DOUBLE) AS m, count(*) AS n
  FROM e GROUP BY 1, 2
)
SELECT bucket,
  CAST(min(n) AS BIGINT) AS n_members,
  array_to_string(list(CAST(round(m * 1000000) AS BIGINT) ORDER BY pos), ',') AS centroid_micro
FROM c GROUP BY bucket""",
)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket embedding centroids (the vector-mean primitive Spark
    lacks natively — the assignment step of k-means / cluster summaries
    for embedding dedup): posexplode -> (bucket, dim) partial-agg mean
    -> reassemble ordered via sort_array. Values serialized as exact
    micro-units for the cross-engine hash."""
    emb = T(spark, sf_dir, "embeddings")
    e = emb.select(
        sim.sign_bucket("embedding", 4).alias("bucket"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    c = e.groupBy("bucket", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.groupBy("bucket")
        .agg(
            F.min("n").alias("n_members"),
            F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pl"),
        )
        .select(
            "bucket",
            "n_members",
            F.concat_ws(
                ",", F.transform("pl", lambda x: F.round(x["m"] * 1e6).cast("long"))
            ).alias("centroid_micro"),
        )
    )


@_q(
    "kmeans_clusters",
    f"WITH {_KMEANS_CTE}\nSELECT vec_id AS id, cluster FROM a2",
    audit=[
        # centroids are driver-collected constants unrolled into least();
        # the registered plan (final assignment pass) must be a pure map
        ("assignment is narrow (no shuffle)", r"!Exchange"),
        ("no join anywhere", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 assignment passes) in integer fixed
    point: the oracle reproduces every centroid exactly because sums of
    scaled-long coordinates are partition-order independent. Per
    iteration the assignment is a narrow map (centroids collected to the
    driver, MLlib-style, and unrolled into a least() expression) and the
    update shuffles only k*dims groups."""
    from finetoo_sp_spark.operators import clustering as cl

    return cl.kmeans_assign(T(spark, sf_dir, "embeddings"), "vec_id", "embedding")


@_q(
    "dsir_importance",
    f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws, (source = 'src0') AS is_t FROM documents
),
bk AS (
  SELECT doc_id, is_t,
    ('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i + 1]), 1, 15))::BIGINT % 256 AS bucket
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
),
cnts AS (
  SELECT bucket, count(*) AS cnt_raw,
    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_target
  FROM bk GROUP BY bucket
),
ratios AS (
  SELECT bucket, ((cnt_target + 1) * 65536) // (CAST(cnt_raw AS BIGINT) + 1) AS ratio_fp
  FROM cnts
),
sc AS (
  SELECT bk.doc_id, count(*) AS n_bigrams, CAST(sum(ratio_fp) AS BIGINT) AS dsir_score
  FROM bk JOIN ratios USING (bucket)
  GROUP BY 1
)
SELECT d.doc_id AS id,
  coalesce(sc.n_bigrams, 0) AS n_bigrams,
  coalesce(sc.dsir_score, 0) AS dsir_score
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""",
    audit=[
        ("bucket-ratio table broadcast (corpus never shuffles for the probe)", r"BroadcastHashJoin"),
        ("bigram fan-out via Generate (explode)", r"Generate"),
    ],
)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169) with src0 as the
    target domain: hashed-bigram bucket distributions for target vs raw,
    per-doc score = exact integer sum of fixed-point per-bucket ratios.
    The 256-row ratio table broadcast-joins to the exploded bigram
    stream — corpus-side work is explode -> map-side probe -> one
    partial agg, nothing scales super-linearly."""
    from finetoo_sp_spark.operators import importance as imp

    return imp.dsir_scores(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        F.col("source") == "src0",
    )


CCNET_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws, (source = 'src0') AS is_ref FROM documents
),
bk AS (
  SELECT doc_id, is_ref,
    ('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i + 1]), 1, 15))::BIGINT % 256 AS bg_bucket,
    ('0x' || substr(md5(ws[g.i]), 1, 15))::BIGINT % 256 AS ctx_bucket
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
),
bgc AS (SELECT bg_bucket, count(*) AS cnt_bg FROM bk WHERE is_ref GROUP BY 1),
ctxc AS (SELECT ctx_bucket, count(*) AS cnt_ctx FROM bk WHERE is_ref GROUP BY 1),
costed AS (
  SELECT bk.doc_id,
    ((coalesce(cnt_ctx, 0) + 256) * 65536) // (CAST(coalesce(cnt_bg, 0) AS BIGINT) + 1)
      AS cost_fp
  FROM bk LEFT JOIN bgc USING (bg_bucket) LEFT JOIN ctxc USING (ctx_bucket)
),
sc AS (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(cost_fp) AS BIGINT) AS lm_cost_fp
  FROM costed GROUP BY 1
),
per_doc AS (
  SELECT d.doc_id AS id, (d.source = 'src0') AS is_ref,
    coalesce(sc.n_bigrams, 0) AS n_bigrams,
    coalesce(sc.lm_cost_fp, 0) AS lm_cost_fp,
    coalesce(sc.lm_cost_fp // sc.n_bigrams, 0) AS cost_per_bigram_fp
  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
),
tiles AS (
  SELECT id, cost_per_bigram_fp,
    ntile(3) OVER (ORDER BY cost_per_bigram_fp, id) AS tile
  FROM per_doc WHERE is_ref
),
th AS (
  SELECT max(CASE WHEN tile = 1 THEN cost_per_bigram_fp END) AS t1,
         max(CASE WHEN tile = 2 THEN cost_per_bigram_fp END) AS t2
  FROM tiles
)
SELECT id, n_bigrams, lm_cost_fp, cost_per_bigram_fp,
  CASE WHEN cost_per_bigram_fp <= t1 THEN 'head'
       WHEN cost_per_bigram_fp <= t2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM per_doc, th"""


@_q(
    "ccnet_lm_filter",
    CCNET_ORACLE,
    audit=[
        ("LM count tables broadcast to the gram stream", r"BroadcastHashJoin"),
        ("scan pruned to doc_id/text/source", r"ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_ccnet_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (arXiv:1911.00359) with src0 as the
    trusted reference: a reference-trained hashed-bigram LM costs every
    document in exact integer fixed point, and reference-derived tercile
    thresholds split the corpus into head/middle/tail. Corpus-side plan
    is explode -> two 256-row broadcast probes -> one partial agg; the
    only global sort (ntile) runs over the bounded reference slice."""
    from finetoo_sp_spark.operators import lmfilter as lmf

    return lmf.ccnet_lm_scores(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        F.col("source") == "src0",
    )


@_q(
    "phrase_hits",
    f"""
WITH t AS (
  SELECT doc_id AS id, array_to_string({_WORDS_SQL}, ' ') AS t FROM documents
)
SELECT id,
  CAST((length(t) - length(replace(t, 'batch batch', ''))) / 11 AS BIGINT) AS n_hits,
  CAST(strpos(t, 'batch batch') AS INT) AS first_pos
FROM t
WHERE length(t) - length(replace(t, 'batch batch', '')) >= 11""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_phrase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ('batch batch') via the replace-length
    identity + instr — two JVM string ops, narrow plan, no shuffle;
    the cheap complement to bm25_topk for quoted-phrase queries."""
    from finetoo_sp_spark.operators.retrieval import phrase_hits

    return phrase_hits(T(spark, sf_dir, "documents"), "doc_id", "text", "batch batch")


@_q(
    "bm25_topk",
    f"""
WITH d AS (
  SELECT doc_id AS id, {_WORDS_SQL} AS ws FROM documents
),
staged AS (SELECT id, len(ws) AS dl, ws FROM d),
stats AS (
  SELECT CAST(sum(dl) // count(*) AS BIGINT) AS avgdl,
         count(*) AS n_docs
  FROM staged
),
tf AS (
  SELECT id, dl, t.term, count(*) AS tf
  FROM staged, UNNEST(ws) AS t(term)
  WHERE t.term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT id,
    (((n_docs - df) * 1024) // (df + 1))
    * ((2200 * tf * avgdl * 1024)
       // (1000 * tf * avgdl + 300 * avgdl + 900 * dl)) AS term_score
  FROM tf JOIN dfreq USING (term), stats
),
agg AS (SELECT id, CAST(sum(term_score) AS BIGINT) AS score FROM scored GROUP BY 1)
SELECT id, score,
  CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS INT) AS rank
FROM agg ORDER BY score DESC, id ASC LIMIT 10""",
    audit=[
        ("df dimension broadcast (corpus side never re-shuffles)", r"BroadcastHashJoin"),
        ("global top-k is TakeOrdered, not a full sort", r"TakeOrderedAndProject"),
    ],
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rational-BM25 keyword retrieval: top-10 documents for a fixed
    4-term query. Integer fixed-point scoring (retrieval.py docstring has
    the derivation) so the DuckDB twin reproduces scores bit-for-bit.
    Corpus side is explode -> term filter -> one (doc, term) partial agg;
    df/avgdl are broadcast dimensions; final top-k is a global limit
    (TakeOrdered), never a full sort."""
    from finetoo_sp_spark.operators.retrieval import bm25_topk

    return bm25_topk(T(spark, sf_dir, "documents"), "doc_id", "text", list(_BM25_TERMS))


@_q(
    "embedding_quantize",
    """
WITH e AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS fp
  FROM embeddings
), m AS (
  SELECT vec_id, fp, list_min(fp) AS mn, list_max(fp) AS mx FROM e
), q AS (
  SELECT vec_id, fp, mn, mx,
    CASE WHEN mx = mn THEN list_transform(fp, x -> CAST(0 AS BIGINT))
         ELSE list_transform(fp, x -> (x - mn) * 255 // (mx - mn)) END AS qv
  FROM m
), err AS (
  SELECT vec_id,
    max(abs(fp[CAST(i AS BIGINT)]
        - (mn + (qv[CAST(i AS BIGINT)] * (mx - mn)) // 255))) AS max_err
  FROM q, UNNEST(generate_series(1, len(fp))) AS t(i)
  GROUP BY vec_id
)
SELECT q.vec_id AS id, CAST(len(fp) AS INT) AS n_dims,
  mn AS min_fp, mx AS max_fp,
  array_to_string(qv, ',') AS q_str,
  COALESCE(max_err, 0) AS max_err_fp
FROM q LEFT JOIN err ON q.vec_id = err.vec_id""",
    audit=[
        ("fully narrow plan: no shuffle at all", r"!\+- Exchange"),
        ("NO join", r"!Join"),
        ("only vec_id+embedding read", r"ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
    ],
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (FAISS SQ8 shape) in integer
    fixed point: codes, per-vector (min, max) dequantization key, and
    the exact worst-dimension reconstruction error — the 4x memory cut
    that keeps rerank tiers in executor memory at 10^12 vectors. Fully
    narrow plan (no shuffle); oracle recomputes every code and error
    bound from the same fixed-point definition."""
    from finetoo_sp_spark.operators.quantize import quantize_int8

    return quantize_int8(T(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------- IVF-PQ

def _pq_oracle_ctes() -> str:
    """DuckDB twin of operators/pq.py, generated for the contract
    parameters (m subspaces of ksub centroids over dims-wide vectors,
    nlist IVF cells, nprobe probed per query): fixed-point lift,
    per-subspace codebooks (init = the ksub smallest ids' sub-vectors,
    one sum-div-count update, argmin re-assignment with ties to the
    lowest centroid id), IVF coarse k-means (the _KMEANS_CTE
    discipline), query probes and per-subspace ADC tables. Every CTE that is referenced more than once is
    MATERIALIZED (chained-CTE inlining is exponential otherwise)."""
    m, ksub, dims, nlist, nprobe, query_ids = 4, 4, 64, 4, 2, "0, 1, 2"
    sub = dims // m
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(round(x::DOUBLE * 1048576) AS BIGINT)) AS v FROM embeddings)"
    ]
    for mi in range(m):
        lo = mi * sub
        parts.append(
            f"c{mi}0 AS MATERIALIZED (SELECT vec_id AS cid, v[{lo + 1}:{lo + sub}] AS sv"
            f" FROM e ORDER BY vec_id LIMIT {ksub})"
        )
        parts.append(
            f"""a{mi}1 AS MATERIALIZED (
  SELECT e.vec_id, CAST(min(CAST(list_sum(list_transform(range(1, {sub + 1}),
      i -> (e.v[{lo} + i] - c.sv[i]) * (e.v[{lo} + i] - c.sv[i]))) AS BIGINT)
      * {ksub} + c.cid) % {ksub} AS INT) AS cl
  FROM e CROSS JOIN c{mi}0 c GROUP BY e.vec_id)"""
        )
        parts.append(
            f"""u{mi} AS MATERIALIZED (
  SELECT a.cl, gs.i AS dim,
    CAST(sum(e.v[{lo} + gs.i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS cv
  FROM a{mi}1 a JOIN e USING (vec_id), generate_series(1, {sub}) AS gs(i)
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"""code{mi} AS MATERIALIZED (
  SELECT vec_id, CAST(min(dist * {ksub} + cl) % {ksub} AS INT) AS c FROM (
    SELECT e.vec_id, u.cl,
      CAST(sum((e.v[{lo} + u.dim] - u.cv) * (e.v[{lo} + u.dim] - u.cv)) AS BIGINT) AS dist
    FROM e, u{mi} u GROUP BY 1, 2) GROUP BY vec_id)"""
        )
    # IVF coarse quantizer (same discipline, full-dim)
    parts.append(
        f"g0 AS MATERIALIZED (SELECT vec_id AS cid, v FROM e ORDER BY vec_id LIMIT {nlist})"
    )
    parts.append(
        f"""ga1 AS MATERIALIZED (
  SELECT e.vec_id, CAST(min(CAST(list_sum(list_transform(range(1, {dims + 1}),
      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS BIGINT) * {nlist} + c.cid)
      % {nlist} AS INT) AS cluster
  FROM e CROSS JOIN g0 c GROUP BY e.vec_id)"""
    )
    parts.append(
        f"""gu AS MATERIALIZED (
  SELECT ga1.cluster, gs.i AS dim,
    CAST(sum(e.v[gs.i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS cv
  FROM ga1 JOIN e USING (vec_id), generate_series(1, {dims}) AS gs(i)
  GROUP BY 1, 2)"""
    )
    parts.append(
        f"""ga2 AS MATERIALIZED (
  SELECT vec_id, CAST(min(dist * {nlist} + cluster) % {nlist} AS INT) AS cluster FROM (
    SELECT e.vec_id, gu.cluster,
      CAST(sum((e.v[gu.dim] - gu.cv) * (e.v[gu.dim] - gu.cv)) AS BIGINT) AS dist
    FROM e, gu GROUP BY 1, 2) GROUP BY vec_id)"""
    )
    parts.append(
        f"q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e"
        f" WHERE vec_id IN ({query_ids}))"
    )
    parts.append(
        f"""probed AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT pr.query_id, pr.cid,
      row_number() OVER (PARTITION BY pr.query_id ORDER BY pr.cd, pr.cid) AS rn
    FROM (
      SELECT q.query_id, gu.cluster AS cid,
        CAST(sum((q.qv[gu.dim] - gu.cv) * (q.qv[gu.dim] - gu.cv)) AS BIGINT) AS cd
      FROM q, gu GROUP BY 1, 2) pr)
  WHERE rn <= {nprobe})"""
    )
    for mi in range(m):
        lo = mi * sub
        parts.append(
            f"""dt{mi} AS MATERIALIZED (
  SELECT q.query_id, u.cl,
    CAST(sum((q.qv[{lo} + u.dim] - u.cv) * (q.qv[{lo} + u.dim] - u.cv)) AS BIGINT) AS d
  FROM q, u{mi} u GROUP BY 1, 2)"""
        )
    code_joins = "\n  ".join(
        f"JOIN code{mi} ON code{mi}.vec_id = ga2.vec_id" for mi in range(m)
    )
    dt_joins = "\n  ".join(
        f"JOIN dt{mi} ON dt{mi}.query_id = probed.query_id AND dt{mi}.cl = code{mi}.c"
        for mi in range(m)
    )
    adc_sum = " + ".join(f"dt{mi}.d" for mi in range(m))
    parts.append(
        f"""adc AS MATERIALIZED (
  SELECT probed.query_id, ga2.vec_id, CAST({adc_sum} AS BIGINT) AS adc_dist
  FROM ga2
  JOIN probed ON probed.cid = ga2.cluster AND probed.query_id <> ga2.vec_id
  {code_joins}
  {dt_joins})"""
    )
    return ",\n".join(parts)


_PQ_CODES_ORACLE = (
    "WITH " + _pq_oracle_ctes() + """
SELECT e.vec_id AS id,
  CAST(code0.c AS VARCHAR) || ',' || CAST(code1.c AS VARCHAR) || ','
    || CAST(code2.c AS VARCHAR) || ',' || CAST(code3.c AS VARCHAR) AS code_str,
  CAST(4 AS BIGINT) AS n_subspaces
FROM e
JOIN code0 USING (vec_id) JOIN code1 USING (vec_id)
JOIN code2 USING (vec_id) JOIN code3 USING (vec_id)"""
)

_IVF_PQ_TOPK_ORACLE = (
    "WITH " + _pq_oracle_ctes() + """
SELECT query_id, vec_id AS neighbor_id, adc_dist, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, vec_id, adc_dist,
    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM adc)
WHERE rank <= 10"""
)

_IVF_PQ_RECALL_ORACLE = (
    "WITH " + _pq_oracle_ctes() + """,
topk_adc AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
    FROM adc)
  WHERE rank <= 10),
topk_exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65),
          i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS BIGINT), e.vec_id) AS rn
    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
  WHERE rn <= 10)
SELECT q.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
  CAST(10 AS BIGINT) AS k
FROM q LEFT JOIN (
  SELECT query_id, count(*) AS n
  FROM topk_adc JOIN topk_exact USING (query_id, vec_id) GROUP BY 1) h
USING (query_id)"""
)


@_q(
    "pq_codes",
    _PQ_CODES_ORACLE,
    audit=[
        ("no per-row Python in assignment", r"!MapInPandas"),
    ],
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (Jegou et al. 2011): 4 subspaces x 16
    dims, 4 centroids each, integer fixed point throughout — the M-byte
    vector representation that makes 10^12-vector rerank state fit. The
    codebooks broadcast as driver literals so assignment is one narrow
    scan; the oracle retrains every codebook and recomputes every code
    from the deterministic k-means contract."""
    from finetoo_sp_spark.operators.pq import pq_codes

    return pq_codes(T(spark, sf_dir, "embeddings"))


@_q(
    "ann_ivf_pq_topk",
    _IVF_PQ_TOPK_ORACLE,
    audit=[
        ("cell membership equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
)
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search: probe the 2 nearest of 4 IVF cells, rank
    candidates by asymmetric PQ distance (per-subspace ADC lookup
    tables spliced in as literals — no vector math touches the corpus
    at query time), top-10 per query with ties to the lower id. The
    oracle recomputes coarse cells, codebooks, codes, probe order and
    every ADC distance."""
    from finetoo_sp_spark.operators.pq import ann_ivf_pq_topk

    return ann_ivf_pq_topk(T(spark, sf_dir, "embeddings"), [0, 1, 2])


@_q("ann_ivf_pq_recall", _IVF_PQ_RECALL_ORACLE)
def q_ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of IVF-PQ against the exact integer-L2
    top-10 — the honest operating point of the (nlist=4, nprobe=2,
    M=4, ksub=4) configuration on this corpus, reproduced value-exactly
    by the oracle (both rankings are integer-deterministic)."""
    from finetoo_sp_spark.operators.pq import ivf_pq_recall

    return ivf_pq_recall(T(spark, sf_dir, "embeddings"), [0, 1, 2])
