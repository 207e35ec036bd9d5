"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all pure DataFrame plans (no driver-side loops, no
row-at-a-time Python), chosen so each survives a 100x scale-up:

- exact:      sha256(text) groupBy — one shuffle on the hash, map-side
              partial agg; the hash key is uniform so no skew.
- n-gram Jaccard: shingle-inverted-index self-join — the classic
              candidate-pair generation; shuffle key = shingle. Hot
              shingles (stopword runs) explode pair counts, so we drop
              shingles with document frequency > max_df (standard
              "stop-shingle" pruning; see also SNIPPETS.md spark
              MinHashLSH notes).
- MinHash+LSH: k permutations -> b bands x r rows; candidate pairs meet
              in a band bucket (shuffle key = (band, bucket)); exact
              Jaccard verification only on candidates. At 10^12 docs this
              is the only sub-quadratic text path; banding keeps bucket
              sizes small and the verify join is candidate-sized.
- SimHash:    64-bit sign-of-weighted-sum fingerprint; near-dup pairs
              share one of 4 x 16-bit bands (pigeonhole: hamming<=3 =>
              some band equal), verified by bit_count(a^b).
- embedding cosine: normalized dot product over `array<float>`; the
              all-pairs form is for corpus-scale verification at small
              SF — at scale use similarity.ann_lsh_bucketed instead.

Reference tie-in: the reference dedups *blocks* by SHA-256 content hash
over deterministically ordered entities (src/graph/block_analyzer.cc:22-30,
proto/graph.proto:170-207); `exact_dedup` is that operator over documents,
and the near-dup family generalizes it for web-scale corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: universal-hash modulus for MinHash permutations.
# Small enough that a*h stays under 2^63 (no ANSI long overflow), large
# enough for collision-free shingle hashing at banding granularity.
_MERSENNE = (1 << 31) - 1
MINHASH_K = 32  # permutations per signature
MINHASH_BANDS = 8  # LSH bands of MINHASH_K // MINHASH_BANDS rows each
N_CELLS = 8  # triangular-grid side of a salt-split hot bucket
CONTAMINATION_N = 13  # benchmark n-gram width (GPT-3 appendix C)
MAX_HOSTS_PER_SHA = 50  # mirror_hosts prunes shas on more hosts than this
BOILERPLATE_MIN_HOST_DOCS = 3  # smaller hosts keep every line
BOILERPLATE_RATIO_FP = 5000  # strip lines on >= 50.00% of a host's pages


def _norm_words(text_col) -> "F.Column":
    """Lowercase, collapse whitespace, split to words — the shared text
    canonicalization for every text-dedup path (determinism contract:
    pure function of the input string)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct n-word shingles per document.

    Implemented with F.transform over an index sequence (JVM-side, no
    UDF): shingle i = words[i..i+n-1] joined by spaces. The words array
    is materialized as a bound attribute FIRST: a lambda closing over
    the words *expression* re-runs the regexp+split once per position
    (projection collapse inlines aliases used once), which measured ~6x
    slower on the driver corpus.
    """
    # NOTE: no ensure_parallelism here — the shingle stage feeds straight
    # into shuffles (groupBy/self-join), and a pre-repartition measurably
    # LOST time on the bench (extra full shuffle of the text column >
    # the single-core narrow work it spreads); pure-narrow ops like
    # repetition_scores are where that rescue pays.
    w = df.select(F.col(id_col).alias("id"), _norm_words(text_col).alias("_w"))
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_w") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
    )
    return (
        w.select("id", F.explode(sh).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def sha60(col) -> "F.Column":
    """Portable 60-bit hash: first 15 hex chars of sha256 as a BIGINT.

    Unlike xxhash64 this has an exact DuckDB twin
    (``CAST('0x' || substr(sha256(x),1,15) AS BIGINT)``), which is what
    lets the MinHash/SimHash paths run under a full value oracle
    (hash_mode='sha') instead of a rows-only check. Slower than
    xxhash64 (sha256 vs xx), so production keeps xxhash64.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def is_sha(hash_mode: str) -> bool:
    """The one ``hash_mode`` fork: True for 'sha' (:func:`sha60`, the
    DuckDB-reproducible oracle mode), False for 'xxhash64' (production).
    Any other value raises ``ValueError`` instead of meaning xxhash64."""
    if hash_mode not in ("sha", "xxhash64"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return hash_mode == "sha"


def _base_hash(col, hash_mode: str) -> "F.Column":
    return sha60(col) if is_sha(hash_mode) else F.xxhash64(col)


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — shared with the SQL oracle
    generator so both engines use identical permutations."""
    return [
        (
            (0x9E3779B97F4A7C15 * (i + 1)) % (_MERSENNE - 1) + 1,  # a in [1, p-1]
            (0xBF58476D1CE4E5B9 * (i + 7)) % _MERSENNE,
        )
        for i in range(k)
    ]


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by sha256(text).

    Returns (content_sha, keep_id, n_copies): canonical survivor = min id.
    Scale: single shuffle on a uniform 256-bit key; no skew possible.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def apply_exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The materialized deduplicated corpus: keep exactly the min-id
    survivor of every exact-duplicate group (one shuffle for the groups,
    one semi-join back — the corpus columns never leave the executors).
    """
    keepers = exact_dedup(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_df: int | None = 100_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with 3-word-shingle Jaccard >= threshold.

    inverted index self-join: |A ∩ B| = count of shared shingles;
    |A ∪ B| = |A| + |B| - |A ∩ B|. One shuffle on shingle (candidate
    generation) + one on the pair (intersection count).

    ``max_df``: drop shingles appearing in more than max_df docs before
    pairing — bounds the worst-case bucket to max_df^2 pairs (skew
    defense). The default is finite on purpose: a shingle shared by
    100k+ documents is boilerplate with no discriminative value, and an
    unpruned hot shingle makes the self-join quadratic in its document
    frequency. Pass None only for small-corpus exact verification.
    Union sizes are always computed from the UNPRUNED shingle sets, so
    pruning can only under-estimate jaccard (never false-positive).

    Returns (id_a, id_b, jaccard) with jaccard rounded to 6dp.
    """
    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    idx = sh
    if max_df is not None:
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") > max_df
        )
        idx = sh.join(F.broadcast(hot), "shingle", "left_anti")

    a = idx.select(F.col("id").alias("id_a"), "shingle")
    b = idx.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[MINHASH_K]) MinHash signatures over
    3-word shingles.

    Permutation i: h_i(x) = (a_i * base(x) + b_i) mod (2^31-1), with
    (a_i, b_i) drawn from a fixed deterministic stream (no RNG state —
    byte-stable across runs/partitionings). MINHASH_K min-aggregates in
    one groupBy pass (map-side partial min, so the shuffle carries only
    MINHASH_K longs per doc per partition).

    ``hash_mode``: 'xxhash64' (fast, production) or 'sha'
    (DuckDB-reproducible base hash — the full-oracle verification mode).
    """
    sh = shingles(df, id_col, text_col)
    params = minhash_params(MINHASH_K)
    # materialize the base hash ONCE per shingle row: each of the k
    # min-aggregates otherwise evaluates the hash expression itself
    # (k sha256/xxhash calls per row instead of 1)
    hashed = sh.select(
        "id", F.pmod(_base_hash("shingle", hash_mode), F.lit(_MERSENNE)).alias("h")
    )
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MERSENNE))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = hashed.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"m{i}" for i in range(len(params))]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    bucket_cap: int | None = 10_000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    b=MINHASH_BANDS, r=MINHASH_K/b rows per band; candidate iff some
    band's r-slice hashes equal. Shuffle keys: (band, bucket) for
    candidates — bucket ids are xxhash64 of the slice so buckets
    distribute uniformly.
    Verification re-joins the shingle index only for candidate pairs
    (semi-join pruning), so the expensive exact Jaccard runs on
    O(candidates), not O(n^2).

    ``bucket_cap``: (band, bucket) groups above this size (exact-dup
    floods: the same boilerplate page crawled millions of times puts
    every copy in every band's same bucket) are salt-split into
    triangular cells (_bucket_self_pairs) so no single task owns a
    quadratic bucket; output is unchanged.

    Returns (id_a, id_b, jaccard) verified >= threshold.
    """
    sig = minhash_signatures(df, id_col, text_col, hash_mode=hash_mode)
    banded = _banded_sig(sig)

    cand = _bucket_self_pairs(
        banded, ["band", "bucket"], bucket_cap=bucket_cap
    ).distinct()

    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnsRenamed({"id": "id_a"})
    b = sh.withColumnsRenamed({"id": "id_b"})
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _banded_sig(sig: DataFrame) -> DataFrame:
    """(id, band, bucket) — one row per band; bucket = xxhash64 of the
    band's r-slice of the signature, so buckets distribute uniformly."""
    r = MINHASH_K // MINHASH_BANDS
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[F.element_at("sig", bi * r + j + 1).cast("string") for j in range(r)])
                        ).alias("bucket"),
                    )
                    for bi in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs_between(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup detection: candidates between a NEW batch
    and the EXISTING corpus only — the per-snapshot workflow at crawl
    scale, where re-running the full self-join over 10^12 existing
    documents for every new crawl would be absurd.  Old-vs-old pairs
    are never generated; cost scales with |new| x bands plus the
    candidate verification, not with |old|^2.

    Same signatures/banding as :func:`minhash_lsh_pairs` (a pair found
    here has the identical jaccard the self-join would report).  The
    candidate join is a plain bipartite equi-join on (band, bucket):
    unlike the self-join there is no quadratic same-side blow-up to
    salt away, and a flooded bucket is an ordinary skewed join key that
    AQE's skew-join split handles at runtime.  The old side's banded
    signatures are a pure function of the old corpus — persist them
    once and reuse across snapshots instead of recomputing.

    Returns (id_new, id_old, jaccard) with jaccard >= threshold.
    """
    sig_old = minhash_signatures(old_df, id_col, text_col, hash_mode=hash_mode)
    sig_new = minhash_signatures(new_df, id_col, text_col, hash_mode=hash_mode)
    b_old = _banded_sig(sig_old).withColumnsRenamed({"id": "id_old"})
    b_new = _banded_sig(sig_new).withColumnsRenamed({"id": "id_new"})
    cand = (
        b_new.join(b_old, ["band", "bucket"]).select("id_new", "id_old").distinct()
    )
    sh_old = shingles(old_df, id_col, text_col)
    sh_new = shingles(new_df, id_col, text_col)
    sizes_old = (
        sh_old.groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz_old"))
        .withColumnsRenamed({"id": "id_old"})
    )
    sizes_new = (
        sh_new.groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz_new"))
        .withColumnsRenamed({"id": "id_new"})
    )
    inter = (
        cand.join(sh_new.withColumnsRenamed({"id": "id_new"}), "id_new")
        .join(sh_old.withColumnsRenamed({"id": "id_old"}), ["id_old", "shingle"])
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes_new, "id_new")
        .join(sizes_old, "id_old")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_new") + F.col("sz_old") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def _bucket_self_pairs(
    banded: DataFrame,
    key_cols: list[str],
    payload_cols: list[str] | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Self-join on bucket keys producing (id_a, id_b [, payload_a/b]) with
    an optional hot-bucket defense.

    Without ``bucket_cap``: plain equi self-join on ``key_cols``. With it:
    buckets whose row count exceeds the cap are split into a triangular
    grid of (i, j) cells, i <= j < N_CELLS — each row (group g =
    hash(id) mod N_CELLS) lands on the LEFT side of cells (g, j>=g) and
    the RIGHT side of cells (i<=g, g), so every intra-bucket pair meets
    in exactly one cell and the largest task shrinks from O(m^2) to
    O((m/N_CELLS)^2). Output is IDENTICAL to the uncapped join — the
    split redistributes work, it never drops pairs (a template-heavy
    corpus otherwise lands thousands of near-identical docs in one
    (band, bits) bucket and a single straggler task does all the work).
    """
    payload_cols = payload_cols or []

    def pairs_of(rows: DataFrame, extra_keys: list[str]) -> DataFrame:
        keys = key_cols + extra_keys
        x = rows.select(
            *keys,
            F.col("id").alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in payload_cols],
        )
        y = rows.select(
            *keys,
            F.col("id").alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        )
        out_cols = ["id_a", "id_b"] + [
            f"{c}_{s}" for c in payload_cols for s in ("a", "b")
        ]
        return x.join(y, keys).filter(F.col("id_a") < F.col("id_b")).select(*out_cols)

    if bucket_cap is None:
        return pairs_of(banded, [])

    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("bkt_n"))
    hot_keys = F.broadcast(sizes.filter(F.col("bkt_n") > bucket_cap).select(*key_cols))
    cold = banded.join(hot_keys, key_cols, "left_anti")
    hot = banded.join(hot_keys, key_cols, "left_semi").withColumn(
        "g", F.pmod(F.xxhash64("id"), F.lit(N_CELLS)).cast("int")
    )
    # LEFT carries cells (g, j >= g), RIGHT carries cells (i <= g, g):
    # a cross-group pair meets exactly once, in cell (min(g), max(g)) —
    # with the group-min element on the left. Since id order is
    # independent of group order, normalize with struct least/greatest
    # (struct compare leads on id) instead of filtering id_a < id_b,
    # then distinct to collapse the same-group (g, g) double emission.
    row = F.struct(F.col("id").alias("id"), *[F.col(c).alias(c) for c in payload_cols])
    left = hot.withColumn(
        "cell_j", F.explode(F.sequence(F.col("g"), F.lit(N_CELLS - 1)))
    ).withColumn("cell_i", F.col("g"))
    right = hot.withColumn(
        "cell_i", F.explode(F.sequence(F.lit(0), F.col("g")))
    ).withColumn("cell_j", F.col("g"))
    keys = key_cols + ["cell_i", "cell_j"]
    joined = (
        left.select(*keys, row.alias("pa"))
        .join(right.select(*keys, row.alias("pb")), keys)
        .filter(F.col("pa.id") != F.col("pb.id"))
    )
    lo = F.least(F.col("pa"), F.col("pb"))
    hi = F.greatest(F.col("pa"), F.col("pb"))
    hot_pairs = joined.select(
        lo["id"].alias("id_a"),
        hi["id"].alias("id_b"),
        *[c for p in payload_cols for c in (lo[p].alias(f"{p}_a"), hi[p].alias(f"{p}_b"))],
    ).distinct()
    out_cols = ["id_a", "id_b"] + [f"{c}_{s}" for c in payload_cols for s in ("a", "b")]
    return pairs_of(cold, []).select(*out_cols).unionByName(hot_pairs.select(*out_cols))


SIMHASH_BITS = {"xxhash64": 64, "sha": 60}
SIMHASH_MAX_HAMMING = 3


def simhash(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(id, simhash: bigint) — SimHash over word tokens (64-bit with the
    xxhash64 base; 60-bit with the DuckDB-reproducible 'sha' base, which
    keeps the fingerprint positive in a signed BIGINT on both engines).

    Per doc: for each bit j, sum +-1 over base_hash(word)'s bit j; the
    fingerprint's bit j = (sum > 0). Expressed as nbits BIT-COUNT
    aggregates plus one count(*) in one groupBy: with cnt_j = number of
    words whose hash has bit j set and n = word count, the +-1 sum is
    2*cnt_j - n, so bit j = (2*cnt_j > n) — value-identical to the
    conditional-sum form but branch-free per row
    (shiftrightunsigned+AND instead of when/otherwise) and the same
    partial-agg-friendly shape (nbits+1 longs/doc/partition on the
    shuffle). Sign convention ties (sum==0 -> bit 0) are deterministic.
    """
    nbits = SIMHASH_BITS[hash_mode]
    words = df.select(
        F.col(id_col).alias("id"), F.explode(_norm_words(text_col)).alias("w")
    ).filter(F.length("w") > 0)
    if is_sha(hash_mode):
        # sha256 per OCCURRENCE is wasteful — hash once per DISTINCT
        # word and broadcast-join back (the hash is a pure function of
        # the word, so the result is identical; measured ~10% on the
        # sf0.1 verify query, and the occurrence/vocab ratio only grows
        # with corpus size). Confined to verification mode: production's
        # xxhash64 is cheaper than a join, and at web scale the raw
        # vocab outgrows a broadcast.
        vocab = words.select("w").distinct().withColumn("hw", _base_hash("w", "sha"))
        words = words.join(F.broadcast(vocab), "w").select("id", "hw")
    else:
        # one hash evaluation per word row — the nbits sum-aggregates
        # below must reference the materialized column, not the hash
        # expression (else nbits hash calls per row)
        words = words.select("id", _base_hash("w", hash_mode).alias("hw"))
    h = F.col("hw")
    cnts = [
        F.sum(F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1))).alias(f"c{j}")
        for j in range(nbits)
    ]
    agg = words.groupBy("id").agg(*cnts, F.count(F.lit(1)).alias("n"))
    fp = None
    for j in range(nbits):
        # 2*cnt_j - n > 0  <=>  the +-1 sum over bit j is positive
        bit = F.when(
            F.col(f"c{j}") * 2 > F.col("n"), F.lit(1 << j if j < 63 else -(1 << 63))
        ).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseXOR(bit)
    return agg.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = 10_000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= SIMHASH_MAX_HAMMING.

    Pigeonhole banding: split 64 bits into (SIMHASH_MAX_HAMMING+1)
    bands — any pair within distance d shares at least one exact band. Shuffle key =
    (band, band_bits); verify with bit_count(xor).

    ``bucket_cap``: hot-bucket defense — a template-heavy corpus puts
    thousands of near-identical fingerprints into one (band, bits)
    bucket, turning one task quadratic. Buckets above the cap are
    salt-split into triangular cells (_bucket_self_pairs); the pair set
    is provably identical to the uncapped join (tests assert this).
    """
    nb = SIMHASH_MAX_HAMMING + 1
    width = SIMHASH_BITS[hash_mode] // nb
    fps = simhash(df, id_col, text_col, hash_mode=hash_mode)
    banded = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned("simhash", bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for bi in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bits")
    pairs = _bucket_self_pairs(
        banded, ["band", "bits"], payload_cols=["simhash"], bucket_cap=bucket_cap
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


def embedding_near_dup_pairs(emb: DataFrame) -> DataFrame:
    """All pairs (id_a < id_b) of (vec_id, embedding) rows with cosine
    similarity >= 0.95.

    JVM-side arithmetic: F.aggregate over zip_with products (no UDF).
    O(n^2) by construction — the small-SF verification oracle for the
    scalable path (similarity.ann_lsh_bucketed); at corpus scale, bucket
    first and run this within buckets only.
    """
    from finetoo_sp_spark.operators.similarity import with_norm

    v = with_norm(emb, "vec_id", "embedding")
    a = v.select(F.col("id").alias("id_a"), F.col("unit").alias("ua"))
    b = v.select(F.col("id").alias("id_b"), F.col("unit").alias("ub"))
    dot = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dot, 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.95)
    )


def embedding_near_dup_pairs_bucketed(
    emb: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Scale-safe embedding near-dup: sign-LSH bucket, exact cosine only
    WITHIN buckets — the registered 100 TB path (no crossJoin anywhere
    in the plan; the join key is the bucket id).

    Recall: misses cross-bucket pairs by design (a pair at cosine ~1 has
    near-identical coordinates, so sign buckets agree except for
    coordinates near 0 — acceptable for near-DUP detection; add probe
    tables for higher recall). Buckets above 10,000 rows (embedding
    collapse / repeated content) are salt-split so no task goes
    quadratic.
    """
    from finetoo_sp_spark.operators.similarity import sign_bucket, with_norm

    # unit vectors preserve coordinate signs, so bucketing the normalized
    # vector equals bucketing the raw one — one pass computes both.
    v = with_norm(emb, "vec_id", "embedding")
    v = v.withColumn("bucket", sign_bucket("unit", 8))
    pairs = _bucket_self_pairs(v, ["bucket"], payload_cols=["unit"], bucket_cap=10_000)
    dot = F.aggregate(
        F.zip_with("unit_a", "unit_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        pairs.select("id_a", "id_b", F.round(dot, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def contamination_flags(
    docs: DataFrame,
    benchmarks: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM protocol):
    flag every training document sharing at least one
    CONTAMINATION_N-gram (13, the published convention) with an
    evaluation benchmark.

    Scale shape: the benchmark side is dimension-sized (eval suites are
    thousands of examples, the corpus is billions of docs), so its
    distinct shingle set BROADCASTS and the corpus-side join is a
    map-side hash probe — the 100 TB scan never shuffles. Returns one
    row per doc: (id, n_hits, contaminated).
    """
    bsh = (
        shingles(benchmarks, bench_id_col, bench_text_col, CONTAMINATION_N)
        .select("shingle")
        .distinct()
    )
    dsh = shingles(docs, id_col, text_col, CONTAMINATION_N)
    hits = (
        dsh.join(F.broadcast(bsh), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def top_ngrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-level word-bigram document-frequency table, top 20 by df — the
    inspection surface for boilerplate discovery and stop-shingle
    tuning (what max_df should be set to). Deterministic tie-break on
    the ngram string."""
    sh = shingles(df, id_col, text_col, 2)
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .orderBy(F.desc("df_docs"), F.asc("ngram"))
        .limit(20)
    )


def line_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style line-level deduplication (Raffel et al. 2020 §2.2:
    "discarded any line that occurred more than X times in the corpus"):
    lines that occur more than twice corpus-wide are
    removed from every document; surviving lines keep their original
    order. The boilerplate killer exact-document dedup can't touch —
    shared footers/cookie banners repeat across otherwise-distinct pages.

    Scale shape: explode to (id, pos, line_sha) — the join/count key is
    the 256-bit line hash, not the line text, so the shuffle carries 32
    bytes/line and the key is uniform; hot lines concentrate their COUNT
    via map-side partial agg (never their rows). Reassembly is one
    groupBy(id) with an order-preserving sort_array over (pos, line)
    structs. Returns (id, text) with the filtered text.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_sha", F.sha2("line", 256))
    hot = (
        lines.groupBy("line_sha")
        .agg(F.count(F.lit(1)).alias("line_count"))
        .filter(F.col("line_count") > 2)
        .select("line_sha")
    )
    kept = lines.join(hot, "line_sha", "left_anti")
    return kept.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
        ).alias("text")
    )


def edit_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_pairs: bool = False,
) -> DataFrame:
    """Exact edit-distance verification of candidate duplicate pairs.

    The LSH/banding families above produce CANDIDATES; this is the
    precise confirm step when Jaccard-over-shingles is too coarse —
    (id_a, id_b, lev, ratio_fp, is_dup) with Levenshtein distance
    computed JVM-side (F.levenshtein, classic DP) and
    ``ratio_fp = lev * 10000 div max(len_a, len_b)`` in integer fixed
    point; ``is_dup = ratio_fp <= 2000`` (at most 20% of the longer text).

    Scale story (100 TB): the candidate set is LSH-pruned and thus
    orders of magnitude smaller than the corpus, so the two text
    lookups are the cost — equi-joins on the id key (set
    ``broadcast_pairs=True`` when candidates fit in memory to keep the
    corpus shuffle-free). The DP is O(len_a * len_b) per pair; callers
    bound it upstream via chunking or length caps, not here.
    """
    p = pairs.select(F.col("id_a"), F.col("id_b"))
    if broadcast_pairs:
        p = F.broadcast(p)
    a = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    return (
        p.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            # materialize the DP result ONCE (re-evaluation trap: deriving
            # ratio from the raw expression would run the DP twice)
            F.levenshtein("_ta", "_tb").alias("lev"),
            F.greatest(F.length("_ta"), F.length("_tb")).alias("_maxlen"),
        )
        .select(
            "id_a",
            "id_b",
            "lev",
            F.expr("CAST(lev AS BIGINT) * 10000 div _maxlen").alias("ratio_fp"),
        )
        .withColumn("is_dup", F.col("ratio_fp") <= 2000)
    )


def mirror_hosts(
    docs: DataFrame,
    host_col: str,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
) -> DataFrame:
    """(host_a, host_b, n_shared) — mirror-site detection: pairs of
    hosts sharing at least ``min_shared`` byte-identical documents
    (host_a < host_b). Mirrors and scraper farms duplicate content at
    the HOST level; doc-level dedup removes the copies but only this
    aggregation reveals which hosts to down-weight or drop wholesale.

    Scale: distinct (host, sha) -> sha-keyed self-join. The quadratic
    risk is a sha shared by many hosts (blank/boilerplate pages), so
    shas on more than ``MAX_HOSTS_PER_SHA`` hosts are pruned first —
    the same finite-``max_df`` defense as the shingle inverted index;
    a sha that common is template noise, not mirror evidence.
    """
    hs = docs.select(
        F.col(host_col).alias("host"), F.sha2(F.col(text_col), 256).alias("sha")
    ).distinct()
    degree = hs.groupBy("sha").agg(F.count("*").alias("_n_hosts"))
    pruned = hs.join(
        degree.filter(F.col("_n_hosts") <= MAX_HOSTS_PER_SHA).select("sha"), "sha"
    )
    a = pruned.select("sha", F.col("host").alias("host_a"))
    b = pruned.select("sha", F.col("host").alias("host_b"))
    return (
        a.join(b, "sha")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def host_boilerplate_strip(
    df: DataFrame,
    id_col: str,
    host_col: str,
    text_col: str,
) -> DataFrame:
    """Per-host line-frequency boilerplate removal (the CCNet/OSCAR
    cleaner): a line is template boilerplate when it appears on a large
    FRACTION of its host's pages — ``doc_freq * 10000 >=
    BOILERPLATE_RATIO_FP * host_docs`` (integer fixed point, 50%) —
    regardless of its absolute corpus count. This is the complement of
    ``line_dedup``'s global-count rule: a footer templated across one
    big host strips even though the corpus-wide count of any single
    variant is modest, while a famous quote shared by many hosts
    survives because no single host saturates on it. Hosts with fewer
    than ``BOILERPLATE_MIN_HOST_DOCS`` pages keep everything (a ratio over 2 pages
    is noise, per CCNet's shard-minimum).

    Scale shape: doc-frequency keys are (host, line_sha256) — a hot
    host's key space splits across its distinct lines, so no single
    reducer sees a whole host; the distinct + count aggregate both
    partial map-side. The strip is one left_anti equi-join on the same
    composite key and reassembly is the order-preserving
    sort_array-over-structs groupBy from line_dedup, with the removed
    count folded into the same aggregate (no second pass).

    Returns (id, text, n_removed).
    """
    host_docs = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    lines = df.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        # coalesce: F.split(NULL) is NULL and posexplode DROPS the row,
        # which would silently delete null-text documents from the
        # output — callers re-joining on id would lose them. A null
        # text passes through as ('', 0) instead.
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("line_sha", F.sha2("line", 256))
    dfreq = (
        lines.select("host", "line_sha", "id")
        .distinct()
        .groupBy("host", "line_sha")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    hot = (
        dfreq.join(host_docs, "host")
        .filter(
            (F.col("n_docs") >= BOILERPLATE_MIN_HOST_DOCS)
            & (F.col("doc_freq") * 10000 >= BOILERPLATE_RATIO_FP * F.col("n_docs"))
        )
        .select("host", "line_sha", F.lit(True).alias("is_hot"))
    )
    flagged = lines.join(hot, ["host", "line_sha"], "left").withColumn(
        "is_hot", F.coalesce("is_hot", F.lit(False))
    )
    return flagged.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(~F.col("is_hot"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
    )


def canonical_dedup(pages: DataFrame) -> DataFrame:
    """rel=canonical cluster dedup — the FIRST dedup signal a real
    crawl applies, before any content hashing: mobile/AMP/print
    variants of a page declare a shared ``<link rel="canonical">``
    target, so variants collapse by declaration rather than by text
    similarity. Cluster key = coalesce(canonical, url) (pages with no
    declaration are their own cluster). Survivor election: the page
    whose url IS the canonical target when it was crawled, else the
    lexicographic minimum (deterministic when the declared target is
    outside the crawl).

    Scale shape: one shuffle on the cluster key; real clusters are
    variant-sized (a handful of rows), so the window is cheap. An
    adversarial corpus where millions of pages declare one canonical
    would hot-spot this key — production bounds that with the same
    cap-then-salt discipline as mirror_hosts (MAX_HOSTS_PER_SHA); the
    declared-canonical key space is naturally per-page, so no cap is
    applied here.

    Reads (url, canonical_url); returns (url, cluster_url, cluster_size,
    is_survivor).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_url")
    base = pages.select("url", F.coalesce("canonical_url", "url").alias("cluster_url"))
    has_self = F.max((F.col("url") == F.col("cluster_url")).cast("int")).over(w)
    return base.select(
        "url",
        "cluster_url",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        F.when(has_self == 1, F.col("url") == F.col("cluster_url"))
        .otherwise(F.col("url") == F.min("url").over(w))
        .alias("is_survivor"),
    )
