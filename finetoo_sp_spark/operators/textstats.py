"""Text-analysis operators for training-data curation.

Everything here is built-in pyspark.sql.functions only — no UDFs at all —
so the whole stage stays inside WholeStageCodegen and the same logic is
expressible verbatim in the DuckDB oracle SQL (the driver's correctness
gate). The operators:

- token_counts: whitespace tokenization + a BPE-ish subword proxy
  (4-chars-per-token ceiling — the standard quick estimator).
- quality_scores: length / mean word length / stopword ratio /
  punctuation ratio / uppercase ratio and a composite keep/drop score
  (Gopher/C4-style filter family, re-expressed as column ops).
- lang_id: stopword-marker voting across a fixed per-language marker
  list (n-gram/stopword heuristic; deterministic, no model download).
- winnowing_fingerprints: k-word shingles -> sha256 hex -> per-window
  minimum (winnowing; Schleimer et al., SIGMOD'03) — the document
  fingerprint set used for plagiarism-style containment detection.
  Hashes stay *hex strings* so min() is portable across engines.

Scale notes: every op is a narrow map over the documents scan except the
fingerprint distinct (one shuffle on (id, fingerprint)) — all linear,
no skew-prone keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "que", "es", "un", "una", "en"],
}


def _words(text_col) -> "F.Column":
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_chars, n_words, n_tokens_est) — n_tokens_est = ceil(chars/4),
    the standard BPE token-count proxy when no tokenizer is shipped."""
    return df.select(
        F.col(id_col).alias("id"),
        F.length(text_col).alias("n_chars"),
        F.size(_words(text_col)).alias("n_words"),
        F.ceil(F.length(text_col) / 4).cast("long").alias("n_tokens_est"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality features + composite keep flag (C4/Gopher-style):
    keep iff 10 <= n_words and 2 <= mean_word_len <= 12 and
    stopword_ratio >= 0.01 (any-language markers) — thresholds are
    documented constants the synthetic corpus is authored against."""
    # words staged as a bound attribute: the expression form would re-run
    # the regexp+split once per referencing subexpression
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        _words(text_col).alias("_w"),
    )
    words = F.col("_w")
    text_col = "_text"
    n_words = F.size(words)
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(words, lambda w: w.isin(all_stops)))
    n_chars = F.length(text_col)
    mean_wl = F.round((F.length(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", "")) / F.greatest(n_words, F.lit(1))), 4)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    upper = F.length(F.regexp_replace(F.col(text_col), r"[^A-Z]", ""))
    out = staged.select(
        "id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(upper / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_words") >= 10)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 12)
        & (F.col("stopword_ratio") >= 0.01),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pred_lang, marker_hits) — stopword-marker voting.

    Counts per-language marker words; argmax with deterministic
    tie-break on language code ascending; 'und' when zero hits
    everywhere. Pure column ops (greatest + chained when)."""
    # two staged projections: marker counts as bound attributes (each
    # count is referenced 3x below — as an expression that would mean
    # ~12 re-evaluations of the split per row)
    w = df.select(F.col(id_col).alias("id"), _words(text_col).alias("_w"))
    counted = w.select(
        "id",
        *[
            F.size(F.filter(F.col("_w"), lambda x: x.isin(ws))).alias(f"_c_{lang}")
            for lang, ws in sorted(STOPWORDS.items())
        ],
    )
    counts = {lang: F.col(f"_c_{lang}") for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # reversed-alpha chain so the *earliest* alphabetical lang wins ties
    for lang in sorted(counts, reverse=True):
        pred = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(pred)
    return counted.select(
        "id", pred.alias("pred_lang"), best.alias("marker_hits")
    )


def _winnowed(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """(id, fps: array<string>) — distinct winnowed fingerprints per row.

    Everything happens inside ONE row: shingle -> sha256 hex ->
    sliding-window min (array_min over slices) -> array_distinct. No
    explode, no window function, no shuffle — a pure narrow map, which
    is the plan you want when the per-doc position count is bounded
    (documents, not gigabyte blobs).

    CRITICAL: the sliding min must NOT be written as
    ``transform(positions, j -> array_min(slice(hashes, j, w)))`` — the
    per-position lambda re-evaluates the whole hash-array expression
    (projection collapse inlines it through column aliases too), giving
    O(n*w) sha256 work per row (measured ~40-80x slower). Instead we use
    the sparse-table doubling trick: log2(w) rounds of
    ``zip_with(t, shift(t, span), least)`` — each round references its
    input a constant number of times, so total work is O(n log w) cheap
    string-mins over ONE O(n) hashing pass.
    """
    # stage 1: words materialized as a bound attribute (a lambda closing
    # over the words EXPRESSION re-runs the regexp+split per position).
    # The complete-window condition is applied HERE as a cheap word-count
    # predicate: positions = size(words)-k+1 >= window. Filtering later
    # on size(fps) > 0 is a trap — predicate pushdown drags the filter
    # below every staged projection and inlines the ENTIRE winnowing
    # tree into the per-row condition (measured 50-90x slower).
    from finetoo_sp_spark.session import ensure_parallelism

    # the whole winnowing chain is shuffle-free narrow work: spread a
    # single-partition local scan across cores first (no-op at scale)
    staged = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), _words(text_col).alias("_t")
    ).filter(F.size("_t") >= k + window - 1)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_t") - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i + 1, k)),
    )
    # stage 2: shingle hashes, again as their own attribute
    staged = staged.select("id", F.transform(sh, lambda x: F.sha2(x, 256)).alias("_t"))

    def combine(shift):
        t = F.col("_t")
        ln = F.greatest(F.size(t) - shift, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, ln), F.slice(t, 1 + shift, ln), lambda x, y: F.least(x, y)
        )

    span = 1
    while span * 2 <= window:  # one projection per doubling round
        staged = staged.select("id", combine(span).alias("_t"))
        span *= 2
    if span < window:  # overlapping power-of-two windows cover the rest
        staged = staged.select("id", combine(window - span).alias("_t"))
    # result length is n_positions - window + 1, i.e. empty (no row
    # survives downstream) when a doc has fewer than `window` positions
    return staged.select("id", F.array_distinct("_t").alias("fps"))


def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — distinct winnowed shingle hashes per document.

    3-word shingles at each position -> sha256 hex -> minimum over each
    sliding window of 4 consecutive positions -> distinct. Hex
    strings (not ints) so lexicographic min matches any SQL engine.
    Computed entirely row-wise (_winnowed): the explode below is the
    only row expansion and no shuffle exists anywhere in the plan.
    """
    return _winnowed(df, id_col, text_col, 3, 4).select(
        "id", F.explode("fps").alias("fingerprint")
    )


def fingerprint_summary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_fingerprints, min_fingerprint) — compact per-doc digest of
    the winnowed set (3-word shingles, window 4; the joinable form for
    containment candidates).
    Shuffle-free: the digest is computed from the per-row fingerprint
    array directly (docs with no complete window are filtered out inside
    _winnowed by the cheap word-count predicate, matching the historical
    explode+groupBy semantics)."""
    return _winnowed(df, id_col, text_col, 3, 4).select(
        "id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fingerprint"),
    )


TFIDF_TOP_K = 5  # terms kept per document
BPE_TOP_K = 30  # candidate pairs kept


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document top-``TFIDF_TOP_K`` TF-IDF terms.

    tf = term count within the document; idf = N/df, exact integer-ratio
    arithmetic — cross-engine reproducible since no transcendental is
    evaluated (the classic ln(N/df) would put engines' libm ulp
    differences under the value-hash oracle).
    Deterministic tie-break: (score desc, term asc).

    Scale: one shuffle for (id, term) counts, one vocabulary-sized
    shuffle for document frequencies, an equi-join on term, then a
    per-doc window top-k. No collect, no UDF; the df side is
    vocabulary-sized and AQE will broadcast it when it fits.
    """
    from pyspark.sql.window import Window

    words = df.select(
        F.col(id_col).alias("id"), F.explode(_words(text_col)).alias("term")
    ).filter(F.length("term") > 0)
    tf = words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    idf = F.col("n") / F.col("df")
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))  # one scalar row broadcast
        .select("id", "term", "tf", "df", (F.col("tf") * idf).alias("score"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("id", "term", "tf", "df", F.round("score", 6).alias("score"), "rk")
    )


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition features (Rae et al. 2021 §A1.3): the
    fraction of duplicate lines and the fraction of words inside the
    most frequent word bigram. Heavily repeated boilerplate/spam shows
    up as high values of either; the standard filters drop docs above
    ~0.3 dup-line or ~0.18 top-bigram fractions.

    Pure per-row array ops (no shuffle): lines via split on newline,
    bigrams via zip of the word array with its tail; frequency of the
    mode via aggregate over the distinct array. Staged projections keep
    every lambda over bound attributes (the expression-inlining trap).
    """
    from finetoo_sp_spark.session import ensure_parallelism

    staged = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\n").alias("_lines"),
        _words(text_col).alias("_w"),
    )
    bigrams = F.zip_with(
        F.slice("_w", 1, F.greatest(F.size("_w") - 1, F.lit(0))),
        F.slice("_w", 2, F.greatest(F.size("_w") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    staged = staged.select("id", "_lines", "_w", bigrams.alias("_bg"))

    def mode_count(arr_col: str) -> "F.Column":
        # occurrences of the most frequent element: max over the distinct
        # elements of their counts (size - size(removed)); O(distinct^2)
        # worst case but documents are row-bounded
        arr = F.col(arr_col)
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(arr),
                    lambda x: F.size(F.filter(arr, lambda y: y == x)),
                )
            ),
            F.lit(0),
        )

    n_lines = F.size("_lines")
    dup_lines = n_lines - F.size(F.array_distinct("_lines"))
    return staged.select(
        "id",
        F.round(dup_lines / F.greatest(n_lines, F.lit(1)), 4).alias("dup_line_frac"),
        F.round(
            F.lit(2) * mode_count("_bg") / F.greatest(F.size("_w"), F.lit(1)), 4
        ).alias("top_bigram_frac"),
        (
            (dup_lines / F.greatest(n_lines, F.lit(1)) < 0.3)
            & (F.lit(2) * mode_count("_bg") / F.greatest(F.size("_w"), F.lit(1)) < 0.18)
        ).alias("keep_repetition"),
    )


def canonicalize_url(col) -> "F.Column":
    """Canonical URL normalization for corpus dedup keys: lowercase
    scheme+host, strip the fragment, drop utm_*/fbclid/gclid tracking
    params (removing a now-empty query entirely), strip default ports
    and a trailing slash on bare paths. Pure regexp chain — JVM-side,
    identical semantics expressible in any SQL engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    # lowercase scheme://host (leave path/query case alone). Built with
    # concat of the extracted authority + the remainder, NOT a
    # regexp_replace with a column replacement — '$'/'\\' inside the
    # extracted text would otherwise be read as group references.
    head = F.lower(F.regexp_extract(c, r"^([A-Za-z]+://[^/?#]+)", 1))
    tail = F.regexp_replace(c, r"^[A-Za-z]+://[^/?#]+", "")
    c = F.when(head != F.lit(""), F.concat(head, tail)).otherwise(c)
    c = F.regexp_replace(c, r"#.*$", "")  # fragment
    c = F.regexp_replace(c, r"([?&])(utm_[A-Za-z]+|fbclid|gclid)=[^&]*", "$1")
    c = F.regexp_replace(c, r"[?&]+$", "")  # dangling separators
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"&&+", "&")
    # default ports: anchored to the authority and scheme-aware — a
    # ':80' later in the path must survive, and :443 is only default
    # for https (stripping it on http would merge distinct origins)
    c = F.regexp_replace(c, r"^(http://[^/:?#]+):80([/?]|$)", "$1$2")
    c = F.regexp_replace(c, r"^(https://[^/:?#]+):443([/?]|$)", "$1$2")
    c = F.regexp_replace(c, r"^(https?://[^/?]+)/$", "$1")  # bare trailing slash
    return c


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup CONTAINMENT via winnowing fingerprints
    (Schleimer et al., SIGMOD'03): containment(A in B) =
    |fp(A) ∩ fp(B)| / |fp(A)| — catches a document copied INTO a larger
    one, which symmetric Jaccard misses when sizes differ a lot.

    Same scale shape as the shingle inverted index: one join keyed on
    the fingerprint (fingerprints in more than 100,000 docs are pruned as
    stop-fingerprints; 3-word shingles, window 4), sizes
    from the unpruned sets, both directions emitted (containment is
    asymmetric). Returns (id_small, id_big, containment) rounded 6dp
    where containment >= threshold.
    """
    fps = winnowing_fingerprints(df, id_col, text_col)
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    hot = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > 100_000)
    )
    idx = fps.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = idx.select(F.col("id").alias("id_a"), "fingerprint")
    b = idx.select(F.col("id").alias("id_b"), "fingerprint")
    inter = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_fp": "n_a"}), "id_a")
        .withColumn("containment", F.round(F.col("n_inter") / F.col("n_a"), 6))
        .filter(F.col("containment") >= threshold)
        .select(F.col("id_a").alias("id_small"), F.col("id_b").alias("id_big"), "containment")
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, rates: dict[str, float], id_col: str, default_rate: float = 0.0
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    sha60(id) mod 10^6 < rate * 10^6 for its stratum's configured rate.
    Hash-based (no RNG state): the SAME rows are kept across runs,
    partitionings and cluster sizes — resumable pipelines need sampling
    to be a pure function of the row, never of task order. The rate map
    is compiled into a literal CASE chain (broadcast-free).
    """
    from finetoo_sp_spark.operators.dedup import sha60

    gate = F.lit(int(default_rate * 1_000_000))
    for stratum, rate in sorted(rates.items()):
        gate = F.when(F.col(stratum_col) == stratum, F.lit(int(rate * 1_000_000))).otherwise(gate)
    return df.filter(F.pmod(sha60(F.col(id_col).cast("string")), F.lit(1_000_000)) < gate)


def rarity_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perplexity-proxy quality signal from corpus unigram statistics
    (the CCNet/Gopher LM-filter idea without an external LM): per doc,
    the mean INVERSE corpus frequency of its words —
    avg_w(N_total / count(w)). Common-vocabulary boilerplate scores near
    its low bound; rare-vocabulary (or garbage) text scores high; both
    tails are filter candidates.

    Determinism discipline: the per-doc mean is an ORDERED left fold
    over the document's word sequence (collect (pos, inv) -> sort ->
    F.aggregate), not a groupBy sum — float addition is order-dependent,
    and the fixed order is what lets an external engine reproduce the
    double bit-for-bit. All ops are IEEE exact-rounded (div, add); no
    transcendentals. Scale: one shuffle for corpus counts (uniform word
    key, map-side combine), one join words->counts, one groupBy(id).

    Returns (id, n_words, rarity) with rarity rounded to 6dp.
    """
    from finetoo_sp_spark.session import ensure_parallelism

    words = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(text_col)).alias("pos", "w"),
    ).filter(F.length("w") > 0)
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    scored = (
        words.join(counts, "w")
        .crossJoin(F.broadcast(total))  # broadcast-scalar: one total row
        .select("id", "pos", (F.col("n_total") / F.col("cnt")).alias("inv"))
    )
    arr = scored.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "inv"))), lambda s: s["inv"]
        ).alias("invs")
    )
    fold = F.aggregate("invs", F.lit(0.0), lambda acc, x: acc + x)
    return arr.select(
        "id",
        F.size("invs").alias("n_words"),
        F.round(fold / F.size("invs"), 6).alias("rarity"),
    )


def template_ngrams(
    docs: DataFrame,
    host_col: str,
    id_col: str,
    text_col: str,
    ratio_ppm: int = 300_000,
) -> DataFrame:
    """(host, shingle, n_docs, host_pages, share_ppm) — host-level
    template/boilerplate mining: the word-bigram shingles that recur across
    at least ``ratio_ppm`` (exact integer ppm) of a host's pages, for
    hosts with 10+ pages. These are the navigation/footer
    phrases a site template stamps on every page; downstream filters
    strip them from extracted text or down-weight the host.

    Scale story (100 TB): per-doc DISTINCT shingles (one shuffle on the
    (host, shingle, doc) key, partially aggregated) -> one count per
    (host, shingle) -> equi-join of the per-host page-count dimension.
    The per-host dimension is |hosts| rows, not |pages|; skewed hosts
    split fine because the heavy key space is (host, shingle), not
    host alone. No driver-side state.
    """
    from .dedup import _norm_words  # shared canonicalization contract

    w = docs.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("id"),
        _norm_words(text_col).alias("_w"),
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_w") - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, 2)),
    )
    per_doc = (
        w.select("host", "id", F.explode(sh).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    df_counts = per_doc.groupBy("host", "shingle").agg(F.count("*").alias("n_docs"))
    hp = (
        docs.groupBy(F.col(host_col).alias("host"))
        .agg(F.count("*").alias("host_pages"))
        .filter(F.col("host_pages") >= 10)
    )
    return (
        df_counts.join(hp, "host")
        .select(
            "host",
            "shingle",
            "n_docs",
            "host_pages",
            F.expr("(n_docs * 1000000) div host_pages").alias("share_ppm"),
        )
        .filter(F.col("share_ppm") >= ratio_ppm)
    )


def script_profile(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_latin, n_cyrillic, n_han, n_digit, n_other) — per-document
    writing-system census by Unicode script, the multilingual-curation
    complement to lang-id: script-mixing spam, transliteration noise and
    wrong-script-for-claimed-language pages all surface here before any
    model-based filter runs.

    Counting is one ``regexp_count`` per script class (single-char
    patterns, so matches == characters), all JVM-side on one narrow
    pass; n_other = everything else except whitespace. Java and RE2
    agree on the script properties used (Latin/Cyrillic/Han/digit), so
    the DuckDB twin reproduces every count.
    """
    t = F.col(text_col)
    n_latin = F.expr(f"regexp_count({text_col}, '\\\\p{{IsLatin}}')")
    n_cyr = F.expr(f"regexp_count({text_col}, '\\\\p{{IsCyrillic}}')")
    n_han = F.expr(f"regexp_count({text_col}, '\\\\p{{IsHan}}')")
    n_digit = F.expr(f"regexp_count({text_col}, '[0-9]')")
    n_space = F.expr(f"regexp_count({text_col}, '\\\\s')")
    return docs.select(
        F.col(id_col).alias("id"),
        n_latin.cast("long").alias("n_latin"),
        n_cyr.cast("long").alias("n_cyrillic"),
        n_han.cast("long").alias("n_han"),
        n_digit.cast("long").alias("n_digit"),
        (F.length(t) - n_latin - n_cyr - n_han - n_digit - n_space)
        .cast("long")
        .alias("n_other"),
    )


def gopher_rules(
    df: DataFrame, id_col: str, text_col: str, passthrough: list[str] | None = None
) -> DataFrame:
    """(id, [passthrough...,] n_words, mean_word_len, symbol_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, keep) — the
    Gopher repetition-free
    document-quality rules (Rae et al. 2021 §A.1.1, the public recipe
    behind MassiveText; complements quality_scores' C4-style features):

      keep iff 50 <= n_words <= 100000
           and 3 <= mean_word_len <= 10
           and symbol_ratio <= 0.1        (# and ... per word)
           and bullet_line_frac <= 0.9    (lines starting with a bullet)
           and ellipsis_line_frac <= 0.3  (lines ending with ...)
           and alpha_word_frac >= 0.8     (words containing a letter)

    All JVM column expressions over one staged pass (words + lines bound
    once each); ratios rounded to 4 dp at the boundary so the DuckDB twin
    matches bit-for-bit. No reference analogue — this is the
    training-pipeline extension surface.
    """
    extra = list(passthrough or [])
    staged = df.select(
        F.col(id_col).alias("id"),
        *extra,
        F.col(text_col).alias("_text"),
        _words(text_col).alias("_w"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    words, lines, t = F.col("_w"), F.col("_lines"), F.col("_text")
    n_words = F.size(words)
    n_lines = F.size(lines)
    sum_wl = F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    mean_wl = F.round(sum_wl / F.greatest(n_words, F.lit(1)), 4)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1)), 4)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("*"))
    )
    n_ell_line = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    bullet_frac = F.round(n_bullet / F.greatest(n_lines, F.lit(1)), 4)
    ell_frac = F.round(n_ell_line / F.greatest(n_lines, F.lit(1)), 4)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_frac = F.round(n_alpha / F.greatest(n_words, F.lit(1)), 4)
    out = staged.select(
        "id",
        *extra,
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
    )
    return out.withColumn(
        "keep",
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8),
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(pair, cnt) — the ``BPE_TOP_K`` most frequent corpus-wide adjacent
    character pairs, i.e.
    the candidate table for the FIRST byte-pair-encoding merge (Sennrich
    2016): the foundation of vocabulary induction over a training corpus.

    Scale shape: occurrences collapse to the VOCABULARY before the pair
    explode — groupBy(word) first, then explode length(w)-1 pairs per
    DISTINCT word weighted by its count. The explode factor applies to
    vocab size (slow-growing, Heaps' law), not corpus size; the final agg
    keys on a ~1k-row pair space, so the last shuffle is tiny. Ordering is
    (cnt desc, pair asc) — fully deterministic under ties.
    """
    words = df.select(F.explode(_words(text_col)).alias("w")).filter(F.length("w") >= 2)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    pairs = vocab.select(
        F.explode(F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).alias(
            "pair"
        ),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


def sentence_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_sentences, n_words, avg_sentence_words) — sentence
    segmentation by terminal punctuation runs ([.!?]+ followed by
    whitespace or end), with the words-per-sentence mean rounded to 4 dp.
    One narrow JVM pass (split + filter + size); the splitter regex is
    shared verbatim with the DuckDB twin.
    """
    staged = df.select(
        F.col(id_col).alias("id"),
        _words(text_col).alias("_w"),
        F.split(F.col(text_col), r"[.!?]+(\s+|$)").alias("_s"),
    )
    n_sent = F.size(F.filter(F.col("_s"), lambda s: F.length(F.trim(s)) > 0))
    n_words = F.size(F.col("_w"))
    return staged.select(
        "id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        F.round(n_words / F.greatest(n_sent, F.lit(1)), 4).alias("avg_sentence_words"),
    )


# ---------------------------------------------------------------------------
# Multilingual (space-free-script-aware) segmentation
# ---------------------------------------------------------------------------

# Character classes whose scripts write WITHOUT word spaces: whitespace
# tokenization sees a whole Chinese/Japanese/Thai document as ~1 "word".
# The mC4/CCNet convention (Xue et al. 2021; Wenzek et al. 2020) is to
# count each such character as its own token. Java \p{IsX} and RE2 \p{X}
# agree on all five script sets (verified), so the DuckDB twin can
# recompute every count.
_SPACEFREE_JAVA = (
    "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}\\p{IsThai}]"
)


def token_counts_multilingual(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_chars, n_cjk, n_space_words, n_words_seg, n_tokens_est) —
    segmentation-aware token counting for mixed-script corpora.

    - n_cjk: characters from space-free scripts (Han, Hiragana,
      Katakana, Hangul, Thai) — each counts as one word/token.
    - n_space_words: whitespace words of the text with space-free
      characters scrubbed to spaces (so "word漢字word" still yields 2
      Latin words), 0 when nothing remains.
    - n_words_seg = n_space_words + n_cjk — the mC4 mixed-script word
      count; for pure-Latin text this equals token_counts.n_words.
    - n_tokens_est = ceil(non-CJK chars / 4) + n_cjk — the chars/4 BPE
      proxy applied only to the spaced portion; CJK characters cost ~1
      token each under all public BPE vocabularies.

    One narrow JVM pass (two regexp_counts + one scrub/split), no UDF,
    no shuffle — identical plan shape to token_counts.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    # F.regexp_count with a lit pattern: the raw regex reaches Java
    # without a second SQL-literal unescaping pass
    n_cjk = F.regexp_count(t, F.lit(_SPACEFREE_JAVA)).cast("long")
    scrubbed = F.trim(
        F.regexp_replace(
            F.regexp_replace(t, _SPACEFREE_JAVA, " "), r"\s+", " "
        )
    )
    n_space_words = F.when(scrubbed == "", F.lit(0)).otherwise(
        F.size(F.split(scrubbed, " "))
    ).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        n_cjk.alias("n_cjk"),
        n_space_words.alias("n_space_words"),
        (n_space_words + n_cjk).alias("n_words_seg"),
        (F.ceil((n_chars - n_cjk) / 4) + n_cjk).cast("long").alias("n_tokens_est"),
    )


def lang_id_script(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pred_lang, marker_hits, script_hits) — lang_id with a
    writing-system fallback for the languages stopword voting cannot
    see (no spaces → no marker words).

    When marker voting yields a hit, its verdict stands (same rules as
    lang_id). When it yields zero hits, the script census votes:
    any kana → 'ja' (kana is unique to Japanese; Japanese pages always
    carry some), else any Hangul → 'ko', else any Thai → 'th', else
    any Han → 'zh' (Han with no kana and no Hangul), else 'und'.
    script_hits is the winning script's character count (0 for
    marker-voted or 'und' rows).

    Pure column ops (the lang_id chain + four regexp_counts); one
    narrow pass, no shuffle.
    """
    w = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_t"),
        _words(text_col).alias("_w"),
    )
    counted = w.select(
        "id",
        *[
            F.size(F.filter(F.col("_w"), lambda x: x.isin(ws))).alias(f"_c_{lang}")
            for lang, ws in sorted(STOPWORDS.items())
        ],
        F.expr("regexp_count(_t, '[\\\\p{IsHiragana}\\\\p{IsKatakana}]')").alias("_kana"),
        F.expr("regexp_count(_t, '\\\\p{IsHangul}')").alias("_hang"),
        F.expr("regexp_count(_t, '\\\\p{IsThai}')").alias("_thai"),
        F.expr("regexp_count(_t, '\\\\p{IsHan}')").alias("_han"),
    )
    counts = {lang: F.col(f"_c_{lang}") for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    marker_pred = F.lit("und")
    for lang in sorted(counts, reverse=True):
        marker_pred = F.when(
            (counts[lang] > 0) & (counts[lang] == best), F.lit(lang)
        ).otherwise(marker_pred)
    kana, hang, thai, han = (
        F.col("_kana"), F.col("_hang"), F.col("_thai"), F.col("_han"),
    )
    script_pred = (
        F.when(kana > 0, F.lit("ja"))
        .when(hang > 0, F.lit("ko"))
        .when(thai > 0, F.lit("th"))
        .when(han > 0, F.lit("zh"))
        .otherwise(F.lit("und"))
    )
    script_hits = (
        F.when(kana > 0, kana)
        .when(hang > 0, hang)
        .when(thai > 0, thai)
        .when(han > 0, han)
        .otherwise(F.lit(0))
    )
    use_script = best == 0
    return counted.select(
        "id",
        F.when(use_script, script_pred).otherwise(marker_pred).alias("pred_lang"),
        best.cast("long").alias("marker_hits"),
        F.when(use_script & (script_pred != "und"), script_hits)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("script_hits"),
    )
