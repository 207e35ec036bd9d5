"""Vectorized extraction kernels (no Spark imports).

This module is the per-batch "inner loop" that runs inside ``mapInArrow``
on executors. It returns a ``pa.RecordBatch`` in the Arrow schema Spark
expects back (:data:`EXTRACT_ARROW_SCHEMA`, :data:`BLOCKS_ARROW_SCHEMA`),
built from the Arrow arrays it computes, so no output column goes through
a per-row pandas conversion. It re-expresses the reference's *stateful,
per-row* C++ parser as *per-batch columnar* ops:

- reference pair tokenizer (src/parser/dxf_text_parser.cc:124-156, 2-line
  code/value framing)  ->  one regex that partitions the HTML stream into
  tag / text tokens; all per-token work then runs on Arrow string arrays
  (pyarrow.compute, C++ kernels) and numpy int arrays — the only
  per-element Python is the initial findall (one C-regex call per doc);
- reference section state machine (dxf_text_parser.cc:62-122, cumulative
  SECTION/ENDSEC tracking)  ->  segmented cumulative sums over the token
  arrays (block ids, anchor depth, raw-text-region depth);
- reference region classification (docs/SEMANTIC_UNDERSTANDING.md:7-60,
  "parts vs annotations via schema flags, not hardcoded per-type rules")
  ->  text-density / link-density block scoring (Boilerpipe/trafilatura
  family), via np.add.reduceat over contiguous block segments.

Determinism contract (BASELINE.json: "byte-identical extracted text per
url"): every output column is a pure function of (url, html) — no wall
clock, no partition order, no dict iteration order. The same page yields
the same bytes under any partitioning. Whitespace collapsing uses RE2's
ASCII ``\\s`` class (pyarrow); exotic unicode whitespace is preserved —
deterministically — rather than collapsed. The collapse and the entity
unescape run only on the rows they can change (:func:`_on_rows`): rows
with a ``[\\t\\n\\f\\r]`` or two spaces in a row, rows with an ``&``. The
gate tests the same ASCII class, so every other row is left as the
ungated pass would leave it.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# --- tokenizer ----------------------------------------------------------
# Partitions the document completely: every char belongs to exactly one
# token, so cumulative token lengths give exact char offsets (spans).
# Third alternative: an unterminated trailing tag (truncated page) —
# without it the tail would be silently dropped and offsets would no
# longer partition the input (found by hypothesis).
_TOKEN_RE = re.compile(r"<[^>]*>|[^<]+|<[^>]*\Z", re.S)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_TAG_NAME_PAT = r"^</?\s*(?P<t>[a-zA-Z][a-zA-Z0-9]*)"

# Tags that open a new logical block/region (reference analogue: a DXF
# BLOCK / SECTION boundary, dxf_text_parser.cc:182-258).
_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tr td th
    section article header footer nav aside main blockquote pre br hr form
    figure figcaption title body html head fieldset address""".split()
)
# Raw-text containers whose inner text is never content.
_EXCLUDE_TAGS = frozenset("script style noscript template svg".split())
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# Classification thresholds (documented constants; the synthetic corpus and
# hand-written fixtures are authored against exactly these).
MIN_CONTENT_WORDS = 10  # plain block needs >= 10 words ...
MAX_LINK_DENSITY = 0.33  # ... and < 1/3 of its chars inside <a>
MIN_HEADING_WORDS = 1  # headings count with >= 1 word and no links

_ENTITIES = [  # order matters: &amp; must be decoded last
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

_WS_RE = re.compile(r"\s+")

_TITLE_PAT = r"(?is)<title[^>]*>(?P<t>.*?)</title>"
_LANG_PAT = r'(?i)<html[^>]*\blang\s*=\s*["\']?(?P<t>[a-zA-Z-]+)'
_HREF_RE = re.compile(r'<a\s[^>]*href\s*=\s*["\']?([^"\'>\s]+)', re.I)
_ANCHOR_RE = re.compile(
    r'<a\s[^>]*href\s*=\s*["\']?([^"\'>\s]+)[^>]*>(.*?)</a>', re.I | re.S
)
_TAG_RE = re.compile(r"<[^>]*>")
_HOST_RE = re.compile(r"^(https?://[^/]+)", re.I)

_STR = pa.large_string()
_EMPTY = pa.scalar("", type=_STR)
# a row the ``\s+`` -> " " collapse changes: one of RE2's ASCII ``\s``
# other than the space, or two spaces in a row
_COLLAPSIBLE_PAT = r"[\t\n\f\r]|  "

# The output batches, in the Arrow types Spark's ``to_arrow_schema`` gives
# for the Spark schemas derived from them (extract.EXTRACT_SCHEMA,
# graph.BLOCKS_SCHEMA): ``string`` not ``large_string``, and the span
# offsets non-nullable inside their nullable list element.
_SPAN_TYPE = pa.struct(
    [
        pa.field("start", pa.int64(), nullable=False),
        pa.field("end", pa.int64(), nullable=False),
        pa.field("tag", pa.string()),
    ]
)
EXTRACT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),  # a null-url page is kept, not fatal
        pa.field("text", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("element", _SPAN_TYPE)), nullable=False),
        pa.field("title", pa.string()),
        pa.field("h1", pa.string()),
        pa.field("lang_attr", pa.string()),
        pa.field("n_blocks", pa.int64(), nullable=False),
        pa.field("n_content_blocks", pa.int64(), nullable=False),
        pa.field("content_chars", pa.int64(), nullable=False),
    ]
)
BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),  # a null-url page is kept, not fatal
        pa.field("block_id", pa.int64(), nullable=False),
        pa.field("tag", pa.string()),
        pa.field("text", pa.string(), nullable=False),
        pa.field("n_words", pa.int64(), nullable=False),
        pa.field("n_chars", pa.int64(), nullable=False),
        pa.field("link_density", pa.float64(), nullable=False),
        pa.field("is_content", pa.bool_(), nullable=False),
        pa.field("span_start", pa.int64(), nullable=False),
        pa.field("span_end", pa.int64(), nullable=False),
    ]
)


def _on_rows(arr: pa.Array, mask: pa.Array, fn) -> pa.Array:
    """``fn(arr)``, computed only on the rows where ``mask`` is true: the
    other rows must be ones ``fn`` leaves unchanged."""
    mask = mask.fill_null(False)
    if not pc.any(mask).as_py():
        return arr
    return pc.replace_with_mask(arr, mask, fn(arr.filter(mask)))


def _unescape_all(arr: pa.Array) -> pa.Array:
    for ent, ch in _ENTITIES:
        arr = pc.replace_substring(arr, pattern=ent, replacement=ch)
    return arr


def _unescape_arrow(arr: pa.Array) -> pa.Array:
    """Decode the entities of ``_ENTITIES``; every one starts with ``&``."""
    return _on_rows(arr, pc.match_substring(arr, pattern="&"), _unescape_all)


def _collapse_ws(arr: pa.Array) -> pa.Array:
    """Replace each run of RE2's ASCII ``\\s`` with one space."""
    return _on_rows(
        arr,
        pc.match_substring_regex(arr, pattern=_COLLAPSIBLE_PAT),
        lambda a: pc.replace_substring_regex(a, pattern=r"\s+", replacement=" "),
    )


def _extract_named(arr: pa.Array, pattern: str) -> pa.Array:
    """extract_regex -> the single named group as a string array (null
    where no match)."""
    st = pc.extract_regex(arr, pattern=pattern)
    return pc.struct_field(st, [0])


def _norm_arrow(arr: pa.Array) -> pa.Array:
    """Unescape entities, collapse whitespace runs, trim."""
    return pc.utf8_trim_whitespace(_collapse_ws(_unescape_arrow(arr)))


def _seg_cumsum_multi(rows: list[np.ndarray], offsets: np.ndarray, doc: np.ndarray) -> list[np.ndarray]:
    """Segmented cumsum of several same-length arrays.

    Measured fastest as four independent 1-D passes with np.repeat for
    the per-doc base (~3x over the earlier fused 2-D cumsum + fancy
    base[:, doc] gather: the vstack copy and the 2-D gather's scattered
    reads cost more than the loop saves)."""
    if len(doc) == 0:
        return rows
    starts = offsets[:-1]
    counts = np.diff(offsets)
    out = []
    for r in rows:
        c = np.cumsum(r)
        base = np.where(starts > 0, c[np.maximum(starts, 1) - 1], 0)
        out.append(c - np.repeat(base, counts))
    return out


def decode_html(html: pd.Series) -> pd.Series:
    """binary -> str; deterministic utf-8 with replacement.

    The path is chosen from the first non-null value: a batch that opens
    with a null page still decodes its bytes with replacement, never
    strictly (which would fail the whole task on one invalid byte)."""
    valid = html.notna().to_numpy()
    if valid.any() and isinstance(html.iloc[valid.argmax()], (bytes, bytearray)):
        return html.str.decode("utf-8", errors="replace")
    return html.astype("string").astype(object)


class TokenFrame:
    """Columnar token stream for one batch of documents.

    Arrays (length = total tokens across the batch, grouped by doc in
    input order): ``doc`` int64, ``tok``/``tag``/``block_tag`` arrow
    strings, the rest numpy. ``offsets`` marks doc boundaries.
    """

    __slots__ = (
        "n_docs", "offsets", "doc", "tok", "start", "end", "is_tag",
        "is_close", "tag", "in_link", "in_excluded", "block_id", "block_tag",
    )

    def __init__(self, n_docs: int, offsets, doc, tok, start, end, is_tag,
                 is_close, tag, in_link, in_excluded, block_id, block_tag):
        self.n_docs = n_docs
        self.offsets = offsets
        self.doc = doc
        self.tok = tok
        self.start = start
        self.end = end
        self.is_tag = is_tag
        self.is_close = is_close
        self.tag = tag
        self.in_link = in_link
        self.in_excluded = in_excluded
        self.block_id = block_id
        self.block_tag = block_tag


def _isin_mask(arr: pa.Array, values: frozenset) -> np.ndarray:
    return pc.is_in(arr, value_set=pa.array(sorted(values), type=_STR)).fill_null(
        False
    ).to_numpy(zero_copy_only=False)


def tokenize_arrays(html_text: pd.Series) -> TokenFrame:
    """Explode documents into columnar token arrays with doc-relative char
    offsets and structural annotations. The hot path: one Python-level
    regex call per doc, then Arrow/numpy only."""
    n_docs = len(html_text)
    stripped = html_text.str.replace(_COMMENT_RE, "", regex=True)
    toks = [_TOKEN_RE.findall(s) if isinstance(s, str) else [] for s in stripped]
    counts = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n_docs)
    offsets = np.concatenate(([0], np.cumsum(counts)))
    n = int(offsets[-1])
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), counts)

    flat = pa.array(
        [t for ts in toks for t in ts], type=_STR, size=n
    ) if n else pa.array([], type=_STR)

    lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False).astype(np.int64) if n else np.zeros(0, np.int64)

    is_tag = pc.starts_with(flat, pattern="<").to_numpy(zero_copy_only=False) if n else np.zeros(0, bool)
    is_close = pc.starts_with(flat, pattern="</").to_numpy(zero_copy_only=False) if n else np.zeros(0, bool)
    tag = pc.utf8_lower(_extract_named(flat, _TAG_NAME_PAT)) if n else pa.array([], type=_STR)

    is_a = pc.equal(tag, "a").fill_null(False).to_numpy(zero_copy_only=False) if n else np.zeros(0, bool)
    a_delta = np.where(is_a & ~is_close, 1, 0) - np.where(is_a & is_close, 1, 0)

    is_excl = _isin_mask(tag, _EXCLUDE_TAGS) if n else np.zeros(0, bool)
    x_delta = np.where(is_excl & ~is_close, 1, 0) - np.where(is_excl & is_close, 1, 0)

    # block segmentation: any block-level tag (open or close) starts a new
    # region — the cumsum trick from the reference's section splitter.
    boundary = (is_tag & _isin_mask(tag, _BLOCK_TAGS)) if n else np.zeros(0, bool)

    end, link_depth, excl_depth, block_id = _seg_cumsum_multi(
        [lens, a_delta, x_delta, boundary.astype(np.int64)], offsets, doc
    )
    start = end - lens
    in_link = link_depth > 0
    in_excluded = excl_depth > 0

    # block_tag = tag that opened this region: per-doc forward-fill of the
    # open-boundary tags (vectorized ffill via maximum.accumulate).
    if n:
        src = np.full(n, -1, dtype=np.int64)
        open_idx = np.flatnonzero(boundary & ~is_close)
        src[open_idx] = open_idx
        np.maximum.accumulate(src, out=src)
        doc_start = np.repeat(offsets[:-1], counts)
        valid = src >= doc_start
        take_idx = pa.array(np.where(valid, src, 0), mask=~valid)
        block_tag = tag.take(take_idx)
    else:
        block_tag = pa.array([], type=_STR)

    return TokenFrame(
        n_docs, offsets, doc, flat, start, end, is_tag, is_close, tag,
        in_link, in_excluded, block_id, block_tag,
    )


class BlockFrame:
    """One row per non-empty text block: columnar arrays."""

    __slots__ = (
        "doc", "block_id", "block_tag", "text", "n_chars", "link_chars",
        "n_words", "link_density", "is_heading", "is_content",
        "span_start", "span_end",
    )

    def __init__(self, **kw):
        for k in self.__slots__:
            setattr(self, k, kw[k])


_EMPTY_BLOCKS = dict(
    doc=np.zeros(0, np.int64), block_id=np.zeros(0, np.int64),
    block_tag=pa.array([], type=_STR), text=pa.array([], type=_STR),
    n_chars=np.zeros(0, np.int64), link_chars=np.zeros(0, np.int64),
    n_words=np.zeros(0, np.int64), link_density=np.zeros(0, np.float64),
    is_heading=np.zeros(0, bool), is_content=np.zeros(0, bool),
    span_start=np.zeros(0, np.int64), span_end=np.zeros(0, np.int64),
)


def classify_arrays(tf: TokenFrame) -> BlockFrame:
    """Aggregate the token stream to one row per (doc, block) with density
    features and the content/boilerplate verdict. Contiguity of blocks in
    the token stream lets every aggregate be a reduceat over segment
    starts — no hash groupby."""
    keep = ~tf.is_tag & ~tf.in_excluded
    if not keep.any():
        return BlockFrame(**_EMPTY_BLOCKS)

    idx = np.flatnonzero(keep)
    doc_f = tf.doc[idx]
    block_f = tf.block_id[idx]
    clean = _unescape_arrow(tf.tok.take(pa.array(idx)))
    clean_len = pc.utf8_length(clean).to_numpy(zero_copy_only=False).astype(np.int64)
    link_chars_f = np.where(tf.in_link[idx], clean_len, 0)

    # contiguous (doc, block) segments
    seg_change = np.empty(len(idx), dtype=bool)
    seg_change[0] = True
    seg_change[1:] = (doc_f[1:] != doc_f[:-1]) | (block_f[1:] != block_f[:-1])
    starts = np.flatnonzero(seg_change)
    seg_offsets = np.concatenate((starts, [len(idx)]))

    raw = pc.binary_join(
        pa.LargeListArray.from_arrays(seg_offsets.astype(np.int64), clean), _EMPTY
    )
    raw_len = np.add.reduceat(clean_len, starts)
    link_chars = np.add.reduceat(link_chars_f, starts)
    span_start = tf.start[idx][starts]
    last = seg_offsets[1:] - 1
    span_end = tf.end[idx][last]
    block_tag_b = tf.block_tag.take(pa.array(idx[starts]))
    doc_b = doc_f[starts]
    block_id_b = block_f[starts]

    text = pc.utf8_trim_whitespace(_collapse_ws(raw))
    n_chars = pc.utf8_length(text).to_numpy(zero_copy_only=False).astype(np.int64)

    nonempty = n_chars > 0
    if not nonempty.all():
        sel = pa.array(np.flatnonzero(nonempty))
        text = text.take(sel)
        block_tag_b = block_tag_b.take(sel)
        doc_b, block_id_b = doc_b[nonempty], block_id_b[nonempty]
        raw_len, link_chars = raw_len[nonempty], link_chars[nonempty]
        span_start, span_end = span_start[nonempty], span_end[nonempty]
        n_chars = n_chars[nonempty]

    n_words = (
        pc.count_substring(text, pattern=" ").to_numpy(zero_copy_only=False).astype(np.int64)
        + 1
    )
    link_density = link_chars / np.maximum(raw_len, 1)
    is_heading = _isin_mask(block_tag_b, _HEADING_TAGS)
    is_title = pc.equal(block_tag_b, "title").fill_null(False).to_numpy(zero_copy_only=False)
    is_content = ~is_title & (
        ((link_density < MAX_LINK_DENSITY) & (n_words >= MIN_CONTENT_WORDS))
        | (is_heading & (link_chars == 0) & (n_words >= MIN_HEADING_WORDS))
    )
    return BlockFrame(
        doc=doc_b, block_id=block_id_b, block_tag=block_tag_b, text=text,
        n_chars=n_chars, link_chars=link_chars, n_words=n_words,
        link_density=link_density, is_heading=is_heading,
        is_content=is_content, span_start=span_start, span_end=span_end,
    )


def _resolve_hrefs(out: pd.DataFrame) -> pd.DataFrame:
    """Resolve each row's ``target`` href against its page ``url`` and keep
    only http(s) targets: a protocol-relative ``//host/path`` takes the
    page's scheme, any other root-relative ``/path`` the page's scheme and
    host."""
    host = out["url"].str.extract(_HOST_RE, expand=False).fillna("")
    scheme = host.str.extract(r"^([^:]*:)", expand=False).fillna("")
    t = out["target"]
    out["target"] = np.where(
        t.str.startswith("//"), scheme + t, np.where(t.str.startswith("/"), host + t, t)
    )
    return out[out["target"].str.match(r"https?://", na=False)]


def extract_links(urls: pd.Series, html_text: pd.Series) -> pd.DataFrame:
    """Per-page outbound links, relative hrefs resolved against the page
    host (reference analogue: INSERT -> block REFERENCES edges,
    src/graph/graph_builder.cc:41-61). Returns columns (url, target)."""
    urls = urls.reset_index(drop=True)
    html_text = html_text.reset_index(drop=True)
    hrefs = html_text.str.findall(_HREF_RE)
    out = pd.DataFrame({"url": urls, "target": hrefs}).explode("target").dropna(
        subset=["target"]
    )
    if out.empty:
        return pd.DataFrame({"url": pd.Series(dtype=object), "target": pd.Series(dtype=object)})
    return _resolve_hrefs(out).reset_index(drop=True)


def extract_anchors(urls: pd.Series, html_text: pd.Series) -> pd.DataFrame:
    """Per-page outbound links WITH their visible anchor text — the
    classic web-corpus signal (anchor text describing the *target* page,
    used for retrieval and anchor-conditioned pretraining data).

    Same href resolution as :func:`extract_links` (``//`` -> page
    scheme, other relative -> page host, non-http dropped); anchor text
    is the <a>...</a> inner HTML with nested tags stripped and
    whitespace collapsed. Links whose
    anchor is empty after stripping (image-only anchors) are kept with
    anchor ''. Returns columns (url, target, anchor).
    """
    urls = urls.reset_index(drop=True)
    html_text = html_text.reset_index(drop=True)
    pairs = html_text.str.findall(_ANCHOR_RE)
    out = pd.DataFrame({"url": urls, "pair": pairs}).explode("pair").dropna(
        subset=["pair"]
    )
    if out.empty:
        return pd.DataFrame(
            {
                "url": pd.Series(dtype=object),
                "target": pd.Series(dtype=object),
                "anchor": pd.Series(dtype=object),
            }
        )
    out["target"] = out["pair"].str[0]
    anchor = out["pair"].str[1].str.replace(_TAG_RE, "", regex=True)
    out["anchor"] = anchor.str.replace(_WS_RE, " ", regex=True).str.strip()
    return _resolve_hrefs(out)[["url", "target", "anchor"]].reset_index(drop=True)


def blocks_arrow(urls: pd.Series, html: pd.Series) -> pa.RecordBatch:
    """Per-batch block-level extraction: one row per non-empty DOM region,
    as a :data:`BLOCKS_ARROW_SCHEMA` batch with ``tag`` null-filled to ''.

    The relational 'block node' feed for the property graph (reference
    analogue: DXFBlock -> block nodes, graph_builder.cc:137-170).
    """
    b = classify_arrays(tokenize_arrays(decode_html(html.reset_index(drop=True))))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string(), from_pandas=True).take(pa.array(b.doc)),
            pa.array(b.block_id),
            b.block_tag.fill_null("").cast(pa.string()),
            b.text.cast(pa.string()),
            pa.array(b.n_words),
            pa.array(b.n_chars),
            pa.array(b.link_density),
            pa.array(b.is_content),
            pa.array(b.span_start),
            pa.array(b.span_end),
        ],
        schema=BLOCKS_ARROW_SCHEMA,
    )


def blocks_batch(urls: pd.Series, html: pd.Series) -> pd.DataFrame:
    """:func:`blocks_arrow` as a pandas DataFrame."""
    return blocks_arrow(urls, html).to_pandas()


def extract_batch(urls: pd.Series, html: pd.Series) -> pa.RecordBatch:
    """Full per-batch extraction: (url, html) -> one row per page, as an
    :data:`EXTRACT_ARROW_SCHEMA` batch.

    Output columns: url, text (main content, blocks joined by '\\n'),
    spans (list of (start, end, tag) structs — char offsets into the
    decoded, comment-stripped HTML), title, h1, lang_attr, n_blocks,
    n_content_blocks, content_chars.
    """
    html_text = decode_html(html.reset_index(drop=True))
    n_docs = len(html_text)

    tf = tokenize_arrays(html_text)
    b = classify_arrays(tf)

    # per-doc joined content text via list-of-strings join (C++)
    content = np.flatnonzero(b.is_content)
    doc_c = b.doc[content]
    text_c = b.text.take(pa.array(content))
    counts_c = np.bincount(doc_c, minlength=n_docs)
    join_offsets = np.concatenate(([0], np.cumsum(counts_c))).astype(np.int64)
    # interleave "\n" separators by joining with a separator scalar
    text_per_doc = pc.binary_join(
        pa.LargeListArray.from_arrays(join_offsets, text_c), pa.scalar("\n", type=_STR)
    )

    content_chars = np.zeros(n_docs, dtype=np.int64)
    np.add.at(content_chars, doc_c, b.n_chars[content])
    n_blocks = np.bincount(b.doc, minlength=n_docs)

    # spans: the content blocks as list<struct<start,end,tag>>, sharing
    # the per-doc offsets of the text join above
    span_items = pa.StructArray.from_arrays(
        [
            pa.array(b.span_start[content], pa.int64()),
            pa.array(b.span_end[content], pa.int64()),
            b.block_tag.take(pa.array(content)).fill_null("").cast(pa.string()),
        ],
        fields=list(_SPAN_TYPE),
    )
    spans = pa.ListArray.from_arrays(
        join_offsets.astype(np.int32), span_items, type=EXTRACT_ARROW_SCHEMA.field("spans").type
    )

    # typed schema fields (reference analogue: typed field mapping,
    # proto/graph.proto:213-298 CAD messages; here: title/h1/lang).
    doc_arrow = pa.array(html_text.astype(object), type=_STR, from_pandas=True)
    title = _norm_arrow(_extract_named(doc_arrow, _TITLE_PAT).fill_null(""))
    lang_attr = _extract_named(doc_arrow, _LANG_PAT).fill_null("")

    # h1: the text of each doc's first h1 block, '' where it has none
    h1_idx = np.flatnonzero(pc.equal(b.block_tag, "h1").fill_null(False).to_numpy(zero_copy_only=False))
    docs_h1, first_pos = np.unique(b.doc[h1_idx], return_index=True)
    h1_pos = np.full(n_docs, -1, dtype=np.int64)
    h1_pos[docs_h1] = h1_idx[first_pos]
    h1 = b.text.take(pa.array(h1_pos, mask=h1_pos < 0)).fill_null("")

    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string(), from_pandas=True),
            text_per_doc.cast(pa.string()),
            spans,
            title.cast(pa.string()),
            h1.cast(pa.string()),
            lang_attr.cast(pa.string()),
            pa.array(n_blocks, pa.int64()),
            pa.array(counts_c, pa.int64()),
            pa.array(content_chars),
        ],
        schema=EXTRACT_ARROW_SCHEMA,
    )
