"""HTML → text extraction for crawl ingestion — the step between "we
have WARC/HTML payloads" and every text operator in this repo
(quality, dedup, lang-id, tokenization).

Two lanes, matching the repo's UDF policy:

- :func:`html_strip` — a pure JVM-side ``regexp_replace`` chain
  (whole-stage codegen, no Python): drops script/style/comment blocks,
  tags, decodes the common entities, collapses whitespace.  The fast
  path for bulk stripping where boilerplate is acceptable.
- :func:`extract_main_text` — Arrow ``mapInPandas`` boilerplate
  removal in the jusText/readability spirit: the document splits into
  block-level segments, each scored by link density (anchor-text chars
  / total chars) and length; navigation, menus and link farms score
  high density / short length and are dropped, article prose survives.
  Stdlib ``html.parser`` does the tokenization (:func:`_segments`) —
  no external deps.  It is the per-page cost of the crawl path
  (SCALE_NOTES.md "Crawl front-door probes", at commit faebac6); a
  faster tokenizer would replace that one kernel and leave the
  mapInPandas shape as it is.

At 100 TB both lanes are embarrassingly parallel per document; the
regex lane is preferred wherever its output is good enough (it stays
in codegen), the parser lane costs one Arrow hop like every other
custom kernel here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BLOCK_RE = (
    r"(?is)<(?:script|style|noscript|template)\b[^>]*>.*?"
    r"</(?:script|style|noscript|template)>"
)
_COMMENT_RE = r"(?s)<!--.*?-->"
_TAG_RE = r"(?s)<[^>]*>"

_ENTITIES = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
]


def html_strip(col: Column | str) -> Column:
    """Tag-strip HTML to plain text, JVM-side only: block elements
    (script/style/noscript/template) and comments drop with their
    content, remaining tags drop keeping their text, common entities
    decode, whitespace collapses.  Boilerplate (nav, footers) is NOT
    removed — that is :func:`extract_main_text`'s job."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _BLOCK_RE, " ")
    c = F.regexp_replace(c, _COMMENT_RE, " ")
    # block-level closers become newline-ish separators so words from
    # adjacent blocks don't fuse
    c = F.regexp_replace(
        c, r"(?i)</(?:p|div|li|tr|h[1-6]|br|td|section|article)>", " \n"
    )
    c = F.regexp_replace(c, _TAG_RE, " ")
    for ent, rep in _ENTITIES:
        c = F.regexp_replace(c, ent, rep)
    # numeric entities: decimal only, the overwhelmingly common form
    c = F.regexp_replace(c, r"&#\d+;", " ")
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.trim(c)


_BLOCK_TAGS = {
    "p", "div", "li", "ul", "ol", "tr", "td", "table", "h1", "h2", "h3",
    "h4", "h5", "h6", "br", "section", "article", "header", "footer",
    "nav", "aside", "blockquote", "pre",
}
_DROP_TAGS = {"script", "style", "noscript", "template"}


def _segments(html: str) -> list[tuple[str, int, int]]:
    """Parse into block segments: (text, total_chars, anchor_chars)."""
    from html.parser import HTMLParser

    segs: list[tuple[str, int, int]] = []

    class P(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.buf: list[str] = []
            self.total = 0
            self.anchor = 0
            self.in_anchor = 0
            self.in_drop = 0

        def flush(self) -> None:
            text = " ".join("".join(self.buf).split())
            if text:
                segs.append((text, self.total, self.anchor))
            self.buf, self.total, self.anchor = [], 0, 0

        def handle_starttag(self, tag, attrs) -> None:
            if tag in _DROP_TAGS:
                self.in_drop += 1
            elif tag == "a":
                self.in_anchor += 1
            elif tag in _BLOCK_TAGS:
                self.flush()

        def handle_endtag(self, tag) -> None:
            if tag in _DROP_TAGS:
                self.in_drop = max(0, self.in_drop - 1)
            elif tag == "a":
                self.in_anchor = max(0, self.in_anchor - 1)
            elif tag in _BLOCK_TAGS:
                self.flush()

        def handle_data(self, data) -> None:
            if self.in_drop:
                return
            self.buf.append(data)
            n = len(data.strip())
            self.total += n
            if self.in_anchor:
                self.anchor += n

    p = P()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass  # malformed HTML: keep whatever parsed
    p.flush()
    return segs


_HREF_RE = r"""(?i)<a\s[^>]*href\s*=\s*["']?(https?://[^"'\s>#]+)"""


def extract_outlinks(col: Column | str) -> Column:
    """Absolute http(s) outlink URLs from raw HTML, JVM-side only
    (``regexp_extract_all`` — whole-stage codegen, no Python hop):
    one ``array<string>`` of distinct href targets per page.  Scheme-
    relative, relative and fragment-only links are deliberately out —
    the consumer is the HOST-level link graph (pipelines/crawl_corpus.
    host_link_graph), where same-host relative links would only add
    self-loops PageRank drops anyway.  Fragments are cut at ``#``;
    query strings are kept (registered_domain ignores them).

    ``<script>``/``<style>`` bodies and ``<!-- comments -->`` are
    stripped first (r11 ADVICE: anchors inside them are not links a
    browser renders, and they'd add phantom edges to the host graph) —
    script spans before comments, matching how an HTML tokenizer
    terminates script CDATA at the first ``</script>`` even inside a
    comment-looking run.  Accepted residual of the codegen scan: an
    UNCLOSED comment/script span is not stripped (the regex needs the
    closing delimiter), where a real parser would swallow everything
    to EOF — at crawl scale that yields rare phantom edges from
    malformed pages, noise PageRank tolerates.  The well-formed cases
    are pinned against the stdlib-parser model in
    tests/test_property_based.py.

    Cost of that residual (r11 ADVICE): the strip patterns are
    unrolled-loop POSSESSIVE regexes (``[^<]*+(?:<(?!/script\\s*>)
    [^<]*+)*+``), so a single match attempt is one forward pass with
    zero backtracking — the same spans the old non-greedy ``.*?``
    forms matched, byte-identical on every closed span (the
    terminator lookahead is the full ``</script\\s*>``, preserving the
    tokenizer rule that ``</scriptfoo>`` does not end a script).  The
    remaining worst case is O(#unclosed-openings × payload): each
    unclosed ``<script``/``<!--`` still costs one failed forward scan
    to EOF.  Adversarial pages that repeat unclosed openings
    therefore cost #openings passes — bounded in practice by real
    page sizes; a pipeline hardened against adversarial crawls should
    pre-truncate pathological payloads before this scan (e.g.
    ``F.substring(html, 1, cap)`` upstream — no such cap is imposed
    here because truncation is a semantic decision the caller owns)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(
        c, r"(?is)<script\b[^<]*+(?:<(?!/script\s*>)[^<]*+)*+</script\s*>",
        " ",
    )
    c = F.regexp_replace(
        c, r"(?is)<style\b[^<]*+(?:<(?!/style\s*>)[^<]*+)*+</style\s*>",
        " ",
    )
    c = F.regexp_replace(c, r"(?s)<!--[^-]*+(?:-(?!->)[^-]*+)*+-->", " ")
    return F.array_distinct(F.regexp_extract_all(c, F.lit(_HREF_RE), 1))


def extract_main_text(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    max_link_density: float = 0.33,
    min_segment_chars: int = 25,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Boilerplate-removing main-text extraction: block segments with
    link density ≤ ``max_link_density`` and at least
    ``min_segment_chars`` characters survive and re-join with
    newlines; nav bars, menus, footers and link farms drop.  Output:
    (id, text, n_segments_kept, n_segments_total, kept_ratio) —
    the ratio doubles as a page-quality signal (link-farm pages keep
    ~nothing).  Zero-surviving-segment documents still emit a row with
    empty text so ingestion counts reconcile.

    ``keep_cols`` passes input columns through the Arrow batch
    untouched (appended after the extraction columns, original types)
    — the crawl pipeline carries the page URI this way instead of
    re-parsing the WARC for a self-join."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base_fields = [
        StructField(id_col, LongType()),
        StructField("text", StringType()),
        StructField("n_segments_kept", IntegerType()),
        StructField("n_segments_total", IntegerType()),
        StructField("kept_ratio", DoubleType()),
    ]
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        base_fields + [in_fields[c] for c in keep_cols]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for idx, (i, html) in enumerate(zip(pdf[id_col], pdf[html_col])):
                segs = _segments(html or "")
                kept = [
                    t for (t, tot, anch) in segs
                    if tot >= min_segment_chars
                    and (tot == 0 or anch / tot <= max_link_density)
                ]
                rows.append(
                    (
                        int(i),
                        "\n".join(kept),
                        len(kept),
                        len(segs),
                        (len(kept) / len(segs)) if segs else 0.0,
                    )
                    + tuple(pdf[c].iloc[idx] for c in keep_cols)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "text", "n_segments_kept",
                    "n_segments_total", "kept_ratio", *keep_cols,
                ],
            )

    cols = [id_col, html_col, *keep_cols]
    return df.select(*cols).mapInPandas(run, schema=out_schema)
