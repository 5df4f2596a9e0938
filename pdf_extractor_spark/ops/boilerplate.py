"""HTML main-content extraction (boilerplate strip) — the north rule's
web-page tier stated directly: a batched byte-stream HTML tokenizer
flattens each page into a node array per batch (Arrow-batched
`mapInArrow` over flat columnar buffers, never per-row Python UDFs or
per-node dicts), then text-density /
link-density / tag-depth scoring — plain JVM expressions over the node
array — selects content blocks, emitting extracted text plus
character-span offsets per document.

Reference analog: the PDF side of danielchaves22/pdf-extractor treats
`page.extract_words(...)`'s word-box list as its flattened "DOM"
(processors/ficha_financeira_processor.py:424) and applies geometric
heuristics; this module is the same shape over real HTML markup —
parse once into a columnar node table, score relationally.

Split of labor (the scale-critical property):

* **Python (Arrow batch)**: only the tokenizer — one linear scan per
  document producing block nodes with exact char spans. No scoring,
  no policy.
* **Catalyst (JVM)**: all heuristics — `transform`/`filter` over the
  node array, codegen'd, so thresholds can change without touching
  the Python layer and the optimizer can prune/fuse.

At 10^12 documents the flatten pass is embarrassingly parallel
(scan → mapInArrow, no shuffle — same plan shape as the Engine-2
WBX2 kernel, `engine2/pipeline.py`), and the per-doc node arrays are
bounded by document size, so no skew beyond document length.
"""

from __future__ import annotations

import re
from typing import Iterator  # noqa: F401 — used in kernel type hints

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Block-level elements that delimit content nodes; everything else
# (inline tags) accumulates into the open block.
BLOCK_TAGS = {
    "p", "div", "section", "article", "li", "td", "th", "h1", "h2",
    "h3", "h4", "h5", "h6", "pre", "blockquote", "main",
}
# Subtrees that are boilerplate by construction.
BOILER_TAGS = {"nav", "footer", "header", "aside", "script", "style"}

NODE_TYPE = T.ArrayType(T.StructType([
    T.StructField("idx", T.IntegerType()),
    T.StructField("tag", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("in_boiler", T.BooleanType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("link_chars", T.LongType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
    ]))),
]))


# --- Tokenizer grammar (HTML5 tokenization, w3.org/TR/html5 §13.2.5;
# behavioral spec = CPython's html.parser event stream with
# convert_charrefs=False, which the independent golden twin in
# golden_oracle.py drives directly). Raw-text elements get a dedicated
# mode: inside <script>/<style> nothing is markup until the literal
# close tag, so `if(a<b)` in script text cannot swallow the close tag.
_RAWTEXT_ELEMS = ("script", "style")
_RAWTEXT_CLOSE = {t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE)
                  for t in _RAWTEXT_ELEMS}
# tag name: first char ASCII alpha, then anything but whitespace / > /
# NUL; trailing whitespace and non-closing slashes are consumed.
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
# one attribute: name (cannot follow a word char), optional =value with
# single-quoted / double-quoted / bare forms; '>' inside a quoted value
# is NOT a tag end.
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*")
# whole start tag up to (excluding) its '>' — quote-aware.
_LOCATE_STARTTAG_END = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*        # tag name
  (?:[\s/]*                           # optional ws before attr name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*   # attribute name
      (?:\s*=+\s*                     # value indicator
        (?:'[^']*'                    # single-quoted value
          |"[^"]*"                    # double-quoted value
          |(?!['"])[^>\s]*            # bare value
         )
        \s*
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*
""", re.VERBOSE)
_ENDTAG = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")       # <![CDATA[ ... ]]>
_MS_MARKED_CLOSE = re.compile(r"]\s*>")        # <![if ...]>
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})
_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# chars after a partial start-tag match that mean "inside an attribute"
_IN_ATTR_CHARS = _ASCII_ALPHA | {"=", "/"}


class _NodeBuf:
    """Flat columnar accumulator for one Arrow batch of documents.

    The flatten kernel appends primitives to parallel flat lists —
    never per-node dicts or per-span tuples — so the only per-batch
    Arrow conversion is one `pa.array` per column over homogeneous
    Python lists plus two offset vectors (spans-per-node,
    nodes-per-doc). This is the allocator-pressure fix for the
    string-bandwidth-bound scaling the per-node-dict version showed
    (ROADMAP item: columnar node buffers)."""

    __slots__ = ("tags", "depths", "boiler", "texts", "nchars", "links",
                 "span_starts", "span_ends", "span_offsets",
                 "node_offsets")

    def __init__(self) -> None:
        self.tags: list[str] = []
        self.depths: list[int] = []
        self.boiler: list[bool] = []
        self.texts: list[str] = []
        self.nchars: list[int] = []
        self.links: list[int] = []
        self.span_starts: list[int] = []
        self.span_ends: list[int] = []
        self.span_offsets: list[int] = [0]     # len == total nodes + 1
        self.node_offsets: list[int] = [0]     # len == docs flushed + 1

    def end_doc(self) -> None:
        self.node_offsets.append(len(self.tags))

    def to_arrow_nodes(self):
        """The batch's `nodes` column as `pa.ListArray` (one list of
        node structs per document), matching NODE_TYPE exactly."""
        import numpy as np
        import pyarrow as pa
        total = len(self.tags)
        offsets = np.asarray(self.node_offsets, dtype=np.int32)
        # idx = position within the owning document
        idx = (np.arange(total, dtype=np.int32)
               - np.repeat(offsets[:-1], np.diff(offsets)))
        span_struct = pa.StructArray.from_arrays(
            [pa.array(self.span_starts, pa.int64()),
             pa.array(self.span_ends, pa.int64())],
            ["start", "end"])
        spans = pa.ListArray.from_arrays(
            pa.array(self.span_offsets, pa.int32()), span_struct)
        node_struct = pa.StructArray.from_arrays(
            [pa.array(idx), pa.array(self.tags, pa.string()),
             pa.array(self.depths, pa.int32()),
             pa.array(self.boiler, pa.bool_()),
             pa.array(self.texts, pa.string()),
             pa.array(self.nchars, pa.int64()),
             pa.array(self.links, pa.int64()), spans],
            ["idx", "tag", "depth", "in_boiler", "text", "n_chars",
             "link_chars", "spans"])
        return pa.ListArray.from_arrays(pa.array(offsets), node_struct)


def _flatten_one(html: str) -> list[dict]:
    """One document → list of node dicts (test / golden-twin API; the
    Spark path goes through `_flatten_into` + `_NodeBuf` directly)."""
    buf = _NodeBuf()
    _flatten_into(html, buf)
    s_off = buf.span_offsets
    return [dict(
        idx=i, tag=buf.tags[i], depth=buf.depths[i],
        in_boiler=buf.boiler[i], text=buf.texts[i],
        n_chars=buf.nchars[i], link_chars=buf.links[i],
        spans=[dict(start=a, end=b) for a, b in
               zip(buf.span_starts[s_off[i]:s_off[i + 1]],
                   buf.span_ends[s_off[i]:s_off[i + 1]])],
    ) for i in range(len(buf.tags))]


def _flatten_into(html: str, buf: _NodeBuf) -> None:
    """Linear scan of one HTML string → block nodes appended to `buf`,
    with exact character-span offsets into the ORIGINAL string
    (`HTMLParser` reports (line, col) only, hence hand-rolled).

    State machine per HTML5 tokenization: start tags are quote-aware
    (a '>' inside a quoted attribute value does not close the tag);
    <script>/<style> switch to raw-text mode where only the literal
    close tag ends the element (unclosed raw text at EOF is dropped);
    comments close on --\\s*>; <!doctype>, <![CDATA[..]]>, <?pi> and
    bogus comments are skipped; malformed markup degrades to text
    (never throws). Event-for-event equal to the html.parser-driven
    golden twin (`golden_oracle._BpFlattener`) — pinned by the
    hypothesis parity fuzz in tests/test_property_parity.py."""
    n = len(html)
    stack: list[str] = []          # open tags
    boiler_depth = 0               # nested BOILER_TAGS count
    link_depth = 0                 # nested <a> count
    # open-block state (flat locals; cur_tag None == no open block)
    cur_tag: str | None = None
    cur_depth = 0
    cur_boiler = False
    cur_link = 0
    parts: list[str] = []
    sp_s: list[int] = []
    sp_e: list[int] = []

    def open_block(tag: str) -> None:
        nonlocal cur_tag, cur_depth, cur_boiler, cur_link, parts, sp_s, sp_e
        close_block()
        cur_tag = tag
        cur_depth = len(stack)
        cur_boiler = boiler_depth > 0
        cur_link = 0
        parts = []
        sp_s = []
        sp_e = []

    def close_block() -> None:
        nonlocal cur_tag
        if cur_tag is not None and parts:
            text = "".join(parts)
            if text.strip():
                buf.tags.append(cur_tag)
                buf.depths.append(cur_depth)
                buf.boiler.append(cur_boiler)
                buf.texts.append(text)
                buf.nchars.append(len(text))
                buf.links.append(cur_link)
                buf.span_starts += sp_s
                buf.span_ends += sp_e
                buf.span_offsets.append(len(buf.span_starts))
        cur_tag = None

    def data(seg: str, start: int) -> None:
        nonlocal cur_link
        if not seg:
            return
        if cur_tag is None:
            open_block("#text")
        parts.append(seg)
        if sp_e and sp_e[-1] == start:         # coalesce contiguous
            sp_e[-1] = start + len(seg)
        else:
            sp_s.append(start)
            sp_e.append(start + len(seg))
        if link_depth > 0:
            cur_link += len(seg)

    def start_tag(tag: str) -> None:
        nonlocal boiler_depth, link_depth
        if tag in BOILER_TAGS:
            close_block()
            boiler_depth += 1
        elif tag in BLOCK_TAGS:
            open_block(tag)
        elif tag == "a":
            link_depth += 1
        stack.append(tag)

    def end_tag(tag: str) -> None:
        nonlocal boiler_depth, link_depth
        if tag in BLOCK_TAGS:
            close_block()
        if tag in BOILER_TAGS and boiler_depth > 0:
            close_block()
            boiler_depth -= 1
        if tag == "a" and link_depth > 0:
            link_depth -= 1
        if tag in stack:
            while stack and stack[-1] != tag:
                stack.pop()
            if stack:
                stack.pop()

    def recover(lt: int) -> int:
        """Unterminated construct: emit through the next '>' (or up to
        the next '<', or one char) as text and resume there."""
        k = html.find(">", lt + 1)
        if k < 0:
            k = html.find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        data(html[lt:k], lt)
        return k

    def emit_tail(start: int) -> None:
        """Final text run. A lone two-char '&x' entity stub at EOF
        loses its '&' (the twin's parser waits for more input that
        never comes, then flushes only the tail)."""
        if start >= n:
            return
        if (start <= n - 2 and html[n - 2] == "&"
                and html[n - 1] in _ASCII_ALPHA):
            data(html[start:n - 2], start)
            data(html[n - 1:], n - 1)
        else:
            data(html[start:], start)

    i = 0
    rawtext: str | None = None     # open raw-text element, if any
    while i < n:
        if rawtext is not None:                 # raw-text (CDATA) mode
            m = _RAWTEXT_CLOSE[rawtext].search(html, i)
            if m is None:                       # unclosed: drop the rest
                i = n
                break
            data(html[i:m.start()], i)
            end_tag(rawtext)
            rawtext = None
            i = m.end()
            continue
        lt = html.find("<", i)
        if lt == -1:
            emit_tail(i)
            break
        if lt > i:                              # text run [i, lt)
            data(html[i:lt], i)
            i = lt
        nxt = html[lt + 1:lt + 2]
        if nxt in _ASCII_ALPHA:                 # start tag
            m = _LOCATE_STARTTAG_END.match(html, lt)
            j = m.end()
            follow = html[j:j + 1]
            if follow == ">":
                endpos = j + 1
            elif follow == "/":
                if html.startswith("/>", j):
                    endpos = j + 2
                else:                           # buffer ends in '/x'
                    i = recover(lt)
                    continue
            elif follow == "" or follow in _IN_ATTR_CHARS:
                i = recover(lt)                 # cut inside tag / attr
                continue
            else:
                endpos = j if j > lt else lt + 1
            tm = _TAGFIND.match(html, lt + 1)
            tag = tm.group(1).lower()
            k = tm.end()
            while k < endpos:
                am = _ATTRFIND.match(html, k)
                if not am:
                    break
                k = am.end()
            tail = html[k:endpos].strip()
            if tail not in (">", "/>"):         # garbage in tag → text
                data(html[lt:endpos], lt)
            elif tail == "/>":
                pass                            # self-closing: no-op
            else:
                start_tag(tag)
                if tag in _RAWTEXT_ELEMS:
                    rawtext = tag
            i = endpos
        elif html.startswith("</", lt):         # end tag
            gt = html.find(">", lt + 1)
            if gt == -1:
                i = recover(lt)
                continue
            em = _ENDTAG.match(html, lt)
            if em:
                end_tag(em.group(1).lower())
                i = gt + 1
                continue
            nm = _TAGFIND.match(html, lt + 2)
            if not nm:
                if html.startswith("</>", lt):
                    i = lt + 3
                else:                           # bogus comment
                    i = gt + 1
                continue
            end_tag(nm.group(1).lower())
            i = html.find(">", nm.end()) + 1
        elif html.startswith("<!--", lt):       # comment
            m = _COMMENT_CLOSE.search(html, lt + 4)
            i = m.end() if m else recover(lt)
        elif html.startswith("<?", lt):         # processing instruction
            gt = html.find(">", lt + 2)
            i = gt + 1 if gt != -1 else recover(lt)
        elif html.startswith("<![", lt):        # marked section
            dm = _DECLNAME.match(html, lt + 3)
            if dm and dm.end() < n:
                name = dm.group().strip().lower()
                if name in _MARKED_STD:
                    m = _MARKED_CLOSE.search(html, lt + 3)
                elif name in _MARKED_MS:
                    m = _MS_MARKED_CLOSE.search(html, lt + 3)
                else:                           # twin raises here; stay
                    m = None                    # robust: bogus-comment
                    gt = html.find(">", lt + 2)
                    i = gt + 1 if gt != -1 else recover(lt)
                    continue
                i = m.end() if m else recover(lt)
            else:
                i = recover(lt)
        elif html.startswith("<!", lt):         # declaration
            if html[lt:lt + 9].lower() == "<!doctype":
                gt = html.find(">", lt + 9)
                i = gt + 1 if gt != -1 else recover(lt)
            else:                               # bogus comment
                gt = html.find(">", lt + 2)
                i = gt + 1 if gt != -1 else recover(lt)
        else:                                   # lone '<' is text
            data("<", lt)
            i = lt + 1
    close_block()


def flatten_dom(pages: DataFrame, html_col: str = "html_text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, nodes) — the flattened node array per document.

    Arrow-batched `mapInArrow`: same shuffle-free scan→kernel plan
    shape as the Engine-2 extraction; the Python layer is parse-only.
    The kernel appends into flat `_NodeBuf` columns and builds the
    nested Arrow arrays directly from the buffers + offset vectors —
    no per-node Python dicts, no pandas object-column round trip
    (the allocator/bandwidth hotspot of the previous version)."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("nodes", NODE_TYPE),
    ])

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        for rb in batches:
            ids = rb.column(rb.schema.get_field_index(id_col))
            htmls = rb.column(rb.schema.get_field_index(html_col))
            buf = _NodeBuf()
            for h in htmls.to_pylist():
                _flatten_into(h or "", buf)
                buf.end_doc()
            yield pa.RecordBatch.from_arrays(
                [ids.cast(pa.int64()), buf.to_arrow_nodes()],
                [id_col, "nodes"])

    return pages.select(id_col, html_col).mapInArrow(run, out_schema)


def score_nodes(nodes: Column) -> Column:
    """Per-node heuristics as JVM expressions: link_density and
    text_density (chars per depth-discounted unit — deeper nodes are
    likelier boilerplate chrome, the tag-depth term of the north
    rule's scoring)."""
    return F.transform(nodes, lambda s: s.withField(
        "link_density",
        s["link_chars"] / F.greatest(s["n_chars"], F.lit(1)),
    ).withField(
        "text_density",
        s["n_chars"].cast("double") / (F.lit(1.0) + s["depth"] * F.lit(0.25)),
    ))


def extract_main_content(pages: DataFrame, html_col: str = "html_text",
                         id_col: str = "doc_id",
                         min_text_density: float = 10.0,
                         max_link_density: float = 0.33) -> DataFrame:
    """(id, main_text, spans, n_nodes, n_kept) — boilerplate-stripped
    text plus the character spans of every kept segment in the
    original HTML.

    Keep rule (jusText/Boilerpipe family): a node survives when it is
    not inside a structural-boilerplate subtree, its link density is
    under `max_link_density`, and its depth-discounted text density
    reaches `min_text_density`. Kept node texts join with "\\n" in
    document order."""
    scored = flatten_dom(pages, html_col, id_col).select(
        id_col, score_nodes(F.col("nodes")).alias("nodes"))
    kept = F.filter(
        F.col("nodes"),
        lambda s: (~s["in_boiler"])
        & (s["link_density"] <= max_link_density)
        & (s["text_density"] >= min_text_density))
    return scored.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: F.trim(s["text"])), "\n")
        .alias("main_text"),
        F.flatten(F.transform(kept, lambda s: s["spans"])).alias("spans"),
        F.size("nodes").alias("n_nodes"),
        F.size(kept).alias("n_kept"),
    )
