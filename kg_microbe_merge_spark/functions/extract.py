"""HTML → main-text extraction (trafilatura-equivalent for the synthetic
corpus), as an Arrow-vectorized pandas UDF.

The per-url invariant (BASELINE.json input_hint) is byte-identical output
between the distributed Spark path and the single-threaded reference
implementation — both call the same pure function
:func:`extract_text_py`, and the pandas UDF pins the dtype round-trip so
Arrow never coerces (empty string and null are distinguished: null html →
null text; html with no content → empty string).

Design: stdlib ``html.parser`` (no external deps in this image), dropping
boilerplate containers (script/style/nav/header/footer/aside/form) and
emitting block-level text joined by single newlines, with per-block
whitespace normalization. Deterministic and pure — Spark may re-execute
tasks safely (speculative execution, stage retry).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SKIP_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "form", "noscript"}
)
_BLOCK_TAGS = frozenset(
    {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "div", "article", "section",
     "td", "th", "blockquote", "pre", "title"}
)
_WS_RE = re.compile(r"\s+")


class _MainTextParser(HTMLParser):
    """Collects text outside boilerplate containers, one entry per block."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._blocks: list[str] = []
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS and self._skip_depth == 0:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _BLOCK_TAGS and self._skip_depth == 0:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth == 0:
            self._buf.append(data)

    def _flush(self):
        chunk = _WS_RE.sub(" ", "".join(self._buf)).strip()
        if chunk:
            self._blocks.append(chunk)
        self._buf = []

    def result(self) -> str:
        self._flush()
        return "\n".join(self._blocks)


# ---------------------------------------------------------------------------
# Fast path: a regex walker reproducing the stdlib-parser semantics
# (skip containers, block flushes, script/style CDATA, charrefs, tolerant
# tag grammar). html.parser's pure-Python state machine is the pipeline's
# CPU bottleneck (~95% of extract+triples time, profiled); this walker
# avoids goahead()'s per-token bookkeeping (updatepos line counting,
# handler dispatch, charref machinery) while computing START-TAG EXTENTS
# WITH html.parser's OWN module regexes (locatestarttagend_tolerant /
# tagfind_tolerant / attrfind_tolerant), mirroring parse_starttag /
# parse_endtag / set_cdata_mode line-for-line — so tag-boundary semantics
# are structurally identical, not approximated. Equality with the stdlib
# parser is enforced by pinned cases, a 20k-doc corpus sweep, and a
# hypothesis property test (tests/test_extract_robustness.py), which
# found three real divergences in the previous hand-rolled grammar
# ('</<p>', "<a/'<p>", "<a/'>'<p>") — all structurally impossible now.
# Documents containing constructs with divergent edge semantics
# (comments/PI/declarations, bogus end tags) take the stdlib path.

#   <! <?        : declarations / processing instructions
#   </ + non-tag : html.parser treats it as a bogus comment consuming
#                  through the next '>' (found by the hypothesis
#                  property test on the input '</<p>')
_RISKY_RE = re.compile(r"<[!?]|</(?![a-zA-Z])")
_CDATA_TAGS = frozenset({"script", "style"})  # html.parser CDATA elements
# html.parser.set_cdata_mode: interesting = r'</\s*<elem>\s*>' re.I
_CDATA_END = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _CDATA_TAGS
}
_AMP = "&"
import html as _htmlmod  # noqa: E402  (module named like local vars below)

_UNESCAPE = _htmlmod.unescape

# html.parser's own tolerant tag grammar (public-stdlib module globals,
# stable since CPython 3.5). If a future stdlib renames them the fast
# path self-disables and every document takes the parser path.
import html.parser as _hp  # noqa: E402

_LOCATE_START = getattr(_hp, "locatestarttagend_tolerant", None)
_TAGFIND = getattr(_hp, "tagfind_tolerant", None)
_ATTRFIND = getattr(_hp, "attrfind_tolerant", None)
_ENDTAGFIND = getattr(_hp, "endtagfind", None)
_HAVE_TOLERANT = all((_LOCATE_START, _TAGFIND, _ATTRFIND, _ENDTAGFIND))
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)

# One-call fast lane for the overwhelmingly common start-tag shapes. A
# strict SUBSET of the tolerant grammar on which the extent and the
# self-closing decision provably coincide with parse_starttag:
#  - name: subset of tagfind_tolerant's name class, always ends before
#    the next \s / or >;
#  - attr names: letters/_/: then [-alnum:._], no '=' or '/' — a subset
#    of attrfind's name class, always preceded by whitespace (lookbehind
#    satisfied);
#  - values: quoted without quotes/< /> inside (subset of the LIT/LITA
#    alternatives) or bare from a class ⊂ [^>\s'"] — both grammars
#    consume the same span (both greedy, e.g. <a b=c/> reads value 'c/'
#    and is NOT self-closing in either);
#  - trailing \s*(/?)> mirrors the endtext∈{'>','/>'}
#    startendtag-vs-starttag split.
# Anything not matching (quotes in odd places, '<' or '>' in values,
# '=' in names, …) silently falls to the exact tolerant path below.
_SIMPLE_START_BODY = (
    r"([a-zA-Z][a-zA-Z0-9.:_-]*)"
    r"(?:\s+[a-zA-Z_:][a-zA-Z0-9_:.-]*"
    r"(?:\s*=\s*(?:'[^'<>]*'|\"[^\"<>]*\"|[a-zA-Z0-9_.:/,#?&%;~+-]+))?)*"
    r"\s*(/?)>"
)
_SIMPLE_START_RE = re.compile("<" + _SIMPLE_START_BODY)

# Step-combined token: ONE C-level match consumes [leading text][one tag]
# — or a whole attribute-less `<block>text</block>` element (the dominant
# shape in web text) in a single step, bypassing the buf/flush machinery.
# Three alternatives, tried in order:
#   g1: inter-tag text (no '<');
#   g2+g3: whole simple block — name ∈ _BLOCK_TAGS with an immediate '>'
#          (so parse_starttag's extent is trivially the same), text with
#          no '<', closed by `</name\s*>` (case-insensitive backref — a
#          subset of endtagfind, identical extent). Semantics: flush old
#          buf (start side-effect), emit normalized text as its own
#          block (end side-effect) — exactly the parser's event order.
#   g4+g5: generic simple start tag (the proven _SIMPLE_START_BODY
#          subset grammar);
#   g6: simple end tag `</name\s*>` (subset of endtagfind: no space
#      before the name; identical extent).
# Any position this regex rejects falls to the exact per-token path
# below (tolerant-grammar mirror), so it is a pure fast lane: it only
# accepts shapes where the extent and event equivalence is structural.
_STEP_RE = re.compile(
    r"([^<]*)"
    r"(?:<(p|h[1-6]|li|div|article|section|td|th|blockquote|pre|title)>"
    r"([^<]*)</\2\s*>"
    r"|<" + _SIMPLE_START_BODY +
    r"|</([a-zA-Z][a-zA-Z0-9.:_-]*)\s*>"
    r")",
    # ASCII: plain re.I is Unicode-case-folding, so [a-zA-Z] would admit
    # exotic tag openers (ſ, K) that html.parser's case-SENSITIVE regexes
    # reject as tags. re.A only narrows \s / letter classes → a miss here
    # falls to the exact per-token path below (conservative-safe).
    re.IGNORECASE | re.ASCII,
)


def _fast_extract(src: str) -> str | None:
    """Single-pass regex walker mirroring HTMLParser.goahead(end=1) for
    the construct subset that passes _RISKY_RE (no comments / PIs /
    declarations, every '</' followed by a letter), with
    convert_charrefs=True semantics. Returns None when it meets a
    construct whose stdlib edge semantics it does not reproduce
    (EOF-inside-tag recovery, bogus start-tag data emission) — the
    caller falls back to the parser.

    Hot loop is driven by _STEP_RE: one C-level match consumes the
    inter-tag text plus one tag (or one whole attribute-less
    <block>text</block> element) per iteration; handler side effects
    (skip-container depth, block flushes) are inlined — no per-token
    closure calls. Any position _STEP_RE rejects takes the exact
    per-token branch below, which computes start-tag extents with
    html.parser's OWN module regexes (locatestarttagend_tolerant /
    tagfind_tolerant / attrfind_tolerant), mirroring parse_starttag /
    parse_endtag / set_cdata_mode line-for-line."""
    if not _HAVE_TOLERANT:
        return None
    blocks: list[str] = []
    buf: list[str] = []
    skip_depth = 0

    def flush() -> None:
        chunk = _WS_RE.sub(" ", "".join(buf)).strip()
        if chunk:
            blocks.append(chunk)
        buf.clear()

    pos = 0
    n = len(src)
    step = _STEP_RE.match
    while pos < n:
        # -- fast lane: text + one tag (or a whole simple block) per match
        m = step(src, pos)
        if m is not None:
            text, bname, btext, gname, gslash, ename = m.groups()
            if skip_depth == 0 and text:
                if _AMP in text:
                    text = _UNESCAPE(text)
                buf.append(text)
            if bname is not None:
                # whole <block>text</block>: start-flush, then the text
                # becomes its own block (end-flush) without a buf trip
                if skip_depth == 0:
                    flush()
                    if btext:
                        if _AMP in btext:
                            btext = _UNESCAPE(btext)
                        btext = _WS_RE.sub(" ", btext).strip()
                        if btext:
                            blocks.append(btext)
                pos = m.end()
                continue
            if gname is not None:
                tag = gname.lower()
                pos = m.end()
                if gslash:
                    # handle_startendtag = start+end, no CDATA mode; for
                    # a skip tag the +1/-1 cancels, so only block flushes
                    if tag in _BLOCK_TAGS and skip_depth == 0:
                        flush()
                        flush()
                    continue
                if tag in _SKIP_TAGS:
                    skip_depth += 1
                    if tag in _CDATA_TAGS:
                        # set_cdata_mode: raw data until r'</\s*tag\s*>'
                        # (re.I); unterminated CDATA swallows the rest
                        em = _CDATA_END[tag].search(src, pos)
                        if em is None:
                            break
                        skip_depth -= 1
                        pos = em.end()
                elif tag in _BLOCK_TAGS and skip_depth == 0:
                    flush()
                continue
            tag = ename.lower()
            pos = m.end()
            if tag in _SKIP_TAGS:
                skip_depth = max(0, skip_depth - 1)
            elif tag in _BLOCK_TAGS and skip_depth == 0:
                flush()
            continue
        # -- exact per-token path (tolerant grammar mirror)
        lt = src.find("<", pos)
        if lt < 0:
            if skip_depth == 0 and pos < n:
                chunk = src[pos:]
                if _AMP in chunk:
                    chunk = _UNESCAPE(chunk)
                buf.append(chunk)
            break
        if skip_depth == 0 and lt > pos:
            chunk = src[pos:lt]
            if _AMP in chunk:
                chunk = _UNESCAPE(chunk)
            buf.append(chunk)
        nxt = src[lt + 1 : lt + 2]
        if nxt in _ASCII_LETTERS:
            sm = _SIMPLE_START_RE.match(src, lt)
            if sm is not None:
                tag = sm.group(1).lower()
                selfclosing = sm.group(2) == "/"
                endpos = sm.end()
            else:
                # --- parse_starttag / check_for_whole_start_tag, verbatim
                m = _LOCATE_START.match(src, lt)
                j = m.end()
                ch = src[j : j + 1]
                if ch == ">":
                    endpos = j + 1
                elif ch == "/":
                    if src.startswith("/>", j):
                        endpos = j + 2
                    else:
                        # check_for_whole_start_tag returns -1 ("buffer
                        # boundary") → goahead(end=1) recovery path
                        return None
                elif ch == "" or ch in _ASCII_LETTERS or ch == "=":
                    # EOF inside the tag → goahead(end=1) recovery path
                    return None
                else:
                    endpos = j
                nm = _TAGFIND.match(src, lt + 1)
                k = nm.end()
                tag = nm.group(1).lower()
                while k < endpos:
                    am = _ATTRFIND.match(src, k)
                    if am is None:
                        break
                    k = am.end()
                endtext = src[k:endpos].strip()
                if endtext == ">":
                    selfclosing = False
                elif endtext == "/>":
                    selfclosing = True
                else:
                    # parse_starttag emits the raw tag text as data (no
                    # unescape) — near-unreachable under the tolerant
                    # grammar; take the stdlib path rather than replicate
                    return None
            pos = endpos
            if selfclosing:
                # start+end pair: skip +1/-1 cancels, block double-flush
                if tag in _BLOCK_TAGS and skip_depth == 0:
                    flush()
                    flush()
            elif tag in _SKIP_TAGS:
                skip_depth += 1
                if tag in _CDATA_TAGS:
                    em = _CDATA_END[tag].search(src, pos)
                    if em is None:
                        break
                    skip_depth -= 1
                    pos = em.end()
            elif tag in _BLOCK_TAGS and skip_depth == 0:
                flush()
        elif nxt == "/":
            # --- parse_endtag (cdata_elem is None; '</'+letter
            # guaranteed by _RISKY_RE) ---
            em = _ENDTAGFIND.match(src, lt)
            if em is not None:
                tag = em.group(1).lower()
                pos = em.end()
            else:
                if src.find(">", lt + 1) < 0:
                    return None  # incomplete end tag at EOF
                nm = _TAGFIND.match(src, lt + 2)
                if nm is None:
                    # '</' + non-letter: html.parser bogus-comment
                    # recovery (pre-filtered by _RISKY_RE in
                    # extract_text_py; reached only standalone)
                    return None
                gtpos = src.find(">", nm.end())
                if gtpos < 0:
                    return None
                tag = nm.group(1).lower()
                pos = gtpos + 1
            if tag in _SKIP_TAGS:
                skip_depth = max(0, skip_depth - 1)
            elif tag in _BLOCK_TAGS and skip_depth == 0:
                flush()
        elif nxt == "!" or nxt == "?":
            # comment/PI/declaration — pre-filtered by _RISKY_RE in
            # extract_text_py; standalone callers fall back here
            return None
        else:
            # '<' + non-tag-opener: one literal '<' of data. At EOF the
            # goahead footer flushes it as data too — same result.
            if skip_depth == 0:
                buf.append("<")
            pos = lt + 1
    flush()
    return "\n".join(blocks)


def extract_text_py(html: bytes | None) -> str | None:
    """Pure, deterministic HTML→text. THE reference implementation: the
    distributed path must match it byte-for-byte per url."""
    if html is None:
        return None
    src = html.decode("utf-8", errors="replace")
    if _RISKY_RE.search(src) is None:
        out = _fast_extract(src)
        if out is not None:
            return out
    p = _MainTextParser()
    p.feed(src)
    p.close()
    return p.result()


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched wrapper over :func:`extract_text_py`. ``object``
    dtype end-to-end: bytes/None in, str/None out — no NaN coercion."""
    return html.map(lambda b: extract_text_py(b) if b is not None else None)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Engine stage: add/replace the extracted-text column. Rows that
    already carry pre-extracted text keep it (the input contract allows
    ``text`` to be pre-populated)."""
    if out_col in df.columns:
        return df.withColumn(
            out_col,
            F.coalesce(F.col(out_col), extract_text_udf(F.col(html_col))),
        )
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))
