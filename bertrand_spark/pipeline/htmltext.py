"""Crawl-text hygiene: HTML→text extraction and encoding repair.

The first two operators every real training-data pipeline runs BEFORE
any dedup/quality/tokenize step — and the package's text stack (see
:mod:`.text`) previously assumed someone else had already produced
clean text.  Not in the reference (its surface stops at the type
system); these extend the engine per the LLM-pipeline brief, same as
the rest of :mod:`bertrand_spark.pipeline`.

* :func:`extract_html_text` — stdlib ``html.parser`` walk: drops
  script/style/nav/comment subtrees, segments into blocks at
  block-level tags, filters boilerplate blocks by link-density ×
  block-length, unescapes entities, and joins the surviving blocks
  with newlines.  Deterministic, no third-party deps, tolerant of
  malformed markup (the stdlib parser never raises on garbage; a
  defensive regex-strip fallback guards the impossible case).
* :func:`fix_mojibake` — detect-and-repair for the deterministic
  double-encoding classes endemic in crawls (UTF-8 bytes read back as
  latin-1 / cp1252 and re-encoded).  Repairs only when the byte-level
  round trip strictly reduces mojibake indicators; ambiguous rows are
  left untouched and flagged.

Both are Arrow-batched ``pandas_udf`` kernels: the per-document Python
loop IS the parser/codec (the accepted pattern for non-expressible
kernels, like :mod:`.multimodal`'s codecs), one narrow map pass at any
corpus size — no shuffle, no driver collection, scale-safe at 100 TB.

Pipeline ORDER matters: ``decode_html_bytes`` → ``fix_mojibake`` →
``extract_html_text``.  Mojibake repair runs BEFORE extraction, on the
page as decoded (the seam order the round-11 composition test pins).

Whitespace is HTML's: the extractor collapses and trims only ASCII
whitespace (TAB, LF, FF, CR, SPACE — the set RE2's ``\\s`` matches), so
``&nbsp;``, U+2028 and the other Unicode spaces stay in the text, where
the engine's word rule (:mod:`.text`) also keeps them inside a word.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.kernel import row_udf
from .text import _bind, py_tokenize  # _bind: evaluated-once column rebuilds

__all__ = ["extract_html_text", "extract_html_metadata",
           "decode_html_bytes", "fix_mojibake",
           "normalize_url", "url_parts"]


# --- HTML -> text ----------------------------------------------------------

# subtrees that never contribute body text: scripts/styles/machinery,
# plus the semantic-boilerplate containers (nav/aside/footer/form).
# <header> is deliberately KEPT — page titles (<h1>) usually live there;
# a <nav> inside it is still dropped.
_DROP_SUBTREE = frozenset({
    "script", "style", "noscript", "template", "svg", "iframe",
    "head", "nav", "aside", "footer", "form", "button", "select",
    "datalist", "object", "embed", "applet",
})

# tags that delimit text blocks (flush on both open and close)
_BLOCK_TAGS = frozenset({
    "address", "article", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure",
    "h1", "h2", "h3", "h4", "h5", "h6", "hr", "html", "legend",
    "li", "main", "ol", "p", "pre", "section", "summary", "table",
    "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
})

# HTML's ASCII whitespace (WHATWG), not Python's Unicode \s
_HTML_WS = "\t\n\f\r "
_WS = re.compile("[%s]+" % _HTML_WS)
_TAG_STRIP = re.compile(r"<[^>]*>")


class _HtmlTextParser(HTMLParser):
    """One-pass block extractor.  ``convert_charrefs=True`` (the
    default) makes the stdlib parser deliver entity-unescaped text to
    ``handle_data``.  Per block it tracks raw character mass and the
    portion of it inside ``<a>`` subtrees — the link-density signal
    the boilerplate filter consumes."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list = []  # (normalized_text, raw_chars, link_chars)
        self._buf: list = []
        self._raw = 0
        self._link = 0
        self._drop = 0
        self._a_depth = 0

    def _flush(self):
        text = _WS.sub(" ", "".join(self._buf)).strip(_HTML_WS)
        if text:
            self.blocks.append((text, self._raw, self._link))
        self._buf.clear()
        self._raw = 0
        self._link = 0

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_SUBTREE:
            self._drop += 1
            return
        if self._drop:
            return
        if tag == "a":
            self._a_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _DROP_SUBTREE:
            if self._drop:
                self._drop -= 1
            return
        if self._drop:
            return
        if tag == "a":
            if self._a_depth:
                self._a_depth -= 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        # void form (<br/>): a drop-subtree void tag opens nothing
        if tag in _DROP_SUBTREE or self._drop:
            return
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._drop or not data:
            return
        self._buf.append(data)
        n = len(data.strip(_HTML_WS))
        self._raw += n
        if self._a_depth:
            self._link += n

    def finish(self) -> list:
        self.close()
        self._flush()
        return self.blocks


def _extract_one(
    html,
    min_words: int = 10,
    max_link_density: float = 0.33,
    hard_link_density: float = 0.66,
):
    """One document through the extractor: parse → blocks →
    boilerplate filter → newline-joined text.  A block is boilerplate
    when its link density exceeds ``hard_link_density`` (link farms /
    nav bars wherever they sit in the tree), or exceeds
    ``max_link_density`` while shorter than ``min_words`` words
    (short link-heavy strips: breadcrumbs, pagers, tag clouds).
    Returns None for NULL input, '' for pages with no body text."""
    if html is None:
        return None
    try:
        p = _HtmlTextParser()
        p.feed(html)
        blocks = p.finish()
    except Exception:
        # the stdlib parser does not raise on malformed markup; this
        # guards the impossible case so a crawl task can never die on
        # one document — degrade to a flat regex strip
        return _WS.sub(" ", _TAG_STRIP.sub(" ", html)).strip(_HTML_WS)
    kept = []
    for text, raw, link in blocks:
        density = link / raw if raw else 0.0
        if density > hard_link_density:
            continue
        if density > max_link_density and len(py_tokenize(text)) < min_words:
            continue
        kept.append(text)
    return "\n".join(kept)


def extract_html_text(
    html: Column,
    min_words: int = 10,
    max_link_density: float = 0.33,
    hard_link_density: float = 0.66,
) -> Column:
    """Main-content text from an HTML column (string → string).

    stdlib ``html.parser`` walk — no third-party extraction deps:
    script/style/nav/aside/footer/form/comment subtrees are dropped,
    text is segmented into blocks at block-level tag boundaries,
    entities are unescaped, in-block whitespace is collapsed, and
    blocks are joined with ``\\n``.  Boilerplate blocks are removed by
    link density: > ``hard_link_density`` always (nav bars, link
    farms), > ``max_link_density`` when under ``min_words`` words
    (breadcrumbs, pagers).  NULL in → NULL out; no-body pages → ''.

    Arrow-batched kernel; the per-document loop is the parser itself.
    """
    mw, mld, hld = int(min_words), float(max_link_density), float(
        hard_link_density)
    return row_udf(
        "string", lambda t: _extract_one(t, mw, mld, hld))(html)


# --- page metadata ----------------------------------------------------------


class _StopParse(Exception):
    pass


class _HeadMetaParser(HTMLParser):
    """Head-only metadata collector; raises _StopParse at <body> (or
    the explicit </head>) so a huge page costs only its head."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.out = {}
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "html" and a.get("lang"):
            self.out.setdefault("lang", a["lang"].strip())
        elif tag == "title":
            self._in_title = True
        elif tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            content = a.get("content")
            if content is None:
                return
            content = content.strip()
            if name in ("description", "keywords"):
                self.out.setdefault(name, content)
            elif name in ("og:title", "og:description"):
                self.out.setdefault(name.replace(":", "_"), content)
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and a.get("href"):
                self.out.setdefault("canonical", a["href"].strip())
        elif tag == "body":
            raise _StopParse

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False
        elif tag == "head":
            raise _StopParse

    def handle_data(self, data):
        if self._in_title and data:
            prev = self.out.get("title", "")
            self.out["title"] = prev + data


_META_FIELDS = ("title", "description", "keywords", "lang",
                "canonical", "og_title", "og_description")


def _page_meta_one(html):
    if html is None:
        return (None,) * len(_META_FIELDS)
    p = _HeadMetaParser()
    try:
        p.feed(html)
        p.close()
    except _StopParse:
        pass
    except Exception:
        pass  # per-row degrade: whatever was collected stands
    out = p.out
    title = out.get("title")
    if title is not None:
        title = _WS.sub(" ", title).strip(_HTML_WS) or None
    return (title, out.get("description"), out.get("keywords"),
            out.get("lang"), out.get("canonical"),
            out.get("og_title"), out.get("og_description"))


def extract_html_metadata(html: Column) -> Column:
    """Head metadata from an HTML column → ``struct<title,
    description, keywords, lang, canonical, og_title,
    og_description>`` (all strings, NULL where absent).

    The other half of crawl HTML processing (:func:`extract_html_text`
    gets the body): <title> text (whitespace-normalized), the
    description/keywords metas, the <html lang> attribute, the
    canonical link, and the OpenGraph title/description.  Parsing
    stops at <body>/</head>, so a huge page costs only its head.
    Arrow-batched; per-row degrade (a parser error keeps whatever was
    collected)."""
    return row_udf("struct<%s>" % ", ".join(
        "%s: string" % f for f in _META_FIELDS), _page_meta_one)(html)


# --- charset-aware payload decode ------------------------------------------

_META_CHARSET = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:\-]+)",
    re.IGNORECASE,
)


def _sniff_bom(b: bytes):
    if b[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if b[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # 'utf-16' consumes the BOM itself (either endianness), so no
        # U+FEFF leaks into the decoded text
        return "utf-16"
    return None


def _decode_html_one(b, declared=None):
    """One payload through the WHATWG-ordered charset resolution:
    BOM > transport-declared (HTTP Content-Type charset) > in-document
    <meta charset> (first 1024 bytes) > UTF-8; each candidate is tried
    STRICT and the first that decodes wins; latin-1 (total on bytes)
    is the final fallback, so the function never fails."""
    import codecs

    if b is None:
        return None
    b = bytes(b)
    head_meta = _META_CHARSET.search(b[:1024])
    candidates = [
        _sniff_bom(b),
        declared,
        head_meta.group(1).decode("ascii", "replace").lower()
        if head_meta else None,
        "utf-8",
    ]
    for enc in candidates:
        if not enc:
            continue
        try:
            codecs.lookup(enc)
        except LookupError:
            continue
        try:
            return b.decode(enc)
        except (UnicodeDecodeError, ValueError, LookupError):
            # LookupError: the name resolves to a NON-TEXT codec
            # (hex, base64, rot13, zlib...) — codecs.lookup succeeds
            # but bytes.decode raises; attacker-controlled <meta
            # charset=hex> must fall through, never kill the task
            continue
    return b.decode("latin-1")


def decode_html_bytes(payload: Column, charset: Column = None) -> Column:
    """Binary HTML payload → string via WHATWG-ordered charset
    resolution (BOM, then the transport-declared charset — pass
    :func:`bertrand_spark.sources.warc.read_warc`'s ``charset``
    column — then the in-document ``<meta charset>``, then UTF-8,
    with a total latin-1 fallback: NULL in → NULL out, otherwise a
    string ALWAYS comes out).  The byte-level twin of a plain
    ``cast('string')``, which silently replaces every non-UTF-8 byte.

    Completes the crawl seam: ``read_warc`` → ``decode_html_bytes``
    → ``extract_html_text`` → ``fix_mojibake``.  Arrow-batched."""
    return row_udf("string", _decode_html_one)(
        payload, charset if charset is not None
        else F.lit(None).cast("string"))


# --- URL hygiene (fully native: regexp + parse_url, no Python) -------------

# tracking parameters every crawl normalizer strips (public, the
# usual analytics/click-id set)
_TRACKING_PARAMS = (
    "utm_[a-z]+", "fbclid", "gclid", "dclid", "msclkid", "mc_eid",
    "igshid", "si", "ref_src", "ref_url",
)



def url_parts(url: Column) -> Column:
    """``struct<scheme, host, path, query>`` via the JVM-native
    ``parse_url`` (whole-stage codegen; no Python anywhere)."""
    u = F.col(url) if isinstance(url, str) else url
    return F.struct(
        F.lower(F.parse_url(u, F.lit("PROTOCOL"))).alias("scheme"),
        F.lower(F.parse_url(u, F.lit("HOST"))).alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY")).alias("query"),
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL for dedup/grouping — entirely native regexp
    (whole-stage codegen, scale-free): drops the fragment, lowercases
    scheme://authority (case-insensitive by spec; path/query keep
    case), removes default ports (:80 http / :443 https), strips the
    standard tracking parameters (utm_*, fbclid, gclid, ...), tidies
    leftover ``?``/``&`` separators, and removes a bare trailing
    slash on a rootless path.  NULL-safe."""
    u = F.col(url) if isinstance(url, str) else url
    # 1. fragment off
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. lowercase scheme://authority, keep the rest as-is
    sa = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?]*)", 1)
    u = _bind(
        F.struct(u.alias("u"), sa.alias("sa")),
        lambda r: F.concat(
            F.lower(r["sa"]),
            F.substring(r["u"], F.length(r["sa"]) + 1, F.lit(1 << 30)),
        ),
    )
    # 3. default ports
    u = F.regexp_replace(u, r"^(http://[^/?:]*):80(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/?:]*):443(?=[/?]|$)", r"$1")
    # 4. tracking params (value may be empty), then separator tidy-up.
    # The trailing boundary is a LOOKAHEAD — consuming it made a run
    # of 5+ consecutive tracking params leave one behind (each match
    # ate the next param's leading '&'); non-consuming, one global
    # pass strips any run length.
    pat = r"(?:%s)=[^&#]*" % "|".join(_TRACKING_PARAMS)
    u = F.regexp_replace(u, r"([?&])" + pat + r"(?=&|$)", r"$1")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    # 5. bare root slash: http://h/ -> http://h
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.\-]*://[^/?]*)/$", r"$1")
    return u


# --- mojibake repair -------------------------------------------------------

# What a UTF-8 continuation byte (0x80..0xBF) looks like after a wrong
# single-byte decode: itself under latin-1 (C1 controls + signs), or
# cp1252's remapping of the 0x80..0x9F range (curly quotes, dashes, €,
# ™, œ...).  A lead byte becomes Â/Ã/Ä/.../â (0xC2..0xEF region); the
# indicator regex keys on the two-character LEAD+CONTINUATION shape,
# plus bare C1 controls (never present in clean text).
_CONTINUATION_CHARS = "".join(
    sorted({chr(b) for b in range(0x80, 0xC0)}
           | {bytes([b]).decode("cp1252", "replace")
              for b in range(0x80, 0xC0)} - {"�"})
)
_LEAD_CHARS = "".join(chr(b) for b in range(0xC2, 0xF5))  # incl. 4-byte
# leads F0-F4 (mojibaked emoji/SMP read back as 'ð...')
_INDICATOR = re.compile(
    "[%s][%s]|[\\u0080-\\u009F]"
    % (re.escape(_LEAD_CHARS), re.escape(_CONTINUATION_CHARS))
)

# cp1252 with the five unmapped bytes (0x81 0x8D 0x8F 0x90 0x9D)
# falling back to latin-1 — the "sloppy cp1252" every real-world
# mojibake fixer uses, because encoders emitted those bytes anyway
_SLOPPY_CP1252_ENC = {}
for _b in range(256):
    try:
        _SLOPPY_CP1252_ENC[bytes([_b]).decode("cp1252")] = _b
    except UnicodeDecodeError:
        _SLOPPY_CP1252_ENC[chr(_b)] = _b


def _indicator_count(s: str) -> int:
    return len(_INDICATOR.findall(s))


def _reencode_candidates(s: str):
    """The deterministic inverse transforms, best-first: bytes-as-
    latin-1 and bytes-as-(sloppy-)cp1252, re-decoded as UTF-8."""
    try:
        yield s.encode("latin-1").decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        pass
    try:
        b = bytes(_SLOPPY_CP1252_ENC[c] for c in s)
        yield b.decode("utf-8")
    except (KeyError, UnicodeDecodeError):
        pass


def _fix_one(s):
    """(fixed_text, status) for one string.  status: 'clean' (no
    mojibake indicators — text untouched, guaranteed), 'fixed' (a
    byte round trip strictly reduced indicators to a fixpoint),
    'ambiguous' (indicators present but no inverse transform improves
    the text — left untouched for a human/model to judge)."""
    if s is None:
        return None, None
    score = _indicator_count(s)
    if score == 0:
        return s, "clean"
    cur, cur_score = s, score
    for _ in range(3):  # at most triple-encoded in practice
        best, best_score = None, cur_score
        for cand in _reencode_candidates(cur):
            c_score = _indicator_count(cand)
            if c_score < best_score:
                best, best_score = cand, c_score
                break  # candidates are ordered best-first
        if best is None:
            break
        cur, cur_score = best, best_score
        if cur_score == 0:
            break
    if cur_score < score:
        return cur, "fixed"
    return s, "ambiguous"


def fix_mojibake(text: Column) -> Column:
    """Detect-and-repair the deterministic mojibake classes (UTF-8
    read as latin-1/cp1252 and re-encoded, up to three layers deep) →
    ``struct<text string, status string>``.

    Decision rule (all byte-level, fully deterministic): a string with
    zero mojibake indicators (C1 controls, or a UTF-8-lead-shaped
    character followed by a continuation-shaped one) is ``'clean'``
    and returned byte-identical — the no-change guarantee.  Otherwise
    the two inverse transforms (latin-1 and sloppy-cp1252 byte
    reinterpretation) are applied while they strictly reduce the
    indicator count: reaching a reduction is ``'fixed'``; indicators
    that no transform improves are ``'ambiguous'`` and the text is
    returned untouched for downstream triage.  Exact recovery holds
    for constructed mojibake of the known classes (pinned in units).

    Arrow-batched kernel — one narrow map pass, no driver work.
    """
    return row_udf("struct<text: string, status: string>", _fix_one)(text)
