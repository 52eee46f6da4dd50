"""RTF text extraction — the last major crawl text class after HTML /
PDF / OOXML / EPUB (round 13).

Not in the reference (its surface stops at the type system); sized
against the public RTF specification (Microsoft RTF 1.9 — a published
format): an RTF file is ASCII with ``{``/``}`` groups, ``\\control``
words, ``\\'xx`` codepage byte escapes and ``\\uN`` Unicode escapes.
The reader is a single-pass tokenizer with a group-state stack:

* destinations that are NOT document text (``\\fonttbl``,
  ``\\colortbl``, ``\\stylesheet``, ``\\info``, ``\\pict``,
  ``\\object``, headers/footers, and every ``\\*``-marked optional
  destination) are skipped with their whole group;
* ``\\par``/``\\line``/``\\row``/``\\page``/``\\sect`` → newline,
  ``\\tab``/``\\cell`` → TAB, the punctuation words (``\\emdash``,
  ``\\lquote``, ``\\bullet``, …) → their characters;
* ``\\'xx`` decodes through the ``\\ansicpgN`` codepage (cp1252
  default — the Windows-ANSI reality of crawled RTF);
* ``\\uN`` decodes BMP code points directly and astral ones via
  surrogate PAIRS (two adjacent ``\\uN``), honoring the ``\\ucN``
  fallback-skip count per group (the fallback chars — plain text or
  ``\\'xx`` — must NOT also be emitted);
* ``\\binN`` skips N raw bytes (embedded objects can contain ``}``).

Status ladder: ``extracted``; ``extracted-partial`` when the group
stack is unbalanced at EOF (truncated crawl payload — the parsed
prefix is kept); ``not-rtf`` (no ``{\\rtf`` magic in the first 1 KiB);
``parse-failed``.  The kernel NEVER raises.

Gated by the in-repo writer :func:`rtf_write` (codepage byte escapes
vs ``\\uN`` escapes, surrogate pairs, fallback text, skip
destinations, table rows) and oracle **x55** — typeset→re-extract
IDENTITY with NO character folding at all: every Unicode code point
round-trips through ``\\uN``, so the oracle is plain
``'Document ' || doc_id || chr(10) || text``.

Scale shape: one Arrow-batched ``pandas_udf`` map pass over a binary
column — no shuffle, per-row degrade, same contract as every crawl
kernel in this package.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from ..functions.kernel import row_udf

__all__ = ["extract_rtf_text", "rtf_write"]

_CTRL_RE = re.compile(rb"([a-zA-Z]+)(-?\d+)? ?")

# control words that ARE text
_CW_CHARS = {
    b"par": "\n", b"line": "\n", b"row": "\n", b"page": "\n",
    b"sect": "\n", b"tab": "\t", b"cell": "\t",
    b"emdash": "\u2014", b"endash": "\u2013",
    b"lquote": "\u2018", b"rquote": "\u2019",
    b"ldblquote": "\u201c", b"rdblquote": "\u201d",
    b"bullet": "\u2022", b"emspace": "\u2003", b"enspace": "\u2002",
    b"qmspace": "\u2005", b"zwnj": "\u200c", b"zwj": "\u200d",
    b"ltrmark": "\u200e", b"rtlmark": "\u200f",
}

# destination groups whose content is NOT document text.  \field
# itself is NOT here: its {\fldrslt ...} child carries display text;
# the instruction half ({\*\fldinst ...}) is skipped like any
# \*-marked destination.
_SKIP_DESTS = {
    b"fonttbl", b"colortbl", b"stylesheet", b"info", b"pict",
    b"object", b"header", b"footer", b"headerl", b"headerr",
    b"headerf", b"footerl", b"footerr", b"footerf", b"footnote",
    b"xe", b"tc", b"fldinst", b"themedata",
    b"colorschememapping", b"datastore", b"latentstyles", b"listtable",
    b"listoverridetable", b"rsidtbl", b"generator", b"background",
}

# hard caps: one hostile document must cost bounded work
_MAX_OUT = 1 << 26
_MAX_DEPTH = 256


def _rtf_parse(data: bytes):
    """(text, balanced) — the tokenizer walk.  ``balanced`` is False
    when the group stack was still open at EOF (truncated payload)."""
    out: list[str] = []
    out_len = 0
    i, n = 0, len(data)
    # per-group state: (skip_dest, uc_count); global codepage
    stack: list[tuple[bool, int]] = []
    skip, uc = False, 1
    codepage = "cp1252"
    pending_high: int | None = None  # first half of a \uN surrogate pair
    uc_pending = 0  # fallback chars still to swallow after \uN

    def put(s: str):
        nonlocal out_len
        if not skip and out_len < _MAX_OUT:
            out.append(s)
            out_len += len(s)

    def flush_pending():
        nonlocal pending_high
        if pending_high is not None:
            pending_high = None
            put("\ufffd")  # lone high surrogate: replacement char

    def emit(s: str):
        flush_pending()
        put(s)

    def emit_u(cp: int):
        nonlocal pending_high
        if cp < 0:
            cp += 65536
        if 0xD800 <= cp <= 0xDBFF:  # high surrogate: hold for the pair
            flush_pending()
            pending_high = cp
            return
        if 0xDC00 <= cp <= 0xDFFF:  # low surrogate
            if pending_high is not None:
                full = (0x10000 + ((pending_high - 0xD800) << 10)
                        + (cp - 0xDC00))
                pending_high = None
                put(chr(full))
            else:
                put("\ufffd")
            return
        flush_pending()
        put(chr(cp))

    while i < n:
        c = data[i]
        if c == 0x7B:  # {
            if len(stack) >= _MAX_DEPTH:
                return "".join(out), False
            stack.append((skip, uc))
            i += 1
        elif c == 0x7D:  # }
            if stack:
                skip, uc = stack.pop()
            # the \uc fallback-skip is group-scoped (RTF 1.9 §Unicode
            # RTF): a \uN that ends a group must not swallow text
            # AFTER the closing brace — e.g. {\*\foo䙠}Hello
            uc_pending = 0
            i += 1
        elif c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = data[i]
            if c2 == 0x27:  # \'xx — codepage byte
                hx = data[i + 1:i + 3]
                i += 3
                try:
                    ch = bytes([int(hx, 16)]).decode(codepage, "replace")
                except ValueError:
                    continue
                if uc_pending:
                    uc_pending -= 1
                    continue  # a \uN fallback byte: swallowed
                emit(ch)
            elif c2 in (0x5C, 0x7B, 0x7D):  # \\ \{ \}
                i += 1
                if uc_pending:
                    uc_pending -= 1
                    continue
                emit(chr(c2))
            elif c2 == 0x7E:  # \~ nbsp
                i += 1
                emit("\u00a0")
            elif c2 == 0x5F:  # \_ non-breaking hyphen
                i += 1
                emit("\u2011")
            elif c2 == 0x2D:  # \- optional hyphen: invisible
                i += 1
            elif c2 == 0x2A:  # \* — optional destination: skip unless
                i += 1        # a known-text one follows (none do here)
                skip = True
            elif 0x61 <= c2 <= 0x7A or 0x41 <= c2 <= 0x5A:
                m = _CTRL_RE.match(data, i)
                word = m.group(1).lower()
                param = int(m.group(2)) if m.group(2) else None
                i = m.end()
                # the single optional space delimiter is consumed by
                # the regex; other delimiters stay in the stream
                if word == b"u" and param is not None:
                    emit_u(param)
                    uc_pending = uc
                elif word == b"uc" and param is not None:
                    uc = max(0, param)
                elif word == b"ansicpg" and param is not None:
                    try:
                        ("x").encode("cp%d" % param)
                        codepage = "cp%d" % param
                    except LookupError:
                        pass
                elif word == b"bin":
                    i += max(0, param or 0)  # raw bytes: skip blind
                elif word in _CW_CHARS:
                    if uc_pending:
                        uc_pending -= 1
                    else:
                        emit(_CW_CHARS[word])
                elif word in _SKIP_DESTS:
                    skip = True
                # every other control word is formatting: ignored
            else:
                i += 1  # unknown control symbol: ignored
        elif c in (0x0D, 0x0A, 0x00):
            i += 1  # raw CR/LF/NUL in the token stream are not text
        else:
            j = i
            while j < n and data[j] not in (0x5C, 0x7B, 0x7D,
                                            0x0D, 0x0A, 0x00):
                j += 1
            run = data[i:j].decode(codepage, "replace")
            i = j
            if uc_pending:
                drop = min(uc_pending, len(run))
                uc_pending -= drop
                run = run[drop:]
            if run:
                emit(run)
    return "".join(out), not stack


def _extract_rtf_one(b):
    """(text, status, n_chars) — never raises."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        k = data[:1024].find(b"{\\rtf")
        if k < 0:
            return (None, "not-rtf", None)
        text, balanced = _rtf_parse(data[k:])
        return (text, "extracted" if balanced else "extracted-partial",
                len(text))
    except Exception:
        return (None, "parse-failed", None)


def extract_rtf_text(payload: Column) -> Column:
    """Binary RTF payload → ``struct<text, status, n_chars>`` (see the
    module docstring for the ladder).  One Arrow-batched map pass — no
    shuffle; a NULL payload gives a non-NULL struct whose fields are
    all NULL; one hostile document can never kill the task."""
    return row_udf("struct<text: string, status: string, n_chars: int>",
                   _extract_rtf_one)(payload)


def rtf_write(
    text: str,
    *,
    codepage_escapes: bool = False,
    table: bool = False,
    with_skips: bool = True,
) -> bytes:
    """In-repo RTF writer (the test/gating twin of
    :func:`extract_rtf_text`): newline → ``\\par``, TAB → ``\\tab``,
    ASCII literal (specials escaped), non-ASCII as ``\\uN`` with a
    ``\\uc1`` '?' fallback (astral code points as surrogate pairs).
    ``codepage_escapes`` writes latin-1-able non-ASCII as ``\\'xx``
    cp1252 bytes instead; ``with_skips`` prepends realistic
    ``\\fonttbl``/``\\*\\generator`` skip destinations; ``table``
    renders each line as a table row (``\\cell``/``\\row``)."""
    out = [r"{\rtf1\ansi\ansicpg1252\uc1 "]
    if with_skips:
        out.append(r"{\fonttbl{\f0\fswiss Helvetica;}}")
        out.append(r"{\*\generator bertrand_spark fixture;}")

    def esc(ch: str) -> str:
        cp = ord(ch)
        if ch == "\n":
            return "\\par\n" if not table else "\\row\n"
        if ch == "\t":
            return "\\tab " if not table else "\\cell "
        if ch in "\\{}":
            return "\\" + ch
        if 0x20 <= cp < 0x80:
            return ch
        if codepage_escapes:
            try:
                return "\\'%02x" % ch.encode("cp1252")[0]
            except UnicodeEncodeError:
                pass
        if cp > 0xFFFF:  # astral: surrogate pair, each with fallback
            cp -= 0x10000
            hi = 0xD800 + (cp >> 10)
            lo = 0xDC00 + (cp & 0x3FF)
            return "\\u%d?\\u%d?" % (hi - 65536, lo - 65536)
        if cp >= 0x8000:
            return "\\u%d?" % (cp - 65536)
        return "\\u%d?" % cp

    out.extend(esc(ch) for ch in text)
    out.append("}")
    return "".join(out).encode("ascii")
