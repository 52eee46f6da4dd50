"""Legacy binary PowerPoint (.ppt) text extraction — the third
legacy-Office sibling (round 14; sanctioned alongside `.doc`/`.xls`).
Public spec only: [MS-PPT] records inside the [MS-CFB] container
reader that doctext ships.

The ``PowerPoint Document`` stream is a record TREE: each record has
an 8-byte header (``u16 verAndInstance`` — low nibble 0xF marks a
container, ``u16 recType``, ``u32 recLen``); containers nest records.
Display text lives in **TextCharsAtom** (0x0FA0, UTF-16LE) and
**TextBytesAtom** (0x0FA8, one byte per character = the low bytes of
UTF-16, i.e. latin-1) atoms.  The walk is a LINEAR recursive
traversal collecting text atoms in stream order — the honest
crawl-extraction shape (resolving the CurrentUserAtom →
UserEditAtom → PersistDirectory live-edit chain would drop text from
stale incremental edits; a linear walk keeps it, which for text
mining is the right bias and for single-edit files — the writer's
shape and virtually every file a converter produced — is exact).
PPT's in-text controls map like Word's: CR → ``\\n`` (paragraph),
VT 0x0B → ``\\n`` (line break).

Status ladder: ``extracted``; ``extracted-partial`` (record/output
caps or truncated tree); ``encrypted`` (a CryptSession10Container,
recType 0x2F14, anywhere in the stream); ``not-ppt`` (no CFB or no
PowerPoint Document stream); ``parse-failed``.  Never raises.

Gated by the in-repo writer :func:`ppt_write` (real record tree:
Document container → SlideListWithText → TextHeaderAtom +
content-driven bytes/chars atoms) and oracle **x60**
(typeset→re-extract identity cycling atom encodings by doc_id).

Scale shape: one Arrow-batched ``pandas_udf`` map pass — no shuffle;
the walk is O(stream bytes) with depth/record/output caps.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column

from ..functions.kernel import row_udf
from .doctext import _CfbError, _cfb_streams, cfb_write

__all__ = ["extract_ppt_text", "ppt_write"]

_TEXT_CHARS_ATOM = 0x0FA0
_TEXT_BYTES_ATOM = 0x0FA8
_CRYPT_SESSION = 0x2F14
_DOCUMENT = 0x03E8
_SLIDE_LIST_WITH_TEXT = 0x0FF0
_TEXT_HEADER_ATOM = 0x0F9F

_MAX_RECORDS = 1 << 20
_MAX_DEPTH = 64
_MAX_OUT = 1 << 26

_PPT_CTRL = str.maketrans({"\r": "\n", "\x0b": "\n"})


def _walk_ppt(stream: bytes):
    """(texts, encrypted, truncated) — linear recursive record walk."""
    texts: list = []
    out_len = 0
    n_rec = 0
    encrypted = False
    truncated = False

    def walk(lo: int, hi: int, depth: int):
        nonlocal out_len, n_rec, encrypted, truncated
        i = lo
        while i + 8 <= hi:
            if n_rec >= _MAX_RECORDS or depth > _MAX_DEPTH:
                truncated = True
                return
            ver_inst, rtype, rlen = struct.unpack_from("<HHI",
                                                       stream, i)
            n_rec += 1
            body_lo = i + 8
            body_hi = min(hi, body_lo + rlen)
            if body_lo + rlen > hi:
                truncated = True
            if rtype == _CRYPT_SESSION:
                encrypted = True
                return
            if (ver_inst & 0x0F) == 0x0F:
                walk(body_lo, body_hi, depth + 1)
                if encrypted:
                    return
            elif rtype == _TEXT_CHARS_ATOM:
                if out_len < _MAX_OUT:
                    s = stream[body_lo:body_hi].decode(
                        "utf-16-le", "replace")
                    texts.append(s)
                    out_len += len(s)
                else:
                    truncated = True
            elif rtype == _TEXT_BYTES_ATOM:
                if out_len < _MAX_OUT:
                    # low bytes of UTF-16 — latin-1 by construction
                    s = stream[body_lo:body_hi].decode("latin-1")
                    texts.append(s)
                    out_len += len(s)
                else:
                    truncated = True
            i = body_lo + rlen

    walk(0, len(stream), 0)
    return texts, encrypted, truncated


def _extract_ppt_one(b):
    """(text, status, n_atoms) — never raises."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
            return (None, "not-ppt", None)
        try:
            streams = _cfb_streams(data)
        except _CfbError:
            return (None, "parse-failed", None)
        doc = streams.get("PowerPoint Document")
        if doc is None:
            return (None, "not-ppt", None)
        texts, encrypted, truncated = _walk_ppt(doc)
        if encrypted:
            return (None, "encrypted", None)
        if not texts:
            return (None, "parse-failed", None)
        text = "\n".join(t.translate(_PPT_CTRL) for t in texts)
        return (text, "extracted-partial" if truncated
                else "extracted", len(texts))
    except Exception:
        return (None, "parse-failed", None)


def extract_ppt_text(payload: Column) -> Column:
    """Binary legacy .ppt payload → ``struct<text, status, n_atoms>``
    (see the module docstring for the ladder).  One Arrow-batched map
    pass — no shuffle; a NULL payload gives a non-NULL struct whose
    fields are all NULL."""
    return row_udf("struct<text: string, status: string, n_atoms: int>",
                   _extract_ppt_one)(payload)


# --- in-repo writer (test/gating twin) ---------------------------------------

def _prec(ver: int, rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HHI", ver & 0xFFFF, rtype,
                       len(payload)) + payload


def ppt_write(
    slides,
    *,
    force_chars: bool = False,
    encrypted: bool = False,
) -> bytes:
    """In-repo [MS-PPT] writer: ``slides`` is a list of slide text
    strings (``\\n`` inside one becomes the CR paragraph mark —
    PPT's convention).  Each slide lands as a TextHeaderAtom plus a
    CONTENT-DRIVEN text atom: TextBytesAtom when every character fits
    one byte (the low-bytes-of-UTF-16 form), else TextCharsAtom
    (UTF-16LE, astral chars as surrogate pairs); ``force_chars``
    forces the UTF-16 form for all.  ``encrypted`` plants a
    CryptSession10Container (degrade fixture)."""
    if isinstance(slides, str):
        slides = [slides]
    body = bytearray()
    if encrypted:
        body += _prec(0xF, _CRYPT_SESSION, b"\x00" * 8)
    slw = bytearray()
    for text in slides:
        stored = text.replace("\n", "\r")
        slw += _prec(0x0, _TEXT_HEADER_ATOM, struct.pack("<I", 0))
        if not force_chars and all(ord(c) < 0x100 for c in stored):
            slw += _prec(0x0, _TEXT_BYTES_ATOM,
                         stored.encode("latin-1"))
        else:
            slw += _prec(0x0, _TEXT_CHARS_ATOM,
                         stored.encode("utf-16-le"))
    body += _prec(0xF, _DOCUMENT,
                  _prec(0xF, _SLIDE_LIST_WITH_TEXT, bytes(slw)))
    return cfb_write({"PowerPoint Document": bytes(body),
                      "Current User": b"\x00" * 16})
