"""Legacy binary Word (.doc) text extraction — the largest remaining
NULL-text class the old web actually serves (round 14; round-13
verdict item 3).  Everything here is from the PUBLIC Microsoft specs:
[MS-CFB] (the OLE2 compound file container) and [MS-DOC] (the Word
binary format) — no external parser, same stdlib-only honest shape as
the rest of the seam.

Structure walked:

* **CFB container** (:func:`_cfb_streams`): 512-byte header → DIFAT
  (109 header entries + chained DIFAT sectors) → FAT → directory
  chain (entries scanned LINEARLY — the red-black sibling tree is
  advisory and hostile files corrupt it first) → per-stream chains,
  with streams under the 4096-byte mini cutoff read from the root
  entry's mini stream via the miniFAT (64-byte mini sectors).
* **FIB** in the ``WordDocument`` stream: ``wIdent`` 0xA5EC;
  ``fEncrypted``/``fObfuscated`` (XOR) flag bits class
  ``encrypted``; ``fWhichTblStm`` picks ``1Table`` vs ``0Table``;
  ``ccpText`` bounds the MAIN document text (excludes footnote /
  header / annotation CP ranges); ``fcClx``/``lcbClx`` locate the
  piece table in the Table stream.
* **Clx / piece table**: Prc (``clxt=1``) property blocks skipped,
  ``Pcdt`` (``clxt=2``) holds the PlcPcd — n+1 CPs then n PCDs.
  Each PCD's ``fc`` bit 30 selects the encoding: set → COMPRESSED
  (CP1252 bytes at ``(fc & 0x3FFFFFFF)/2``), clear → UTF-16LE at
  ``fc``.  CPs count UTF-16 code units, so piece cuts happen on the
  RAW bytes before decoding (astral pairs stay exact).
* **Control mapping**: paragraph mark CR → ``\\n``; cell/row mark
  0x07 → TAB; line break 0x0B / page break 0x0C / column break
  0x0E → ``\\n``; non-breaking hyphen 0x1E → ``-``; soft hyphen
  0x1F dropped; field/object markers (0x13/0x14/0x15/0x01/0x02/
  0x05/0x08) dropped.

Status ladder: ``extracted``; ``extracted-scan`` (no usable piece
table, but a plausible Word-6/95-style ``fcMin``..``fcMac`` inline
text region decodes — the pre-piece-table layout); ``extracted-
partial`` (piece or output caps hit); ``encrypted`` (fEncrypted /
fObfuscated); ``not-doc`` (no CFB magic or no WordDocument stream);
``parse-failed``.  Never raises.

Gated by the in-repo writer :func:`doc_write` (real CFB: FAT, DIFAT,
directory, miniFAT + mini stream for sub-cutoff streams; real FIB +
content-driven piece table mixing CP1252 and UTF-16 pieces) and
oracle **x58** (typeset→re-extract identity on the documents table,
storage layout cycling by doc_id).

Scale shape: one Arrow-batched ``pandas_udf`` map pass over a binary
column — no shuffle, per-row degrade, hostile-input caps on sector
walks, piece counts, and output size; cost scales with the bytes
actually chained, never the container's claimed geometry.
"""

from __future__ import annotations

import io
import struct

from pyspark.sql import Column

from ..functions.kernel import row_udf

__all__ = ["extract_doc_text", "doc_write", "cfb_write"]

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC

_MAX_SECTORS = 1 << 20      # 512 MiB of chained sectors — cap, not trust
_MAX_PIECES = 100_000
_MAX_OUT = 1 << 26          # 64 MiB of text per document


def _u16(b, off):
    return struct.unpack_from("<H", b, off)[0]


def _u32(b, off):
    return struct.unpack_from("<I", b, off)[0]


class _CfbError(Exception):
    pass


def _chain(fat: list, start: int, limit: int) -> list:
    """Sector chain from ``start`` through ``fat``, loop-proof."""
    out, seen = [], set()
    s = start
    while s not in (_ENDOFCHAIN, _FREESECT) and len(out) <= limit:
        if s >= len(fat) or s in seen:
            raise _CfbError("broken chain")
        seen.add(s)
        out.append(s)
        s = fat[s]
    return out


def _cfb_streams(data: bytes) -> dict:
    """CFB payload → ``{stream_name: bytes}`` for every type-2 entry
    (top level and nested storages alike — names are unique enough
    for the Word layout).  Raises :class:`_CfbError` on structural
    breaks; the caller degrades."""
    if data[:8] != _CFB_MAGIC or len(data) < 512:
        raise _CfbError("not cfb")
    ssz = 1 << _u16(data, 0x1E)
    if ssz not in (512, 4096):
        raise _CfbError("bad sector size")
    mini_ssz = 1 << _u16(data, 0x20)
    n_fat = _u32(data, 0x2C)
    first_dir = _u32(data, 0x30)
    mini_cutoff = _u32(data, 0x38)
    first_minifat = _u32(data, 0x3C)
    n_minifat = _u32(data, 0x40)
    first_difat = _u32(data, 0x44)
    n_difat = _u32(data, 0x48)
    n_sectors = max(0, (len(data) - 512 + ssz - 1) // ssz)
    if n_sectors > _MAX_SECTORS:
        raise _CfbError("too many sectors")

    def sector(sid: int) -> bytes:
        off = 512 + sid * ssz
        if off >= len(data):
            raise _CfbError("sector out of range")
        return data[off:off + ssz].ljust(ssz, b"\x00")

    # DIFAT: 109 header entries, then chained DIFAT sectors
    difat = [_u32(data, 0x4C + 4 * k) for k in range(109)]
    s, hops = first_difat, 0
    while s not in (_ENDOFCHAIN, _FREESECT) and hops < n_difat + 1:
        blk = sector(s)
        per = ssz // 4 - 1
        difat.extend(_u32(blk, 4 * k) for k in range(per))
        s = _u32(blk, ssz - 4)
        hops += 1
    fat_sids = [x for x in difat[:n_fat + len(difat)]
                if x not in (_FREESECT, _ENDOFCHAIN)][:n_fat]
    fat: list = []
    for sid in fat_sids:
        blk = sector(sid)
        fat.extend(_u32(blk, 4 * k) for k in range(ssz // 4))
    # clamp to what the file can actually hold
    fat = fat[:n_sectors] + [_ENDOFCHAIN] * max(0, n_sectors - len(fat))

    def read_chain(start: int, size: int) -> bytes:
        sids = _chain(fat, start, min(_MAX_SECTORS,
                                      size // ssz + 2))
        return b"".join(sector(x) for x in sids)[:size]

    dir_raw = read_chain(first_dir, ssz * max(
        1, len(_chain(fat, first_dir, _MAX_SECTORS))))
    entries = []
    for off in range(0, len(dir_raw) - 127, 128):
        e = dir_raw[off:off + 128]
        nlen = _u16(e, 64)
        etype = e[66]
        if etype not in (1, 2, 5) or nlen < 2 or nlen > 64:
            continue
        name = e[:nlen - 2].decode("utf-16-le", "replace")
        entries.append((name, etype, _u32(e, 116),
                        _u32(e, 120)))
    root = next((e for e in entries if e[1] == 5), None)
    if root is None:
        raise _CfbError("no root entry")
    mini_container = read_chain(root[2], root[3]) if root[3] else b""
    minifat: list = []
    if n_minifat and first_minifat not in (_ENDOFCHAIN, _FREESECT):
        raw = read_chain(first_minifat, n_minifat * ssz)
        minifat = [_u32(raw, 4 * k) for k in range(len(raw) // 4)]

    def read_mini(start: int, size: int) -> bytes:
        out, seen = [], set()
        s = start
        while (s not in (_ENDOFCHAIN, _FREESECT)
               and len(out) * mini_ssz < size + mini_ssz):
            if s >= len(minifat) or s in seen:
                raise _CfbError("broken mini chain")
            seen.add(s)
            chunk = mini_container[s * mini_ssz:(s + 1) * mini_ssz]
            out.append(chunk.ljust(mini_ssz, b"\x00"))
            s = minifat[s]
        return b"".join(out)[:size]

    streams = {}
    for name, etype, start, size in entries:
        if etype != 2 or name in streams:
            continue
        try:
            if size < mini_cutoff:
                streams[name] = read_mini(start, size)
            else:
                streams[name] = read_chain(start, size)
        except _CfbError:
            continue  # one broken stream keeps the rest
    return streams


# --- MS-DOC text layer -------------------------------------------------------

# Word's in-text control characters → display text (MS-DOC §2.8/2.9)
_CTRL_MAP = {
    "\r": "\n",       # paragraph mark
    "\x07": "\t",     # cell mark (row mark shares the code)
    "\x0b": "\n",     # line break
    "\x0c": "\n",     # page break
    "\x0e": "\n",     # column break
    "\x1e": "-",      # non-breaking hyphen
    "\x1f": "",       # soft hyphen (invisible)
    "\x13": "", "\x14": "", "\x15": "",   # field begin/sep/end
    "\x01": "", "\x02": "", "\x05": "",   # pic/footnote-ref/comment
    "\x08": "",                            # drawn object
}
_CTRL_TRANS = str.maketrans(_CTRL_MAP)


def _doc_text_from_streams(streams: dict):
    """(text, status) from CFB streams — raises only _CfbError."""
    wd = streams.get("WordDocument")
    if wd is None:
        return (None, "not-doc")
    if len(wd) < 0x200 or _u16(wd, 0) != 0xA5EC:
        return (None, "parse-failed")
    flags = _u16(wd, 0x0A)
    if flags & 0x0100 or flags & 0x8000:   # fEncrypted / fObfuscated
        return (None, "encrypted")
    table = streams.get("1Table" if flags & 0x0200 else "0Table")
    if table is None:  # tolerate a mis-flagged writer
        table = streams.get("0Table") or streams.get("1Table")
    ccp_text = _u32(wd, 0x4C)
    pieces = None
    if table is not None and len(wd) >= 0x1AA:
        fc_clx, lcb_clx = _u32(wd, 0x1A2), _u32(wd, 0x1A6)
        if lcb_clx and fc_clx + lcb_clx <= len(table):
            pieces = _walk_clx(table[fc_clx:fc_clx + lcb_clx])
    if pieces is None:
        # pre-piece-table (Word 6/95-style) inline text region:
        # fcMin..fcMac straight CP1252 in the WordDocument stream
        fc_min, fc_mac = _u32(wd, 0x18), _u32(wd, 0x1C)
        if 0x200 <= fc_min < fc_mac <= len(wd):
            raw = wd[fc_min:fc_mac][:_MAX_OUT]
            return (raw.decode("cp1252", "replace")
                    .translate(_CTRL_TRANS), "extracted-scan")
        return (None, "parse-failed")
    cps, pcds = pieces
    out: list = []
    emitted_units = 0
    status = "extracted"
    for k, (cp0, cp1, fc) in enumerate(
            zip(cps, cps[1:], pcds)):
        if k >= _MAX_PIECES or emitted_units >= _MAX_OUT:
            status = "extracted-partial"
            break
        n_units = min(cp1, ccp_text) - cp0
        if n_units <= 0:
            break  # main-text range exhausted (footnotes follow)
        if fc & 0x40000000:
            off = (fc & 0x3FFFFFFF) // 2
            raw = wd[off:off + n_units]
            if len(raw) < n_units:
                status = "extracted-partial"
            out.append(raw.decode("cp1252", "replace"))
        else:
            raw = wd[fc:fc + 2 * n_units]
            if len(raw) < 2 * n_units:
                status = "extracted-partial"
            # surrogatepass: CPs count UTF-16 units, so a piece
            # boundary may legally split a surrogate PAIR — decode
            # leniently per piece, recombine across pieces below
            try:
                out.append(raw.decode("utf-16-le", "surrogatepass"))
            except UnicodeDecodeError:
                out.append(raw.decode("utf-16-le", "replace"))
        emitted_units += n_units
    text = "".join(out)
    # recombine pairs split across piece boundaries; stray lone
    # surrogates become U+FFFD (Arrow/parquet-safe)
    text = (text.encode("utf-16-le", "surrogatepass")
            .decode("utf-16-le", "replace"))
    text = text.translate(_CTRL_TRANS)
    return (text, status)


def _walk_clx(clx: bytes):
    """Clx bytes → (cps, pcd_fcs) or None when malformed."""
    i = 0
    while i < len(clx) and clx[i] == 0x01:   # Prc property blocks
        if i + 3 > len(clx):
            return None
        i += 3 + _u16(clx, i + 1)
    if i >= len(clx) or clx[i] != 0x02:
        return None
    if i + 5 > len(clx):
        return None
    lcb = _u32(clx, i + 1)
    plc = clx[i + 5:i + 5 + lcb]
    if len(plc) < lcb or lcb < 4 or (lcb - 4) % 12:
        return None
    n = (lcb - 4) // 12
    cps = [_u32(plc, 4 * k) for k in range(n + 1)]
    if any(b > a for a, b in zip(cps[1:], cps)):
        return None  # CPs must be non-decreasing
    pcds = [_u32(plc, 4 * (n + 1) + 8 * k + 2) for k in range(n)]
    return cps, pcds


def _extract_doc_one(b):
    """(text, status, n_chars) — never raises."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] != _CFB_MAGIC:
            return (None, "not-doc", None)
        try:
            streams = _cfb_streams(data)
        except _CfbError:
            return (None, "parse-failed", None)
        text, status = _doc_text_from_streams(streams)
        return (text, status, len(text) if text is not None else None)
    except Exception:
        return (None, "parse-failed", None)


def extract_doc_text(payload: Column) -> Column:
    """Binary legacy .doc payload → ``struct<text, status, n_chars>``
    (see the module docstring for the ladder).  One Arrow-batched map
    pass — no shuffle; a NULL payload gives a non-NULL struct whose
    fields are all NULL; one hostile document can never kill the
    task."""
    return row_udf("struct<text: string, status: string, n_chars: int>",
                   _extract_doc_one)(payload)


# --- in-repo writers (test/gating twins) -------------------------------------

def cfb_write(streams: dict) -> bytes:
    """Minimal REAL [MS-CFB] writer: 512-byte sectors, FAT + header
    DIFAT, linear directory, and a genuine miniFAT + mini stream for
    streams under the 4096-byte cutoff (so the reader's mini path is
    on the fixture hash path, exactly like real Word files whose
    Table stream is small)."""
    mini_parts, minifat, mini_start = [], [], {}
    reg = {}
    for name, b in streams.items():
        if len(b) < 4096:
            nsec = (len(b) + 63) // 64 or 1
            first = len(minifat)
            mini_start[name] = first
            for k in range(nsec):
                minifat.append(first + k + 1 if k < nsec - 1
                               else _ENDOFCHAIN)
            mini_parts.append(b.ljust(nsec * 64, b"\x00"))
        else:
            reg[name] = b
    mini_data = b"".join(mini_parts)

    sectors: list = []
    fat: list = []

    def add_chain(payload: bytes) -> int:
        if not payload:
            return _ENDOFCHAIN
        n = (len(payload) + 511) // 512
        first = len(sectors)
        for k in range(n):
            sectors.append(payload[k * 512:(k + 1) * 512]
                           .ljust(512, b"\x00"))
            fat.append(first + k + 1 if k < n - 1 else _ENDOFCHAIN)
        return first

    reg_start = {n: add_chain(b) for n, b in reg.items()}
    mini_container_start = add_chain(mini_data)
    minifat_blob = b"".join(struct.pack("<I", x) for x in minifat)
    minifat_start = add_chain(minifat_blob)
    n_minifat_sect = (len(minifat_blob) + 511) // 512

    def dirent(name, etype, start, size, child=_FREESECT):
        e = bytearray(128)
        nb = name.encode("utf-16-le")[:62]
        e[:len(nb)] = nb
        struct.pack_into("<H", e, 64, len(nb) + 2)
        e[66] = etype
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, _FREESECT, _FREESECT, child)
        struct.pack_into("<I", e, 116,
                         start if start is not None else _FREESECT)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    ents = [dirent("Root Entry", 5, mini_container_start,
                   len(mini_data), child=1 if streams else _FREESECT)]
    for name, b in streams.items():
        start = (reg_start[name] if name in reg
                 else mini_start.get(name, _ENDOFCHAIN))
        ents.append(dirent(name, 2, start, len(b)))
    dir_start = add_chain(b"".join(ents))

    n_pay = len(sectors)
    n_fat = 1
    while (n_pay + n_fat) > n_fat * 128:
        n_fat += 1
    assert n_fat <= 109, "fixture writer: header DIFAT only"
    full_fat = fat + [_FATSECT] * n_fat
    full_fat += [_FREESECT] * (n_fat * 128 - len(full_fat))
    fat_blob = b"".join(struct.pack("<I", x) for x in full_fat)
    for k in range(n_fat):
        sectors.append(fat_blob[k * 512:(k + 1) * 512])

    hdr = bytearray(512)
    hdr[:8] = _CFB_MAGIC
    struct.pack_into("<H", hdr, 0x18, 0x003E)   # minor version
    struct.pack_into("<H", hdr, 0x1A, 0x0003)   # major version 3
    struct.pack_into("<H", hdr, 0x1C, 0xFFFE)   # little-endian
    struct.pack_into("<H", hdr, 0x1E, 9)        # 512-byte sectors
    struct.pack_into("<H", hdr, 0x20, 6)        # 64-byte mini
    struct.pack_into("<I", hdr, 0x2C, n_fat)
    struct.pack_into("<I", hdr, 0x30, dir_start)
    struct.pack_into("<I", hdr, 0x38, 4096)     # mini cutoff
    struct.pack_into("<I", hdr, 0x3C, minifat_start)
    struct.pack_into("<I", hdr, 0x40, n_minifat_sect)
    struct.pack_into("<I", hdr, 0x44, _ENDOFCHAIN)
    struct.pack_into("<I", hdr, 0x48, 0)
    difat = [n_pay + k for k in range(n_fat)]
    difat += [_FREESECT] * (109 - len(difat))
    struct.pack_into("<109I", hdr, 0x4C, *difat)
    return bytes(hdr) + b"".join(sectors)


def doc_write(
    text: str,
    *,
    table1: bool = False,
    prc_blocks: bool = False,
    piece_cap: int = 0,
    pad_word_stream: bool = False,
    encrypted: bool = False,
    word6: bool = False,
) -> bytes:
    """In-repo [MS-DOC] writer: ``text`` (``\\n`` joins paragraphs —
    stored as CR paragraph marks, TAB as the 0x07 cell code is NOT
    used; literal TABs pass through).  The piece table is
    CONTENT-DRIVEN: maximal CP1252-able runs become compressed
    pieces, anything else UTF-16 pieces (astral chars as surrogate
    pairs), so both decode paths ride every mixed document.
    ``table1`` stores the piece table in ``1Table`` (and sets
    fWhichTblStm); ``prc_blocks`` prepends Prc property blocks the
    reader must skip; ``piece_cap`` force-splits pieces every N code
    units (piece-boundary torture); ``pad_word_stream`` pads the
    WordDocument stream past the 4096 mini cutoff (regular-FAT path —
    otherwise both streams ride the miniFAT path); ``encrypted`` sets
    fEncrypted (degrade fixture); ``word6`` writes the pre-piece-
    table inline layout (fcMin/fcMac, CP1252 only — the
    ``extracted-scan`` fixture)."""
    stored = text.replace("\n", "\r")
    fib = bytearray(0x600)
    struct.pack_into("<H", fib, 0, 0xA5EC)
    struct.pack_into("<H", fib, 2, 0x00C1)      # nFib: Word 97
    flags = (0x0200 if table1 else 0) | (0x0100 if encrypted else 0)
    struct.pack_into("<H", fib, 0x0A, flags)
    struct.pack_into("<H", fib, 0x20, 0x000E)   # csw
    struct.pack_into("<H", fib, 0x3E, 0x0016)   # cslw
    struct.pack_into("<H", fib, 0x98, 0x005D)   # cbRgFcLcb

    if word6:
        raw = stored.encode("cp1252", "replace")
        struct.pack_into("<I", fib, 0x18, 0x600)           # fcMin
        struct.pack_into("<I", fib, 0x1C, 0x600 + len(raw))  # fcMac
        struct.pack_into("<I", fib, 0x4C, len(raw))
        wd = bytes(fib) + raw
        table = b""
    else:
        # content-driven piece runs: CP1252-able vs not
        def cp1252able(ch):
            try:
                ch.encode("cp1252")
                return True
            except UnicodeEncodeError:
                return False

        runs: list = []
        for ch in stored:
            kind = cp1252able(ch)
            if runs and runs[-1][0] == kind:
                runs[-1][1].append(ch)
            else:
                runs.append([kind, [ch]])
        pieces = []  # (compressed, encoded_bytes, n_cp_units)
        for kind, chars in runs:
            s = "".join(chars)
            if kind:
                enc, unit = s.encode("cp1252"), 1
            else:
                enc, unit = s.encode("utf-16-le"), 2
            n_units = len(enc) // unit
            cap = piece_cap or n_units or 1
            for k in range(0, max(n_units, 1), cap):
                chunk = enc[k * unit:(k + cap) * unit]
                pieces.append((kind, chunk, len(chunk) // unit))
        text_blob = bytearray()
        cps, pcds = [0], []
        for compressed, enc, n_units in pieces:
            off = 0x600 + len(text_blob)
            if compressed:
                fc = (off * 2) | 0x40000000
            else:
                fc = off
            text_blob += enc
            cps.append(cps[-1] + n_units)
            pcds.append(fc)
        struct.pack_into("<I", fib, 0x4C, cps[-1])  # ccpText
        clx = bytearray()
        if prc_blocks:
            grpprl = b"\x02\x00\x00"  # arbitrary small property blob
            clx += b"\x01" + struct.pack("<H", len(grpprl)) + grpprl
            clx += b"\x01" + struct.pack("<H", 2) + b"\x00\x00"
        n = len(pcds)
        lcb = 4 * (n + 1) + 8 * n
        clx += b"\x02" + struct.pack("<I", lcb)
        for cp in cps:
            clx += struct.pack("<I", cp)
        for fc in pcds:
            clx += b"\x00\x00" + struct.pack("<I", fc) + b"\x00\x00"
        struct.pack_into("<I", fib, 0x1A2, 0)          # fcClx
        struct.pack_into("<I", fib, 0x1A6, len(clx))   # lcbClx
        wd = bytes(fib) + bytes(text_blob)
        table = bytes(clx)
    if pad_word_stream and len(wd) < 4096:
        wd = wd + b"\x00" * (4096 - len(wd))
    name = "1Table" if table1 else "0Table"
    return cfb_write({"WordDocument": wd, name: table,
                      "\x05SummaryInformation": b"\x00" * 8})
