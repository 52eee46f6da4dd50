"""DOCX text extraction — the largest crawl-payload text class left
after HTML (:mod:`.htmltext`) and PDF (:mod:`.pdftext`) closed
(round 13; round-12 verdict item 2).

Not in the reference (its surface stops at the type system); this
extends the engine per the LLM-pipeline brief, sized against the
public OOXML layout (ISO/IEC 29500): a ``.docx`` is a zip (stdlib
``zipfile``) whose ``word/document.xml`` (stdlib ``xml.etree``)
carries the body — paragraphs ``w:p``, text runs ``w:t``, explicit
tabs ``w:tab``, line breaks ``w:br``/``w:cr``; table cells nest
ordinary ``w:p`` elements, so a document-order walk covers them for
free.  Both the transitional (schemas.openxmlformats.org) and strict
(purl.oclc.org) WordprocessingML namespaces are accepted.

Everything a stdlib parser cannot honestly decode degrades to a
VISIBLE status class — the same contract as every codec in this
package:

* ``extracted`` — zip opened, ``word/document.xml`` parsed as XML.
* ``extracted-scan`` — the strict path broke (truncated/corrupt zip
  central directory, malformed XML) but text was salvaged: the raw
  deflate stream behind the ``word/document.xml`` local file header
  is inflated tolerantly and the ``w:t``/``w:tab``/``w:br`` runs are
  recovered by regex — the lenient path truncated crawl payloads
  need.
* ``missing-part`` — valid zip with no ``word/document.xml`` (an
  xlsx/pptx, or a stripped container).
* ``encrypted`` — OLE CFB container carrying an
  ``EncryptedPackage``/``EncryptionInfo`` stream: the standard
  encrypted-OOXML shape.  NULL text, never ciphertext.
* ``legacy-doc`` — OLE CFB carrying a ``WordDocument`` stream: a
  binary pre-2007 ``.doc``, a genuinely different format (out of
  scope, visibly classed — never silently-wrong text).
* ``cfb-container`` — CFB magic but neither marker stream found.
* ``not-docx`` — neither zip nor CFB magic.
* ``parse-failed`` — structure beyond both the strict and salvage
  paths.  The kernel NEVER raises: one hostile document must never
  kill a Spark task (same rule as the WARC/HTML/PDF paths).

Gating follows the codec recipe: an in-repo spec-shaped writer
(:func:`docx_write` — run splitting, ``w:tab``/``w:br`` elements,
table-wrapped paragraphs, strict-namespace variant, core-properties
part — plus :func:`ole_write` for the CFB degrade fixtures) drives
exact round trips and degrade-class units; fuzz pins the never-raise
contract; oracle x51 puts typeset→re-extract identity on the
driver's hash path (the x49 recipe).

The OpenDocument sibling rides the same seam too:
:func:`extract_odt_text` (ODF 1.2 ``text:p``/``text:h`` paragraphs
with the mixed-content inline walk — spans, ``text:tab``,
``text:line-break``, run-length ``text:s`` spaces; manifest
``encryption-data`` → ``encrypted``) with writer :func:`odt_write`
and oracle x56.

The sibling OOXML classes ride the same seam (round 13):
:func:`extract_pptx_text` (DrawingML ``a:t`` runs per ``a:p``,
slides in numeric order, per-slide salvage; legacy binary PowerPoint
classes as ``legacy-ppt``) and :func:`extract_xlsx_text`
(sharedStrings-resolved cell values — shared/inline/literal/boolean/
numeric — TAB-joined per row; legacy binary Excel as ``legacy-xls``),
each with its in-repo writer (:func:`pptx_write`, :func:`xlsx_write`)
and oracles x52/x53 on the driver's hash path.

Scale shape: :func:`extract_docx_text` is one Arrow-batched
``pandas_udf`` over a binary column (the per-document loop IS the
parser, like :mod:`.pdftext`) — a narrow map pass, no shuffle, no
driver collection; feeds the existing text stack (quality,
language-ID, dedup) directly.
"""

from __future__ import annotations

import io
import math
import re
import zipfile
import zlib
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape as _xml_escape

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.kernel import row_udf

__all__ = ["extract_docx_text", "docx_metadata", "docx_format_report",
           "docx_write", "ole_write",
           "extract_pptx_text", "pptx_write",
           "extract_xlsx_text", "xlsx_write",
           "extract_odt_text", "odt_write"]

# transitional (what Word writes) and strict OOXML namespaces
_W_NS = ("http://schemas.openxmlformats.org/wordprocessingml/2006/main",
         "http://purl.oclc.org/ooxml/wordprocessingml/main")

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

# Hard caps: one hostile document must cost bounded memory/CPU (the
# same rule as pdftext's _MAX_STREAM) — a crafted deflate stream can
# expand 1000x+.
_MAX_XML = 1 << 26  # 64 MiB of document.xml is far beyond real docs
_MAX_PARAS = 200_000


class _DocxError(Exception):
    pass


def _local(tag) -> str:
    """Element localname (namespace stripped); '' for non-str tags
    (comments/PIs)."""
    if not isinstance(tag, str):
        return ""
    return tag.rsplit("}", 1)[-1]


def _para_text(p) -> str:
    """One ``w:p`` element → its display text: ``w:t`` runs verbatim
    (whitespace kept — Word marks significant space with
    ``xml:space='preserve'``, and trimming what it didn't mark loses
    more than it fixes on real documents), ``w:tab`` → TAB,
    ``w:br``/``w:cr`` → newline.  ``w:delText`` (tracked deletions)
    and ``w:instrText`` (field codes) are NOT display text and fall
    through the localname match."""
    parts = []
    for node in p.iter():
        ln = _local(node.tag)
        if ln == "t":
            parts.append(node.text or "")
        elif ln == "tab":
            parts.append("\t")
        elif ln in ("br", "cr"):
            parts.append("\n")
    return "".join(parts)


def _body_paragraphs(root) -> list[str]:
    """Document-order paragraph texts from a parsed document.xml.
    ``iter`` visits table-cell paragraphs in order for free; a
    ``w:p`` nested inside another (text boxes) is skipped at the
    outer level by the iterator semantics below."""
    out = []
    nested = set()  # w:p inside another w:p (text boxes): their runs
    for p in root.iter():  # already surfaced by the OUTER paragraph
        if _local(p.tag) != "p" or id(p) in nested:
            continue
        for sub in p.iter():
            if sub is not p and _local(sub.tag) == "p":
                nested.add(id(sub))
        out.append(_para_text(p))
        if len(out) >= _MAX_PARAS:
            break
    return out


# longest alternative FIRST ('t' before 'tab' would let <w:tab/>
# match as a t-run and swallow text up to the next </w:t>), and a
# lookahead so <w:tc>/<w:tbl> never match the 't' branch
_T_RUN_RE = re.compile(
    rb"<w:(tab|br|cr|t)(?=[\s/>])[^>]*?(?:/>|>(.*?)</w:\1\s*>)", re.S)
_P_END_RE = re.compile(rb"</w:p\s*>")
_ENT_RE = re.compile(r"&(lt|gt|amp|quot|apos|#\d+|#x[0-9a-fA-F]+);")


def _unescape(s: str) -> str:
    def one(m):
        e = m.group(1)
        if e == "lt":
            return "<"
        if e == "gt":
            return ">"
        if e == "amp":
            return "&"
        if e == "quot":
            return '"'
        if e == "apos":
            return "'"
        try:
            cp = (int(e[2:], 16) if e[1] in "xX" else int(e[1:]))
            return chr(cp) if cp <= 0x10FFFF else "?"
        except ValueError:
            return m.group(0)
    return _ENT_RE.sub(one, s)


def _salvage_xml_text(xml: bytes) -> list[str]:
    """Regex recovery of paragraph texts from (possibly truncated or
    malformed) document.xml bytes — the ``extracted-scan`` path.
    Paragraph boundaries from ``</w:p>``; runs from ``w:t`` (entity
    unescape), ``w:tab``, ``w:br``/``w:cr``."""
    paras = []
    chunks = _P_END_RE.split(xml)
    for k, chunk in enumerate(chunks):
        parts = []
        for m in _T_RUN_RE.finditer(chunk):
            kind = m.group(1)
            if kind == b"t":
                parts.append(_unescape(
                    (m.group(2) or b"").decode("utf-8", "replace")))
            elif kind == b"tab":
                parts.append("\t")
            else:
                parts.append("\n")
        if k == len(chunks) - 1 and not parts:
            break  # tail after the last </w:p>: only keep real runs
            # (a TRUNCATED final paragraph still salvages its text)
        paras.append("".join(parts))
        if len(paras) >= _MAX_PARAS:
            break
    if not paras:
        raise _DocxError("no paragraphs salvaged")
    return paras


def _raw_zip_member(data: bytes, name: bytes) -> bytes:
    """Tolerant extraction of one member's bytes straight off its
    LOCAL file header (no central directory needed — exactly what a
    truncated crawl payload is missing): scan ``PK\\x03\\x04``
    headers, match the name, inflate raw-deflate until the stream
    ends OR the data runs out, keeping the decoded prefix."""
    pos = 0
    while True:
        pos = data.find(b"PK\x03\x04", pos)
        if pos < 0 or pos + 30 > len(data):
            raise _DocxError("member not found")
        nlen = int.from_bytes(data[pos + 26:pos + 28], "little")
        elen = int.from_bytes(data[pos + 28:pos + 30], "little")
        mname = data[pos + 30:pos + 30 + nlen]
        start = pos + 30 + nlen + elen
        if mname != name:
            pos += 4
            continue
        method = int.from_bytes(data[pos + 8:pos + 10], "little")
        blob = data[start:]
        if method == 0:
            csize = int.from_bytes(data[pos + 18:pos + 22], "little")
            return blob[:csize] if csize else blob
        d = zlib.decompressobj(-15)
        try:
            out = d.decompress(blob, _MAX_XML)
        except zlib.error as e:
            raise _DocxError("undecodable deflate") from e
        return out


def _classify_cfb(data: bytes) -> str:
    """CFB (OLE2) containers by marker stream name (UTF-16LE in the
    directory entries): encrypted OOXML vs legacy binary .doc.  A
    byte-search heuristic, not a sector walk — names are stored
    verbatim, and a false positive only moves one degrade class to
    another (text stays NULL either way)."""
    for marker, status in (("EncryptedPackage", "encrypted"),
                           ("EncryptionInfo", "encrypted"),
                           ("WordDocument", "legacy-doc"),
                           ("PowerPoint Document", "legacy-ppt"),
                           ("Workbook", "legacy-xls"),
                           ("Book", "legacy-xls")):
        if marker.encode("utf-16-le") in data:
            return status
    return "cfb-container"


def _extract_docx_one(b):
    """(text, status, n_paragraphs) for one payload — never raises."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] == _CFB_MAGIC:
            return (None, _classify_cfb(data), None)
        if data[:2] != b"PK":
            return (None, "not-docx", None)
        xml = None
        try:
            with zipfile.ZipFile(io.BytesIO(data)) as z:
                if "word/document.xml" not in set(z.namelist()):
                    return (None, "missing-part", None)
                with z.open("word/document.xml") as fh:
                    xml = fh.read(_MAX_XML)
        except (zipfile.BadZipFile, NotImplementedError, OSError,
                zlib.error, ValueError, EOFError):
            pass  # broken central dir OR broken member: raw salvage
        if xml is not None:
            try:
                root = ET.fromstring(xml)
                paras = _body_paragraphs(root)
                return ("\n".join(paras), "extracted", len(paras))
            except ET.ParseError:
                try:
                    paras = _salvage_xml_text(xml)
                    return ("\n".join(paras), "extracted-scan",
                            len(paras))
                except _DocxError:
                    return (None, "parse-failed", None)
        # zip structure broken: raw local-header walk, then regex
        try:
            raw = _raw_zip_member(data, b"word/document.xml")
            paras = _salvage_xml_text(raw)
            return ("\n".join(paras), "extracted-scan", len(paras))
        except _DocxError:
            return (None, "parse-failed", None)
    except Exception:
        # the never-raise contract (same as pdftext/htmltext)
        return (None, "parse-failed", None)


def extract_docx_text(payload: Column) -> Column:
    """Binary DOCX payload → ``struct<text, status, n_paragraphs>``
    (see the module docstring for the status classes).  Paragraphs
    join with newlines; tabs/breaks decode to TAB/newline.  One
    Arrow-batched map pass — no shuffle, scale-free; a NULL payload
    gives a non-NULL struct whose fields are all NULL; one hostile
    document can never kill the task."""
    return row_udf("struct<text: string, status: string, n_paragraphs: int>",
                   _extract_docx_one)(payload)


# core-properties (docProps/core.xml, Dublin Core) fields surfaced by
# docx_metadata — the DOCX twin of pdftext._INFO_FIELDS
_CORE_FIELDS = ("title", "subject", "creator", "keywords",
                "description", "last_modified_by", "revision",
                "created", "modified")
_CORE_TAGS = ("title", "subject", "creator", "keywords", "description",
              "lastModifiedBy", "revision", "created", "modified")


def _docx_meta_one(b):
    """One payload → (*fields, status) for :func:`docx_metadata` —
    reads only ``docProps/core.xml`` (structure-only; body text never
    inflates).  Never raises."""
    nulls = (None,) * len(_CORE_FIELDS)
    if b is None:
        return nulls + (None,)
    try:
        data = bytes(b)
        if data[:8] == _CFB_MAGIC:
            return nulls + (_classify_cfb(data),)
        if data[:2] != b"PK":
            return nulls + ("not-docx",)
        try:
            with zipfile.ZipFile(io.BytesIO(data)) as z:
                if "docProps/core.xml" not in set(z.namelist()):
                    return nulls + ("no-core-part",)
                with z.open("docProps/core.xml") as fh:
                    xml = fh.read(_MAX_XML)
        except (zipfile.BadZipFile, NotImplementedError, OSError,
                zlib.error, ValueError, EOFError):
            return nulls + ("parse-failed",)
        try:
            root = ET.fromstring(xml)
        except ET.ParseError:
            return nulls + ("parse-failed",)
        by_local = {}
        for node in root:
            by_local.setdefault(_local(node.tag), node.text)
        fields = tuple(by_local.get(t) for t in _CORE_TAGS)
        return fields + ("ok",)
    except Exception:
        return nulls + ("parse-failed",)


def docx_metadata(payload: Column) -> Column:
    """Binary DOCX payload → ``struct<title, subject, creator,
    keywords, description, last_modified_by, revision, created,
    modified, status>`` from the Dublin-Core ``docProps/core.xml``
    part — the DOCX twin of :func:`~.pdftext.pdf_metadata`:
    structure-only, Arrow-batched, never raises.  Encrypted/legacy
    CFB containers surface their class with all-NULL fields."""
    return row_udf("struct<%s, status: string>" % ", ".join(
        "%s: string" % f for f in _CORE_FIELDS), _docx_meta_one)(payload)


def docx_format_report(extracted: DataFrame, col: str = "docx") -> DataFrame:
    """Per-status extraction outcomes — the OOXML twin of
    :func:`~.pdftext.pdf_format_report`: counts + unit totals per
    status class over a frame holding an ``extract_docx_text`` /
    ``extract_pptx_text`` / ``extract_xlsx_text`` struct column
    (default name ``docx``; the struct's own count field —
    n_paragraphs / n_slides / n_cells — is discovered from its
    schema, so one report serves all three extractors).  One partial
    agg → tiny result."""
    struct_field = extracted.schema[col].dataType
    n_field = next(f.name for f in struct_field.fields
                   if f.name.startswith("n_"))
    return (extracted
            .groupBy(F.col(f"{col}.status").alias("status"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(f"{col}.{n_field}").alias(n_field),
                 F.avg(F.length(f"{col}.text")).alias("avg_chars"))
            .orderBy("status"))


# --- in-repo writer (test/gating twin, NOT a production sink) ---------------

_CT_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.'
    'main+xml"/>'
    '<Override PartName="/docProps/core.xml" ContentType="application/'
    'vnd.openxmlformats-package.core-properties+xml"/>'
    '</Types>')

_RELS_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/>'
    '</Relationships>')


def _runs_xml(text: str, split_runs: bool, tabs_as_elements: bool) -> str:
    """Run markup for one paragraph's text: ``\\n`` → ``<w:br/>``,
    optionally ``\\t`` → ``<w:tab/>``, optionally the text split into
    multiple short runs (the shape real editors emit after revisions).
    Every ``w:t`` carries ``xml:space='preserve'`` — the writer always
    marks, the reader never trims."""
    out = []

    def emit_t(s: str):
        if not s:
            return
        chunks = ([s[i:i + 16] for i in range(0, len(s), 16)]
                  if split_runs else [s])
        for c in chunks:
            out.append('<w:r><w:t xml:space="preserve">%s</w:t></w:r>'
                       % _xml_escape(c))

    specials = "\n\t" if tabs_as_elements else "\n"
    buf = []
    for ch in text:
        if ch in specials:
            emit_t("".join(buf))
            buf = []
            out.append("<w:r><w:br/></w:r>" if ch == "\n"
                       else "<w:r><w:tab/></w:r>")
        else:
            buf.append(ch)
    emit_t("".join(buf))
    return "".join(out)


def docx_write(
    paragraphs,
    *,
    info: dict | None = None,
    split_runs: bool = False,
    tabs_as_elements: bool = False,
    table_after_first: bool = False,
    strict_ns: bool = False,
    missing_part: bool = False,
) -> bytes:
    """In-repo DOCX writer (the test/gating twin of
    :func:`extract_docx_text`, NOT a production sink): ``paragraphs``
    is a list of paragraph texts (``\\n`` inside one becomes a
    ``<w:br/>``).  ``split_runs`` splits each paragraph into many
    short ``w:t`` runs; ``tabs_as_elements`` writes TABs as
    ``<w:tab/>`` elements instead of literal characters;
    ``table_after_first`` wraps every paragraph after the first into
    one-cell table rows (the nested ``w:tbl``/``w:tr``/``w:tc``
    traversal fixture); ``strict_ns`` emits the strict OOXML
    namespace; ``missing_part`` drops ``word/document.xml`` (the
    degrade fixture)."""
    if isinstance(paragraphs, str):
        paragraphs = [paragraphs]
    ns = _W_NS[1] if strict_ns else _W_NS[0]
    ps = ["<w:p>%s</w:p>"
          % _runs_xml(t, split_runs, tabs_as_elements)
          for t in paragraphs]
    if table_after_first and len(ps) > 1:
        rows = "".join(
            "<w:tr><w:tc>%s</w:tc></w:tr>" % p for p in ps[1:])
        body = ps[0] + "<w:tbl>%s</w:tbl>" % rows
    else:
        body = "".join(ps)
    doc_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="%s"><w:body>%s'
        '<w:sectPr/></w:body></w:document>' % (ns, body))
    core = None
    if info:
        dc = {"title": "dc:title", "subject": "dc:subject",
              "creator": "dc:creator", "keywords": "cp:keywords",
              "description": "dc:description",
              "last_modified_by": "cp:lastModifiedBy",
              "revision": "cp:revision",
              "created": "dcterms:created",
              "modified": "dcterms:modified"}
        items = []
        for k, v in info.items():
            tag = dc.get(k, "dc:" + k)
            attr = (' xsi:type="dcterms:W3CDTF"'
                    if tag.startswith("dcterms:") else "")
            items.append("<%s%s>%s</%s>"
                         % (tag, attr, _xml_escape(str(v)), tag))
        core = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<cp:coreProperties '
            'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
            'metadata/core-properties" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/" '
            'xmlns:dcterms="http://purl.org/dc/terms/" '
            'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
            "%s</cp:coreProperties>" % "".join(items))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CT_XML)
        z.writestr("_rels/.rels", _RELS_XML)
        if not missing_part:
            z.writestr("word/document.xml", doc_xml)
        if core:
            z.writestr("docProps/core.xml", core)
    return buf.getvalue()


def ole_write(kind: str = "encrypted") -> bytes:
    """Minimal CFB (OLE2) container fixture for the encrypted /
    legacy-doc degrade classes: real magic + header shape + a
    directory sector whose entry names carry the marker stream
    (UTF-16LE, the on-disk form).  ``kind``: ``encrypted`` (OOXML
    EncryptionInfo + EncryptedPackage), ``legacy`` (binary .doc's
    WordDocument), ``other`` (no marker)."""
    names = {"encrypted": ["Root Entry", "EncryptionInfo",
                           "EncryptedPackage"],
             "legacy": ["Root Entry", "WordDocument", "1Table"],
             "other": ["Root Entry", "SomeStream"]}[kind]
    header = bytearray(512)
    header[:8] = _CFB_MAGIC
    header[26:28] = (3).to_bytes(2, "little")   # minor/major version
    header[28:30] = (0xFFFE).to_bytes(2, "little")  # little-endian
    header[30:32] = (9).to_bytes(2, "little")   # 512-byte sectors
    out = bytearray(header)
    for name in names:
        entry = bytearray(128)
        enc = name.encode("utf-16-le") + b"\x00\x00"
        entry[:len(enc)] = enc
        entry[64:66] = len(enc).to_bytes(2, "little")
        entry[66] = 1 if name != "Root Entry" else 5  # stream/root
        out += entry
    out += bytes(512 - (len(out) % 512 or 512))
    return bytes(out)


# --- PPTX / XLSX: the sibling OOXML classes on the same seam -----------------
# (round 13, sanctioned by the round-12 verdict: "XLSX/PPTX can follow
# the same seam later".)  Same zip container, same CFB classing, same
# Arrow-batched never-raise kernels; only the inner XML dialect
# differs: DrawingML ``a:t`` runs for slides, sharedStrings+sheet
# cells for workbooks.

# transitional and strict DrawingML namespaces (PPTX text runs)
_A_NS = ("http://schemas.openxmlformats.org/drawingml/2006/main",
         "http://purl.oclc.org/ooxml/drawingml/main")

_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_SHEET_RE = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")
_A_T_RE = re.compile(rb"<a:(t|br)(?=[\s/>])[^>]*?(?:/>|>(.*?)</a:\1\s*>)",
                     re.S)
_A_P_END_RE = re.compile(rb"</a:p\s*>")


def _slide_paragraphs(root) -> list[str]:
    """Paragraph texts from one slide part: ``a:p`` paragraphs,
    ``a:t`` runs, ``a:br`` line breaks — shapes/tables/notes all
    carry their text through the same DrawingML runs, so the
    document-order walk covers them."""
    out = []
    for p in root.iter():
        if _local(p.tag) != "p":
            continue
        parts = []
        for node in p.iter():
            ln = _local(node.tag)
            if ln == "t":
                parts.append(node.text or "")
            elif ln == "br":
                parts.append("\n")
        out.append("".join(parts))
        if len(out) >= _MAX_PARAS:
            break
    return out


def _salvage_slide_text(xml: bytes) -> list[str]:
    """Regex recovery of slide paragraphs (the extracted-scan path for
    malformed slide XML)."""
    paras = []
    chunks = _A_P_END_RE.split(xml)
    for k, chunk in enumerate(chunks):
        parts = []
        for m in _A_T_RE.finditer(chunk):
            if m.group(1) == b"t":
                parts.append(_unescape(
                    (m.group(2) or b"").decode("utf-8", "replace")))
            else:
                parts.append("\n")
        if k == len(chunks) - 1 and not parts:
            break
        paras.append("".join(parts))
        if len(paras) >= _MAX_PARAS:
            break
    if not paras:
        raise _DocxError("no slide text salvaged")
    return paras


def _extract_pptx_one(b):
    """(text, status, n_slides) for one payload — never raises.
    Slides are walked in numeric order (slide2 before slide10); one
    malformed slide degrades to its regex salvage (status
    ``extracted-scan``) without losing the rest."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] == _CFB_MAGIC:
            return (None, _classify_cfb(data), None)
        if data[:2] != b"PK":
            return (None, "not-pptx", None)
        try:
            z = zipfile.ZipFile(io.BytesIO(data))
        except (zipfile.BadZipFile, OSError, ValueError):
            return (None, "parse-failed", None)
        with z:
            slides = sorted(
                ((int(m.group(1)), n) for n, m in
                 ((n, _SLIDE_RE.match(n)) for n in z.namelist()) if m))
            if not slides:
                return (None, "missing-part", None)
            texts = []
            any_scan = False
            for _num, name in slides:
                try:
                    with z.open(name) as fh:
                        xml = fh.read(_MAX_XML)
                except Exception:
                    any_scan = True
                    continue
                try:
                    texts.extend(_slide_paragraphs(ET.fromstring(xml)))
                except ET.ParseError:
                    try:
                        texts.extend(_salvage_slide_text(xml))
                        any_scan = True
                    except _DocxError:
                        any_scan = True
            if not texts:
                return (None, "parse-failed", None)
            return ("\n".join(texts),
                    "extracted-scan" if any_scan else "extracted",
                    len(slides))
    except Exception:
        return (None, "parse-failed", None)


def extract_pptx_text(payload: Column) -> Column:
    """Binary PPTX payload → ``struct<text, status, n_slides>``:
    DrawingML ``a:t`` runs per ``a:p`` paragraph, slides concatenated
    in numeric order.  Same degrade ladder and never-raise contract
    as :func:`extract_docx_text` (``not-pptx`` for wrong magic;
    legacy binary PowerPoint classes as ``legacy-ppt``).  One
    Arrow-batched map pass, no shuffle."""
    return row_udf("struct<text: string, status: string, n_slides: int>",
                   _extract_pptx_one)(payload)


def _si_text(si) -> str:
    """One sharedStrings ``si`` item → its text (plain ``t`` or rich
    ``r``/``t`` runs, concatenated)."""
    parts = []
    for node in si.iter():
        if _local(node.tag) == "t":
            parts.append(node.text or "")
    return "".join(parts)


def _num_text(v: str) -> str:
    """Numeric-cell storage text → display text: shortest-roundtrip
    float formatting (``repr(float)``), so an Excel float stored as
    ``1.1000000000000001`` surfaces as the ``1.1`` a human saw —
    training-text-shaped, not storage-shaped.  Integer-stored cells
    (no ``.``/exponent in storage) keep their integer form; anything
    that does not parse as a finite float passes through verbatim."""
    s = v.strip()
    try:
        f = float(s)
    except ValueError:
        return v
    if not math.isfinite(f):
        return v
    r = repr(f)
    if r.endswith(".0") and "." not in s and "e" not in s.lower():
        return r[:-2]
    return r


def _cell_value(c, sst: list) -> str | None:
    """One ``c`` element → its display string: shared (``t="s"``),
    inline (``t="inlineStr"``), literal (``t="str"``), boolean, or
    the numeric ``v`` normalized to shortest-roundtrip form
    (:func:`_num_text`)."""
    t = c.get("t", "n")
    if t == "inlineStr":
        for node in c.iter():
            if _local(node.tag) == "is":
                return _si_text(node)
        return None
    v = None
    for node in c.iter():
        if _local(node.tag) == "v":
            v = node.text or ""
            break
    if v is None:
        return None
    if t == "s":
        try:
            return sst[int(v)]
        except (ValueError, IndexError):
            return None
    if t == "b":
        return "TRUE" if v.strip() == "1" else "FALSE"
    if t == "n":
        return _num_text(v)
    return v


def _extract_xlsx_one(b):
    """(text, status, n_cells) for one payload — never raises.  Rows
    join their non-NULL cells with TAB, rows with newline, sheets (in
    numeric filename order — the lenient ordering; the
    workbook-rels indirection is deliberately not resolved) with
    newline."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] == _CFB_MAGIC:
            return (None, _classify_cfb(data), None)
        if data[:2] != b"PK":
            return (None, "not-xlsx", None)
        try:
            z = zipfile.ZipFile(io.BytesIO(data))
        except (zipfile.BadZipFile, OSError, ValueError):
            return (None, "parse-failed", None)
        with z:
            names = z.namelist()
            sst: list = []
            if "xl/sharedStrings.xml" in names:
                try:
                    with z.open("xl/sharedStrings.xml") as fh:
                        root = ET.fromstring(fh.read(_MAX_XML))
                    sst = [_si_text(si) for si in root
                           if _local(si.tag) == "si"]
                except Exception:
                    sst = []  # shared cells degrade to NULL, not death
            sheets = sorted(
                ((int(m.group(1)), n) for n, m in
                 ((n, _SHEET_RE.match(n)) for n in names) if m))
            if not sheets:
                return (None, "missing-part", None)
            lines = []
            n_cells = 0
            for _num, name in sheets:
                if len(lines) >= _MAX_PARAS:
                    break  # the cap is global per DOCUMENT, not per
                    # sheet — a many-sheet hostile workbook must not
                    # accumulate n_sheets × _MAX_PARAS lines
                try:
                    with z.open(name) as fh:
                        root = ET.fromstring(fh.read(_MAX_XML))
                except Exception:
                    continue  # one bad sheet keeps the rest
                for row in root.iter():
                    if _local(row.tag) != "row":
                        continue
                    cells = []
                    for c in row:
                        if _local(c.tag) != "c":
                            continue
                        val = _cell_value(c, sst)
                        if val is not None:
                            cells.append(val)
                            n_cells += 1
                    lines.append("\t".join(cells))
                    if len(lines) >= _MAX_PARAS:
                        break
            if not lines:
                return (None, "parse-failed", None)
            return ("\n".join(lines), "extracted", n_cells)
    except Exception:
        return (None, "parse-failed", None)


def extract_xlsx_text(payload: Column) -> Column:
    """Binary XLSX payload → ``struct<text, status, n_cells>``:
    sharedStrings-resolved cell values (shared / inline / literal /
    boolean / numeric), cells TAB-joined per row, rows per line,
    sheets in numeric order.  Same degrade ladder and never-raise
    contract as :func:`extract_docx_text` (``not-xlsx`` for wrong
    magic; legacy binary Excel classes as ``legacy-xls``).  One
    Arrow-batched map pass, no shuffle."""
    return row_udf("struct<text: string, status: string, n_cells: int>",
                   _extract_xlsx_one)(payload)


# --- PPTX / XLSX in-repo writers (test/gating twins) -------------------------

_PPTX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.'
    'presentation.main+xml"/>'
    '</Types>')


def pptx_write(slides, *, strict_ns: bool = False) -> bytes:
    """In-repo PPTX writer: ``slides`` is a list of slides, each a
    list of paragraph texts (``\\n`` inside one becomes ``<a:br/>``).
    Spec-shaped minimal package: content types, root rels,
    ``ppt/presentation.xml``, one ``ppt/slides/slideN.xml`` per
    slide with the standard shape-tree nesting."""
    ns = _A_NS[1] if strict_ns else _A_NS[0]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _PPTX_CT)
        z.writestr("_rels/.rels", _RELS_XML.replace(
            "word/document.xml", "ppt/presentation.xml"))
        z.writestr("ppt/presentation.xml",
                   '<?xml version="1.0"?><p:presentation xmlns:p='
                   '"http://schemas.openxmlformats.org/presentationml/'
                   '2006/main"/>')
        for i, paras in enumerate(slides, start=1):
            body = []
            for t in paras:
                runs = []
                for k, seg in enumerate(t.split("\n")):
                    if k:
                        runs.append("<a:br/>")
                    if seg:
                        runs.append("<a:r><a:t>%s</a:t></a:r>"
                                    % _xml_escape(seg))
                body.append("<a:p>%s</a:p>" % "".join(runs))
            z.writestr(
                "ppt/slides/slide%d.xml" % i,
                '<?xml version="1.0"?>'
                '<p:sld xmlns:p="http://schemas.openxmlformats.org/'
                'presentationml/2006/main" xmlns:a="%s">'
                "<p:cSld><p:spTree><p:sp><p:txBody>%s</p:txBody>"
                "</p:sp></p:spTree></p:cSld></p:sld>"
                % (ns, "".join(body)))
    return buf.getvalue()


_XLSX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '</Types>')


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        s = chr(65 + r) + s
    return s


def xlsx_write(sheets, *, shared: bool = True) -> bytes:
    """In-repo XLSX writer: ``sheets`` is a list of sheets, each a
    list of rows, each a list of cell strings.  ``shared`` routes
    string cells through ``xl/sharedStrings.xml`` (``t="s"`` index
    cells — what real writers emit); otherwise inline strings
    (``t="inlineStr"``).  A cell that is an ``int``/``float`` (not a
    string) is written as a numeric cell (default ``t``): floats in
    NOISY full-precision ``%.17g`` storage (what Excel itself emits,
    e.g. ``1.1000000000000001``) so the reader's shortest-roundtrip
    normalization is on the round-trip path; ints as plain digits."""
    sst: list[str] = []
    sst_index: dict[str, int] = {}

    def cell_xml(r: int, ci: int, val) -> str:
        ref = "%s%d" % (_col_letter(ci), r)
        if isinstance(val, bool):
            return '<c r="%s" t="b"><v>%d</v></c>' % (ref, int(val))
        if isinstance(val, int):
            return '<c r="%s"><v>%d</v></c>' % (ref, val)
        if isinstance(val, float):
            return '<c r="%s"><v>%s</v></c>' % (ref, "%.17g" % val)
        if shared:
            if val not in sst_index:
                sst_index[val] = len(sst)
                sst.append(val)
            return '<c r="%s" t="s"><v>%d</v></c>' % (ref,
                                                      sst_index[val])
        return ('<c r="%s" t="inlineStr"><is><t xml:space="preserve">'
                "%s</t></is></c>" % (ref, _xml_escape(val)))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _XLSX_CT)
        z.writestr("_rels/.rels", _RELS_XML.replace(
            "word/document.xml", "xl/workbook.xml"))
        z.writestr("xl/workbook.xml",
                   '<?xml version="1.0"?><workbook xmlns='
                   '"http://schemas.openxmlformats.org/spreadsheetml/'
                   '2006/main"/>')
        for si, rows in enumerate(sheets, start=1):
            body = []
            for ri, cells in enumerate(rows, start=1):
                body.append('<row r="%d">%s</row>' % (ri, "".join(
                    cell_xml(ri, ci, v)
                    for ci, v in enumerate(cells))))
            z.writestr(
                "xl/worksheets/sheet%d.xml" % si,
                '<?xml version="1.0"?><worksheet xmlns='
                '"http://schemas.openxmlformats.org/spreadsheetml/'
                '2006/main"><sheetData>%s</sheetData></worksheet>'
                % "".join(body))
        if shared and sst:
            z.writestr(
                "xl/sharedStrings.xml",
                '<?xml version="1.0"?><sst xmlns='
                '"http://schemas.openxmlformats.org/spreadsheetml/'
                '2006/main" count="%d" uniqueCount="%d">%s</sst>'
                % (len(sst), len(sst), "".join(
                    '<si><t xml:space="preserve">%s</t></si>'
                    % _xml_escape(s) for s in sst)))
    return buf.getvalue()


# --- ODT: the OpenDocument sibling (round 13) --------------------------------
# Same zip seam, different XML dialect (ODF 1.2, OASIS — the public
# LibreOffice/OpenOffice format): content.xml carries text:p / text:h
# paragraphs with text:span runs, text:tab / text:line-break
# elements, and run-length-encoded spaces (text:s text:c="N").
# Encryption is per-entry via META-INF/manifest.xml encryption-data.

_ODT_MAGIC_MIME = b"application/vnd.oasis.opendocument"


def _odt_para_text(p) -> str:
    """One text:p / text:h element → display text.  ODF is MIXED
    content (text in .text and .tail around inline elements), so this
    is a recursive walk, unlike the WordprocessingML run model:
    text:tab → TAB, text:line-break → newline, text:s → its run of
    spaces (text:c count, default 1); note/annotation subtrees
    (footnote bodies, comments) are not inline display text."""
    parts: list[str] = []

    def walk(node):
        ln = _local(node.tag)
        if ln == "tab":
            parts.append("\t")
        elif ln == "line-break":
            parts.append("\n")
        elif ln == "s":
            c = next((v for k, v in node.attrib.items()
                      if k.rsplit("}", 1)[-1] == "c"), None)
            try:
                parts.append(" " * max(1, int(c)) if c else " ")
            except ValueError:
                parts.append(" ")
        elif ln in ("note", "annotation"):
            pass  # skip the subtree, keep the tail (below)
        else:
            if node.text:
                parts.append(node.text)
            for ch in node:
                walk(ch)
        if node.tail:
            parts.append(node.tail)

    if p.text:
        parts.append(p.text)
    for ch in p:
        walk(ch)
    return "".join(parts)


def _extract_odt_one(b):
    """(text, status, n_paragraphs) — never raises.  Paragraphs are
    text:p AND text:h in document order (table-cell paragraphs
    included by the same walk)."""
    if b is None:
        return (None, None, None)
    try:
        data = bytes(b)
        if data[:8] == _CFB_MAGIC:
            return (None, _classify_cfb(data), None)
        if data[:2] != b"PK":
            return (None, "not-odt", None)
        try:
            z = zipfile.ZipFile(io.BytesIO(data))
        except (zipfile.BadZipFile, OSError, ValueError):
            return (None, "parse-failed", None)
        with z:
            names = set(z.namelist())
            if "META-INF/manifest.xml" in names:
                try:
                    with z.open("META-INF/manifest.xml") as fh:
                        if b"encryption-data" in fh.read(_MAX_XML):
                            return (None, "encrypted", None)
                except Exception:
                    pass
            if "content.xml" not in names:
                return (None, "missing-part", None)
            try:
                with z.open("content.xml") as fh:
                    xml = fh.read(_MAX_XML)
            except Exception:
                return (None, "parse-failed", None)
        try:
            root = ET.fromstring(xml)
        except ET.ParseError:
            return (None, "parse-failed", None)
        paras = []
        excluded = set()  # p/h inside notes/annotations (not display
        for node in root.iter():  # text) or inside another p (frames)
            ln = _local(node.tag)
            if ln in ("note", "annotation"):
                for sub in node.iter():
                    if _local(sub.tag) in ("p", "h"):
                        excluded.add(id(sub))
            elif ln in ("p", "h") and id(node) not in excluded:
                for sub in node.iter():
                    if sub is not node and _local(sub.tag) in ("p", "h"):
                        excluded.add(id(sub))
                paras.append(_odt_para_text(node))
                if len(paras) >= _MAX_PARAS:
                    break
        if not paras:
            return ("", "extracted", 0)
        return ("\n".join(paras), "extracted", len(paras))
    except Exception:
        return (None, "parse-failed", None)


def extract_odt_text(payload: Column) -> Column:
    """Binary ODT payload → ``struct<text, status, n_paragraphs>``:
    OpenDocument text:p/text:h paragraphs in document order with the
    mixed-content inline walk (spans, tabs, line breaks, run-length
    spaces).  Encrypted packages (manifest encryption-data) class as
    ``encrypted``; same never-raise contract as the whole seam."""
    return row_udf("struct<text: string, status: string, n_paragraphs: int>",
                   _extract_odt_one)(payload)


_ODT_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_ODT_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"


def odt_write(
    paragraphs,
    *,
    spans: bool = False,
    rle_spaces: bool = False,
    table_after_first: bool = False,
    encrypted: bool = False,
) -> bytes:
    """In-repo ODT writer: ``paragraphs`` is a list of paragraph
    texts (``\\n`` inside one becomes ``<text:line-break/>``, TAB
    becomes ``<text:tab/>``).  ``spans`` wraps alternating 12-char
    chunks in ``text:span``; ``rle_spaces`` encodes runs of 2+
    spaces as ``<text:s text:c="N"/>`` (the ODF whitespace rule);
    ``table_after_first`` wraps later paragraphs in table cells;
    ``encrypted`` writes a manifest with encryption-data (degrade
    fixture)."""
    if isinstance(paragraphs, str):
        paragraphs = [paragraphs]

    def runs(t: str) -> str:
        out = []
        buf: list[str] = []

        def flush():
            if not buf:
                return
            raw = "".join(buf)
            buf.clear()
            if spans:
                # chunk the UNescaped text, then escape each chunk —
                # chunking after escaping could split an entity like
                # &amp; across a span boundary (malformed content.xml)
                chunks = [_xml_escape(raw[i:i + 12])
                          for i in range(0, len(raw), 12)]
                out.append("".join(
                    "<text:span>%s</text:span>" % c if k % 2
                    else c for k, c in enumerate(chunks)))
            else:
                out.append(_xml_escape(raw))

        i = 0
        while i < len(t):
            ch = t[i]
            if ch == "\t":
                flush()
                out.append("<text:tab/>")
            elif ch == "\n":
                flush()
                out.append("<text:line-break/>")
            elif ch == " " and rle_spaces and t[i:i + 2] == "  ":
                j = i
                while j < len(t) and t[j] == " ":
                    j += 1
                flush()
                out.append(' <text:s text:c="%d"/>' % (j - i - 1))
                i = j
                continue
            else:
                buf.append(ch)
            i += 1
        flush()
        return "".join(out)

    ps = ["<text:p>%s</text:p>" % runs(t) for t in paragraphs]
    if table_after_first and len(ps) > 1:
        rows = "".join(
            "<table:table-row><table:table-cell>%s"
            "</table:table-cell></table:table-row>" % p
            for p in ps[1:])
        body = (ps[0] + '<table:table table:name="T1">%s</table:table>'
                % rows)
    else:
        body = "".join(ps)
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content xmlns:office="%s" xmlns:text="%s" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:'
        'table:1.0" office:version="1.2">'
        "<office:body><office:text>%s</office:text></office:body>"
        "</office:document-content>" % (_ODT_OFFICE_NS, _ODT_TEXT_NS,
                                        body))
    manifest_extra = (
        '<manifest:encryption-data manifest:checksum-type="x" '
        'manifest:checksum="x"/>' if encrypted else "")
    manifest = (
        '<?xml version="1.0"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:'
        'opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml">%s</manifest:file-entry>'
        "</manifest:manifest>" % manifest_extra)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("mimetype",
                   "application/vnd.oasis.opendocument.text")
        z.writestr("META-INF/manifest.xml", manifest)
        z.writestr("content.xml", content)
    return buf.getvalue()
