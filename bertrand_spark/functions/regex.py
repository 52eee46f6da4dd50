"""S3: regex engine surface — PCRE2-dialect patterns compiled onto Spark.

Reference: ``bertrand/regex.h:961-1418`` — a PCRE2-backed ``regex`` object
with ``match`` (group / named group / groupdict), ``findall``, ``split``,
``sub``, and match iteration (``regex.h:62-568`` match iterators).

Spark's regex functions (``rlike``/``regexp_extract(_all)``/
``regexp_replace``/``regexp_count``/``regexp_substr``) execute **Java**
``java.util.regex`` JVM-side — the fast path.  This module is the dialect
layer: it translates the PCRE2/Python spelling of a pattern into the Java
spelling where the semantics are identical, and REJECTS (loudly, at plan
time, driver-side) the PCRE2 constructs Java regex cannot express — a
silent pass-through would change match semantics at runtime.

Dialect deltas handled (SURVEY.md §2.7 S3, "document + translate"):

=====================  ==========================  =======================
construct              PCRE2 / Python              Java
=====================  ==========================  =======================
named group            ``(?P<name>...)``           ``(?<name>...)``
named backreference    ``(?P=name)``               ``\\k<name>``
replacement group      ``\\1`` / ``\\g<name>``     ``$1`` / ``${name}``
literal ``$`` (repl)   ``$``                       ``\\$``
=====================  ==========================  =======================

Rejected (no Java equivalent — raise ``RegexDialectError``): ``\\K``
(match-start reset), ``(?R)``/``(?&name)`` (recursion), ``(*VERB)``
control verbs, ``\\C`` (single byte).  Possessive quantifiers, atomic
groups, lookaround, inline flags, ``\\h``/``\\v`` classes are identical in
both dialects and pass through untouched.

All functions return Column expressions (JVM-side, codegen-able).  The
one operation that genuinely needs positions of EVERY match —
``finditer`` — has no native Spark expression and is implemented as an
Arrow-batched kernel in :func:`finditer_udf`.
"""

from __future__ import annotations

import re as _pyre

from pyspark.sql import Column
from pyspark.sql import functions as F

from .kernel import row_udf

__all__ = [
    "RegexDialectError", "translate_pattern", "translate_replacement",
    "named_groups", "regex_match", "regex_search", "regex_extract",
    "regex_findall", "regex_split", "regex_sub", "regex_count",
    "regex_groupdict", "finditer_udf",
]


class RegexDialectError(ValueError):
    """A PCRE2 construct with no Java-regex equivalent (regex.h:961)."""


# constructs that would silently change meaning if passed through
_REJECT = [
    (r"\\K", r"\K match-start reset"),
    (r"\(\?R\)", "(?R) pattern recursion"),
    (r"\(\?&\w+\)", "(?&name) subroutine call"),
    (r"\(\?(?:C\d*)\)", "(?C) callouts"),
    (r"\(\*\w+(?::\w*)?\)", "(*VERB) control verbs"),
    (r"\\C", r"\C single-byte match"),
]
_REJECT_RE = [(_pyre.compile(p), msg) for p, msg in _REJECT]

# token scanner: escapes and classes first so rewrites never fire inside them
_TOKEN = _pyre.compile(
    r"""\\.               # any escape
      | \(\?P<(\w+)>      # python/PCRE named group open
      | \(\?P=(\w+)\)     # python named backref
      | \[(?:\\.|[^\]])*\]  # character class (no rewrites inside)
      | .""",
    _pyre.VERBOSE | _pyre.DOTALL,
)


def translate_pattern(pattern: str) -> str:
    """PCRE2/Python regex spelling → Java spelling (or raise).

    Named groups/backrefs are re-spelled; unsupported constructs raise
    :class:`RegexDialectError` at plan time, never silently misparse.
    """
    for rx, msg in _REJECT_RE:
        hit = rx.search(pattern)
        # \\K inside a character class is a literal K — the token scan
        # below is authoritative; this pre-pass just fails fast on the
        # common spellings, so double-check real containment
        if hit and _tok_contains(pattern, hit.start()):
            raise RegexDialectError(
                f"PCRE2 construct not expressible in Java regex: {msg} "
                f"(at offset {hit.start()} in {pattern!r})"
            )
    out: list[str] = []
    for m in _TOKEN.finditer(pattern):
        t = m.group(0)
        if m.group(1) is not None:  # (?P<name>  →  (?<name>
            out.append(f"(?<{m.group(1)}>")
        elif m.group(2) is not None:  # (?P=name)  →  \k<name>
            out.append(f"\\k<{m.group(2)}>")
        else:
            out.append(t)
    return "".join(out)


def _tok_contains(pattern: str, offset: int) -> bool:
    """True if ``offset`` falls on a token boundary outside a char class."""
    for m in _TOKEN.finditer(pattern):
        if m.start() == offset:
            return not m.group(0).startswith("[")
        if m.start() > offset:
            break
    return False


def translate_replacement(repl: str) -> str:
    r"""Python/PCRE replacement string → Java: ``\1``→``$1``,
    ``\g<name>``→``${name}``; literal ``$`` escaped."""
    out: list[str] = []
    i, n = 0, len(repl)
    while i < n:
        c = repl[i]
        if c == "\\" and i + 1 < n:
            nxt = repl[i + 1]
            if nxt.isdigit():
                j = i + 1
                while j < n and repl[j].isdigit():
                    j += 1
                out.append("$" + repl[i + 1:j])
                i = j
                continue
            if nxt == "g" and i + 2 < n and repl[i + 2] == "<":
                end = repl.index(">", i + 3)
                out.append("${" + repl[i + 3:end] + "}")
                i = end + 1
                continue
            if nxt == "\\":
                out.append("\\\\")
                i += 2
                continue
            out.append(repl[i:i + 2])
            i += 2
            continue
        if c == "$":
            out.append("\\$")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def named_groups(pattern: str) -> list[str]:
    """Capture-group names in declaration order (regex.h:1093 groupcount /
    named-group table).  Accepts either named-group spelling."""
    norm = _pyre.sub(r"\(\?<(\w+)>", r"(?P<\1>", pattern)
    return [
        name
        for name, _ in sorted(
            _pyre.compile(norm).groupindex.items(), key=lambda kv: kv[1]
        )
    ]


def regex_match(col: Column, pattern: str) -> Column:
    """Anchored-at-start match → boolean (reference ``regex.match``
    anchors at pos; regex.h:1187)."""
    java = translate_pattern(pattern)
    return col.rlike(f"^(?:{java})")


def regex_search(col: Column, pattern: str) -> Column:
    """Unanchored containment → boolean (``rlike`` pass-through)."""
    return col.rlike(translate_pattern(pattern))


def regex_extract(col: Column, pattern: str, group: int = 0) -> Column:
    """First match's ``group`` — NULL when no match (reference nullopt,
    regex.h:277; Spark's bare ``regexp_extract`` returns '' instead, so
    gate on ``rlike``)."""
    java = translate_pattern(pattern)
    return F.when(col.rlike(java), F.regexp_extract(col, java, group))


def regex_findall(col: Column, pattern: str, group: int = 0) -> Column:
    """All non-overlapping matches → array (regex.h:1308 findall)."""
    java = translate_pattern(pattern)
    return F.regexp_extract_all(col, F.lit(java), F.lit(group))


def regex_split(col: Column, pattern: str, limit: int = -1) -> Column:
    """Split on matches (regex.h:1320)."""
    return F.split(col, translate_pattern(pattern), limit)


def regex_sub(col: Column, pattern: str, repl: str) -> Column:
    """Replace every match (regex.h:1333 sub) — replacement groups in
    Python spelling (``\\1``, ``\\g<name>``)."""
    return F.regexp_replace(
        col, translate_pattern(pattern), translate_replacement(repl)
    )


def regex_count(col: Column, pattern: str) -> Column:
    """Number of non-overlapping matches."""
    return F.regexp_count(col, F.lit(translate_pattern(pattern)))


def regex_groupdict(col: Column, pattern: str) -> Column:
    """First match's named groups → struct<name: string, ...>
    (regex.h:404 groupdict); NULL-valued fields when the group did not
    participate, NULL struct when no match."""
    java = translate_pattern(pattern)
    names = named_groups(pattern)
    if not names:
        raise ValueError(f"pattern has no named groups: {pattern!r}")
    fields = [
        F.regexp_extract(col, java, _group_index(pattern, nm)).alias(nm)
        for nm in names
    ]
    return F.when(col.rlike(java), F.struct(*fields))


def _group_index(pattern: str, name: str) -> int:
    norm = _pyre.sub(r"\(\?<(\w+)>", r"(?P<\1>", pattern)
    return _pyre.compile(norm).groupindex[name]


def finditer_udf(pattern: str):
    """Arrow-batched ``finditer``: text → array<struct{match, start, end}>.

    Positions of every match have no native Spark expression (only the
    first via ``instr``-style tricks), so this is the documented Python
    fallback — the pattern compiles once on the driver, batches stream
    via Arrow (SURVEY.md §2.7: findall/finditer semantics).
    """
    # validate the dialect driver-side before shipping
    translate_pattern(pattern)
    rx = _pyre.compile(_pyre.sub(r"\(\?<(\w+)>", r"(?P<\1>", pattern))

    def finditer_one(t):
        if t is None:
            return None
        return [
            {"match": m.group(0), "start": m.start(), "end": m.end()}
            for m in rx.finditer(t)
        ]

    return row_udf(
        "array<struct<match: string, start: int, end: int>>", finditer_one
    )
