"""Composite datatypes: ``cdt:List`` / ``cdt:Map`` literals — parser,
serializer, value model (equality + ordering) and the function library.

Semantics re-expressed from the reference (public Apache Jena):

- lexical grammar:   jena-arq/Grammar/CDTs/cdt_literals.jj
- datatypes:         org/apache/jena/cdt/CompositeDatatypeList.java and
  CompositeDatatypeMap.java (isEqual, compare, unparseValue, CDTKeySorter)
- value model:       org/apache/jena/cdt/CDTValue.java (asLexicalForm:
  nested lists/maps inline their bracket syntax, other nodes print in
  Turtle form with bare numeric/boolean abbreviations)
- function library:  org/apache/jena/sparql/function/library/cdt/*.java

Representation: a CDT value is the engine's canonical encoded term
string (``<iri>``, ``_:b``, ``"lex"``, ``"lex"@en``, ``"lex"^^<dt>``),
``None`` is the CDT null, and a nested list/map is itself an encoded
cdt literal term — the reference's ``CDTValue.asNode()`` does the same
wrapping.  Map keys are encoded term strings, so key lookup is *term*
equality exactly like ``CDTKey`` (node equality), and insertion order
is preserved (Jena's HashMap leaves map order unspecified; we pin it
for determinism).

Everything here is plain Python: it runs inside Arrow-batched pandas
UDFs (see ops/cdt_funcs.py) — the recursive per-row parse is the
sanctioned Python island, and it only enters a plan when the query
mentions the CDT namespace at all.
"""

from __future__ import annotations

import re
import struct
from decimal import Decimal, InvalidOperation
from functools import lru_cache
from typing import Dict, List, Optional, Tuple

from .terms import escape_literal, unescape_iri, unescape_string

CDT = "http://w3id.org/awslabs/neptune/SPARQL-CDTs/"
LIST_DT = CDT + "List"
MAP_DT = CDT + "Map"
XSD = "http://www.w3.org/2001/XMLSchema#"

# encoded-term suffixes that mark a cdt:List / cdt:Map literal
CDT_TERM_SUFFIXES = (f"^^<{LIST_DT}>", f"^^<{MAP_DT}>")


def cdt_term_cond(columns):
    """Spark condition: the row's ``subj`` or ``obj`` term (whichever of
    the two ``columns`` holds) is a cdt:List / cdt:Map literal; ``None``
    when it holds neither.  Shared by the query-time CDT activation
    probe (ops/sparql._probe_has_cdt) and the has_cdt flag the streaming
    patch sink keeps in its store's _meta.json."""
    from pyspark.sql import functions as F

    cond = None
    for c in ("subj", "obj"):
        if c in columns:
            for suf in CDT_TERM_SUFFIXES:
                e = F.col(c).endswith(suf)
                cond = e if cond is None else (cond | e)
    return cond

_LIST_SUFFIX = f'"^^<{LIST_DT}>'
_MAP_SUFFIX = f'"^^<{MAP_DT}>'


class CdtError(Exception):
    """Expression-eval error (→ SPARQL error semantics, i.e. unbound)."""


class NotComparable(Exception):
    """ExprNotComparableException analog (ORDER BY falls back, < errors)."""


def is_list_term(t: Optional[str]) -> bool:
    return bool(t) and t.startswith('"') and t.endswith(_LIST_SUFFIX)


def is_map_term(t: Optional[str]) -> bool:
    return bool(t) and t.startswith('"') and t.endswith(_MAP_SUFFIX)


def is_cdt_term(t: Optional[str]) -> bool:
    return is_list_term(t) or is_map_term(t)


# ---------------------------------------------------------------------------
# lexical form → values (cdt_literals.jj token set: IRIref, RDFLiteral,
# BLANK_NODE_LABEL, INTEGER/DECIMAL/DOUBLE, true/false/null, [ ] { } , :)
# ---------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""\s+
    |(?P<iri><[^<>"{}|^`\\\x00-\x20]*>)
    |(?P<string>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"
        |'''(?:[^'\\]|\\.|'(?!''))*'''
        |"(?:[^"\\\n\r]|\\.)*"
        |'(?:[^'\\\n\r]|\\.)*')
    |(?P<bnode>_:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?)
    |(?P<double>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+))
    |(?P<decimal>[+-]?(?:\d*\.\d+))
    |(?P<integer>[+-]?\d+)
    |(?P<kw>true\b|false\b|null\b)
    |(?P<dtsep>\^\^)
    |(?P<lang>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    |(?P<punct>[\[\]{},:])
    """,
    re.X,
)


def _tokenize(lex: str) -> List[Tuple[str, str]]:
    out = []
    pos = 0
    n = len(lex)
    while pos < n:
        m = _TOKEN.match(lex, pos)
        if m is None:
            raise CdtError(f"bad CDT literal at offset {pos}: {lex[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind is not None:
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


def _string_body(tok: str) -> str:
    if tok.startswith('"""') or tok.startswith("'''"):
        return unescape_string(tok[3:-3])
    return unescape_string(tok[1:-1])


class _Parser:
    def __init__(self, lex: str) -> None:
        self.toks = _tokenize(lex)
        self.i = 0

    def peek(self) -> Tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> Tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_punct(self, ch: str) -> None:
        k, v = self.next()
        if k != "punct" or v != ch:
            raise CdtError(f"expected {ch!r}, got {v!r}")

    # -- terms ------------------------------------------------------------

    def _literal(self, kind: str, tok: str) -> str:
        if kind == "integer":
            return f'"{tok}"^^<{XSD}integer>'
        if kind == "decimal":
            return f'"{tok}"^^<{XSD}decimal>'
        if kind == "double":
            return f'"{tok}"^^<{XSD}double>'
        if kind == "kw" and tok in ("true", "false"):
            return f'"{tok}"^^<{XSD}boolean>'
        raise CdtError(f"unexpected token {tok!r}")

    def _string_literal(self, tok: str) -> str:
        body = escape_literal(_string_body(tok))
        k, v = self.peek()
        if k == "lang":
            self.next()
            return f'"{body}"{v}'
        if k == "dtsep":
            self.next()
            k2, v2 = self.next()
            if k2 != "iri":
                raise CdtError("datatype must be an IRI")
            dt = unescape_iri(v2[1:-1])
            if dt == XSD + "string":
                return f'"{body}"'
            return f'"{body}"^^<{dt}>'
        return f'"{body}"'

    def value(self) -> Optional[str]:
        """ListElement / MapValue: any term, null, or nested list/map."""
        k, v = self.next()
        if k == "iri":
            return f"<{unescape_iri(v[1:-1])}>"
        if k == "bnode":
            return v
        if k == "string":
            return self._string_literal(v)
        if k in ("integer", "decimal", "double"):
            return self._literal(k, v)
        if k == "kw":
            if v == "null":
                return None
            return self._literal(k, v)
        if k == "punct" and v == "[":
            return list_term(self.list_body())
        if k == "punct" and v == "{":
            return map_term(self.map_body())
        raise CdtError(f"unexpected token {v!r}")

    def key(self) -> str:
        """MapKey: IRI or literal only (no bnode/null/containers)."""
        k, v = self.next()
        if k == "iri":
            return f"<{unescape_iri(v[1:-1])}>"
        if k == "string":
            return self._string_literal(v)
        if k in ("integer", "decimal", "double"):
            return self._literal(k, v)
        if k == "kw" and v in ("true", "false"):
            return self._literal(k, v)
        raise CdtError(f"invalid map key {v!r}")

    # -- containers -------------------------------------------------------

    def list_body(self) -> List[Optional[str]]:
        out: List[Optional[str]] = []
        if self.peek() == ("punct", "]"):
            self.next()
            return out
        out.append(self.value())
        while True:
            k, v = self.next()
            if (k, v) == ("punct", "]"):
                return out
            if (k, v) != ("punct", ","):
                raise CdtError(f"expected ',' or ']', got {v!r}")
            out.append(self.value())

    def map_body(self) -> Dict[str, Optional[str]]:
        out: Dict[str, Optional[str]] = {}
        if self.peek() == ("punct", "}"):
            self.next()
            return out

        def entry():
            key = self.key()
            self.expect_punct(":")
            val = self.value()
            if key in out:
                raise CdtError(f"map with non-unique key ({key})")
            out[key] = val

        entry()
        while True:
            k, v = self.next()
            if (k, v) == ("punct", "}"):
                return out
            if (k, v) != ("punct", ","):
                raise CdtError(f"expected ',' or '}}', got {v!r}")
            entry()


def parse_list_lexical(lex: str) -> List[Optional[str]]:
    p = _Parser(lex)
    p.expect_punct("[")
    out = p.list_body()
    if p.peek()[0] != "eof":
        raise CdtError("trailing content after list literal")
    return out


def parse_map_lexical(lex: str) -> Dict[str, Optional[str]]:
    p = _Parser(lex)
    p.expect_punct("{")
    out = p.map_body()
    if p.peek()[0] != "eof":
        raise CdtError("trailing content after map literal")
    return out


def _literal_body(t: str) -> str:
    """Escaped body of an encoded literal term (between the quotes)."""
    i = 1
    n = len(t)
    while i < n:
        if t[i] == "\\":
            i += 2
            continue
        if t[i] == '"':
            return t[1:i]
        i += 1
    raise CdtError(f"unterminated literal {t!r}")


@lru_cache(maxsize=65536)
def get_list(term: str) -> Tuple[Optional[str], ...]:
    """Parse a cdt:List literal term → element terms (cached: the same
    literal value recurs across an Arrow batch)."""
    if not is_list_term(term):
        raise CdtError(f"not a cdt:List literal: {term!r}")
    return tuple(parse_list_lexical(unescape_string(_literal_body(term))))


@lru_cache(maxsize=65536)
def _get_map_items(term: str) -> Tuple[Tuple[str, Optional[str]], ...]:
    if not is_map_term(term):
        raise CdtError(f"not a cdt:Map literal: {term!r}")
    m = parse_map_lexical(unescape_string(_literal_body(term)))
    return tuple(m.items())


def get_map(term: str) -> Dict[str, Optional[str]]:
    return dict(_get_map_items(term))


# ---------------------------------------------------------------------------
# values → lexical form (unparseValue / CDTValue.asLexicalForm)
# ---------------------------------------------------------------------------

_INT_LEX = re.compile(r"^[+-]?\d+$")
_DEC_LEX = re.compile(r"^[+-]?\d*\.\d+$")
_DBL_LEX = re.compile(
    r"^[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+)$"
)


def term_lexical(t: Optional[str]) -> str:
    """One value in CDT bracket syntax (CDTValue.asLexicalForm: nested
    cdt literals inline their lexical form; numbers/booleans print bare
    when the lexical form is valid for the abbreviated token)."""
    if t is None:
        return "null"
    if t.startswith("<") or t.startswith("_:"):
        return t
    if not t.startswith('"'):
        raise CdtError(f"not a term: {t!r}")
    if is_list_term(t) or is_map_term(t):
        return unescape_string(_literal_body(t))
    body = _literal_body(t)
    rest = t[len(body) + 2:]
    if rest.startswith("^^<") and rest.endswith(">"):
        dt = rest[3:-1]
        raw = unescape_string(body)
        if dt == XSD + "integer" and _INT_LEX.match(raw):
            return raw
        if dt == XSD + "decimal" and _DEC_LEX.match(raw):
            return raw
        if dt == XSD + "double" and _DBL_LEX.match(raw):
            return raw
        if dt == XSD + "boolean" and raw in ("true", "false"):
            return raw
        if dt == XSD + "string":
            return f'"{body}"'
    return t  # quoted / lang-tagged / other datatype: stored form is fine


def serialize_list(values) -> str:
    return "[" + ", ".join(term_lexical(v) for v in values) + "]"


def serialize_map(m: Dict[str, Optional[str]]) -> str:
    return (
        "{"
        + ", ".join(f"{term_lexical(k)} : {term_lexical(v)}" for k, v in m.items())
        + "}"
    )


def list_term(values) -> str:
    return f'"{escape_literal(serialize_list(values))}{_LIST_SUFFIX}'


def map_term(m: Dict[str, Optional[str]]) -> str:
    return f'"{escape_literal(serialize_map(m))}{_MAP_SUFFIX}'


# ---------------------------------------------------------------------------
# document-scoped blank nodes inside CDT literals: the parsers rewrite
# ``_:label`` tokens inside cdt:List/Map lexical forms with the SAME
# per-document allocator that labels ordinary bnodes (the reference's
# riot parser shares the label scope the same way — that's what the
# SPARQL-CDTs/bnodes suite asserts: the subject _:b and the list element
# _:b in one document are ONE node).  Nested cdt literals relabel
# recursively (bnodes-turtle-45); all other tokens pass through
# verbatim so the lexical form keeps its original spacing.
# ---------------------------------------------------------------------------

def relabel_bnodes(lex: str, rename) -> str:
    """Rewrite bnode labels in a CDT lexical form; ``rename(label)`` →
    new label (without the ``_:``).  Raises CdtError on bad syntax —
    callers keep the original lexical form then (an ill-formed literal
    has no bnode scope to share)."""
    toks = []
    pos, n = 0, len(lex)
    while pos < n:
        m = _TOKEN.match(lex, pos)
        if m is None:
            raise CdtError(f"bad CDT literal at offset {pos}")
        toks.append(m)
        pos = m.end()
    out: List[str] = []
    for i, m in enumerate(toks):
        kind = m.lastgroup
        text = m.group()
        if kind == "bnode":
            out.append("_:" + rename(text[2:]))
            continue
        if kind == "string":
            # nested cdt literal? peek past whitespace for ^^<List|Map>
            j = i + 1
            while j < len(toks) and toks[j].lastgroup is None:
                j += 1
            if (
                j + 1 < len(toks)
                and toks[j].lastgroup == "dtsep"
                and toks[j + 1].lastgroup == "iri"
                and unescape_iri(toks[j + 1].group()[1:-1]) in (LIST_DT, MAP_DT)
            ):
                inner = relabel_bnodes(_string_body(text), rename)
                out.append('"' + escape_literal(inner) + '"')
                continue
        out.append(text)
    return "".join(out)


# ---------------------------------------------------------------------------
# value model: classification, sameValueAs, ordering
# ---------------------------------------------------------------------------

_NUM_DTS_DEC = {
    XSD + n
    for n in (
        "integer", "int", "long", "short", "byte", "nonNegativeInteger",
        "nonPositiveInteger", "negativeInteger", "positiveInteger",
        "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
        "decimal",
    )
}
_NUM_DTS_FLT = {XSD + "double", XSD + "float"}


def _decompose(t: str) -> Tuple[str, str, Optional[str]]:
    """literal term → (lexical-raw, lang, datatype-or-None)."""
    body = _literal_body(t)
    rest = t[len(body) + 2:]
    raw = unescape_string(body)
    if rest.startswith("@"):
        return raw, rest[1:], None
    if rest.startswith("^^<") and rest.endswith(">"):
        return raw, "", rest[3:-1]
    return raw, "", None


def classify(t: Optional[str]):
    """→ (cls, value) where cls drives comparability (NodeValue vspaces)."""
    if t is None:
        return ("null", None)
    if t.startswith("_:"):
        return ("bnode", t)
    if t.startswith("<<("):
        return ("triple", t)
    if t.startswith("<"):
        return ("iri", t[1:-1])
    if is_list_term(t):
        return ("list", t)
    if is_map_term(t):
        return ("map", t)
    if t.startswith('"'):
        raw, lang, dt = _decompose(t)
        if lang:
            return ("lang", (raw, lang.lower()))
        if dt is None or dt == XSD + "string":
            return ("str", raw)
        if dt in _NUM_DTS_DEC:
            try:
                return ("num", Decimal(raw))
            except InvalidOperation:
                return ("other", t)
        if dt in _NUM_DTS_FLT:
            try:
                return ("num", Decimal(str(float(raw))))
            except (ValueError, InvalidOperation):
                return ("other", t)
        if dt == XSD + "boolean":
            if raw in ("true", "1"):
                return ("bool", True)
            if raw in ("false", "0"):
                return ("bool", False)
            return ("other", t)
        if dt in (XSD + "dateTime", XSD + "date"):
            key = _time_key(raw)
            if key is not None:
                return ("time", key)
        return ("other", t)
    return ("other", t)


def _time_key(raw: str):
    m = re.match(
        r"^(-?\d{4,})-(\d\d)-(\d\d)"
        r"(?:T(\d\d):(\d\d):(\d\d(?:\.\d+)?))?"
        r"(Z|[+-]\d\d:\d\d)?$",
        raw,
    )
    if not m:
        return None
    y, mo, d, h, mi, s, tz = m.groups()
    # Exact proleptic-Gregorian days-since-epoch (Hinnant's days_from_civil):
    # monotonic and collision-free for any year incl. negative, and uniform
    # across month/year boundaries so tz adjustment below compares correctly.
    yy, mm = int(y), int(mo)
    yy -= 1 if mm <= 2 else 0
    # Hinnant writes (y >= 0 ? y : y-399) / 400 for C++ TRUNCATING
    # division; Python // already floors, so the -399 pre-correction
    # would double-correct negative years (wrong era at 400-year
    # boundaries: -0400-02-29 and -0400-03-01 collided)
    era = yy // 400
    yoe = yy - era * 400
    doy = (153 * (mm + (-3 if mm > 2 else 9)) + 2) // 5 + int(d) - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    days = era * 146097 + doe - 719468
    secs = (
        days * 86400
        + int(h or 0) * 3600
        + int(mi or 0) * 60
        + float(s or 0)
    )
    if tz and tz != "Z":
        sign = 1 if tz[0] == "+" else -1
        secs -= sign * (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60)
    return secs


def same_value(a: Optional[str], b: Optional[str]) -> bool:
    """NodeValue.sameValueAs over encoded terms.  Raises CdtError when
    the answer is unknowable (distinct lexical forms of an unrecognized
    datatype)."""
    if a is None or b is None:
        return a is None and b is None
    if a == b:
        return True
    ca, va = classify(a)
    cb, vb = classify(b)
    if ca == "list" and cb == "list":
        return equal_terms(a, b)
    if ca == "map" and cb == "map":
        return equal_terms(a, b)
    if ca != cb:
        return False
    if ca == "other":
        # same datatype, different lexical form: value unknown
        _, _, dta = _decompose(a)
        _, _, dtb = _decompose(b)
        if dta == dtb:
            raise CdtError(f"unknown value equality for datatype {dta}")
        return False
    return va == vb


def equal_terms(a: str, b: str) -> bool:
    """cdt value equality (CompositeDatatype{List,Map}.isEqual): raises
    CdtError when blank nodes make the answer undefined."""
    if is_list_term(a) and is_list_term(b):
        la, lb = get_list(a), get_list(b)
        if len(la) != len(lb):
            return False
        for va, vb in zip(la, lb):
            if va is None or vb is None:
                if va is not vb:
                    return False
                continue
            if va.startswith("_:") or vb.startswith("_:"):
                if va != vb:
                    raise CdtError("blank nodes in lists cannot be compared")
                continue
            if not same_value(va, vb):
                return False
        return True
    if is_map_term(a) and is_map_term(b):
        ma, mb = get_map(a), get_map(b)
        if len(ma) != len(mb):
            return False
        for k, va in ma.items():
            if k not in mb:
                return False
            vb = mb[k]
            if va is None or vb is None:
                if va is not vb:
                    return False
                continue
            if va.startswith("_:") or vb.startswith("_:"):
                if va != vb:
                    raise CdtError("blank nodes in maps cannot be compared")
                continue
            if not same_value(va, vb):
                return False
        return True
    return False


# class rank for the ORDER BY total ordering (compareAlways): mirrors the
# engine's order_key class ranking (unbound < bnode < iri < literal)
_CLS_RANK = {
    "null": 0, "bnode": 1, "iri": 2, "num": 3, "str": 3, "lang": 3,
    "bool": 3, "time": 3, "list": 3, "map": 3, "other": 3, "triple": 4,
}
# tie-break rank among literal value spaces for compareAlways
_VSPACE_RANK = {
    "num": 0, "bool": 1, "time": 2, "str": 3, "lang": 4, "other": 5,
    "list": 6, "map": 7,
}


def _value_cmp(a: Optional[str], b: Optional[str], always: bool) -> int:
    """NodeValue.compare / compareAlways over two element terms.
    Raises NotComparable in strict (non-always) mode."""
    ca, va = classify(a)
    cb, vb = classify(b)
    if ca == "list" and cb == "list":
        return compare_terms(a, b, always)
    if ca == "map" and cb == "map":
        return compare_terms(a, b, always)
    if ca == cb:
        if ca in ("num", "str", "bool", "time"):
            return -1 if va < vb else (1 if va > vb else 0)
        if ca == "lang":
            return -1 if va < vb else (1 if va > vb else 0)
        if always:
            if ca in ("iri", "bnode"):
                return -1 if va < vb else (1 if va > vb else 0)
            # "other": same class, order by full term string
            return -1 if a < b else (1 if a > b else 0)
        raise NotComparable(f"cannot <-compare {a!r} and {b!r}")
    if always:
        ra = (_CLS_RANK[ca], _VSPACE_RANK.get(ca, 9))
        rb = (_CLS_RANK[cb], _VSPACE_RANK.get(cb, 9))
        return -1 if ra < rb else (1 if ra > rb else 0)
    raise NotComparable(f"cannot <-compare {a!r} and {b!r}")


def _key_sort_key(k: str):
    """CDTKeySorter: IRIs (by uri) before literals; literals by
    (datatype uri, lexical form, language) — lexical BEFORE language."""
    if k.startswith("<"):
        return (0, k[1:-1], "", "")
    raw, lang, dt = _decompose(k)
    if lang:
        dt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    elif dt is None:
        dt = XSD + "string"
    return (1, dt, raw, lang)


def compare_terms(a: str, b: str, sort_ordering: bool) -> int:
    """CompositeDatatype{List,Map}.compare: -1/0/1, or NotComparable.
    0 under sort_ordering may still split on lexical forms (the
    reference's compareByLexicalForms tie-break)."""
    la, lb = is_list_term(a), is_list_term(b)
    ma, mb = is_map_term(a), is_map_term(b)
    if la and lb:
        return _compare_lists(a, b, sort_ordering)
    if ma and mb:
        return _compare_maps(a, b, sort_ordering)
    raise NotComparable(f"cannot compare {a!r} and {b!r}")


def _lex_tiebreak(a: str, b: str) -> int:
    fa, fb = _literal_body(a), _literal_body(b)
    return -1 if fa < fb else (1 if fa > fb else 0)


def _compare_lists(a: str, b: str, sort_ordering: bool) -> int:
    try:
        l1, l2 = get_list(a), get_list(b)
    except CdtError:
        raise NotComparable(f"cannot compare {a!r} and {b!r}")
    if not l1 or not l2:
        if l1:
            return 1
        if l2:
            return -1
        return _lex_tiebreak(a, b) if sort_ordering else 0
    for e1, e2 in zip(l1, l2):
        if e1 is not None and e2 is not None:
            if (
                not sort_ordering
                and e1.startswith("_:") and e2.startswith("_:")
            ):
                # list-less-than never compares blank nodes, even the
                # same one (CompositeDatatypeList.compare)
                raise NotComparable(f"cannot compare {a!r} and {b!r}")
            try:
                c = _value_cmp(e1, e2, sort_ordering)
                if c != 0:
                    return c
            except NotComparable:
                pass
            try:
                same = same_value(e1, e2)
            except CdtError:
                same = False
            if not same:
                if sort_ordering:
                    return 0  # CMP_INDETERMINATE
                raise NotComparable(f"cannot compare {a!r} and {b!r}")
        else:
            if not sort_ordering:
                if e1 is not None or e2 is not None:
                    raise NotComparable(f"cannot compare {a!r} and {b!r}")
            else:
                if e1 is None and e2 is not None:
                    return -1
                if e2 is None and e1 is not None:
                    return 1
    d = len(l1) - len(l2)
    if d:
        return -1 if d < 0 else 1
    return _lex_tiebreak(a, b) if sort_ordering else 0


def _compare_maps(a: str, b: str, sort_ordering: bool) -> int:
    try:
        m1, m2 = get_map(a), get_map(b)
    except CdtError:
        raise NotComparable(f"cannot compare {a!r} and {b!r}")
    if not m1 or not m2:
        if m1:
            return 1
        if m2:
            return -1
        return _lex_tiebreak(a, b) if sort_ordering else 0
    k1 = sorted(m1, key=_key_sort_key)
    k2 = sorted(m2, key=_key_sort_key)
    for x, y in zip(k1, k2):
        kx, ky = _key_sort_key(x), _key_sort_key(y)
        if kx < ky:
            return -1
        if kx > ky:
            return 1
        v1, v2 = m1[x], m2[y]
        if v1 is not None and v2 is not None:
            if (
                not sort_ordering
                and v1.startswith("_:") and v2.startswith("_:")
            ):
                raise NotComparable(f"cannot compare {a!r} and {b!r}")
            try:
                c = _value_cmp(v1, v2, sort_ordering)
                if c != 0:
                    return c
            except NotComparable:
                pass
            try:
                same = same_value(v1, v2)
            except CdtError:
                same = False
            if not same:
                if sort_ordering:
                    return 0
                raise NotComparable(f"cannot compare {a!r} and {b!r}")
        else:
            if not sort_ordering:
                if v1 is not None or v2 is not None:
                    raise NotComparable(f"cannot compare {a!r} and {b!r}")
            else:
                if v1 is None and v2 is not None:
                    return -1
                if v2 is None and v1 is not None:
                    return 1
    d = len(m1) - len(m2)
    if d:
        return -1 if d < 0 else 1
    return _lex_tiebreak(a, b) if sort_ordering else 0


# ---------------------------------------------------------------------------
# ORDER BY sort key (used by the compiler when a query touches CDT):
# a self-delimiting string so lists/maps order element-wise under plain
# string sorting, approximating compareAlways
# ---------------------------------------------------------------------------

def _sortable_number(d: Decimal) -> str:
    """Order-preserving hex encoding of a float (IEEE 754 trick: flip the
    sign bit for positives, all bits for negatives)."""
    x = float(d)
    bits = struct.unpack(">Q", struct.pack(">d", x))[0]
    if x < 0 or (x == 0 and str(d).startswith("-")):
        bits = ~bits & 0xFFFFFFFFFFFFFFFF
    else:
        bits |= 0x8000000000000000
    return format(bits, "016x")


def element_sort_key(t: Optional[str]) -> str:
    cls, v = classify(t)
    rank = f"{_CLS_RANK[cls]}{_VSPACE_RANK.get(cls, 9)}"
    if cls == "null":
        return "0"
    if cls == "num":
        return rank + _sortable_number(v)
    if cls == "bool":
        return rank + ("1" if v else "0")
    if cls == "time":
        return rank + _sortable_number(Decimal(v))
    if cls == "str":
        return rank + v
    if cls == "lang":
        return rank + v[0] + "\x01" + v[1]
    if cls in ("iri", "bnode"):
        return rank + (v if isinstance(v, str) else t)
    if cls == "list":
        # separator \x01 > terminator \x00 so a prefix list ([1]) sorts
        # BEFORE its extensions ([1, 1]) — the reference's size rule
        return rank + "L" + "\x01".join(
            element_sort_key(e) for e in get_list(t)
        ) + "\x00" + _literal_body(t)
    if cls == "map":
        m = get_map(t)
        parts = []
        for k in sorted(m, key=_key_sort_key):
            parts.append(element_sort_key(k) + "\x03" + element_sort_key(m[k]))
        return rank + "M" + "\x01".join(parts) + "\x00" + _literal_body(t)
    return rank + (t or "")


def cdt_sort_key(t: Optional[str]) -> Optional[str]:
    """Sort key for a cdt literal term, or None for anything else (the
    JVM-side order_key handles those)."""
    if not is_cdt_term(t):
        return None
    try:
        return element_sort_key(t)
    except CdtError:
        return "~" + t  # ill-formed: stable arbitrary order at the end


# ---------------------------------------------------------------------------
# function library (sparql/function/library/cdt/*.java)
# ---------------------------------------------------------------------------

def _require_list(t: Optional[str]) -> Tuple[Optional[str], ...]:
    if t is None or not is_list_term(t):
        raise CdtError(f"not a cdt:List literal: {t!r}")
    return get_list(t)


def _require_map(t: Optional[str]) -> Dict[str, Optional[str]]:
    if t is None or not is_map_term(t):
        raise CdtError(f"not a cdt:Map literal: {t!r}")
    return get_map(t)


def _require_index(t: Optional[str]) -> int:
    if t is None:
        raise CdtError("unbound index")
    cls, v = classify(t)
    _, _, dt = _decompose(t) if t.startswith('"') else (None, None, None)
    if cls != "num" or dt not in _NUM_DTS_DEC or dt == XSD + "decimal":
        raise CdtError(f"not an integer literal: {t!r}")
    return int(v)


def _is_key_term(t: Optional[str]) -> bool:
    return t is not None and (t.startswith("<") or t.startswith('"'))


def fn_get(coll: Optional[str], key: Optional[str]) -> str:
    if coll is not None and is_list_term(coll):
        lst = get_list(coll)
        idx = _require_index(key)
        if idx < 1 or idx > len(lst):
            raise CdtError(f"out of bounds index value: {idx}")
        v = lst[idx - 1]
        if v is None:
            raise CdtError("accessing null value from list")
        return v
    if coll is not None and is_map_term(coll):
        if not _is_key_term(key):
            raise CdtError(f"not a valid map key: {key!r}")
        m = get_map(coll)
        if key not in m:
            raise CdtError("key is not in the map")
        v = m[key]
        if v is None:
            raise CdtError("value for key is null")
        return v
    raise CdtError(f"neither a list nor a map literal: {coll!r}")


def fn_size(coll: Optional[str]) -> str:
    if coll is not None and is_list_term(coll):
        n = len(get_list(coll))
    elif coll is not None and is_map_term(coll):
        n = len(get_map(coll))
    else:
        raise CdtError(f"neither a list nor a map literal: {coll!r}")
    return f'"{n}"^^<{XSD}integer>'


def fn_head(t: Optional[str]) -> str:
    lst = _require_list(t)
    if not lst:
        raise CdtError("empty list")
    v = lst[0]
    if v is None:
        raise CdtError("accessing null value from list")
    return v


def fn_tail(t: Optional[str]) -> str:
    lst = _require_list(t)
    if not lst:
        raise CdtError("empty list")
    return list_term(lst[1:])


def fn_reverse(t: Optional[str]) -> str:
    return list_term(list(reversed(_require_list(t))))


def fn_keys(t: Optional[str]) -> str:
    return list_term(list(_require_map(t).keys()))


def fn_contains(t: Optional[str], x: Optional[str]) -> str:
    lst = _require_list(t)
    if x is None:
        raise CdtError("unbound argument")
    found = False
    for v in lst:
        if v is None:
            continue
        try:
            if same_value(v, x):
                found = True
                break
        except CdtError:
            continue
    return _bool(found)


def fn_contains_term(t: Optional[str], x: Optional[str]) -> str:
    lst = _require_list(t)
    if x is None:
        raise CdtError("unbound argument")
    return _bool(any(v == x for v in lst))


def fn_contains_key(t: Optional[str], k: Optional[str]) -> str:
    m = _require_map(t)
    if k is None:
        raise CdtError("unbound argument")
    if not _is_key_term(k):
        return _bool(False)
    return _bool(k in m)


def fn_merge(a: Optional[str], b: Optional[str]) -> str:
    m1, m2 = _require_map(a), _require_map(b)
    if not m1:
        return b  # type: ignore[return-value]
    if not m2:
        return a  # type: ignore[return-value]
    out = dict(m2)
    out.update(m1)  # map1 wins on conflicts (MergeFct putAll order)
    return map_term(out)


def fn_remove(a: Optional[str], k: Optional[str]) -> str:
    m = _require_map(a)
    if k is None:
        raise CdtError("unbound argument")
    if not _is_key_term(k) or k not in m:
        return a  # type: ignore[return-value]
    out = {x: v for x, v in m.items() if x != k}
    return map_term(out)


def fn_put(a: Optional[str], k: Optional[str], v: Optional[str]) -> str:
    """PutFct: 2-arg form passes v=None (null value); an erroring value
    arg also becomes null (the caller's compiled column is null then)."""
    if not _is_key_term(k):
        raise CdtError(f"not a valid map key: {k!r}")
    m = _require_map(a)
    out = dict(m)
    out[k] = v
    return map_term(out)


def fn_concat(*lists: Optional[str]) -> str:
    if not lists:
        return list_term([])
    if len(lists) == 1:
        _require_list(lists[0])
        return lists[0]  # type: ignore[return-value]
    out: List[Optional[str]] = []
    for t in lists:
        out.extend(_require_list(t))
    return list_term(out)


def fn_subseq(t: Optional[str], start: Optional[str],
              length: Optional[str] = None) -> str:
    lst = _require_list(t)
    idx = _require_index(start)
    if idx < 1:
        raise CdtError(f"out of bounds index value: {idx}")
    if length is not None:
        n = _require_index(length)
        if n < 0:
            raise CdtError(f"illegal length value: {n}")
    else:
        n = len(lst) - idx + 1
        if n < 0:
            n = 0
    if idx > len(lst) + 1:
        raise CdtError(f"out of bounds index value: {idx}")
    if idx + n > len(lst) + 1:
        raise CdtError(f"out of bounds length value: {n}")
    return list_term(lst[idx - 1: idx - 1 + n])


def fn_list(*elements: Optional[str]) -> str:
    """cdt:List(...): erroring/unbound args become null elements."""
    return list_term(list(elements))


def fn_map(*kvs: Optional[str]) -> str:
    """cdt:Map(k1, v1, ...): a non-key or erroring key skips the entry;
    an erroring value becomes null.  Duplicate keys: last wins
    (MapFct's HashMap.put)."""
    if len(kvs) % 2 == 1:
        raise CdtError("cdt:Map takes an even number of arguments")
    out: Dict[str, Optional[str]] = {}
    for i in range(0, len(kvs), 2):
        k, v = kvs[i], kvs[i + 1]
        if not _is_key_term(k):
            continue
        out[k] = v
    return map_term(out)


def _bool(b: bool) -> str:
    return f'"{"true" if b else "false"}"^^<{XSD}boolean>'


# ---------------------------------------------------------------------------
# UNFOLD row expansion (QueryIterUnfold semantics)
# ---------------------------------------------------------------------------

def unfold_entries(t: Optional[str]):
    """→ list of (v1, v2) pairs for one input term:
    - cdt:List  → (element-or-None, 1-based xsd:integer index)
    - cdt:Map   → (key, value-or-None)
    - other / unbound / ill-formed → [(None, None)] (pass-through row)
    - empty list/map → [] (row dropped)
    """
    if t is not None and is_list_term(t):
        try:
            lst = get_list(t)
        except CdtError:
            return [(None, None)]
        return [
            (v, f'"{i}"^^<{XSD}integer>')
            for i, v in enumerate(lst, start=1)
        ]
    if t is not None and is_map_term(t):
        try:
            items = _get_map_items(t)
        except CdtError:
            return [(None, None)]
        return [(k, v) for k, v in items]
    return [(None, None)]
