"""SPARQL expression functions over canonical-N-Triples-encoded term
columns (SURVEY.md §2.6, reference: sparql/expr/E_*.java ~100 files).

Terms are stored as single strings (``<iri>``, ``_:label``, ``"lex"``,
``"lex"@lang``, ``"lex"^^<dt>``), so the term-inspection functions are
string expressions — all JVM-side, whole-stage-codegen friendly.  The
value-space functions (abs/ceil/…, datetime parts, hashes) operate on
extracted lexical forms cast to native types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

# ---------------------------------------------------------------------------
# term-kind tests (E_IsIRI / E_IsBlank / E_IsLiteral / E_IsNumeric)
# ---------------------------------------------------------------------------

def is_iri(t: Column) -> Column:
    return t.startswith("<")


def is_bnode(t: Column) -> Column:
    return t.startswith("_:")


def is_literal(t: Column) -> Column:
    return t.startswith('"')


_NUMERIC_DTS = [
    XSD + n
    for n in (
        "integer", "decimal", "double", "float", "int", "long", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
        "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
        "unsignedByte",
    )
]


def is_numeric(t: Column) -> Column:
    return is_literal(t) & datatype(t).isin(_NUMERIC_DTS)


# ---------------------------------------------------------------------------
# accessors (E_Str, E_Lang, E_Datatype)
# ---------------------------------------------------------------------------

def lex(t: Column) -> Column:
    """E_Str: lexical form of a literal / IRI string of an IRI.
    NB: escape sequences inside the stored literal are left as stored —
    exact only for escape-free lexical forms; the parse layer guarantees
    canonical escaping so round-trips stay consistent."""
    return (
        F.when(is_iri(t), F.regexp_extract(t, r"^<(.*)>$", 1))
        .when(is_literal(t), F.regexp_extract(t, r'^"((?s:.*))"(?:@[^"]*|\^\^<[^>]*>)?$', 1))
        .otherwise(F.substring(t, 3, 1_000_000))
    )


def lang(t: Column) -> Column:
    """E_Lang: language tag or '' (SPARQL returns '' for plain).
    The RDF 1.2 base direction suffix (``--ltr``/``--rtl``) is NOT part
    of the language tag — LANGDIR returns it (E_LangDir)."""
    return F.when(
        is_literal(t),
        F.coalesce(
            F.regexp_extract(t, r'"@([A-Za-z0-9-]+?)(?:--(?:ltr|rtl))?$', 1),
            F.lit(""),
        ),
    )


def lang_dir(t: Column) -> Column:
    """E_LangDir: the base direction ('ltr'/'rtl') or ''."""
    return F.when(
        is_literal(t),
        F.coalesce(F.regexp_extract(t, r'"@[A-Za-z0-9-]+--(ltr|rtl)$', 1), F.lit("")),
    )


def datatype(t: Column) -> Column:
    """E_Datatype: datatype IRI; xsd:string for plain, rdf:langString for
    language-tagged."""
    dt = F.regexp_extract(t, r"\^\^<([^>]*)>$", 1)
    lt = F.regexp_extract(t, r'"@([A-Za-z0-9-]+)$', 1)
    return F.when(
        is_literal(t),
        F.when(lt != "", F.lit(RDF_LANGSTRING))
        .when(dt != "", dt)
        .otherwise(F.lit(XSD + "string")),
    )


def numeric_value(t: Column) -> Column:
    # try_cast: a malformed lexical form (e.g. "abc"^^xsd:integer) is an
    # *error* in SPARQL → unbound/null, never a job-killing ANSI cast crash
    return F.when(is_numeric(t), lex(t).try_cast("double"))


# ---------------------------------------------------------------------------
# constructors (E_IRI, E_StrDatatype, E_StrLang, E_BNode)
# ---------------------------------------------------------------------------

def mk_iri_col(s: Column) -> Column:
    return F.concat(F.lit("<"), s, F.lit(">"))


def literal_suffix(t: Column) -> Column:
    """The encoded part after a literal's closing quote — ``@lang`` /
    ``^^<dt>`` / '' — so string functions can rebuild a literal that
    keeps the original language tag or datatype (XSDFuncOp string ops
    preserve the argument's lang, SPARQL §17.4.3)."""
    return F.coalesce(F.regexp_extract(t, r'"([^"]*)$', 1), F.lit(""))


def rebuild_literal(t: Column, new_lex: Column) -> Column:
    """Literal with the lexical form replaced, lang/datatype preserved."""
    return F.concat(F.lit('"'), new_lex, F.lit('"'), literal_suffix(t))


def str_lang(s: Column, tag: Column) -> Column:
    return F.concat(F.lit('"'), s, F.lit('"@'), tag)


def str_dt(s: Column, dt_iri: Column) -> Column:
    return F.concat(F.lit('"'), s, F.lit('"^^<'), dt_iri, F.lit(">"))


# ---------------------------------------------------------------------------
# E_SameTerm — string equality of canonical encodings (term identity is
# lexical: LiteralLabel.equals parity, SURVEY.md §1.2)
# ---------------------------------------------------------------------------

def same_term(a: Column, b: Column) -> Column:
    return a == b


# ---------------------------------------------------------------------------
# SPARQL total term ordering (OpOrder): kind rank (bnode < IRI < literal),
# then value — QueryIterSort's comparator re-expressed as a sortable key.
# ---------------------------------------------------------------------------

_TRIPLE_TERM = r"^<<\((\S+) (\S+) ((?s:.*))\)>>$"


def triple_term_parts(t: Column) -> "tuple[Column, Column, Column]":
    """(subject, predicate, object) of an encoded triple term
    ``<<(s p o)>>``; empty strings when ``t`` is not one.  Inner subjects
    and predicates are space-free, so the two splits are exact even when
    the object is itself a triple term."""
    return tuple(F.regexp_extract(t, _TRIPLE_TERM, i) for i in (1, 2, 3))


def order_key(t: Column) -> Column:
    """Sortable key: unbound < bnode < IRI < literal; within literals,
    numerics order by *value* before non-numerics order lexically —
    mirrors QueryIterSort / NodeValue.compareAlways (numeric "9" < "10",
    not the encoded-string order) and the MIN/MAX aggregate key."""
    is_tt = t.startswith("<<(")
    kind_rank = (
        F.when(t.isNull(), F.lit(0))
        .when(is_bnode(t), F.lit(1))
        .when(is_tt, F.lit(4))  # triple terms sort last
        .when(is_iri(t), F.lit(2))
        .otherwise(F.lit(3))
    )
    # triple terms order component-wise: (subject, predicate) string key,
    # then object by numeric value when numeric, then full encoding
    # strip the IRI terminator so "…/s" < "…/s1" (prefix order, like
    # comparing the IRI strings themselves rather than their encodings)
    tt_s, tt_p, tt_obj = triple_term_parts(t)
    tt_sp = F.regexp_replace(F.concat(tt_s, F.lit(" "), tt_p), ">", "")
    nv = F.when(is_tt, numeric_value(tt_obj)).otherwise(numeric_value(t))
    v1 = F.when(is_tt, tt_sp).otherwise(F.lit(""))
    return F.struct(
        kind_rank.alias("k"),
        v1.alias("v1"),
        nv.isNull().cast("int").alias("nn"),
        F.coalesce(nv, F.lit(0.0)).alias("n"),
        t.alias("v"),
    )


def order_by_terms(df: DataFrame, *cols: str) -> DataFrame:
    return df.orderBy(*[order_key(F.col(c)) for c in cols])
