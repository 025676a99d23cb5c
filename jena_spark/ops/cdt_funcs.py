"""Arrow-batched bridges for the CDT function library and UNFOLD.

Every UDF here is a vectorized pandas UDF over encoded term strings;
eval errors (CdtError) become nulls, matching the engine's
error-as-unbound convention.  The comparison and sort-key UDFs only
enter a plan when the compiler's CDT switch is on (ops/sparql._cdt_active:
the query text mentions the CDT namespace or the data holds a CDT
literal), so non-CDT queries keep their pure-JVM plans.

Reference: org/apache/jena/sparql/function/library/cdt/*.java
(function semantics), QueryIterUnfold.java (row expansion).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField,
    StructType,
)

# NB: return types are DataType OBJECTS, not DDL strings — workers
# re-import this module when unpickling the UDFs, and parsing a DDL
# string needs an active SparkContext (absent on executors)
_STR = StringType()
_PAIR_ARRAY = ArrayType(StructType([
    StructField("v1", StringType()), StructField("v2", StringType()),
]))

from .. import cdt


def _guard(fn):
    def call(*args):
        try:
            return fn(*args)
        except cdt.CdtError:
            return None
    return call


def _udf_fixed(fn, arity: int):
    g = _guard(fn)
    if arity == 1:
        @pandas_udf(_STR)
        def u1(a: pd.Series) -> pd.Series:
            return pd.Series([g(x) for x in a], dtype="object")
        return u1
    if arity == 2:
        @pandas_udf(_STR)
        def u2(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series([g(x, y) for x, y in zip(a, b)], dtype="object")
        return u2

    @pandas_udf(_STR)
    def u3(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
        return pd.Series(
            [g(x, y, z) for x, y, z in zip(a, b, c)], dtype="object"
        )
    return u3


def _udf_varargs(fn):
    g = _guard(fn)

    @pandas_udf(_STR)
    def uv(arr: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if xs is None else g(*[x for x in xs])
                for xs in arr
            ],
            dtype="object",
        )
    return uv


# (min_arity, max_arity or None=varargs, python fn)
_SIGNATURES = {
    "get": (2, 2, cdt.fn_get),
    "size": (1, 1, cdt.fn_size),
    "head": (1, 1, cdt.fn_head),
    "tail": (1, 1, cdt.fn_tail),
    "reverse": (1, 1, cdt.fn_reverse),
    "keys": (1, 1, cdt.fn_keys),
    "contains": (2, 2, cdt.fn_contains),
    "containsKey": (2, 2, cdt.fn_contains_key),
    "containsTerm": (2, 2, cdt.fn_contains_term),
    "merge": (2, 2, cdt.fn_merge),
    "remove": (2, 2, cdt.fn_remove),
    "put": (2, 3, cdt.fn_put),
    "subseq": (2, 3, cdt.fn_subseq),
    "concat": (0, None, cdt.fn_concat),
    "List": (0, None, cdt.fn_list),
    "Map": (0, None, cdt.fn_map),
}


def is_cdt_function(iri: str) -> bool:
    return iri.startswith(cdt.CDT) and iri[len(cdt.CDT):] in _SIGNATURES


def compile_call(iri: str, term_args: List[Column]) -> Column:
    """Compile cdt:<fn>(args) given the args as encoded-term columns.
    Raises CdtError for arity mismatches (a *syntax*-level error in the
    reference: wrong arity raises, it does not eval-error)."""
    name = iri[len(cdt.CDT):]
    lo, hi, fn = _SIGNATURES[name]
    n = len(term_args)
    if n < lo or (hi is not None and n > hi):
        raise cdt.CdtError(f"cdt:{name}: wrong number of arguments ({n})")
    if hi is None:
        return _udf_varargs(fn)(F.array(*term_args))
    if name == "put" and n == 2:
        term_args = term_args + [F.lit(None).cast("string")]
        n = 3
    if name == "subseq" and n == 2:
        return _udf_fixed(lambda a, b: cdt.fn_subseq(a, b, None), 2)(*term_args)
    return _udf_fixed(fn, n)(*term_args)


# ---------------------------------------------------------------------------
# comparisons / ordering
# ---------------------------------------------------------------------------

@pandas_udf(_STR)
def cdt_sort_key_udf(s: pd.Series) -> pd.Series:
    return pd.Series([cdt.cdt_sort_key(x) for x in s], dtype="object")


def _term_eq(x, y):
    """RDFterm-equal over encoded terms incl. composites → bool/None."""
    if x is None or y is None:
        return None
    try:
        return cdt.same_value(x, y)
    except cdt.CdtError:
        return None


@pandas_udf(BooleanType())
def term_eq_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Whole = comparison in ONE vectorized call.  Used when an operand
    is itself a CDT function call: the JVM compare tree references each
    operand dozens of times, and every reference would re-run the
    operand's pandas UDF — one Python-side compare is ~40× cheaper."""
    return pd.Series([_term_eq(x, y) for x, y in zip(a, b)], dtype="object")


@pandas_udf(IntegerType())
def term_cmp_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Strict value comparison (NodeValue.compare analog) → -1/0/1/null."""
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        try:
            if cdt.is_cdt_term(x) and cdt.is_cdt_term(y):
                out.append(cdt.compare_terms(x, y, False))
            else:
                out.append(cdt._value_cmp(x, y, False))
        except (cdt.NotComparable, cdt.CdtError):
            out.append(None)
    return pd.Series(out, dtype="object")


# ---------------------------------------------------------------------------
# UNFOLD
# ---------------------------------------------------------------------------

@pandas_udf(_PAIR_ARRAY)
def cdt_unfold_udf(s: pd.Series) -> pd.Series:
    return pd.Series(
        [
            [{"v1": a, "v2": b} for a, b in cdt.unfold_entries(t)]
            for t in s
        ],
        dtype="object",
    )


# ---------------------------------------------------------------------------
# FOLD terminal steps (aggregation collects struct-wrapped terms so null
# elements survive collect_list; these UDFs build the final literal)
# ---------------------------------------------------------------------------

@pandas_udf(_STR)
def cdt_fold_list_udf(arr: pd.Series) -> pd.Series:
    """array<string> (pre-sorted JVM-side; null = null element) →
    cdt:List literal."""
    return pd.Series(
        [
            None if xs is None else cdt.list_term([x for x in xs])
            for xs in arr
        ],
        dtype="object",
    )


@pandas_udf(_STR)
def cdt_fold_map_udf(arr: pd.Series) -> pd.Series:
    """array<struct<k:string, v:string>> → cdt:Map literal (null / non-key
    keys skip the entry; duplicate keys: last wins, AggFoldMap)."""
    def build(xs):
        if xs is None:
            return None
        m = {}
        for x in xs:
            k = x["k"]
            if k is None or not (k.startswith("<") or k.startswith('"')):
                continue
            m[k] = x["v"]
        return cdt.map_term(m)

    return pd.Series([build(xs) for xs in arr], dtype="object")
