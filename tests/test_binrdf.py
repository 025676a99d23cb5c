"""RDF-Thrift / RDF-Protobuf binary codec tests.

Wire-format pins use hand-computed byte vectors (independent of the
writer, so reader and writer cannot share a bug), plus round trips and a
W3C-corpus cross-check against the conformance-tested N-Triples parser.
"""

import glob
import os

import pytest

from jena_spark.parsers.binrdf import (
    _decimal_plain,
    _java_double_str,
    parse_rdf_protobuf,
    parse_rdf_thrift,
    write_rdf_protobuf,
    write_rdf_thrift,
)
from jena_spark.parsers.ntriples import parse_ntriples
from jena_spark.skolem import BNodeAllocator, doc_seed
from jena_spark.terms import RDFSyntaxError
from jena_spark.w3c import RDF_TESTS_DIR


# ---------------------------------------------------------------------------
# Java lexical-form helpers
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "v,expect",
    [
        (1.0, "1.0"),
        (0.5, "0.5"),
        (-2.25, "-2.25"),
        (100.0, "100.0"),
        (9999999.0, "9999999.0"),
        (1e7, "1.0E7"),
        (123456789.0, "1.23456789E8"),
        (0.001, "0.001"),
        (1e-4, "1.0E-4"),
        (9.999e-4, "9.999E-4"),
        (0.0, "0.0"),
        (-0.0, "-0.0"),
        (float("inf"), "Infinity"),
        (float("-inf"), "-Infinity"),
        (float("nan"), "NaN"),
        (1.5e300, "1.5E300"),
    ],
)
def test_java_double_str(v, expect):
    assert _java_double_str(v) == expect


@pytest.mark.parametrize(
    "value,scale,expect",
    [
        (1234, 2, "12.34"),
        (-1234, 2, "-12.34"),
        (5, 0, "5"),
        (5, 6, "0.000005"),
        (5, -2, "500"),
        (0, 2, "0.00"),
        (10, 1, "1.0"),
    ],
)
def test_decimal_plain(value, scale, expect):
    assert _decimal_plain(value, scale) == expect


# ---------------------------------------------------------------------------
# Thrift: hand-computed wire vectors (compact protocol)
# ---------------------------------------------------------------------------

# prefixDecl row: RDF_StreamRow{1: RDF_PrefixDecl{1:"ex", 2:"http://ex/"}}
T_PREFIX_ROW = bytes(
    [0x1C, 0x18, 0x02]
) + b"ex" + bytes([0x18, 0x0A]) + b"http://ex/" + bytes([0x00, 0x00])

# triple row: S=<http://ex/s>, P=prefixName(ex:p), O="chat"@fr
T_TRIPLE_ROW = (
    bytes([0x2C])  # StreamRow field 2 (triple), struct
    + bytes([0x1C])  # Triple field 1 (S term), struct
    + bytes([0x1C, 0x18, 0x0B])  # Term field 1 iri; IRI field 1 binary len 11
    + b"http://ex/s"
    + bytes([0x00, 0x00])
    + bytes([0x1C])  # Triple field 2 (P term)
    + bytes([0x4C, 0x18, 0x02])  # Term field 4 prefixName; f1 "ex"
    + b"ex"
    + bytes([0x18, 0x01])
    + b"p"
    + bytes([0x00, 0x00])
    + bytes([0x1C])  # Triple field 3 (O term)
    + bytes([0x3C, 0x18, 0x04])  # Term field 3 literal; f1 lex "chat"
    + b"chat"
    + bytes([0x18, 0x02])
    + b"fr"
    + bytes([0x00, 0x00])
    + bytes([0x00, 0x00])  # end Triple, end StreamRow
)


def test_thrift_wire_vector():
    quads = parse_rdf_thrift(T_PREFIX_ROW + T_TRIPLE_ROW)
    assert quads == [(None, "<http://ex/s>", "<http://ex/p>", '"chat"@fr')]


def test_thrift_undeclared_prefix_fatal():
    with pytest.raises(RDFSyntaxError):
        parse_rdf_thrift(T_TRIPLE_ROW)  # no prefixDecl first


def test_thrift_long_form_field_header():
    # literal with langtag written via the long-form header
    # (delta=0 → explicit zigzag field id), as a generated writer emitting
    # IDL declaration order may produce
    lit = (
        bytes([0x18, 0x01])
        + b"x"
        + bytes([0x08, 0x04])  # type binary, long-form fid zigzag(2)=4
        + bytes([0x02])
        + b"en"
        + bytes([0x00])
    )
    row = (
        bytes([0x2C])
        + bytes([0x1C, 0x1C, 0x18, 0x01]) + b"s" + bytes([0x00, 0x00])
        + bytes([0x1C, 0x1C, 0x18, 0x01]) + b"p" + bytes([0x00, 0x00])
        + bytes([0x1C, 0x3C]) + lit + bytes([0x00])
        + bytes([0x00, 0x00])
    )
    quads = parse_rdf_thrift(row)
    assert quads == [(None, "<s>", "<p>", '"x"@en')]


def test_thrift_value_forms():
    # valInteger 42 (term field 10, i64 zigzag 84), valDouble 0.5,
    # valDecimal(1234, 2)
    import struct as st

    def term_struct(body):
        return body + b"\x00"

    s_term = bytes([0x1C, 0x18, 0x01]) + b"s" + bytes([0x00, 0x00])
    p_term = bytes([0x1C, 0x18, 0x01]) + b"p" + bytes([0x00, 0x00])

    def row(o_term):
        return (
            bytes([0x2C]) + bytes([0x1C]) + s_term + bytes([0x1C]) + p_term
            + bytes([0x1C]) + o_term + bytes([0x00, 0x00])
        )

    o_int = term_struct(bytes([0xA6, 0x54]))  # header (10<<4)|6, varint 84
    o_dbl = term_struct(bytes([0xB7]) + st.pack("<d", 0.5))  # (11<<4)|7
    o_dec = term_struct(
        bytes([0xCC])  # (12<<4)|12 struct
        + bytes([0x16, 0xA4, 0x13])  # f1 i64 zigzag(1234)=2468
        + bytes([0x15, 0x04])  # f2 i32 zigzag(2)=4
        + bytes([0x00])
    )
    quads = parse_rdf_thrift(row(o_int) + row(o_dbl) + row(o_dec))
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert quads == [
        (None, "<s>", "<p>", f'"42"^^<{xsd}integer>'),
        (None, "<s>", "<p>", f'"0.5"^^<{xsd}double>'),
        (None, "<s>", "<p>", f'"12.34"^^<{xsd}decimal>'),
    ]


def test_thrift_truncated_raises():
    with pytest.raises(RDFSyntaxError):
        parse_rdf_thrift(T_TRIPLE_ROW[:10])


# ---------------------------------------------------------------------------
# Protobuf: hand-computed wire vector
# ---------------------------------------------------------------------------

def _p_iri_term(iri: bytes) -> bytes:
    msg = bytes([0x0A, len(iri)]) + iri
    return bytes([0x0A, len(msg)]) + msg


def test_protobuf_wire_vector():
    s = _p_iri_term(b"http://ex/s")
    p = _p_iri_term(b"http://ex/p")
    lit = bytes([0x0A, 0x01]) + b"x" + bytes([0x48, 0x01])  # lex "x", simple=true
    o = bytes([0x1A, len(lit)]) + lit
    triple = (
        bytes([0x0A, len(s)]) + s
        + bytes([0x12, len(p)]) + p
        + bytes([0x1A, len(o)]) + o
    )
    row = bytes([0x12, len(triple)]) + triple
    data = bytes([len(row)]) + row  # delimited framing
    assert parse_rdf_protobuf(data) == [
        (None, "<http://ex/s>", "<http://ex/p>", '"x"')
    ]


def test_protobuf_unknown_field_skipped():
    s = _p_iri_term(b"s")
    p = _p_iri_term(b"p")
    # literal with an unknown varint field 15 appended
    lit = bytes([0x0A, 0x01]) + b"y" + bytes([0x48, 0x01]) + bytes([0x78, 0x07])
    o = bytes([0x1A, len(lit)]) + lit
    triple = (
        bytes([0x0A, len(s)]) + s + bytes([0x12, len(p)]) + p
        + bytes([0x1A, len(o)]) + o
    )
    row = bytes([0x12, len(triple)]) + triple
    assert parse_rdf_protobuf(bytes([len(row)]) + row) == [
        (None, "<s>", "<p>", '"y"')
    ]


def test_protobuf_base_row_ignored():
    base_iri = bytes([0x0A, 0x09]) + b"http://b/"
    row = bytes([0x22, len(base_iri)]) + base_iri  # StreamRow field 4 = base
    assert parse_rdf_protobuf(bytes([len(row)]) + row) == []


# ---------------------------------------------------------------------------
# Round trips (writer → reader) for both formats
# ---------------------------------------------------------------------------

SAMPLE_QUADS = [
    (None, "<http://ex/s>", "<http://ex/p>", "<http://ex/o>"),
    (None, "_:b0", "<http://ex/p>", '"plain"'),
    (None, "<http://ex/s>", "<http://ex/p>", '"chat"@fr'),
    (None, "<http://ex/s>", "<http://ex/p>", '"dir"@he--rtl'),
    (
        None,
        "<http://ex/s>",
        "<http://ex/p>",
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ),
    (
        None,
        "<http://ex/s>",
        "<http://ex/p>",
        '"12.34"^^<http://www.w3.org/2001/XMLSchema#decimal>',
    ),
    (
        None,
        "<http://ex/s>",
        "<http://ex/p>",
        '"0.5"^^<http://www.w3.org/2001/XMLSchema#double>',
    ),
    (
        None,
        "<http://ex/s>",
        "<http://ex/p>",
        '"esc\\"q\\nnl"^^<http://ex/dt>',
    ),
    ("<http://ex/g>", "<http://ex/s>", "<http://ex/p>", '"in graph"'),
    (
        None,
        '<<(<http://ex/a> <http://ex/p> "o")>>',
        "<http://ex/says>",
        "<http://ex/b>",
    ),
]


@pytest.mark.parametrize("fmt", ["thrift", "protobuf"])
@pytest.mark.parametrize("encode_values", [False, True])
@pytest.mark.parametrize("prefixes", [None, {"ex": "http://ex/"}])
def test_round_trip(fmt, encode_values, prefixes):
    write = write_rdf_thrift if fmt == "thrift" else write_rdf_protobuf
    parse = parse_rdf_thrift if fmt == "thrift" else parse_rdf_protobuf
    data = write(SAMPLE_QUADS, encode_values=encode_values, prefixes=prefixes)
    assert parse(data) == SAMPLE_QUADS


@pytest.mark.parametrize("fmt", ["thrift", "protobuf"])
def test_value_encoding_changes_bytes_not_terms(fmt):
    write = write_rdf_thrift if fmt == "thrift" else write_rdf_protobuf
    parse = parse_rdf_thrift if fmt == "thrift" else parse_rdf_protobuf
    plain = write(SAMPLE_QUADS, encode_values=False)
    valued = write(SAMPLE_QUADS, encode_values=True)
    assert plain != valued
    assert parse(plain) == parse(valued) == SAMPLE_QUADS


def test_latin1_string_content_round_trip():
    data = write_rdf_thrift(SAMPLE_QUADS)
    as_str = data.decode("latin-1")
    assert parse_rdf_thrift(as_str) == SAMPLE_QUADS


def test_bnode_alloc_remaps_labels():
    alloc = BNodeAllocator(doc_seed("r", "p", "c"))
    quads = parse_rdf_thrift(
        write_rdf_thrift([(None, "_:x", "<p>", "_:x"), (None, "_:y", "<p>", "_:x")]),
        alloc,
    )
    s0 = quads[0][1]
    assert s0.startswith("_:B") and quads[0][3] == s0 and quads[1][3] == s0
    assert quads[1][1] != s0


def test_registry_dispatch():
    from jena_spark.parsers.registry import parse_document

    content = write_rdf_thrift(SAMPLE_QUADS[:3]).decode("latin-1")
    quads, err = parse_document("r", "f.trdf", "c", None, content)
    assert err is None and len(quads) == 3
    content = write_rdf_protobuf(SAMPLE_QUADS[:3]).decode("latin-1")
    quads, err = parse_document("r", "f.rpb", "c", None, content)
    assert err is None and len(quads) == 3
    # corrupt content → ([], error), never an exception
    quads, err = parse_document("r", "f.trdf", "c", None, "\x1cgarbage")
    assert quads == [] and err is not None


# ---------------------------------------------------------------------------
# W3C corpus cross-check: NT fixtures → binary → back, sets must match
# ---------------------------------------------------------------------------

@pytest.mark.reference_corpus
@pytest.mark.parametrize("fmt", ["thrift", "protobuf"])
def test_w3c_nt_corpus_round_trip(fmt):
    write = write_rdf_thrift if fmt == "thrift" else write_rdf_protobuf
    parse = parse_rdf_thrift if fmt == "thrift" else parse_rdf_protobuf
    files = sorted(glob.glob(os.path.join(RDF_TESTS_DIR, "rdf-n-triples", "*.nt")))
    assert len(files) > 50
    parsed_docs = 0
    for path in files:
        with open(path, encoding="utf-8", newline="") as fh:
            text = fh.read()
        alloc = BNodeAllocator(doc_seed("w3c", os.path.basename(path), "r5"))
        try:
            triples = parse_ntriples(text, alloc)
        except RDFSyntaxError:
            continue  # bad-syntax fixture
        quads = [(None, s, p, o) for s, p, o in triples]
        # default form is lossless
        assert sorted(parse(write(quads))) == sorted(quads), path
        # value form normalizes derived numeric datatypes (xsd:byte et al →
        # valInteger → xsd:integer, exactly as ThriftConvert round trips);
        # after one normalization it must be a fixpoint
        norm = parse(write(quads, encode_values=True))
        again = parse(write(norm, encode_values=True))
        assert sorted(again) == sorted(norm), path
        parsed_docs += 1
    assert parsed_docs > 30


# ---------------------------------------------------------------------------
# SPARQL result tuples (RDF_VarTuple / RDF_DataTuple)
# ---------------------------------------------------------------------------

RESULT_VARS = ["s", "name", "age"]
RESULT_ROWS = [
    ["<http://ex/a>", '"Alice"@en', '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'],
    ["<http://ex/b>", None, '"12.5"^^<http://www.w3.org/2001/XMLSchema#decimal>'],
    ["_:b9", '"m\\u00fcller"' if False else '"müller"', None],
]


@pytest.mark.parametrize("fmt", ["thrift", "protobuf"])
@pytest.mark.parametrize("encode_values", [False, True])
def test_result_tuples_round_trip(fmt, encode_values):
    from jena_spark.parsers.binrdf import (
        read_result_tuples_protobuf,
        read_result_tuples_thrift,
        write_result_tuples_protobuf,
        write_result_tuples_thrift,
    )

    write = write_result_tuples_thrift if fmt == "thrift" else write_result_tuples_protobuf
    read = read_result_tuples_thrift if fmt == "thrift" else read_result_tuples_protobuf
    data = write(RESULT_VARS, RESULT_ROWS, encode_values)
    varnames, rows = read(data)
    assert varnames == RESULT_VARS
    assert rows == RESULT_ROWS


@pytest.mark.parametrize("fmt", ["thrift", "protobuf"])
def test_result_tuples_empty_stream_raises(fmt):
    from jena_spark.parsers.binrdf import (
        read_result_tuples_protobuf,
        read_result_tuples_thrift,
    )

    read = read_result_tuples_thrift if fmt == "thrift" else read_result_tuples_protobuf
    with pytest.raises(RDFSyntaxError):
        read(b"")


def test_result_tuples_many_vars_long_list_header():
    # >14 vars forces the thrift long-form list header (0xF? + varint size)
    from jena_spark.parsers.binrdf import (
        read_result_tuples_thrift,
        write_result_tuples_thrift,
    )

    names = [f"v{i}" for i in range(20)]
    row = [f"<http://ex/{i}>" for i in range(20)]
    varnames, rows = read_result_tuples_thrift(write_result_tuples_thrift(names, [row]))
    assert varnames == names and rows == [row]


# ---------------------------------------------------------------------------
# Binary RDF Patch rows
# ---------------------------------------------------------------------------

def test_patch_binary_round_trip():
    from jena_spark.rdfpatch import parse_patch, parse_patch_binary, patch_to_binary

    text = "\n".join(
        [
            'H id <uuid:0000-1111> .',
            'PA "ex" <http://ex/> .',
            "TX .",
            "A <http://ex/s> <http://ex/p> <http://ex/o> .",
            "A <http://ex/s> <http://ex/p> \"lit\"@fr <http://ex/g> .",
            "D <http://ex/s> <http://ex/q> <http://ex/o2> .",
            "TC .",
            "TX .",
            "A <http://ex/x> <http://ex/p> <http://ex/y> .",
            "TA .",
        ]
    )
    log = parse_patch(text)
    assert len(log.txns) == 1  # aborted txn discarded
    blob = patch_to_binary(text)
    log2 = parse_patch_binary(blob)
    assert log2.headers == log.headers
    assert log2.prefixes == log.prefixes
    assert log2.txns == log.txns


def test_patch_binary_abort_and_segment():
    from jena_spark.parsers.binrdf import write_patch_rows_thrift
    from jena_spark.rdfpatch import parse_patch_binary

    rows = [
        ("TX",),
        ("A", None, "<s>", "<p>", "<o>"),
        ("TA",),  # discarded
        ("Segment",),
        ("TX",),
        ("A", "<g>", "<s>", "<p>", "<o2>"),
        ("TC",),
        ("PD", None, "gone"),
    ]
    log = parse_patch_binary(write_patch_rows_thrift(rows))
    assert log.txns == [[("A", ("<g>", "<s>", "<p>", "<o2>"))]]
    assert log.prefixes == {}


def test_patch_binary_unterminated_txn_raises():
    from jena_spark.parsers.binrdf import write_patch_rows_thrift
    from jena_spark.rdfpatch import PatchException, parse_patch_binary

    blob = write_patch_rows_thrift([("TX",), ("A", None, "<s>", "<p>", "<o>")])
    with pytest.raises(PatchException):
        parse_patch_binary(blob)


# ---------------------------------------------------------------------------
# Property-based round trips (arbitrary generated quads, both formats)
# ---------------------------------------------------------------------------

import string as _string

from hypothesis import given, settings as h_settings, strategies as hst

from jena_spark.terms import escape_literal as _esc

_h_iri = hst.builds(
    lambda p: f"<http://t.example/{p}>",
    hst.text(
        alphabet=_string.ascii_letters + _string.digits + "-._~!$&'()*+,;=:@/?#",
        min_size=1, max_size=12,
    ),
)
_h_bnode = hst.builds(lambda n: f"_:b{n}", hst.integers(0, 3))
_h_lex = hst.text(min_size=0, max_size=20).filter(
    lambda s: all(not (0xD800 <= ord(c) <= 0xDFFF) for c in s)
)
_h_lit = hst.one_of(
    hst.builds(lambda v: f'"{_esc(v)}"', _h_lex),
    hst.builds(
        lambda v, t: f'"{_esc(v)}"@{t}',
        _h_lex, hst.sampled_from(["en", "en-GB", "de", "zh-Hant"]),
    ),
    hst.builds(
        lambda v, t, d: f'"{_esc(v)}"@{t}--{d}',
        _h_lex, hst.sampled_from(["he", "ar"]), hst.sampled_from(["ltr", "rtl"]),
    ),
    hst.builds(
        lambda v, d: f'"{_esc(v)}"^^<http://t.example/dt/{d}>',
        _h_lex, hst.text(alphabet=_string.ascii_lowercase, min_size=1, max_size=6),
    ),
)
_h_obj_simple = hst.one_of(_h_iri, _h_bnode, _h_lit)
_h_subj_simple = hst.one_of(_h_iri, _h_bnode)
# one level of RDF-star triple terms in subject/object position
_h_tterm = hst.builds(
    lambda s, p, o: f"<<({s} {p} {o})>>", _h_subj_simple, _h_iri, _h_obj_simple
)
_h_quads = hst.lists(
    hst.tuples(
        hst.one_of(hst.none(), _h_iri),
        hst.one_of(_h_subj_simple, _h_tterm),
        _h_iri,
        hst.one_of(_h_obj_simple, _h_tterm),
    ),
    min_size=0, max_size=12,
)


@h_settings(max_examples=150, deadline=None)
@given(_h_quads, hst.sampled_from([None, {"t": "http://t.example/"}]))
def test_binary_roundtrip_property(quads, prefixes):
    for write, parse in (
        (write_rdf_thrift, parse_rdf_thrift),
        (write_rdf_protobuf, parse_rdf_protobuf),
    ):
        assert parse(write(quads, prefixes=prefixes)) == quads


@h_settings(max_examples=60, deadline=None)
@given(
    hst.lists(
        hst.tuples(
            _h_iri, _h_iri,
            hst.one_of(
                hst.builds(
                    lambda n: f'"{n}"^^<http://www.w3.org/2001/XMLSchema#integer>',
                    hst.integers(-(2**63) + 1, 2**63 - 1),
                ),
                hst.builds(
                    lambda b: f'"{str(b).lower()}"'
                    '^^<http://www.w3.org/2001/XMLSchema#boolean>',
                    hst.booleans(),
                ),
            ),
        ),
        min_size=0, max_size=8,
    )
)
def test_binary_value_encoding_property(rows):
    # canonical integer/boolean lexical forms survive VALUE encoding exactly
    quads = [(None, s, p, o) for s, p, o in rows]
    for write, parse in (
        (write_rdf_thrift, parse_rdf_thrift),
        (write_rdf_protobuf, parse_rdf_protobuf),
    ):
        assert parse(write(quads, encode_values=True)) == quads


def test_truncated_protobuf_result_stream_raises():
    """A row-length varint claiming more bytes than remain must raise —
    before the check, a final LEN span sliced past the buffer and Python
    silently returned a shortened string."""
    from jena_spark.parsers.binrdf import (
        read_result_tuples_protobuf,
        write_result_tuples_protobuf,
    )
    from jena_spark.terms import RDFSyntaxError

    blob = write_result_tuples_protobuf(["x"], [['"some long literal"']])
    for cut in range(1, len(blob)):
        try:
            names, rows = read_result_tuples_protobuf(blob[:cut])
        except RDFSyntaxError:
            continue
        # any prefix that parses must be a clean row boundary, never a
        # mangled term
        assert names == ["x"]
        for row in rows:
            assert row == ['"some long literal"']


def test_ill_formed_numerics_not_value_encoded():
    """Python int()/float() accept '1_0', Unicode digits, 'infinity' —
    value-encoding those would silently rewrite an ill-formed literal
    into a different well-formed one.  They must ship verbatim."""
    X = "http://www.w3.org/2001/XMLSchema#"
    bad = [
        (None, "<http://ex/s>", "<http://ex/p>", f'"1_0"^^<{X}integer>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"١٢"^^<{X}integer>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"1_0.5"^^<{X}double>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"infinity"^^<{X}double>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"1._5"^^<{X}decimal>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"nan"^^<{X}double>'),
    ]
    good = [
        (None, "<http://ex/s>", "<http://ex/p>", f'"-INF"^^<{X}double>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"NaN"^^<{X}double>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'".5"^^<{X}decimal>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"-.5"^^<{X}decimal>'),
        (None, "<http://ex/s>", "<http://ex/p>", f'"5."^^<{X}decimal>'),
    ]
    for fmt_write, fmt_parse in (
        (write_rdf_thrift, parse_rdf_thrift),
        (write_rdf_protobuf, parse_rdf_protobuf),
    ):
        assert fmt_parse(fmt_write(bad, encode_values=True)) == bad
        got = fmt_parse(fmt_write(good, encode_values=True))
        # valid lexical forms DO value-encode; NaN/INF/decimal forms
        # come back in the Java canonical lexical form
        assert [o.split("^^")[0] for _, _, _, o in got] == [
            '"-Infinity"', '"NaN"', '"0.5"', '"-0.5"', '"5"'
        ]
