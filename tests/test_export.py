"""N-Triples export (kg/ops/export.py): escaping semantics, sink
round-trip, plan shape. Oracle parity for the serialization is covered
by the entry contract (kg_export_ntriples / kg_export_labels)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kg.ops.export import ntriples

_NT_LINE = re.compile(r"^<([^>]*)> <([^>]*)> (<[^>]*>|\"(?:[^\"\\]|\\.)*\") \.$")


@pytest.fixture(scope="module")
def facts(spark):
    rows = [
        (1, "works_for", 2),
        (2, "located_in", 3),
    ]
    return spark.createDataFrame(rows, "subj_id long, pred string, obj_id long")


def test_resource_lines_shape(facts):
    out = ntriples(facts, base_iri="http://x/").collect()
    lines = {r.line for r in out}
    assert "<http://x/e/1> <http://x/p/works_for> <http://x/e/2> ." in lines
    assert all(_NT_LINE.match(r.line) for r in out)


def test_iri_and_literal_escaping(spark):
    # hostile terms: spaces, angle brackets, quotes, backslashes, newlines
    rows = [
        ('a b<c>"d\\e', "p|q`r", 'line1\nline2\t"quoted" \\slash'),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string")
    r = ntriples(
        df, base_iri="http://x/", subj_col="s", pred_col="p",
        obj_col="o", obj_is_literal=True,
    ).first()
    assert (
        r.line
        == '<http://x/e/a%20b%3Cc%3E%22d%5Ce> <http://x/p/p%7Cq%60r> '
        '"line1\\nline2\\t\\"quoted\\" \\\\slash" .'
    )
    # every line still parses as a single N-Triples statement
    assert _NT_LINE.match(r.line)
    assert "\n" not in r.line


def test_nulls_dropped(spark):
    df = spark.createDataFrame(
        [(1, "p", None), (None, "p", 2), (3, "p", 4)],
        "subj_id long, pred string, obj_id long",
    )
    out = ntriples(df).collect()
    assert len(out) == 1 and out[0].subj_id == 3


def test_plan_pure_projection(facts):
    p = (
        ntriples(facts)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                 "MapInPandas"):
        assert node not in p, node


def test_escape_tables_order():
    """The oracle SQL is generated from the same tables; the chains are
    only correct if '%' is encoded before anything that introduces one
    (self-inverting IRI chain) and backslash before anything whose
    escape introduces a backslash."""
    from kg.ops.export import _IRI_ENC, _LIT_ENC

    assert _IRI_ENC[0][0] == "%" and _IRI_ENC[1][0] == "\\"
    assert _LIT_ENC[0][0] == "\\"


HOSTILE = [
    "plain",
    "a b<c>\"d\\e",
    "100% legit %20 %5C%",
    "tab\there\nnl\rcr",
    "{curly}|pipe^caret`tick",
    "%25%%25",
    "unicode π — ok",
]


def test_iri_escape_roundtrip(spark):
    from kg.ops.export import iri_escape, iri_unescape

    df = spark.createDataFrame([(s,) for s in HOSTILE], "s string")
    out = df.select(
        "s", iri_unescape(iri_escape(F.col("s"))).alias("back"),
        iri_escape(F.col("s")).alias("enc"),
    ).collect()
    for r in out:
        assert r.back == r.s, r.s
        # encoded form is IRI-safe: none of the forbidden chars remain
        assert not re.search(r'[ <>"{}|^`\\\t\n\r]', r.enc), r.enc


def test_literal_escape_roundtrip(spark):
    from kg.ops.export import literal_escape, literal_unescape

    terms = HOSTILE + ["\\n is two chars", "ends with backslash \\"]
    df = spark.createDataFrame([(s,) for s in terms], "s string")
    out = df.select(
        "s", literal_unescape(literal_escape(F.col("s"))).alias("back")
    ).collect()
    for r in out:
        assert r.back == r.s, r.s


def test_parse_ntriples(spark):
    from kg.ops.export import parse_ntriples

    lines = [
        "# a comment",
        "",
        "   ",
        '<http://x/e/a%20b> <http://x/p/knows> <http://x/e/c%3Ed> .',
        '<http://x/e/1> <http://x/p/label> "line1\\nline2 \\"q\\" \\\\s" .',
        '<http://x/e/1> <http://x/p/name> "Ada"@en .',
        '<http://x/e/1> <http://x/p/age> "36"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        "garbage that is not a statement",
        '<http://x/e/unterminated> <http://x/p/p> "oops .',
    ]
    df = spark.createDataFrame([(s,) for s in lines], "value string")
    out = parse_ntriples(df).collect()
    assert len(out) == 4  # comments/blanks/garbage dropped
    by_pred = {r.pred_iri.rsplit("/", 1)[-1]: r for r in out}
    r = by_pred["knows"]
    assert r.subj_iri == "http://x/e/a b" and r.obj_iri == "http://x/e/c>d"
    assert r.obj_literal is None and r.obj_qualifier is None
    r = by_pred["label"]
    assert r.obj_iri is None
    assert r.obj_literal == 'line1\nline2 "q" \\s'
    assert r.obj_qualifier == ""
    assert by_pred["name"].obj_literal == "Ada"
    assert by_pred["name"].obj_qualifier == "@en"
    assert by_pred["age"].obj_qualifier.startswith("^^<")


def test_serialize_parse_roundtrip(spark):
    """parse(serialize(facts)) == facts, with hostile term content on the
    literal path too."""
    from kg.ops.export import parse_ntriples

    rows = [(s, "rel x", o) for s in HOSTILE[:4] for o in HOSTILE[3:]]
    df = spark.createDataFrame(rows, "s string, p string, o string")
    lines = ntriples(df, base_iri="http://x/", subj_col="s", pred_col="p",
                     obj_col="o", obj_is_literal=True)
    back = parse_ntriples(lines, "line").select(
        F.expr("substring(subj_iri, 12)").alias("s"),
        F.expr("substring(pred_iri, 12)").alias("p"),
        F.col("obj_literal").alias("o"),
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_parse_plan_pure_projection(spark):
    from kg.ops.export import parse_ntriples

    df = spark.createDataFrame([("x",)], "value string")
    p = (
        parse_ntriples(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                 "MapInPandas"):
        assert node not in p, node
