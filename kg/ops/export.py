"""RDF N-Triples serialization of the materialized KG — the interchange
sink a standing graph needs beyond its parquet tables.

The reference returns matches as per-request JSON
(/root/reference/src/hu_entity/server.py:130-137) and never materializes
a graph; the north rule's final step is "(subj, pred, obj) triple
materialization into partitioned graph tables". Partitioned parquet is
the engine-internal form (run_pipeline); this module adds the standard
EXTERNAL form — W3C N-Triples lines — so any RDF store / SPARQL engine
can load the result.

Everything is a pure column projection (concat + literal replace
chains): no shuffle, no UDF, whole-stage codegen end to end, and the
text sink inherits the upstream partitioning — at 10^12 facts the export
is scan-bound. Escaping is implemented with enumerated literal
``replace`` chains (not a per-char codec) so the DuckDB oracle replays
it exactly:

- IRIs: the characters N-Triples forbids inside ``<...>`` (space, <, >,
  ", {, }, |, ^, `, \\, tab/newline/CR) are percent-encoded; '%' itself
  is encoded first so the chain is exactly invertible (every '%' in the
  output is token-initial, so decoding replays the reversed chain with
  '%25' last and can never mis-split a token).
- String literals: the five ECHAR escapes (\\\\, \\", \\n, \\r, \\t).

The module is also the INGEST side: :func:`parse_ntriples` parses
N-Triples lines back to terms with the inverse chains — same pure-projection shape (regexp_extract + replace;
no shuffle, no UDF), so parse(serialize(facts)) == facts and an external
RDF dump loads at scan speed. Literal unescaping routes ``\\\\`` through
a ``\\x01`` sentinel (a char valid N-Triples lines cannot contain raw)
so ``\\\\n`` decodes to backslash+n, not newline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "iri_escape",
    "literal_escape",
    "iri_unescape",
    "literal_unescape",
    "ntriples",
    "parse_ntriples",
]

# (char, percent-encoding) — '%' MUST come first (so the encoding is
# self-inverting: decoding replays the chain reversed, '%25' last),
# then backslash before anything whose encoding introduces one
_IRI_ENC = [
    ("%", "%25"),
    ("\\", "%5C"),
    (" ", "%20"),
    ("\t", "%09"),
    ("\n", "%0A"),
    ("\r", "%0D"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
]

# N-Triples ECHAR escapes for string literals — backslash first
_LIT_ENC = [
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ("\t", "\\t"),
]


def _chain(col: Column, pairs: list[tuple[str, str]]) -> Column:
    for ch, enc in pairs:
        col = F.replace(col, F.lit(ch), F.lit(enc))
    return col


def iri_escape(col: Column) -> Column:
    """Percent-encode the characters N-Triples forbids inside <...>."""
    return _chain(col.cast("string"), _IRI_ENC)


def literal_escape(col: Column) -> Column:
    """Apply the five N-Triples ECHAR escapes to a string literal."""
    return _chain(col.cast("string"), _LIT_ENC)


def ntriples(
    facts: DataFrame,
    base_iri: str = "http://kg.local/",
    subj_col: str = "subj_id",
    pred_col: str = "pred",
    obj_col: str = "obj_id",
    obj_is_literal: bool = False,
) -> DataFrame:
    """Serialize facts to N-Triples: input columns pass through, plus a
    ``line`` column ``<{base}e/subj> <{base}p/pred> <{base}e/obj> .``
    (or ``"obj"`` as an escaped string literal when ``obj_is_literal``).

    Null subjects/objects are dropped — N-Triples has no null term. Pure
    projection: no shuffle, no UDF.
    """
    out = facts.where(
        F.col(subj_col).isNotNull() & F.col(obj_col).isNotNull()
    )
    subj = F.concat(
        F.lit(f"<{base_iri}e/"), iri_escape(F.col(subj_col)), F.lit(">")
    )
    pred = F.concat(
        F.lit(f"<{base_iri}p/"), iri_escape(F.col(pred_col)), F.lit(">")
    )
    if obj_is_literal:
        obj = F.concat(
            F.lit('"'), literal_escape(F.col(obj_col)), F.lit('"')
        )
    else:
        obj = F.concat(
            F.lit(f"<{base_iri}e/"), iri_escape(F.col(obj_col)), F.lit(">")
        )
    return out.withColumn(
        "line", F.concat_ws(" ", subj, pred, obj, F.lit("."))
    )


def iri_unescape(col: Column) -> Column:
    """Invert :func:`iri_escape`: replay the chain reversed, '%25' last.
    Exact because every '%' the encoder emits is token-initial."""
    out = col
    for ch, enc in reversed(_IRI_ENC):
        out = F.replace(out, F.lit(enc), F.lit(ch))
    return out


_LIT_SENTINEL = "\x01"  # cannot appear raw in a valid N-Triples line


def literal_unescape(col: Column) -> Column:
    """Invert :func:`literal_escape`. ``\\\\`` goes through a sentinel
    first so e.g. the four chars ``\\\\n`` decode to backslash+n rather
    than a newline."""
    out = F.replace(col, F.lit("\\\\"), F.lit(_LIT_SENTINEL))
    for ch, enc in _LIT_ENC[1:]:
        out = F.replace(out, F.lit(enc), F.lit(ch))
    return F.replace(out, F.lit(_LIT_SENTINEL), F.lit("\\"))


# one N-Triples statement: subj IRI, pred IRI, then an IRI or a quoted
# literal with an optional @lang / ^^<datatype> qualifier, then ' .'
_OBJ_TERM = r'(<[^>]*>|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?)'
_STMT = r"^\s*<[^>]*>\s+<[^>]*>\s+" + _OBJ_TERM + r"\s*\.\s*$"


def parse_ntriples(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse N-Triples lines back to decoded terms. Comment/blank lines
    are skipped; lines that don't parse as a statement are dropped (diff
    input count vs output count to audit). Output columns:

    - ``subj_iri``, ``pred_iri``: decoded IRIs.
    - ``obj_iri``: decoded IRI, or null when the object is a literal.
    - ``obj_literal``: unescaped literal body, or null for IRI objects.
    - ``obj_qualifier``: the raw ``@lang`` / ``^^<datatype>`` suffix
      ('' when absent, null for IRI objects).

    Pure projection + filter (regexp_extract / replace): no shuffle, no
    UDF — an external dump parses at scan speed and the plan inherits
    the text source's split partitioning.
    """
    line = F.col(line_col)
    parsed = (
        lines.where(~line.rlike(r"^\s*(#.*)?$"))
        .where(line.rlike(_STMT))
        .select(
            F.regexp_extract(line, r"^\s*<([^>]*)>", 1).alias("_s"),
            F.regexp_extract(line, r"^\s*<[^>]*>\s+<([^>]*)>", 1).alias("_p"),
            F.regexp_extract(line, _STMT, 1).alias("_o"),
        )
    )
    is_iri = F.col("_o").startswith("<")
    lit_body = F.regexp_extract(F.col("_o"), r'^"((?:[^"\\]|\\.)*)"', 1)
    return parsed.select(
        iri_unescape(F.col("_s")).alias("subj_iri"),
        iri_unescape(F.col("_p")).alias("pred_iri"),
        F.when(
            is_iri,
            iri_unescape(F.expr("substring(_o, 2, length(_o) - 2)")),
        ).alias("obj_iri"),
        F.when(~is_iri, literal_unescape(lit_body)).alias("obj_literal"),
        F.when(
            ~is_iri, F.regexp_extract(F.col("_o"), r'"((?:[^"\\]|\\.)*)"(.*)$', 2)
        ).alias("obj_qualifier"),
    )
