"""N-Quads as a Spark source and sink.

Read: spark.read.text (splittable line format — scales to any file size)
-> Arrow-batched parse with the core grammar (the UCHAR/ECHAR unescaping
needs Python, SURVEY.md §2.1; everything else stays a vectorized batch).
Write: JVM-side fast path — pure column algebra (concat/when/regexp) when
no escaping beyond the common five is required; rows are emitted in the
reference's exact single-space serialization (n-quads.rkt:512-528).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.nquads import parse_line, serialize_quad
from ..core.terms import Literal, Quad, obj_columns, obj_from_columns

NQ_SCHEMA = ("subj string, pred string, obj_kind tinyint, obj_value string, "
             "obj_dt string, obj_lang string, graph string")

_COLS = ["subj", "pred", "obj_kind", "obj_value", "obj_dt", "obj_lang",
         "graph"]


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """Parse an N-Quads file/directory into the flat triples schema."""
    lines = spark.read.text(path)

    def fn(batches):
        for pdf in batches:
            rows = []
            for line in pdf["value"].tolist():
                q = parse_line(line)
                if q is None:
                    continue
                kind, value, dt, lang = obj_columns(q.obj)
                rows.append((q.subj, q.pred, kind, value, dt, lang, q.graph))
            if rows:
                yield pd.DataFrame(dict(zip(_COLS, zip(*rows))))
            else:
                yield pd.DataFrame({c: [] for c in _COLS})

    return lines.mapInPandas(fn, schema=NQ_SCHEMA)


def nquads_line_col():
    """JVM-side injection-safe N-Quads line (whole-stage codegen; mirrors
    the core serializer's escape set)."""
    def esc_literal(c):
        out = F.regexp_replace(c, r"\\", r"\\\\")
        out = F.regexp_replace(out, '"', '\\\\"')
        out = F.regexp_replace(out, "\n", r"\\n")
        out = F.regexp_replace(out, "\r", r"\\r")
        out = F.regexp_replace(out, "\t", r"\\t")
        return out

    def term(kind_col, value_col, dt, lang):
        iri = F.concat(F.lit("<"), value_col, F.lit(">"))
        lit_body = F.concat(F.lit('"'), esc_literal(value_col), F.lit('"'))
        lit = F.when(
            F.col(lang).isNotNull(),
            F.concat(lit_body, F.lit("@"), F.col(lang)),
        ).when(
            F.col(dt).isNotNull()
            & (F.col(dt) != "http://www.w3.org/2001/XMLSchema#string"),
            F.concat(lit_body, F.lit("^^<"), F.col(dt), F.lit(">")),
        ).otherwise(lit_body)
        return (F.when(kind_col == 2, lit)
                .when(kind_col == 1, value_col)  # "_:label" stored verbatim
                .otherwise(iri))

    subj = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    pred = F.concat(F.lit("<"), F.col("pred"), F.lit(">"))
    obj = term(F.col("obj_kind"), F.col("obj_value"), "obj_dt", "obj_lang")
    graph = F.when(
        F.col("graph").isNull(), F.lit("")
    ).when(F.col("graph").startswith("_:"),
           F.concat(F.lit(" "), F.col("graph"))
           ).otherwise(F.concat(F.lit(" <"), F.col("graph"), F.lit(">")))
    return F.concat(subj, F.lit(" "), pred, F.lit(" "), obj, graph,
                    F.lit(" ."))


def write_nquads(triples: DataFrame, path: str, mode: str = "overwrite"):
    """triples DF -> N-Quads text files (one statement per line)."""
    (triples.select(nquads_line_col().alias("value"))
     .write.mode(mode).text(path))


def rows_to_quads(rows) -> list:
    """Collected triples rows -> core Quad objects (tests/utilities)."""
    return [Quad(r.subj, r.pred,
                 obj_from_columns(r.obj_kind, r.obj_value, r.obj_dt,
                                  r.obj_lang),
                 r.graph) for r in rows]
