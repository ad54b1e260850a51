"""Native expression chains: one stage list, rendered for both engines.

A chain is a list of stages. Each stage is a dict from column name to
dialect-neutral SQL text (valid in Spark SQL and DuckDB) that references
only the input columns and the columns of earlier stages. The last
stage's columns are the chain's outputs; every other column a stage
defines is a work column and is dropped at the end.

The same list becomes a Spark plan (``with_stages``: one ``withColumns``
per stage, fused by Catalyst into one whole-stage-codegen projection)
and a DuckDB query (``sql_stages``: one nested ``SELECT`` per stage), so
the engine and the differential oracle evaluate the same expression
text in the same order. The CRS inverses (functions/reproject.py), the
datum shift (functions/datum.py) and the Hilbert walk
(functions/hilbert.py) only write their stage lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Stages = list[dict[str, str]]


def _work_columns(stages: Stages) -> list[str]:
    """Columns an earlier stage defines and the last stage does not."""
    out = stages[-1].keys()
    return list(dict.fromkeys(
        c for stage in stages[:-1] for c in stage if c not in out))


def with_stages(df: DataFrame, stages: Stages) -> DataFrame:
    """Append the chain's output columns to ``df`` (native expressions
    only: no UDF, no shuffle)."""
    for stage in stages:
        df = df.withColumns({c: F.expr(e) for c, e in stage.items()})
    return df.drop(*_work_columns(stages))


def sql_stages(inner_sql: str, stages: Stages) -> str:
    """Wrap ``inner_sql`` so the outer SELECT adds the chain's output
    columns (DuckDB). A stage that redefines a column of an earlier
    stage replaces it in place, as Spark's ``withColumns`` does."""
    sel = inner_sql
    defined: set[str] = set()
    for stage in stages:
        cols = {c: f"({e}) AS {c}" for c, e in stage.items()}
        old = [cols[c] for c in cols if c in defined]
        items = [f"* REPLACE ({', '.join(old)})" if old else "*"]
        items += [cols[c] for c in cols if c not in defined]
        sel = f"SELECT {', '.join(items)} FROM ({sel})"
        defined.update(stage)
    work = _work_columns(stages)
    if not work:
        return sel
    return f"SELECT * EXCLUDE ({', '.join(work)}) FROM ({sel})"
