"""JVM-local literal relations for small driver-side tables.

``spark.createDataFrame`` frames are Python-RDD-backed: every job whose
plan contains one pays a Python-worker scan stage just to produce a
handful of literal rows. A ``VALUES`` relation is a JVM-local
LocalRelation — free to scan, free to broadcast (the
``similarity.centroids_to_df`` convention, shared here for string
lists: query-term tables, blocklists, badword lists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def strings_df(spark, values, col: str = "value") -> DataFrame:
    """One-column string table as a JVM-local VALUES relation.

    ``values`` must be non-empty (SQL VALUES cannot be empty — callers
    already guard their empty-list cases). Strings are embedded as SQL
    literals with quote/backslash escaping; order is preserved.
    """
    vals = list(values)
    if not vals:
        raise ValueError("strings_df needs at least one value")

    rows = ", ".join(f"({_lit(v)})" for v in vals)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({col})")


def _lit(s: str) -> str:
    """``s`` as a single-quoted Spark SQL string literal, with backslash and
    quote backslash-escaped. Assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``; with it set to true,
    the escapes are kept verbatim and every escaped value comes back with
    its backslashes. User search terms reach it through :func:`strings_df`
    (search/engine.py), so this is the one escaper to keep correct."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_int_df(spark, pairs, cols: str = "k, v") -> DataFrame:
    """(string, int) pair table as a JVM-local VALUES relation — the
    two-column sibling of :func:`strings_df` (tokenizer piece→id maps,
    term→weight tables). ``pairs`` must be non-empty."""
    rows_list = list(pairs)
    if not rows_list:
        raise ValueError("string_int_df needs at least one pair")
    rows = ", ".join(f"({_lit(k)}, {int(v)})" for k, v in rows_list)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({cols})")
