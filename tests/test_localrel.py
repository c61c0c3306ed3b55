"""Driver-side literal rendering (engine/localrel.py): local_df tables
and in_list filters must read back exactly the values given, whatever
the session's string-literal parser setting."""

from __future__ import annotations

import pytest

ODD = ["plain", "it's", "back\\slash", "\\'", "''", "tab\tand\nnewline",
       "ünïcode"]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_local_df_strings_under_both_parser_modes(spark, escaped):
    """Quote doubling and backslash escapes both read differently under
    spark.sql.parser.escapedStringLiterals, so strings holding either
    go to the createDataFrame fallback; the rest render as literals.
    Every value must round-trip under both settings."""
    from engine.localrel import local_df

    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        rows = [(i, s, float(i) / 3) for i, s in enumerate(ODD)]
        got = local_df(spark, rows, "id long, s string, x double").collect()
        assert sorted(tuple(r) for r in got) == rows
        plain = local_df(spark, [(1, "plain")], "id long, s string")
        assert [tuple(r) for r in plain.collect()] == [(1, "plain")]
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_in_list_matches_isin(spark, escaped):
    """in_list keeps exactly the rows Column.isin keeps: one parsed IN
    expression for portable literals, isin for the rest."""
    from pyspark.sql import functions as F

    from engine.localrel import in_list

    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        df = spark.createDataFrame([(i, s) for i, s in enumerate(ODD)],
                                   "id long, s string")
        for want in (["plain", "ünïcode"], ["it's", "plain"], ["nope"]):
            got = sorted(r.id for r in df.where(in_list("s", want)).collect())
            ref = sorted(r.id for r in df.where(F.col("s").isin(want))
                         .collect())
            assert got == ref, want
        assert sorted(r.s for r in df.where(in_list("id", [0, 6]))
                      .collect()) == ["plain", "ünïcode"]
        assert df.where(in_list("id", [])).count() == 0
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
