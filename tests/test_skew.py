"""Salted aggregation equivalence with the unsalted plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.operators.skew import salted_agg


def test_salted_agg_matches_plain(cat):
    li = cat.lineitem
    plain = {
        (r.l_returnflag, r.l_linestatus): (round(r.s, 2), r.c, r.m)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_extendedprice").alias("s"),
            F.count("*").alias("c"),
            F.max("l_quantity").alias("m"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag, r.l_linestatus): (round(r.s, 2), r.c, r.m)
        for r in salted_agg(
            li,
            ["l_returnflag", "l_linestatus"],
            {
                "s": F.sum("l_extendedprice"),
                "c": F.count("*"),
                "m": F.max("l_quantity"),
            },
        ).collect()
    }
    assert plain == salted
