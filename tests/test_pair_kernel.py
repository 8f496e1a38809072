"""The shared pair kernel (queries/_util.py): ``grouped_pairs`` against
the self-join it replaces, and ``both_directions`` against the
``UNION ALL`` form."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from qpmodel_spark.queries._util import both_directions, grouped_pairs

# groups of 5, 2, 1 and 0 non-null items, with duplicate (g, item) rows
# and null items
_ROWS = [
    (1, 14), (1, 10), (1, 12), (1, 11), (1, 13), (1, 12), (1, None),
    (2, 11), (2, 10),
    (3, 10), (3, 10),
    (4, None),
]


def _frame(spark):
    return spark.createDataFrame(_ROWS, "g bigint, item bigint")


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def test_grouped_pairs_equals_self_join(spark):
    df = _frame(spark)
    d = df.distinct()
    a, b = d.alias("a"), d.alias("b")
    want = _bag(
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.item") < F.col("b.item")))
        .select(F.col("a.item").alias("pa"), F.col("b.item").alias("pb"))
    )
    got = grouped_pairs(df, "g", "item")
    assert got.columns == ["pa", "pb"]
    assert _bag(got) == want
    assert sum(want.values()) == 10 + 1 and want[(10, 11)] == 2


def test_both_directions_equals_union(spark):
    pairs = grouped_pairs(_frame(spark), "g", "item")
    union = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    got = both_directions(pairs)
    assert got.schema == union.schema  # names, types and nullability
    assert _bag(got) == _bag(union)
