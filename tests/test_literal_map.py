"""queries._util.literal_map: the JSON-literal form of a Python dict
must build the same literal map — key and value types, entries — as the
per-entry `F.create_map(*[F.lit(x) ...])` it replaces, and the
optimizer must fold it to a literal."""

import math

import pytest
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.queries._util import literal_map

CASES = [
    {},
    {"a": 1, "b": -2},
    {"a": 1, "b": 2**31 - 1, "c": -2**31},        # still int
    {"a": 1, "b": 2**31},                         # one value → bigint
    {"a": 1.5, "b": 2},                           # any float → double
    {1: 10, 3: 2**40},                            # int keys
    {'q"x': 1, "b\\s": 2, "ü😀": 3, "tab\tnl\n": 4, "": 5},
    {"s": "v", "t": 'w"\\'},
    {"n": float("nan"), "i": float("inf"), "m": float("-inf"),
     "z": -0.0, "e": 1e-300, "p": 0.1},
]


def _create_map(d):
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def _same(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isnan(a) and math.isnan(b))


@pytest.mark.parametrize("d", CASES, ids=range(len(CASES)))
def test_literal_map_matches_create_map(spark, d):
    want = spark.range(1).select(_create_map(d).alias("m"))
    got = spark.range(1).select(literal_map(d).alias("m"))
    assert (got.schema["m"].dataType.simpleString()
            == want.schema["m"].dataType.simpleString())
    w, g = want.first().m, got.first().m
    assert list(g) == list(w)                     # same keys, same order
    assert all(_same(g[k], w[k]) for k in w)
    assert all(math.copysign(1, g[k]) == math.copysign(1, w[k])
               for k in w if isinstance(w[k], float) and w[k] == 0)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan and "map_from_arrays" not in plan


def test_literal_map_lookup_and_mixed_types_fail_loudly(spark):
    m = literal_map({f"w{i}": i for i in range(1000)})
    row = spark.range(1).select(m["w999"].alias("hit"),
                                m["nope"].alias("miss")).first()
    assert (row.hit, row.miss) == (999, None)
    with pytest.raises(TypeError):
        literal_map({"a": "x", "b": 1})
    with pytest.raises(TypeError):
        literal_map({"a": None})
    with pytest.raises(TypeError):
        literal_map({"t": True})
