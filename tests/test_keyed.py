"""streaming/keyed.py::per_key, the batch per-key runner, on hand-made
rows: the per-key sort, one body call per key and the empty frame a key
that emits nothing returns."""

from __future__ import annotations

from flink_1_6_0_spark.streaming.keyed import per_key, schema_names


def test_per_key_sorts_stably_and_calls_each_key_once(spark):
    # (k, a, b, i): ties on (a, b) keep their input order
    rows = [
        (1, 2, "x", 1),
        (1, 1, "y", 2),
        (1, 1, "z", 3),
        (1, 1, "y", 4),
        (1, 2, "x", 5),
        (2, 7, "q", 6),
    ]
    # one input partition: the rows reach each key's group in this order
    df = spark.createDataFrame(rows, "k long, a long, b string, i long").coalesce(1)

    def body(key, pdf):
        return [(key[0], [int(i) for i in pdf["i"]])]

    out = per_key(df, ["k"], ["a", ("b", False)], body, "k long, ids array<long>")
    got = sorted((r.k, r.ids) for r in out.collect())
    # one row per body call: each key's body ran exactly once
    assert got == [(1, [3, 2, 4, 1, 5]), (2, [6])]


def test_per_key_empty_result_takes_the_schema_names(spark):
    """A parameterized type keeps its top-level name: a key that emits
    nothing returns an empty frame named (k, s), which Spark accepts."""
    assert schema_names("k long, s struct<a:int,b:int>") == ["k", "s"]
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    out = per_key(df, ["k"], ["v"], lambda key, pdf: [], "k long, s struct<a:int,b:int>")
    assert out.columns == ["k", "s"]
    assert out.collect() == []
