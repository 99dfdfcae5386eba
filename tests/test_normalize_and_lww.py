from __future__ import annotations

import json

from pyspark.sql import functions as F

from activedata_etl_spark.functions.normalize import (
    lang_from_path,
    nullify_empty_strings,
    typed_encode_udf,
)
from activedata_etl_spark.journal import journal_df
from activedata_etl_spark.operators.lww import (
    lww_reduce,
    lww_reduce_salted,
    lww_reduce_structmax,
)


def test_lang_from_path(spark):
    df = spark.createDataFrame(
        [("a/b.py",), ("x/y.CPP",), ("noext",), ("weird.zzz",), ("m/d.yml",)],
        "path string",
    )
    got = [r[0] for r in df.select(lang_from_path(F.col("path"))).collect()]
    assert got == ["python", "cpp", None, None, "yaml"]


def test_nullify_empty_strings(spark):
    df = spark.createDataFrame([("", "x", 1)], "a string, b string, c int")
    row = nullify_empty_strings(df).first()
    assert row["a"] is None and row["b"] == "x" and row["c"] == 1


def test_typed_encode_golden(spark):
    """Golden cases per vendor/mo_json/typed_encoder.py semantics."""
    docs = [
        json.dumps({"b": True, "n": 3, "s": "hi"}),
        json.dumps({"outer.dot": {"z": 1, "a": "x"}}),
        json.dumps({"arr": [1, "two"]}),
        json.dumps({"empty": ""}),
        None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "js string")
    got = [r[0] for r in df.select(typed_encode_udf("js")).collect()]
    assert json.loads(got[0]) == {
        "~e~": 1, "b": {"~b~": True}, "n": {"~n~": 3}, "s": {"~s~": "hi"}
    }
    assert json.loads(got[1]) == {
        "~e~": 1,
        "outer,dot": {"~e~": 1, "a": {"~s~": "x"}, "z": {"~n~": 1}},
    }
    assert json.loads(got[2]) == {
        "~e~": 1, "arr": {"~e~": 2, "~N~": [{"~n~": 1}, {"~s~": "two"}]}
    }
    # empty string is missing -> property omitted
    assert json.loads(got[3]) == {"~e~": 1}
    assert got[4] is None


def test_typed_encode_list_shapes(spark):
    """Reference list semantics (typed_encoder.py:259-301): empty array ->
    {"~e~":0}; single-element container array unwraps (NO NEED TO NEST);
    same-type primitive multivalue stays a bare list under its sigil."""
    docs = [
        json.dumps({"a": []}),
        json.dumps({"a": [{"z": 1}]}),
        json.dumps({"a": [1, 2, 3]}),
        json.dumps({"a": [5]}),
    ]
    df = spark.createDataFrame([(d,) for d in docs], "js string")
    got = [json.loads(r[0]) for r in df.select(typed_encode_udf("js")).collect()]
    assert got[0] == {"~e~": 1, "a": {"~e~": 0}}
    assert got[1] == {"~e~": 1, "a": {"~e~": 1, "z": {"~n~": 1}}}  # unwrapped
    assert got[2] == {"~e~": 1, "a": {"~n~": [1, 2, 3]}}          # multivalue
    assert got[3] == {"~e~": 1, "a": {"~n~": 5}}


def test_typed_encode_prefer_nested_promotion(spark):
    """PREFER NESTED, WHEN SEEN BEFORE (typed_encoder.py:184-193): a column
    with array history promotes single objects to one-element nested arrays
    (~e~ carries the raw key count); columns without history are untouched."""
    from activedata_etl_spark.functions.normalize import typed_encode_stateful

    docs = [
        (1, json.dumps({"a": [{"z": 1}, {"z": 2}], "b": {"y": 9}})),
        (2, json.dumps({"a": {"z": 3}, "b": {"y": 8, "w": 7}})),
        (3, json.dumps({"a": [{"z": 4}]})),
    ]
    df = spark.createDataFrame(docs, "id long, js string")
    out = typed_encode_stateful(df, "js").orderBy("id")
    got = [json.loads(r["typed"]) for r in out.collect()]
    # row 1: real array -> nested as usual
    assert got[0]["a"] == {"~e~": 2, "~N~": [{"~e~": 1, "z": {"~n~": 1}},
                                             {"~e~": 1, "z": {"~n~": 2}}]}
    # row 2: single dict at a column WITH array history -> PROMOTED
    assert got[1]["a"] == {"~e~": 1, "~N~": [{"~e~": 1, "z": {"~n~": 3}}]}
    # ...while column b (no array history anywhere) stays a plain object
    assert got[1]["b"] == {"~e~": 1, "y": {"~n~": 8}, "w": {"~n~": 7}}
    # row 3: single-element array at a column WITH history -> stays nested
    # (the stateless encoder would have unwrapped it)
    assert got[2]["a"] == {"~e~": 1, "~N~": [{"~e~": 1, "z": {"~n~": 4}}]}


def test_typed_encode_stateful_root_level_array_history(spark):
    """Array history at the DOCUMENT ROOT (path ()) must survive the path
    serialization round-trip: a root-level scalar object in a dataset that
    also contains root-level arrays gets the promoted nested shape."""
    from activedata_etl_spark.functions.normalize import typed_encode_stateful

    docs = [
        (1, json.dumps([{"z": 1}, {"z": 2}])),
        (2, json.dumps({"z": 3})),
    ]
    df = spark.createDataFrame(docs, "id long, js string")
    got = [json.loads(r["typed"])
           for r in typed_encode_stateful(df, "js").orderBy("id").collect()]
    assert got[0] == {"~e~": 2, "~N~": [{"~e~": 1, "z": {"~n~": 1}},
                                        {"~e~": 1, "z": {"~n~": 2}}]}
    # the single root object is PROMOTED because the column has root-array
    # history
    assert got[1] == {"~e~": 1, "~N~": [{"~e~": 1, "z": {"~n~": 3}}]}


def test_typed_decode_new_shapes(spark):
    from activedata_etl_spark.functions.normalize import typed_decode_udf

    docs = [
        json.dumps({"a": []}, separators=(",", ":")),
        json.dumps({"a": [1, 2, 3]}, separators=(",", ":")),
    ]
    df = spark.createDataFrame([(d,) for d in docs], "js string")
    enc = df.select(typed_encode_udf("js").alias("t"))
    dec = [json.loads(r[0]) for r in enc.select(typed_decode_udf("t")).collect()]
    assert dec[0] == {"a": []}
    assert dec[1] == {"a": [1, 2, 3]}


def test_lww_strategies_agree(spark):
    j = journal_df(spark, 2048)
    a = lww_reduce_structmax(j).orderBy("repo", "path").toPandas()
    b = lww_reduce(j).orderBy("repo", "path").toPandas()
    c = lww_reduce_salted(j, salt_buckets=8).orderBy("repo", "path").toPandas()
    import pandas as pd

    cols = sorted(a.columns)
    pd.testing.assert_frame_equal(a[cols], b[cols].reset_index(drop=True))
    pd.testing.assert_frame_equal(a[cols], c[cols].reset_index(drop=True))


def test_lww_strategies_agree_on_null_keys(spark):
    """Null-key rows must survive EVERY strategy identically: the join-back
    strategies use a null-safe winner join (a plain equi-join would drop the
    null-key group that groupBy keeps, silently diverging from structmax)."""
    rows = [
        (None, "a.py", 1, 0, "v1"),
        (None, "a.py", 2, 1, "v2"),       # winner of the null-repo key
        ("r", None, 3, 2, "w1"),
        ("r", None, 4, 3, "w2"),          # winner of the null-path key
        ("r", "b.py", 5, 4, "x1"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit_seq long, offset long, v string"
    )
    kw = dict(keys=["repo", "path"], version_cols=["commit_seq", "offset"])
    want = {(r["repo"], r["path"]): r["v"]
            for r in lww_reduce_structmax(df, **kw).collect()}
    assert want == {(None, "a.py"): "v2", ("r", None): "w2", ("r", "b.py"): "x1"}
    for fn in (lww_reduce,
               lambda d, **k: lww_reduce_salted(d, salt_buckets=4, **k)):
        got = {(r["repo"], r["path"]): r["v"] for r in fn(df, **kw).collect()}
        assert got == want, fn


def test_lww_partitioning_invariance(spark):
    j = journal_df(spark, 1024)
    a = lww_reduce(j.repartition(17)).orderBy("repo", "path").toPandas()
    b = lww_reduce(j.coalesce(1)).orderBy("repo", "path").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_typed_decode_roundtrip(spark):
    """decode(encode(x)) == x for JSON without missing-value leaves
    (untype_path/untyped, vendor/mo_json/typed_encoder.py:36-117)."""
    from activedata_etl_spark.functions.normalize import typed_decode_udf

    docs = [
        json.dumps({"b": True, "n": 3, "s": "hi"}, sort_keys=True,
                   separators=(",", ":")),
        json.dumps({"outer.dot": {"a": "x", "z": 1}}, sort_keys=True,
                   separators=(",", ":")),
        json.dumps({"arr": [1, "two"]}, sort_keys=True, separators=(",", ":")),
        None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "js string")
    got = [
        r[0]
        for r in df.select(typed_decode_udf(typed_encode_udf("js"))).collect()
    ]
    assert got[:3] == docs[:3]
    assert got[3] is None


def test_lww_structmax_agrees_and_is_deterministic(spark):
    from activedata_etl_spark.operators.lww import lww_reduce, lww_reduce_structmax

    j = journal_df(spark, 2048)
    a = lww_reduce(j).orderBy("repo", "path").toPandas()
    b = lww_reduce_structmax(j).orderBy("repo", "path").toPandas()
    import pandas as pd

    cols = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[cols].reset_index(drop=True), b[cols].reset_index(drop=True)
    )

    # version TIE with different payloads: structmax breaks deterministically
    # by payload ordering (largest payload struct wins), any partitioning
    rows = [("r", "p", 1, 1, "ins", "AAA"), ("r", "p", 1, 1, "ins", "ZZZ")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit_seq long, offset long, op string, content string"
    )
    for parts in (1, 3):
        got = lww_reduce_structmax(df.repartition(parts)).collect()
        assert len(got) == 1 and got[0]["content"] == "ZZZ"
