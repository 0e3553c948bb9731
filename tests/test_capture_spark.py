"""DataFrame-level capture/flatten operator tests (Spark required)."""

import pytest
from pyspark.sql import functions as F, types as T

from embulk_util_json_spark.functions.json_values import ParseOptions
from embulk_util_json_spark.operators.capture import (
    capture_json_tuple,
    capture_typed,
    extract_parity,
    pruned_schema,
)
from embulk_util_json_spark.operators.flatten import (
    flatten_typed,
    pointer_to_json_path,
    root_typed,
)
from embulk_util_json_spark.plans.capture_spec import CaptureSpec, Strategy

READ1 = '{"foo":12,"bar":[true,false],"baz":null,"qux":{"hoge":"fuga"}}'


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(1, READ1), (2, '{"foo":12,"bar":true}'), (3, "not json"), (4, None)],
        "id long, doc string",
    )


def test_extract_parity_capture_matrix(spark, docs_df):
    spec = CaptureSpec.compile(
        ["/", "/baz", "/bar", "/qux/hoge"], ["whole", "baz", "bar", "hoge"]
    )
    out = extract_parity(docs_df, "doc", spec).orderBy("id", "_doc_seq")
    rows = out.collect()
    assert [f.name for f in out.schema.fields] == [
        "id", "_doc_seq", "whole", "baz", "bar", "hoge", "_error",
    ]
    r1 = rows[0]
    assert (r1.whole, r1.baz, r1.bar, r1.hoge) == (READ1, "null", "[true,false]", '"fuga"')
    r2 = rows[1]
    assert (r2.whole, r2.baz, r2.bar, r2.hoge) == ('{"foo":12,"bar":true}', None, "true", None)
    r3 = rows[2]  # quarantined
    assert r3._error is not None and r3.whole is None
    assert len(rows) == 3  # NULL input row vanished


def test_extract_parity_concatenated_and_flatten(spark):
    df = spark.createDataFrame(
        [(1, '{"a":1}{"a":2}'), (2, '[{"a":3},{"a":4}]'), (3, '{"a":5}')],
        "id long, doc string",
    )
    spec = CaptureSpec.compile(["/a"], ["a"])
    # concatenated docs split, no flatten: row 2's array is one doc (no /a match)
    out = extract_parity(df, "doc", spec).orderBy("id", "_doc_seq").collect()
    assert [(r.id, r._doc_seq, r.a) for r in out] == [
        (1, 0, "1"), (1, 1, "2"), (2, 0, None), (3, 0, "5"),
    ]
    # flatten depth 1: arrays explode, non-arrays dropped
    out2 = extract_parity(df, "doc", spec, flatten_depth=1).orderBy("id", "_doc_seq").collect()
    assert [(r.id, r.a) for r in out2] == [(2, "3"), (2, "4")]


def test_extract_parity_root_multiple_matches(spark):
    df = spark.createDataFrame([(1, '{"f":{"x":1},"f":{"x":2}}')], "id long, doc string")
    spec = CaptureSpec.compile(["/x"], ["x"])
    out = extract_parity(df, "doc", spec, root="/f").orderBy("_doc_seq").collect()
    assert [r.x for r in out] == ["1", "2"]


def test_extract_parity_root_then_flatten(spark):
    # TestJsonValueParser.java:147-156
    df = spark.createDataFrame(
        [(1, '{"f":[{"a":{"b":1}},{"a":{"b":2}}]}')], "id long, doc string"
    )
    spec = CaptureSpec.compile(["/a/b"], ["ab"])
    out = extract_parity(df, "doc", spec, root="/f", flatten_depth=1).orderBy("_doc_seq").collect()
    assert [r.ab for r in out] == ["1", "2"]


def test_extract_parity_fail_policy(spark, docs_df):
    spec = CaptureSpec.compile(["/foo"], ["foo"])
    with pytest.raises(Exception):
        extract_parity(docs_df, "doc", spec, errors="fail").collect()
    out = extract_parity(docs_df, "doc", spec, errors="skip").collect()
    assert all(r._error is None for r in out)


@pytest.mark.parametrize("errors", ["quarantine", "fail", "skip"])
def test_extract_parity_lone_surrogate_is_malformed(spark, errors):
    """A captured string holding an escaped lone surrogate — in a value
    or in an object key of a captured subtree — has no UTF-8 form for
    Arrow, so its document is malformed under every ``errors`` mode;
    the good row of the same batch is untouched."""
    df = spark.createDataFrame(
        [(1, '{"a":"ok"}'), (2, '{"a":"\\ud800"}'), (3, '{"a":{"\\udc00":1}}')],
        "id long, doc string",
    ).coalesce(1)  # one Arrow batch
    out = extract_parity(df, "doc", CaptureSpec.compile(["/a"], ["a"]), errors=errors)
    if errors == "fail":
        with pytest.raises(Exception, match="lone surrogate"):
            out.collect()
        return
    rows = sorted(out.collect(), key=lambda r: r.id)
    if errors == "skip":
        assert [(r.id, r.a, r._error) for r in rows] == [(1, '"ok"', None)]
        return
    assert [(r.id, r._doc_seq, r.a) for r in rows] == [
        (1, 0, '"ok"'), (2, -1, None), (3, -1, None),
    ]
    assert "lone surrogate \\ud800" in rows[1]._error
    assert "lone surrogate \\udc00" in rows[2]._error


def test_extract_parity_literals_option(spark):
    df = spark.createDataFrame([(1, '{"n":12345e3}')], "id long, doc string")
    spec = CaptureSpec.compile(["/n"], ["n"], options=ParseOptions(with_literals=True))
    assert extract_parity(df, "doc", spec).collect()[0].n == "12345e3"
    spec2 = CaptureSpec.compile(["/n"], ["n"])
    assert extract_parity(df, "doc", spec2).collect()[0].n == "12345000.0"


def test_extract_parity_passthrough_fidelity(spark):
    # Passthrough columns are gathered by source row, never converted
    # through Python values: every output row carries exactly its own
    # input row's values, under a non-UTC session time zone too.
    import datetime as dt
    from decimal import Decimal

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("dec", T.DecimalType(20, 4)),
        T.StructField("bin", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField("st", T.StructType([
            T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType()),
        ])),
        T.StructField("nul", T.NullType()),
        T.StructField("doc", T.StringType()),
    ])

    def doc(i):
        if i % 10 == 0:  # doubled cell: two documents
            return f'{{"r":{{"v":{i}}}}}{{"r":{{"v":{-i}}}}}'
        if i % 7 == 0:  # root multi-match: two documents
            return f'{{"r":{{"v":{i}}},"r":{{"v":{i + 1}}}}}'
        if i % 11 == 0:  # root miss: no document
            return '{"x":1}'
        if i % 13 == 0:  # malformed: one quarantine row
            return '{"r":'
        return None if i % 17 == 0 else f'{{"r":{{"v":{i}}}}}'

    base = dt.datetime(2021, 3, 14, 1, 30)  # LA DST starts at 02:00 that day
    rows = [
        (
            i,
            None if i % 9 == 0 else base + dt.timedelta(minutes=17 * i, days=-40000 * (i % 3 == 0)),
            None if i % 8 == 0 else dt.date(1900, 1, 1) + dt.timedelta(days=331 * i),
            None if i % 6 == 0 else Decimal(f"{(-1) ** i * i * 12345678901234}.{i % 10000:04d}"),
            None if i % 5 == 0 else bytes([i % 256, 0, 255]) * (i % 4),
            None if i % 4 == 0 else [i, None, -i][: i % 4],
            None if i % 3 == 1 else (i, None if i % 2 else f"s{i}"),
            None,
            doc(i),
        )
        for i in range(1, 121)
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)
    spec = CaptureSpec.compile(["/v"], ["v"])
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        want = {r.id: r for r in df.collect()}
        out = extract_parity(df, "doc", spec, root="/r", keep_doc=True)
        assert out.schema.fields[: len(schema.fields)] == schema.fields
        got = out.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    names = schema.names
    for r in got:
        assert tuple(r[n] for n in names) == tuple(want[r.id][n] for n in names)
    per_id: dict[int, list] = {}
    for r in got:
        per_id.setdefault(r.id, []).append((r._doc_seq, r.v, r._error is None))
    expected: dict[int, list] = {}
    for i in range(1, 121):
        if i % 10 == 0:
            expected[i] = [(0, str(i), True), (1, str(-i), True)]
        elif i % 7 == 0:
            expected[i] = [(0, str(i), True), (1, str(i + 1), True)]
        elif i % 13 == 0:
            expected[i] = [(-1, None, False)]
        elif i % 11 and i % 17:
            expected[i] = [(0, str(i), True)]
    assert {k: sorted(v) for k, v in per_id.items()} == expected


def test_pruned_schema_shared_prefix():
    spec = CaptureSpec.compile(["/qux/hoge", "/qux", "/bar"])
    schema = pruned_schema(spec.tree)
    assert isinstance(schema, T.StructType)
    assert set(schema.fieldNames()) == {"qux", "bar"}
    qux = schema["qux"].dataType
    assert isinstance(qux, T.StructType) and qux.fieldNames() == ["hoge"]


def test_capture_typed_tree(spark, docs_df):
    spec = CaptureSpec.compile(
        ["/foo", "/qux/hoge", "/bar", "/none"], ["foo", "hoge", "bar", "none"]
    )
    out = capture_typed(docs_df, "doc", spec, casts={"foo": "long"})
    r = out.orderBy("id").collect()[0]
    assert (r.foo, r.hoge, r.bar, r.none) == (12, "fuga", "[true,false]", None)
    # The two-step projection materializes ONE combined-schema
    # from_json shared by all K capture columns (SURVEY §4: shared-
    # prefix trie → one pass, not K re-parses — the reference's
    # JsonPointerTree design, JsonPointerTree.java:29-67). Assert a
    # single parse with the pruned multi-field schema survived
    # optimization, and that non-captured members are absent from it
    # (the skip() semantics, CapturingDirectMemberNameList.java:95-98).
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1
    for fld in ("StructField(foo", "StructField(none", "StructField(bar"):
        assert fld in plan
    assert "StructField(ignored" not in plan


def test_capture_typed_array_index(spark):
    df = spark.createDataFrame([(1, '{"a":[{"b":1},{"b":2}]}')], "id long, doc string")
    spec = CaptureSpec.compile(["/a/1/b"], ["ab"])
    assert capture_typed(df, "doc", spec, casts={"ab": "long"}).collect()[0].ab == 2


def test_capture_json_tuple_direct(spark, docs_df):
    out = capture_json_tuple(docs_df.filter("id=1"), "doc", ["foo", "qux", "none"])
    r = out.collect()[0]
    assert (r.foo, r.qux, r.none) == ("12", '{"hoge":"fuga"}', None)


def test_strategy_selection():
    assert CaptureSpec.compile([]).strategy is Strategy.ROOT
    assert CaptureSpec.compile(["name:a", "name:b"]).strategy is Strategy.DIRECT
    assert CaptureSpec.compile(["name:a", "/b"]).strategy is Strategy.TREE
    spec = CaptureSpec.compile(["name:a/b", "/c"])
    assert spec.pointers == ("/a~1b", "/c")


def test_flatten_typed_drop_semantics(spark):
    df = spark.createDataFrame(
        [(1, '[{"foo":"bar"},{"foo":"baz"}]'), (2, '{"foo":"obj"}'), (3, '[[{"foo":"deep"}]]')],
        "id long, doc string",
    )
    out1 = flatten_typed(df, "doc", 1).orderBy("id").collect()
    assert [(r.id, r.doc) for r in out1] == [
        (1, '{"foo":"bar"}'), (1, '{"foo":"baz"}'), (3, '[{"foo":"deep"}]'),
    ]
    out2 = flatten_typed(df, "doc", 2).collect()
    assert [(r.id, r.doc) for r in out2] == [(3, '{"foo":"deep"}')]


def test_root_typed(spark):
    df = spark.createDataFrame(
        [(1, '{"foo":{"bar":"baz"}}'), (2, '{"xxx":1}')], "id long, doc string"
    )
    out = root_typed(df, "doc", "/foo").collect()
    assert [(r.id, r.doc) for r in out] == [(1, '{"bar":"baz"}')]


def test_pointer_to_json_path():
    assert pointer_to_json_path("/a/1/b") == "$.a[1].b"
    assert pointer_to_json_path("/foo") == "$.foo"


def test_mixed_level_spec_requires_parity():
    # /a/1/k + /a/c: node 'a' has a decimal child and a name child —
    # no single pruned from_json schema exists (a can't be array and
    # struct at once). Shape detection must flag it; uniform specs not.
    mixed = CaptureSpec.compile(["/a/1/k", "/a/c"])
    assert mixed.has_mixed_index_name_levels()
    assert mixed.requires_parity_engine()
    uniform = CaptureSpec.compile(["/a/0", "/a/1", "/b/c"])
    assert not uniform.has_mixed_index_name_levels()
    assert not uniform.requires_parity_engine()


def test_capture_typed_auto_routes_mixed_spec(spark):
    # reference parity: strategy selection is automatic
    # (CapturingPointers.java:145-165) — the typed API must route the
    # mixed shape to the parity engine, keep the typed output contract
    # (input cols + K capture cols, scalars unquoted, JSON null ->
    # SQL NULL), and resolve '1' as BOTH object key and array index.
    df = spark.createDataFrame(
        [
            (1, '{"a":{"1":{"k":5},"c":"x"}}'),   # '1' as object member
            (2, '{"a":[{"k":7},{"k":9},{"c":0}]}'),  # '1' as array index
            (3, '{"a":{"c":null}}'),               # JSON null -> SQL NULL
        ],
        "id long, doc string",
    )
    spec = CaptureSpec.compile(["/a/1/k", "/a/c"], ["k", "c"])
    out = capture_typed(df, "doc", spec, casts={"k": "long"}).orderBy("id")
    assert out.columns == ["id", "doc", "k", "c"]
    rows = [(r.id, r.k, r.c) for r in out.collect()]
    assert rows == [(1, 5, "x"), (2, 9, None), (3, None, None)]


def test_root_typed_multi_hybrid(spark):
    from embulk_util_json_spark.operators.flatten import root_typed_multi

    df = spark.createDataFrame(
        [
            (1, '{"m":{"v":1}}'),                     # fast path, 1 match
            (2, '{"m":{"v":1},"m":{"v":2}}'),         # dup at last segment
            (3, '{"x":1}'),                           # miss -> dropped
            (4, 'not json'),                          # malformed -> dropped
            (5, '{"a":{"m":{"v":9}},"note":"\\"m\\":"}'),  # lookalike in a
            # string value: detector over-triggers, result still exact
        ],
        "id long, doc string",
    )
    out = root_typed_multi(df, "doc", "/m").orderBy("id", "doc").collect()
    assert [(r.id, r.doc) for r in out] == [
        (1, '{"v":1}'), (2, '{"v":1}'), (2, '{"v":2}'),
    ]
    # duplicate key on a PREFIX segment (/a/m with two 'a's)
    df2 = spark.createDataFrame(
        [(1, '{"a":{"m":1},"a":{"m":2}}')], "id long, doc string"
    )
    out2 = root_typed_multi(df2, "doc", "/a/m").orderBy("doc").collect()
    assert [(r.id, r.doc) for r in out2] == [(1, "1"), (1, "2")]


def test_root_typed_multi_whole_doc_root(spark):
    # '/' re-roots at the whole document — must short-circuit (the
    # detector has no segments; round-2 code raised TypeError on
    # filter(~None)), and behaves exactly like root_typed.
    from embulk_util_json_spark.operators.flatten import root_typed_multi

    df = spark.createDataFrame(
        [(1, '{"v":1}'), (2, "not json")], "id long, doc string"
    )
    out = root_typed_multi(df, "doc", "/").orderBy("id").collect()
    assert [(r.id, r.doc) for r in out] == [(1, '{"v":1}')]


def test_root_typed_multi_escaped_duplicate_key(spark):
    # a duplicate key written with JSON escapes ("m" == "m")
    # bypasses the literal textual counter; the escaped-key detector
    # must route the row to the decoded-match parity engine so BOTH
    # matches are emitted — 'never drops a match'.
    from embulk_util_json_spark.operators.flatten import root_typed_multi

    df = spark.createDataFrame(
        [
            (1, '{"\\u006d":{"v":1},"m":{"v":2}}'),  # disguised dup
            (2, '{"m":{"v":3}}'),                    # plain fast path
        ],
        "id long, doc string",
    )
    out = root_typed_multi(df, "doc", "/m").orderBy("id", "doc").collect()
    assert [(r.id, r.doc) for r in out] == [
        (1, '{"v":1}'), (1, '{"v":2}'), (2, '{"v":3}'),
    ]


def test_capture_typed_parity_fallback_literals(spark):
    # option-driven fallback (NaN/Infinity literals force the parity
    # engine): the typed unwrap must pass non-numeric literals through
    # verbatim — the JVM re-parse would re-quote them — and still map
    # JSON null to SQL NULL and unquote plain scalars.
    from embulk_util_json_spark.functions.json_values import ParseOptions

    opts = ParseOptions(with_literals=True)
    df = spark.createDataFrame(
        [
            (1, '{"x": NaN, "y": 1}'),
            (2, '{"x": -Infinity, "y": "s"}'),
            (3, '{"x": null, "y": 2.5}'),
        ],
        "id long, doc string",
    )
    spec = CaptureSpec.compile(["/x", "/y"], ["x", "y"], options=opts)
    assert spec.requires_parity_engine()
    out = capture_typed(df, "doc", spec).orderBy("id").collect()
    assert [(r.id, r.x, r.y) for r in out] == [
        (1, "NaN", "1"), (2, "-Infinity", "s"), (3, None, "2.5"),
    ]
