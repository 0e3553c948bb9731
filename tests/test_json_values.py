"""Pure-Python engine tests — the reference parser/capture corpus
re-expressed (TestJsonValueParser, TestCapturingJsonPointerList,
TestCapturingDirectMemberNameList, TestFlattenJsonArrayFilter,
TestJsonParser)."""

import pytest

from embulk_util_json_spark.functions import json_values as jv
from embulk_util_json_spark.plans.capture_spec import CaptureSpec
from embulk_util_json_spark.plans.pointer import PointerTree

READ1 = '{"foo":12,"bar":[true,false],"baz":null,"qux":{"hoge":"fuga"}}'
READ1_CANON = '{"foo":12,"bar":[true,false],"baz":null,"qux":{"hoge":"fuga"}}'


def cap(doc_json, pointers, options=jv.DEFAULT_OPTIONS):
    spec = CaptureSpec.compile(pointers, options=options)
    value = jv.parse_single(doc_json, options)
    return jv.capture_cells_json(value, spec.tree, options.with_literals)


# ---- scalar typing (TestJsonValueParser.java:34-105, TestJsonParser.java:37-118)

def test_scalar_string():
    assert jv.encode(jv.parse_single('"foobar"')) == '"foobar"'


def test_unquoted_token_is_error():
    with pytest.raises(jv.JsonParseError):
        jv.parse_single("foobar")


def test_empty_input_is_error():
    # JsonParser.java:176-178
    with pytest.raises(jv.JsonParseError):
        jv.parse_single("")


def test_plain_int_is_long():
    v = jv.parse_single("12345")
    assert isinstance(v, int) and not isinstance(v, float)
    assert jv.encode(v) == "12345"


def test_int_with_exponent_is_double():
    # TestJsonValueParser.java:58-72
    assert jv.encode(jv.parse_single("12345e3")) == "12345000.0"
    assert jv.encode(jv.parse_single("123e2")) == "12300.0"


def test_float():
    assert jv.encode(jv.parse_single("12345.12")) == "12345.12"
    assert jv.encode(jv.parse_single("1.234512E4")) == "12345.12"


def test_nan_and_infinity_accepted_by_default():
    # JsonValueParser.java:221-226 (ALLOW_NON_NUMERIC_NUMBERS default)
    assert jv.encode(jv.parse_single("NaN")) == "NaN"
    assert jv.encode(jv.parse_single("Infinity")) == "Infinity"


def test_non_numeric_rejected_when_disabled():
    opts = jv.ParseOptions(allow_non_numeric_numbers=False)
    with pytest.raises(jv.JsonParseError):
        jv.parse_single("NaN", opts)


def test_long_overflow_errors_without_fallback():
    # InternalJsonValueReader.java:285-294
    with pytest.raises(jv.JsonParseError):
        jv.parse_single("92233720368547758080")


def test_long_overflow_uses_fallback_when_enabled():
    opts = jv.ParseOptions(fallback_enabled=True, fallback_long=-1)
    assert jv.encode(jv.parse_single("92233720368547758080", opts)) == "-1"


def test_int64_bounds():
    # 19-digit extremes are longs; one past either end is not.
    assert jv.encode(jv.parse_single("[9223372036854775807,-9223372036854775808]")) == (
        "[9223372036854775807,-9223372036854775808]"
    )
    for literal in ("9223372036854775808", "-9223372036854775809"):
        with pytest.raises(jv.JsonParseError, match="Integer out of int64 range: " + literal):
            jv.parse_single(literal)


def test_int_past_python_digit_limit_is_a_parse_error():
    # int() refuses literals past 4,300 digits with ValueError; the
    # range check must still report a recoverable JsonParseError.
    literal = "1" * 5000
    with pytest.raises(jv.JsonParseError, match="Integer out of int64 range"):
        jv.parse_single(f'{{"a":{literal}}}')
    opts = jv.ParseOptions(fallback_enabled=True, fallback_long=-1)
    assert jv.encode(jv.parse_single(f"[{literal}]", opts)) == "[-1]"


def test_fallback_replaces_nested_out_of_range_ints():
    opts = jv.ParseOptions(fallback_enabled=True, fallback_long=7)
    v = jv.parse_single('{"a":[-9223372036854775809,1],"b":{"c":99999999999999999999}}', opts)
    assert jv.encode(v) == '{"a":[7,1],"b":{"c":7}}'
    # In-range ints and floats never take the fallback.
    assert jv.encode(jv.parse_single("[9223372036854775807,1e400]", opts)) == (
        "[9223372036854775807,Infinity]"
    )


def test_literals_keep_in_range_int_text():
    opts = jv.ParseOptions(with_literals=True)
    v = jv.parse_single('{"a":-0,"b":9223372036854775807}', opts)
    assert isinstance(v[0][1], jv.LiteralInt)
    assert jv.encode(v, with_literals=True) == '{"a":-0,"b":9223372036854775807}'
    assert jv.encode(v) == '{"a":0,"b":9223372036854775807}'
    fb = jv.ParseOptions(with_literals=True, fallback_enabled=True, fallback_long=-1)
    assert jv.encode(jv.parse_single("[99999999999999999999]", fb), with_literals=True) == "[-1]"


def test_syntax_error_takes_precedence_over_int_range():
    # The range check runs inside the decoder, but a later syntax error
    # in the same document is still the one reported.
    with pytest.raises(jv.JsonParseError) as ex:
        jv.parse_single('{"c":99999999999999999999,"d":}')
    assert str(ex.value) == "Invalid JSON at offset 30: Expecting value"
    opts = jv.ParseOptions(allow_non_numeric_numbers=False)
    with pytest.raises(jv.JsonParseError) as ex:
        jv.parse_single('{"c":99999999999999999999,"d":NaN}', opts)
    assert str(ex.value) == "Non-numeric number literal not allowed: NaN"
    with pytest.raises(jv.JsonParseError) as ex:
        jv.parse_single('{"c":99999999999999999999,"d":1}')
    assert str(ex.value) == "Integer out of int64 range: 99999999999999999999"


def test_concatenated_documents_before_a_bad_one_are_yielded():
    docs = jv.iter_documents('{"a":1}{"a":99999999999999999999}{"a":3}')
    assert jv.encode(next(docs)) == '{"a":1}'
    with pytest.raises(jv.JsonParseError, match="out of int64 range"):
        next(docs)


def test_extract_parity_number_semantics(spark):
    from embulk_util_json_spark.operators.capture import extract_parity

    df = spark.createDataFrame(
        [
            (1, '{"a":1,"skip":{"deep":[99999999999999999999]}}'),  # uncaptured subtree
            (2, '{"a":1}{"a":-9223372036854775809}{"a":3}'),
            (3, '{"a":-9223372036854775808}'),
        ],
        "id long, doc string",
    )
    spec = CaptureSpec.compile(["/a"], ["a"])
    rows = [(r.id, r._doc_seq, r.a, r._error) for r in
            extract_parity(df, "doc", spec).orderBy("id", "_doc_seq").collect()]
    assert rows == [
        (1, -1, None, "Integer out of int64 range: 99999999999999999999"),
        (2, -1, None, "Integer out of int64 range: -9223372036854775809"),
        (2, 0, "1", None),
        (3, 0, "-9223372036854775808", None),
    ]


def test_supplemental_literals_preserved():
    # JsonValueParser.java:104-118 — original literal kept.
    opts = jv.ParseOptions(with_literals=True)
    assert jv.encode(jv.parse_single("12345e3", opts), with_literals=True) == "12345e3"
    assert jv.encode(jv.parse_single("1.234512E4", opts), with_literals=True) == "1.234512E4"
    # Without the flag the parsed value's canonical form is used.
    assert jv.encode(jv.parse_single("12345e3", opts), with_literals=False) == "12345000.0"


def test_unquoted_control_chars_allowed_by_default():
    assert jv.parse_single('"a\tb"') == "a\tb"
    with pytest.raises(jv.JsonParseError):
        jv.parse_single('"a\tb"', jv.ParseOptions(allow_unquoted_control_chars=False))


# ---- duplicate keys / ordering (InternalJsonValueReader.java:143-159)

def test_duplicate_keys_retained_in_tree_insertion_order():
    v = jv.parse_single('{"a":1,"b":2,"a":3}')
    assert jv.encode(v) == '{"a":1,"b":2,"a":3}'


def test_capture_duplicate_key_last_writer_wins():
    # TreeBasedCapturer.java:206-211
    assert cap('{"a":1,"b":2,"a":3}', ["/a"]) == ["3"]


# ---- multi-doc streams (TestJsonValueParser.java:107-113)

def test_concatenated_documents():
    docs = list(jv.iter_documents('{"a":1}{"b":2} {"c":3}'))
    assert [jv.encode(d) for d in docs] == ['{"a":1}', '{"b":2}', '{"c":3}']


def test_whitespace_only_yields_nothing():
    assert list(jv.iter_documents("  \n\t ")) == []


# ---- capture corpus (TestCapturingJsonPointerList.java)

def test_capture_read1():
    # :39-70 — "/", "/baz", "/bar", "/qux/hoge"
    assert cap(READ1, ["/", "/baz", "/bar", "/qux/hoge"]) == [
        READ1_CANON,
        "null",
        "[true,false]",
        '"fuga"',
    ]


def test_capture_no_match_is_sql_null():
    # :271-311 — /none captures nothing → SQL NULL (not "null")
    cells = cap('{"foo":12,"bar":true}', ["/foo", "/", "/bar", "/none"])
    assert cells == ["12", '{"foo":12,"bar":true}', "true", None]


def test_capture_overlapping_pointers_independent():
    # :436-463 — /qux and /qux/hoge both capture
    cells = cap(READ1, ["/qux", "/", "/baz", "/bar", "/qux/hoge"])
    assert cells == [
        '{"hoge":"fuga"}',
        READ1_CANON,
        "null",
        "[true,false]",
        '"fuga"',
    ]


def test_capture_sequence_order_preserved():
    # :313-350 — concatenated docs, one capture row per doc, in order
    spec = CaptureSpec.compile(["/foo", "/", "/bar", "/none"])
    rows = [
        jv.capture_cells_json(d, spec.tree)
        for d in jv.iter_documents('{"bar":true,"foo":12}{"foo":84,"bar":false}{"foo":123,"bar":false}')
    ]
    assert rows == [
        ["12", '{"bar":true,"foo":12}', "true", None],
        ["84", '{"foo":84,"bar":false}', "false", None],
        ["123", '{"foo":123,"bar":false}', "false", None],
    ]


def test_capture_scalars():
    # :352-390 — scalar documents; "/foo" never matches a scalar
    spec = CaptureSpec.compile(["/foo", "/"])
    docs = jv.flatten(jv.parse_single('[12,"foo",null,true]'), 1)
    rows = [jv.capture_cells_json(d, spec.tree) for d in docs]
    assert rows == [
        [None, "12"],
        [None, '"foo"'],
        [None, "null"],
        [None, "true"],
    ]


def test_capture_array_index_pointer():
    # TestJsonValueParser.java:122-127 / TreeBasedCapturer.java:115-141
    assert cap('{"a":[{"b":1},{"b":2}]}', ["/a/1/b"]) == ["2"]


def test_direct_member_names_skip_uncaptured():
    # TestCapturingDirectMemberNameList.java:36-60 — uncaptured members
    # skipped; missing name → SQL NULL; captured null → "null".
    doc = '{"foo":{"ignored":[1,2,{},"skipped"]},"bar":[true,false],"baz":null,"qux":{"hoge":"fuga"}}'
    cells = cap(doc, ["name:bar", "name:baz", "name:dummy", "name:qux"])
    assert cells == ["[true,false]", "null", None, '{"hoge":"fuga"}']


def test_mixed_member_names_and_pointers_promote():
    # CapturingPointers.java:82-95 + TestJsonValueParser.java:200-223
    cells = cap(READ1, ["name:foo", "/", "/qux"])
    assert cells == ["12", READ1_CANON, '{"hoge":"fuga"}']


def test_member_name_needing_escape_promotes_correctly():
    cells = cap('{"a/b":1,"c~d":2}', ["name:a/b", "name:c~d", "/x"])
    assert cells == ["1", "2", None]


def test_root_capture_zero_pointers():
    # CapturingPointerToRoot.java:23-42 — whole document, width 1
    spec = CaptureSpec.compile([])
    assert jv.capture_cells_json(jv.parse_single(READ1), spec.tree) == [READ1_CANON]


# ---- root re-pointing (R2) + flatten (R3/R4)

def test_repoint_single_match():
    v = jv.parse_single('{"ex":' + READ1 + "}")
    subs = jv.repoint(v, ["ex"])
    assert [jv.encode(s) for s in subs] == [READ1_CANON]


def test_repoint_nonmatching_doc_skipped():
    # TestJacksonFilter.java:35-53
    docs = list(jv.iter_documents('{"foo":{"bar":"baz"}}{"xxx":{"yyy":"zzz"}}{"foo":{"bar":"quux"}}'))
    out = [s for d in docs for s in jv.repoint(d, ["foo"])]
    assert [jv.encode(s) for s in out] == ['{"bar":"baz"}', '{"bar":"quux"}']


def test_repoint_duplicate_keys_multiple_matches():
    # multiple-match=true (JsonValueParser.java:183)
    v = jv.parse_single('{"a":1,"a":2}')
    assert [jv.encode(s) for s in jv.repoint(v, ["a"])] == ["1", "2"]


def test_repoint_array_index():
    v = jv.parse_single('{"a":[{"b":1},{"b":2}]}')
    assert [jv.encode(s) for s in jv.repoint(v, ["a", "1", "b"])] == ["2"]


def test_flatten_depth1():
    # TestFlattenJsonArrayFilter.java:31-59
    assert [jv.encode(d) for d in jv.flatten(jv.parse_single('[{"foo":"bar"}]'), 1)] == ['{"foo":"bar"}']
    assert [jv.encode(d) for d in jv.flatten(jv.parse_single('[{"foo":"bar"},{"foo":"baz"}]'), 1)] == [
        '{"foo":"bar"}',
        '{"foo":"baz"}',
    ]


def test_flatten_nested_depths():
    # :61-85 — depth 1 emits the inner array; depth 2 emits the object
    v = jv.parse_single('[[{"foo":"bar"}]]')
    assert [jv.encode(d) for d in jv.flatten(v, 1)] == ['[{"foo":"bar"}]']
    assert [jv.encode(d) for d in jv.flatten(v, 2)] == ['{"foo":"bar"}']


def test_flatten_non_array_yields_nothing():
    # :88-91
    assert jv.flatten(jv.parse_single('{"foo":"bar"}'), 1) == []


def test_root_then_flatten_composition():
    # TestJsonValueParser.java:147-156 — root applied first, then flatten
    v = jv.parse_single('{"f":[{"a":{"b":1}},{"a":{"b":2}}]}')
    docs = [d for s in jv.repoint(v, ["f"]) for d in jv.flatten(s, 1)]
    assert [jv.encode(d) for d in docs] == ['{"a":{"b":1}}', '{"a":{"b":2}}']
