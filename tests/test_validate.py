"""Schema-validation ladder (X6/P6): strict fail-row vs lenient coerce+log.

Mirrors the reference's Draft 2020-12 subset — required/type/pattern — and
its ``_schema_corrections`` log (openrouter/inference.py:2028-2034,
extraction_adapter.py:52-67).
"""

from __future__ import annotations

from batch_doc_vqa_spark.plans.validate import FieldRule, validate_coerce

RULES = [
    FieldRule("sid", "string", r"^[0-9]{4}$", required=True),
    FieldRule("score", "double"),
    FieldRule("label", "string", required=True),
]

ROWS = [
    (1, "1234", "3.5", "ok"),        # clean
    (2, "12x4", "3.5", "ok"),        # sid pattern
    (3, "1234", "oops", "ok"),       # score type
    (4, "1234", None, ""),           # label required (score null+optional: fine)
    (5, None, "bad", None),          # sid required + score type + label required
]
SCHEMA = "id long, sid string, score string, label string"


def test_lenient_nulls_fields_and_logs_corrections(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = {r["id"]: r for r in validate_coerce(df, RULES, strict=False).collect()}
    assert all(r["valid"] for r in out.values())
    r1 = out[1]
    assert (r1["sid"], r1["score"], r1["label"]) == ("1234", 3.5, "ok")
    assert r1["corrections"] == [] and r1["first_violation"] is None
    assert out[2]["sid"] is None and out[2]["corrections"] == ["sid:pattern"]
    assert out[3]["score"] is None and out[3]["corrections"] == ["score:type"]
    # null score with no violation coerces to NULL double, not an ANSI error
    assert out[4]["score"] is None and out[4]["corrections"] == ["label:required"]
    assert out[5]["corrections"] == ["sid:required", "score:type", "label:required"]
    assert out[5]["first_violation"] == "sid:required"


def test_strict_fails_rows_keeps_raw_values(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = {r["id"]: r for r in validate_coerce(df, RULES, strict=True).collect()}
    assert out[1]["valid"] and out[1]["first_violation"] is None
    assert not out[2]["valid"] and out[2]["first_violation"] == "sid:pattern"
    # raw value preserved for the quarantine sink
    assert out[2]["sid"] == "12x4" and out[3]["score"] == "oops"
    assert not out[5]["valid"] and out[5]["first_violation"] == "sid:required"
    assert "corrections" not in out[1].asDict()


def test_required_blank_vs_whitespace(spark):
    df = spark.createDataFrame([(1, "  "), (2, "x")], "id long, label string")
    rules = [FieldRule("label", "string", required=True)]
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert not out[1]["valid"] and out[2]["valid"]


EXT_RULES = [
    FieldRule("grade", enum=("A", "B", "C")),
    FieldRule("pct", "double", minimum=0.0, maximum=100.0),
    FieldRule("tag", max_length=4),
    FieldRule("obj", required_keys=("id", "ts")),
]

EXT_ROWS = [
    (1, "A", "50", "ok", '{"id": 7, "ts": "x"}'),   # clean
    (2, "Z", "50", "ok", '{"id": 7, "ts": "x"}'),   # enum
    (3, "B", "-1", "ok", '{"id": 7, "ts": "x"}'),   # minimum
    (4, "B", "101", "ok", '{"id": 7, "ts": "x"}'),  # maximum
    (5, "C", "0", "toolong", '{"id": 7, "ts": "x"}'),  # maxLength (bounds inclusive: 0 ok)
    (6, "C", "100", "ok", '{"id": 7}'),             # nested required.ts (100 inclusive: ok)
    (7, "A", "50", "ok", "{broken"),                # malformed obj → required.id
    (8, "A", "abc", "ok", '{"id": 7, "ts": "x"}'),  # type beats bounds
]
EXT_SCHEMA = "id long, grade string, pct string, tag string, obj string"


def test_extended_ladder_lenient(spark):
    """Draft 2020-12 extension (VERDICT r3 #4): enum, numeric bounds,
    maxLength, one level of nested required-ness — lenient tier."""
    df = spark.createDataFrame(EXT_ROWS, EXT_SCHEMA)
    out = {r["id"]: r for r in validate_coerce(df, EXT_RULES, strict=False).collect()}
    assert out[1]["corrections"] == [] and out[1]["pct"] == 50.0
    assert out[2]["grade"] is None and out[2]["corrections"] == ["grade:enum"]
    assert out[3]["pct"] is None and out[3]["corrections"] == ["pct:minimum"]
    assert out[4]["pct"] is None and out[4]["corrections"] == ["pct:maximum"]
    assert out[5]["tag"] is None and out[5]["corrections"] == ["tag:maxLength"]
    assert out[5]["pct"] == 0.0 and out[6]["pct"] == 100.0  # inclusive bounds
    assert out[6]["obj"] is None and out[6]["corrections"] == ["obj:required.ts"]
    assert out[7]["obj"] is None and out[7]["corrections"] == ["obj:required.id"]
    # type violation outranks bounds (ladder precedence) and try_cast coerces
    assert out[8]["corrections"] == ["pct:type"] and out[8]["pct"] is None
    assert all(r["valid"] for r in out.values())


def test_json_array_bounds(spark):
    """minItems/maxItems on JSON-array fields; non-arrays (incl. malformed
    JSON) have no length and report minItems when it is set."""
    rows = [
        (1, '["a","b"]'),        # clean
        (2, "[]"),               # minItems
        (3, '["a","b","c","d"]'),  # maxItems
        (4, '{"not":"array"}'),  # not an array → minItems
        (5, "{broken"),          # malformed → minItems
        (6, None),               # optional + blank: no violation
    ]
    rules = [FieldRule("tags", min_items=1, max_items=3)]
    df = spark.createDataFrame(rows, "id long, tags string")
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=False).collect()}
    assert out[1]["corrections"] == [] and out[1]["tags"] == '["a","b"]'
    assert out[2]["corrections"] == ["tags:minItems"] and out[2]["tags"] is None
    assert out[3]["corrections"] == ["tags:maxItems"] and out[3]["tags"] is None
    assert out[4]["corrections"] == ["tags:minItems"]
    assert out[5]["corrections"] == ["tags:minItems"]
    assert out[6]["corrections"] == [] and out[6]["tags"] is None
    strict = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert strict[3]["first_violation"] == "tags:maxItems" and strict[3]["tags"] == rows[2][1]


def test_extended_ladder_strict(spark):
    df = spark.createDataFrame(EXT_ROWS, EXT_SCHEMA)
    out = {r["id"]: r for r in validate_coerce(df, EXT_RULES, strict=True).collect()}
    assert out[1]["valid"] and out[1]["first_violation"] is None
    expected = {2: "grade:enum", 3: "pct:minimum", 4: "pct:maximum",
                5: "tag:maxLength", 6: "obj:required.ts", 7: "obj:required.id",
                8: "pct:type"}
    for i, v in expected.items():
        assert not out[i]["valid"] and out[i]["first_violation"] == v, i
        # raw values preserved for the quarantine sink
    assert out[2]["grade"] == "Z" and out[7]["obj"] == "{broken"


def test_anyof_oneof_composition(spark):
    """Draft 2020-12 anyOf/oneOf: branch ladders run on the field's raw
    value; anyOf violates when all branches do, oneOf when the passing
    count differs from one (VERDICT r4 #6)."""
    rules = [
        FieldRule("contact", any_of=(
            FieldRule("contact", pattern=r"^[a-z]+@ex\.com$"),
            FieldRule("contact", pattern=r"^[0-9]{8}$"),
        )),
        FieldRule("payload", one_of=(
            FieldRule("payload", pattern=r"^[0-9]+$"),
            FieldRule("payload", pattern=r"^[0-9]{4}$"),
        )),
    ]
    rows = [
        (1, "bob@ex.com", "123456"),   # anyOf: branch 1; oneOf: exactly first
        (2, "00112233", "1234"),       # anyOf: branch 2; oneOf: BOTH -> violate
        (3, "nope!", "abc"),           # anyOf: none -> violate; oneOf: none -> violate
        (4, None, None),               # optional blanks pass everything
    ]
    df = spark.createDataFrame(rows, "id int, contact string, payload string")
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert out[1]["valid"] and out[1]["first_violation"] is None
    assert out[2]["first_violation"] == "payload:oneOf"
    assert out[3]["first_violation"] == "contact:anyOf"
    assert out[4]["valid"]
    lenient = {r["id"]: r for r in validate_coerce(df, rules, strict=False).collect()}
    assert lenient[3]["contact"] is None  # violating field nulled
    assert lenient[3]["corrections"] == ["contact:anyOf", "payload:oneOf"]


def test_multi_level_nested_rules(spark):
    """Multi-level nesting via recursive rule expansion to JSON column
    paths: the sub-rule's full ladder runs on the extracted value and the
    label carries the path."""
    rules = [
        FieldRule("profile", nested=(
            ("user.address.city", FieldRule("city", required=True)),
            ("user.age", FieldRule("age", dtype="bigint", minimum=0)),
        )),
    ]
    rows = [
        (1, '{"user": {"address": {"city": "ny"}, "age": 30}}'),
        (2, '{"user": {"address": {}, "age": 30}}'),
        (3, '{"user": {"address": {"city": "ny"}, "age": "x"}}'),
        (4, '{"user": {"address": {"city": "ny"}, "age": -5}}'),
        (5, '{"no_user": 1}'),  # missing whole subtree -> leaf required fires
    ]
    df = spark.createDataFrame(rows, "id int, profile string")
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert out[1]["valid"]
    assert out[2]["first_violation"] == "profile:user.address.city.required"
    assert out[3]["first_violation"] == "profile:user.age.type"
    assert out[4]["first_violation"] == "profile:user.age.minimum"
    assert out[5]["first_violation"] == "profile:user.address.city.required"
    # branches can nest recursively: anyOf over two nested shapes
    shape_rules = [
        FieldRule("doc", any_of=(
            FieldRule("doc", nested=(("a.b", FieldRule("x", required=True)),)),
            FieldRule("doc", nested=(("c", FieldRule("x", dtype="bigint")),)),
        )),
    ]
    df2 = spark.createDataFrame(
        [(1, '{"a": {"b": 1}}'), (2, '{"c": 7}'), (3, '{"c": "z"}')],
        "id int, doc string",
    )
    out2 = {r["id"]: r for r in validate_coerce(df2, shape_rules, strict=True).collect()}
    assert out2[1]["valid"] and out2[2]["valid"]
    assert out2[3]["first_violation"] == "doc:anyOf"


def test_format_validators(spark):
    """Draft 2020-12 `format` assertions (date/date-time/email/uuid/ipv4):
    the anchored-regex assertion subset, pinned in FORMAT_PATTERNS so the
    Spark predicate and any SQL oracle share one definition."""
    import pytest as _pytest

    from batch_doc_vqa_spark.plans.validate import FORMAT_PATTERNS

    rules = [
        FieldRule("d", format="date"),
        FieldRule("ts", format="date-time"),
        FieldRule("mail", format="email"),
        FieldRule("uid", format="uuid"),
        FieldRule("ip", format="ipv4"),
    ]
    rows = [
        (1, "2024-03-15", "2024-03-15T10:30:00Z", "a@b.com",
         "123e4567-e89b-12d3-a456-426614174000", "192.168.0.1"),
        (2, "2024-13-01", "2024-03-15 10:30:00", "not-mail", "nope", "999.1.1.1"),
        (3, None, None, None, None, None),  # optional blanks pass
    ]
    df = spark.createDataFrame(rows, "id int, d string, ts string, mail string, uid string, ip string")
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert out[1]["valid"] and out[3]["valid"]
    assert not out[2]["valid"] and out[2]["first_violation"] == "d:format"
    lenient = {r["id"]: r for r in validate_coerce(df, rules, strict=False).collect()}
    assert lenient[2]["corrections"] == [
        "d:format", "ts:format", "mail:format", "uid:format", "ip:format"
    ]
    with _pytest.raises(ValueError):
        validate_coerce(df, [FieldRule("d", format="hostname")], strict=True)
    assert "date-time" in FORMAT_PATTERNS  # the registry is the public contract


def test_allof_not_ifthenelse_items(spark):
    """Round 6 long-tail closure: allOf (every branch, labeled with the
    failing branch index), not (violates when the branch PASSES),
    if/then/else (conditional ladder with then./else. labels), and items
    (sub-rule over every JSON-array element)."""
    rules = [
        FieldRule("code", all_of=(
            FieldRule("code", pattern=r"^[A-Z]"),
            FieldRule("code", max_length=4),
        )),
        FieldRule("alias", not_=FieldRule("alias", pattern=r"^reserved")),
        FieldRule("val", if_then_else=(
            FieldRule("val", pattern=r"^n"),          # if: starts with n
            FieldRule("val", pattern=r"^n[0-9]+$"),   # then: n<digits>
            FieldRule("val", max_length=3),           # else: short
        )),
        FieldRule("nums", items=FieldRule("nums", dtype="bigint"), min_items=1),
    ]
    rows = [
        (1, "AB12", "ok", "n42", "[1, 2, 3]"),        # all pass
        (2, "ab12", "ok", "n42", "[1]"),              # allOf branch 0 fails
        (3, "ABCDE", "ok", "n42", "[1]"),             # allOf branch 1 fails
        (4, "AB", "reserved_x", "n42", "[1]"),        # not: branch passes -> violate
        (5, "AB", "ok", "nxx", "[1]"),                # if passes, then fails
        (6, "AB", "ok", "long-value", "[1]"),         # if fails, else fails
        (7, "AB", "ok", "ok", "[1, \"x\", 3]"),       # items: non-int element
        (8, "AB", "ok", "ok", "{\"a\": 1}"),          # non-array: minItems fires
        (9, None, None, None, None),                  # optional blanks pass
    ]
    df = spark.createDataFrame(
        rows, "id int, code string, alias string, val string, nums string"
    )
    out = {r["id"]: r for r in validate_coerce(df, rules, strict=True).collect()}
    assert out[1]["valid"] and out[1]["first_violation"] is None
    assert out[2]["first_violation"] == "code:allOf.0.pattern"
    assert out[3]["first_violation"] == "code:allOf.1.maxLength"
    assert out[4]["first_violation"] == "alias:not"
    assert out[5]["first_violation"] == "val:then.pattern"
    assert out[6]["first_violation"] == "val:else.maxLength"
    assert out[7]["first_violation"] == "nums:items"
    assert out[8]["first_violation"] == "nums:minItems"
    assert out[9]["valid"]
    lenient = {r["id"]: r for r in validate_coerce(df, rules, strict=False).collect()}
    assert lenient[7]["nums"] is None
    assert lenient[7]["corrections"] == ["nums:items"]
    # no Python anywhere in the plan — the whole extended ladder is columns
    plan = validate_coerce(df, rules, strict=True)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_list_valued_rule_fields_are_normalized(spark):
    """Sequence fields given as lists (as a JSON-schema loader produces)
    become tuples, so the rule stays hashable and validates like its
    tuple-valued twin instead of raising TypeError in the violation cache."""
    listed = FieldRule(
        "doc",
        enum=["{}", '{"a": 1}', '{"a": "x"}'],
        required_keys=["a"],
        nested=[["a", FieldRule("a", dtype="bigint")]],
        any_of=[FieldRule("doc", max_length=8), FieldRule("doc", pattern=r"^\{.*$")],
        one_of=[FieldRule("doc", pattern=r"^\{.*$")],
        all_of=[FieldRule("doc", max_length=12)],
        if_then_else=[FieldRule("doc", pattern=r"^$"), FieldRule("doc", required=True)],
    )
    tupled = FieldRule(
        "doc",
        enum=("{}", '{"a": 1}', '{"a": "x"}'),
        required_keys=("a",),
        nested=(("a", FieldRule("a", dtype="bigint")),),
        any_of=(FieldRule("doc", max_length=8), FieldRule("doc", pattern=r"^\{.*$")),
        one_of=(FieldRule("doc", pattern=r"^\{.*$"),),
        all_of=(FieldRule("doc", max_length=12),),
        if_then_else=(FieldRule("doc", pattern=r"^$"), FieldRule("doc", required=True)),
    )
    assert listed == tupled and hash(listed) == hash(tupled)
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "{}"), (3, '{"a": "x"}'), (4, "zz")], "id int, doc string"
    )
    out = {r["id"]: r["first_violation"] for r in validate_coerce(df, [listed], strict=True).collect()}
    assert out == {1: None, 2: "doc:required.a", 3: "doc:a.type", 4: "doc:enum"}
