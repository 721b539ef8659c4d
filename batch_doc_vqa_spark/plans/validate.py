"""Field-schema validation ladder (X6 completion + P6 corrections log).

The reference validates structured extraction payloads against Draft 2020-12
JSON Schemas with a strict→retry→coerce ladder: validation errors are
collected per field path (/root/reference/src/batch_doc_vqa/openrouter/
extraction_adapter.py:52-67), failed payloads are either rejected outright or
coerced with a ``_schema_corrections`` list recorded on the row
(openrouter/inference.py:2028-2034). The ta-benchmark preset pins the subset
that actually appears in its schemas: field type, regex pattern, required
(ta_benchmark/schema.py).

Engine form: a rule = (field, type, pattern, required, enum, minimum,
maximum, max_length, required_keys). All checks are pure column predicates
(zero Python on the path):

- ``strict=True``  ⇒ any violating field fails the whole row: ``valid=false``
  with ``first_violation`` naming the field+rule, raw values preserved for
  the quarantine/lineage sink (X6 fail-row branch).
- ``strict=False`` ⇒ violating fields are nulled (or type-coerced via
  try_cast when only the declared type was violated) and every correction is
  appended to a ``corrections`` array column — the engine's
  ``_schema_corrections`` log; the row stays ``valid=true``.

Violation precedence per field is fixed by the ladder (jsonschema leaves
sibling-keyword ordering undefined; pinning one makes the corrections log
deterministic): required (missing) → type → enum → minimum → maximum →
maxLength → pattern → format → required.<key> (one level of nested-object
required-ness) → nested.<path> (multi-level, recursive) → anyOf → oneOf →
allOf.<i> → not → then/else (if-then-else) → items → minItems → maxItems;
first match wins.

Draft 2020-12 coverage stance after round 6: type/pattern/required/enum/
bounds/maxLength/min-maxItems/format/nested/anyOf/oneOf/allOf/not/
if-then-else/items are all expressed as pure column predicates. ``$ref`` is
consciously out of scope: rules are Python values, so schema reuse is plain
object sharing (bind a FieldRule once, reference it from several rules) —
a resolver would add indirection without new validation semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Draft 2020-12 `format` validators, as anchored regexes (the assertion
# subset a column engine can express; semantic checks like leap-day
# validity are out of scope — same stance as most JSON Schema validators'
# default format-assertion mode). Pinned here so the Spark predicate and
# any SQL oracle share one definition.
FORMAT_PATTERNS = {
    "date": r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])$",
    "date-time": (
        r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
        r"[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
    ),
    "time": r"^\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})?$",
    "email": r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$",
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ipv4": r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$",
}


@dataclass(frozen=True)
class FieldRule:
    """One flat-object schema property — the Draft 2020-12 subset the
    reference's runtime exercises (openrouter/inference.py:154-162 validates
    arbitrary user schemas; the preset schemas pin type/pattern/required,
    and enum / bounds / maxLength / nested required appear in user schemas).

    - ``enum``: allowed values, compared on the trimmed raw string (the
      transport layer is all-string; declare dtype for numeric enums).
    - ``minimum`` / ``maximum``: inclusive numeric bounds, checked on the
      value cast to ``dtype`` (only meaningful for numeric dtypes; an
      uncastable value is a 'type' violation first).
    - ``max_length``: maximum string length of the raw value.
    - ``required_keys``: one level of nested-object required-ness — the
      field holds a JSON object string and each listed key must be present
      and non-null (``get_json_object``); a malformed object reports its
      first listed key as missing.
    - ``min_items`` / ``max_items``: JSON-array cardinality bounds
      (``json_array_length``). A non-array value (including malformed JSON)
      has no length and reports ``minItems`` when ``min_items`` is set.
      SQL-oracle note: DuckDB's json_array_length returns 0 for non-array
      JSON where Spark returns NULL — guard with
      ``json_type(x) = 'ARRAY'`` on the SQL side.
    - ``nested``: multi-level object validation — (dotted JSON path,
      sub-rule) pairs; the sub-rule's full ladder runs on the value
      ``get_json_object`` extracts at ``$.<path>`` (recursive rule expansion
      to column paths). Violation label ``<path>.<sub-rule>``; a missing
      intermediate object reports the leaf rule (the extracted value is
      NULL → the sub-rule's ``required``/``minItems`` fires).
    - ``any_of`` / ``one_of``: Draft 2020-12 composition — branch rules run
      on THIS field's raw value (their ``field`` name is ignored). ``anyOf``
      violates when every branch violates; ``oneOf`` when the number of
      passing branches ≠ 1. Branches compose the full ladder recursively
      (a branch may itself carry ``nested``/``any_of``).
    """

    field: str
    dtype: str = "string"  # Spark cast target: 'string' | 'bigint' | 'double' | ...
    pattern: str | None = None  # anchored Java regex, checked on the raw string
    required: bool = False
    enum: tuple[str, ...] | None = None
    minimum: float | None = None
    maximum: float | None = None
    max_length: int | None = None
    required_keys: tuple[str, ...] = ()
    min_items: int | None = None
    max_items: int | None = None
    nested: tuple = ()  # ((dotted_path, FieldRule), ...)
    any_of: tuple = ()  # (FieldRule, ...) — ≥1 branch must pass
    one_of: tuple = ()  # (FieldRule, ...) — exactly 1 branch must pass
    format: str | None = None  # Draft `format` assertion, see FORMAT_PATTERNS
    all_of: tuple = ()  # (FieldRule, ...) — EVERY branch must pass
    not_: object = None  # FieldRule — violates when the branch PASSES
    if_then_else: tuple = ()  # (if_rule, then_rule[, else_rule])
    items: object = None  # FieldRule applied to EVERY element of a JSON array

    def __post_init__(self) -> None:
        # rules are hashable cache keys (_violation): sequence fields given
        # as lists (e.g. from a JSON schema) become tuples
        for name in ("enum", "required_keys", "any_of", "one_of", "all_of", "if_then_else"):
            v = getattr(self, name)
            if v is not None:
                object.__setattr__(self, name, tuple(v))
        object.__setattr__(self, "nested", tuple(tuple(pair) for pair in self.nested))


# Unresolved-expression memo: a rule's violation Column is a pure function
# of the (frozen, hashable) FieldRule — building it costs thousands of py4j
# round trips for a deep ladder (~1.5 s per validate call measured at 16
# rules), and Column objects are immutable expression TEMPLATES that resolve
# per-query, so reusing one across calls caches no data and no plan state.
_VIOLATION_CACHE: dict[FieldRule, Column] = {}


def _violation(rule: FieldRule) -> Column:
    col = _VIOLATION_CACHE.get(rule)
    if col is None:
        col = _violation_on(F.col(rule.field), rule)
        _VIOLATION_CACHE[rule] = col
    return col


def _violation_on(raw: Column, rule: FieldRule) -> Column:
    """First violated sub-rule for this value, or NULL when conformant.
    ``raw`` is the value under test — the field column at top level, a
    ``get_json_object`` extraction for ``nested`` paths, the same field
    column for ``any_of``/``one_of`` branches."""
    blank = raw.isNull() | (F.trim(raw.cast("string")) == "")
    checks: list[tuple[Column, str]] = []
    if rule.required:
        checks.append((blank, "required"))
    if rule.dtype != "string":
        checks.append((~blank & raw.try_cast(rule.dtype).isNull(), "type"))
    if rule.enum is not None:
        checks.append(
            (~blank & ~F.trim(raw.cast("string")).isin(*rule.enum), "enum")
        )
    num = raw.try_cast(rule.dtype if rule.dtype != "string" else "double")
    if rule.minimum is not None:
        checks.append((~blank & num.isNotNull() & (num < F.lit(rule.minimum)), "minimum"))
    if rule.maximum is not None:
        checks.append((~blank & num.isNotNull() & (num > F.lit(rule.maximum)), "maximum"))
    if rule.max_length is not None:
        checks.append(
            (~blank & (F.length(raw.cast("string")) > rule.max_length), "maxLength")
        )
    if rule.pattern is not None:
        checks.append((~blank & ~raw.cast("string").rlike(rule.pattern), "pattern"))
    if rule.format is not None:
        if rule.format not in FORMAT_PATTERNS:
            raise ValueError(
                f"unknown format {rule.format!r} (known: {sorted(FORMAT_PATTERNS)})"
            )
        checks.append(
            (~blank & ~raw.cast("string").rlike(FORMAT_PATTERNS[rule.format]), "format")
        )
    for key in rule.required_keys:
        checks.append(
            (
                ~blank & F.get_json_object(raw.cast("string"), f"$.{key}").isNull(),
                f"required.{key}",
            )
        )
    for path, sub in rule.nested:
        # recursive expansion to a column path: the sub-rule's whole ladder
        # runs on the extracted value; the label carries the path + which
        # sub-rule fired (a Column, not a literal)
        sub_v = _violation_on(F.get_json_object(raw.cast("string"), f"$.{path}"), sub)
        checks.append(
            (~blank & sub_v.isNotNull(), F.concat(F.lit(f"{path}."), sub_v))
        )
    if rule.any_of:
        branch_vs = [_violation_on(raw, b) for b in rule.any_of]
        all_violate = branch_vs[0].isNotNull()
        for v in branch_vs[1:]:
            all_violate = all_violate & v.isNotNull()
        checks.append((~blank & all_violate, "anyOf"))
    if rule.one_of:
        branch_vs = [_violation_on(raw, b) for b in rule.one_of]
        n_pass = branch_vs[0].isNull().cast("int")
        for v in branch_vs[1:]:
            n_pass = n_pass + v.isNull().cast("int")
        checks.append((~blank & (n_pass != 1), "oneOf"))
    if rule.all_of:
        # label carries WHICH branch failed (allOf.<i>) — the corrections
        # log stays actionable, unlike a bare 'allOf'
        for i, b in enumerate(rule.all_of):
            bv = _violation_on(raw, b)
            checks.append((~blank & bv.isNotNull(), F.concat(F.lit(f"allOf.{i}."), bv)))
    if rule.not_ is not None:
        checks.append(
            (~blank & _violation_on(raw, rule.not_).isNull(), "not")
        )
    if rule.if_then_else:
        if_r, then_r, *else_r = rule.if_then_else
        if_passes = _violation_on(raw, if_r).isNull()
        then_v = _violation_on(raw, then_r)
        checks.append(
            (~blank & if_passes & then_v.isNotNull(), F.concat(F.lit("then."), then_v))
        )
        if else_r and else_r[0] is not None:
            else_v = _violation_on(raw, else_r[0])
            checks.append(
                (~blank & ~if_passes & else_v.isNotNull(), F.concat(F.lit("else."), else_v))
            )
    if rule.items is not None:
        # every element of the JSON array must satisfy the item sub-rule.
        # from_json to array<string> keeps scalars verbatim (numbers/strings
        # re-serialize to their raw text); a non-array parses to NULL and is
        # NOT an items violation — declare min_items to reject non-arrays.
        # CLAUDE.md HOF footgun respected: the lambda takes ONE arg and the
        # whole sub-ladder is built on that arg directly.
        elems = F.from_json(raw.cast("string"), "array<string>")
        item_rule = rule.items
        checks.append(
            (
                ~blank
                & elems.isNotNull()
                & F.exists(elems, lambda e: _violation_on(e, item_rule).isNotNull()),
                "items",
            )
        )
    if rule.min_items is not None or rule.max_items is not None:
        arr_len = F.json_array_length(raw.cast("string"))
        if rule.min_items is not None:
            checks.append(
                (~blank & (arr_len.isNull() | (arr_len < rule.min_items)), "minItems")
            )
        if rule.max_items is not None:
            checks.append(
                (~blank & arr_len.isNotNull() & (arr_len > rule.max_items), "maxItems")
            )
    out = F.lit(None).cast("string")
    for cond, label in reversed(checks):
        lab = F.lit(label) if isinstance(label, str) else label
        out = F.when(cond, lab).otherwise(out)
    return out


def validate_coerce(df: DataFrame, rules: list[FieldRule], strict: bool = False) -> DataFrame:
    """Apply the schema ladder. Adds ``valid``, ``first_violation`` and (in
    lenient mode) a ``corrections`` array; field columns are replaced by their
    validated (strict) or coerced (lenient) values.

    Lenient coercion per field: 'type' violations try_cast to the declared
    type (→ NULL when uncastable — the cast itself is the coercion);
    'required'/'pattern' violations null the field. Every correction is
    logged as ``'<field>:<rule>'`` in rule order — the reference's
    ``_schema_corrections`` analogue (openrouter/inference.py:2028-2034).
    """
    tagged = df.select(
        "*", *[_violation(r).alias(f"_v_{r.field}") for r in rules]
    )
    viol = lambda r: F.col(f"_v_{r.field}")  # noqa: E731

    first = F.lit(None).cast("string")
    for r in reversed(rules):
        first = F.when(
            viol(r).isNotNull(), F.format_string(f"{r.field}:%s", viol(r))
        ).otherwise(first)

    if strict:
        out = tagged.withColumn("first_violation", first).withColumn(
            "valid", F.col("first_violation").isNull()
        )
        return out.drop(*[f"_v_{r.field}" for r in rules])

    corrections = F.array_compact(
        F.array(
            *[
                F.when(viol(r).isNotNull(), F.format_string(f"{r.field}:%s", viol(r)))
                for r in rules
            ]
        )
    )
    out = tagged
    for r in rules:
        # try_cast even on the conformant path: a blank optional numeric field
        # has no violation but would blow up an ANSI cast — it coerces to NULL
        coerced = F.when(
            viol(r).isNull() | (viol(r) == "type"), F.col(r.field).try_cast(r.dtype)
        ).otherwise(F.lit(None).cast(r.dtype))
        out = out.withColumn(r.field, coerced)
    return (
        out.withColumn("corrections", corrections)
        .withColumn("first_violation", first)
        .withColumn("valid", F.lit(True))
        .drop(*[f"_v_{r.field}" for r in rules])
    )
