"""Value accessors: a uniform interface over the two physical encodings a
JSON value can have in a DataFrame. All methods emit Spark SQL expression
*text* (see sqlgen.py) built from Catalyst built-ins only — the hot path
never crosses into Python.

- ``VariantValue``: open-shape documents stored as Spark VARIANT
  (``parse_json``). JSON type tags come from ``schema_of_variant`` per row;
  SQL NULL means *absent*, a variant-null means JSON ``null`` — exactly the
  absent-vs-null distinction the reference relies on
  (validator.rb:496-518; SURVEY.md §7.3).
- ``TypedValue``: schema-declared columns (e.g. the interleaved ``spans``
  table). JSON types resolve statically against the Spark DataType, so most
  type dispatch constant-folds at compile time and dead keyword groups are
  pruned; SQL NULL means JSON null (structs cannot represent absence —
  documented deviation).
"""

from __future__ import annotations

import json as _json
from typing import Union

from pyspark.sql import types as T

from .sqlgen import fn, iff, or_all, sql_str

BoolLike = Union[str, bool]

JSON_TYPES = ["array", "boolean", "integer", "null", "number", "object", "string"]


class Value:
    """Interface; see VariantValue / TypedValue.

    ``in_lambda``: this value is rooted at a higher-order-function lambda
    variable (Python UDFs cannot be invoked there). ``lam_ctx``: the chain of
    enclosing lambda contexts ``(collection_sql, elem_var, idx_var, parent)``
    — ``parent`` is the enclosing value's own lam_ctx (None at a lambda-free
    root) — so UDF-backed checks can be pre-projected outside the lambda,
    one or two levels deep (see ColumnarCompiler._format)."""

    expr: str
    in_lambda: bool = False
    lam_ctx = None

    def is_type(self, json_type: str) -> BoolLike:
        raise NotImplementedError

    def could_be(self, json_type: str) -> bool:
        """Static reachability: False when this value can never have the
        given JSON type (lets the compiler prune whole keyword groups)."""
        raise NotImplementedError

    def as_string(self) -> str:
        raise NotImplementedError

    def as_double(self) -> str:
        raise NotImplementedError

    def array_elements(self) -> str:
        raise NotImplementedError

    def wrap_element(self, elem_expr: str) -> "Value":
        raise NotImplementedError

    def object_map(self) -> str:
        raise NotImplementedError

    def object_keys(self) -> str:
        raise NotImplementedError

    def has_property(self, key: str) -> BoolLike:
        raise NotImplementedError

    def get_property(self, key: str) -> "Value":
        raise NotImplementedError

    def wrap_map_value(self, value_expr: str) -> "Value":
        raise NotImplementedError

    def render_to_s(self) -> str:
        raise NotImplementedError

    def render_inspect(self) -> str:
        raise NotImplementedError

    def eq_literal(self, literal) -> str:
        raise NotImplementedError

    def canonical_json(self) -> str:
        """A string rendering usable for deep-equality comparisons."""
        raise NotImplementedError

    def error_data_json(self) -> str:
        """JSON text of the offending datum for violation rows (the
        reference's error_data, error.rb:39-59)."""
        raise NotImplementedError

    def missing_required(self, required: list):
        """Optional fast path for the required check: return
        (any_missing_cond, sorted_missing_keys_array) or None to use the
        generic array_except path."""
        return None

    def truthy_property(self, key: str):
        """Ruby-truthiness of a property (dependencies fire only when the
        key's value is present and neither false nor null —
        validator.rb:205 `next true unless data[key]`)."""
        raise NotImplementedError

    def n_props(self):
        """Optional fast path for property counting; None → size(object_keys())."""
        return None

    def static_object_entries(self):
        """None, or a compile-time list of (key, has_cond, child Value) when
        the object's key set is statically known (typed struct) — lets the
        compiler expand additionalProperties/patternProperties per field,
        preserving each field's type."""
        return None


def _ruby_num_string(decimal_expr: str, is_integer: BoolLike) -> str:
    """Render a numeric value the way Ruby #to_s would: integers bare, floats
    always with a decimal point (``4.0`` not ``4``, ``0.005`` intact)."""
    s = fn("cast", f"{decimal_expr} as string")
    trimmed = fn("regexp_replace", fn("regexp_replace", s, sql_str(r"(\.\d*?)0+$"), sql_str("$1")),
                 sql_str(r"\.$"), sql_str(""))
    as_int = fn("regexp_replace", s, sql_str(r"\.0+$"), sql_str(""))
    with_point = iff(f"contains({trimmed}, '.')", trimmed, f"concat({trimmed}, '.0')")
    if is_integer is True:
        return as_int
    if is_integer is False:
        return with_point
    return iff(is_integer, as_int, with_point)


class VariantValue(Value):
    def __init__(self, expr: str, in_lambda: bool = False, lam_ctx=None,
                 hoist=None):
        # SQL scalar functions cannot be invoked on lambda variables (the
        # inlined Project loses resolution), so values rooted at a
        # higher-order-function variable inline their render bodies instead.
        self.expr = expr
        self.in_lambda = in_lambda
        self.lam_ctx = lam_ctx
        # Common-subexpression table (ColumnarCompiler.hoist; None for
        # lambda-rooted values): codegen subexpression elimination is off
        # (see engine.py), so every textual repeat of an accessor is a fresh
        # per-row evaluation. The type tag is the costly one:
        # schema_of_variant walks the whole subtree and each keyword's type
        # dispatch reads it (a "number" test 4x). The tag, the object-map
        # and array casts and each child variant are therefore pre-projected
        # once per distinct SQL text, at any depth.
        self.hoist = hoist

    def _shared(self, sql: str) -> str:
        return self.hoist(sql) if self.hoist else sql

    def _tag(self) -> str:
        return self._shared(fn("schema_of_variant", self.expr))

    def is_type(self, json_type: str) -> str:
        t = self._tag()
        if json_type == "string":
            return f"({t} = 'STRING')"
        if json_type == "boolean":
            return f"({t} = 'BOOLEAN')"
        if json_type == "null":
            return f"({t} = 'VOID')"
        if json_type == "integer":
            # JSON integers parse as BIGINT. parse_json normalizes `4.0` to
            # DECIMAL(1,0) and `to_json` re-renders it as "4", so the decimal
            # tag is the only remaining signal that the literal had a decimal
            # point — DECIMAL is therefore always "number", never "integer"
            # (Ruby: 4.0 is a Float). Integers beyond int64 (DECIMAL(>19,0))
            # misclassify as number; documented deviation.
            return f"({t} = 'BIGINT')"
        if json_type == "number":
            return (f"(({t} = 'BIGINT') OR startswith({t}, 'DECIMAL') OR ({t} = 'DOUBLE') OR ({t} = 'FLOAT'))")
        if json_type == "array":
            return f"startswith({t}, 'ARRAY')"
        if json_type == "object":
            return f"(startswith({t}, 'OBJECT') OR startswith({t}, 'STRUCT'))"
        if json_type == "any":
            return "true"
        raise ValueError(f"unknown JSON type {json_type}")

    def could_be(self, json_type: str) -> bool:
        return True

    def as_string(self) -> str:
        return fn("try_variant_get", self.expr, "'$'", "'string'")

    def as_double(self) -> str:
        return fn("try_variant_get", self.expr, "'$'", "'double'")

    def as_decimal(self) -> str:
        return fn("try_variant_get", self.expr, "'$'", "'decimal(38,12)'")

    def array_elements(self) -> str:
        return self._shared(fn("try_variant_get", self.expr, "'$'", "'array<variant>'"))

    def wrap_element(self, elem_expr: str) -> "VariantValue":
        return VariantValue(elem_expr, in_lambda=True)

    def object_map(self) -> str:
        return self._shared(fn("try_variant_get", self.expr, "'$'", "'map<string,variant>'"))

    def object_keys(self) -> str:
        return fn("map_keys", self.object_map())

    def has_property(self, key: str) -> str:
        return f"coalesce(map_contains_key({self.object_map()}, {sql_str(key)}), false)"

    def get_property(self, key: str) -> "VariantValue":
        return VariantValue(
            self._shared(fn("element_at", self.object_map(), sql_str(key))),
            in_lambda=self.in_lambda, lam_ctx=self.lam_ctx, hoist=self.hoist)

    def truthy_property(self, key: str) -> str:
        child = self.get_property(key)
        t = child._tag()
        return (f"coalesce({self.has_property(key)} AND ({t} <> 'VOID') AND "
                f"(({t} <> 'BOOLEAN') OR try_variant_get({child.expr}, '$', 'boolean')), false)")

    def wrap_map_value(self, value_expr: str) -> "VariantValue":
        return VariantValue(value_expr, in_lambda=True)

    def render_to_s(self) -> str:
        # defined once per session as a SQL scalar function (see
        # variant_sql_udf_ddl) — keeps compiled constraint text small
        if self.in_lambda:
            return self.render_to_s_body()
        return f"jss_to_s({self.expr})"

    def render_inspect(self) -> str:
        if self.in_lambda:
            return self.render_inspect_body()
        return f"jss_inspect({self.expr})"

    def render_to_s_body(self) -> str:
        t = self._tag()
        return (
            f"(CASE WHEN {t} = 'VOID' THEN ''"
            f" WHEN {t} = 'STRING' THEN {self.as_string()}"
            f" WHEN {t} = 'BOOLEAN' THEN {self.as_string()}"
            f" WHEN {t} = 'BIGINT' THEN cast({self.expr} as string)"
            f" WHEN startswith({t}, 'DECIMAL') OR {t} = 'DOUBLE' OR {t} = 'FLOAT'"
            f" THEN {_ruby_num_string(self.as_decimal(), self.is_type('integer'))}"
            f" ELSE {self.render_inspect_body()} END)"
        )

    def render_inspect_body(self) -> str:
        t = self._tag()
        composite = _rubyish_json(fn("to_json", self.expr))
        return (
            f"(CASE WHEN {t} = 'VOID' THEN 'nil'"
            f" WHEN {t} = 'STRING' THEN to_json({self.expr})"  # JSON escaping ≈ Ruby inspect
            f" WHEN {t} = 'BOOLEAN' THEN {self.as_string()}"
            f" WHEN {t} = 'BIGINT' THEN cast({self.expr} as string)"
            f" WHEN startswith({t}, 'DECIMAL') OR {t} = 'DOUBLE' OR {t} = 'FLOAT'"
            f" THEN {_ruby_num_string(self.as_decimal(), self.is_type('integer'))}"
            f" ELSE {composite} END)"
        )

    def eq_literal(self, literal) -> str:
        # Deep equality via the JSON rendering of the variant, which sorts
        # object keys and renders integral decimals bare (4.0 -> 4). The
        # literal is canonicalized the same way — recursively — so composite
        # enum members match regardless of source key order or 4-vs-4.0
        # (Ruby include? is order-insensitive deep equality).
        canon = _json.dumps(_canon_literal(literal), ensure_ascii=False,
                            separators=(",", ":"), sort_keys=True)
        return f"coalesce(to_json({self.expr}) = {sql_str(canon)}, false)"

    def error_data_json(self) -> str:
        return fn("to_json", self.expr)

    def canonical_json(self) -> str:
        # type-tagged: Ruby Array#uniq uses eql? (type-strict), so 1 and 1.0
        # must canonicalize differently; the variant tag class provides that
        t = self._tag()
        tag_class = (f"(CASE WHEN {t} = 'BIGINT' THEN 'i' "
                     f"WHEN startswith({t}, 'DECIMAL') OR {t} = 'DOUBLE' OR {t} = 'FLOAT' THEN 'f' "
                     f"WHEN {t} = 'BOOLEAN' THEN 'b' ELSE 's' END)")
        return f"concat({tag_class}, '|', to_json({self.expr}))"


def variant_sql_udf_ddl() -> list:
    """CREATE TEMPORARY FUNCTION statements for the variant rendering helpers
    (registered once per session by the engine; Spark inlines them during
    analysis, so the hot path stays pure Catalyst)."""
    v = VariantValue("v")
    return [
        "CREATE OR REPLACE TEMPORARY FUNCTION jss_inspect(v VARIANT) RETURNS STRING RETURN "
        + v.render_inspect_body(),
        "CREATE OR REPLACE TEMPORARY FUNCTION jss_to_s(v VARIANT) RETURNS STRING RETURN "
        + v.render_to_s_body(),
    ]


def _canon_literal(v):
    """Canonicalize a Python JSON literal the way ``to_json(parse_json(...))``
    renders it: integral floats become bare integers (4.0 -> 4) and object
    keys sort recursively (dict order is irrelevant to deep equality)."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
        return int(v)
    if isinstance(v, dict):
        return {k: _canon_literal(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon_literal(x) for x in v]
    return v


def _rubyish_json(json_expr: str) -> str:
    """Approximate Ruby #inspect for composite values from their JSON text:
    `{"a":1,"b":2}` → `{"a"=>1, "b"=>2}`. Exact for values whose strings
    contain no '":' or ',' sequences; documented approximation."""
    step = fn("regexp_replace", json_expr, sql_str('":'), sql_str('"=>'))
    return fn("regexp_replace", step, sql_str(r",(?=\S)"), sql_str(", "))


_NUMERIC_TYPES = (T.DoubleType, T.FloatType, T.DecimalType)
_INTEGRAL_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


class TypedValue(Value):
    def __init__(self, expr: str, dtype: T.DataType):
        self.expr = expr
        self.dtype = dtype

    def _kind(self) -> str:
        d = self.dtype
        if isinstance(d, T.StringType):
            return "string"
        if isinstance(d, T.BooleanType):
            return "boolean"
        if isinstance(d, _INTEGRAL_TYPES):
            return "integer"
        if isinstance(d, _NUMERIC_TYPES):
            return "number"
        if isinstance(d, T.ArrayType):
            return "array"
        if isinstance(d, (T.StructType, T.MapType)):
            return "object"
        if isinstance(d, (T.DateType, T.TimestampType)):
            return "string"
        raise TypeError(f"unsupported column type for validation: {d}")

    def is_type(self, json_type: str) -> BoolLike:
        kind = self._kind()
        if json_type == "any":
            return True
        if json_type == "null":
            return f"({self.expr} IS NULL)"
        if json_type == kind or (json_type == "number" and kind == "integer"):
            return f"({self.expr} IS NOT NULL)"
        return False

    def could_be(self, json_type: str) -> bool:
        return self.is_type(json_type) is not False

    def as_string(self) -> str:
        if isinstance(self.dtype, T.StringType):
            return self.expr
        return fn("cast", f"{self.expr} as string")

    def as_double(self) -> str:
        return fn("cast", f"{self.expr} as double")

    def as_decimal(self) -> str:
        return fn("cast", f"{self.expr} as decimal(38,12)")

    def array_elements(self) -> str:
        return self.expr

    def _child(self, expr: str, dtype: T.DataType, in_lambda=None) -> "TypedValue":
        child = TypedValue(expr, dtype)
        child.in_lambda = self.in_lambda if in_lambda is None else in_lambda
        child.lam_ctx = self.lam_ctx
        return child

    def wrap_element(self, elem_expr: str) -> "TypedValue":
        assert isinstance(self.dtype, T.ArrayType)
        child = self._child(elem_expr, self.dtype.elementType, in_lambda=True)
        # a new lambda scope: the compiler threads the chain explicitly
        # (inheriting the parent's ctx here would mis-scope the elem var)
        child.lam_ctx = None
        return child

    def object_map(self) -> str:
        if isinstance(self.dtype, T.MapType):
            return self.expr
        assert isinstance(self.dtype, T.StructType)
        # struct → entries for the fields that are present (non-null)
        entries = ", ".join(
            iff(f"({self.expr}.{_q(f.name)} IS NOT NULL)",
                fn("named_struct", "'key'", sql_str(f.name), "'value'",
                   fn("cast", f"{self.expr}.{_q(f.name)} as string")),
                "null")
            for f in self.dtype.fields
        )
        return fn("map_from_entries", fn("filter", f"array({entries})", "e -> e IS NOT NULL"))

    def object_keys(self) -> str:
        if isinstance(self.dtype, T.MapType):
            return fn("map_keys", self.expr)
        names = ", ".join(
            iff(f"({self.expr}.{_q(f.name)} IS NOT NULL)", sql_str(f.name), "null")
            for f in self.dtype.fields
        )
        return fn("filter", f"array({names})", "k -> k IS NOT NULL")

    def has_property(self, key: str) -> BoolLike:
        if isinstance(self.dtype, T.MapType):
            return f"coalesce(map_contains_key({self.expr}, {sql_str(key)}), false)"
        if key in self.dtype.fieldNames():
            return f"({self.expr}.{_q(key)} IS NOT NULL)"
        return False

    def get_property(self, key: str) -> "Value":
        if isinstance(self.dtype, T.MapType):
            return self._child(fn("element_at", self.expr, sql_str(key)),
                               self.dtype.valueType)
        if key in self.dtype.fieldNames():
            ftype = {f.name: f.dataType for f in self.dtype.fields}[key]
            return self._child(f"{self.expr}.{_q(key)}", ftype)
        return self._child("cast(null as string)", T.StringType())

    def truthy_property(self, key: str):
        has = self.has_property(key)
        if has is False:
            return False
        child = self.get_property(key)
        if isinstance(child.dtype, T.BooleanType):
            return f"coalesce({child.expr}, false)"
        return has

    def wrap_map_value(self, value_expr: str) -> "Value":
        if not isinstance(self.dtype, T.MapType):
            raise TypeError(
                "wrap_map_value over a non-map typed value: struct-typed "
                "objects take the static_object_entries path")
        child = self._child(value_expr, self.dtype.valueType, in_lambda=True)
        child.lam_ctx = None
        return child

    def static_object_entries(self):
        if not isinstance(self.dtype, T.StructType):
            return None
        return [
            (f.name,
             f"({self.expr}.{_q(f.name)} IS NOT NULL)",
             self._child(f"{self.expr}.{_q(f.name)}", f.dataType))
            for f in self.dtype.fields
        ]

    def missing_required(self, required: list):
        """Struct fast path: 'required' over a typed struct is a chain of
        IS NULL checks — no per-row array allocation on the hot path (the
        sorted missing-key array is only built inside the failure branch)."""
        if not isinstance(self.dtype, T.StructType):
            return None
        present = set(self.dtype.fieldNames())
        conds = []
        elems = []
        for k in sorted(required):
            miss = "true" if k not in present else f"({self.expr}.{_q(k)} IS NULL)"
            conds.append(miss)
            elems.append(iff(miss, sql_str(k), "null"))
        any_missing = "(" + " OR ".join(conds) + ")"
        missing_arr = fn("filter", f"array({', '.join(elems)})", "mk -> mk IS NOT NULL")
        return any_missing, missing_arr

    def n_props(self):
        if not isinstance(self.dtype, T.StructType):
            return None
        terms = " + ".join(
            f"cast(({self.expr}.{_q(f.name)} IS NOT NULL) as int)"
            for f in self.dtype.fields
        )
        return f"({terms})"

    def render_to_s(self) -> str:
        kind = self._kind()
        if kind == "number":
            return iff(f"({self.expr} IS NULL)", "''",
                       _ruby_num_string(self.as_decimal(), False))
        return f"coalesce(cast({self.expr} as string), '')"

    def render_inspect(self) -> str:
        kind = self._kind()
        if kind == "string":
            j = fn("to_json", f"named_struct('v', {self.expr})")
            return iff(f"({self.expr} IS NULL)", "'nil'",
                       f"substring({j}, 6, length({j}) - 6)")
        if kind == "number":
            return iff(f"({self.expr} IS NULL)", "'nil'",
                       _ruby_num_string(self.as_decimal(), False))
        return iff(f"({self.expr} IS NULL)", "'nil'", fn("cast", f"{self.expr} as string"))

    def eq_literal(self, literal) -> str:
        kind = self._kind()
        if literal is None:
            return f"({self.expr} IS NULL)"
        if isinstance(literal, bool):
            if kind != "boolean":
                return "false"
            return f"coalesce({self.expr} = {str(literal).lower()}, false)"
        if isinstance(literal, (int, float)):
            if kind not in ("integer", "number"):
                return "false"
            return f"coalesce({self.expr} = {literal!r}, false)"
        if isinstance(literal, str):
            if kind != "string":
                return "false"
            return f"coalesce({self.expr} = {sql_str(literal)}, false)"
        return f"coalesce(to_json({self.expr}) = {sql_str(_json.dumps(literal, separators=(',', ':')))}, false)"

    def canonical_json(self) -> str:
        if self._kind() in ("array", "object"):
            return fn("to_json", self.expr)
        return fn("cast", f"{self.expr} as string")

    def error_data_json(self) -> str:
        kind = self._kind()
        if kind in ("array", "object"):
            return fn("to_json", self.expr)
        if kind == "string":
            # JSON-escape via a throwaway struct: to_json requires a
            # composite input
            j = fn("to_json", f"named_struct('v', {self.expr})")
            return iff(f"({self.expr} IS NULL)", "cast(null as string)",
                       f"substring({j}, 6, length({j}) - 6)")
        return fn("cast", f"{self.expr} as string")


def _q(name: str) -> str:
    """Quote a field name for SQL dotted access."""
    return f"`{name}`" if not name.isidentifier() else name
