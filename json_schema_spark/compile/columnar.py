"""The columnar constraint compiler: SchemaNode → Spark SQL expression text.

This is the set-at-a-time re-expression of the reference's recursive
``validate_data`` dispatcher (validator.rb:82-133). Where the reference walks
one document and appends ValidationErrors, we compile the *schema* once on
the driver into a pair of SQL expressions per node:

- ``valid``: boolean — the AND of all applicable keyword checks
- ``errors``: ``array<struct<path, error_type, schema_pointer, message,
  sub_errors>>`` — one element per violation, byte-parity messages

Keyword groups are guarded by the data's runtime JSON type exactly like the
reference dispatcher (array keywords only when the value is an array, etc.).
Against typed columns most guards constant-fold and dead groups are pruned
at compile time.

Cyclic ``$ref`` graphs are statically unrolled up to
``configuration().max_unroll_depth`` revisits per node; beyond the cut the
value validates vacuously true (the reference instead relies on finite data
depth — validator.rb:41-57; SURVEY.md §7.3).

Emitting SQL text (rather than Column objects) keeps schema compilation off
the Py4J bridge: one ``F.expr`` call per compiled schema.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Union

from ..config import configuration
from ..errors import to_list
from ..messages import ruby_inspect, ruby_regexp_inspect, ruby_to_s
from ..regex_translate import translate_regex
from ..schema import SchemaNode
from .formats import format_check_sql
from .sqlgen import and_all, concat, fn, iff, or_all, sql_str
from .values import Value

ERR_FIELDS = ("path:string,error_type:string,schema_pointer:string,"
              "message:string,sub_errors:string,data_json:string")
ERR_ARRAY_DDL = f"array<struct<{ERR_FIELDS}>>"
EMPTY_ERRORS = "null"  # errors arrays use null-as-empty; engine coalesces once at the top

BoolLike = Union[str, bool]


@dataclass
class Compiled:
    valid: str
    errors: str


TRIVIAL = Compiled("true", EMPTY_ERRORS)


def _error_struct(path: str, error_type: str, schema_pointer: str,
                  message: str, sub_errors: Optional[str] = None,
                  data_json: Optional[str] = None) -> str:
    sub = sub_errors if sub_errors is not None else "cast(null as string)"
    dj = data_json if data_json is not None else "cast(null as string)"
    return fn(
        "named_struct",
        "'path'", path,
        "'error_type'", sql_str(error_type),
        "'schema_pointer'", sql_str(schema_pointer),
        "'message'", message,
        "'sub_errors'", sub,
        "'data_json'", dj,
    )


def _fail(cond: str, path: str, error_type: str, schema_pointer: str,
          message: str, sub_errors: Optional[str] = None,
          value: Optional[Value] = None) -> Compiled:
    """A keyword check: invalid (and one error row) exactly when cond.
    ``value`` supplies the offending datum (reference error.rb:39-59
    ``error_data``), JSON-rendered into the row's data_json field."""
    data_json = value.error_data_json() if value is not None else None
    err = iff(cond,
              fn("array", _error_struct(path, error_type, schema_pointer,
                                        message, sub_errors, data_json)),
              EMPTY_ERRORS)
    return Compiled(f"(NOT coalesce({cond}, false))", err)


_gv_counter = 0


def _gv(prefix: str = "t") -> str:
    global _gv_counter
    _gv_counter += 1
    return f"{prefix}_{_gv_counter}"


def _flatten_errors(arrays_expr: str) -> str:
    """Flatten an array of (possibly null) error arrays; null-safe."""
    v = _gv("fe")
    return fn("flatten", fn("filter", arrays_expr, f"{v} -> {v} IS NOT NULL"))


def _combine(parts: List[Optional[Compiled]]) -> Compiled:
    parts = [p for p in parts if p is not None]
    if not parts:
        return TRIVIAL
    valid = and_all(p.valid for p in parts)
    err_parts = [p.errors for p in parts if p.errors != EMPTY_ERRORS]
    if not err_parts:
        errors = EMPTY_ERRORS
    elif len(err_parts) == 1:
        errors = err_parts[0]
    else:
        errors = _flatten_errors(fn("array", *err_parts))
    return Compiled(valid, errors)


def _chain_ctx(value: Value, coll: str, elem_var: str, idx_var: str):
    """Lambda-context chain for a value wrapped inside a new lambda scope:
    links back to the enclosing value's own ctx so UDF format checks can be
    hoisted across up to two lambda levels (see ColumnarCompiler._format)."""
    if not value.in_lambda:
        return (coll, elem_var, idx_var, None)
    if value.lam_ctx is not None:
        return (coll, elem_var, idx_var, value.lam_ctx)
    return None


def _coalesce_errors(errors: str) -> str:
    """The single place the full element DDL is spelled out: normalize a
    null-as-empty errors expression to a real empty array."""
    return f"coalesce({errors}, cast(array() as {ERR_ARRAY_DDL}))"


def _guard(cond: BoolLike, compiled: Optional[Compiled]) -> Optional[Compiled]:
    if compiled is None or cond is False:
        return None
    if cond is True:
        return compiled
    valid = compiled.valid if compiled.valid == "true" else iff(cond, compiled.valid, "true")
    errors = compiled.errors if compiled.errors == EMPTY_ERRORS else iff(cond, compiled.errors, EMPTY_ERRORS)
    return Compiled(valid, errors)


def _find_parent(schema: SchemaNode) -> str:
    """validator.rb:550-567 — the friendly key used in type-error messages."""
    fragment = schema.fragment
    if "patternProperties" in (fragment or ""):
        split_pointer = schema.pointer.split("/")
        if "patternProperties" in split_pointer:
            idx = split_pointer.index("patternProperties")
            if idx - 2 >= 0:
                return "/".join(split_pointer[idx - 2:idx])
    return fragment


def _plural_was_were(count_expr: str) -> str:
    return iff(f"({count_expr} = 1)", "' was'", "' were'")


class ColumnarCompiler:
    """Compiles one expanded SchemaNode graph against a root Value."""

    def __init__(self, max_unroll_depth: Optional[int] = None,
                 max_ref_depth: Optional[int] = None):
        self.max_unroll_depth = (
            max_unroll_depth if max_unroll_depth is not None
            else configuration().max_unroll_depth
        )
        self.max_ref_depth = (
            max_ref_depth if max_ref_depth is not None
            else configuration().max_ref_depth
        )
        self._var_counter = 0
        # (column_name, sql) pairs the engine must project BEFORE evaluating
        # the compiled parts, in dependency order (a column's SQL may name
        # earlier ones): shared variant accessors (hoist) and UDF-backed
        # format checks under a higher-order lambda, hoisted as
        # whole-collection array columns (Python UDFs cannot run inside a
        # lambda)
        self.preprojections: List[tuple] = []
        self._hoisted: dict = {}

    def _fresh(self, prefix: str) -> str:
        self._var_counter += 1
        return f"{prefix}_{self._var_counter}"

    def hoist(self, sql: str) -> str:
        """The name of a pre-projected column holding ``sql``; the same text
        always gets the same column. ``sql`` must be lambda-free and
        null-safe: the column is evaluated for every row."""
        name = self._hoisted.get(sql)
        if name is None:
            name = self._hoisted[sql] = f"__jss_c{len(self._hoisted)}"
            self.preprojections.append((name, sql))
        return name

    def compile(self, schema: SchemaNode, value: Value, path: str = "'#'") -> Compiled:
        return self._node(schema, value, path, ())

    def compile_parts(self, schema: SchemaNode, value: Value,
                      path: str = "'#'") -> List[Compiled]:
        """Like compile() but returns the root node's keyword parts
        *uncombined*, in reference traversal order. The engine evaluates each
        part as its own column: Catalyst analysis cost grows superlinearly
        with single-expression depth, so many shallow columns analyze far
        faster than one combined tree (measured ~10× on the test scaffold)."""
        parts = self._node_parts(schema, value, path, ())
        return [p for p in parts if p is not None] or [TRIVIAL]

    # ------------------------------------------------------------------

    def _node(self, schema: SchemaNode, value: Value, path: str,
              stack: tuple) -> Compiled:
        return _combine(self._node_parts(schema, value, path, stack))

    def _node_parts(self, schema: SchemaNode, value: Value, path: str,
                    stack: tuple) -> List[Optional[Compiled]]:
        revisits = sum(1 for s in stack if s is schema)
        if revisits >= self.max_unroll_depth:
            return [TRIVIAL]
        # cyclic graphs: dereferenced clones share children, so distinct
        # clone objects can permute along a path — bound the total number of
        # ref hops, not just per-node revisits (SURVEY.md §7.3)
        if not schema.original():
            ref_hops = sum(1 for s in stack if not s.original())
            if ref_hops >= self.max_ref_depth:
                return [TRIVIAL]
        stack = stack + (schema,)

        parts: List[Optional[Compiled]] = []

        # --- validation: any (validator.rb:90-95 order) -----------------
        if schema.all_of:
            parts.append(self._all_of(schema, value, path, stack))
        if schema.any_of:
            parts.append(self._any_of(schema, value, path, stack))
        if schema.enum is not None:
            parts.append(self._enum(schema, value, path))
        if schema.one_of:
            parts.append(self._one_of(schema, value, path, stack))
        if schema.not_ is not None:
            parts.append(self._not(schema, value, path, stack))
        if schema.type:
            parts.append(self._type(schema, value, path))

        # --- validation: array ------------------------------------------
        if value.could_be("array"):
            g = value.is_type("array")
            if schema.items is not None or schema.tuple_items is not None:
                parts.append(_guard(g, self._items(schema, value, path, stack)))
            if schema.max_items is not None:
                parts.append(_guard(g, self._max_items(schema, value, path)))
            if schema.min_items is not None:
                parts.append(_guard(g, self._min_items(schema, value, path)))
            if schema.unique_items:
                parts.append(_guard(g, self._unique_items(schema, value, path)))

        # --- validation: number ------------------------------------------
        if value.could_be("number"):
            g = value.is_type("number")
            if schema.max is not None:
                parts.append(_guard(g, self._max(schema, value, path)))
            if schema.min is not None:
                parts.append(_guard(g, self._min(schema, value, path)))
            if schema.multiple_of is not None:
                parts.append(_guard(g, self._multiple_of(schema, value, path)))

        # --- validation: object -------------------------------------------
        if value.could_be("object"):
            g = value.is_type("object")
            if schema.additional_properties is not None and schema.additional_properties is not True:
                parts.append(_guard(g, self._additional_properties(schema, value, path, stack)))
            for p in self._dependencies_parts(schema, value, path, stack):
                parts.append(_guard(g, p))
            if schema.max_properties is not None:
                parts.append(_guard(g, self._max_properties(schema, value, path)))
            if schema.min_properties is not None:
                parts.append(_guard(g, self._min_properties(schema, value, path)))
            for p in self._pattern_properties_parts(schema, value, path, stack):
                parts.append(_guard(g, p))
            for p in self._properties_parts(schema, value, path, stack):
                parts.append(_guard(g, p))
            if schema.required:
                parts.append(_guard(g, self._required(schema, value, path, schema.required)))
            if schema.strict_properties:
                parts.append(_guard(g, self._strict_properties(schema, value, path)))

        # --- validation: string --------------------------------------------
        if value.could_be("string"):
            g = value.is_type("string")
            if schema.format is not None:
                parts.append(_guard(g, self._format(schema, value, path)))
            if schema.max_length is not None:
                parts.append(_guard(g, self._max_length(schema, value, path)))
            if schema.min_length is not None:
                parts.append(_guard(g, self._min_length(schema, value, path)))
            if schema.pattern is not None:
                parts.append(_guard(g, self._pattern(schema, value, path)))

        return parts

    # --- combinators ----------------------------------------------------

    def _all_of(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        children = [self._node(s, value, path, stack) for s in schema.all_of]
        all_valid = and_all(c.valid for c in children)
        if configuration().all_of_sub_errors:
            sub = fn("to_json", fn("array", *[_coalesce_errors(c.errors) for c in children]))
            return _fail(f"(NOT {all_valid})", path, "all_of_failed", schema.pointer,
                         sql_str('Not all subschemas of "allOf" matched.'), sub,
                         value=value)
        parent = _fail(f"(NOT {all_valid})", path, "all_of_failed", schema.pointer,
                       sql_str('Not all subschemas of "allOf" matched.'),
                       value=value)
        return _combine(children + [parent])

    def _any_of(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        children = [self._node(s, value, path, stack) for s in schema.any_of]
        any_valid = or_all(c.valid for c in children)
        sub = fn("to_json", fn("array", *[_coalesce_errors(c.errors) for c in children]))
        return _fail(f"(NOT {any_valid})", path, "any_of_failed", schema.pointer,
                     sql_str('No subschema in "anyOf" matched.'), sub, value=value)

    def _one_of(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        children = [self._node(s, value, path, stack) for s in schema.one_of]
        num_valid = "(" + " + ".join(f"cast({c.valid} as int)" for c in children) + ")"
        sub = fn("to_json", fn("array", *[_coalesce_errors(c.errors) for c in children]))
        message = iff(f"({num_valid} = 0)",
                      sql_str('No subschema in "oneOf" matched.'),
                      sql_str('More than one subschema in "oneOf" matched.'))
        return _fail(f"({num_valid} <> 1)", path, "one_of_failed", schema.pointer, message, sub, value=value)

    def _not(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        child = self._node(schema.not_, value, path, stack)
        return _fail(child.valid, path, "not_failed", schema.pointer,
                     sql_str('Matched "not" subschema.'), value=value)

    def _enum(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        member = or_all(value.eq_literal(v) for v in schema.enum)
        message = concat(value.render_to_s(),
                         sql_str(f" is not a member of {ruby_inspect(schema.enum)}."))
        return _fail(f"(NOT {member})", path, "invalid_type", schema.pointer, message, value=value)

    def _type(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        matches: List[str] = []
        for t in schema.type:
            m = value.is_type(t)
            if m is True:
                return TRIVIAL
            if m is False:
                continue
            matches.append(m)
        cond = f"(NOT {or_all(matches)})" if matches else "true"
        key = _find_parent(schema)
        message = concat(sql_str(f"For '{key}', "), value.render_inspect(),
                         sql_str(f" is not {to_list(schema.type)}."))
        return _fail(cond, path, "invalid_type", schema.pointer, message, value=value)

    # --- array ------------------------------------------------------------

    def _items(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        elems = value.array_elements()
        size = fn("size", elems)

        if schema.tuple_items is None:
            # list form: every element against one subschema (validator.rb:290-297)
            x, i = self._fresh("x"), self._fresh("i")
            wrapped = value.wrap_element(x)
            wrapped.lam_ctx = _chain_ctx(value, elems, x, i)
            child = self._node(schema.items, wrapped,
                               concat(path, "'/'", f"cast({i} as string)"), stack)
            if child.valid == "true" and child.errors == EMPTY_ERRORS:
                return TRIVIAL
            errors = (EMPTY_ERRORS if child.errors == EMPTY_ERRORS else
                      _flatten_errors(fn("transform", elems, f"({x}, {i}) -> {child.errors}")))
            ok = self._fresh("ok")
            valid = ("true" if child.valid == "true" else
                     f"coalesce({fn('forall', fn('transform', elems, f'({x}, {i}) -> {child.valid}'), f'{ok} -> {ok}')}, true)")
            return Compiled(valid, errors)

        # tuple form (validator.rb:257-289)
        n = len(schema.tuple_items)
        too_few = f"({size} < {n})"
        too_few_msg = concat(
            sql_str(f"{n} item{'' if n == 1 else 's'} required; only "),
            f"cast({size} as string)",
            _plural_was_were(size),
            sql_str(" supplied."),
        )
        too_few_part = _fail(too_few, path, "min_items_failed", schema.pointer,
                             too_few_msg, value=value)

        additional = schema.additional_items
        parts: List[Optional[Compiled]] = []
        pos_guard = f"(NOT {too_few})"
        if additional is False:
            too_many = f"(({size} > {n}) AND NOT {too_few})"
            too_many_msg = concat(
                sql_str(f"No more than {n} item{' is' if n == 1 else 's are'} allowed; "),
                f"cast({size} as string)",
                iff(f"({size} > 1)", "' were'", "' was'"),
                sql_str(" supplied."),
            )
            parts.append(_fail(too_many, path, "max_items_failed", schema.pointer,
                               too_many_msg, value=value))
            # reference early-returns on the size violation (validator.rb
            # elsif branch): positional subschemas are NOT checked when the
            # array is over-long and additionalItems is false
            pos_guard = f"(NOT {too_few} AND NOT ({size} > {n}))"
        elif isinstance(additional, SchemaNode):
            x, i = self._fresh("x"), self._fresh("i")
            wrapped = value.wrap_element(x)
            wrapped.lam_ctx = _chain_ctx(value, elems, x, i)
            child = self._node(additional, wrapped,
                               concat(path, "'/'", f"cast({i} as string)"), stack)
            if not (child.valid == "true" and child.errors == EMPTY_ERRORS):
                extra_errors = (EMPTY_ERRORS if child.errors == EMPTY_ERRORS else
                                _flatten_errors(fn(
                                    "transform", elems,
                                    f"({x}, {i}) -> " + iff(f"({i} >= {n})", child.errors, EMPTY_ERRORS))))
                ok = self._fresh("ok")
                extra_valid = ("true" if child.valid == "true" else
                               f"coalesce({fn('forall', fn('transform', elems, f'({x}, {i}) -> (({i} < {n}) OR {child.valid})'), f'{ok} -> {ok}')}, true)")
                parts.append(_guard(f"(NOT {too_few})",
                                    Compiled(extra_valid, extra_errors)))

        pos_parts: List[Optional[Compiled]] = []
        for idx, sub in enumerate(schema.tuple_items):
            elem = fn("element_at", elems, str(idx + 1))
            c = self._node(sub, value.wrap_element(elem),
                           concat(path, sql_str(f"/{idx}")), stack)
            pos_parts.append(_guard(pos_guard, c))

        return _combine([too_few_part] + parts + pos_parts)

    def _max_items(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        size = fn("size", value.array_elements())
        n = schema.max_items
        message = concat(
            sql_str(f"No more than {n} item{' is' if n == 1 else 's are'} allowed; "),
            f"cast({size} as string)",
            _plural_was_were(size),
            sql_str(" supplied."),
        )
        return _fail(f"({size} > {n})", path, "max_items_failed", schema.pointer, message, value=value)

    def _min_items(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        size = fn("size", value.array_elements())
        n = schema.min_items
        message = concat(
            sql_str(f"{n} item{'' if n == 1 else 's'} required; only "),
            f"cast({size} as string)",
            _plural_was_were(size),
            sql_str(" supplied."),
        )
        return _fail(f"({size} < {n})", path, "min_items_failed", schema.pointer, message, value=value)

    def _unique_items(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        elems = value.array_elements()
        x = self._fresh("x")
        canon = fn("transform", elems, f"{x} -> {value.wrap_element(x).canonical_json()}")
        dup = f"(size({elems}) <> size(array_distinct({canon})))"
        return _fail(dup, path, "unique_items_failed", schema.pointer,
                     sql_str("Duplicate items are not allowed."), value=value)

    # --- number -------------------------------------------------------------

    def _num_compare(self, value: Value, op: str, bound) -> str:
        """Comparison text. Integral bounds compare in decimal(38,12) when the
        data is an integer — Ruby uses exact Integer arithmetic, and a double
        cast loses precision past 2^53 (e.g. 9007199254740993). True-float
        data keeps the double path (Ruby Float semantics)."""
        dbl = f"({value.as_double()} {op} {float(bound)!r})"
        if not isinstance(bound, int) or isinstance(bound, bool):
            return dbl
        dec = f"({value.as_decimal()} {op} {bound!r})"
        is_int = value.is_type("integer")
        if is_int is True:
            return dec
        if is_int is False:
            return dbl
        return iff(is_int, dec, dbl)

    def _max(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        exclusive = bool(schema.max_exclusive)
        op = "<" if exclusive else "<="
        eq = "" if exclusive else " or equal to"
        message = concat(value.render_to_s(),
                         sql_str(f" must be less than{eq} {ruby_to_s(schema.max)}."))
        return _fail(f"(NOT {self._num_compare(value, op, schema.max)})", path,
                     "max_failed", schema.pointer, message, value=value)

    def _min(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        exclusive = bool(schema.min_exclusive)
        op = ">" if exclusive else ">="
        eq = "" if exclusive else " or equal to"
        message = concat(value.render_to_s(),
                         sql_str(f" must be greater than{eq} {ruby_to_s(schema.min)}."))
        return _fail(f"(NOT {self._num_compare(value, op, schema.min)})", path,
                     "min_failed", schema.pointer, message, value=value)

    def _multiple_of(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        # Ruby Float#% is IEEE fmod with divisor-sign semantics; pmod on
        # doubles produces identical zero/non-zero verdicts for float
        # operands (SURVEY.md §7.3). Integer data against an integer divisor
        # uses exact decimal remainder instead: doubles misclassify int64
        # beyond 2^53 (9007199254740993 % 2 -> pmod 0 in double).
        m = schema.multiple_of
        rem_dbl = f"({fn('pmod', value.as_double(), repr(float(m)))} <> 0.0d)"
        if isinstance(m, int) and not isinstance(m, bool):
            rem_dec = f"({fn('pmod', value.as_decimal(), repr(m))} <> 0)"
            is_int = value.is_type("integer")
            if is_int is True:
                cond = rem_dec
            elif is_int is False:
                cond = rem_dbl
            else:
                cond = iff(is_int, rem_dec, rem_dbl)
        else:
            cond = rem_dbl
        message = concat(value.render_to_s(),
                         sql_str(f" is not a multiple of {ruby_to_s(m)}."))
        return _fail(cond, path, "multiple_of_failed", schema.pointer, message, value=value)

    # --- object ---------------------------------------------------------------

    def _key_is_extra(self, schema: SchemaNode, key: str) -> bool:
        """Compile-time version of _extra_keys_filter for statically-known
        keys (typed structs)."""
        import re

        if schema.properties and key in schema.properties:
            return False
        for pattern in (schema.pattern_properties or {}):
            try:
                if re.search(pattern, key):
                    return False
            except re.error:
                continue
        return True

    def _extra_keys_filter(self, schema: SchemaNode, key_expr: str) -> str:
        """Predicate text: key not covered by properties/patternProperties
        (validator.rb:60-70)."""
        conds = []
        prop_keys = list(schema.properties.keys()) if schema.properties else []
        if prop_keys:
            keys_list = ", ".join(sql_str(k) for k in prop_keys)
            conds.append(f"NOT ({key_expr} IN ({keys_list}))")
        for pattern in (schema.pattern_properties or {}):
            ok, java = translate_regex(pattern)
            if ok:
                conds.append(f"NOT ({key_expr} RLIKE {sql_str(java)})")
        return and_all(conds) if conds else "true"

    def _validate_extra(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        k = self._fresh("k")
        extra = fn("array_sort",
                   fn("filter", value.object_keys(),
                      f"{k} -> {self._extra_keys_filter(schema, k)}"))
        n = fn("size", extra)
        message = concat(
            "'\"'",
            fn("array_join", extra, sql_str('", "')),
            sql_str('" '),
            iff(f"({n} = 1)", "'is not a'", "'are not'"),
            sql_str(" permitted key"),
            iff(f"({n} = 1)", "'.'", "'s.'"),
        )
        return _fail(f"({n} > 0)", path, "invalid_keys", schema.pointer, message, value=value)

    def _additional_properties(self, schema: SchemaNode, value: Value, path: str, stack) -> Compiled:
        ap = schema.additional_properties
        if isinstance(ap, SchemaNode):
            ents = value.static_object_entries()
            if ents is not None:
                # typed struct: the key set is static — expand per extra
                # field, preserving each field's type
                parts = [
                    _guard(has, self._node(ap, child_val,
                                           concat(path, sql_str(f"/{key}")), stack))
                    for key, has, child_val in ents
                    if self._key_is_extra(schema, key)
                ]
                return _combine(parts) if parts else TRIVIAL
            e, ei = self._fresh("e"), self._fresh("ei")
            entries = fn("map_entries", value.object_map())
            extra = fn("filter", entries,
                       f"{e} -> {self._extra_keys_filter(schema, f'{e}.key')}")
            wrapped = value.wrap_map_value(f"{e}.value")
            wrapped.lam_ctx = _chain_ctx(value, extra, e, ei)
            child = self._node(ap, wrapped, concat(path, "'/'", f"{e}.key"), stack)
            if child.valid == "true" and child.errors == EMPTY_ERRORS:
                return TRIVIAL
            errors = (EMPTY_ERRORS if child.errors == EMPTY_ERRORS else
                      _flatten_errors(fn("transform", extra, f"({e}, {ei}) -> {child.errors}")))
            ok = self._fresh("ok")
            valid = ("true" if child.valid == "true" else
                     f"coalesce({fn('forall', fn('transform', extra, f'({e}, {ei}) -> {child.valid}'), f'{ok} -> {ok}')}, true)")
            return Compiled(valid, errors)
        if ap is False:
            return self._validate_extra(schema, value, path)
        return TRIVIAL

    def _dependencies_parts(self, schema: SchemaNode, value: Value, path: str,
                            stack) -> List[Compiled]:
        parts: List[Optional[Compiled]] = []
        for key, dep in schema.dependencies.items():
            # Ruby truthiness, not mere presence (validator.rb:205)
            has = value.truthy_property(key)
            if has is False:
                continue
            if isinstance(dep, SchemaNode):
                parts.append(_guard(has, self._node(dep, value, path, stack)))
            elif isinstance(dep, list):
                parts.append(_guard(has, self._required(schema, value, path, dep)))
        return [p for p in parts if p is not None]

    def _max_properties(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        n = schema.max_properties
        size = value.n_props() or fn("size", value.object_keys())
        message = concat(
            sql_str(f"No more than {n} propert{'y is' if n == 1 else 'ies are'} allowed; "),
            f"cast({size} as string)",
            _plural_was_were(size),
            sql_str(" supplied."),
        )
        return _fail(f"({size} > {n})", path, "max_properties_failed", schema.pointer, message, value=value)

    def _min_properties(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        n = schema.min_properties
        size = value.n_props() or fn("size", value.object_keys())
        message = concat(
            sql_str(f"At least {n} propert{'y is' if n == 1 else 'ies are'} required; "),
            f"cast({size} as string)",
            _plural_was_were(size),
            sql_str(" supplied."),
        )
        return _fail(f"({size} < {n})", path, "min_properties_failed", schema.pointer, message, value=value)

    def _pattern_properties_parts(self, schema: SchemaNode, value: Value,
                                  path: str, stack) -> List[Compiled]:
        if not schema.pattern_properties:
            return []
        ents = value.static_object_entries()
        if ents is not None:
            import re

            parts = []
            for pattern, sub in schema.pattern_properties.items():
                if not isinstance(sub, SchemaNode):
                    continue
                for key, has, child_val in ents:
                    try:
                        matched = re.search(pattern, key) is not None
                    except re.error:
                        matched = False
                    if matched:
                        parts.append(_guard(has, self._node(
                            sub, child_val, concat(path, sql_str(f"/{key}")), stack)))
            return [p for p in parts if p is not None]
        entries = fn("map_entries", value.object_map())
        parts: List[Compiled] = []
        for pattern, sub in schema.pattern_properties.items():
            ok, java = translate_regex(pattern)
            if not ok or not isinstance(sub, SchemaNode):
                continue
            e, ei = self._fresh("e"), self._fresh("ei")
            matching = fn("filter", entries, f"{e} -> ({e}.key RLIKE {sql_str(java)})")
            wrapped = value.wrap_map_value(f"{e}.value")
            wrapped.lam_ctx = _chain_ctx(value, matching, e, ei)
            child = self._node(sub, wrapped, concat(path, "'/'", f"{e}.key"), stack)
            if child.valid == "true" and child.errors == EMPTY_ERRORS:
                continue
            errors = (EMPTY_ERRORS if child.errors == EMPTY_ERRORS else
                      _flatten_errors(fn("transform", matching, f"({e}, {ei}) -> {child.errors}")))
            ok = self._fresh("ok")
            valid = ("true" if child.valid == "true" else
                     f"coalesce({fn('forall', fn('transform', matching, f'({e}, {ei}) -> {child.valid}'), f'{ok} -> {ok}')}, true)")
            parts.append(Compiled(valid, errors))
        return parts

    def _properties_parts(self, schema: SchemaNode, value: Value, path: str,
                          stack) -> List[Compiled]:
        parts: List[Optional[Compiled]] = []
        for key, sub in schema.properties.items():
            if not isinstance(sub, SchemaNode):
                continue
            has = value.has_property(key)
            if has is False:
                continue
            child = self._node(sub, value.get_property(key),
                               concat(path, sql_str(f"/{key}")), stack)
            parts.append(_guard(has, child))
        return [p for p in parts if p is not None]

    def _required(self, schema: SchemaNode, value: Value, path: str,
                  required: list) -> Compiled:
        fast = value.missing_required(required)
        if fast is not None:
            any_missing, missing = fast
            n = fn("size", missing)
            message = concat(
                "'\"'",
                fn("array_join", missing, sql_str('", "')),
                sql_str('" '),
                iff(f"({n} = 1)", sql_str("wasn't"), sql_str("weren't")),
                sql_str(" supplied."),
            )
            return _fail(any_missing, path, "required_failed", schema.pointer, message, value=value)
        lit_required = fn("array", *[sql_str(k) for k in required])
        missing = fn("array_sort", fn("array_except", lit_required, value.object_keys()))
        n = fn("size", missing)
        message = concat(
            "'\"'",
            fn("array_join", missing, sql_str('", "')),
            sql_str('" '),
            iff(f"({n} = 1)", sql_str("wasn't"), sql_str("weren't")),
            sql_str(" supplied."),
        )
        return _fail(f"({n} > 0)", path, "required_failed", schema.pointer, message, value=value)

    def _strict_properties(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        extra = self._validate_extra(schema, value, path)
        req = self._required(schema, value, path, list(schema.properties.keys()))
        return _combine([extra, req])

    # --- string -----------------------------------------------------------------

    def _format(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        allow_udf = not value.in_lambda

        def lambda_cb(udf_base: str):
            # Hoist the UDF across EVERY enclosing lambda level: rebuild
            # the nesting as transforms producing a depth-N nested
            # array<...<string>> column (inner collections coalesced to
            # array() so a null inner level — outer element not an
            # array/object — contributes an empty slot rather than
            # nulling flatten), feed it to the matching depth-N _arrN UDF
            # pre-projected OUTSIDE the lambdas, and index the boolean back
            # in with one element_at per level. No offset arithmetic, so
            # any depth works; bounded only by how many _arrN UDF variants
            # are registered (MAX_LAMBDA_HOIST_DEPTH=6 — beyond that the
            # check is vacuously true, a documented gap no real schema
            # hits). Round 2 supported two levels via flatten + offset
            # bookkeeping; the nested form subsumes it.
            from .formats import MAX_LAMBDA_HOIST_DEPTH

            if value.lam_ctx is None:
                return None
            chain = []  # innermost lambda level first
            ctx = value.lam_ctx
            while ctx is not None:
                coll, ev, iv, parent = ctx
                chain.append((coll, ev, iv))
                ctx = parent
            depth = len(chain)
            if depth > MAX_LAMBDA_HOIST_DEPTH:
                return None
            expr = value.as_string()
            for level, (coll, ev, iv) in enumerate(chain):
                # outermost collection (last in chain) is lambda-free and
                # left uncoalesced: if IT is null the enclosing lambda never
                # evaluates, so the hoisted column is never indexed
                c = coll if level == depth - 1 else fn("coalesce", coll, "array()")
                expr = fn("transform", c, f"({ev}, {iv}) -> {expr}")
            suffix = "_arr" if depth == 1 else f"_arr{depth}"
            name = self._fresh("__jss_fmt")
            self.preprojections.append((name, f"{udf_base}{suffix}({expr})"))
            rep = name
            for coll, ev, iv in reversed(chain):
                rep = f"element_at({rep}, {iv} + 1)"
            return rep

        check = format_check_sql(schema.format, value.as_string(),
                                 allow_udf=allow_udf, lambda_udf_cb=lambda_cb)
        if check is None or check == "true":
            return TRIVIAL
        message = concat(value.render_to_s(), sql_str(f" is not a valid {schema.format}."))
        return _fail(f"(NOT coalesce({check}, false))", path, "invalid_format",
                     schema.pointer, message, value=value)

    def _max_length(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        n = schema.max_length
        length = fn("length", value.as_string())
        message = concat(
            sql_str(f"Only {n} character{' is' if n == 1 else 's are'} allowed; "),
            f"cast({length} as string)",
            _plural_was_were(length),
            sql_str(" supplied."),
        )
        return _fail(f"({length} > {n})", path, "max_length_failed", schema.pointer, message, value=value)

    def _min_length(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        n = schema.min_length
        length = fn("length", value.as_string())
        message = concat(
            sql_str(f"At least {n} character{' is' if n == 1 else 's are'} required; only "),
            f"cast({length} as string)",
            _plural_was_were(length),
            sql_str(" supplied."),
        )
        return _fail(f"({length} < {n})", path, "min_length_failed", schema.pointer, message, value=value)

    def _pattern(self, schema: SchemaNode, value: Value, path: str) -> Compiled:
        ok, java = translate_regex(schema.pattern)
        if not ok:
            return TRIVIAL
        matched = f"({value.as_string()} RLIKE {sql_str(java)})"
        message = concat(value.render_to_s(),
                         sql_str(f" does not match {ruby_regexp_inspect(schema.pattern)}."))
        return _fail(f"(NOT {matched})", path, "pattern_failed", schema.pointer, message, value=value)
