"""Randomized cross-validation: N seeded random (schema, documents) pairs,
engine verdicts + (error_type, path) multisets vs the driver-side oracle
(tests/oracle_validator.py — clean-room reference semantics).

Documents for each schema run batched in ONE Spark job (one compile).
Generator avoids the documented engine deviations: no embedded newlines in
pattern-checked strings, no ints beyond 2^60, no 1-vs-1.0 collisions inside
uniqueItems arrays, nesting within the unroll bound.
"""

from __future__ import annotations

import json
import random
import re
from collections import Counter

import pytest

from json_schema_spark.engine import ValidationEngine, compile_schema
from tests.oracle_validator import OracleValidator

KEYS = ["alpha", "beta", "gamma", "delta"]
STRINGS = ["", "a", "foo", "barbaz", "hello-world", "XYZ", "abc123", "foo bar"]
PATTERNS = ["^foo", "bar$", "^[a-z]+$", "[0-9]", "^abc"]
ENUM_POOL = ["foo", "bar", 1, 2, 3.5, True, False, None, "baz"]


def rand_scalar(rng: random.Random):
    kind = rng.randrange(6)
    if kind == 0:
        return rng.choice(STRINGS)
    if kind == 1:
        return rng.randint(-50, 50)
    if kind == 2:
        return round(rng.uniform(-20, 20), 3)
    if kind == 3:
        return rng.choice([True, False])
    if kind == 4:
        return None
    return rng.choice(STRINGS)


def rand_value(rng: random.Random, depth: int = 0):
    if depth >= 2 or rng.random() < 0.5:
        return rand_scalar(rng)
    if rng.random() < 0.5:
        return [rand_value(rng, depth + 1) for _ in range(rng.randrange(4))]
    return {rng.choice(KEYS): rand_value(rng, depth + 1)
            for _ in range(rng.randrange(4))}


def rand_schema(rng: random.Random, depth: int = 0) -> dict:
    s: dict = {}
    picks = rng.sample([
        "type", "enum", "minmax", "length", "pattern", "items_bounds",
        "required", "properties", "multipleOf", "unique", "combinator",
        "not", "props_bounds", "additional",
    ], k=rng.randrange(1, 4))
    if "type" in picks:
        s["type"] = rng.sample(
            ["string", "integer", "number", "boolean", "null", "array", "object"],
            k=rng.randrange(1, 3))
    if "enum" in picks:
        s["enum"] = rng.sample(ENUM_POOL, k=rng.randrange(1, 4))
    if "minmax" in picks:
        s["minimum"] = rng.randint(-10, 5)
        s["maximum"] = s["minimum"] + rng.randint(0, 20)
        if rng.random() < 0.3:
            s["exclusiveMinimum"] = True
        if rng.random() < 0.3:
            s["exclusiveMaximum"] = True
    if "length" in picks:
        s["minLength"] = rng.randrange(3)
        s["maxLength"] = s["minLength"] + rng.randrange(6)
    if "pattern" in picks:
        s["pattern"] = rng.choice(PATTERNS)
    if "items_bounds" in picks:
        s["minItems"] = rng.randrange(3)
        s["maxItems"] = s["minItems"] + rng.randrange(4)
    if "unique" in picks:
        s["uniqueItems"] = True
    if "required" in picks:
        s["required"] = rng.sample(KEYS, k=rng.randrange(1, 3))
    if "multipleOf" in picks:
        s["multipleOf"] = rng.choice([1, 2, 3, 0.5])
    if "props_bounds" in picks:
        s["minProperties"] = rng.randrange(2)
        s["maxProperties"] = s["minProperties"] + rng.randrange(4)
    if depth < 1:
        if "properties" in picks:
            s["properties"] = {k: rand_schema(rng, depth + 1)
                               for k in rng.sample(KEYS, k=rng.randrange(1, 3))}
        if "combinator" in picks:
            comb = rng.choice(["allOf", "anyOf", "oneOf"])
            s[comb] = [rand_schema(rng, depth + 1) for _ in range(rng.randrange(1, 3))]
        if "not" in picks:
            s["not"] = rand_schema(rng, depth + 1)
        if "additional" in picks:
            s["additionalProperties"] = rng.choice(
                [False, rand_schema(rng, depth + 1)])
        if rng.random() < 0.3:
            s["items"] = rand_schema(rng, depth + 1)
    return s


N_SCHEMAS = 25
DOCS_PER_SCHEMA = 24


@pytest.mark.parametrize("seed", range(N_SCHEMAS))
def test_engine_matches_oracle(spark, seed):
    rng = random.Random(1000 + seed)
    schema_dict = rand_schema(rng)
    node = compile_schema(schema_dict)
    oracle = OracleValidator(node)

    docs = [rand_value(rng) for _ in range(DOCS_PER_SCHEMA)]
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], "i int, doc string")
    engine = ValidationEngine(spark)
    res = engine.validate_json(df, "doc", node, id_cols=["i"])
    rows = {r["i"]: r for r in res.annotated.select("i", "is_valid", "violations").collect()}

    for i, doc in enumerate(docs):
        want_valid, want_errors = oracle.validate(doc)
        row = rows[i]
        got_errors = sorted((e["error_type"], e["path"]) for e in (row["violations"] or []))
        assert row["is_valid"] == want_valid, (
            f"seed={seed} doc={doc!r} schema={schema_dict!r} "
            f"engine={got_errors} oracle={sorted(want_errors)}")
        assert got_errors == sorted(want_errors), (
            f"seed={seed} doc={doc!r} schema={schema_dict!r}")


NESTED = {
    "required": ["m"],
    "properties": {"m": {
        "type": ["object"], "required": ["n"],
        "properties": {"n": {
            "type": ["object"], "required": ["x", "y"],
            "properties": {
                "x": {"type": ["number"], "minimum": 0, "maximum": 100,
                      "multipleOf": 5},
                "y": {"type": ["string"], "maxLength": 3},
            }}}}},
}
NESTED_DOCS = [
    {"m": {"n": {"x": 10, "y": "ab"}}},
    {"m": {"n": {"x": 7, "y": "abcd"}}},
    {"m": {"n": {"x": -5}}},
    {"m": {"n": {"x": 105.0, "y": 3}}},
    {"m": {"n": {"x": "5", "y": None}}},
    {"m": {"n": "str"}},
    {"m": {}},
    {"m": 4},
    {},
    5,
]
# the accessors VariantValue shares: type tag, object-map / array casts and
# property lookup, over the root column (__doc) or a pre-projected one
# (__jss_*); lambda variables carry no leading underscores
ACCESSOR = re.compile(
    r"schema_of_variant\(__\w+\)"
    r"|try_variant_get\(__\w+, '\$', '(?:map<string,variant>|array<variant>)'\)"
    r"|element_at\(__\w+, '[^']*'\)")


def test_nested_variant_accessors_emitted_once(spark, monkeypatch):
    """Below the root's children, every lambda-free accessor is still
    emitted once (as a pre-projection) rather than re-derived at each use,
    and the verdicts stay those of the oracle."""
    compiled = []
    cached = ValidationEngine._cached_compile

    def spy(self, *args):
        out = cached(self, *args)
        compiled.append(out)
        return out

    monkeypatch.setattr(ValidationEngine, "_cached_compile", spy)
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(NESTED_DOCS)], "i int, doc string")
    res = ValidationEngine(spark).validate_json(df, "doc", NESTED, id_cols=["i"])
    rows = {r["i"]: r for r in res.annotated.select("i", "is_valid", "violations").collect()}

    parts, preprojections = compiled[0]
    texts = [t for p in parts for t in (p.valid, p.errors)] + [sql for _, sql in preprojections]
    uses = Counter(m for t in texts for m in ACCESSOR.findall(t))
    assert uses and all(k == 1 for k in uses.values()), uses.most_common(3)

    oracle = OracleValidator(compile_schema(NESTED))
    for i, doc in enumerate(NESTED_DOCS):
        want_valid, want_errors = oracle.validate(doc)
        got = sorted((e["error_type"], e["path"]) for e in (rows[i]["violations"] or []))
        assert (rows[i]["is_valid"], got) == (want_valid, sorted(want_errors)), doc
