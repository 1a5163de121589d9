"""Module entry points (reference: test/json_schema_test.rb) and error
formatting (test/json_schema/error_test.rb)."""

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

import json_schema_spark as jss
from json_schema_spark.errors import to_list
from tests.data_scaffold import schema_sample


def test_parse_happy():
    schema, errors = jss.parse(schema_sample())
    assert errors == []
    assert schema.title == "Example API"


def test_parse_error_returns_none():
    bad = schema_sample()
    bad["type"] = 4
    schema, errors = jss.parse(bad)
    assert schema is None
    assert errors


def test_parse_bang_raises():
    bad = schema_sample()
    bad["type"] = 4
    with pytest.raises(jss.AggregateError):
        jss.parse_bang(bad)


def test_configure():
    jss.configure(lambda c: c.register_format("x", lambda d: True))
    assert "x" in jss.configuration().custom_formats
    jss.configuration().reset()


def test_to_list_formatting():
    # error.rb:61-84: a/an + Oxford comma rules
    assert to_list(["string"]) == "a string"
    assert to_list(["object"]) == "an object"
    assert to_list(["string", "null"]) == "a string or null"
    assert to_list(["object", "null", "string"]) == "an object, null, or string"
    assert to_list(["integer", "string"]) == "an integer or string"


def test_schema_error_str():
    schema, _ = jss.parse(schema_sample())
    from json_schema_spark.errors import SchemaError

    err = SchemaError(schema.definitions["app"], "boom.", "invalid_type")
    assert str(err) == "#/definitions/app: boom."
    assert str(SchemaError(None, "boom.", "x")) == "boom."


def test_every_top_level_name_is_referenced():
    """Each top-level def/class of the package is named somewhere besides
    its own definition: in the package, the tests, the spark entry point,
    the bench scripts or the benchmark. A name nothing mentions is dead
    code."""
    root = Path(__file__).resolve().parents[1]
    pkg = root / "json_schema_spark"
    files = [*pkg.rglob("*.py"), *(root / "tests").rglob("*.py"),
             root / "__spark_entry__.py", *root.glob("bench*.py"),
             *(root / "perfbench").rglob("*.py")]
    words = Counter(w for f in files for w in re.findall(r"\w+", f.read_text()))
    defined = Counter(
        stmt.name for f in pkg.rglob("*.py") for stmt in ast.parse(f.read_text()).body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)))
    assert sorted(n for n, k in defined.items() if words[n] <= k) == []
