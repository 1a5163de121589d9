"""Compiled-SQL caching (round-2 VERDICT #8): the second submission of the
same schema must skip the driver-side parse→expand→emit pipeline entirely,
and any configuration change must invalidate."""

from __future__ import annotations

import pytest

from json_schema_spark import configuration
from json_schema_spark.compile.columnar import ColumnarCompiler
from json_schema_spark.engine import ValidationEngine


@pytest.fixture(autouse=True)
def reset_config(monkeypatch):
    # in-memory-cache tests must not be served by the disk cache ("" turns
    # it off); disk tests opt in with an explicit disk_cache_dir
    monkeypatch.setenv("JSS_COMPILE_CACHE_DIR", "")
    configuration().reset()
    ValidationEngine._COMPILE_CACHE.clear()
    yield
    configuration().reset()
    ValidationEngine._COMPILE_CACHE.clear()


SCHEMA = {
    "properties": {
        "name": {"type": ["string"], "minLength": 2},
        "n": {"type": ["integer"], "maximum": 10},
    },
    "required": ["name"],
}


def _docs(spark):
    return spark.createDataFrame(
        [(1, "ok", 3), (2, "x", 99)], "doc_id bigint, name string, n bigint")


def _count_compiles(monkeypatch):
    calls = {"n": 0}
    orig = ColumnarCompiler.compile_parts

    def counted(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(ColumnarCompiler, "compile_parts", counted)
    return calls


def test_second_compile_is_cached(spark, monkeypatch):
    calls = _count_compiles(monkeypatch)
    eng = ValidationEngine(spark)
    r1 = eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1
    r2 = eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1, "same schema+table shape must hit the cache"
    # cached text must still produce correct results
    assert {(r.doc_id, r.is_valid) for r in
            r2.annotated.select("doc_id", "is_valid").collect()} == \
        {(1, True), (2, False)}
    # a second engine instance shares the cache (it is keyed on text, not
    # the session)
    eng2 = ValidationEngine(spark)
    eng2.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1


def test_schema_or_shape_change_misses(spark, monkeypatch):
    calls = _count_compiles(monkeypatch)
    eng = ValidationEngine(spark)
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    other = {**SCHEMA, "maxProperties": 5}
    eng.validate_typed(_docs(spark), other, id_cols=["doc_id"])
    assert calls["n"] == 2
    base = _docs(spark)
    wider = base.withColumn("extra", base.n * 2)
    eng.validate_typed(wider, SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 3, "different table shape must not reuse pruned text"


def test_config_change_invalidates(spark, monkeypatch):
    calls = _count_compiles(monkeypatch)
    eng = ValidationEngine(spark)
    schema = {"properties": {"name": {"format": "shouty"}}}
    configuration().register_format("shouty", lambda s: s.isupper())
    eng = ValidationEngine(spark)  # re-register UDFs for the new format
    eng.validate_typed(_docs(spark), schema, id_cols=["doc_id"])
    n_before = calls["n"]
    configuration().register_format("shouty", lambda s: s.islower())
    eng = ValidationEngine(spark)
    r = eng.validate_typed(_docs(spark), schema, id_cols=["doc_id"])
    assert calls["n"] == n_before + 1, "config version change must recompile"
    assert {(row.doc_id, row.is_valid) for row in
            r.annotated.select("doc_id", "is_valid").collect()} == \
        {(1, True), (2, True)}


def test_variant_mode_cached(spark, monkeypatch):
    calls = _count_compiles(monkeypatch)
    eng = ValidationEngine(spark)
    df = spark.createDataFrame(
        [(1, '{"name": "ok"}'), (2, '{"name": 7}')], "doc_id bigint, j string")
    r1 = eng.validate_json(df, "j", SCHEMA, id_cols=["doc_id"])
    r2 = eng.validate_json(df, "j", SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1
    assert {(r.doc_id, r.is_valid) for r in
            r2.annotated.select("doc_id", "is_valid").collect()} == \
        {(1, True), (2, False)}


def test_disk_cache_survives_memory_clear(spark, monkeypatch, tmp_path):
    """r4 VERDICT #4: compile once, clear the in-memory cache (a new
    driver process), and the disk cache must serve the artifacts with
    ZERO recompiles — and they must still validate correctly."""
    calls = _count_compiles(monkeypatch)
    ckdir = str(tmp_path / "compile_cache")
    eng = ValidationEngine(spark, disk_cache_dir=ckdir)
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1
    import os
    assert os.listdir(ckdir), "compile was not written through to disk"

    ValidationEngine._COMPILE_CACHE.clear()  # simulate a fresh spark-submit
    eng2 = ValidationEngine(spark, disk_cache_dir=ckdir)
    r = eng2.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"])
    assert calls["n"] == 1, "disk cache miss: schema was recompiled"
    assert {(row.doc_id, row.is_valid) for row in
            r.annotated.select("doc_id", "is_valid").collect()} == \
        {(1, True), (2, False)}


def test_disk_cache_roundtrips_variant_child_specs(spark, monkeypatch, tmp_path):
    """The variant path caches (parts, preprojections); the JSON
    round-trip must restore both — a nested object subschema forces
    pre-projected accessors two levels deep, each naming earlier ones."""
    calls = _count_compiles(monkeypatch)
    nested = {"properties": {
        "meta": {"properties": {"a": {"type": ["integer"]},
                                "b": {"type": ["string"]}},
                 "required": ["a", "b"]}}}
    df = spark.createDataFrame(
        [(1, '{"meta": {"a": 1, "b": "x"}}'), (2, '{"meta": {"a": "no"}}')],
        "doc_id bigint, j string")
    ckdir = str(tmp_path / "compile_cache_v")
    eng = ValidationEngine(spark, disk_cache_dir=ckdir)
    eng.validate_json(df, "j", nested, id_cols=["doc_id"])
    assert calls["n"] == 1
    ValidationEngine._COMPILE_CACHE.clear()
    eng2 = ValidationEngine(spark, disk_cache_dir=ckdir)
    r = eng2.validate_json(df, "j", nested, id_cols=["doc_id"])
    assert calls["n"] == 1
    assert {(row.doc_id, row.is_valid) for row in
            r.annotated.select("doc_id", "is_valid").collect()} == \
        {(1, True), (2, False)}


def test_disk_cache_disabled_for_custom_column_builders(spark, monkeypatch, tmp_path):
    """A custom format COLUMN BUILDER shapes the emitted SQL through a
    callable the key cannot capture — the disk cache must refuse (two
    sessions registering different builders under one name would
    otherwise share text)."""
    calls = _count_compiles(monkeypatch)
    schema = {"properties": {"name": {"format": "colfmt"}}}
    configuration().register_format(
        "colfmt", lambda s: True,
        column_builder=lambda expr: f"(length({expr}) > 0)")
    ckdir = str(tmp_path / "compile_cache_cb")
    eng = ValidationEngine(spark, disk_cache_dir=ckdir)
    eng.validate_typed(_docs(spark), schema, id_cols=["doc_id"])
    assert calls["n"] == 1
    import os
    assert not os.path.exists(ckdir) or not os.listdir(ckdir), \
        "column-builder config must not write the disk cache"
    ValidationEngine._COMPILE_CACHE.clear()
    eng2 = ValidationEngine(spark, disk_cache_dir=ckdir)
    eng2.validate_typed(_docs(spark), schema, id_cols=["doc_id"])
    assert calls["n"] == 2, "must recompile: nothing cacheable on disk"


def test_empty_store_still_caches_nonempty_defeats(spark, monkeypatch):
    """The CLI always passes a DocumentStore; an EMPTY one is inert and
    must not defeat caching (it silently disabled the cache for every CLI
    run). A store with registered schemas CAN change expansion without
    changing the key — it must keep skipping the cache."""
    from json_schema_spark.document_store import DocumentStore
    from json_schema_spark.parser import Parser

    calls = _count_compiles(monkeypatch)
    eng = ValidationEngine(spark)
    empty = DocumentStore()
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"], store=empty)
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"], store=empty)
    assert calls["n"] == 1, "empty store must not defeat the compile cache"

    filled = DocumentStore()
    filled.add_schema(Parser().parse_bang(
        {"id": "http://example.com/ext", "type": ["object"]}))
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"], store=filled)
    eng.validate_typed(_docs(spark), SCHEMA, id_cols=["doc_id"], store=filled)
    assert calls["n"] == 3, "non-empty store must always recompile"
