"""Output checks. Every expected value comes from outside the engine: the
clean-room oracle validator in ``tests/``, the scaffold's hand-derived
violation table, or the DuckDB oracle SQL of ``__spark_entry__``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
from collections import Counter

import duckdb


def load_test_module(root: str, name: str):
    """Import ``tests/<name>.py`` by path (``tests`` is not a package)."""
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "tests", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def sample_ids(seed: int, n_docs: int, k: int = 100) -> list:
    """A seeded sample of datagen doc ids."""
    rng = random.Random(seed * 7919 + 1)
    return [f"doc_{i:012d}" for i in rng.sample(range(n_docs), k)]


def read_docs(corpus_path: str, doc_ids) -> dict:
    """doc_id -> the document as plain JSON data, read by DuckDB."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, spans FROM read_parquet('{_glob(corpus_path)}') "
        "WHERE list_contains($ids, doc_id)", {"ids": list(doc_ids)}).fetchall()
    return {doc_id: {"doc_id": doc_id, "spans": spans} for doc_id, spans in rows}


def oracle_mismatches(root: str, schema: dict, docs: dict, found: dict) -> list:
    """Doc ids whose engine violations ``found[doc_id]`` (a list of
    (error_type, path)) differ, as a multiset, from the oracle's."""
    from json_schema_spark.engine import compile_schema

    oracle = load_test_module(root, "oracle_validator").OracleValidator(
        compile_schema(schema))
    bad = []
    for doc_id, doc in docs.items():
        _, errors = oracle.validate(doc)
        if Counter(errors) != Counter(found.get(doc_id, [])):
            bad.append(doc_id)
    return bad


def scaffold_expected(seed: int, n_rows: int) -> Counter:
    """(doc_id, path, error_type) multiset expanded from _SCAFFOLD_EXPECTED."""
    import __spark_entry__ as entry_mod

    by_variant: dict = {}
    for v, path, error_type in entry_mod._SCAFFOLD_EXPECTED:
        by_variant.setdefault(v, []).append((path, error_type))
    out = Counter()
    for doc_id in range(n_rows):
        for path, error_type in by_variant.get((doc_id + seed) % 20, []):
            out[(doc_id, path, error_type)] += 1
    return out


def parquet_rows(path: str, cols: str) -> Counter:
    con = duckdb.connect()
    return Counter(con.execute(
        f"SELECT {cols} FROM read_parquet('{_glob(path)}')").fetchall())


def sink_totals(manifest_path: str, violations_path: str) -> dict:
    """Manifest totals next to what the sink and manifest actually hold."""
    con = duckdb.connect()
    buckets, rows, violations = con.execute(
        "SELECT count(DISTINCT bucket), sum(rows), sum(violations) "
        f"FROM read_parquet('{_glob(manifest_path)}') WHERE status = 'done'"
    ).fetchone()
    sink_rows, sink_hash = con.execute(
        "SELECT count(*), sum(hash(doc_id, path, error_type)) "
        f"FROM read_parquet('{_glob(violations_path)}')").fetchone()
    return {"buckets": buckets, "rows": rows, "violations": violations,
            "sink_rows": sink_rows, "sink_hash": sink_hash}


def sink_violations(violations_path: str, doc_ids) -> dict:
    con = duckdb.connect()
    out: dict = {}
    for doc_id, error_type, path in con.execute(
            f"SELECT doc_id, error_type, path FROM "
            f"read_parquet('{_glob(violations_path)}') "
            "WHERE list_contains($ids, doc_id)", {"ids": list(doc_ids)}).fetchall():
        out.setdefault(doc_id, []).append((error_type, path))
    return out


def flagged_ids(violations_path: str, k: int = 50) -> list:
    """Up to ``k`` doc ids the sink holds violations for (lowest ids)."""
    con = duckdb.connect()
    return [r[0] for r in con.execute(
        f"SELECT DISTINCT doc_id FROM read_parquet('{_glob(violations_path)}') "
        f"ORDER BY doc_id LIMIT {k}").fetchall()]


class MixOracle:
    """DuckDB over the mix tables, canonicalised as the oracle tests do."""

    TABLES = ("documents", "embeddings", "events")

    def __init__(self, root: str, table_dir: str):
        self._t = load_test_module(root, "test_entry_oracle")
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(table_dir, t + '.parquet')}')")

    def mismatch(self, name: str, df) -> str:
        """'' when the Spark rows equal the oracle's, else a reason."""
        import __spark_entry__ as entry_mod

        expected, cols = self._t.duck_rows(self.con, entry_mod.oracle_sql()[name])
        if sorted(df.columns) != cols:
            return f"columns {sorted(df.columns)} != {cols}"
        actual = self._t.spark_rows(df)
        if actual != expected:
            return f"{len(actual)} rows vs {len(expected)} expected, or values differ"
        return ""
