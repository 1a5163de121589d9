"""json_schema_spark — a PySpark-native JSON Schema (draft-4) validation and
data-quality engine.

Driver-side API (analog of the reference's module entry points,
lib/json_schema.rb:10-31):

    schema, errors = json_schema_spark.parse(schema_dict)
    schema = json_schema_spark.parse_bang(schema_dict)
    json_schema_spark.configure(lambda c: c.register_format(...))

Spark-side API:

    from json_schema_spark.engine import ValidationEngine
    result = ValidationEngine(spark).validate_json(df, "doc", schema_dict,
                                                   id_cols=["doc_id"])
    result.violations   # DataFrame(doc_id, path, error_type, schema_pointer,
                        #           message, sub_errors, data_json)
    result.verdicts     # DataFrame(partition_id, docs, valid_docs, invalid_docs,
                        #           violation_count)
    # also validate_variant (a VARIANT column) and validate_typed (typed columns)
"""

from __future__ import annotations

from .config import Configuration, configuration
from .errors import AggregateError, SchemaError, ValidationError
from .parser import Parser, parse, parse_bang
from .schema import SchemaNode

__version__ = "0.5.0"


def configure(fn) -> None:
    fn(configuration())


__all__ = [
    "AggregateError",
    "Configuration",
    "Parser",
    "SchemaError",
    "SchemaNode",
    "ValidationError",
    "configuration",
    "configure",
    "parse",
    "parse_bang",
]
