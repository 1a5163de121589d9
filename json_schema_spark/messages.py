"""Byte-parity message rendering.

The reference embeds Ruby ``#to_s`` / ``#inspect`` renderings of data values
inside its error messages (e.g. validator.rb:533 renders ``4`` vs ``"4"``;
float ``10.0`` keeps its ``.0``). These helpers reproduce those renderings
for Python values (driver-side: parser errors, tests, local oracle). The
Spark-side SQL equivalents are the ``render_*`` methods in
``compile/values.py``.
"""

from __future__ import annotations

import json
import math
from typing import Any


def ruby_float_to_s(x: float) -> str:
    """Ruby Float#to_s: shortest round-trip, always a decimal point or
    exponent; exponents rendered like ``1.0e-05``."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    r = repr(x)
    if "e" in r or "E" in r:
        mantissa, _, exp = r.lower().partition("e")
        if "." not in mantissa:
            mantissa += ".0"
        sign = "+"
        if exp[0] in "+-":
            sign = exp[0]
            exp = exp[1:]
        exp = exp.zfill(2)
        return f"{mantissa}e{sign}{exp}"
    if "." not in r:
        r += ".0"
    return r


def ruby_inspect(data: Any) -> str:
    if data is None:
        return "nil"
    if data is True:
        return "true"
    if data is False:
        return "false"
    if isinstance(data, float):
        return ruby_float_to_s(data)
    if isinstance(data, int):
        return str(data)
    if isinstance(data, str):
        return json.dumps(data, ensure_ascii=False)
    if isinstance(data, list):
        return "[" + ", ".join(ruby_inspect(e) for e in data) + "]"
    if isinstance(data, dict):
        return "{" + ", ".join(f"{ruby_inspect(k)}=>{ruby_inspect(v)}" for k, v in data.items()) + "}"
    return repr(data)


def ruby_to_s(data: Any) -> str:
    if data is None:
        return ""
    if data is True:
        return "true"
    if data is False:
        return "false"
    if isinstance(data, float):
        return ruby_float_to_s(data)
    if isinstance(data, int):
        return str(data)
    if isinstance(data, str):
        return data
    # Array#to_s and Hash#to_s delegate to inspect in Ruby
    return ruby_inspect(data)


def ruby_regexp_inspect(pattern_source: str) -> str:
    """Ruby Regexp#inspect for a pattern compiled with no flags: /source/."""
    return f"/{pattern_source}/"

