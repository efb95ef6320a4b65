"""Recursive JSON-Schema validator over parsed dict trees.

Re-expresses the reference's keyword semantics (reference src/validation.jl)
in Python.  This is the *semantic oracle* of the engine: the Spark native-
Column compiler and the Arrow pandas-UDF backend must both agree with it.

Deliberate reference quirks reproduced exactly:
  - JSON equality: bool != number (`true != 1`, `false != 0`) but
    `0 == 0.0` (src/validation.jl:117-136).  Python has the identical trap
    (bool subclasses int) so every comparison is guarded with isinstance(bool).
  - `1.0` IS an `integer` (float with integral value, src/validation.jl:492).
  - `type` checks: bool is NOT number/integer (src/validation.jl:498-500).
  - first failing keyword short-circuits (src/validation.jl:86-88); the
    reference's Dict iteration makes *which* issue is reported
    nondeterministic — we fix a documented canonical keyword order so the
    `issue` column is reproducible (the pass/fail verdict is identical).
  - absent key vs null value are distinct for `required`
    (src/validation.jl:755-766).
  - unknown keywords and type-mismatched instances are silent no-ops
    (src/validation.jl:114).
  - a schema containing `$ref` chases it first, ignoring sibling keywords;
    $ref -> $ref chains are chased with a cycle error
    (src/validation.jl:78-81,100-110).
"""

from __future__ import annotations

import functools
import math
import re
from dataclasses import dataclass
from typing import Any


@dataclass
class Issue:
    """First-failure record, mirroring SingleIssue (src/validation.jl:6-11)."""

    x: Any
    path: str
    reason: str
    val: Any

    def __str__(self) -> str:  # pretty-printer parity (src/validation.jl:13-22)
        return (
            "Validation failed:\n"
            f"path:         {self.path if self.path else 'top-level'}\n"
            f"instance:     {self.x}\n"
            f"schema key:   {self.reason}\n"
            f"schema value: {self.val}"
        )


# ---------------------------------------------------------------------------
# JSON equality (src/validation.jl:117-136)
# ---------------------------------------------------------------------------

def json_equal(x: Any, y: Any) -> bool:
    xb, yb = isinstance(x, bool), isinstance(y, bool)
    if xb or yb:
        # bool compares equal only to bool: true != 1, false != 0
        return xb and yb and x == y
    if isinstance(x, (int, float)) and isinstance(y, (int, float)):
        return x == y  # 0 == 0.0
    if isinstance(x, str) and isinstance(y, str):
        return x == y
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(json_equal(a, b) for a, b in zip(x, y))
    if isinstance(x, dict) and isinstance(y, dict):
        return set(x.keys()) == set(y.keys()) and all(
            json_equal(v, y[k]) for k, v in x.items()
        )
    if x is None or y is None:
        return x is None and y is None
    return x == y


# ---------------------------------------------------------------------------
# JSON type lattice (src/validation.jl:488-500)
# ---------------------------------------------------------------------------

def is_json_type(x: Any, t: str) -> bool:
    if t == "array":
        return isinstance(x, list)
    if t == "boolean":
        return isinstance(x, bool)
    if t == "integer":
        if isinstance(x, bool):
            return False
        if isinstance(x, int):
            return True
        # float with integral value counts as integer (src/validation.jl:492)
        return isinstance(x, float) and math.isfinite(x) and x == int(x)
    if t == "number":
        return isinstance(x, (int, float)) and not isinstance(x, bool)
    if t == "null":
        return x is None
    if t == "object":
        return isinstance(x, dict)
    if t == "string":
        return isinstance(x, str)
    return False


def _is_num(x: Any) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


# ---------------------------------------------------------------------------
# dispatch core (src/validation.jl:78-114)
# ---------------------------------------------------------------------------

# Canonical keyword order: verdict-equivalent to the reference's dict-order
# iteration, but deterministic, so the reported `issue` is stable.
_KEYWORD_ORDER = [
    "type", "enum", "const",
    "multipleOf", "maximum", "exclusiveMaximum", "minimum", "exclusiveMinimum",
    "maxLength", "minLength", "pattern",
    "items", "additionalItems", "contains", "maxItems", "minItems",
    "uniqueItems",
    "maxProperties", "minProperties", "required",
    "properties", "patternProperties", "additionalProperties",
    "propertyNames", "dependencies",
    "allOf", "anyOf", "oneOf", "not",
    "if", "then", "else",
]
_KEYWORD_RANK = {k: i for i, k in enumerate(_KEYWORD_ORDER)}


def _validate(x: Any, schema: Any, path: str) -> Issue | None:
    schema = _chase_refs(schema)
    if isinstance(schema, bool):
        # boolean schema (src/validation.jl:93-98)
        return None if schema else Issue(x, path, "schema", schema)
    if not isinstance(schema, dict):
        return None
    for k, handler in _keyword_plan(tuple(schema)):
        ret = handler(x, schema, schema[k], path)
        if ret is not None:
            return ret
    return None


@functools.lru_cache(maxsize=4096)
def _keyword_plan(keys: tuple) -> tuple:
    """(keyword, handler) pairs of a schema node with keys `keys`, in
    canonical order; unknown keywords are dropped (no-ops,
    src/validation.jl:114).  Memoized on the key tuple, not on the node:
    the order is a function of the keys alone, so an entry can never go
    stale when a schema changes, and the cache holds only key strings,
    never schemas."""
    known = sorted((k for k in keys if k in _HANDLERS), key=_KEYWORD_RANK.__getitem__)
    return tuple((k, _HANDLERS[k]) for k in known)


def _chase_refs(schema: Any) -> Any:
    explored: list[Any] = [schema]
    while isinstance(schema, dict) and "$ref" in schema:
        schema = schema["$ref"]
        if any(e is schema for e in explored):
            raise ValueError("cannot support circular references in schema.")
        explored.append(schema)
    return schema


# ---------------------------------------------------------------------------
# combinators (src/validation.jl:143-246)
# ---------------------------------------------------------------------------

def _all_of(x, schema, val, path):
    if not isinstance(val, list):
        return None
    for v in val:
        ret = _validate(x, v, path)
        if ret is not None:
            return ret
    return None


def _any_of(x, schema, val, path):
    if not isinstance(val, list):
        return None
    for v in val:
        if _validate(x, v, path) is None:
            return None
    return Issue(x, path, "anyOf", val)


def _one_of(x, schema, val, path):
    if not isinstance(val, list):
        return None
    found = False
    for v in val:
        if _validate(x, v, path) is None:
            if found:
                return Issue(x, path, "oneOf", val)
            found = True
    return None if found else Issue(x, path, "oneOf", val)


def _not(x, schema, val, path):
    if _validate(x, val, path) is None:
        return Issue(x, path, "not", val)
    return None


def _if_then_else(x, schema, path):
    # truth table in reference docstring (src/validation.jl:222-231)
    if _validate(x, schema["if"], path) is not None:
        if "else" in schema:
            return _validate(x, schema["else"], path)
    elif "then" in schema:
        return _validate(x, schema["then"], path)
    return None


def _if(x, schema, val, path):
    if "then" in schema or "else" in schema:
        return _if_then_else(x, schema, path)
    return None


def _then(x, schema, val, path):
    # handled by `if`; standalone `then` is ignored (src/validation.jl:198-204)
    return None


def _else(x, schema, val, path):
    return None


# ---------------------------------------------------------------------------
# generic keywords (src/validation.jl:474-516)
# ---------------------------------------------------------------------------

def _type(x, schema, val, path):
    if isinstance(val, str):
        ok = is_json_type(x, val)
    elif isinstance(val, list):
        ok = any(is_json_type(x, v) for v in val)
    else:
        return None
    return None if ok else Issue(x, path, "type", val)


def _enum(x, schema, val, path):
    if not isinstance(val, list):
        return None
    if any(json_equal(x, v) for v in val):
        return None
    return Issue(x, path, "enum", val)


def _const(x, schema, val, path):
    if json_equal(x, val):
        return None
    return Issue(x, path, "const", val)


# ---------------------------------------------------------------------------
# numeric keywords (src/validation.jl:523-617)
# ---------------------------------------------------------------------------

def _multiple_of(x, schema, val, path):
    if not _is_num(x) or not _is_num(val):
        return None
    try:
        y = x / val
    except ZeroDivisionError:
        return Issue(x, path, "multipleOf", val)
    # isapprox(y, round(y)) semantics (src/validation.jl:530-533)
    if not math.isfinite(y) or not math.isclose(y, round(y), rel_tol=math.sqrt(2.220446049250313e-16)):
        return Issue(x, path, "multipleOf", val)
    return None


def _maximum(x, schema, val, path):
    if _is_num(x) and _is_num(val) and x > val:
        return Issue(x, path, "maximum", val)
    return None


def _exclusive_maximum(x, schema, val, path):
    if not _is_num(x):
        return None
    if isinstance(val, bool):
        # draft 4: tightens sibling `maximum` (src/validation.jl:565-576)
        if val and x >= schema.get("maximum", math.inf):
            return Issue(x, path, "exclusiveMaximum", val)
        return None
    if _is_num(val) and x >= val:
        return Issue(x, path, "exclusiveMaximum", val)
    return None


def _minimum(x, schema, val, path):
    if _is_num(x) and _is_num(val) and x < val:
        return Issue(x, path, "minimum", val)
    return None


def _exclusive_minimum(x, schema, val, path):
    if not _is_num(x):
        return None
    if isinstance(val, bool):
        if val and x <= schema.get("minimum", -math.inf):
            return Issue(x, path, "exclusiveMinimum", val)
        return None
    if _is_num(val) and x <= val:
        return Issue(x, path, "exclusiveMinimum", val)
    return None


# ---------------------------------------------------------------------------
# string keywords (src/validation.jl:624-663)
# ---------------------------------------------------------------------------

def _max_length(x, schema, val, path):
    # Unicode codepoint count, not bytes (src/validation.jl:631)
    if isinstance(x, str) and _is_num(val) and len(x) > val:
        return Issue(x, path, "maxLength", val)
    return None


def _min_length(x, schema, val, path):
    if isinstance(x, str) and _is_num(val) and len(x) < val:
        return Issue(x, path, "minLength", val)
    return None


def _pattern(x, schema, val, path):
    # unanchored search (src/validation.jl:659 `occursin`)
    if isinstance(x, str) and isinstance(val, str) and re.search(val, x) is None:
        return Issue(x, path, "pattern", val)
    return None


# ---------------------------------------------------------------------------
# array keywords (src/validation.jl:253-357, 670-716)
# ---------------------------------------------------------------------------

def _items(x, schema, val, path):
    if not isinstance(x, list):
        return None
    if isinstance(val, bool):
        if not val and len(x) > 0:
            return Issue(x, path, "items", val)
        return None
    evaluated = [False] * len(x)
    if isinstance(val, dict):
        for i, xi in enumerate(x):
            ret = _validate(xi, val, f"{path}[{i + 1}]")
            if ret is not None:
                return ret
            evaluated[i] = True
    elif isinstance(val, list):
        for i, xi in enumerate(x):
            if i >= len(val):
                break
            ret = _validate(xi, val[i], f"{path}[{i + 1}]")
            if ret is not None:
                return ret
            evaluated[i] = True
    add = schema.get("additionalItems")
    return _additional_items(x, evaluated, add, path)


def _additional_items(x, evaluated, val, path):
    if val is None:
        return None
    if isinstance(val, bool) and not val:
        if not all(evaluated):
            return Issue(x, path, "additionalItems", val)
        return None
    for i, done in enumerate(evaluated):
        if done:
            continue
        ret = _validate(x[i], val, f"{path}[{i + 1}]")
        if ret is not None:
            return ret
    return None


def _additional_items_kw(x, schema, val, path):
    return None  # handled inside `items` (src/validation.jl:330-338)


def _contains(x, schema, val, path):
    if not isinstance(x, list):
        return None
    for i, xi in enumerate(x):
        if _validate(xi, val, f"{path}[{i + 1}]") is None:
            return None
    return Issue(x, path, "contains", val)


def _max_items(x, schema, val, path):
    if isinstance(x, list) and _is_num(val) and len(x) > val:
        return Issue(x, path, "maxItems", val)
    return None


def _min_items(x, schema, val, path):
    if isinstance(x, list) and _is_num(val) and len(x) < val:
        return Issue(x, path, "minItems", val)
    return None


def _unique_items(x, schema, val, path):
    if not isinstance(x, list) or not isinstance(val, bool) or not val:
        return None
    # reference is O(n^2) (src/validation.jl:708-711); we hash a canonical
    # JSON-equality key instead (bools tagged to stay distinct from numbers)
    seen: set = set()
    for item in x:
        key = _canon_key(item)
        if key in seen:
            return Issue(x, path, "uniqueItems", val)
        seen.add(key)
    return None


def _canon_key(v: Any) -> Any:
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", float(v))
    if isinstance(v, str):
        return ("s", v)
    if v is None:
        return ("z",)
    if isinstance(v, list):
        return ("a", tuple(_canon_key(e) for e in v))
    if isinstance(v, dict):
        return ("o", frozenset((k, _canon_key(val)) for k, val in v.items()))
    return ("x", v)


# ---------------------------------------------------------------------------
# object keywords (src/validation.jl:364-467, 727-796)
# ---------------------------------------------------------------------------

def _properties(x, schema, val, path):
    if not isinstance(x, dict) or not isinstance(val, dict):
        return None
    for k, v in x.items():
        if k in val:
            ret = _validate(v, val[k], f"{path}[{k}]")
            if ret is not None:
                return ret
    return None


def _pattern_properties(x, schema, val, path):
    if not isinstance(x, dict) or not isinstance(val, dict):
        return None
    for k_val, v_val in val.items():
        r = re.compile(k_val)
        for k_x, v_x in x.items():
            if r.search(k_x) is None:
                continue
            ret = _validate(v_x, v_val, f"{path}[{k_x}")
            if ret is not None:
                return ret
    return None


def _unmatched_keys(x, schema):
    props = schema.get("properties") or {}
    pats = [re.compile(p) for p in (schema.get("patternProperties") or {})]
    for k in x:
        if k in props:
            continue
        if any(p.search(k) for p in pats):
            continue
        yield k


def _additional_properties(x, schema, val, path):
    if not isinstance(x, dict):
        return None
    if isinstance(val, bool):
        if val:
            return None
        for k in _unmatched_keys(x, schema):
            return Issue(x, path, "additionalProperties", val)
        return None
    if isinstance(val, dict):
        for k in _unmatched_keys(x, schema):
            ret = _validate(x[k], val, f"{path}[{k}]")
            if ret is not None:
                return ret
    return None


def _property_names(x, schema, val, path):
    if not isinstance(x, dict):
        return None
    for k in x:
        ret = _validate(k, val, path)
        if ret is not None:
            return ret
    return None


def _max_properties(x, schema, val, path):
    if isinstance(x, dict) and _is_num(val) and len(x) > val:
        return Issue(x, path, "maxProperties", val)
    return None


def _min_properties(x, schema, val, path):
    if isinstance(x, dict) and _is_num(val) and len(x) < val:
        return Issue(x, path, "minProperties", val)
    return None


def _required(x, schema, val, path):
    if not isinstance(x, dict) or not isinstance(val, list):
        return None
    if any(v not in x for v in val):
        return Issue(x, path, "required", val)
    return None


def _dependencies(x, schema, val, path):
    if not isinstance(x, dict) or not isinstance(val, dict):
        return None
    for k, v in val.items():
        if k not in x:
            continue
        if isinstance(v, list):
            ok = all(req in x for req in v)
        else:
            ok = _validate(x, v, path) is None
        if not ok:
            return Issue(x, path, "dependencies", val)
    return None


_HANDLERS = {
    "type": _type,
    "enum": _enum,
    "const": _const,
    "multipleOf": _multiple_of,
    "maximum": _maximum,
    "exclusiveMaximum": _exclusive_maximum,
    "minimum": _minimum,
    "exclusiveMinimum": _exclusive_minimum,
    "maxLength": _max_length,
    "minLength": _min_length,
    "pattern": _pattern,
    "items": _items,
    "additionalItems": _additional_items_kw,
    "contains": _contains,
    "maxItems": _max_items,
    "minItems": _min_items,
    "uniqueItems": _unique_items,
    "maxProperties": _max_properties,
    "minProperties": _min_properties,
    "required": _required,
    "properties": _properties,
    "patternProperties": _pattern_properties,
    "additionalProperties": _additional_properties,
    "propertyNames": _property_names,
    "dependencies": _dependencies,
    "allOf": _all_of,
    "anyOf": _any_of,
    "oneOf": _one_of,
    "not": _not,
    "if": _if,
    "then": _then,
    "else": _else,
}


# ---------------------------------------------------------------------------
# public API (reference src/JSONSchema.jl:12, src/validation.jl:68-76)
# ---------------------------------------------------------------------------

def _dispatch_args(schema, x):
    """Reversed-argument sugar (reference src/validation.jl:75-76:
    `validate(x, schema::Schema) = validate(schema, x)` and the isvalid
    analog): when the Schema lands in the second slot, swap.  Mirrors the
    reference's type-dispatch — only an actual Schema instance triggers the
    swap, so dict-vs-dict calls keep positional meaning."""
    from jsonschema_jl_spark.gate.schema import Schema

    if not isinstance(schema, Schema) and isinstance(x, Schema):
        return x, schema
    return schema, x


def validate(schema, x) -> Issue | None:
    """Return None if `x` validates against `schema`, else the first Issue."""
    schema, x = _dispatch_args(schema, x)
    data = getattr(schema, "data", schema)
    return _validate(x, data, "")


def is_valid(schema, x) -> bool:
    return validate(schema, x) is None


def diagnose(x, schema) -> str | None:
    """Failure text (reference src/JSONSchema.jl:17-28, deprecated there)."""
    issue = validate(schema, x)
    return None if issue is None else str(issue)
