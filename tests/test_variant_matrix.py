"""Variant-tier parity MATRIX (VERDICT r14 #5): one sweep of the full
13-function surface over the FIXTURES.md corpus on BOTH tiers — the
exact tier (reference semantics, functions/api.py) and the Spark-4
variant tier (functions/native.py ``*_variant`` twins) — asserting
per (function x fixture-row) cell equality everywhere EXCEPT the
explicitly pinned envelope cells. The per-function envelope guards in
test_native.py pin individual divergences; this matrix pins the
COMPLEMENT: every cell not listed here must agree byte-for-byte, and
every listed cell must diverge in exactly the documented way, so a
Spark upgrade that silently widens or narrows the variant envelope
fails loudly.

Functions with no variant twin, by design (module-level pin below):
- ``json_from_scalar`` — constructs JSON from native values; there is
  no extraction to re-express over a variant encoding.
``json_union_to_text`` is covered through composition
(``json_union_to_text(json_get(..))`` vs
``json_union_to_text_native(json_get_variant(..))``) — the union
struct IS the shared interface between tiers (union.py).

Envelope classes pinned (each cites its documenting docstring):
- RESERIALIZE: variant re-encodes the document (minified Jackson
  rendering) where the exact tier keeps raw slices —
  ``4.2e-1`` → ``0.42``, container whitespace dropped
  (native.json_get_json_variant docstring; reference keeps raw bytes,
  src/json_get_json.rs).
- INT_ARM: integral JSON floats (``5.0``) re-encode as DECIMAL(p,0)
  and land in the union INT arm / render as ``5``
  (native.json_get_variant docstring).
- CAST_COERCE: ``try_variant_get`` casts across types where the exact
  tier is type-strict — numbers/bools/containers → string, floats
  (truncated) / bools → bigint, numbers → boolean/double
  (native.py module docstring: "coercions differ from the exact
  tier").
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.functions import native

# FIXTURES.md §1 rows (path 'foo') + envelope probes (path 'k') chosen
# to light up every documented divergence class at least once
MATRIX_ROWS = [
    # (name, json_data, path)
    ("object_foo", ' {"foo": "abc"} ', "foo"),
    ("object_foo_array", ' {"foo": [1]} ', "foo"),
    ("object_foo_obj", ' {"foo": {}} ', "foo"),
    ("object_foo_null", ' {"foo": null} ', "foo"),
    ("object_bar", ' {"bar": true} ', "foo"),
    ("list_foo", ' ["foo"] ', "foo"),
    ("invalid_json", "is not json", "foo"),
    ("int_plain", '{"k": 42}', "k"),
    ("int_big", '{"k": 18446744073709551615}', "k"),  # beyond i64
    ("float_plain", '{"k": 1.5}', "k"),
    ("float_raw", '{"k": 4.2e-1}', "k"),  # raw-slice fidelity probe
    ("float_integral", '{"k": 5.0}', "k"),  # DECIMAL(p,0) int-arm probe
    ("bool_true", '{"k": true}', "k"),
    ("str_numeric", '{"k": "123"}', "k"),  # exact tier ALSO coerces here
    ("nested_obj", '{"k": {"a": 1,  "b": [1, 2]}}', "k"),  # whitespace
    ("arr_mixed", '{"k": [1, "x", null, true]}', "k"),
    ("str_spaces", '{"k": " padded "}', "k"),
]

# the 13-function surface as (exact, variant) column builders; length /
# keys are path-less here (the path-ful variant twins are pinned in
# test_native.py) so the matrix exercises the document-root forms too
PAIRS = {
    "get": (
        lambda c, p: jsonf.json_get(c, p),
        lambda c, p: native.json_get_variant(c, p),
    ),
    "get_str": (
        lambda c, p: jsonf.json_get_str(c, p),
        lambda c, p: native.json_get_str_variant(c, p),
    ),
    "get_int": (
        lambda c, p: jsonf.json_get_int(c, p),
        lambda c, p: native.json_get_int_variant(c, p),
    ),
    "get_float": (
        lambda c, p: jsonf.json_get_float(c, p),
        lambda c, p: native.json_get_float_variant(c, p),
    ),
    "get_bool": (
        lambda c, p: jsonf.json_get_bool(c, p),
        lambda c, p: native.json_get_bool_variant(c, p),
    ),
    "get_json": (
        lambda c, p: jsonf.json_get_json(c, p),
        lambda c, p: native.json_get_json_variant(c, p),
    ),
    "get_array": (
        lambda c, p: jsonf.json_get_array(c, p),
        lambda c, p: native.json_get_array_variant(c, p),
    ),
    "as_text": (
        lambda c, p: jsonf.json_as_text(c, p),
        lambda c, p: native.json_as_text_variant(c, p),
    ),
    "contains": (
        lambda c, p: jsonf.json_contains(c, p),
        lambda c, p: native.json_contains_variant(c, p),
    ),
    "length": (
        lambda c, p: jsonf.json_length(c),
        lambda c, p: native.json_length_variant(c),
    ),
    "object_keys": (
        lambda c, p: jsonf.json_object_keys(c),
        lambda c, p: native.json_object_keys_variant(c),
    ),
    "union_to_text": (
        lambda c, p: jsonf.json_union_to_text(jsonf.json_get(c, p)),
        lambda c, p: native.json_union_to_text_native(
            native.json_get_variant(c, p)
        ),
    ),
}

# Every divergent cell, pinned as (exact_value, variant_value). A cell
# NOT listed here must agree; a listed cell must produce exactly these
# two values. Union-struct values are pinned as (type_id, payload).
MINI_OBJ = '{"a":1,"b":[1,2]}'  # variant's minified nested_obj
RAW_OBJ = '{"a": 1,  "b": [1, 2]}'  # exact tier's raw slice
MINI_ARR = '[1,"x",null,true]'
RAW_ARR = '[1, "x", null, true]'
EXPECTED_DIVERGENT = {
    # INT_ARM: integral float lands in the int arm on the variant tier
    ("get", "float_integral"): ((3, 5.0), (2, 5)),
    # RESERIALIZE: container payloads minified on the variant tier
    ("get", "nested_obj"): ((6, RAW_OBJ), (6, MINI_OBJ)),
    ("get", "arr_mixed"): ((5, RAW_ARR), (5, MINI_ARR)),
    # CAST_COERCE: variant string-casts anything castable; exact
    # json_get_str is string-typed only (src/json_get_str.rs)
    ("get_str", "object_foo_array"): (None, "[1]"),
    ("get_str", "object_foo_obj"): (None, "{}"),
    ("get_str", "int_plain"): (None, "42"),
    ("get_str", "int_big"): (None, "18446744073709551615"),
    ("get_str", "float_plain"): (None, "1.5"),
    ("get_str", "float_raw"): (None, "0.42"),
    ("get_str", "float_integral"): (None, "5"),
    ("get_str", "bool_true"): (None, "true"),
    ("get_str", "nested_obj"): (None, MINI_OBJ),
    ("get_str", "arr_mixed"): (None, MINI_ARR),
    # CAST_COERCE: variant truncates floats / widens bools to bigint;
    # exact json_get_int is int-or-int-like-string only
    ("get_int", "float_plain"): (None, 1),
    ("get_int", "float_raw"): (None, 0),
    ("get_int", "float_integral"): (None, 5),
    ("get_int", "bool_true"): (None, 1),
    # CAST_COERCE: bool → double on the variant tier
    ("get_float", "bool_true"): (None, 1.0),
    # CAST_COERCE: numbers → boolean on the variant tier; exact
    # json_get_bool is strict true/false (src/json_get_bool.rs)
    ("get_bool", "int_plain"): (None, True),
    ("get_bool", "int_big"): (None, True),
    ("get_bool", "float_plain"): (None, True),
    ("get_bool", "float_raw"): (None, True),
    ("get_bool", "float_integral"): (None, True),
    # RESERIALIZE on the JSON-text surfaces
    ("get_json", "float_raw"): ("4.2e-1", "0.42"),
    ("get_json", "float_integral"): ("5.0", "5"),
    ("get_json", "nested_obj"): (RAW_OBJ, MINI_OBJ),
    ("get_json", "arr_mixed"): (RAW_ARR, MINI_ARR),
    ("as_text", "float_raw"): ("4.2e-1", "0.42"),
    ("as_text", "float_integral"): ("5.0", "5"),
    ("as_text", "nested_obj"): (RAW_OBJ, MINI_OBJ),
    ("as_text", "arr_mixed"): (RAW_ARR, MINI_ARR),
    # union flatten inherits the union struct's envelope; float_raw
    # AGREES here (both arms store the double 0.42) — only the int-arm
    # flip and container re-serialization show through
    ("union_to_text", "float_integral"): ("5.0", "5"),
    ("union_to_text", "nested_obj"): (RAW_OBJ, MINI_OBJ),
    ("union_to_text", "arr_mixed"): (RAW_ARR, MINI_ARR),
}

_UNION_PAYLOAD = [None, "bool", "int", "float", "str", "array", "object"]


def _norm(v):
    """Union structs → (type_id, payload) so pins are readable; other
    values pass through."""
    if hasattr(v, "asDict"):
        d = v.asDict()
        tid = d.get("type_id")
        payload = d.get(_UNION_PAYLOAD[tid]) if tid else None
        return (tid, payload)
    return v


@pytest.fixture(scope="module")
def matrix_df(spark):
    return spark.createDataFrame(
        [(n, j) for n, j, _ in MATRIX_ROWS], "name string, j string"
    )


def _sweep(matrix_df, fname):
    exact_fn, variant_fn = PAIRS[fname]
    cells = {}
    for pth in ("foo", "k"):
        names = [n for n, _, p in MATRIX_ROWS if p == pth]
        sub = matrix_df.filter(F.col("name").isin(names))
        for r in sub.select(
            "name",
            exact_fn(F.col("j"), pth).alias("e"),
            variant_fn(F.col("j"), pth).alias("v"),
        ).collect():
            cells[r.name] = (_norm(r.e), _norm(r.v))
    return cells


@pytest.mark.parametrize("fname", sorted(PAIRS))
def test_matrix_function(matrix_df, fname):
    cells = _sweep(matrix_df, fname)
    assert set(cells) == {n for n, _, _ in MATRIX_ROWS}
    for row_name, (e, v) in cells.items():
        key = (fname, row_name)
        if key in EXPECTED_DIVERGENT:
            assert (e, v) == EXPECTED_DIVERGENT[key], (
                f"{key}: envelope cell changed — got exact={e!r} "
                f"variant={v!r}, pinned {EXPECTED_DIVERGENT[key]!r}"
            )
        else:
            assert e == v, (
                f"{key}: tiers diverge outside the pinned envelope — "
                f"exact={e!r} variant={v!r}"
            )


def test_no_stale_envelope_pins():
    """Every pinned cell references a real function and fixture row —
    a renamed row or function can't leave dead pins behind."""
    rows = {n for n, _, _ in MATRIX_ROWS}
    for fname, row_name in EXPECTED_DIVERGENT:
        assert fname in PAIRS, fname
        assert row_name in rows, row_name


def test_from_scalar_has_no_variant_twin():
    """json_from_scalar constructs JSON from native values — there is
    deliberately no variant twin (nothing to extract); pin that so an
    accidental half-implemented twin can't appear unnoticed."""
    assert not hasattr(native, "json_from_scalar_variant")
    assert "json_from_scalar_variant" not in getattr(native, "__all__", ())
