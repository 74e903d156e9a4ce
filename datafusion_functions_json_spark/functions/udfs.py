"""The one Arrow adapter between Spark and the kernels.

Every exact-tier JSON function — on the Column API and on the SQL
surface that :func:`~..register.register_all` registers — is a Spark 4.1
``arrow_udf`` (``pyarrow.Array`` in, ``pyarrow.Array`` out) built here,
and every one runs the same batch body (:func:`_batch_body`). Two
builders, mirroring the reference's kernel dispatch (reference:
src/common.rs:159-182 dispatches (json array|scalar) × (path
scalars|array)):

* :func:`literal_path_udf` (the Column API's dominant case): the path is
  closed over at plan time, so ONLY the JSON column crosses the
  JVM→Python Arrow boundary. UDF objects are cached per (function, path)
  so repeated plan references reuse one PythonUDF expression.
* :func:`path_args_udf`: the path elements arrive as argument columns,
  ``(json, *keys)`` — every registered SQL function, and a Column-API
  column path. It applies the reference's argument checks
  (:func:`_check_path_args`), continues a lookup through a union-struct
  first argument's container members, and runs the literal-path body
  when every key is constant and non-null in the batch. Otherwise it
  builds the path per row; a NULL key yields a null result, not an error
  (reference: src/common.rs:118-127 JsonPath::None).

On batches whose documents repeat, the literal-path body takes the
per-batch dictionary shortcut (:func:`kernels._dict_encode` — the Arrow
analog of the reference's dictionary-array evaluation,
src/common.rs:310-327): the kernel runs on the DISTINCT documents only
and one ``pc.take`` scatters the results back. ``json_get``'s null arm
becomes a whole-struct NULL in :func:`_union_struct`, so ``IS NULL``
agrees with the reference's union null on both surfaces (reference:
tests/main.rs:1612-1729).

All UDFs are deterministic (never call ``asNondeterministic``) so Catalyst
remains free to push/collapse projections containing them — the Spark
equivalent of the reference's leaf-ward placement hint (reference:
src/json_get.rs:61-77; SURVEY.md §2.3).
"""

from __future__ import annotations

import itertools
from functools import lru_cache

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from . import kernels
from .kernels import UNION_FIELDS

__all__ = [
    "literal_path_udf",
    "path_args_udf",
    "union_to_text_udf",
    "union_is_null_udf",
    "RETURN_TYPES",
]

# Return types per function key. json_length returns LongType — Spark has
# no unsigned (reference returns UInt64, SURVEY.md §2.1 #10).
RETURN_TYPES = {
    "json_get": (
        "struct<type_id:tinyint,bool:boolean,int:bigint,float:double,"
        "str:string,array:string,object:string>"
    ),
    "json_get_str": "string",
    "json_get_int": "bigint",
    "json_get_float": "double",
    "json_get_bool": "boolean",
    "json_get_json": "string",
    "json_get_array": "array<string>",
    "json_as_text": "string",
    "json_contains": "boolean",
    "json_length": "bigint",
    "json_object_keys": "array<string>",
    "json_to_text_fused": "string",
    "json_is_null_fused": "boolean",
}

_KERNELS = {
    "json_get": kernels.kernel_json_get,
    "json_get_str": kernels.kernel_json_get_str,
    "json_get_int": kernels.kernel_json_get_int,
    "json_get_float": kernels.kernel_json_get_float,
    "json_get_bool": kernels.kernel_json_get_bool,
    "json_get_json": kernels.kernel_json_get_json,
    "json_get_array": kernels.kernel_json_get_array,
    "json_as_text": kernels.kernel_json_as_text,
    "json_contains": kernels.kernel_json_contains,
    "json_length": kernels.kernel_json_length,
    "json_object_keys": kernels.kernel_json_object_keys,
    "json_to_text_fused": kernels.kernel_json_to_text_fused,
    "json_is_null_fused": kernels.kernel_json_is_null_fused,
}

# Arrow output type per function key — matches RETURN_TYPES exactly.
_PA_TYPES = {
    "json_get_str": pa.string(),
    "json_get_int": pa.int64(),
    "json_get_float": pa.float64(),
    "json_get_bool": pa.bool_(),
    "json_get_json": pa.string(),
    "json_get_array": pa.list_(pa.string()),
    "json_as_text": pa.string(),
    "json_contains": pa.bool_(),
    "json_length": pa.int64(),
    "json_object_keys": pa.list_(pa.string()),
    "json_to_text_fused": pa.string(),
    "json_is_null_fused": pa.bool_(),
}

# union struct member types (order matches UNION_FIELDS)
_UNION_PA_TYPES = (
    pa.int8(),
    pa.bool_(),
    pa.int64(),
    pa.float64(),
    pa.string(),
    pa.string(),
    pa.string(),
)

# DataFusion-style names for the argument-type error message (reference:
# src/common.rs:106-141 rejects non-string/int path args at plan time with
# the DataType debug name; tests/main.rs:291-298 pins the Null wording).
_DF_TYPE_NAMES = {
    "null": "Null",
    "bool": "Boolean",
    "float": "Float32",
    "double": "Float64",
    "date32[day]": "Date32",
    "timestamp[us]": "Timestamp(Microsecond, None)",
}


def _check_path_args(fn_key, key_cols):
    """Reference arg validation, applied per Arrow batch.

    * A path argument whose Arrow type is ``null`` (Spark's untyped NULL
      literal, VOID) or any non-string/int type is rejected with the
      reference's planning message (reference: src/common.rs:106-141,
      tests/main.rs:291-298). A *typed* null — ``cast(null as string)`` or
      a nullable column — passes, and null values yield null rows, exactly
      like the reference's ``ScalarValue::Utf8(None) => JsonPath::None``.
    * With more than one path element, any argument that is demonstrably a
      per-row column (≥2 distinct values, or any null, in the batch —
      a literal is always constant and non-null) raises the reference's
      execution error (reference: src/common.rs:129-133,
      tests/main.rs:1095-1103). A column that is constant within every
      batch is indistinguishable from a literal here and passes — the one
      remaining (documented) delta on the SQL surface.
    """
    for i, k in enumerate(key_cols):
        t = k.type
        if not (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or (pa.types.is_integer(t) and not pa.types.is_boolean(t))
        ):
            name = _DF_TYPE_NAMES.get(str(t), str(t).capitalize())
            raise ValueError(
                f"Unexpected argument type to '{fn_key}' at position {i + 2}, "
                f"expected string or int, got {name}."
            )
    if len(key_cols) > 1:
        for k in key_cols:
            if len(k) > 1 and (k.null_count > 0 or len(pc.unique(k)) > 1):
                raise ValueError(
                    "More than 1 path element is not supported when "
                    "querying JSON using an array."
                )


def _pa_col(values, pa_type):
    """Typed Arrow array from kernel output. ``from_pandas=True`` keeps
    a float NaN from parse_float_like_rust as SQL NULL."""
    return pa.array(values, type=pa_type, from_pandas=True)


def _union_struct(out, idx=None):
    """Assemble the json_get union struct from the kernel's 7 member
    lists. Null-arm rows (type_id 0: JSON null, lookup miss, big int)
    become a WHOLE-STRUCT NULL — the Spark form of the reference's
    dictionary null-masking (reference: src/common.rs:587-598). ``idx``
    (from the dictionary shortcut) scatters the distinct rows back with
    one take."""
    children = [
        _pa_col(out[name], t) for name, t in zip(UNION_FIELDS, _UNION_PA_TYPES)
    ]
    struct = pa.StructArray.from_arrays(
        children, names=list(UNION_FIELDS), mask=pc.equal(children[0], 0)
    )
    return struct if idx is None else pc.take(struct, idx)


def _to_arrow(fn_key):
    """``build(kernel_output, idx=None)`` → the Arrow result of
    ``fn_key``, scattered through ``idx`` when given."""
    if fn_key == "json_get":
        return _union_struct
    pa_type = _PA_TYPES[fn_key]
    pa_col = _pa_col

    def build(out, idx=None):
        col = pa_col(out, pa_type)
        return col if idx is None else pc.take(col, idx)

    return build


def _members(u):
    """A union struct's children by name, each under the parent
    validity mask (``flatten``): Arrow struct children may hold values
    under a null parent slot."""
    if isinstance(u, pa.ChunkedArray):
        u = u.combine_chunks()
    return dict(zip([f.name for f in u.type], u.flatten()))


def _batch_body(fn_key):
    """``body(js, path)``, the batch body every JSON UDF runs. ``path``
    is a tuple constant over the batch (the dictionary shortcut
    applies) or a list of per-row path tuples."""
    kernel = _KERNELS[fn_key]
    build = _to_arrow(fn_key)
    # closure-captured for the foreign-cwd contract (like multi.py's
    # fast_mask): the UDF body must not reach package modules by name
    dict_encode = kernels._dict_encode

    def body(js, path):
        if type(path) is tuple:
            pre = dict_encode(js)
            if pre is not None:
                dvals, idx = pre
                return build(kernel(dvals, itertools.repeat(path)), idx)
            path = itertools.repeat(path)
        return build(kernel(js.to_pylist(), path))

    return body


@lru_cache(maxsize=512)
def literal_path_udf(fn_key: str, path: tuple):
    """Arrow UDF computing ``fn_key`` at a fixed literal ``path``.

    Cached: the same (function, path) pair always returns the same UDF
    object, so Catalyst sees one PythonUDF and identical call sites
    collapse (analog of the reference's singleton UDF instances,
    reference: src/common_macros.rs:17-49).
    """
    body = _batch_body(fn_key)

    def fn(js: pa.Array) -> pa.Array:
        return body(js, path)

    fn.__name__ = fn_key
    return F.arrow_udf(fn, RETURN_TYPES[fn_key])


@lru_cache(maxsize=64)
def path_args_udf(fn_key: str):
    """Arrow UDF ``(json, *keys)`` computing ``fn_key`` with the path
    elements as argument columns (reference: src/common.rs:106-110).

    ``json`` is JSON text or a union struct (a nested
    ``json_get(json_get(j, 'a'), 'b')`` in SQL); a struct continues the
    lookup through its container members, like the reference's
    ``nested_json_array`` (reference: src/common_union.rs:49-57) —
    scalar members are NULL, so the nested lookup misses."""
    body = _batch_body(fn_key)
    check = _check_path_args
    members = _members

    def fn(js: pa.Array, *keys: pa.Array) -> pa.Array:
        check(fn_key, keys)
        if pa.types.is_struct(js.type):
            m = members(js)
            js = pc.coalesce(m["array"], m["object"])
        if all(k.null_count == 0 and len(pc.unique(k)) == 1 for k in keys):
            return body(js, tuple(k[0].as_py() for k in keys))
        return body(js, list(zip(*(k.to_pylist() for k in keys))))

    fn.__name__ = fn_key
    return F.arrow_udf(fn, RETURN_TYPES[fn_key])


@lru_cache(maxsize=1)
def union_to_text_udf():
    """json_union_to_text over the union struct (reference:
    src/json_union_to_text.rs:82-118). Python-side because float
    canonicalization must match serde_json's shortest-roundtrip formatting
    (Python ``repr``), which Spark's double→string cast does not
    (``1e10`` → '1.0E10' in Spark vs '10000000000.0' canonical)."""
    kernel = kernels.kernel_json_union_to_text
    pa_col = _pa_col
    members = _members

    def fn(u: pa.Array) -> pa.Array:
        m = members(u)
        return pa_col(
            kernel(*(m[name].to_pylist() for name in UNION_FIELDS)), pa.string()
        )

    fn.__name__ = "json_union_to_text"
    return F.arrow_udf(fn, "string")


@lru_cache(maxsize=1)
def union_is_null_udf():
    """SQL-surface json_is_null over the union struct: true for a NULL
    struct and for the null arm (reference: tests/main.rs:1612-1729).
    The Column API's twin is the JVM expression ``union.json_is_null``."""
    members = _members

    def fn(u: pa.Array) -> pa.Array:
        return pc.fill_null(pc.equal(members(u)["type_id"], 0), True)

    fn.__name__ = "json_is_null"
    return F.arrow_udf(fn, "boolean")
