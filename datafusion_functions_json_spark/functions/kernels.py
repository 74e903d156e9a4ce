"""Kernels for the 13 JSON functions.

Pure Python over plain sequences — no SparkSession needed, mirroring the
reference's two-layer testability (kernels invokable directly,
reference: tests/main.rs:689-718 call ``invoke_with_args`` below the
planner). Each kernel takes the JSON column as a sequence of
``str | None`` plus a per-row iterable of path tuples
(``itertools.repeat(path)`` for the literal-path case — the dominant
one), and returns plain Python lists ready for Arrow conversion.

Semantics per function are documented in SURVEY.md §2.1 with reference
file:line citations; the shared traversal lives in :mod:`.core`, and
every scalar getter maps the ``(kind, value)`` it finds to its output
through one coercion table (:data:`COERCE`).
"""

from __future__ import annotations

import itertools
from typing import Iterable, Optional, Sequence

from . import core
from .core import (
    ARRAY,
    BOOL,
    FLOAT,
    INT,
    INT64_MAX,
    INT64_MIN,
    MISSING,
    NULL,
    OBJECT,
    STR,
)

__all__ = [
    "repeat_path",
    "kernel_json_get",
    "kernel_json_get_str",
    "kernel_json_get_int",
    "kernel_json_get_float",
    "kernel_json_get_bool",
    "kernel_json_get_json",
    "kernel_json_get_array",
    "kernel_json_as_text",
    "kernel_json_contains",
    "kernel_json_length",
    "kernel_json_object_keys",
    "kernel_json_union_to_text",
    "kernel_json_to_text_fused",
    "kernel_json_is_null_fused",
    "UNION_FIELDS",
]

# Union struct member layout — order and names follow the reference's
# sparse-union members (reference: src/common_union.rs:184-205).
UNION_FIELDS = ("type_id", "bool", "int", "float", "str", "array", "object")


def repeat_path(path: Sequence) -> Iterable:
    """Per-row path iterable for a literal path (broadcast, zero-copy)."""
    return itertools.repeat(tuple(path))


def _as_str(k, v):
    """json_get_str (reference: src/json_get_str.rs:74-77)."""
    return v if k == STR else None


def _as_int(k, v):
    """json_get_int: int in i64, string with Rust i64 semantics
    (reference: src/json_get_int.rs:102-116)."""
    if k == INT:
        return v if INT64_MIN <= v <= INT64_MAX else None
    return core.parse_int_like_rust(v) if k == STR else None


def _as_float(k, v):
    """json_get_float: float, int coerced, string with Rust f64
    semantics (reference: src/json_get_float.rs:115-122)."""
    if k == FLOAT:
        return v
    if k == INT:
        return float(v)
    return core.parse_float_like_rust(v) if k == STR else None


def _as_bool(k, v):
    """json_get_bool (reference: src/json_get_bool.rs:75-78)."""
    if k == BOOL:
        return v
    return core.parse_bool_like_rust(v) if k == STR else None


def _as_text(k, v):
    """json_as_text: strings unquoted, null/missing → NULL, any other
    value as its JSON text. A ``str`` value is a decoded string or a raw
    slice (see :data:`RAW`) and passes through; bools and ints print
    canonically (reference: src/json_as_text.rs:101-112)."""
    if k == MISSING or k == NULL:
        return None
    if type(v) is str:
        return v
    return core.json_dumps_canonical(k, v)


def _exists(k, v):
    """json_contains: present, including present-null."""
    return k != MISSING


def _union_text(k, v):
    """json_union_to_text(json_get(...)): big ints land in the union's
    null arm (reference: src/json_union_to_text.rs:82-118)."""
    if k == INT and not (INT64_MIN <= v <= INT64_MAX):
        return None
    return core.json_dumps_canonical(k, v)


def _union_isnull(k, v):
    """json_is_null(json_get(...)): missing, json null, or big int."""
    return k == MISSING or k == NULL or (
        k == INT and not (INT64_MIN <= v <= INT64_MAX)
    )


# (kind, value) -> output, per output kind; shared by the single-field
# kernels and json_extract_multi so the two cannot drift
COERCE = {
    "str": _as_str,
    "int": _as_int,
    "float": _as_float,
    "bool": _as_bool,
    "text": _as_text,
    "exists": _exists,
    "union_text": _union_text,
    "union_isnull": _union_isnull,
}

# Output kinds whose coercion tells an integer outside i64 apart from
# the lossy float orjson returns for it outside [i64::MIN, u64::MAX];
# only these need the 19-digit guard. Proof for the rest (the guarded
# path would return INT with the exact value):
# * str / bool: both INT and FLOAT coerce to NULL.
# * int: INT out of i64 -> NULL, FLOAT -> NULL — equal.
# * float: float(exact_int) IS the nearest double, exactly the lossy
#   float the fast path returns.
# * exists: kind != MISSING either way.
# * text: an int prints as its own digits; floats take the raw slice
#   anyway (see RAW).
OBSERVES_BIG = frozenset({"union_text", "union_isnull"})


def _is_container(k, v):
    return k == ARRAY or k == OBJECT


def _text_needs_raw(k, v):
    # floats and containers print VERBATIM ('4.2e-1' stays '4.2e-1');
    # int 0 may be spelled '-0' in the document
    return k == FLOAT or k == ARRAY or k == OBJECT or (k == INT and v == 0)


def _find_text(s, p):
    kind, raw, sval = core.find_raw(s, p)
    return kind, (sval if kind == STR else raw)


# Output kinds that need the document's own bytes for some values:
# (needs_raw(kind, value) on a parsed lookup, streaming finder giving
# the (kind, value) to coerce instead). json_get's union struct shares
# union_text's entry.
RAW = {
    "text": (_text_needs_raw, _find_text),
    "union_text": (_is_container, core.find),
}


def _compiled_lookup():
    """``core.find_scalar(s, p)`` that compiles each distinct path once
    per batch. Both surfaces normalize per-row path elements to str /
    int / None, so equal paths compile equally."""
    compiled = {}

    def lookup(s, p):
        f = compiled.get(p)
        if f is None:
            f = compiled[p] = core.make_find_scalar(p)
        return f(s)

    return lookup


def _adaptive_raw_fallback(needs_raw, find_raw, sample=256):
    """Per-batch chooser between the loads fast path and the streaming
    scan for kernels that need RAW text for some values.

    The guarded lookup yields parsed values, so rows where
    ``needs_raw(kind, value)`` must re-run the streaming ``find_raw`` —
    two parses. Whether that pays depends on the data: scalar-heavy
    columns win big, raw-heavy columns lose ~2×. Sample the first
    ``sample`` rows; if raw-needing rows dominate, switch the rest of
    the batch to the streaming scan outright (paths are constant per
    batch in the dominant literal-path case, so the sample is
    representative).
    """
    state = {"seen": 0, "raws": 0, "streaming": False}
    lookup = _compiled_lookup()

    def find_with_raw(s, p):
        if state["streaming"]:
            return find_raw(s, p)
        kind, v = lookup(s, p)
        if needs_raw(kind, v):
            kind, v = find_raw(s, p)
            state["raws"] += 1
        state["seen"] += 1
        if state["seen"] == sample and state["raws"] * 2 > sample:
            state["streaming"] = True
        return kind, v

    return find_with_raw


def kernel_json_get(json_vals, paths):
    """json_get → union struct columns (reference: src/json_get.rs:109-151).

    Returns a dict of 7 parallel lists (see UNION_FIELDS). MISSING and JSON
    null both land in the null arm: type_id=0, all members None (reference:
    src/common_union.rs:53). JSON ints beyond i64 → null arm (the reference
    panics via ``todo!`` at src/json_get.rs:147; we keep the query alive —
    documented deviation).
    """
    tids, bools, ints, floats, strs, arrs, objs = ([] for _ in range(7))
    for kind, v in _scalar_pairs(json_vals, paths, "union_text"):
        b = i = f = st = ar = ob = None
        if kind == BOOL:
            tid, b = 1, v
        elif kind == INT:
            if INT64_MIN <= v <= INT64_MAX:
                tid, i = 2, v
            else:
                tid = 0
        elif kind == FLOAT:
            tid, f = 3, v
        elif kind == STR:
            tid, st = 4, v
        elif kind == ARRAY:
            tid, ar = 5, v
        elif kind == OBJECT:
            tid, ob = 6, v
        else:  # NULL or MISSING -> null arm
            tid = 0
        tids.append(tid)
        bools.append(b)
        ints.append(i)
        floats.append(f)
        strs.append(st)
        arrs.append(ar)
        objs.append(ob)
    return {
        "type_id": tids,
        "bool": bools,
        "int": ints,
        "float": floats,
        "str": strs,
        "array": arrs,
        "object": objs,
    }


def _is_text(t):
    import pyarrow as pa

    return pa.types.is_string(t) or pa.types.is_large_string(t)


def _fast_mask(json_vals, needles, check_big):
    """Batch-vectorized evaluation of ``core._guarded``'s textual guards
    (round-17 optimization, guide §4.2): True where a row may take the
    loads+walk fast path — no backslash AND every queried path key
    occurs at most once AND (when ``check_big``) no 19-digit run.
    Identical conditions to the per-row guards, evaluated in one
    pyarrow.compute pass over the whole Arrow batch instead of 2+K
    C-string calls per row (measured 2.2x on the per-row guard cost at
    600k nested docs). Returns a numpy bool array (null and non-string
    rows False), or None when pyarrow is unavailable or a non-Arrow
    batch does not convert to strings — callers then use the per-row
    guarded path for every row."""
    try:  # pragma: no cover - environment-dependent
        import pyarrow as pa
        import pyarrow.compute as pc
    except ImportError:
        return None
    if isinstance(json_vals, pa.ChunkedArray):
        json_vals = json_vals.combine_chunks()
    if isinstance(json_vals, pa.Array):
        arr = json_vals  # arrow_udf wrappers: already an Arrow buffer
        if not _is_text(arr.type):
            # no string row: every row takes the guarded path, which
            # reads a non-string document as MISSING
            import numpy as np

            return np.zeros(len(arr), dtype=bool)
    else:
        try:
            arr = pa.array(json_vals, type=pa.string(), from_pandas=True)
        except Exception:
            return None
    m = pc.invert(pc.match_substring(arr, "\\"))
    for nd in needles:
        m = pc.and_kleene(m, pc.less_equal(pc.count_substring(arr, nd), 1))
    if check_big:
        m = pc.and_kleene(
            m, pc.invert(pc.match_substring_regex(arr, "[0-9]{19}"))
        )
    return pc.fill_null(m, False).to_numpy(zero_copy_only=False)


def _dict_encode(json_vals, min_rows=1024, sample=256):
    """Per-batch dictionary shortcut (round-18 optimization, guide §4.2):
    the Arrow-native analog of the reference's dictionary-array
    evaluation (reference: src/common.rs:310-327 runs kernels on the
    dictionary VALUES and remaps keys). Real JSON columns are often
    low-cardinality (enums, templated payloads, repeated configs);
    when a batch's documents repeat, parsing each DISTINCT document
    once and scattering results back is strictly less work than
    parsing every row — and bit-identical, because every kernel is a
    pure per-row function.

    ``json_vals`` is the ``pyarrow`` array the UDF receives. Returns
    ``(distinct_vals + [None], idx)`` where ``idx`` is an Arrow index
    array (for ``pc.take``) mapping each input row to its distinct
    value (null rows map to the appended ``None`` slot, so kernels
    compute the null-row result themselves), or ``None`` when the
    shortcut does not apply: batch under ``min_rows``, a
    head-``sample`` probe reads mostly-distinct (>7/8), the full encode
    finds fewer than 2 rows per distinct value, pyarrow is unavailable,
    or the batch isn't strings. The two cardinality gates bound the
    overhead on high-cardinality data to one hash pass over the sampled
    head (~0.25 ms / 256 rows) plus, past the head gate, one
    ``dictionary_encode`` (~27 ns/row measured) — callers then run the
    unchanged direct path."""
    try:  # pragma: no cover - environment-dependent
        import pyarrow as pa
        import pyarrow.compute as pc
    except ImportError:
        return None
    if isinstance(json_vals, pa.ChunkedArray):
        json_vals = json_vals.combine_chunks()
    arr = json_vals
    n = len(arr)
    if n < min_rows or not _is_text(arr.type):
        return None
    distinct = len(set(arr.slice(0, sample).to_pylist()))
    if distinct * 8 > sample * 7:
        return None  # mostly-distinct head: dedup unlikely to pay
    enc = arr.dictionary_encode()
    d = len(enc.dictionary)
    if d * 2 > n:
        return None  # head lied (e.g. sorted input): direct path
    idx = pc.fill_null(enc.indices, d)
    return enc.dictionary.to_pylist() + [None], idx


def _scalar_pairs(json_vals, paths, kind):
    """(kind, value) per row for output kind ``kind`` (a :data:`COERCE`
    key), via the guarded parse + walk of :mod:`.core`.

    * Kinds in :data:`RAW` take the adaptive sampler, re-reading the
      rows whose value needs the document's own bytes.
    * A constant ``itertools.repeat`` path — the literal-path UDF
      shape — compiles once, and the guards run BATCH-VECTORIZED
      (:func:`_fast_mask`): guard-clear rows take the bare parse + walk
      (:func:`core.make_fast_walk`), the rest the per-row guarded path.
      The 19-digit term runs only for :data:`OBSERVES_BIG` kinds.
    * Per-row (column) paths compile once per distinct path in the
      batch (:func:`_compiled_lookup`)."""
    if kind in RAW:
        return map(_adaptive_raw_fallback(*RAW[kind]), json_vals, paths)
    if type(paths) is itertools.repeat:
        path = tuple(next(paths))
        const = core.make_find_scalar(path)
        walk = core.make_fast_walk(path)
        mask = _fast_mask(json_vals, core.guard_needles(path),
                          kind in OBSERVES_BIG and core._IS_ORJSON)
        if mask is None:
            mask = itertools.repeat(False)
        vals = json_vals.tolist() if hasattr(json_vals, "tolist") else json_vals
        return [walk(s) if ok else const(s) for s, ok in zip(vals, mask)]
    return map(_compiled_lookup(), json_vals, paths)


def _coerced(kind, json_vals, paths):
    to = COERCE[kind]
    return [to(k, v) for k, v in _scalar_pairs(json_vals, paths, kind)]


def kernel_json_get_str(json_vals, paths):
    """Value only if a JSON string; everything else NULL (reference:
    src/json_get_str.rs:74-77)."""
    return _coerced("str", json_vals, paths)


def kernel_json_get_int(json_vals, paths):
    """JSON int → value; JSON string parsed with Rust i64 semantics
    ('123'→123, '1.5'→NULL); float/bool/null/containers/BigInt → NULL
    (reference: src/json_get_int.rs:102-116).

    DELIBERATE DEVIATION: the reference's jiter match arms omit
    ``Peek::Minus``, so a NEGATIVE JSON number (``{"k": -5}``) errors
    there and surfaces as NULL; we return the value (-5), matching JSON
    semantics and the DuckDB oracle (same deviation class as the BigInt
    ``todo!`` null-arm documented on kernel_json_get). Pinned by
    tests/test_functions.py::test_negative_numbers_returned."""
    return _coerced("int", json_vals, paths)


def kernel_json_get_float(json_vals, paths):
    """JSON int or float → f64 (int coerced, reference:
    src/json_get_float.rs:115-118); string parsed with Rust f64 semantics;
    bool/null/containers → NULL. Same deliberate negative-number
    deviation as :func:`kernel_json_get_int` (reference
    src/json_get_float.rs:110 omits Peek::Minus; we return the value)."""
    return _coerced("float", json_vals, paths)


def kernel_json_get_bool(json_vals, paths):
    """JSON true/false → value; string only exact 'true'/'false'
    (reference: src/json_get_bool.rs:75-78); everything else NULL."""
    return _coerced("bool", json_vals, paths)


def kernel_json_get_json(json_vals, paths):
    """RAW JSON text of the value at the path, any type: strings stay
    quoted, JSON null → literal 'null' text, floats verbatim ('4.2e-1');
    missing → SQL NULL (reference: src/json_get_json.rs:84-94,
    tests/main.rs:486-512)."""
    out = []
    for s, p in zip(json_vals, paths):
        kind, raw, _ = core.find_raw(s, p)
        out.append(None if kind == MISSING else raw)
    return out


def kernel_json_get_array(json_vals, paths):
    """JSON array → list of raw-text elements (literal 'null' kept);
    non-array / missing → NULL list (reference:
    src/json_get_array.rs:119-144)."""
    return [core.items_at(s, p) for s, p in zip(json_vals, paths)]


def kernel_json_as_text(json_vals, paths):
    """Postgres ->> : JSON string → unquoted text; JSON null → SQL NULL;
    any other present value → raw JSON text (reference:
    src/json_as_text.rs:101-112)."""
    return _coerced("text", json_vals, paths)


def kernel_json_contains(json_vals, paths):
    """TRUE iff the path exists — including present-null (reference:
    tests/main.rs:21-43); invalid JSON → False, never an error (reference:
    src/json_contains.rs:103-106)."""
    return _coerced("exists", json_vals, paths)


def kernel_json_length(json_vals, paths):
    """Array element count / object key count; scalar/string/missing/
    invalid → NULL (reference: src/json_length.rs:99-128)."""
    return [core.length_at(s, p) for s, p in zip(json_vals, paths)]


def kernel_json_object_keys(json_vals, paths):
    """Object keys in document order; non-object / missing → NULL
    (reference: src/json_object_keys.rs:122-141)."""
    return [core.keys_at(s, p) for s, p in zip(json_vals, paths)]


def kernel_json_to_text_fused(json_vals, paths):
    """Fused ``json_union_to_text(json_get(j, *path))`` — one parse, one
    Arrow hop: find the value and canonicalize directly, skipping the
    intermediate union struct. Same output as the two-step composition
    (strings re-encoded canonically, containers raw passthrough, null
    arm/missing/out-of-range ints => SQL NULL)."""
    return _coerced("union_text", json_vals, paths)


def kernel_json_is_null_fused(json_vals, paths):
    """Fused ``json_is_null(json_get(j, *path))``: true iff the union
    would hold the null arm (missing / json-null / invalid / big int)."""
    return _coerced("union_isnull", json_vals, paths)


def kernel_json_union_to_text(
    type_ids, bools, ints, floats, strs, arrs, objs
):
    """Flatten union struct rows → canonical JSON text (reference:
    src/json_union_to_text.rs:82-118): null member → SQL NULL, bool/int
    canonical, float via repr (matches serde_json for normal values),
    strings JSON-quoted+escaped, containers raw passthrough.

    Takes the 7 member columns as parallel sequences (the wrapper reads
    each child of the Arrow struct column).
    """
    out = []
    for tid, b, i, f, st, ar, ob in zip(
        type_ids, bools, ints, floats, strs, arrs, objs
    ):
        # NaN guard: a struct column with NULLs arrives from Arrow→pandas
        # with numeric members as float dtype (None => NaN).
        if tid is None or tid != tid or tid == 0:
            out.append(None)
        elif tid == 1:
            out.append("true" if b else "false")
        elif tid == 2:
            out.append(str(int(i)))
        elif tid == 3:
            out.append(core.json_dumps_canonical(FLOAT, float(f)))
        elif tid == 4:
            out.append(core.json_dumps_canonical(STR, st))
        elif tid == 5:
            out.append(ar)
        elif tid == 6:
            out.append(ob)
        else:
            out.append(None)
    return out
