"""Fused multi-field JSON extraction — parse each document ONCE for N
fields.

The reference evaluates one UDF per extraction, re-parsing the document
per call (mitigated by its call un-nesting for chained lookups;
SURVEY.md §2.3). For the analytics pattern "project 5 typed fields out
of one JSON column", our engine can do strictly better than both the
reference and naive per-field UDFs: a single Arrow UDF that parses each
document once (C-accelerated ``loads``) and emits a struct — one
JVM→Python Arrow hop, one parse, N fields.

Each field walks the parsed document with the shared :mod:`.core` walk
and coerces through the single-field kernels' table
(``kernels.COERCE``), so the semantics cannot drift; documents where
strict full-document parsing fails (invalid JSON — or
valid-prefix-plus-garbage, which the streaming finder tolerates) fall
back to the per-path streaming finder, so results are IDENTICAL to N
separate calls.
"""

from __future__ import annotations

import functools
import json
from typing import Mapping, Tuple

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import core, kernels
from .api import _literal_path

__all__ = ["json_extract_multi", "FIELD_KINDS"]

FIELD_KINDS = {
    "str": "string",
    "int": "bigint",
    "float": "double",
    "bool": "boolean",
    "text": "string",  # json_as_text semantics
    "length": "bigint",
    "exists": "boolean",
    # union-roundtrip semantics, fused: same outputs as
    # json_union_to_text(json_get(j, *path)) / json_is_null(json_get(...))
    # without materializing the union struct (reference:
    # src/json_union_to_text.rs:82-118, src/common_union.rs:53)
    "union_text": "string",
    "union_isnull": "boolean",
}


# the single-field function each kind mirrors (names it in path errors)
_KIND_FN = {
    "str": "json_get_str",
    "int": "json_get_int",
    "float": "json_get_float",
    "bool": "json_get_bool",
    "text": "json_as_text",
    "length": "json_length",
    "exists": "json_contains",
    "union_text": "json_get",
    "union_isnull": "json_get",
}


def _parsed_length(k, v):
    """json_length of a PARSED value (reference: src/json_length.rs:99-128)."""
    return len(v) if k == core.ARRAY or k == core.OBJECT else None


def _streaming_reader(kind, path):
    """The field's value from the streaming finder — for documents the
    strict parser rejects and for values that need the document's own
    bytes (``kernels.RAW``): json_length counts by value-skipping, every
    other kind coerces the streaming ``(kind, value)`` through the
    kernels' table."""
    if kind == "length":
        return lambda s: core.length_at(s, path)
    to = kernels.COERCE[kind]
    find = kernels.RAW[kind][1] if kind in kernels.RAW else core.find
    return lambda s: to(*find(s, path))


# kinds expressible on the pure-JVM variant tier (functions/native.py)
# and their per-field builders; union kinds need the exact tier (the
# union struct + raw-slice fidelity have no variant equivalent)
_VARIANT_KINDS = frozenset(
    {"str", "int", "float", "bool", "text", "length", "exists"}
)


def _variant_multi(json_col, specs) -> Column:
    # ONE parse per document, enforced structurally: the parsed variant
    # is bound to a higher-order-function lambda variable
    # (transform(array(parse), x -> struct(...))[0]), which Catalyst
    # evaluates exactly once per row — naive per-field composition
    # re-parses per field (measured linear in field count; codegen
    # subexpression elimination does not fire on variant expressions)
    from . import native

    v = native.parse_variant(json_col)
    return F.transform(
        F.array(v),
        lambda x: F.struct(
            *(native.variant_field(x, p, k).alias(n) for n, k, p in specs)
        ),
    )[0]


def _variant_perfield(json_col, specs) -> Column:
    # N independent parses, NO lambda binding: each field is a plain
    # parse_json+try_variant_get chain, so the projection stays inside
    # whole-stage codegen (the HOF binding above is a codegen FALLBACK —
    # measured at sf100 r15: below ~3 fields the interpreted projection
    # costs more than the 1-2 parses it saves, fused 15.0 s vs two
    # independent single-field twins 10.6 s on 100M docs)
    from . import native

    return F.struct(
        *(
            native.variant_field(native.parse_variant(json_col), p, k).alias(n)
            for n, k, p in specs
        )
    )


# tier='auto' crossover constants — both measured round 15 at sf100
# (BASELINE.md decade ledger). Below _HOF_MIN_FIELDS the fused
# HOF-bound form's interpreted projection costs more than the parses it
# saves; below _SMALL_INPUT_BYTES the tier difference is immaterial and
# the exact tier (reference-fidelity, zero envelope caveats) wins by
# default. Mirrors cosine_topk's impl='auto' (operators/similarity.py).
_HOF_MIN_FIELDS = 3
_SMALL_INPUT_BYTES = 64 << 20


def _auto_tier(specs, json_profile, input_df=None) -> str:
    """Resolve ``tier='auto'`` to one of ``exact`` / ``variant`` (fused
    HOF, one parse) / ``variant_perfield`` (N parses, stays in codegen).

    Gate first, then crossover:

    0. ``json_profile is None`` → ``exact``, always. The JVM tiers are
       only PROVABLY equivalent relative to a caller's claim about the
       data (the :class:`~.native.JsonProfile` flags); with no claim
       nothing is proven, and the module's contract — results identical
       to N single-field calls on ANY input — wins. This is why the
       r16 default-tier change (``tier='auto'``) is bit-compatible with
       r15's ``tier='exact'`` default: speed is one explicit
       ``json_profile=JsonProfile()`` away, silent divergence never is.
    1. A JVM tier is eligible iff every requested kind/path
       is variant-expressible, and the profile doesn't disqualify the
       corresponding function's envelope (same rules as
       :func:`~.native.recommend_tier`) — otherwise ``exact``.
       A disqualified AUTO silently falls back — the point is "fastest
       equivalent without reading envelope docs"; callers who want a
       hard error opt into ``tier='variant'``.
    2. ``len(specs) >= 3`` → fused ``variant`` (one parse for N fields;
       the HOF binding's codegen-fallback cost amortizes — measured
       break-even ~3 fields at sf100, round 15).
    3. 1-2 fields: the fused form LOSES; pick between per-field variant
       and exact by the optimizer's free size statistic when
       ``input_df`` was provided: below ~64 MB the difference is
       immaterial and ``exact`` (the reference-fidelity tier) wins by
       default; large or UNKNOWN (no ``input_df``, or Spark Connect
       where plan stats are unreachable) → ``variant_perfield``
       (measured ~20% under Arrow+orjson on tiny-doc scans, no Python
       workers — the conservative choice at scale)."""
    from .native import _jvm_tier_ok, jsonpath

    if json_profile is None:
        return "exact"  # no data claim -> nothing provable -> fidelity
    p = json_profile
    for _, kind, path in specs:
        if kind not in _VARIANT_KINDS:
            return "exact"
        if not _jvm_tier_ok(_KIND_FN[kind], "variant", p):
            return "exact"
        try:
            jsonpath(path)
        except ValueError:
            return "exact"  # key inexpressible in JSONPath syntax
    if len(specs) >= _HOF_MIN_FIELDS:
        return "variant"
    if input_df is not None:
        from ..plans import plan_size_bytes

        sz = plan_size_bytes(input_df)
        if sz is not None and sz < _SMALL_INPUT_BYTES:
            return "exact"
    return "variant_perfield"


def json_extract_multi(
    json_col,
    fields: Mapping[str, Tuple],
    *,
    tier: str = "auto",
    json_profile=None,
    input_df=None,
) -> Column:
    """Extract N typed fields from one JSON column with ONE parse per
    document.

    ``fields``: ``{out_name: (kind, *path)}`` with kind in
    ``FIELD_KINDS`` and path elements str (key) / int (index), checked
    with the single-field getters' rules.

    Returns a struct column; expand with ``.select(out["*"])`` or
    ``F.col("out.*")``.

    Scale: for K fields this replaces K ArrowEvalPython round trips and
    K parses with 1 + 1 — on wide-extraction workloads the dominant cost
    (parse) is paid once.

    ``tier="variant"`` — ZERO-hop JVM fast path via Spark 4's
    VariantType (functions/native.py): every field compiles to
    ``try_variant_get`` over ONE parsed variant, bound per row to a
    higher-order-function lambda variable so the parse is structurally
    single (codegen subexpression elimination does NOT fire on variant
    expressions — measured) — one parse, N fields, no Python. CAVEAT
    measured at sf100 (round 15, 100M tiny docs, 2 fields): the HOF
    binding is a whole-stage-codegen FALLBACK, and below ~3 fields its
    interpreted-projection cost exceeds the parses it saves (fused
    15.0 s vs two independent single-field twins 10.6 s in one
    interleaved window) — prefer the single-field ``*_variant`` twins
    for 1-2 fields; the fused path wins on wide extractions (the
    5-field multi_extract_variant beats DuckDB at sf1). OPT-IN
    because the variant envelope is not bit-equal to the exact tier
    (container/float re-serialization for ``text``, cast-based string
    coercions; see native.py's envelope docs); union kinds and
    JSONPath-inexpressible keys raise. The bench shows the Arrow hop
    alone costs ~0.3 s/600k rows — this path removes it entirely.

    ``tier="variant_perfield"`` — N independent parse+get chains, one
    per field: more parses than the fused form but NO HOF binding, so
    the projection stays inside whole-stage codegen. The measured
    winner for 1-2 fields at scan scale (see the sf100 numbers above);
    same envelope caveats as ``"variant"``.

    ``tier="auto"`` (DEFAULT since round 16) — pick the fastest
    PROVABLY-EQUIVALENT tier for a :class:`~.native.JsonProfile`
    (``json_profile`` kwarg). **No profile → exact**: the JVM tiers are
    only provably equivalent relative to a claim about the data, so a
    bare call keeps r15's exact-tier results bit-for-bit; pass
    ``json_profile=JsonProfile()`` (the permissive claim: no mixed-type
    paths, no trailing garbage, no raw-slice needs...) to unlock the
    JVM tiers. Given a profile: exact whenever any
    field's envelope disqualifies the JVM tiers (silent
    fallback instead of the variant tier's hard errors); otherwise
    fused ``variant`` at >= 3 fields, ``variant_perfield`` at 1-2
    fields — except that when ``input_df`` (the DataFrame the column
    will be selected from) is provided and the optimizer's free size
    statistic reads under ~64 MB, 1-2-field extractions take the exact
    tier (the difference is immaterial below the crossover and exact
    has zero envelope caveats). Unknown size — no ``input_df``, or
    Spark Connect where plan stats are unreachable — is treated as
    LARGE, mirroring ``cosine_topk(impl='auto')``. Both crossovers
    (field count ~3, ~64 MB) measured round 15 at sf100.

    .. versionchanged:: round 16
       ``tier='auto'`` with **no** ``json_profile`` now resolves to
       ``exact`` (previously auto assumed the permissive profile and
       could pick a JVM tier). Results are identical either way, but
       callers who passed ``tier='auto'`` explicitly without a profile
       regain the ArrowEvalPython hop — a silent plan change. To keep
       the JVM tier, pass ``json_profile=JsonProfile()`` (one line; it
       IS the equivalence claim the old behavior silently assumed).
       A runtime warning is not emitted because the explicit and
       default spellings are indistinguishable at the call site and the
       default (bare) call is the common, correctly-exact case.
    """
    if tier not in ("exact", "variant", "variant_perfield", "auto"):
        raise ValueError(
            f"unknown tier {tier!r}; expected "
            "exact|variant|variant_perfield|auto"
        )
    if isinstance(json_col, str):
        json_col = F.col(json_col)
    specs = []
    for name, spec in fields.items():
        kind, *path = spec
        if kind not in FIELD_KINDS:
            raise ValueError(
                f"unknown kind {kind!r} for field {name!r}; expected one "
                f"of {sorted(FIELD_KINDS)}"
            )
        specs.append((name, kind, _literal_path(_KIND_FN[kind], path)))
    if tier == "auto":
        tier = _auto_tier(specs, json_profile, input_df)
    if tier in ("variant", "variant_perfield"):
        bad = sorted({k for _, k, _ in specs if k not in _VARIANT_KINDS})
        if bad:
            raise ValueError(
                f"kinds {bad} are not expressible on the variant tier; "
                "use tier='exact'"
            )
        if tier == "variant_perfield":
            return _variant_perfield(json_col, specs)
        return _variant_multi(json_col, specs)
    ret = "struct<" + ",".join(f"`{n}`:{FIELD_KINDS[k]}" for n, k, _ in specs) + ">"

    def first_wins(pairs):
        # duplicate keys: the reference's linear scan takes the FIRST
        # match (src/common.rs:531-539); plain dict() would keep the last
        return dict(reversed(pairs))

    # rows failing the guards parse with the stdlib and the first-wins
    # hook; parse_constant rejects NaN/Infinity tokens like the
    # reference's jiter (orjson, behind core._loads, rejects them natively)
    loads = functools.partial(
        json.loads,
        parse_constant=core._reject_nonfinite_token,
        object_pairs_hook=first_wins,
    )
    fast_loads = core._loads
    walk = core._walk
    missing = (core.MISSING, None)

    # The guards of core._guarded, batch-vectorized over the union of the
    # queried keys: a row that clears them has a unique member for every
    # path key, so first-match == plain-dict lookup. The 19-digit term
    # only when a kind observes it (kernels.OBSERVES_BIG).
    quoted_keys = tuple({nd for _, _, p in specs for nd in core.guard_needles(p)})
    check_big = core._IS_ORJSON and any(
        k in kernels.OBSERVES_BIG for _, k, _ in specs
    )
    # per field: compiled walk ops (None: misses on every row), the
    # coercion of a parsed (kind, value), the raw-needing predicate
    # (kernels.RAW; None when every value coerces from the parse) and
    # the streaming reader
    readers = []
    for _, k, p in specs:
        readers.append((
            core._compile_path(p),
            _parsed_length if k == "length" else kernels.COERCE[k],
            kernels.RAW[k][0] if k in kernels.RAW else None,
            _streaming_reader(k, p),
        ))
    null_row = tuple(to(*missing) for _, to, _, _ in readers)
    dict_encode = kernels._dict_encode  # closure-captured
    fast_mask = kernels._fast_mask  # closure-captured

    # Arrow output type per field (matches FIELD_KINDS / ret exactly)
    _pa_kind = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }
    out_types = tuple(_pa_kind[FIELD_KINDS[k]] for _, k, _ in specs)
    out_names = [n for n, _, _ in specs]

    def extract_row(s, fast):
        if not isinstance(s, str):
            return null_row  # null or non-string document
        try:
            doc = fast_loads(s) if fast else loads(s)
        except Exception:
            return tuple(stream(s) for _, _, _, stream in readers)
        out = []
        for ops, to, needs_raw, stream in readers:
            k, v = missing if ops is None else walk(doc, ops)
            if needs_raw is not None and needs_raw(k, v):
                out.append(stream(s))  # raw-bytes fidelity
            else:
                out.append(to(k, v))
        return tuple(out)

    @F.arrow_udf(ret)
    def _multi(js: pa.Array) -> pa.Array:
        # The guards run batch-vectorized over the Arrow buffer
        # (kernels._fast_mask, guide §4.2) — one pyarrow.compute pass
        # instead of 2+K C-string calls per row. On batches whose
        # documents repeat, the dictionary shortcut
        # (kernels._dict_encode) extracts only the DISTINCT documents
        # (plus one None for the null-row tuple) and scatters each field
        # column back with one pc.take — bit-identical because
        # extract_row is a pure per-row function (the reference's
        # dictionary-array evaluation, src/common.rs:310-327).
        # dict_encode / fast_mask are CLOSURE-captured, never imported
        # here: a module import inside the UDF body would need the
        # package on the worker's sys.path (foreign-cwd contract,
        # __init__.py).
        import pyarrow.compute as pc

        pre = dict_encode(js)
        if pre is None:
            idx, vals = None, js.to_pylist()
            mask = fast_mask(js, quoted_keys, check_big)
        else:
            vals, idx = pre
            mask = fast_mask(vals, quoted_keys, check_big)
        rows = [extract_row(s, ok) for s, ok in zip(vals, mask)]
        # column-wise assembly: zip(*rows) transposes at C speed
        data = list(zip(*rows)) if rows else [[] for _ in specs]
        children = [
            pa.array(col, type=t, from_pandas=True)
            for col, t in zip(data, out_types)
        ]
        if idx is not None:
            children = [pc.take(c, idx) for c in children]
        return pa.StructArray.from_arrays(children, names=out_names)

    return _multi(json_col)
