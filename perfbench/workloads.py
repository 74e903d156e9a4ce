"""The four workloads: their query mixes, and each query's expected
result computed from the corpus model.

Every query ends in a collected aggregate. Row-level queries reduce to
a row-keyed, order-independent checksum::

    sum(pmod((pmod(id * A, P) + 1) * crc32(row_text), P))

where ``row_text`` joins a canonical text of every output column. The
product of the row key and the row hash makes the sum change when two
rows swap values, so a scatter or permutation bug shows, and every
output column must be computed.
"""

from __future__ import annotations

import math
import zlib
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import truth as T
from .corpus import ROW_KEYS

P = 2147483629  # prime below 2**31
A = 1000003
FIELD_SEP = "\x1f"
ITEM_SEP = "\x1e"
NULL_TEXT = "\x00"


# -- canonical text of one output value, on both sides ---------------------

def canon(v, kind: str) -> str:
    if v is None:
        return NULL_TEXT
    if kind == "bool":
        return "true" if v else "false"
    if kind == "int":
        return str(v)
    if kind == "float":
        # 1/1024 resolution; the scaling is exact in binary floating point
        return str(math.floor(v * 1024)) if abs(v) < 1e15 else "BIG"
    if kind == "list":
        return "[" + ITEM_SEP.join(v) + "]"
    return v


def canon_col(c: Column, kind: str) -> Column:
    if kind in ("bool", "int"):
        out = c.cast("string")
    elif kind == "float":
        out = F.when(F.abs(c) < 1e15, F.floor(c * 1024).cast("string")).when(
            c.isNotNull(), F.lit("BIG")
        )
    elif kind == "list":
        out = F.concat(F.lit("["), F.array_join(c, ITEM_SEP), F.lit("]"))
    else:
        out = c
    return F.coalesce(out, F.lit(NULL_TEXT))


def checksum_df(df, kinds):
    """The one-row ``(c, n)`` checksum aggregate over ``id, o0..``."""
    text = F.concat_ws(FIELD_SEP, *[canon_col(F.col(f"o{i}"), k) for i, k in enumerate(kinds)])
    key = F.pmod(F.col("id") * A, F.lit(P)) + 1
    return df.select(
        F.sum(F.pmod(key * F.crc32(text), F.lit(P))).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


def _collect_checksum(df) -> list:
    row = df.collect()[0]
    return [int(row["c"] or 0), int(row["n"])]


def expected_checksum(corpus, outs) -> list:
    """The checksum over the corpus model. Row texts are computed once
    per distinct (document, key) pair, then gathered per row."""
    key_dep = any(o.uses_key for o in outs)
    code = corpus.doc_index * 8
    if key_dep:
        code = code + np.array([ROW_KEYS.index(k) for k in corpus.keys], dtype=np.int64)
    uniq, inverse = np.unique(code, return_inverse=True)
    hashes = np.empty(len(uniq), dtype=np.uint64)
    for u, c in enumerate(uniq.tolist()):
        root = corpus.roots[c // 8]
        key = ROW_KEYS[c % 8] if key_dep else None
        text = FIELD_SEP.join(canon(o.truth(root, key), o.kind) for o in outs)
        hashes[u] = zlib.crc32(text.encode("utf-8"))
    ids = np.arange(corpus.n_rows, dtype=np.uint64)
    keys = (ids * np.uint64(A)) % np.uint64(P) + np.uint64(1)
    total = int(((keys * hashes[inverse]) % np.uint64(P)).sum(dtype=np.uint64))
    return [total, corpus.n_rows]


def mismatches(q, ctx, corpus, limit=3) -> dict:
    """Rows where ``q`` differs from the model, counted per hostile
    class and output column, with a few examples; ``{}`` when none."""
    cls = {}
    for name, idx in getattr(corpus, "classes", {}).items():
        for i in idx:
            cls.setdefault(i, []).append(name)
    report = {}
    for row in q.detail(ctx).collect():
        i = row["id"]
        j = int(corpus.doc_index[i])
        for c, o in enumerate(q.outs):
            want = canon(o.truth(corpus.roots[j], corpus.keys[i]), o.kind)
            if row[f"o{c}"] != want:
                for name in cls.get(j, ["plain"]):
                    entry = report.setdefault(f"{name}/o{c}", {"rows": 0, "examples": []})
                    entry["rows"] += 1
                    if len(entry["examples"]) < limit:
                        entry["examples"].append(
                            {"id": i, "got": row[f"o{c}"], "want": want,
                             "doc": corpus.texts[j][:300]})
    return report


# -- query descriptions ------------------------------------------------------

@dataclass(frozen=True)
class Out:
    """One output column: what the documented semantics say it is."""

    truth: Callable  # (root, row_key) -> value
    kind: str        # str | int | float | bool | list
    uses_key: bool = False  # reads the per-row ``key`` column


@dataclass
class Query:
    """``build`` makes the DataFrame on the driver (expression build and
    analysis); ``collect`` runs its action and returns a result
    comparable with ``expected``, which JSON round-trips unchanged."""

    name: str
    build: Callable      # (ctx) -> DataFrame
    collect: Callable    # (DataFrame) -> result
    expected: Callable   # (corpus) -> result
    check: Callable = None  # (result, expected) -> bool; default ==
    outs: tuple = ()     # row queries: the output columns
    detail: Callable = None  # row queries: (ctx) -> canonical ``id, o0..``

    def ok(self, result, expected) -> bool:
        return self.check(result, expected) if self.check else result == expected


def row_query(name, outs, select):
    """A checksummed row-level query; ``select(ctx)`` returns the
    engine's DataFrame of ``id, o0..`` matching ``outs``."""
    kinds = [o.kind for o in outs]

    def detail(ctx):
        return select(ctx).select(
            "id", *[canon_col(F.col(f"o{i}"), k).alias(f"o{i}") for i, k in enumerate(kinds)]
        )

    return Query(
        name, lambda ctx: checksum_df(select(ctx), kinds), _collect_checksum,
        lambda c: expected_checksum(c, outs), outs=tuple(outs), detail=detail,
    )


def _group_order(row):
    return (row[0] is None, row[0] or "")


def _group_truth(corpus):
    """``filter json_contains(doc,'meta') group by json_get_str(doc,'type')
    agg sum(json_get_int(doc,'score')), count(*)``, as sorted
    ``[type, sum, count]`` rows."""
    weights = np.bincount(corpus.doc_index, minlength=len(corpus.roots))
    out = {}
    for j in np.nonzero(weights)[0].tolist():
        root = corpus.roots[j]
        if not T.contains(root, ("meta",)):
            continue
        t = T.get_str(root, ("type",))
        s, n = out.get(t, (None, 0))
        v = T.get_int(root, ("score",))
        if v is not None:
            s = (s or 0) + v * int(weights[j])
        out[t] = (s, n + int(weights[j]))
    return sorted(([t, s, n] for t, (s, n) in out.items()), key=_group_order)


def _collect_groups(df):
    return sorted(([r["t"], r["s"], r["n"]] for r in df.collect()), key=_group_order)


def analytics_query(name, build):
    return Query(name, build, _collect_groups, _group_truth)


# -- extract_repeated / extract_distinct -------------------------------------

def extract_queries(jsonf):
    """The Column-API and ``jsonf.col`` mix shared by both extract
    workloads: same plan shapes, different documents."""
    j = jsonf

    def analytics(ctx):
        return (
            ctx.df.filter(j.json_contains("doc", "meta"))
            .groupBy(j.json_get_str("doc", "type").alias("t"))
            .agg(F.sum(j.json_get_int("doc", "score")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
        )

    def multi(ctx):
        m = j.json_extract_multi("doc", {
            "name": ("str", "name"),
            "score": ("int", "score"),
            "price": ("float", "price"),
            "active": ("bool", "active"),
            "region": ("text", "meta", "region"),
            "ntags": ("length", "tags"),
        })
        return ctx.df.select("id", m.alias("m")).select(
            "id", *[F.col("m")[f].alias(f"o{i}") for i, f in
                    enumerate(("name", "score", "price", "active", "region", "ntags"))]
        )

    multi_outs = [
        Out(lambda r, k: T.get_str(r, ("name",)), "str"),
        Out(lambda r, k: T.get_int(r, ("score",)), "int"),
        Out(lambda r, k: T.get_float(r, ("price",)), "float"),
        Out(lambda r, k: T.get_bool(r, ("active",)), "bool"),
        Out(lambda r, k: T.as_text(r, ("meta", "region")), "str"),
        Out(lambda r, k: T.length(r, ("tags",)), "int"),
    ]

    def getters(ctx):
        c = j.col("doc")
        return ctx.df.select(
            "id",
            j.json_get_str("doc", "name").alias("o0"),
            j.json_get_int("doc", "seq").alias("o1"),
            j.json_get_float("doc", "price").alias("o2"),
            j.json_get_bool("doc", "active").alias("o3"),
            j.json_as_text("doc", "name").alias("o4"),
            j.json_as_text("doc", "payload").alias("o5"),
            j.json_get_json("doc", "meta").alias("o6"),
            j.json_get_json("doc", "price").alias("o7"),
            j.json_length("doc", "items").alias("o8"),
            j.json_object_keys("doc", "meta").alias("o9"),
            j.json_get_array("doc", "tags").alias("o10"),
            j.json_union_to_text(j.json_get("doc", "payload")).alias("o11"),
            c["meta"]["ver"].cast("bigint").alias("o12"),
            c["items"][0]["name"].cast("string").alias("o13"),
            j.json_get_str("doc", F.col("key")).alias("o14"),
        )

    return [
        row_query("multi_extract", multi_outs, multi),
        # typed getters, raw slices, containers, json_get ->
        # json_union_to_text, a jsonf.col chain with cast elision and one
        # column-path call, in one projection
        row_query("getters", [
            Out(lambda r, k: T.get_str(r, ("name",)), "str"),
            Out(lambda r, k: T.get_int(r, ("seq",)), "int"),
            Out(lambda r, k: T.get_float(r, ("price",)), "float"),
            Out(lambda r, k: T.get_bool(r, ("active",)), "bool"),
            Out(lambda r, k: T.as_text(r, ("name",)), "str"),
            Out(lambda r, k: T.as_text(r, ("payload",)), "str"),
            Out(lambda r, k: T.get_json(r, ("meta",)), "str"),
            Out(lambda r, k: T.get_json(r, ("price",)), "str"),
            Out(lambda r, k: T.length(r, ("items",)), "int"),
            Out(lambda r, k: T.object_keys(r, ("meta",)), "list"),
            Out(lambda r, k: T.get_array(r, ("tags",)), "list"),
            Out(lambda r, k: T.union_to_text(r, ("payload",)), "str"),
            Out(lambda r, k: T.get_int(r, ("meta", "ver")), "int"),
            Out(lambda r, k: T.get_str(r, ("items", 0, "name")), "str"),
            Out(lambda r, k: None if k is None else T.get_str(r, (k,)), "str", True),
        ], getters),
        analytics_query("analytics", analytics),
    ]


# -- sql_operators -------------------------------------------------------------

SQL_QUERIES = {
    # the operator sugar, rewritten by jsonf.sql
    "operators": (
        "jsonf",
        "select id, doc->'meta'->>'region' as o0, doc->>'name' as o1, "
        "doc ? 'tags' as o2, doc->'items'->0->>'name' as o3 from t",
        [("str", lambda r, k: T.as_text(r, ("meta", "region"))),
         ("str", lambda r, k: T.as_text(r, ("name",))),
         ("bool", lambda r, k: T.contains(r, ("tags",))),
         ("str", lambda r, k: T.as_text(r, ("items", 0, "name")))],
    ),
    # nested calls: the inner json_get's union struct is the argument
    "nested_union_arg": (
        "spark",
        "select id, json_get_str(json_get(doc, 'meta'), 'region') as o0, "
        "json_get_int(json_get(json_get(doc, 'items'), 0), 'qty') as o1, "
        "json_union_to_text(json_get(json_get(doc, 'meta'), 'ver')) as o2 from t",
        [("str", lambda r, k: T.get_str(r, ("meta", "region"))),
         ("int", lambda r, k: T.get_int(r, ("items", 0, "qty"))),
         ("str", lambda r, k: T.union_to_text(r, ("meta", "ver")))],
    ),
    "union_fns": (
        "spark",
        "select id, json_union_to_text(json_get(doc, 'payload')) as o0, "
        "json_is_null(json_get(doc, 'note')) as o1 from t",
        [("str", lambda r, k: T.union_to_text(r, ("payload",))),
         ("bool", lambda r, k: T.union_is_null(r, ("note",)))],
    ),
    # the path element comes from the per-row ``key`` column
    "column_path": (
        "spark",
        "select id, json_get_str(doc, key) as o0, json_get_json(doc, key) as o1 from t",
        [("str", lambda r, k: None if k is None else T.get_str(r, (k,))),
         ("str", lambda r, k: None if k is None else T.get_json(r, (k,)))],
    ),
    "typed_casts": (
        "jsonf",
        "select id, cast(doc->'score' as bigint) as o0, cast(doc->'price' as double) as o1, "
        "cast(doc->'active' as boolean) as o2, json_length(doc, 'items') as o3, "
        "json_object_keys(doc, 'meta') as o4 from t",
        [("int", lambda r, k: T.get_int(r, ("score",))),
         ("float", lambda r, k: T.get_float(r, ("price",))),
         ("bool", lambda r, k: T.get_bool(r, ("active",))),
         ("int", lambda r, k: T.length(r, ("items",))),
         ("list", lambda r, k: T.object_keys(r, ("meta",)))],
    ),
}

SQL_ANALYTICS = (
    "select json_get_str(doc, 'type') as t, sum(json_get_int(doc, 'score')) as s, "
    "count(*) as n from t where doc ? 'meta' group by 1"
)


SQL_SURFACE = (
    "select id, doc->'meta'->>'region' as o0, doc->>'name' as o1, doc ? 'tags' as o2, "
    "json_union_to_text(json_get(doc, 'payload')) as o3, "
    "json_is_null(json_get(doc, 'note')) as o4, json_get_str(doc, key) as o5, "
    "cast(doc->'score' as bigint) as o6 from t"
)


def sql_surface_query(jsonf):
    """One ``jsonf.sql`` query over the registered SQL functions: added
    to ``extract_repeated`` so the SQL surface is timed beside the
    Column API on the same corpus."""
    outs = [
        Out(lambda r, k: T.as_text(r, ("meta", "region")), "str"),
        Out(lambda r, k: T.as_text(r, ("name",)), "str"),
        Out(lambda r, k: T.contains(r, ("tags",)), "bool"),
        Out(lambda r, k: T.union_to_text(r, ("payload",)), "str"),
        Out(lambda r, k: T.union_is_null(r, ("note",)), "bool"),
        Out(lambda r, k: None if k is None else T.get_str(r, (k,)), "str", True),
        Out(lambda r, k: T.get_int(r, ("score",)), "int"),
    ]
    return row_query("sql_surface", outs, lambda ctx: jsonf.sql(ctx.spark, SQL_SURFACE))


def sql_queries(jsonf):
    def runner(surface, text):
        if surface == "jsonf":
            return lambda ctx: jsonf.sql(ctx.spark, text)
        return lambda ctx: ctx.spark.sql(text)

    out = [analytics_query("analytics", runner("jsonf", SQL_ANALYTICS))]
    for name, (surface, text, spec) in SQL_QUERIES.items():
        outs = [Out(fn, kind, name == "column_path") for kind, fn in spec]
        out.append(row_query(name, outs, runner(surface, text)))
    return out


# -- dedup_docs ----------------------------------------------------------------

def dedup_queries(ops, verifier):
    """``minhash_dup_pairs``, ``simhash_dup_pairs`` and one text
    projection. Pair results are checked by ``verifier`` (see
    :mod:`dedupref`), the projection by checksum."""
    dedup, text = ops.dedup, ops.text

    def collect_pairs(df):
        try:
            return sorted(list(r) for r in df.collect())
        finally:
            df.unpersist()  # the operators cache their eager result

    def text_stats(ctx):
        return ctx.df.select(
            "id", text.token_count("text").alias("o0"),
            F.size(text.lines("text")).alias("o1"),
        )

    stats_outs = [
        Out(lambda doc, k: len(doc.split()), "int"),
        Out(lambda doc, k: sum(1 for ln in doc.split("\n") if ln.strip(" ")), "int"),
    ]
    return [
        row_query("text_stats", stats_outs, text_stats),
        Query("minhash_pairs",
              lambda ctx: dedup.minhash_dup_pairs(ctx.df, "id", "text"),
              collect_pairs, lambda c: None, lambda res, _: verifier.check_minhash(res)),
        Query("simhash_pairs",
              lambda ctx: dedup.simhash_dup_pairs(ctx.df, "id", "text"),
              collect_pairs, lambda c: None, lambda res, _: verifier.check_simhash(res)),
    ]


# -- the registry ------------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    corpus: str       # generator name in :mod:`corpus`
    rows: int         # input rows (documents for dedup_docs)
    queries: Callable  # (jsonf, ops, verifier) -> [Query]
    json: bool = True  # the JSON layers do the work


WORKLOADS = {
    "extract_repeated": Workload(
        "repeated", 20_000,
        lambda j, o, v: extract_queries(j) + [sql_surface_query(j)]),
    "extract_distinct": Workload(
        "distinct", 10_000, lambda j, o, v: extract_queries(j)),
    # the full SQL-surface mix; not in BENCHMARK.json (see README.md)
    "sql_operators": Workload(
        "repeated", 100_000, lambda j, o, v: sql_queries(j)),
    "dedup_docs": Workload(
        "documents", 500, lambda j, o, v: dedup_queries(o, v), json=False),
}
