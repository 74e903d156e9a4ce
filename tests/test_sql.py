"""SQL-registered surface (reference: src/lib.rs:69-96 register_all) —
named functions replace the ->/->>/? operators (SURVEY.md §2.2)."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    jsonf.register_all(spark)


class TestSqlSurface:
    def test_basic_query(self, spark, test_df):
        rows = spark.sql(
            """
            select name,
                   json_get_str(json_data, 'foo')  as s,
                   json_as_text(json_data, 'foo')  as t,
                   json_contains(json_data, 'foo') as c,
                   json_length(json_data)          as l
            from test order by name
            """
        ).collect()
        got = {r.name: (r.s, r.t, r.c, r.l) for r in rows}
        assert got["object_foo"] == ("abc", "abc", True, 1)
        assert got["object_foo_null"] == (None, None, True, 1)
        assert got["invalid_json"] == (None, None, False, None)

    def test_aliases(self, spark, test_df):
        r = spark.sql(
            "select json_len(json_data) a, json_keys(json_data) b from test "
            "where name = 'object_foo'"
        ).collect()[0]
        assert (r.a, r.b) == (1, ["foo"])

    def test_union_in_sql(self, spark, test_df):
        rows = spark.sql(
            """
            select name,
                   json_union_to_text(json_get(json_data, 'foo')) as t,
                   json_is_null(json_get(json_data, 'foo'))       as n
            from test order by name
            """
        ).collect()
        got = {r.name: (r.t, r.n) for r in rows}
        assert got["object_foo"] == ('"abc"', False)
        assert got["object_foo_null"] == (None, True)
        assert got["object_bar"] == (None, True)

    def test_where_and_group_by(self, spark, test_df):
        # reference: tests/main.rs:560-614
        rows = spark.sql(
            """
            select json_contains(json_data, 'foo') as has, count(*) as n
            from test group by 1 order by 1
            """
        ).collect()
        assert [(r.has, r.n) for r in rows] == [(False, 3), (True, 4)]

    def test_column_keys_from_sql(self, spark, other_df):
        # reference: tests/main.rs:413-436
        rows = spark.sql(
            """
            select json_get_int(json_data, str_key) a,
                   json_get_int(json_data, int_key) b
            from other
            """
        ).collect()
        assert [(r.a, r.b) for r in rows] == [
            (42, None),
            (None, None),
            (None, 42),
            (None, None),
        ]

    def test_nested_union_input_sql(self, spark):
        # reference: union-typed first argument continues the lookup
        # (nested call in SQL, no un-nesting rewrite available there)
        df = spark.createDataFrame(
            [('{"a": {"b": 7}}',), ('{"a": "scalar"}',)], "j string"
        )
        df.createOrReplaceTempView("nested_u")
        rows = spark.sql(
            """
            select json_union_to_text(json_get(json_get(j, 'a'), 'b')) v,
                   json_is_null(json_get(json_get(j, 'a'), 'b')) n
            from nested_u
            """
        ).collect()
        assert [(r.v, r.n) for r in rows] == [("7", False), (None, True)]

    def test_multi_literal_path_sql(self, spark):
        df = spark.createDataFrame([('{"a": {"b": [9]}}',)], "j string")
        df.createOrReplaceTempView("deep")
        assert (
            spark.sql("select json_get_int(j, 'a', 'b', 0L) v from deep").collect()[0].v
            == 9
        )


_BIG = st.integers(min_value=10**18, max_value=2**63 - 1)  # 19 digits
_SCALARS = st.one_of(
    _BIG,
    st.integers(min_value=2**63, max_value=10**20),  # beyond i64
    st.integers(min_value=-(10**6), max_value=10**6),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=6),
    st.booleans(),
    st.none(),
)
_VALUES = st.recursive(
    _SCALARS,
    lambda c: st.lists(c, max_size=3)
    | st.dictionaries(st.sampled_from("pqr"), c, max_size=3),
    max_leaves=6,
)
_DOCS = st.one_of(
    st.dictionaries(st.sampled_from("pqr"), _VALUES, max_size=3).map(json.dumps),
    st.sampled_from(["not json", '{"p": ', ""]),
    st.none(),
)
_ROWS = st.lists(
    st.tuples(
        _DOCS,
        st.sampled_from(["p", "q", "r", None]),
        st.one_of(st.none(), _BIG, st.integers(-5, 5)),
        st.one_of(st.none(), st.text(max_size=4)),
    ),
    max_size=25,
)


class TestSqlEqualsColumnApi:
    """One generated corpus through the registered SQL functions and
    through the Column API gives equal rows, for every function. One
    partition, so mixed member types share an Arrow batch; the fixed
    head rows put a 19-digit int next to a string and a null."""

    _HEAD = [
        ('{"p": 1577992117811021379, "q": {"r": [1, 2]}}', "p", 1577992117811021379, "s"),
        ('{"p": "x", "q": {"r": 1577992117811021379}}', "q", None, None),
        ('{"p": null, "q": [1]}', None, -3, "t"),
        (None, "p", None, None),
    ]

    _SQL = """
        select json_get(j, 'p'), json_get_str(j, 'p'), json_get_int(j, 'p'),
               json_get_float(j, 'p'),
               json_get_bool(j, 'p'), json_get_json(j, 'p'),
               json_get_array(j, 'p'), json_as_text(j, 'p'),
               json_contains(j, 'p'), json_length(j), json_length(j, 'q'),
               json_object_keys(j), json_object_keys(j, 'q'),
               json_get(j, k), json_get_int(j, k), json_as_text(j, k),
               json_get(json_get(j, 'q'), 'r'),
               json_union_to_text(json_get(json_get(j, 'q'), 'r')),
               json_union_to_text(json_get(j, 'p')),
               json_is_null(json_get(j, 'p')),
               json_from_scalar(n), json_from_scalar(s),
               json_union_to_text(json_from_scalar(n)),
               json_is_null(json_from_scalar(s)),
               json_get(j, 'p').int
        from sql_api_eq order by id
    """

    @staticmethod
    def _api(df):
        j, k = "j", F.col("k")
        return df.orderBy("id").select(
            jsonf.json_get(j, "p"), jsonf.json_get_str(j, "p"),
            jsonf.json_get_int(j, "p"), jsonf.json_get_float(j, "p"), jsonf.json_get_bool(j, "p"),
            jsonf.json_get_json(j, "p"), jsonf.json_get_array(j, "p"),
            jsonf.json_as_text(j, "p"), jsonf.json_contains(j, "p"),
            jsonf.json_length(j), jsonf.json_length(j, "q"),
            jsonf.json_object_keys(j), jsonf.json_object_keys(j, "q"),
            jsonf.json_get(j, k), jsonf.json_get_int(j, k),
            jsonf.json_as_text(j, k),
            jsonf.json_get(jsonf.json_get(j, "q"), "r"),
            jsonf.json_union_to_text(jsonf.json_get(jsonf.json_get(j, "q"), "r")),
            jsonf.json_union_to_text(jsonf.json_get(j, "p")),
            jsonf.json_is_null(jsonf.json_get(j, "p")),
            jsonf.json_from_scalar("n"), jsonf.json_from_scalar("s"),
            jsonf.json_union_to_text(jsonf.json_from_scalar("n")),
            jsonf.json_is_null(jsonf.json_from_scalar("s")),
        )

    @settings(max_examples=12, deadline=None)
    @given(rows=_ROWS)
    def test_same_rows_on_both_surfaces(self, spark, rows):
        data = [(i, *r) for i, r in enumerate(self._HEAD + rows)]
        df = spark.createDataFrame(
            data, "id int, j string, k string, n bigint, s string"
        ).coalesce(1)
        df.createOrReplaceTempView("sql_api_eq")
        sql_rows = [tuple(r) for r in spark.sql(self._SQL).collect()]
        api_rows = [tuple(r) for r in self._api(df).collect()]
        assert [r[:-1] for r in sql_rows] == api_rows
        # SQL's `.int` (a JVM field read) against the Column API struct
        assert [r[-1] for r in sql_rows] == [r[0] and r[0].int for r in api_rows]
        assert sql_rows[0][-1] == 1577992117811021379


class TestSqlPlanErrors:
    """The reference's argument checks, enforced on the registered SQL
    surface via Arrow argument types (reference: tests/main.rs:291-298,
    src/common.rs:106-141)."""

    def test_null_literal_path_raises(self, spark, test_df):
        # reference tests/main.rs:291-298 — untyped NULL literal path is
        # rejected with the planning message (here at execution: Spark has
        # no plan hook for Python functions, but Arrow's `null` type still
        # identifies the VOID literal exactly).
        with pytest.raises(Exception, match=r"Unexpected argument type to 'json_get_str' at position 2, expected string or int, got Null\."):
            spark.sql("select json_get_str(json_data, null) from test").collect()

    def test_typed_null_path_is_not_an_error(self, spark, test_df):
        # cast(null as string) has DataType Utf8 in the reference too:
        # planning passes, lookup yields NULL rows (ScalarValue::Utf8(None)
        # => JsonPath::None, reference src/common.rs:120-127).
        rows = spark.sql(
            "select json_get_str(json_data, cast(null as string)) v from test"
        ).collect()
        assert all(r.v is None for r in rows)

    def test_non_string_int_path_raises(self, spark, test_df):
        with pytest.raises(Exception, match="expected string or int"):
            spark.sql("select json_get_str(json_data, 1.5) from test").collect()

    def test_multi_path_with_column_raises(self, spark):
        # reference tests/main.rs:1095-1103 test_multiple_lookup_arrays.
        # Single partition so the varying key columns share one Arrow batch
        # (detection is batch-local; a 1-row batch can't prove column-ness).
        df = spark.createDataFrame(
            [('{"a":{"aa":"x"}}', "a", "aa"), ('{"b":{"bb":"y"}}', "b", "bb")],
            "j string, k1 string, k2 string",
        ).coalesce(1)
        df.createOrReplaceTempView("multi_col_path")
        with pytest.raises(Exception, match="More than 1 path element is not supported when querying JSON using an array\\."):
            spark.sql("select json_get_str(j, k1, k2) from multi_col_path").collect()

    def test_nested_get_is_the_sanctioned_alternative(self, spark):
        # reference tests/main.rs:1105+ test_json_get_union_array_nested —
        # chaining single-column lookups stays legal.
        df = spark.createDataFrame(
            [('{"a":{"aa":"x"}}', "a", "aa"), ('{"b":{"bb":"y"}}', "b", "bb")],
            "j string, k1 string, k2 string",
        ).coalesce(1)
        df.createOrReplaceTempView("nested_col_path")
        rows = spark.sql(
            "select json_union_to_text(json_get(json_get(j, k1), k2)) v "
            "from nested_col_path"
        ).collect()
        assert sorted(r.v for r in rows) == ['"x"', '"y"']

    def test_single_column_path_still_per_row(self, spark, other_df):
        # one column path element remains fully supported (reference
        # src/common.rs:113-118 split_first array arm).
        rows = spark.sql(
            "select json_get_int(json_data, str_key) v from other"
        ).collect()
        assert any(r.v is not None for r in rows)


class TestRegisterPipeline:
    """The SQL-UDF pipeline surface must be value-identical to the
    Column API over the shared testdata."""

    def test_equivalent_to_column_api(self, spark):
        from pyspark.sql import functions as F

        from datafusion_functions_json_spark.operators import text
        from datafusion_functions_json_spark.register import register_pipeline
        from datafusion_functions_json_spark.sources import load_table

        register_pipeline(spark)
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        docs.createOrReplaceTempView("_rp_docs")
        sql_out = spark.sql(
            "select doc_id, text_token_count(text) tc, "
            "text_pretoken_count(text) pc, text_normalize(text) nz, "
            "text_lang_id(text) li, text_quality_score(text) qs "
            "from _rp_docs"
        )
        col_out = docs.select(
            "doc_id",
            text.token_count("text").alias("tc"),
            text.pretoken_count("text").alias("pc"),
            text.normalize_text("text").alias("nz"),
            text.lang_id("text").alias("li"),
            F.round(text.quality_score("text"), 6).alias("qs"),
        )
        a = {r.doc_id: r[1:] for r in sql_out.collect()}
        b = {r.doc_id: r[1:] for r in col_out.collect()}
        assert a == b

    def test_inlined_no_python(self, spark):
        from datafusion_functions_json_spark.register import register_pipeline

        register_pipeline(spark)
        df = spark.sql(
            "select text_lang_id('the cat is on the mat and it is fine') as l"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert df.collect()[0].l == "en"

    def test_canonical_url_sql_matches_column_api(self, spark):
        from datafusion_functions_json_spark.operators import text
        from datafusion_functions_json_spark.register import register_pipeline

        register_pipeline(spark)
        urls = [
            "HTTPS://WWW.Ex.COM:443/Path/?utm_source=x&b=2&a=1#f",
            "HTTP://Host.ORG:80/q/deep?z=1&referrer=keep#t",
            "https://a.com/A?ref=x&Ref=keepcase",
            "https://a.com:8443/?utm_a=1&gclid=2",
            "WWW.Ex.com/p",
            "http://a.com:443/x",
            "\thttp://A.com/p#f\nleftover",
            "",
        ]
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, u string"
        )
        df.createOrReplaceTempView("_rp_urls")
        a = {
            r.i: r.c
            for r in spark.sql(
                "select i, text_canonical_url(u) c from _rp_urls"
            ).collect()
        }
        b = {
            r.i: r.c
            for r in df.select(
                "i", text.canonical_url("u").alias("c")
            ).collect()
        }
        assert a == b
        assert a[0] == "https://ex.com/Path?a=1&b=2"


class TestFromScalarNullParity:
    def test_sql_is_null_matches_python_api(self, spark):
        # typed NULL input: the SQL surface must produce a WHOLE-struct
        # NULL (IS NULL true), matching the Python API and the reference
        import datafusion_functions_json_spark as jsonf

        jsonf.register_all(spark)
        spark.createDataFrame(
            [(7,), (None,)], "i bigint"
        ).createOrReplaceTempView("fs_null_t")
        rows = spark.sql(
            "select json_from_scalar(i) is null as isn, "
            "json_union_to_text(json_from_scalar(i)) as txt "
            "from fs_null_t order by isn"
        ).collect()
        assert [(r.isn, r.txt) for r in rows] == [(False, "7"), (True, None)]


class TestAutoTier:
    """register_all(auto_tier=True): canonical SQL names route to the
    Catalyst-inlined variant tier when the JsonProfile says the variant
    semantics are safe; the displaced exact implementations stay
    reachable as <name>_exact and answers agree inside the envelope."""

    ROUTED = [
        "json_get_str",
        "json_get_int",
        "json_get_float",
        "json_get_bool",
        "json_get_json",
        "json_get_array",
        "json_as_text",
        "json_contains",
    ]

    # envelope-conformant corpus: plain object keys, no trailing
    # garbage, consistently-typed values at each queried path, no
    # integral floats, minified containers (exact raw slices == variant
    # re-serialization on such docs)
    DOCS = [
        '{"k":"abc","n":42,"b":true,"f":0.5,"arr":[1,"x",null],"o":{"in":1}}',
        '{"k":null,"n":null,"b":null,"f":null,"arr":null,"o":null}',
        '{"other":1}',
        ' {"k":"ws","n":-7,"b":false,"f":-2.25,"arr":[],"o":{}}',
        "not json",
        "",
        None,
    ]
    PATH_FOR = {
        "json_get_str": "k",
        "json_get_int": "n",
        "json_get_float": "f",
        "json_get_bool": "b",
        "json_get_json": "o",
        "json_get_array": "arr",
        "json_as_text": "k",
        "json_contains": "k",
    }

    def test_routed_names_match_exact_and_are_python_free(self, spark):
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark.plans import explain_str

        spark.createDataFrame(
            [(i, d) for i, d in enumerate(self.DOCS)], "id int, j string"
        ).createOrReplaceTempView("auto_tier_t")
        routed = jsonf.register_all(spark, auto_tier=True)
        try:
            assert routed == self.ROUTED
            for fn in self.ROUTED:
                key = self.PATH_FOR[fn]
                got = spark.sql(
                    f"select id, {fn}(j, '{key}') as v "
                    "from auto_tier_t order by id"
                )
                want = spark.sql(
                    f"select id, {fn}_exact(j, '{key}') as v "
                    "from auto_tier_t order by id"
                ).collect()
                assert [tuple(r) for r in got.collect()] == [
                    tuple(r) for r in want
                ], fn
                # the routed plan is pure JVM: no Python/Arrow eval hop
                plan = explain_str(got)
                assert "EvalPython" not in plan, (fn, plan)
        finally:
            jsonf.register_all(spark)  # restore the reference-exact surface

    def test_operator_rewriter_composes_with_auto_tier(self, spark):
        # jsonf.sql's ->/->>/? rewriter emits canonical names; under
        # auto_tier those have a fixed (j, k) STRING-key signature, so
        # the rewriter must keep routed names only for single-string-key
        # calls and steer chains / int indexes / nested operands to
        # <name>_exact — same answers, no arity or semantics break
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark.plans import explain_str

        spark.createDataFrame(
            [('{"k": 7, "a": {"b": 5}, "arr": [10, 11]}',)], "j string"
        ).createOrReplaceTempView("compose_t")
        queries = [
            # (query, expected single row)
            ("select j->>'k' as v from compose_t", "7"),
            ("select (j->'a'->'b')::int as v from compose_t", 5),
            ("select j->'a'->>'b' as v from compose_t", "5"),
            ("select j->>0 as v from compose_t", None),  # non-array doc
            ("select j->'arr'->>0 as v from compose_t", "10"),
            ("select j ? 'k' as v from compose_t", True),
            # guard-char literal key: routed body would raise_error at
            # runtime where the exact tier answers NULL (review finding)
            ("select j->>'a.b' as v from compose_t", None),
            ("select j ? 'x.y' as v from compose_t", False),
            # user-written function-form calls (not operator-emitted):
            # multi-key and int-index shapes must also take the escape
            ("select json_get_int(j, 'a', 'b') as v from compose_t", 5),
            ("select json_as_text(j, 0) as v from compose_t", None),
        ]
        # exact surface answers first
        jsonf.register_all(spark)
        want = [
            jsonf.sql(spark, q).collect()[0].v for q, _ in queries
        ]
        assert want == [exp for _, exp in queries]
        routed = jsonf.register_all(spark, auto_tier=True)
        try:
            assert routed
            for (q, _), w in zip(queries, want):
                df = jsonf.sql(spark, q)
                assert df.collect()[0].v == w, q
            # the single-string-key form actually rides the routed tier
            plan = explain_str(jsonf.sql(spark, "select j->>'k' from compose_t"))
            assert "EvalPython" not in plan
            # inner call EMBEDDED into an outer call's arg text must
            # already carry the right name (review finding: a post-pass
            # over top-level tokens missed it — int index 0 silently
            # became object key '0' on the routed tier)
            spark.createDataFrame(
                [('[{"k": 9}, 2]',)], "j string"
            ).createOrReplaceTempView("compose_arr_t")
            for chain in ("(j->>0)->>'k'", "(j->0)->>'k'"):
                assert (
                    jsonf.sql(
                        spark,
                        f"select {chain} as v from compose_arr_t",
                    ).collect()[0].v
                    == "9"
                ), chain
            # the chained form fell back to the exact escape (rewrite
            # text check — session-independent)
            from datafusion_functions_json_spark.sql import rewrite_sql

            txt = rewrite_sql(
                "select (j->'a'->'b')::int from t", routed=tuple(routed)
            )
            assert "json_get_int_exact(" in txt, txt
            txt2 = rewrite_sql("select j->>'k' from t", routed=tuple(routed))
            assert "json_as_text(" in txt2 and "_exact" not in txt2, txt2
        finally:
            jsonf.register_all(spark)

    def test_mid_routing_failure_restores_exact_surface(self, spark):
        # round-12 review: if a CREATE fails mid-routing (SQL UDFs
        # unavailable/restricted), the dropped canonical name and every
        # already-routed name must be restored to the exact tier — the
        # session must never be left with unresolved functions
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark import register as regmod

        real_sql = type(spark).sql
        calls = {"n": 0}

        def failing_sql(self_, q, *a, **kw):
            if q.startswith("CREATE OR REPLACE TEMPORARY FUNCTION"):
                calls["n"] += 1
                if calls["n"] == 3:  # fail on the third routed name
                    raise RuntimeError("SQL UDFs restricted")
            return real_sql(self_, q, *a, **kw)

        try:
            try:
                type(spark).sql = failing_sql
                with pytest.raises(RuntimeError, match="restricted"):
                    jsonf.register_all(spark, auto_tier=True)
            finally:
                type(spark).sql = real_sql
            # every canonical name (routed-then-restored, dropped, or
            # never reached) still resolves with its VARIADIC exact
            # signature — a leftover routed (j, k) SQL UDF would throw
            # an arity AnalysisException on the 3-arg call
            spark.createDataFrame(
                [('{"k": 5, "a": {"b": 2}} trailing',)], "j string"
            ).createOrReplaceTempView("rollback_t")
            for fn in regmod._AUTO_TIER_BODY:
                spark.sql(
                    f"select {fn}(j, 'a', 'b') as v from rollback_t"
                ).collect()
            # exact-tier semantics confirmed: the trailing-garbage doc
            # still parses (the variant tier would yield NULL)
            assert (
                spark.sql("select json_get_int(j, 'k') v from rollback_t")
                .collect()[0]
                .v
                == 5
            )
        finally:
            jsonf.register_all(spark)  # restore the default surface

    def test_guard_chars_route_to_exact(self, spark):
        # the Python-side _JSONPATH_UNSAFE set must stay in sync with
        # the RLIKE class in _JSONPATH_GUARD: every unsafe char both
        # (a) trips the SQL guard's raise_error on the routed tier and
        # (b) makes the rewriter emit <name>_exact instead
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark import register as regmod
        from datafusion_functions_json_spark.sql import rewrite_sql

        routed = jsonf.register_all(spark, auto_tier=True)
        try:
            for ch in regmod._JSONPATH_UNSAFE:
                key_sql = ("x" + ch + "y").replace("'", "''")
                with pytest.raises(Exception, match="not expressible"):
                    spark.sql(
                        f"select json_get_int('{{}}', '{key_sql}')"
                    ).collect()
                # (b) the rewriter steers the same literal to _exact
                txt = rewrite_sql(
                    f"select j->>'{key_sql}' from t", routed=tuple(routed)
                )
                assert "json_as_text_exact(" in txt, (ch, txt)
        finally:
            jsonf.register_all(spark)

    def test_empty_key_unroutable(self, spark):
        # round-13 ADVICE: '' slipped through both guards — _routed_fits
        # accepted it (len==2 quote-delimited, no unsafe chars) and the
        # RLIKE guard never trips on an empty string, so the routed body
        # built JSONPath '$.' and crashed (INVALID_VARIANT_GET_PATH)
        # where the exact tier answers. Pins: (a) the SQL guard now
        # raises the descriptive error, (b) the rewriter steers j->>''
        # to <name>_exact, (c) end-to-end jsonf.sql and the exact tier
        # both return the value of the empty-string key
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark.sql import rewrite_sql

        routed = jsonf.register_all(spark, auto_tier=True)
        try:
            with pytest.raises(Exception, match="not expressible"):
                spark.sql(
                    "select json_get_int('{\"\":5}', '')"
                ).collect()
            txt = rewrite_sql("select j->>'' from t", routed=tuple(routed))
            assert "json_as_text_exact(" in txt, txt
            spark.createDataFrame(
                [('{"":5}',)], "j string"
            ).createOrReplaceTempView("empty_key_t")
            assert (
                jsonf.sql(spark, "select j->>'' as v from empty_key_t")
                .collect()[0]
                .v
                == "5"
            )
            assert (
                spark.sql(
                    "select json_get_int_exact(j, '') as v from empty_key_t"
                )
                .collect()[0]
                .v
                == 5
            )
        finally:
            jsonf.register_all(spark)

    def test_parser_extension_probe_negative_on_stock_session(self, spark):
        # the auto_tier x parse-time-rewriter guard must NOT trip on a
        # stock session: the conf is unset and the parser rejects ->>
        from datafusion_functions_json_spark.register import (
            _parser_extension_state,
        )

        assert _parser_extension_state(spark) is None

    def test_auto_tier_refuses_legacy_parser_rewriter(
        self, spark, monkeypatch
    ):
        # a conf-blind parse-time rewriter (old jsonsparkext jar or any
        # third-party ->-rewriter) combined with routing is the silent
        # wrong-answer envelope of VERDICT r12 — register_all must
        # refuse loudly and leave the session's surface untouched
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark import register as regmod

        monkeypatch.setattr(
            regmod, "_parser_extension_state", lambda s: "legacy"
        )
        with pytest.raises(ValueError, match="routed-names conf"):
            jsonf.register_all(spark, auto_tier=True)
        monkeypatch.setattr(
            regmod, "_parser_extension_state", lambda s: "aware"
        )
        try:
            assert jsonf.register_all(spark, auto_tier=True)
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)

    def test_strict_profile_routes_nothing(self, spark):
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark.functions.native import (
            JsonProfile,
        )

        try:
            routed = jsonf.register_all(
                spark, auto_tier=True, json_profile=JsonProfile.strict()
            )
            assert routed == []
            # canonical name still the exact tier: trailing-garbage doc
            # parses leading value (variant tier would yield NULL)
            spark.createDataFrame(
                [('{"k": 5} trailing',)], "j string"
            ).createOrReplaceTempView("strict_t")
            assert (
                spark.sql("select json_get_int(j, 'k') v from strict_t")
                .collect()[0]
                .v
                == 5
            )
        finally:
            jsonf.register_all(spark)
