"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The first group needs no Spark session; the tests marked ``spark``
start one (about a minute in all).
"""

from __future__ import annotations

import dataclasses
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

import datafusion_functions_json_spark as jsonf  # noqa: E402
from datafusion_functions_json_spark import operators as ops  # noqa: E402
from perfbench import corpus as C  # noqa: E402
from perfbench import dedupref, run, trace, truth as T, workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- inputs ----------------------------------------------------------------

@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_bytes(tmp_path, name):
    wl = dataclasses.replace(W.WORKLOADS[name], rows=300)
    queries = wl.queries(jsonf, ops, None)
    dirs = []
    for i in range(2):
        d, _ = run.prepare(name, wl, 7, queries, root=tmp_path / str(i))
        dirs.append(d)
    files = sorted(p.relative_to(dirs[0]) for p in dirs[0].rglob("*") if p.is_file())
    assert files and files == sorted(p.relative_to(dirs[1]) for p in dirs[1].rglob("*") if p.is_file())
    for f in files:
        assert (dirs[0] / f).read_bytes() == (dirs[1] / f).read_bytes(), f
    other, _ = run.prepare(name, wl, 8, queries, root=tmp_path / "2")
    assert (other / "truth.json").read_bytes() != (dirs[0] / "truth.json").read_bytes()


def _first_wins(pairs):
    return dict(reversed(pairs))


def _py_lookup(doc, path):
    """Independent reading of a valid document with Python's json."""
    for p in path:
        if isinstance(p, str):
            if not isinstance(doc, dict) or p not in doc:
                return "MISSING"
            doc = doc[p]
        else:
            if not isinstance(doc, list) or not 0 <= p < len(doc):
                return "MISSING"
            doc = doc[p]
    return doc


@pytest.fixture(scope="module")
def distinct():
    return C.gen_distinct(3, 4000)


PATHS = [("name",), ("type",), ("score",), ("seq",), ("price",), ("active",),
         ("payload",), ("meta", "region"), ("items", 0, "name"), ("note",), ("tags",)]


@pytest.mark.parametrize("cls", ["escape", "big_int", "dup_key", "huge", "trailing_garbage"])
def test_model_matches_the_written_text(distinct, cls):
    """For valid documents the model's values are what Python's parser
    reads from the text, duplicate keys resolved first-wins."""
    idx = distinct.classes[cls]
    assert idx, f"no {cls} documents at this size"
    for i in idx[:50]:
        text = distinct.texts[i]
        if cls == "trailing_garbage":
            text = text[: text.rindex("}") + 1]
        doc = json.loads(text, object_pairs_hook=_first_wins)
        for path in PATHS:
            want = _py_lookup(doc, path)
            node = T.lookup(distinct.roots[i], path)
            if want == "MISSING":
                assert node is None
            elif isinstance(want, (dict, list)):
                assert json.loads(node[2], object_pairs_hook=_first_wins) == want
            else:
                assert node[1] == want and type(node[1]) is type(want)


def test_hostile_class_semantics():
    """The documented semantics on one hand-built case per class."""
    esc = T.jstr('a"bé', '"a\\"b\\u00e9"')
    big = T.jint(12345678901234567890123)
    in_range = T.jint(-1234567890123456789)
    root = T.jobj([
        ("name", esc), ("seq", big), ("small", in_range), ("name", T.jstr("second")),
        ("neg", T.jint(-5)), ("f", T.jfloat("4.2e-1")), ("n", T.JNULL),
    ])
    # escapes: decoded for str/text, verbatim for raw JSON
    assert T.get_str(root, ("name",)) == 'a"bé'
    assert T.as_text(root, ("name",)) == 'a"bé'
    assert T.get_json(root, ("name",)) == '"a\\"b\\u00e9"'
    assert T.union_to_text(root, ("name",)) == '"a\\"bé"'
    # 19+-digit integers: out of i64 -> NULL / null arm, raw text kept
    assert T.get_int(root, ("seq",)) is None
    assert T.get_float(root, ("seq",)) == float(12345678901234567890123)
    assert T.as_text(root, ("seq",)) == "12345678901234567890123"
    assert T.union_to_text(root, ("seq",)) is None
    assert T.union_is_null(root, ("seq",)) is True
    assert T.get_int(root, ("small",)) == -1234567890123456789
    assert T.get_int(root, ("neg",)) == -5  # documented deviation: negatives returned
    # duplicate keys: first wins, both listed and counted
    assert T.get_str(root, ("name",)) != "second"
    assert T.object_keys(root, ()).count("name") == 2
    assert T.length(root, ()) == 7
    # floats: raw spelling for raw slices, canonical for the union
    assert T.get_json(root, ("f",)) == "4.2e-1"
    assert T.as_text(root, ("f",)) == "4.2e-1"
    assert T.union_to_text(root, ("f",)) == "0.42"
    # JSON null: present for contains, NULL for text, null arm
    assert T.contains(root, ("n",)) and T.as_text(root, ("n",)) is None
    assert T.get_json(root, ("n",)) == "null"
    # invalid at a member: earlier members answer, the rest miss
    broken = ("broken", [("a", T.jint(1)), ("b", T.jobj([("c", T.jint(2))]))], '{"a": 1, "b": {"c": 2}, "d":')
    assert T.get_int(broken, ("a",)) == 1
    assert T.get_int(broken, ("b", "c")) == 2
    assert not T.contains(broken, ("d",))
    assert T.length(broken, ()) is None and T.object_keys(broken, ()) is None
    assert T.get_str(None, ("a",)) is None and not T.contains(None, ())


def _reject_constant(token):
    raise ValueError(token)


def test_invalid_documents_are_invalid(distinct):
    for cls in ("invalid", "not_json"):
        for i in distinct.classes[cls]:
            with pytest.raises(ValueError):
                json.loads(distinct.texts[i], parse_constant=_reject_constant)
    for i in distinct.classes["invalid"]:
        root = distinct.roots[i]
        assert root[0] == "broken" and distinct.texts[i].startswith(root[2][:10])


def test_rust_style_coercions():
    assert T.rust_parse_int("123") == 123 and T.rust_parse_int("-7") == -7
    assert T.rust_parse_int("1.5") is None and T.rust_parse_int(" 1") is None
    assert T.rust_parse_int(str(2**63)) is None
    assert T.rust_parse_float("1e3") == 1000.0 and T.rust_parse_float("-inf") == -math.inf
    assert T.rust_parse_float("1_0") is None and T.rust_parse_float(" 1") is None
    assert T.rust_parse_bool("true") is True and T.rust_parse_bool("True") is None


def test_checksum_sees_swapped_rows():
    corpus = C.gen_repeated(1, 200, pool_size=50)
    out = [W.Out(lambda r, k: T.get_int(r, ("score",)), "int")]
    base = W.expected_checksum(corpus, out)
    a = next(i for i in range(200) if corpus.doc_index[i] != corpus.doc_index[0])
    swapped = dataclasses.replace(corpus, doc_index=corpus.doc_index.copy())
    swapped.doc_index[[0, a]] = swapped.doc_index[[a, 0]]
    assert W.expected_checksum(swapped, out) != base


# -- dedup reference -------------------------------------------------------------

def test_pair_verifier():
    texts = ["alpha beta gamma delta " * 20, "alpha beta gamma delta " * 20, "zzz " * 50]
    v = dedupref.PairVerifier(texts, [(0, 1)])
    assert v.check_minhash([[0, 1, 1.0]])
    assert not v.check_minhash([])  # the planted pair is missing
    assert not v.check_minhash([[0, 1, 1.0], [0, 2, 0.9]])  # not similar
    assert v.check_simhash([[0, 1, 0]])
    assert not v.check_simhash([[0, 1, 2]])  # wrong distance


# -- robust replay -------------------------------------------------------------------

def test_replay_without_a_helper():
    import pyarrow as pa

    from datafusion_functions_json_spark.functions import core, kernels

    batch = pa.array(['{"score": 1, "name": "a", "price": 2.5}'] * 2000)
    partial = SimpleNamespace(**{k: getattr(kernels, k) for k in dir(kernels)
                                 if k != "_dict_encode"})
    out = trace.kernel_replay([batch], None, partial, core)
    assert "encode_us_per_row" not in out and "shortcut_eligible_ratio" not in out
    assert "body_us_per_row" not in out  # no udfs module
    assert out["fast_path_ratio"] == 1.0 and out["distinct_ratio"] == 1 / 2000
    assert out["direct_us_per_row"] > 0


# -- end to end, with Spark ---------------------------------------------------------------

spark = pytest.mark.spark


@spark
@pytest.mark.parametrize("trace_flag,section", [(0, "end_to_end"), (1, "per_layer")])
def test_result_line_metric_names(trace_flag, section):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_repeated",
         "--seed", "1", "--seconds", "0", "--trace", str(trace_flag)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC[section]}
    units = {m["name"]: m["unit"] for m in SPEC[section]}
    assert all(v["unit"] == units[k] for k, v in result["metrics"].items())


@spark
def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_repeated",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""


@spark
@pytest.mark.xfail(strict=True, reason=(
    "the SQL bridge in register.py reads the union's int member through "
    "pandas float64, so 19-digit integers lose precision"))
def test_sql_surface_big_ints(tmp_path):
    # a null in the union's int member (the string payload) is what makes
    # pandas widen the column to float64
    payloads = [T.jint(1577992117811021379), T.jint(-4819022865228156933),
                T.jint(6943592219724327999), T.jint(12), T.jstr("text")]
    roots = [T.jobj([("id", T.jint(i)), ("payload", p)]) for i, p in enumerate(payloads)]
    corpus = C.ExtractCorpus(roots, [r[2] for r in roots],
                             np.arange(len(roots), dtype=np.int64), [None] * len(roots))
    run._write_parquet(tmp_path / "data", run._columns(corpus), 1)
    ss = run.start_spark(2)
    try:
        jsonf.register_all(ss)
        report = W.mismatches(W.sql_surface_query(jsonf), run.bind(ss, tmp_path / "data"), corpus)
    finally:
        run.stop_spark(ss)
    assert report == {}
