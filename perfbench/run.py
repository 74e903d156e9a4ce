"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_repeated --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root: the package is imported from the directory
above this one, never from an installed copy. Generated inputs are
cached under ``.perfbench/`` in that root, keyed by workload corpus,
seed, size and generator version. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). One client runs one query at a time
(a closed loop) on ``local[nproc]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

GEN_VERSION = 1  # bump when generated inputs change
SETUP_REPEATS = 3
WARM_CYCLES = 2


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _since_process_start() -> float:
    """Seconds since this interpreter started, from ``/proc``."""
    with open("/proc/self/stat", "rb") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- inputs ------------------------------------------------------------------------

def _write_parquet(path: Path, columns: dict, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True)
    n = len(next(iter(columns.values())))
    for f in range(n_files):
        lo, hi = f * n // n_files, (f + 1) * n // n_files
        table = pa.table({k: v[lo:hi] for k, v in columns.items()})
        pq.write_table(table, path / f"part-{f:03d}.parquet")


def _columns(corpus):
    import pyarrow as pa

    ids = pa.array(range(corpus.n_rows), pa.int64())
    if hasattr(corpus, "exact_pairs"):
        return {"id": ids, "text": pa.array(corpus.texts, pa.string())}
    docs = [corpus.texts[i] for i in corpus.doc_index.tolist()]
    return {"id": ids, "key": pa.array(corpus.keys, pa.string()),
            "doc": pa.array(docs, pa.string())}


def generate(wl, seed):
    from perfbench import corpus as C

    gen = {"repeated": C.gen_repeated, "distinct": C.gen_distinct,
           "documents": C.gen_documents}[wl.corpus]
    return gen(seed, wl.rows)


def prepare(name: str, wl, seed: int, queries, root: Path = ROOT / ".perfbench" / "data"):
    """Write the corpus and its expected results once per
    ``(workload, seed, size)`` under ``root``; later runs read them
    back. Returns ``(directory, truth)``."""
    from perfbench.corpus import N_FILES

    cache = root / f"{name}-s{seed}-n{wl.rows}-g{GEN_VERSION}"
    if not (cache / "truth.json").exists():
        corpus = generate(wl, seed)
        tmp = cache.with_name(cache.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        _write_parquet(tmp / "data", _columns(corpus), N_FILES)
        truth = {
            "rows": corpus.n_rows,
            "expected": {q.name: q.expected(corpus) for q in queries},
            "classes": {k: len(v) for k, v in getattr(corpus, "classes", {}).items()},
            "exact_pairs": getattr(corpus, "exact_pairs", []),
        }
        (tmp / "truth.json").write_text(json.dumps(truth))
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
    return cache, json.loads((cache / "truth.json").read_text())


# -- Spark -----------------------------------------------------------------------------

def scratch_dir() -> Path:
    """This process's Spark scratch space; removed once Spark stops."""
    return ROOT / ".perfbench" / "tmp" / str(os.getpid())


def start_spark(nproc: int):
    from pyspark.sql import SparkSession

    from datafusion_functions_json_spark.sources import session_defaults

    tmp = scratch_dir()
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)  # inherited by the JVM and the workers
    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.local.dir", str(tmp / "spark"))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    spark = session_defaults(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and every process they started, and wait
    until each has ended."""
    from pyspark import SparkContext

    from perfbench import meter

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while True:
        left = [p for p in meter.descendants() if _alive(p)]
        if not left:
            shutil.rmtree(scratch_dir(), ignore_errors=True)
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return False
    return data[data.rindex(b")") + 2:][:1] != b"Z"


def bind(spark, path: Path):
    df = spark.read.parquet(str(path))
    df.createOrReplaceTempView("t")
    return SimpleNamespace(spark=spark, df=df)


# -- one query execution -------------------------------------------------------------------

def execute(q, ctx):
    """Build and run ``q``; ``(result, error)``."""
    try:
        return q.collect(q.build(ctx)), None
    except Exception:  # a failed execution is counted, not fatal
        return None, traceback.format_exc(limit=3)


def measure(queries, ctx, expected, rows, seconds, meter, traced=None):
    """Closed loop over whole cycles of the mix until ``seconds`` pass.
    ``traced(q)`` replaces the plain execution when given."""
    samples = []
    t_end = time.perf_counter() + seconds
    while True:
        for q in queries:
            cpu0 = meter.cpu_seconds()
            t0 = time.perf_counter()
            if traced is None:
                result, err = execute(q, ctx)
            else:
                result, err = traced(q)
            wall = time.perf_counter() - t0
            cpu = meter.cpu_seconds() - cpu0
            ok = err is None and q.ok(result, expected[q.name])
            if not ok:
                print(f"perfbench: {q.name} failed: "
                      f"{err or 'result differs from ground truth'}", file=sys.stderr)
            samples.append({"query": q.name, "wall": wall, "cpu": cpu,
                            "rows": rows, "ok": ok})
        if time.perf_counter() >= t_end:
            return samples


def summarize(samples) -> dict:
    """Figures of a median cycle: each query contributes its median over
    the timed cycles, so one slow execution does not set the run's
    figure."""
    by_query = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s)
    walls = [statistics.median(x["wall"] for x in xs) for xs in by_query.values()]
    cpu = sum(statistics.median(x["cpu"] for x in xs) for xs in by_query.values())
    rows = sum(xs[0]["rows"] for xs in by_query.values())
    return {
        "rows_per_s": rows / sum(walls),
        "query_s_p50": statistics.median(walls),
        "cpu_s_per_mrow": cpu / (rows / 1e6),
    }


# -- the run -----------------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark import operators as ops
    except ImportError as e:
        return _fail(f"cannot import the package from {ROOT}: {e}")
    if not Path(jsonf.__file__).resolve().is_relative_to(ROOT):
        return _fail(f"the package resolved outside {ROOT}: {jsonf.__file__}")

    from perfbench import meter, workloads
    from perfbench.dedupref import PairVerifier

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        return _fail(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(workloads.WORKLOADS)}")

    t_gen = time.perf_counter()
    verifier = None
    queries = wl.queries(jsonf, ops, None)
    data, truth = prepare(args.workload, wl, args.seed, queries)
    if not wl.json:
        import pyarrow.parquet as pq

        texts = pq.read_table(data / "data", columns=["text"]).column("text").to_pylist()
        verifier = PairVerifier(texts, [tuple(p) for p in truth["exact_pairs"]])
        queries = wl.queries(jsonf, ops, verifier)
    gen_s = time.perf_counter() - t_gen

    nproc = len(os.sched_getaffinity(0))
    spark = start_spark(nproc)
    try:
        result = run(args, wl, jsonf, queries, spark, data, truth, gen_s, nproc, meter)
    finally:
        stop_spark(spark)
    print(json.dumps(result))  # last, once nothing else can write
    return 0


def run(args, wl, jsonf, queries, spark, data, truth, gen_s, nproc, meter) -> dict:
    import pyarrow
    import pyspark
    from pyspark.sql import functions as F

    # cold start, once per process: interpreter, imports, JVM, and one
    # warm query that spawns the Python workers and JIT-warms the first
    # call into the package
    spark.range(0, nproc, 1, nproc).select(
        jsonf.json_get_int(F.lit('{"a": 1}'), "a")).collect()
    cold_s = _since_process_start() - gen_s

    # session set-up, repeated: a new session and register_all
    register_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        session = spark.newSession()
        jsonf.register_all(session)
        register_s.append(time.perf_counter() - t0)
    setup_s = cold_s + statistics.median(register_s)

    # untimed: cycles of the mix on the workload's data, so each query
    # shape's first-execution cost and the JIT warm-up fall outside the
    # timed region (the first cycle after one warm cycle still ran ~35%
    # slow)
    t0 = time.perf_counter()
    ctx = bind(session, data / "data")
    for _ in range(WARM_CYCLES):
        for q in queries:
            execute(q, ctx)
    warm_s = time.perf_counter() - t0
    expected = truth["expected"]
    rows = truth["rows"]

    import orjson

    provenance = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc, "rows": rows,
        "files": len(list((data / "data").glob("*.parquet"))),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "orjson": orjson.__version__, "classes": truth["classes"],
    }
    ticks = meter.host_cpu_ticks()
    if args.trace:
        samples, metrics = traced_run(args, wl, queries, ctx, expected, rows,
                                      meter, register_s, data, provenance)
    else:
        samples = measure(queries, ctx, expected, rows, args.seconds, meter)
        metrics = summarize(samples)
        metrics["setup_s"] = setup_s
        metrics["worker_peak_rss_mb"] = meter.python_worker_peak_mb()

    steal = meter.steal_share(ticks, meter.host_cpu_ticks())
    failed = sum(not s["ok"] for s in samples)
    if failed and wl.json:
        report_failed_classes(args, wl, queries, samples, ctx)

    print("perfbench " + " ".join(
        f"{k}={json.dumps(v) if k == 'classes' else v}" for k, v in provenance.items()
    ) + f" steal={steal:.3f}")
    units = metric_units()
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {units.get(name, '')}")
    print(f"  query_samples = {len(samples)}")
    print(f"  phases: generate {gen_s:.2f} s, cold start {cold_s:.2f} s, session set-ups "
          f"{', '.join(f'{x:.2f}' for x in register_s)} s, warm cycles {warm_s:.2f} s")
    for name in dict.fromkeys(s["query"] for s in samples):
        walls = [s["wall"] for s in samples if s["query"] == name]
        print(f"  query {name}: n={len(walls)} median {statistics.median(walls):.3f} s")
    print(f"  failed_frac = {failed / len(samples):.6g} ratio ({failed}/{len(samples)})")
    sys.stdout.flush()
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }


def metric_units() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def report_failed_classes(args, wl, queries, samples, ctx) -> None:
    """Untimed: for each failed row query, the rows that differ from the
    model, counted per hostile class and output column."""
    from perfbench.workloads import mismatches

    corpus = generate(wl, args.seed)
    failed = {s["query"] for s in samples if not s["ok"]}
    for q in queries:
        if q.name in failed and q.detail is not None:
            try:
                report = mismatches(q, ctx, corpus)
            except Exception:  # the query itself raised; already reported
                continue
            for key, entry in sorted(report.items()):
                ex = entry["examples"][0]
                print(f"perfbench: {q.name} differs on class/output {key}: "
                      f"{entry['rows']} rows, e.g. id {ex['id']} got {ex['got']!r} "
                      f"want {ex['want']!r}")


def traced_run(args, wl, queries, ctx, expected, rows, meter, register_s, data, provenance):
    """Untraced and traced cycles in turn for ``--seconds``; per-layer
    metrics from the traced ones, plus the kernel replay and, for
    ``dedup_docs``, the operators' candidate counts."""
    import itertools

    from pyspark.sql import functions as F

    from perfbench import trace

    tracer = trace.Tracer()
    spark = ctx.spark
    sc = spark.sparkContext
    records, groups = [], itertools.count()

    def traced(q):
        group = f"perfbench-{next(groups)}"
        tracer.query = group
        sc.setJobGroup(group, q.name)
        t0 = time.perf_counter()
        try:
            with tracer.span("query"):
                with tracer.span("api.build"):
                    df = q.build(ctx)
                with tracer.span("action"):
                    result = q.collect(df)
        except Exception:  # a failed execution is counted, not fatal
            return None, traceback.format_exc(limit=3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"query": q.name, "wall_s": time.perf_counter() - t0,
               "build_ms": tracer.total("api.build", group) * 1e3,
               "rewrite_ms": tracer.total("sql.rewrite_sql", group) * 1e3,
               "pairs": len(result) if q.name.endswith("_pairs") else 0}
        rec.update(trace.plan_record(df))
        rec.update(trace.stage_record(spark, group))
        records.append(rec)
        return result, None

    plain, traced_samples = [], []
    t_end = time.perf_counter() + args.seconds
    while True:
        plain += measure(queries, ctx, expected, rows, 0, meter)
        # the module, not the package attribute ``sql`` (the function)
        sqlmod = sys.modules["datafusion_functions_json_spark.sql"]
        with trace.patched(sqlmod, "rewrite_sql", tracer, "sql.rewrite_sql"):
            traced_samples += measure(queries, ctx, expected, rows, 0, meter, traced)
        if time.perf_counter() >= t_end:
            break

    def mean(key, name=None):
        rs = [r[key] for r in records if name is None or r["query"] == name]
        return sum(rs) / len(rs) if rs else 0.0

    max_records = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    parts = ctx.df.groupBy(F.spark_partition_id()).count().collect()
    batches_per_node = sum(-(-r["count"] // max_records) for r in parts)
    m = {
        "sql.rewrite_ms": mean("rewrite_ms"),
        "api.build_ms": mean("build_ms"),
        "api.register_all_s": statistics.median(register_s),
        "plan.analysis_ms": mean("analysis_ms"),
        "plan.optimization_ms": mean("optimization_ms"),
        "plan.planning_ms": mean("planning_ms"),
        "plan.python_eval_nodes": mean("python_eval_nodes"),
        "exec.run_s": mean("run_s"),
        "exec.cpu_s": mean("cpu_s"),
        "exec.gc_s": mean("gc_s"),
        "exec.tasks": mean("tasks"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.jvm_peak_rss_mb": meter.jvm_peak_mb(),
        "boundary.bytes_sent": mean("bytes_sent"),
        "boundary.bytes_received": mean("bytes_received"),
        "boundary.rows": mean("rows"),
        "boundary.batches": batches_per_node * mean("python_eval_nodes"),
        "boundary.python_s": mean("python_ms") / 1e3,
        "boundary.python_boot_s": mean("python_boot_ms") / 1e3,
        "boundary.python_init_s": mean("python_init_ms") / 1e3,
    }
    kernel = dict.fromkeys(KERNEL_METRICS, 0.0)
    if wl.json:
        kernel = kernel_layer(data, max_records)
    m.update({f"kernel.{k}": v for k, v in kernel.items()})
    m.update(operator_layer(wl, ctx, records, mean))
    rps = summarize(plain)["rows_per_s"]
    m["trace_overhead_frac"] = (rps - summarize(traced_samples)["rows_per_s"]) / rps

    out = ROOT / ".perfbench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"trace-{args.workload}-s{args.seed}.json").write_text(json.dumps(
        {"provenance": provenance, "metrics": m, "records": records,
         "spans": tracer.dump()}, indent=1))
    for name in dict.fromkeys(r["query"] for r in records):
        print(f"  trace {name}: python_eval_nodes={mean('python_eval_nodes', name):g} "
              f"build_ms={mean('build_ms', name):.1f} "
              f"analysis_ms={mean('analysis_ms', name):.1f} "
              f"exec.run_s={mean('run_s', name):.3f} stages={mean('stages', name):g}")
    missing = [k for k in KERNEL_METRICS if wl.json and k not in kernel]
    if missing:
        print(f"  absent (helper gone): {', '.join('kernel.' + k for k in missing)}")
    return plain + traced_samples, m


KERNEL_METRICS = ("body_us_per_row", "direct_us_per_row", "encode_us_per_row",
                  "mask_us_per_row", "shortcut_eligible_ratio", "distinct_ratio",
                  "fast_path_ratio")


def kernel_layer(data, max_records) -> dict:
    import importlib

    from perfbench import trace

    mods = []
    for name in ("udfs", "kernels", "core"):
        try:
            mods.append(importlib.import_module(f"datafusion_functions_json_spark.functions.{name}"))
        except ImportError:
            mods.append(None)  # its metrics are reported absent
    batches = trace.replay_batches(sorted((data / "data").glob("*.parquet")), max_records)
    return trace.kernel_replay(batches, *mods)


OPS = (("minhash_pairs", "minhash"), ("simhash_pairs", "simhash"), ("text_stats", "text"))


def operator_layer(wl, ctx, records, mean) -> dict:
    """``ops.<op>.*``: 0 on the JSON workloads, where no operator runs."""
    m = {}
    for query, op in OPS:
        m[f"ops.{op}.wall_s"] = mean("wall_s", query)
        m[f"ops.{op}.stages"] = mean("stages", query)
        m[f"ops.{op}.shuffle_write_bytes"] = mean("shuffle_write_bytes", query)
    cand = {"minhash": 0, "simhash": 0}
    if not wl.json:
        from datafusion_functions_json_spark.operators import dedup

        index = dedup.minhash_index(ctx.df, "id", "text").persist()
        try:
            cand["minhash"] = dedup.minhash_candidate_stats(index)["distinct_pairs"]
        finally:
            index.unpersist()
        cand["simhash"] = dedup.simhash_candidate_stats(ctx.df, "id", "text")["distinct_pairs"]
    for query, op in OPS[:2]:
        verified = mean("pairs", query)
        m[f"ops.{op}.candidate_pairs"] = cand[op]
        m[f"ops.{op}.verified_pairs"] = verified
        m[f"ops.{op}.verify_yield"] = verified / cand[op] if cand[op] else 0.0
    return m


if __name__ == "__main__":
    sys.exit(main())
