"""The traced run: spans recorded around the benchmark's calls into each
layer, Spark's own planning and execution records read after each
action, and an in-process replay of the kernel layer.

Nothing here runs inside the timed region of the untraced run. Every
helper reached by name can disappear in a later version of the package:
a metric whose helper is gone is reported absent, never as a failure.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(name, start, end, parent, query)`` kept in memory."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.query = None

    @contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.query])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def total(self, name, query=None) -> float:
        return sum(
            s[2] - s[1] for s in self.spans
            if s[0] == name and s[2] is not None and (query is None or s[4] == query)
        )

    def dump(self) -> list:
        return [
            {"name": n, "start": a, "end": b, "parent": p, "query": q}
            for n, a, b, p, q in self.spans
        ]


@contextmanager
def patched(module, attr, tracer, span_name):
    """Wrap ``module.attr`` in a span while the block runs; a no-op when
    the attribute is gone."""
    orig = getattr(module, attr, None)
    if orig is None:
        yield False
        return

    def wrapper(*a, **k):
        with tracer.span(span_name):
            return orig(*a, **k)

    setattr(module, attr, wrapper)
    try:
        yield True
    finally:
        setattr(module, attr, orig)


# -- Spark records --------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")
BOUNDARY = {
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
    "pythonNumRowsReceived": "rows",
    "pythonTotalTime": "python_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
}


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_record(df) -> dict:
    """Planning phase times and the ArrowEvalPython metrics of the plan
    ``df``'s last action executed."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for ph in PHASES:
        opt = phases.get(ph)
        out[f"{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    nodes = 0
    sums = dict.fromkeys(BOUNDARY.values(), 0)
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "ArrowEvalPython":
            nodes += 1
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in BOUNDARY:
                    sums[BOUNDARY[kv._1()]] += kv._2().value()
        todo.extend(_children(node))
    out["python_eval_nodes"] = nodes
    out.update(sums)
    return out


def stage_record(spark, group: str) -> dict:
    """Task metrics summed over every stage of the jobs in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    st = sc.statusTracker()
    out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
           "shuffle_write_bytes": 0, "stages": 0}
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in (info.stageIds if info else ()):
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out["stages"] += 1
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


# -- kernel replay ----------------------------------------------------------------

# literal-path getters replayed on the workload's own batches; paths the
# extract mix reads, one with a key repeated across nesting levels
REPLAY_CASES = (
    ("json_get_int", ("score",)),
    ("json_get_str", ("name",)),
    ("json_get_float", ("price",)),
)
REPLAY_MAX_ROWS = 100_000


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def kernel_replay(batches, udfs, kernels, core) -> dict:
    """Per-row costs and ratios of the kernel layer on ``batches``
    (``pyarrow.StringArray`` each, at the session's batch size). Each
    metric needs its helpers; a missing helper drops only its metrics."""
    rows = sum(len(b) for b in batches)
    if rows == 0:
        return {}
    import pyarrow.compute as pc

    out = {"distinct_ratio": sum(pc.count_distinct(b).as_py() for b in batches) / rows}
    per_case = rows * len(REPLAY_CASES)

    def attempt(names, fn):
        try:
            out.update(zip(names, fn()))
        except (AttributeError, TypeError, KeyError):
            pass  # the helper this metric calls is gone or changed

    def body():
        t = 0.0
        for fn_key, path in REPLAY_CASES:
            func = udfs.literal_path_udf(fn_key, path).func
            t += sum(_timed(func, b)[0] for b in batches)
        return (t / per_case * 1e6,)

    def direct():
        t = 0.0
        for fn_key, path in REPLAY_CASES:
            kernel = getattr(kernels, f"kernel_{fn_key}")
            t += sum(_timed(kernel, b.to_pylist(), itertools.repeat(path))[0] for b in batches)
        return (t / per_case * 1e6,)

    def encode():
        results = [_timed(kernels._dict_encode, b) for b in batches]
        eligible = sum(1 for _, r in results if r is not None)
        return sum(t for t, _ in results) / rows * 1e6, eligible / len(batches)

    def mask():
        t, fast = 0.0, 0
        for _, path in REPLAY_CASES:
            needles = core.guard_needles(path)
            for b in batches:
                dt, m = _timed(kernels._fast_mask, b, needles, False)
                t += dt
                fast += int(m.sum())
        return t / per_case * 1e6, fast / per_case

    attempt(["body_us_per_row"], body)
    attempt(["direct_us_per_row"], direct)
    attempt(["encode_us_per_row", "shortcut_eligible_ratio"], encode)
    attempt(["mask_us_per_row", "fast_path_ratio"], mask)
    return out


def replay_batches(files, max_records: int, max_rows: int = REPLAY_MAX_ROWS) -> list:
    """The ``doc`` column of each file cut into ``max_records`` batches,
    the way an Arrow UDF receives one partition."""
    import pyarrow.parquet as pq

    out, taken = [], 0
    for f in files:
        col = pq.read_table(f, columns=["doc"]).column("doc").combine_chunks()
        for i in range(0, len(col), max_records):
            if taken >= max_rows:
                return out
            b = col.slice(i, min(max_records, max_rows - taken))
            out.append(b)
            taken += len(b)
    return out

