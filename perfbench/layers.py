"""Per-layer spans for the traced benchmark run.

Every span is recorded from the benchmark's side of a layer boundary: the
wrappers below replace the public entry points of the parser, the engine,
the catalog persistence calls and the model backends for the duration of a
traced pass, and are removed again afterwards, so untraced passes run the
program exactly as shipped.  Spark-side counts come from the status
tracker and the DAG scheduler's job counter.

Only the outermost span of each kind on a thread is counted (a backend
estimator that calls another estimator is one span), and a layer's self
time is its span minus the child spans that ran inside it on the same
thread.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

# Backend entry points, by layer metric.
ESTIMATE_FNS = (
    "logpdf_joint", "simulate_joint", "predict_confidence",
    "column_dependence_probability", "column_dependence_probability_model",
    "column_mutual_information", "column_mutual_information_model",
    "column_mutual_information_set", "column_mutual_information_model_set",
    "row_similarity",
)
FIT_FNS = ("create_generator", "initialize_models", "analyze_models")


class Tracer:
    """Accumulates span time and counts for the operation in flight."""

    def __init__(self, spark):
        self.spark = spark
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []
        self.op = defaultdict(float)
        try:
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()
            int(self._dag.nextJobId())
        except Exception:  # noqa: BLE001 - counter unavailable: count 0 jobs
            self._dag = None

    # -- Spark counters -----------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._dag.nextJobId()) if self._dag is not None else 0

    def job_stats(self, first: int, end: int) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks completed) for job ids
        ``[first, end)``; a stage shared by several jobs counts once."""
        st = self.spark.sparkContext.statusTracker()
        stages: dict[int, int] = {}
        for jid in range(first, end):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages[sid] = si.numCompletedTasks
        return end - first, len(stages), sum(stages.values())

    # -- spans ----------------------------------------------------------------
    def start_op(self, name: str) -> int:
        """Open a job group for the operation; returns the next job id."""
        with self._lock:
            self.op = defaultdict(float)
        self.spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
        return self.next_job_id()

    def end_op(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()

    def _depth(self) -> dict:
        d = getattr(self._local, "depth", None)
        if d is None:
            d = self._local.depth = defaultdict(int)
            self._local.child_ms = []
        return d

    def _wrap(self, kind: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            depth = tracer._depth()
            outer = depth[kind] == 0
            depth[kind] += 1
            if kind == "execute" and outer:
                tracer._local.child_ms.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                depth[kind] -= 1
                if outer and kind == "execute":
                    child = tracer._local.child_ms.pop()
                    with tracer._lock:
                        tracer.op["engine.build_ms"] += ms - child
                elif outer:
                    with tracer._lock:
                        tracer.op[kind] += ms
                        if kind.startswith("backends."):
                            tracer.op["backends.calls"] += 1
                    if depth["execute"] > 0:
                        tracer._local.child_ms[-1] += ms
        return wrapper

    def _patch(self, owner, name: str, kind: str) -> None:
        own = name in vars(owner)
        orig = vars(owner)[name] if own else getattr(owner, name)
        func = orig.__func__ if isinstance(orig, (classmethod, staticmethod)) else orig
        wrapped = self._wrap(kind, func)
        if isinstance(orig, classmethod):
            wrapped = classmethod(wrapped)
        setattr(owner, name, wrapped)
        self._patches.append((owner, name, orig, own))

    def install(self) -> None:
        from bayeslite_spark import engine
        from bayeslite_spark.backends.crosscat_lite import CrossCatLiteBackend
        from bayeslite_spark.backends.nig_normal import NIGNormalBackend

        self._patch(engine, "parse_phrase", "parser.parse_ms")
        self._patch(engine.SparkBQL, "execute", "execute")
        self._patch(engine.SparkBQL, "save", "catalog.save_ms")
        self._patch(engine.SparkBQL, "open", "catalog.open_ms")
        for cls in (NIGNormalBackend, CrossCatLiteBackend):
            for name in ESTIMATE_FNS:
                if hasattr(cls, name):
                    self._patch(cls, name, "backends.estimate_ms")
            for name in FIT_FNS:
                if hasattr(cls, name):
                    self._patch(cls, name, "backends.fit_ms")

    def uninstall(self) -> None:
        while self._patches:
            owner, name, orig, own = self._patches.pop()
            if own:
                setattr(owner, name, orig)
            else:
                delattr(owner, name)
