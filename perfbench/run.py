"""Benchmark driver: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload bql-query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The parent process generates the inputs
from the seed into a run-private directory inside the checkout, starts the
measured child process there (every cache the program keeps across
processes is pointed into that directory), checks afterwards that the run
left the checkout as it found it, deletes the directory, and prints the
result as the last line of standard output.  See perfbench/README.md.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout must stay as it was

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 165

# Timed passes per --seconds: the pass count is a fixed function of the
# budget, never of the clock, so every run of a workload executes the same
# operation list.  NOMINAL_PASS_S is a warm pass's cost on a 4-core host.
# The warm-up lengths come from the measured curves in README.md.
NOMINAL_PASS_S = {"bql-query": 2.7, "bql-model": 9.0, "registry": 4.5}
WARMUP_PASSES = {"bql-query": 4, "bql-model": 0, "registry": 1}
DATA_SF = 0.01

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "gmean_ms": "ms", "p50_ms": "ms",
    "p90_ms": "ms", "ops_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.load_tables_s": "s",
    "engine.fixture_fit_s": "s", "engine.build_ms": "ms",
    "engine.build_jobs": "count", "catalog.open_ms": "ms",
    "parser.parse_ms": "ms", "parser.share_frac": "frac",
    "backends.estimate_ms": "ms", "backends.calls": "count",
    "backends.fit_setup_s": "s", "catalog.save_setup_s": "s",
    "operators.fixture_s": "s", "operators.build_ms": "ms",
    "operators.build_jobs": "count", "catalyst.plan_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "trace.overhead_ratio": "ratio",
}
# Traced-run metrics printed in the report but left out of the JSON line:
# no listed workload's timed passes save or fit a model, and the overhead
# as a fraction can be 0 or negative.
REPORT_ONLY = {
    "catalog.save_ms": "ms", "backends.fit_ms": "ms",
    "trace.overhead_frac": "frac",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DATA_SF,
                    help="scale factor of the generated inputs")
    ap.add_argument("--warmup", type=int, default=None,
                    help="warm-up passes after the cold pass")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one result before the checks")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpus() -> int:
    return min(4, nproc())


# -- isolation checks ---------------------------------------------------------
def snapshot(skip: str) -> dict[str, tuple]:
    """Every file and directory of the checkout with size and mtime."""
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        for name in dirs + files:
            p = os.path.join(d, name)
            st = os.lstat(p)
            out[os.path.relpath(p, ROOT)] = (
                st.st_size if not os.path.isdir(p) else -1, st.st_mtime_ns)
    return out


def stat_or_none(path: str):
    try:
        st = os.stat(path)
        return st.st_mtime_ns, st.st_size
    except OSError:
        return None


def default_caches() -> list[str]:
    return [os.path.join(ROOT, ".bench_artifacts"),
            os.path.join(tempfile.gettempdir(), "spark_graft_fixtures"),
            os.path.join(ROOT, "spark-warehouse")]


# -- parent -------------------------------------------------------------------
def subreaper() -> None:
    """Adopt orphaned descendants (the JVM, Python workers) so they can be
    waited for after the child exits."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap(pgid: int, timeout_s: float = 30.0) -> None:
    """Kill what is left of the child's process group and wait for every
    descendant this process adopted."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                time.sleep(0.05)
        except ChildProcessError:
            return


def parent(args: argparse.Namespace) -> int:
    if not os.path.isdir(os.path.join(ROOT, "bayeslite_spark")):
        print("perfbench: no bayeslite_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    import datagen

    run_dir = tempfile.mkdtemp(prefix=".perfbench_run_", dir=ROOT)
    before = snapshot(run_dir)
    caches = {p: stat_or_none(p) for p in default_caches()}
    subreaper()
    try:
        data = datagen.write(os.path.join(run_dir, "data"), args.seed, args.sf)
        env = child_env(run_dir)
        cmd = [sys.executable, os.path.abspath(__file__), "--child", data,
               *sys.argv[1:]]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        reap(proc.pid)
        result_path = os.path.join(run_dir, "result.json")
        result = None
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: measured process failed (exit {code})",
              file=sys.stderr)
        return 1

    problems = []
    if os.path.exists(run_dir):
        problems.append("run-private directory still exists")
    after = snapshot(run_dir)
    changed = sorted(set(before.items()) ^ set(after.items()))
    if changed:
        problems.append(f"checkout changed: {sorted({p for p, _ in changed})[:5]}")
    for p, st in caches.items():
        if stat_or_none(p) != st:
            problems.append(f"default cache touched: {p}")
    if result["spark_cores"] > nproc():
        problems.append(f"Spark ran on {result['spark_cores']} cores")
    for p in problems:
        print(f"isolation check failed: {p}")
    print(f"isolation: {'ok' if not problems else 'FAILED'}")

    names = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0 and not problems,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k], "unit": u}
                    for k, u in names.items()},
    }))
    return 0


def child_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the program's settings come from here alone, not from the caller
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "OMP_NUM_THREADS"}
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.path.join(ROOT, "tools")]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_BQL_ARTIFACT_DIR": os.path.join(run_dir, "artifacts"),
        "SPARK_GRAFT_FIXTURE_DIR": os.path.join(run_dir, "fixtures"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    return env


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.child:
        import harness

        return harness.main(args, data_dir=args.child)
    return parent(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
