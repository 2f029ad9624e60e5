"""The measured process: set-up, the closed-loop passes, checks, metrics.

One client in one process sends the workload's operations one after the
other (a closed loop with no think time).  Pass 0 is the cold pass, then
come the warm-up passes, then the timed passes; every pass has the same
operation shapes.  Results are checked after the timed passes.  The report
goes to standard output and the numbers to ``result.json`` in the working
directory, which the parent turns into the final JSON line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402


def gmean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


def percentile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile: a Beta-weighted
    mean of all order statistics, which does not jump between the latency
    clusters of a small sample the way a single order statistic does."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    t = (np.arange(100_000) + 0.5) / 100_000
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.cumsum(np.exp(logpdf - logpdf.max()))
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1],
                          left=0.0, right=1.0))
    return float(w @ x)


def gmean_of_medians(records: list[dict]) -> float:
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["ms"])
    return gmean([statistics.median(v) for v in by_op.values()])


def jvm_peak_mb(spark) -> float:
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError, ValueError):
        pass
    return 0.0


def run_op(op, spark, tracer) -> dict:
    """Run one operation; with a tracer, split it into layers."""
    from pyspark.sql import DataFrame

    rec = {"op": op.name, "op_obj": op, "error": None, "result": None,
           "extra": None}
    layers = {}
    if tracer is not None:
        j0 = tracer.start_op(op.name)
    t0 = time.perf_counter()
    try:
        out = op.build()
        if isinstance(out, DataFrame):
            if tracer is not None:
                t1 = time.perf_counter()
                j1 = tracer.next_job_id()
                out._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
            rows = [tuple(r) for r in out.collect()]
            rec["result"] = (list(out.columns), rows)
            if tracer is not None:
                t3 = time.perf_counter()
                layers = {"catalyst.plan_ms": (t2 - t1) * 1e3,
                          "exec.action_ms": (t3 - t2) * 1e3}
        else:
            rec["result"] = out
            if tracer is not None:
                t1, j1 = time.perf_counter(), tracer.next_job_id()
    except Exception as e:  # noqa: BLE001 - a failed operation is counted
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    rec["ms"] = (time.perf_counter() - t0) * 1e3
    if op.after is not None and rec["error"] is None:
        rec["extra"] = op.after()
    if tracer is not None:
        tracer.end_op()
    if tracer is not None and rec["error"] is None:
        jobs, stages, tasks = tracer.job_stats(j0, tracer.next_job_id())
        layers.update(tracer.op)
        build_ms = (t1 - t0) * 1e3
        if op.kind == "registry":
            layers["operators.build_ms"] = build_ms
            layers["operators.build_jobs"] = j1 - j0
        else:
            layers["engine.build_jobs"] = j1 - j0
        layers.update({"exec.jobs": jobs, "exec.stages": stages,
                       "exec.tasks": tasks})
        rec["layers"] = layers
    return rec


def corrupt_one(records: list[dict]) -> None:
    """Self-test: damage the first non-empty tabular result."""
    for rec in records:
        res = rec["result"]
        if rec["error"] is None and isinstance(res, tuple) and res[1]:
            cols, rows = res
            rec["result"] = (cols, rows[1:] + [tuple(
                (v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool)
                 else "corrupted") for v in rows[0])])
            print(f"self-test: corrupted the result of {rec['op']} "
                  f"(pass {rec['pass']})")
            return


def run_passes(w, spark, tracer, warmup: int, timed: int):
    """Pass 0 cold, then the warm-up and timed passes.  In a traced run
    the timed passes go plain, traced, traced, plain, and so on, so that a
    run still speeding up does not favour either kind."""
    records: list[dict] = []
    walls: list[float] = []
    for p in range(1 + warmup + timed):
        phase = "cold" if p == 0 else "warm-up" if p <= warmup else "timed"
        traced = (tracer is not None and phase == "timed"
                  and (p - warmup - 1) % 4 in (1, 2))
        if traced:
            tracer.install()
        t0 = time.perf_counter()
        try:
            recs = [run_op(op, spark, tracer if traced else None)
                    for op in w.ops(p)]
        finally:
            if traced:
                tracer.uninstall()
        walls.append(time.perf_counter() - t0)
        for r in recs:
            r.update({"pass": p, "phase": phase, "traced": traced})
        records += recs
        print(f"pass {p:2d} {phase:8s}{' traced' if traced else '       '} "
              f"wall_s {walls[-1]:7.3f}  gmean_ms "
              f"{gmean([r['ms'] for r in recs]):9.3f}", flush=True)
    return records, walls


def summarize(records, walls, setup_s, layers, rss_mb, layer_names) -> dict:
    timed = [r for r in records if r["phase"] == "timed"]
    traced = [r for r in timed if r["traced"] and "layers" in r]
    plain = [r for r in timed if not r["traced"]]
    ms = [r["ms"] for r in plain]
    failed = sum(r["error"] is not None for r in records)
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": walls[0],
        "gmean_ms": gmean_of_medians(plain),
        "p50_ms": percentile(ms, 50),
        "p90_ms": percentile(ms, 90),
        "ops_per_s": len(ms) / (sum(ms) / 1e3),
        "peak_rss_mb": rss_mb,
        "failed_frac": failed / len(records),
    }
    # a layer the workload does not reach reads 0 (see README.md)
    metrics.update({k: 0.0 for k in layer_names})
    metrics.update(layers)
    if traced:
        for k in {k for r in traced for k in r["layers"]}:
            metrics[k] = sum(r["layers"].get(k, 0.0) for r in traced) / len(traced)
        metrics["parser.share_frac"] = (
            metrics["parser.parse_ms"] / statistics.fmean(r["ms"] for r in traced))
        metrics["trace.overhead_ratio"] = (
            gmean_of_medians(traced) / metrics["gmean_ms"])
        metrics["trace.overhead_frac"] = metrics["trace.overhead_ratio"] - 1.0

    by_op: dict[str, list[dict]] = {}
    for r in timed:
        by_op.setdefault(r["op"], []).append(r)
    for op, recs in by_op.items():
        v = [r["ms"] for r in recs if not r["traced"]]
        line = f"op {op:28s} median_ms {statistics.median(v):9.3f}  n {len(v)}"
        lay = [r["layers"] for r in recs if r["traced"] and "layers" in r]
        if lay:
            line += "  jobs/stages/tasks " + "/".join(
                f"{statistics.fmean(x.get(k, 0) for x in lay):g}"
                for k in ("exec.jobs", "exec.stages", "exec.tasks"))
        print(line)
    print(f"timed samples {len(ms)} (p90 has "
          f"{sum(x > metrics['p90_ms'] for x in ms)} beyond it); "
          f"attempted {len(records)}, failed {failed}")
    return metrics


def main(args, data_dir: str) -> int:
    import duckdb

    from bayeslite_spark.session import TABLES, get_spark, load_tables
    from layers import Tracer
    from workloads import WORKLOADS

    import run as cli

    name = args.workload
    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    layers["session.get_spark_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    load_tables(spark, data_dir)
    layers["session.load_tables_s"] = time.perf_counter() - t0
    w = WORKLOADS[name](args.seed, spark, data_dir, os.getcwd())
    tracer = Tracer(spark) if args.trace else None
    if tracer is not None:
        tracer.install()
    try:
        layers.update(w.setup())
    finally:
        if tracer is not None:
            tracer.uninstall()
            layers["backends.fit_setup_s"] = tracer.op["backends.fit_ms"] / 1e3
            layers["catalog.save_setup_s"] = tracer.op["catalog.save_ms"] / 1e3
    setup_s = time.perf_counter() - T_START

    warmup = cli.WARMUP_PASSES[name] if args.warmup is None else args.warmup
    # a traced run times plain and traced passes, so at least one of each
    timed = max(1 + args.trace, round(args.seconds / cli.NOMINAL_PASS_S[name]))
    print(f"workload {name}  seed {args.seed}  sf {args.sf}  "
          f"cores {spark.sparkContext.defaultParallelism}  "
          f"passes: 1 cold + {warmup} warm-up + {timed} timed")
    print(f"setup_s {setup_s:.3f}  " + "  ".join(
        f"{k} {v:.3f}" for k, v in layers.items()))
    records, walls = run_passes(w, spark, tracer, warmup, timed)

    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_mb = jvm_peak_mb(spark)
    print(f"peak rss: python {py_mb:.1f} MB + jvm {jvm_mb:.1f} MB")

    if args.corrupt:
        corrupt_one(records)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    w.verify(records, con)
    failed = [r for r in records if r["error"] is not None]
    for r in failed[:10]:
        print(f"FAILED {r['op']} (pass {r['pass']}): {r['error']}")

    layer_names = {**cli.PER_LAYER, **cli.REPORT_ONLY}
    metrics = summarize(records, walls, setup_s, layers, py_mb + jvm_mb,
                        layer_names)
    units = {**cli.END_TO_END, "failed_frac": "frac"}
    if tracer is not None:
        units.update(layer_names)
    for k, u in units.items():
        print(f"metric {k:24s} {metrics[k]:14.6f} {u}")

    with open("result.json", "w") as f:
        json.dump({"attempted": len(records), "failed": len(failed),
                   "spark_cores": spark.sparkContext.defaultParallelism,
                   "metrics": metrics}, f)
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)
    return 0
