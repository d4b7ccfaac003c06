"""Closed-loop benchmark of one workload.

    python3 e2ebench/run.py --workload flagship_sink --seed 1 --seconds 18 --trace 0

One driver process runs ``local[nproc - spare_cores]`` and one job at a
time: it builds the session, runs one cold job (with ``build_session`` that
is ``setup_s``), the workload's ``warmup_jobs``, then jobs for
``--seconds``. The end-to-end metrics are medians over the jobs after the
warm-up. Every job's output row count is checked, and the last job's output
digest is compared with a DuckDB oracle. ``--trace 1`` runs the same loop and
then the per-layer spans of ``layers.py``. The last stdout line is the JSON
result; the per-job record goes to ``<work>/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".e2ebench_work")
# end-to-end metrics (name, unit), in report order
E2E = [("rows_per_s", "1/s"), ("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("setup_s", "s")]


def host_conf(work_dir: str, spare_cores: int) -> tuple[str, dict[str, str]]:
    """Master and ``build_session`` overrides fitted to this host: a task
    thread on every usable core but ``spare_cores``, a driver heap of an
    eighth of ``MemTotal`` (1-8 GiB), and Spark's local and temp dirs under
    the work directory.

    The spare cores are for the driver, the JIT compiler and GC threads; a
    task thread on every core made runs spread wider and no faster.

    The heap starts at its full size (``-Xms``): with a growing heap, when
    G1 chose to expand it moved peak RSS by ~20% between runs."""
    cores = max(1, len(os.sched_getaffinity(0)) - spare_cores)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, mem_kb // 8 // 1024))
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return f"local[{cores}]", {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def isolate_env(work_dir: str) -> None:
    """Drop the engine's env knobs so a caller's shell cannot change the
    measured configuration, and keep every temp file in the work dir."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")


def stop_engine(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin (it exits on EOF) and
    wait for it, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="input size override (self-tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import marmot_spark  # noqa: F401  the engine under test, from this checkout
        import bench  # noqa: F401
    except ImportError as e:
        print(f"e2ebench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import inputs as inputs_mod
    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    isolate_env(WORK)
    details: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    t = time.perf_counter()
    inp = inputs_mod.prepare(WORK, wl_cls.kind, args.size or wl_cls.size, args.seed)
    details["inputs"] = {k: inp[k] for k in ("dir", "hashes", "rows", "cached")}
    details["inputs_s"] = time.perf_counter() - t
    wl = wl_cls(inp, WORK)

    # the oracle runs before the engine starts, so the two never share cores
    t = time.perf_counter()
    oracle = wl.oracle_digest()
    details["oracle_s"] = time.perf_counter() - t

    from marmot_spark.session import build_session

    master, conf = host_conf(WORK, wl_cls.spare_cores)
    details["master"], details["conf"] = master, conf
    t = time.perf_counter()
    spark = build_session(f"e2ebench-{args.workload}", master=master, extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        wl.configure(spark)
        jvm, host = probes.Jvm(spark), probes.Host()
        jobs: list[dict] = []
        attempted = failed = 0

        def one_job(phase: str) -> dict | None:
            nonlocal attempted, failed
            attempted += 1
            probes.reset_peak_rss()
            c0, j0 = probes.tree_cpu_s(), jvm.read()
            t0 = time.perf_counter()
            try:
                rows = wl.run(wl.build(spark))
            except Exception:  # a failed job is a failed operation, not a crash
                traceback.print_exc()
                failed += 1
                return None
            wall = time.perf_counter() - t0
            rec = {
                "phase": phase, "wall_s": wall, "cpu_s": probes.tree_cpu_s() - c0,
                "peak_rss_mb": probes.engine_peak_rss_mb(), "rows": rows,
                **jvm.delta(j0, jvm.read()), **host.sample(),
            }
            jobs.append(rec)
            if rows != wl.expected_rows:
                print(f"e2ebench: {phase} job gave {rows} rows, expected {wl.expected_rows}",
                      file=sys.stderr)
                failed += 1
            return rec

        cold = one_job("cold")
        setup_s = session_s + (cold["wall_s"] if cold else 0.0)
        # the warm-up is a count of jobs, not a time: with a time, a faster
        # host would measure jobs further down the JIT curve and widen the
        # gap between fast and slow runs
        for _ in range(wl.warmup_jobs):
            one_job("warmup")
        deadline = time.perf_counter() + args.seconds
        while True:
            rec = one_job("measure")
            # a job is started only if, going by the last one, its midpoint
            # falls before the deadline: runs measure --seconds on average
            # and do not overrun by a whole job
            if rec is None or time.perf_counter() + rec["wall_s"] / 2 > deadline:
                break

        measured = [j for j in jobs if j["phase"] == "measure"]

        def med(key):
            return statistics.median(j[key] for j in measured) if measured else 0.0

        if args.trace:
            import layers

            tracer = layers.Tracer(spark, wl)
            with tracer.job():
                traced = one_job("traced")
            metrics = (
                tracer.metrics(WORK, session_s, med("wall_s")) if traced
                else {name: metric(0.0, unit) for name, unit, _ in layers.METRICS}
            )
        else:
            wall = med("wall_s")
            values = {
                "rows_per_s": wl.work_rows / wall if wall else 0.0,
                "wall_s": wall,
                "cpu_s": med("cpu_s"),
                "peak_rss_mb": med("peak_rss_mb"),
                "setup_s": setup_s,
            }
            metrics = {name: metric(values[name], unit) for name, unit in E2E}

        # the digest is of the last job's output: the traced job under --trace 1
        digest = wl.output_digest() if jobs and jobs[-1]["rows"] == wl.expected_rows else None
        if digest != oracle:
            print(f"e2ebench: output digest {digest} != oracle {oracle}", file=sys.stderr)
            failed += 1
        details.update(
            session_s=session_s, setup_s=setup_s, samples=len(measured), jobs=jobs,
            digest={"oracle": list(oracle), "output": list(digest) if digest else None},
            metrics=metrics,
        )
    finally:
        stop_engine(spark)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(details, f, indent=1, default=str)
    print(f"e2ebench: run details in {path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
