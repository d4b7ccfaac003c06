"""Per-layer metrics for ``--trace 1``, measured from outside ``marmot_spark``.

One traced end-to-end job runs with recording spans around the layer
functions the job calls (``flagship_features`` and the window, as-of and
explode operators it composes; the minhash signature step). A span keeps the
call's arguments, result and duration. Each recorded layer is then re-run as
its own action over inputs staged before timing: every DataFrame argument is
materialized with an eager ``localCheckpoint``, which keeps its partitioning
and sort order, so a layer pays no exchange the real pipeline does not.

Counts come from Spark's status store, ``CodeGenerator`` and the JVM's
MXBeans after each action (``probes.py``). Layers that a workload does not
run report 0.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import os
import re
import shutil
import time

import probes

# (name, unit, better) for every per-layer metric, in report order
METRICS = [
    ("session.build_s", "s", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.stage_gap_s", "s", "lower"),
    ("spark.shuffle_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("flagship.build_s", "s", "lower"),
    ("flagship.plan_sorts", "count", "lower"),
    ("flagship.plan_exchanges", "count", "lower"),
    ("flagship.dedup_s", "s", "lower"),
    ("flagship.dedup_shuffle_mb", "MB", "lower"),
    ("windows.session_roll_s", "s", "lower"),
    ("windows.explode_s", "s", "lower"),
    ("windows.explode_rows", "count", "higher"),
    ("asof.join_s", "s", "lower"),
    ("asof.task_cpu_s", "s", "lower"),
    ("asof.shuffle_records", "count", "lower"),
    ("asof.shuffle_mb", "MB", "lower"),
    ("asof.skew", "ratio", "lower"),
    ("sink.write_s", "s", "lower"),
    ("sink.output_mb", "MB", "lower"),
    ("sink.bytes_per_row", "B/row", "lower"),
    ("dedup.signature_s", "s", "lower"),
    ("dedup.candidates", "count", "lower"),
    ("dedup.pairs", "count", "higher"),
    ("dedup.verify_ratio", "ratio", "higher"),
    ("dedup.shuffle_mb", "MB", "lower"),
    ("dedup.skew", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
UNITS = {name: unit for name, unit, _ in METRICS}

# the layer functions each workload kind records, by the module whose global
# name the job calls them through
SPANS = {
    "flagship": {
        "marmot_spark.plans.flagship": [
            "flagship_features", "with_time_chunk", "sessionize", "rolling_count",
            "asof_join", "explode_with_context",
        ],
    },
    "dedup": {"marmot_spark.operators.dedup": ["_sig_frame"]},
}


class Recorder:
    """Spans around module-level functions: name, duration, args, result."""

    def __init__(self) -> None:
        self.calls: list[dict] = []

    @contextlib.contextmanager
    def spans(self, targets: dict[str, list[str]]):
        saved = []
        try:
            for mod_name, names in targets.items():
                mod = importlib.import_module(mod_name)
                for name in names:
                    fn = getattr(mod, name)
                    saved.append((mod, name, fn))
                    setattr(mod, name, self._wrap(name, fn))
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def _wrap(self, name, fn):
        def span(*args, **kwargs):
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            self.calls.append({
                "name": name, "fn": fn, "args": args, "kwargs": kwargs,
                "result": result, "s": time.perf_counter() - t0,
            })
            return result

        return span

    def first(self, name: str) -> dict:
        return next(c for c in self.calls if c["name"] == name)


def _stage(value):
    from pyspark.sql import DataFrame

    return value.localCheckpoint(eager=True) if isinstance(value, DataFrame) else value


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Actions:
    def __init__(self, spark) -> None:
        self.stages = probes.Stages(spark)

    def timed(self, action) -> tuple[float, dict, tuple]:
        mark = self.stages.mark()
        t0 = time.perf_counter()
        action()
        wall = time.perf_counter() - t0
        return wall, self.stages.since(mark, wall), mark

    def replay(self, call: dict) -> tuple[float, dict, tuple]:
        """Re-run one recorded layer call over staged copies of its inputs,
        as its own (noop-sink) action."""
        args = [_stage(a) for a in call["args"]]
        kwargs = {k: _stage(v) for k, v in call["kwargs"].items()}
        return self.timed(lambda: _noop(call["fn"](*args, **kwargs)))


def _plan_counts(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    sorts = len(re.findall(r"\bSort \[", plan))
    exchanges = len(re.findall(r"\bExchange (?:hash|range|Single|RoundRobin)", plan))
    return sorts, exchanges


def _flagship_layers(acts: _Actions, wl, rec: Recorder, work_dir: str) -> dict:
    out: dict = {}
    ff = rec.first("flagship_features")
    out["flagship.build_s"] = ff["s"]
    out["flagship.plan_sorts"], out["flagship.plan_exchanges"] = _plan_counts(ff["result"])

    out["windows.session_roll_s"] = sum(
        acts.replay(rec.first(n))[0] for n in ("with_time_chunk", "sessionize", "rolling_count")
    )
    out["asof.join_s"], asof, _ = acts.replay(rec.first("asof_join"))
    out["asof.task_cpu_s"] = asof["task_cpu_s"]
    out["asof.shuffle_records"] = asof["shuffle_records"]
    out["asof.shuffle_mb"] = asof["shuffle_mb"]
    out["asof.skew"] = asof["skew"]

    # the feature-frame dedup is inline code in flagship_features, not a
    # layer function: re-issue the same projection + dropDuplicates
    kw = ff["kwargs"]
    join_keys = [*kw["keys"], kw["ts_col"]]
    feat_cols = ["session_id", "rolling_docs", *kw["payload"]]
    asof_out = _stage(rec.first("asof_join")["result"])
    out["flagship.dedup_s"], dd, _ = acts.timed(
        lambda: _noop(asof_out.select(*join_keys, *feat_cols).dropDuplicates(join_keys))
    )
    out["flagship.dedup_shuffle_mb"] = dd["shuffle_mb"]

    ex = rec.first("explode_with_context")
    out["windows.explode_s"], _, mark = acts.replay(ex)
    out["windows.explode_rows"] = sum(acts.stages.node_rows(mark, "Generate"))

    features = _stage(ex["result"])
    sink_dir = os.path.join(work_dir, "out", "trace_sink")
    shutil.rmtree(sink_dir, ignore_errors=True)
    out["sink.write_s"], _, _ = acts.timed(lambda: features.write.parquet(sink_dir))
    nbytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(sink_dir, "*.parquet")))
    out["sink.output_mb"] = nbytes / 1e6
    out["sink.bytes_per_row"] = nbytes / wl.expected_rows
    return out


def _dedup_layers(acts: _Actions, wl, rec: Recorder, mark: tuple, job: dict) -> dict:
    out = {"dedup.signature_s": acts.replay(rec.first("_sig_frame"))[0]}
    # the candidate-pair dedup is the aggregate keyed on (id_a, id_b); its
    # final (smallest) output is the number of pairs sent to Jaccard verify
    aggs = acts.stages.node_rows(mark, "HashAggregate", "HashAggregate(keys=[id_a")
    out["dedup.candidates"] = min(aggs) if aggs else 0
    out["dedup.pairs"] = wl.expected_rows
    out["dedup.verify_ratio"] = wl.expected_rows / out["dedup.candidates"] if out["dedup.candidates"] else 0.0
    out["dedup.shuffle_mb"] = job["shuffle_mb"]
    out["dedup.skew"] = job["skew"]
    return out


class Tracer:
    """Wraps one end-to-end job in spans (``with tracer.job(): ...``), then
    replays its layers (``tracer.metrics(...)``)."""

    def __init__(self, spark, wl) -> None:
        self.wl = wl
        self.jvm, self.acts, self.rec = probes.Jvm(spark), _Actions(spark), Recorder()
        self.values = {name: 0.0 for name, _, _ in METRICS}

    @contextlib.contextmanager
    def job(self):
        with self.rec.spans(SPANS[self.wl.kind]):
            j0 = self.jvm.read()
            self.mark = self.acts.stages.mark()
            t0 = time.perf_counter()
            yield
            wall = time.perf_counter() - t0
            self.stats = self.acts.stages.since(self.mark, wall)
            self.values.update(self.jvm.delta(j0, self.jvm.read()))
            self.traced_wall_s = time.perf_counter() - t0

    def metrics(self, work_dir: str, session_s: float, untraced_wall_s: float) -> dict:
        """Every metric of ``METRICS`` as ``{name: {value, unit}}``."""
        v = self.values
        for k in ("task_cpu_s", "stage_gap_s", "shuffle_mb", "spill_mb", "peak_exec_mem_mb"):
            v[f"spark.{k}"] = self.stats[k]
        if self.wl.kind == "flagship":
            v.update(_flagship_layers(self.acts, self.wl, self.rec, work_dir))
        else:
            v.update(_dedup_layers(self.acts, self.wl, self.rec, self.mark, self.stats))
        v["session.build_s"] = session_s
        v["trace.overhead_s"] = self.traced_wall_s - untraced_wall_s
        return {k: {"value": x, "unit": UNITS[k]} for k, x in v.items()}
