"""RELIEF-F selector benchmark: fit and transform through the public
Spark ML surface, closed loop, one caller, one operation at a time.

    python3 perfbench/run.py --workload dense-redundancy --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` makes a separate traced run that replays the fit
layer by layer (perfbench/replay.py) and reports per-layer metrics.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. Human-readable lines before it give every metric with its
unit and sample count, the workload's input properties and the run
environment. Work files go to ``.bench_build/perfbench`` under the
current directory and are removed at exit, except the span files.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
BENCH_DIR = Path(__file__).resolve().parent
sys.path[:0] = [str(ROOT), str(BENCH_DIR.parent)]

import numpy as np  # noqa: E402

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS, generate, properties  # noqa: E402

#: JVM heap for local[N] (driver and executors share it). The engine's
#: own default is 12g, which leaves no headroom on a 15 GiB host that
#: other work shares; the benchmark's largest cached table is ~60 MB.
DRIVER_MEM = "3g"
#: setup repetitions per run; setup_s reports their median
SETUP_REPS = 3
#: apply-table rows whose transform output is checked against numpy
CHECK_ROWS = 20
#: Timed warm fits per run, whatever their speed: fits keep speeding up
#: for several rounds as the JIT warms, so a count that grew with the
#: code's speed would time a faster change on warmer fits.
WARM_FITS = 2


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if importlib.util.find_spec("spark_relieffc_fselection_spark") is None:
        print(
            "perfbench: package spark_relieffc_fselection_spark not found "
            f"under {ROOT}; run from the repository root",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".bench_build" / "perfbench"
    run_dir = work / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    env = _configure_env(run_dir)
    try:
        return Bench(args, run_dir, work, env).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _configure_env(run_dir: Path) -> dict:
    """Point every scratch location of Python, the JVM and Spark inside
    the run directory, and fix parallelism and heap, before pyspark is
    imported."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(tmp),
        # session.py's default GC options, plus a JVM temp dir in the run
        # and no /tmp/hsperfdata file (for the launcher JVM as well)
        "SPARK_GRAFT_JAVA_OPTS": "-XX:+UseParallelGC -XX:MetaspaceSize=512m "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = str(tmp)
    return env


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")


def _reset_peak_rss() -> None:
    """Give freed driver memory back to the OS, then reset VmHWM to the
    current RSS (Linux: ``5`` to /proc/self/clear_refs), so the peak
    read later is that of the operations after this call."""
    import ctypes
    import gc

    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


class Bench:
    def __init__(self, args, run_dir: Path, work: Path, env: dict) -> None:
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.work = work
        self.env = env
        self.attempted = 0
        self.failed = 0
        self.reference = None  # (std, red) of the first successful fit

    # -- operations ------------------------------------------------------
    def op(self, name: str, fn):
        """Run one counted operation; a raise or a failed check counts
        as failed. Returns (result, seconds) or (None, None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # the loop must go on and report the failure
            self.failed += 1
            print(f"FAILED {name}:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        return out, time.perf_counter() - t0

    def fit(self):
        from spark_relieffc_fselection_spark.ml import ReliefFSelector

        model = ReliefFSelector(seed=7, **self.w.params).fit(self.train)
        self.gate_fit(model)
        return model

    def gate_fit(self, model) -> None:
        std = model.getOrDefault(model.stdSelection)
        red = model.getOrDefault(model.redundancySelection)
        missing = set(self.inputs.informative) - set(std)
        if missing:
            raise AssertionError(f"planted features {missing} not in std {std}")
        dup = self.inputs.duplicate
        if dup is not None:
            kept = set(self.inputs.informative) - {dup}
            if dup in red or not kept <= set(red):
                raise AssertionError(
                    f"redundancy selection {red} must keep {kept} and drop {dup}"
                )
        if self.reference is None:
            self.reference = (std, red)
        elif (std, red) != self.reference:
            raise AssertionError(f"selections {(std, red)} != {self.reference}")

    def check_transform(self, model) -> None:
        from pyspark.sql import functions as F

        rows = self.check_rows
        got = (
            model.transform(self.apply.filter(F.col("row").isin(rows)))
            .select("row", "selectedFeatures")
            .collect()
        )
        sel = model.selected_indices()
        if sorted(r["row"] for r in got) != sorted(rows):
            raise AssertionError("transform check: rows missing from the output")
        for r in got:
            want = self.inputs.apply.row_dense(r["row"], self.w.width)[sel]
            if not np.array_equal(r["selectedFeatures"].toArray(), want):
                raise AssertionError(f"transform row {r['row']} != numpy gather")

    # -- setup -----------------------------------------------------------
    def start_session(self):
        from spark_relieffc_fselection_spark import get_spark

        return get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )

    def prepare_inputs(self, rep: int) -> None:
        """Generate, write to parquet, read back cached. The selector
        sees only what this reads."""
        self.inputs = generate(self.w, self.args.seed)
        path = self.run_dir / f"data{rep}"
        for name, table in (("train", self.inputs.train), ("apply", self.inputs.apply)):
            _write_table(self.spark, table, self.w, str(path / name))
        old = getattr(self, "train", None), getattr(self, "apply", None)
        self.train = _read_cached(self.spark, str(path / "train"))
        self.apply = _read_cached(self.spark, str(path / "apply"))
        for df in old:
            if df is not None:
                df.unpersist()

    def setup(self, tracer=None):
        t0 = time.perf_counter()
        if tracer is None:
            self.spark = self.start_session()
        else:
            with tracer.span("session.get_spark"):
                self.spark = self.start_session()
            tracer.sc = self.spark.sparkContext
        self.session_s = time.perf_counter() - t0
        self.prep_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            self.prepare_inputs(rep)
            self.prep_s.append(time.perf_counter() - t)
        rng = np.random.default_rng(self.args.seed)
        self.check_rows = sorted(
            int(i) for i in rng.choice(self.inputs.apply.rows, CHECK_ROWS, replace=False)
        )
        self.setup_s = self.session_s + stats.median(self.prep_s)
        # the inputs are built in this process; the selector's driver
        # peak must not be theirs
        self.setup_peak_mb = _peak_rss_mb()
        _reset_peak_rss()

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- runs ------------------------------------------------------------
    def run(self) -> int:
        try:
            if self.args.trace:
                from perfbench.replay import traced_run

                metrics, samples = traced_run(self), {}
            else:
                self.setup()
                metrics, samples = self.measure()
        finally:
            self.stop()
        return self.report(metrics, samples)

    def measure(self):
        """The first fit of the session, then WARM_FITS more (each fit is
        gated, and its transform of a sample checked), then the workload's
        ``transforms`` timed transforms of the whole apply table with the
        last model, after one untimed transform that lets the heap settle
        after fitting.
        If all that took less than --seconds, gated fits that are not
        timed fill the rest."""
        model, first = self.op("first fit", self.fit)
        if model is not None:
            self.op("transform check", lambda: self.check_transform(model))
        fits, sinks = [], []
        deadline = time.perf_counter() + self.args.seconds
        for _ in range(WARM_FITS):
            self.collect_garbage()
            fitted, t = self.op("fit", self.fit)
            if fitted is None:
                continue
            model = fitted
            fits.append(t)
            self.op("transform check", lambda: self.check_transform(model))
        if model is not None:
            self.op("transform", lambda: self.sink(model))
            self.collect_garbage()
            for _ in range(self.w.transforms):
                _, t = self.op("transform", lambda: self.sink(model))
                if t is not None:
                    sinks.append(t)
        if first is None or not fits or not sinks:
            raise RuntimeError("no successful fit/transform to report")
        # the cold first fit moves as much with the host as with the
        # code (IQR 17-22% of the median over 5 seeds on a 4-vCPU VM),
        # so it is part of set-up, whose median alone is bounded
        self.setup_s += first
        samples = {
            "fit_s": fits,
            "transform_rows_per_s": [self.inputs.apply.rows / t for t in sinks],
        }
        metrics = {
            "fit_s": (stats.median(fits), "s"),
            # all rows over all sink time: on sparse-wide, densifying
            # transforms are GC-bound and their times bimodal, and a median
            # flips between the modes from run to run
            "transform_rows_per_s": (
                self.inputs.apply.rows * len(sinks) / sum(sinks), "1/s"
            ),
            "setup_s": (self.setup_s, "s"),
            "driver_peak_rss_mb": (_peak_rss_mb(), "MB"),
        }
        extra = 0
        while time.perf_counter() < deadline:
            self.op("fit (untimed)", self.fit)
            extra += 1
        print(
            f"setup_s parts: session={self.session_s:.4f}s "
            f"prepare={[round(x, 4) for x in self.prep_s]} "
            f"(median counted) first_fit={first:.4f}s"
        )
        print(
            f"driver peak RSS during setup (not a metric): "
            f"{self.setup_peak_mb:.1f} MB; untimed fits to fill --seconds: {extra}"
        )
        return metrics, samples

    def collect_garbage(self) -> None:
        """Start each timed phase from a collected heap, in the JVM and in
        the driver, as JMH does between iterations: what the previous
        operation left for the collector otherwise lands on a random
        later operation."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def sink(self, model) -> None:
        model.transform(self.apply).write.format("noop").mode("overwrite").save()

    def report(self, metrics: dict, samples: dict) -> int:
        w = self.w
        print(f"workload {w.name}: {w.why}")
        print("inputs " + json.dumps(properties(w, self.inputs), sort_keys=True))
        print("params " + json.dumps(w.params, sort_keys=True))
        print("env " + json.dumps(self.env, sort_keys=True))
        for name, (value, unit) in metrics.items():
            vals = samples.get(name, [value])
            shown = ", ".join(f"{v:.4g}" for v in vals)
            if len(vals) >= 4:
                q1, _, q3 = stats.quartiles(vals)
                shown += f"; q1={q1:.4g} q3={q3:.4g}"
            print(f"metric {name} = {value:.6g} {unit} (samples={len(vals)}: {shown})")
        frac = stats.failed_frac(self.failed, self.attempted)
        print(
            f"metric failed_frac = {frac:.6g} ratio "
            f"(failed={self.failed} attempted={self.attempted})"
        )
        print(
            json.dumps(
                {
                    "correct": self.failed == 0,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {
                        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    },
                }
            )
        )
        return 0


def _write_table(spark, table, w, path: str) -> None:
    import pandas as pd
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    if table.dense is not None:
        pdf = pd.DataFrame(
            {
                "row": np.arange(table.rows, dtype=np.int32),
                "label": table.labels,
                "features": list(table.dense),
            }
        )
        df = spark.createDataFrame(pdf).withColumn(
            "features", array_to_vector("features")
        )
    else:
        schema = StructType(
            [
                StructField("row", IntegerType()),
                StructField("label", DoubleType()),
                StructField("features", VectorUDT()),
            ]
        )
        df = spark.createDataFrame(
            [
                (i, float(table.labels[i]), SparseVector(w.width, idx, val))
                for i, (idx, val) in enumerate(zip(table.indices, table.values))
            ],
            schema,
        )
    df.write.parquet(path)


def _read_cached(spark, path: str):
    df = spark.read.parquet(path).cache()
    df.count()
    return df


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
