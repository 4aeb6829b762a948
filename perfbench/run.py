"""Plan-engine benchmark: one workload, one seed, one closed-loop client.

Run from the root of a checkout that holds ``topnotch_spark``::

    python3 perfbench/run.py --workload qc_gate --seed 1 --seconds 12 --trace 0

The generator writes the workload's inputs and expected results under
``.bench_work/`` in the checkout. The run then times Spark set-up, the first
(cold) unit, and back-to-back warm units for about ``--seconds`` seconds,
checking every unit's outputs. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. A human-readable table goes to stderr. Everything the run
writes stays under ``.bench_work/``; only the span file of a traced run is
left there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
CPUS = max(1, min(4, os.cpu_count() or 1))
# Warm units a run always measures, however long they take.
MIN_WARM_UNITS = 3


# Printed to stderr when measured but not end-to-end metrics of
# BENCHMARK.json: plans_per_s only restates rows_per_s, run_s_p90 needs 100
# warm units, and peak_rss_mb spreads too widely across runs to gate on
# (JVM heap growth); it is a per-layer metric instead.
EXTRA_UNITS = {"plans_per_s": "1/s", "run_s_p90": "s", "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(work: str) -> None:
    """Point every file Spark, its JVM and its Python workers write at the
    work directory, and size the session for this host."""
    for d in ("tmp", "local", "ckpt", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_STREAM_CKPT_ROOT"] = f"{work}/ckpt"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def start_session(work: str):
    from topnotch_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })


def stop_session(spark) -> None:
    """Stop the session, end the driver JVM and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for p in (pid, "self"):
        with open(f"/proc/{p}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(q * len(v) + 0.999999) - 1))]


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "topnotch_spark", "__init__.py")):
        log("perfbench: run from the root of a checkout holding topnotch_spark/")
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    environment(work)
    try:
        run = Run(args, work)
        values = run.measure()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    extra = {k: (values[k], u) for k, u in EXTRA_UNITS.items()
             if k in values and k not in metrics}
    for name, (value, unit) in {**{n: (m["value"], m["unit"]) for n, m in metrics.items()},
                                **extra}.items():
        log(f"  {name:<34} {value:>16.6g} {unit}")
    log(f"  {'failed_frac':<34} {run.failed / run.attempted:>16.6g} "
        f"({run.failed} of {run.attempted} units)")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0

    def measure(self) -> dict[str, float]:
        from perfbench import gen

        t = time.perf_counter()
        self.expected = gen.generate(self.args.workload, self.args.seed, self.work)
        log(f"generated {self.args.workload} seed {self.args.seed} "
            f"in {time.perf_counter() - t:.2f}s")
        t0 = time.perf_counter()
        import topnotch_spark.engine  # noqa: F401
        import topnotch_spark.plans.extensions  # noqa: F401
        t1 = time.perf_counter()
        spark = start_session(self.work)
        t2 = time.perf_counter()
        setup = {"setup_s": t2 - t0, "session.import_s": t1 - t0,
                 "session.get_spark_s": t2 - t1}
        try:
            out = (self.traced if self.args.trace else self.untraced)(spark)
        finally:
            stop_session(spark)
        return {**setup, **out}

    def _workload(self, spark, tracer):
        from perfbench.workloads import WORKLOADS

        return WORKLOADS[self.args.workload](spark, self.expected, self.work, tracer)

    def unit(self, wl, i: int, tracer=None) -> float:
        """Run and check unit ``i``; returns its wall time. A unit that
        raises or whose outputs are wrong counts as failed."""
        wl.clear(i)
        t0 = time.perf_counter()
        try:
            if tracer is not None and tracer.enabled:
                with tracer.span("unit"):
                    res = wl.run(i)
            else:
                res = wl.run(i)
            dt = time.perf_counter() - t0
            errs = wl.check(i, res)
        except Exception as e:
            dt = time.perf_counter() - t0
            errs = [f"{type(e).__name__}: {e}"]
        self.attempted += 1
        if errs:
            self.failed += 1
            log(f"unit {i} FAILED: {errs[:3]}")
        return dt

    def loop(self, step, min_units: int) -> None:
        """Call ``step(i)`` (returning the unit's seconds) back to back,
        starting no unit that the last one's time says would end past
        ``--seconds``, but at least ``min_units`` of them."""
        start, last, i = time.perf_counter(), 0.0, 1
        while True:
            elapsed = time.perf_counter() - start
            if i > min_units and elapsed + last > self.args.seconds:
                return
            last = step(i)
            i += 1

    def untraced(self, spark) -> dict[str, float]:
        from perfbench.trace import Tracer

        wl = self._workload(spark, Tracer())
        first = self.unit(wl, 0)
        times: list[float] = []

        def step(i: int) -> float:
            times.append(self.unit(wl, i))
            return times[-1]

        # The JIT is still warming through the whole window, so the first
        # warm units run slower than the later ones; at least three units
        # let the median drop the slowest of them instead of resting on
        # one unit's time.
        self.loop(step, MIN_WARM_UNITS)
        p50 = statistics.median(times)
        log(f"first unit {first:.3f}s; {len(times)} warm units, p50 {p50:.3f}s: "
            f"{[round(t, 3) for t in times]}")
        out = {
            "first_run_s": first,
            "run_s_p50": p50,
            "rows_per_s": wl.rows / p50,
            "plans_per_s": len(times) / sum(times),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        if len(times) >= 100:
            out["run_s_p90"] = pct(times, 0.9)
        return out

    def traced(self, spark) -> dict[str, float]:
        """Alternate untraced and traced warm units; per-layer numbers are
        means over the traced ones, and the two sets' medians give the
        tracing overhead."""
        from perfbench.trace import (StatusRollup, Tracer, attribute_untagged,
                                     progress_listener, unit_metrics)

        tracer = Tracer(spark)
        tracer.install(self.expected["input_bytes"])
        progress: list[dict] = []
        spark.streams.addListener(progress_listener(progress))
        rollup = StatusRollup(spark)
        wl = self._workload(spark, tracer)
        jsc = spark.sparkContext._jsc
        self.unit(wl, 0)
        rollup.new_jobs({})
        plain, traced, per_unit, batches = [], [], [], []

        def step(i: int) -> float:
            # units run in pairs on the same input, untraced first in odd
            # pairs and traced first in even ones, so neither set gets the
            # warmer JVM
            pair = (i + 1) // 2
            tracer.enabled = (i % 2 == 0) != (pair % 2 == 0)
            tracer.unit_id = i
            n_spans, n_prog = len(tracer.spans), len(progress)
            before = jsc.getPersistentRDDs().size()
            dt = self.unit(wl, pair, tracer)
            rollup.drain_events()
            unit_spans = tracer.spans[n_spans:]
            jobs = rollup.new_jobs({s.id: s.depth for s in unit_spans})
            if not tracer.enabled:
                plain.append(dt)
                return dt
            traced.append(dt)
            attribute_untagged(jobs, unit_spans, tracer.epoch_ms)
            m = unit_metrics(unit_spans, jobs, tracer.epoch_ms, CPUS)
            m["materialize.left_after_plan"] = jsc.getPersistentRDDs().size() - before
            ps = progress[n_prog:]
            m["streaming.batches"] = len(ps)
            m["streaming.state_commit_ms"] = sum(p["state_commit_ms"] for p in ps)
            m["streaming.state_rows"] = max((p["state_rows"] for p in ps), default=0)
            m["streaming.state_bytes"] = max((p["state_bytes"] for p in ps), default=0)
            batches.extend(ps)
            per_unit.append(m)
            return dt

        self.loop(step, 2)
        tracer.enabled = False
        tracer.uninstall()
        tracer.dump(os.path.join(ROOT, ".bench_work",
                                 f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
        keys = {k for m in per_unit for k in m}
        out = {k: statistics.fmean(m.get(k, 0.0) for m in per_unit) for k in keys}
        for name, key in (("batch", "triggerExecution"), ("addBatch", "addBatch"),
                          ("queryPlanning", "queryPlanning"), ("walCommit", "walCommit")):
            ms = [p["duration"].get(key, 0) for p in batches]
            out[f"streaming.{name}_ms_p50"] = pct(ms, 0.5)
            if name == "batch":
                out["streaming.batch_ms_p90"] = pct(ms, 0.9)
        out["peak_rss_mb"] = peak_rss_mb(spark)
        out["trace.units"] = len(traced)
        out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
        self.reconcile(out)
        return out

    @staticmethod
    def reconcile(out: dict[str, float]) -> None:
        """Log the layer self times against the traced wall time."""
        from perfbench.trace import SELF_TIME_METRIC

        keys = sorted(set(SELF_TIME_METRIC.values()) | {"trace.unmapped_s"})
        total = sum(out.get(k, 0.0) for k in keys)
        log("layer self time per traced unit (mean):")
        for k in keys:
            if out.get(k):
                log(f"  {k:<34} {out[k]:>10.4f} s")
        log(f"  {'sum':<34} {total:>10.4f} s  vs wall {out['trace.wall_s']:.4f} s")


if __name__ == "__main__":
    sys.exit(main())
