"""Benchmark of the sync job, delta re-sync, stream folds and iterative
loops. Run from the repository root:

    python3 perfbench/run.py --workload sync_delta --seed 1 --seconds 24 --trace 0

It generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts one Spark session on ``local[<cores>]``, sets up, warms up, then
times as many ops of the workload as fit ``--seconds`` on a 4-core host
and checks every op's output. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a separate traced
run with ``--trace 1``. Spans and the layer table of a traced run are
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3  # setup_s takes the median round


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("sync_full", "sync_delta", "stream_fold", "graph_loops", "fold_loops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"), default="default",
                    help="tiny is the self-test size (sf0.001-like)")
    return ap.parse_args(argv)


def _reset_hwm(pid: int) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self._n = 0

    def session(self, cores: int):
        from amazon_personalize_connectors_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        # The heap is committed up front but not touched, and the young
        # generation is fixed: left to G1, both resize with GC timings and
        # the peak RSS spread ~20% between seeds. What still moves it is
        # the old generation the ops fill, native memory and Python.
        return get_spark("perfbench", cores=cores, extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms2g -Xmn512m",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        })

    def op_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"op{self._n}")

    def run_op(self, wl, ctx) -> float:
        """One op: reset, time, check. Returns the op's wall time."""
        d = self.op_dir()
        wl.reset(ctx, d)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = wl.op(ctx, d)
        except Exception:  # noqa: BLE001 — a raising op counts as failed
            self.failures.append(f"op {self._n} raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.failures += [f"op {self._n}: {m}" for m in wl.check(ctx, result)]
        shutil.rmtree(d, ignore_errors=True)
        return dt

    def run(self) -> dict:
        from perfbench import fixtures as fx
        from perfbench import workloads
        from perfbench.metrics import END_TO_END, per_layer

        a = self.args
        scale = (fx.Scale(parts=200, orders=1500, embeddings=100) if a.scale == "tiny"
                 else fx.Scale(parts=1000, orders=7500, embeddings=200))
        t0 = time.perf_counter()
        self.spark = self.session(self.cores)
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[a.workload](self.spark, a.seed, scale)

        # every round does the same work; the ops run on the last one's
        # inputs, the earlier rounds exist only to be timed
        round_s = []
        for r in range(SETUP_ROUNDS):
            round_dir = os.path.join(self.work, f"round{r}")
            t = time.perf_counter()
            ctx = wl.prepare(round_dir)
            round_s.append(time.perf_counter() - t)
            if r < SETUP_ROUNDS - 1:
                shutil.rmtree(round_dir)
        # the expectations make no library call, so they stay out of setup_s
        wl.expect(ctx)
        # a traced run always warms up: its overhead compares warm ops
        warmup_s = sum(self.run_op(wl, ctx) for _ in range(max(wl.warmup_ops, a.trace)))

        if not a.trace:
            # peak memory of the timed ops alone, not of set-up's oracles
            jvm = self.spark.sparkContext._gateway.proc.pid
            for pid in (jvm, os.getpid()):
                _reset_hwm(pid)
            # a fixed op count, not a deadline: every run does the same
            # work however fast the host or the program is, so a faster
            # program is not charged for the memory of extra ops
            op_s = [self.run_op(wl, ctx) for _ in range(max(1, round(a.seconds / wl.nominal_op_s)))]
            print(f"perfbench: session {session_s:.3f} s, set-up rounds {round_s}, warm-up {warmup_s:.3f} s, ops {op_s}, "
                  f"rss jvm {_vm_hwm_mb(jvm):.0f} MB python {_vm_hwm_mb(os.getpid()):.0f} MB", file=sys.stderr)
            values = {
                "op_s": statistics.median(op_s),
                "setup_s": session_s + statistics.median(round_s),
                "peak_rss_mb": _vm_hwm_mb(jvm) + _vm_hwm_mb(os.getpid()),
            }
            units = END_TO_END
        else:
            values = self.traced(wl, ctx, scale)
            values["setup.session_s"] = session_s
            values["setup.warmup_s"] = warmup_s
            units = per_layer()
            missing = set(values) - set(units)
            if missing:
                raise RuntimeError(f"unnamed metrics: {sorted(missing)}")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
        }

    def traced(self, wl, ctx, scale) -> dict:
        """The op as a chain of traced layer calls, then untraced, then
        (sync) untraced on one core. The untraced op runs second, so a
        run still warming up makes the overhead read high, never low."""
        from perfbench import workloads
        from perfbench.metrics import per_layer
        from perfbench.trace import Tracer

        tr = Tracer(self.spark)
        d = self.op_dir()
        wl.reset(ctx, d)
        t = time.perf_counter()
        wl.traced_op(ctx, d, tr)
        traced_s = time.perf_counter() - t
        shutil.rmtree(d, ignore_errors=True)
        untraced_s = self.run_op(wl, ctx)
        raw = tr.layer_metrics(self.cores)
        spans = tr.records()

        local1_s = 0.0
        if wl.single_core_baseline:
            self.spark.stop()
            self.spark = self.session(1)
            local1_s = self.run_op(workloads.WORKLOADS[self.args.workload](self.spark, self.args.seed, scale), ctx)

        names = per_layer()
        values = {k: v for k, v in raw.items() if k in names}
        values["sources.input_bytes"] = raw.get("sources._input_bytes", 0.0)
        for layer in ("streaming.model_refresh", "streaming.ann_monitor"):
            if raw.get(f"{layer}.triggers"):
                values[f"{layer}.jobs_per_trigger"] = raw[f"{layer}.jobs"] / raw[f"{layer}.triggers"]
        values.update({
            "trace.op_s": traced_s,
            "trace.untraced_op_s": untraced_s,
            "trace.overhead_s": traced_s - untraced_s,
            "trace.self_sum_s": sum(s["self_s"] for s in spans),
            "trace.local1_op_s": local1_s,
            "trace.parallel_speedup": local1_s / untraced_s if local1_s else 0.0,
        })
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{self.args.workload}-{self.args.seed}.json"), "w") as f:
            json.dump({"spans": spans, "metrics": values}, f, indent=1)
        print(f"{'layer metric':58s} value", file=sys.stderr)
        for k in sorted(values):
            print(f"{k:58s} {values[k]:.6g}", file=sys.stderr)
        return values

    def close(self):
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = gateway.proc
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
                SparkContext._gateway = None
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import amazon_personalize_connectors_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    bench = Bench(args)
    os.makedirs(bench.work, exist_ok=True)
    # Spark, Python and the library put temporary files under TMPDIR
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    try:
        result = bench.run()
    finally:
        bench.close()
    for f in bench.failures:
        print(f, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
