"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload client_rpc --seed 1 --seconds 10 --trace 0

The run pins its environment (``local[nproc]``, the local commit
backend, no ``SPARK_GRAFT_*`` overrides), keeps every file it writes in
``.perfbench_work/`` under the current directory and removes it at
exit, and stops the Spark JVM it started.  It prints one line per
figure with its unit and sample count, then one JSON line with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class OpRecord:
    kind: str
    cls: str  # read / write / maintenance
    seconds: float
    ok: bool
    cpu_s: float
    jobs: int = 0
    tasks: int = 0
    backend_calls: dict | None = None  # commit-backend calls by verb (traced)
    backend_s: float = 0.0


def pinned_environment(work: str) -> dict[str, str]:
    """Remove every SPARK_GRAFT_* override (returned for the record) and
    point Spark's and Python's scratch space into ``work``."""
    removed = {k: os.environ.pop(k) for k in sorted(os.environ) if k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    return removed


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


class Bench:
    def __init__(self, spark, work: str, seed: int, traced: bool):
        import spans

        self.spark, self.work, self.seed, self.traced = spark, work, seed, traced
        self.tracer = spans.Tracer(traced)
        self.backend = spans.CountingBackend() if traced else _local_backend()
        self.jobs = spans.JobCounter(spark) if traced else None
        self.ops: list[OpRecord] = []
        self.errors: list[str] = []

    def op(self, kind: str, cls: str, fn, check, after=None) -> OpRecord:
        """Run one closed-loop op: time it, check its result, record it.
        A raised error or a wrong result is a failed op."""
        group = self.jobs.set_group(len(self.ops)) if self.traced else None
        if self.traced:
            calls0, backend0 = dict(self.backend.calls), self.backend.seconds
        self.tracer.op = len(self.ops)
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            result = fn()
            err = None
        except Exception as e:  # a failing verb is counted, not fatal
            result, err = None, f"{kind}: {type(e).__name__}: {e}"
        seconds = time.perf_counter() - t0
        cpu = time.process_time() - c0
        ok = err is None
        if ok:
            try:
                ok = bool(check(result))
            except Exception as e:
                ok, err = False, f"{kind}: check raised {type(e).__name__}: {e}"
            if not ok and err is None:
                err = f"{kind}: wrong result {str(result)[:200]}"
        if err:
            self.errors.append(err)
        rec = OpRecord(kind, cls, seconds, ok, cpu)
        if group:
            rec.jobs, rec.tasks = self.jobs.count(group)
            rec.backend_calls = {v: n - calls0[v] for v, n in self.backend.calls.items()}
            rec.backend_s = self.backend.seconds - backend0
        self.ops.append(rec)
        if after is not None:
            after(kind)
        return rec

    # -- summaries ------------------------------------------------------

    @staticmethod
    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    @staticmethod
    def p50_ms(seconds) -> float:
        seconds = list(seconds)
        return 1000 * statistics.median(seconds) if seconds else 0.0

    def latency_line(self, label: str, ops: list[OpRecord]) -> str:
        good = [o.seconds for o in ops if o.ok]
        failed = len(ops) - len(good)
        if not good:
            return f"{label}: no completed samples ({failed} failed)"
        return (f"{label}: p50 {self.p50_ms(good):.2f} ms, max {1000 * max(good):.2f} ms "
                f"(n={len(good)}, failed={failed})")


def _local_backend():
    from adfs_spark.backend import LocalCommitBackend

    return LocalCommitBackend()


def make_workload(name: str, bench: Bench):
    if name == "client_rpc":
        from client_rpc import ClientRpc

        return ClientRpc(bench)
    if name == "corpus_analytics":
        from corpus_analytics import CorpusAnalytics

        return CorpusAnalytics(bench)
    raise SystemExit(f"unknown workload {name!r}")


def run(args, spec: dict, work: str) -> dict:
    removed = pinned_environment(work)
    nproc = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from adfs_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc}]")
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, work, args.seed, bool(args.trace))
        wl = make_workload(args.workload, bench)
        wl.generate()
        t = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t
        setup_s = session_s + load_s
        wl.setup()
        start = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - start < args.seconds:
            wl.run_pass(passes)
            passes += 1
        wall = time.perf_counter() - start
        mismatched = wl.final_check()
        if mismatched:
            bench.errors.append(f"final state check: {mismatched} mismatches")
        if args.trace:
            out = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        layers = wl.layer_metrics() if args.trace else {}
        lines = wl.report_lines()
    finally:
        stop_spark(spark)

    ops = bench.ops
    failed = sum(not o.ok for o in ops) + mismatched
    good = [o for o in ops if o.ok]
    busy = sum(o.seconds for o in ops)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(good) / busy if busy else 0.0,
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: nproc {nproc}, "
          f"master local[{nproc}], loadavg {' '.join(f'{x:.2f}' for x in os.getloadavg())}")
    print(f"removed from environment: {removed or 'nothing'}")
    print(f"session start {session_s:.3f} s, load {load_s:.3f} s")
    print(f"{passes} passes, {len(ops)} ops in {wall:.3f} s wall, {busy:.3f} s busy")
    print(f"failed_frac: {failed / max(len(ops), 1):.4f} ({failed} of {len(ops)} ops)")
    for e in bench.errors[:10]:
        print(f"  FAILED {e}")
    print(bench.latency_line("all ops", ops))
    for line in lines:
        print(line)
    for k, v in e2e.items():
        print(f"{k}: {v:.6g} {_unit(spec, k)}")
    if args.trace:
        layers["session.start_s"] = session_s
        layers["driver.py_cpu_ms_per_op"] = 1000 * bench.mean(o.cpu_s for o in ops)
        layers["trace.overhead_ms_per_op"] = 1000 * bench.tracer.own_s / max(len(ops), 1)
        for k, v in e2e.items():
            layers[f"trace.{k}"] = v
        layers["trace.op_p50_ms"] = bench.p50_ms(o.seconds for o in good)
        metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        for k, v in sorted(layers.items()):
            print(f"layer {k}: {v:.6g} {_unit(spec, k)}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    return {
        "correct": failed == 0,
        "attempted": max(len(ops), 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(spec, k)} for k, v in metrics.items()},
    }


def _unit(spec: dict, name: str) -> str:
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "adfs_spark")):
        print("adfs_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, spec, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
