#!/usr/bin/env python3
"""pylluminator_spark benchmark.

    python3 perfbench/run.py --workload methyl_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Prints a report (every metric by name,
with unit and sample count) and, as the last line of standard output, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run writes a Spark event log and reports the per-layer ones. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("methyl_batch", "curate_stream")
DRIVER_MEM = "2g"
RSS_PERIOD_S = 0.25


def _children() -> dict:
    """pid -> ppid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def _tree(root_pid: int) -> list:
    parents = _children()
    tree, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier += [c for c, p in parents.items() if p == pid]
    return tree


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (Python workers forked from one daemon) split among them,
    so a sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) summed over this process and all its
    descendants: the Python driver, the JVM and the Python workers."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            total = sum(_pss_kb(p) for p in _tree(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            self._stop_event.wait(RSS_PERIOD_S)

    def stop(self):
        self._stop_event.set()
        self.join(10)


def pin_environment(tmp: str) -> dict:
    """Session shape from the outside, through the inputs the program
    already reads. Returns the ``extra_conf`` for ``get_spark``."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(
            [
                f"-Xms{DRIVER_MEM}",  # fixed heap: GC timing does not drift
                f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
                f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
            ]
        ),
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = [p for p in _tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(60)
            except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
                proc.kill()
                proc.wait(10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = set(_children())
        procs = [p for p in procs if p in alive]
        if not procs:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pylluminator_spark")):
        print(f"no pylluminator_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    sampler = RssSampler()
    sampler.start()
    try:
        return run(args, tmp, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def run(args, tmp: str, sampler: RssSampler) -> int:
    extra_conf = pin_environment(tmp)
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    t0 = time.perf_counter()
    if args.workload == "methyl_batch":
        inp = inputs.make_methyl_inputs(args.seed, os.path.join(tmp, "idat"))
    else:
        inp = inputs.make_curate_inputs(args.seed, os.path.join(tmp, "corpus"))
    gen_s = time.perf_counter() - t0

    from perfbench import trace, workloads
    from pylluminator_spark.session import get_spark

    log_dir = os.path.join(tmp, "events")
    if args.trace:
        os.makedirs(log_dir)
        extra_conf.update(trace.event_log_conf(log_dir))

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
    if args.workload == "methyl_batch":
        reg = workloads.register_methyl(spark, inp)
    else:
        reg = workloads.register_curate(spark, inp)
    # cold: from process start, less input generation
    setup_s = time.perf_counter() - T_START - gen_s

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = trace.Tracer(sc=spark.sparkContext if args.trace else None, enabled=bool(args.trace))
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, tmp, reg)
    run_fn = getattr(workloads, args.workload)
    app_id = spark.sparkContext.applicationId
    try:
        if args.trace:
            with tracer.installed():
                res = run_fn(ctx, inp)
        else:
            res = run_fn(ctx, inp)
    except Exception as exc:  # noqa: BLE001 — a failed cold pass ends the run
        res = workloads.Result(rows=0, attempted=1, failed=1)
        res.errors.append(f"{type(exc).__name__}: {exc}"[:500])
    finally:
        stop_spark(spark)

    peak_mb = sampler.peak_kb / 1024.0
    metrics = {}
    report = [("gen_s", gen_s, "s", 1), ("cold_s", res.cold_s, "s", 1)]
    if res.traced_only_s:
        report.append(("traced_only_s", res.traced_only_s, "s", 1))
    if res.cold_s:
        report.append(("rows_per_s", res.rows / res.cold_s, "rows/s", 1))
    if res.failed == 0 and res.samples["rerun"] and res.samples["knob"]:
        metrics = {
            "setup_s": (setup_s, "s", 1),
            "rerun_p50_s": (statistics.median(res.samples["rerun"]), "s", len(res.samples["rerun"])),
            "knob_p50_s": (statistics.median(res.samples["knob"]), "s", len(res.samples["knob"])),
            "peak_rss_mb": (peak_mb, "MB", 1),
        }
    if res.batch_s:
        report.append(("increment_p50_s", statistics.median(res.batch_s), "s", len(res.batch_s)))
    ok = res.attempted - res.failed - res.bad
    report.append(("ok_frac", max(0, ok) / max(1, res.attempted), "ratio", res.attempted))

    if args.trace and res.failed == 0:
        jobs = trace.parse_event_log(trace.app_log(log_dir, app_id), res.stream_groups)
        traced, untraced = res.traced_s, res.untraced_s
        overhead = (
            statistics.median(traced) / statistics.median(untraced) - 1.0
            if traced and untraced
            else 0.0
        )
        layers = trace.layer_metrics(tracer, jobs, cores, setup_s, res.batch_s, overhead)
        metrics = {k: (v, u, 1) for k, (v, u) in layers.items()}
        report.append(("exec_share", trace.exec_share(tracer, jobs, cores), "ratio", 1))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} cores={cores}")
    for name, (value, unit, n) in metrics.items():
        print(f"{name:48s} {value:16.6f} {unit:8s} n={n}")
    for name, value, unit, n in report:
        print(f"  side  {name:42s} {value:16.6f} {unit:8s} n={n}")
    for kind, x in res.warmup.items():
        print(f"  warm-up {kind} {x:.4f}")
    for kind, xs in res.samples.items():
        print(f"  samples {kind} " + " ".join(f"{x:.4f}" for x in xs))
    for err in res.errors:
        print(f"  error {err}")
    correct = not res.errors and res.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed + res.bad,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
