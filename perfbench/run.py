#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up (Spark session, seeded
inputs, an untimed warm pass), then measures whole passes of the workload
until ``--seconds`` have elapsed (at least one pass), checks the outputs,
and prints as the last stdout line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs one untraced and one traced
pass and reports the per-layer metrics (spans and Spark stage metrics per
layer; the spans are written to ``.perfbench_work/traces/``). Everything
else goes to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback
from statistics import median, quantiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"   # the local-mode driver is the executor; steadier peak RSS

LAYERS = ["readers", "extraction", "canonicalize", "corpus", "gibbs.init",
          "gibbs.sweep", "gibbs.posteriors", "summary", "checkpoint",
          "materialize", "entlda2", "ontopart", "lodlda"]
LAYER_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("task_run_s", "s"),
                ("task_cpu_s", "s"), ("worker_cpu_s", "s"), ("jobs", "count"),
                ("shuffle_bytes", "bytes")]
EXTRA_METRICS = [
    ("extraction.rows_out", "rows"), ("canonicalize.rows_out", "rows"),
    ("gibbs.sweep.p50_s", "s"), ("gibbs.sweep.p90_s", "s"),
    ("gibbs.sweep.changed_rate", "ratio"), ("gibbs.sweep.bcast_bytes", "bytes"),
    ("gibbs.sweep.busy_ratio", "ratio"),
    ("native_kernel.tokens_per_s", "1/s"), ("native_kernel.cand_evals", "count"),
    ("checkpoint.bytes_written", "bytes"), ("materialize.bytes_written", "bytes"),
    ("entlda2.sweep_p50_s", "s"), ("ontopart.sweep_p50_s", "s"),
    ("lodlda.sweep_p50_s", "s"),
    ("setup.spark_boot_s", "s"), ("setup.inputs_s", "s"), ("setup.warm_s", "s"),
    ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{layer}.{f}", u) for layer in LAYERS
             for f, u in LAYER_FIELDS] + EXTRA_METRICS
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("tokens_per_s", "1/s"),
              ("neg_loglik_per_token", "nats"), ("peak_rss_mb", "MB")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(cores: int):
    from entitysummarization_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed-size heap, touched in full at start, so the JVM's
            # resident heap does not depend on when it grew or collected;
            # and no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    each process has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, pids):
        os.kill(pid, signal.SIGKILL)


def layer_metrics(tracer, cores: int) -> dict[str, float]:
    out = {name: 0.0 for name, _ in PER_LAYER}
    for layer in LAYERS:
        spans = tracer.layer(layer)
        for f, _ in LAYER_FIELDS:
            out[f"{layer}.{f}"] = float(sum(s[f] for s in spans))
        for s in spans:
            if "rows_out" in s:
                out[f"{layer}.rows_out"] = float(s["rows_out"])
            if "bytes_written" in s:
                out[f"{layer}.bytes_written"] += float(s["bytes_written"])
        sweeps = [s["wall_s"] for s in spans if s.get("phase") == "sweep"]
        if sweeps:
            out[f"{layer}.sweep_p50_s"] = median(sweeps)
    sweeps = tracer.layer("gibbs.sweep")
    if sweeps:
        per_sweep = [s["wall_s"] / s["sweeps"] for s in sweeps]
        out["gibbs.sweep.p50_s"] = median(per_sweep)
        out["gibbs.sweep.p90_s"] = (
            quantiles(per_sweep, n=10, method="inclusive")[-1]
            if len(per_sweep) > 1 else per_sweep[0])
        out["gibbs.sweep.changed_rate"] = (
            sum(s["changed"] for s in sweeps) / sum(s["tokens"] for s in sweeps))
        out["gibbs.sweep.bcast_bytes"] = float(sweeps[-1]["bcast_bytes"])
        covered = sum(s["stage_wall_s"] for s in sweeps)
        out["gibbs.sweep.busy_ratio"] = (
            sum(s["task_run_s"] for s in sweeps) / (cores * covered)
            if covered else 0.0)
    return out


def tokens_per_s(p: dict) -> float:
    """Tokens resampled per second of sweep wall time, from the median
    sweep (one block of ``sweeps_per_job`` sweeps per entry)."""
    per_block = p["n_sweeps"] / len(p["sweep_s"])
    return p["tokens"] * per_block / median(p["sweep_s"])


def run(args) -> dict:
    from entitysummarization_spark.models import native_kernel

    from perfbench.chain_long import ChainLong
    from perfbench.kg_build import KgBuild
    from perfbench.trace import PeakRss, Tracer

    workloads = {w.name: w for w in (KgBuild, ChainLong)}
    cores = len(os.sched_getaffinity(0))
    checks: list[tuple[str, bool]] = []
    passes: list[dict] = []
    setup: dict[str, float] = {}

    def checked(check, *args) -> None:
        try:
            checks.extend(check(*args))
        except Exception:  # noqa: BLE001 — a crashed check is a failed one
            traceback.print_exc()
            checks.append(("check_raised", False))

    wl = workloads[args.workload](WORK, args.seed)
    t = time.perf_counter()
    # the kernel is compiled once per checkout; the workers load it in the
    # warm pass
    native_kernel.load_native()
    wl.prepare()
    log(f"{args.workload}: kernel and inputs ready in "
        f"{time.perf_counter() - t:.2f} s (not timed)")
    with PeakRss() as rss:
        t_setup = time.perf_counter()
        spark = start_spark(cores)
        setup["setup.spark_boot_s"] = time.perf_counter() - t_setup
        try:
            t = time.perf_counter()
            wl.load_inputs(spark)
            setup["setup.inputs_s"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.warm()
            setup["setup.warm_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - t_setup
            log(f"{args.workload}: set-up {setup_s:.2f} s {setup}")
            checked(wl.warm_checks)

            untraced = Tracer(spark, enabled=False)
            t_meas = time.perf_counter()
            while True:
                p = wl.run_pass(untraced)
                passes.append(p)
                log(f"pass {len(passes)}: {p['wall_s']:.3f} s")
                checked(wl.check, p)
                wl.release(p)
                if args.trace or time.perf_counter() - t_meas >= args.seconds:
                    break
            if args.trace:
                tracer = Tracer(spark, enabled=True)
                p = wl.run_pass(tracer)
                log(f"traced pass: {p['wall_s']:.3f} s")
                checked(wl.check, p)
                checks.append(("traced_pass_equals_untraced",
                               p["digest"] == passes[0]["digest"]))
                extra = {}
                if hasattr(wl, "traced_extras"):
                    extra, extra_checks = wl.traced_extras(tracer, p)
                    checks.extend(extra_checks)
                wl.release(p)
                layers = {**layer_metrics(tracer, cores), **extra, **setup,
                          "trace.overhead_s": p["wall_s"] - passes[0]["wall_s"]}
                tracer.write(os.path.join(
                    WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        finally:
            stop_spark(spark)

    if args.trace:
        metrics = {name: (layers[name], unit) for name, unit in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": median(p["wall_s"] for p in passes),
            "tokens_per_s": median(tokens_per_s(p) for p in passes),
            "neg_loglik_per_token": passes[-1]["nll"],
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    failed = [name for name, ok in checks if not ok]
    if failed:
        log(f"failed checks: {failed}")
    attempted = len(passes) + (1 if args.trace else 0) + len(checks)
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "chain_long"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "entitysummarization_spark")):
        log(f"no entitysummarization_spark package under {ROOT}; "
            "run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # the JVM, the Python workers and the native kernel's build cache all
    # inherit these: temp files stay inside the checkout, and the workers
    # import the package from it
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit first runs a small launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
