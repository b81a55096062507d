#!/usr/bin/env python3
"""Point-in-time feature benchmark for the dagli_spark flagship pipeline.

    python3 perfbench/run.py --workload pit_images --seed 1 --seconds 24 --trace 0

Runs one seeded workload through the flagship on ``local[$(nproc)]`` in a
single driver process, checks every output it writes against a DuckDB
replay, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (``fv_per_s``,
``ckpt_cold_s``, ``ckpt_resume_s``, ``setup_s``, ``worker_pss_mb``).
``--trace 1`` is a separate run that calls each layer's public function on
stored intermediates under its own span and Spark job group, with the
event log on, and reports the per-layer metrics (see BASELINE.md).

Everything the run writes lives under ``.perfbench/`` in the checkout:
the input cache, Spark scratch and event logs, and a full JSON record of
each run (environment, load/steal bracket, samples).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MIN_ROUNDS = 2      # timed rounds of (checkpoint cold, resumes, pass)
RESUMES = 3         # sub-second jobs: more samples per round


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(driver_mem: str) -> None:
    """Point every scratch path the run could touch into the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = driver_mem
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


def _import_engine():
    """Import dagli_spark from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import dagli_spark

    where = os.path.dirname(os.path.abspath(dagli_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"dagli_spark resolved outside the checkout: "
                          f"{where}")


class Session:
    """The driver's SparkSession; restartable within one JVM."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, event_log: str | None = None):
        from dagli_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
            # a heap fixed at its maximum: G1's heap-expansion timing
            # otherwise differs run to run, and with it GC and pass times
            "spark.driver.extraJavaOptions":
                "-Djava.net.preferIPv4Stack=true "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + event_log})
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, event_log: str | None = None):
        self.stop()
        return self.start(event_log)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to
        exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Checks:
    """Attempted / failed operations and the first problems seen."""

    def __init__(self, paths: dict, n_queries: int):
        self.paths, self.n_queries = paths, n_queries
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self._want = None

    def run(self, what: str, fn):
        """Call ``fn``; count it, and a raise as a failure. Returns
        (ok, result, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{what} raised {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return False, None, time.perf_counter() - t0
        return True, res, time.perf_counter() - t0

    def output(self, what: str, parquet_dir: str) -> bool:
        """Check a written flagship output against the oracle; a bad
        output turns its operation into a failure."""
        import oracle

        if self._want is None:
            self._want = oracle.expected(self.paths)
        problems = oracle.compare(oracle.output_frame(parquet_dir),
                                  self._want, self.n_queries)
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)
        return not problems


# ------------------------------------------------------------ main phases

def _warmup(spark, paths: dict, checks: Checks, scratch: str) -> float:
    """One pass written as parquet and checked against the oracle."""
    import flagship

    out = os.path.join(scratch, "warmup")
    ok, _, warm_s = checks.run(
        "warmup pass",
        lambda: flagship.pipeline(spark, paths).write.mode("overwrite")
        .parquet(out))
    if ok:
        checks.output("warmup pass", out)
    return warm_s


def _end_to_end(spark, sess, paths, checks, scratch, seconds, record):
    """The timed region: rounds of (checkpoint cold job, ``RESUMES``
    checkpoint resume jobs, noop pass), at least ``MIN_ROUNDS``, then more
    while the previous round's duration says the next one ends within
    ``seconds``. The cold job recomputes the whole pipeline, so each pass
    follows one more execution of the same operators."""
    import flagship
    import host

    samples = {"pass_s": [], "ckpt_cold_s": [], "ckpt_resume_s": []}
    t_start = time.perf_counter()
    with host.MemSampler(sess.jvm_pid()) as mem:
        k, last = 0, 0.0
        while k < MIN_ROUNDS or (time.perf_counter() - t_start + last
                                 <= seconds):
            t_round = time.perf_counter()
            root = os.path.join(scratch, f"ckpt{k}")
            for j, kind in enumerate(("cold",) + ("resume",) * RESUMES):
                out = os.path.join(scratch, f"ckpt_out{k}_{j}")
                ok, _, dt = checks.run(
                    f"checkpoint {kind}",
                    lambda: flagship.checkpoint_job(spark, paths, root, out))
                if ok and checks.output(f"checkpoint {kind}", out):
                    samples[f"ckpt_{kind}_s"].append(dt)
            ok, _, dt = checks.run("pass", lambda: flagship.noop(
                flagship.pipeline(spark, paths)))
            if ok:
                samples["pass_s"].append(dt)
            last = time.perf_counter() - t_round
            k += 1
    record["samples"] = samples
    record["peak_pss_mb"] = {"jvm": mem.jvm_peak / 2**20,
                             "workers": mem.workers_peak / 2**20}
    return samples, mem.workers_peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        _import_engine()
    except ImportError as e:
        _log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    import host
    import inputs

    if args.workload not in inputs.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; "
             f"choose from {', '.join(inputs.WORKLOADS)}")
        return 2

    bracket = host.Bracket()
    cores = host.cores()
    driver_mem = host.driver_memory()
    _prepare_env(driver_mem)
    run_id = f"{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    scratch = os.path.join(WORK, "scratch", run_id)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    sess = Session(cores)
    try:
        import_s = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        entry = inputs.ensure(lambda: sess.spark or sess.start(), WORK,
                              args.workload, args.seed)
        gen_s = time.perf_counter() - t0
        # set-up always starts from a cold JVM, whether or not generation
        # needed one (a JVM warmed by generation runs the warmup pass in
        # about half the time)
        sess.shutdown()
        t0 = time.perf_counter()
        spark = sess.start()
        session_s = import_s + time.perf_counter() - t0
        java = spark._jvm.java.lang.System.getProperty("java.version")
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "environment": host.environment(f"local[{cores}]",
                                                  driver_mem, java)}
        t0 = time.perf_counter()
        man = inputs.verify(entry)
        verify_s = time.perf_counter() - t0
        paths = man["paths"]
        checks = Checks(paths, man["rows"]["queries"])
        warmup_s = _warmup(spark, paths, checks, scratch)
        record["setup"] = {"session_s": session_s, "verify_s": verify_s,
                           "warmup_s": warmup_s, "gen_s": gen_s}
        if args.trace:
            import trace_layers

            metrics = trace_layers.run(sess, man, checks, scratch, record,
                                       args.seconds)
        else:
            samples, peak = _end_to_end(
                spark, sess, paths, checks, scratch, args.seconds, record)
            # best of the run's samples: passes keep speeding up for a
            # few rounds after the warmup, and host interference only
            # ever slows a sample down
            best = {k: min(v) if v else 0.0 for k, v in samples.items()}
            n_q = man["rows"]["queries"]
            metrics = {
                "fv_per_s": (n_q / best["pass_s"] if best["pass_s"] else 0.0,
                             "1/s"),
                "ckpt_cold_s": (best["ckpt_cold_s"], "s"),
                "ckpt_resume_s": (best["ckpt_resume_s"], "s"),
                "setup_s": (session_s + verify_s + warmup_s, "s"),
                "worker_pss_mb": (peak / 2**20, "MB"),
            }
    finally:
        sess.shutdown()
    record["bracket"] = bracket.close()
    record["attempted"], record["failed"] = checks.attempted, checks.failed
    record["problems"] = checks.problems[:20]
    record["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    fail_frac = checks.failed / max(1, checks.attempted)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(scratch, ignore_errors=True)
    for name, (v, unit) in metrics.items():
        print(f"{args.workload:13s} {name:34s} {v:14.4f} {unit}")
    print(f"{args.workload:13s} {'fail_frac':34s} {fail_frac:14.4f} ratio "
          f"({checks.failed}/{checks.attempted})")
    for p in checks.problems[:5]:
        print(f"{args.workload:13s} problem: {p}")
    print(json.dumps({
        "correct": checks.failed == 0 and not checks.problems,
        "attempted": checks.attempted, "failed": checks.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
