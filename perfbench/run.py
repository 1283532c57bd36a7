"""spel_spark benchmark: one workload per invocation, one closed-loop client.

    python3 perfbench/run.py --workload er_checkpointed --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  The process runs Spark with
``spel_spark.session.get_spark`` at ``local[<cpus>]``; every other
setting is the program's default.  It makes the workload's inputs from
``--seed``, sets up three times, for er_checkpointed runs its ephemeral
twin once to warm up the JVM's code, and runs the workload's job back to
back, each job starting when the previous one has finished, until
``--seconds`` have passed (at least one job).  Each
set-up starts a Spark session (the first launches the JVM; later ones
stop the previous session and start a new one in the same JVM), writes
the inputs as parquet and warms the Python workers.

``--trace 0`` reports the end-to-end metrics:

* ``items_per_s``: input items (turns, documents) over the median job wall;
* ``setup_s``: input generation and any warm-up job (once each), plus
  the median of the three set-ups.  The JVM launch, which only the first
  set-up pays, is printed as ``session_start_s``.

Every run also prints the workload's own figures (e.g. ``turns_per_s``,
``pair_f1``).

``--trace 1`` sets up once, runs the workload's traced extra (for
er_checkpointed, one incremental epoch checked against a batch run) or
else the job untraced to warm up, runs the job untraced, then once staged
under layer spans.  It reports per-layer metrics, the peak RSS of the JVM
and its workers, and the tracing overhead (traced wall minus the warm
untraced wall).

Every result of a run must have the same checksum: er_checkpointed's
twin and job in untraced runs, every job of a traced run.  Untraced
doc_dedup runs have one result, so they do not check this.

Layer -> end-to-end map (what a change to a layer should move, and where
it should not):
  mentions, blocking, scoring -> items_per_s on er_checkpointed; not on
                                 doc_dedup
  dedup                       -> the same on doc_dedup; not on er_checkpointed
  clustering                  -> both workloads
  io                          -> er_checkpointed, and its stored bytes per
                                 input byte; not doc_dedup
  incremental                 -> epoch_s (traced er_checkpointed runs); not
                                 items_per_s on either workload
  session                     -> setup_s on both
  cache lifecycle             -> peak_rss_mb (traced runs) on both

Outputs are checked outside the timed region.  Each invocation writes a
report (config, per-job walls with noise probes, checks, spans) to
``.perfbench_out/`` and prints one JSON result as the last line of
stdout.  Scratch files live under ``.perfbench_work/`` and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def _isolate(work: str) -> None:
    """Keep the files Spark, the JVM and the Python workers write inside
    the checkout; must run before anything calls ``tempfile``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # HotSpot writes its perf-data file to /tmp whatever the temp dir is;
    # this covers spark-submit's launcher JVM, extraJavaOptions the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _has_program() -> bool:
    """True when spel_spark imports from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import spel_spark
    except ImportError:
        return False
    pkg = os.path.dirname(os.path.abspath(spel_spark.__file__))
    return pkg == os.path.join(ROOT, "spel_spark")


def _start_spark():
    from spel_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            # file locations and console output only
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark() -> None:
    """Stop the active session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _isolate(work)
    try:
        if not _has_program():
            print(f"perfbench: no spel_spark package under {ROOT}", file=sys.stderr)
            return 2
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        try:
            return _run(args, work, WORKLOADS[args.workload])
        finally:
            _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its scratch directory there


def _run(args, work, workload_cls) -> int:
    import host
    from pyspark import SparkContext
    from spans import LAYER_UNITS, LAYERS, Tracer

    from spel_spark.session import warm_python_workers

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    w = workload_cls(args.seed, work)  # makes the inputs from the seed
    generate_s = time.perf_counter() - t0
    spark, setup_reps, session_starts = None, [], []
    # traced runs report no setup_s: one set-up, so the session layer is
    # the cold start alone
    for _ in range(1 if args.trace else SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_spark()
        tracer.bind(spark)
        session_starts.append(time.perf_counter() - t0)
        tracer.record("get_spark", "session", t0, t0 + session_starts[-1])
        w.setup(spark)
        with tracer.span("warm_python_workers", "session"):
            warm_python_workers(spark)
        setup_reps.append(time.perf_counter() - t0)
    jobs, failed, extra, checksums = [], 0, 0, []
    warmup_s = 0.0
    if w.warm_up is not None and not args.trace:  # traced runs warm up below
        t0 = time.perf_counter()
        checksums.append(w.warm_up())
        warmup_s = time.perf_counter() - t0
    setup_s = generate_s + warmup_s + median(setup_reps)
    cores = spark.sparkContext.defaultParallelism
    rss = host.RssSampler(SparkContext._gateway.proc.pid).start()

    def one_job(fn, kind: str = "timed") -> float | None:
        nonlocal failed
        pre = host.noise_probe()
        t0 = time.perf_counter()
        try:
            if kind == "traced":
                with tracer.span(w.name):
                    checksums.append(fn(tracer))
            else:
                checksums.append(fn())
        except Exception:
            traceback.print_exc()
            failed += 1
            return None
        wall = time.perf_counter() - t0
        jobs.append({
            "wall_s": wall, "probe_pre_ops": pre,
            "probe_post_ops": host.noise_probe(), "kind": kind,
        })
        return wall

    rss.reset()
    t_loop = time.perf_counter()
    if args.trace:
        # what runs first (the extra, else an untimed job) warms the JVM for
        # the two jobs whose walls are compared
        if w.trace_extra is not None:
            try:
                w.trace_extra(tracer)
                extra += 1
            except Exception:
                traceback.print_exc()
                failed += 1
        else:
            one_job(w.run, "warm_up")
            w.after_run()
        warm = one_job(w.run)
        w.after_run()
        traced = one_job(w.run_traced, "traced")
    else:
        while True:
            one_job(w.run)
            if time.perf_counter() - t_loop >= args.seconds:
                break
            w.after_run()
    loop_s = time.perf_counter() - t_loop
    rss.stop()

    attempted = len(jobs) + extra + failed
    timed = [j for j in jobs if j["kind"] == "timed"]
    if not timed:
        print("perfbench: every timed job raised", file=sys.stderr)
        return 1
    checks = w.check()
    if len(checksums) > 1:
        checks["checksum_stable"] = len(set(checksums)) == 1
    w.after_run()
    correct = failed == 0 and all(v for v in checks.values() if isinstance(v, bool))
    if not correct:
        failed = attempted  # a failed output check fails every job it covers
    wall = median([j["wall_s"] for j in timed])

    if args.trace:
        tot = tracer.layer_totals(cores)
        metrics = {
            f"{ly}.{f}": {"value": tot[ly][f], "unit": unit}
            for ly in LAYERS for f, unit in LAYER_UNITS.items()
        }
        metrics["scoring.edge_yield"] = {"value": w.stats.get("edge_yield", 0.0), "unit": "ratio"}
        for ly in ("incremental", "io"):
            metrics[f"{ly}.bytes_written"] = {"value": tot[ly]["output_bytes"], "unit": "B"}
        metrics["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
        if warm is not None and traced is not None:
            metrics["trace.overhead_s"] = {"value": traced - warm, "unit": "s"}
    else:
        metrics = {
            "items_per_s": {"value": w.n_items / wall, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }

    # the workload's own figures, named for its unit of work
    figures = {
        f"{w.unit}_per_s": (w.n_items / wall, "1/s"),
        "job_s": (wall, "s"),
        "setup_s": (setup_s, "s"),
        "session_start_s": (session_starts[0], "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    if "pair_f1" in checks:
        figures["pair_f1"] = (checks["pair_f1"], "ratio")
    figures.update({k: (w.stats[k], "s") for k in ("epoch_s", "resolve_s")
                    if k in w.stats})
    if "stored_bytes" in w.stats:
        figures["stored_bytes_per_input_byte"] = (
            w.stats["stored_bytes"] / w.input_bytes, "ratio")

    config = host.session_config(spark)
    config.update({k: w.stats[k] for k in ("store_backend", "cc_backend", "cc_rounds")
                   if k in w.stats})
    report = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "unit": w.unit, "items": w.n_items,
        "input_bytes": w.input_bytes, "config": config,
        "figures": {k: v for k, (v, _) in figures.items()},
        "generate_s": generate_s, "warmup_s": warmup_s, "setup_reps_s": setup_reps,
        "session_starts_s": session_starts,
        "loop_s": loop_s, "jobs": jobs,
        "checks": checks, "checksums": sorted(set(checksums)), "stats": w.stats,
        "attempted": attempted, "failed": failed, "spans": tracer.dump(),
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{w.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    for name, (value, unit) in figures.items():
        print(f"{w.name} {name} = {value:.6g} {unit}")
    print(f"{w.name} config = {json.dumps(config)}")
    print(f"{w.name} checks = {json.dumps(checks)}")
    print(f"{w.name} report = {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
