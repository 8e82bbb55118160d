"""Repository benchmark: one closed-loop batch workload per invocation.

    python3 perfbench/run.py --workload crawl_to_table --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One driver process starts Spark at
local[<usable cores>], stages the workload's input tables from the seed,
warms up, then runs one job at a time for ``--seconds`` of job wall time.
Every job's output is checked outside the timed region. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"},
where attempted/failed count documents. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same measured loop, then the
traced pipeline cuts and the single-threaded core replay, and reports the
per-layer metrics. The exit code is 1 when any output is wrong. See
perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_JOBS, MAX_JOBS = 2, 50


def metric_units(kind: str) -> dict:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json defines: the names and units every result reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def hygiene(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``, give the Python
    workers the package on PYTHONPATH and drop SPARK_GRAFT_* overrides so
    the program's own defaults apply to everything not set explicitly."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(slots: int, run_dir: str, files_per_slot: int):
    from eventrelationextractor_spark.spark.session import build_session
    spark = build_session(
        master=f"local[{slots}]", shuffle_partitions=slots,
        **{"spark.driver.memory": "2g",
           "spark.ui.showConsoleProgress": "false",
           # one scan split per staged file
           "spark.sql.files.minPartitionNum": str(files_per_slot * slots),
           "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
           # a fixed heap, touched at start: the JVM's share of peak_rss_mb
           # then does not depend on when the collector chose to grow it
           "spark.driver.extraJavaOptions":
               "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir="
               + os.path.join(run_dir, "tmp"),
           "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"]})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, run_dir: str) -> dict:
    import corereplay
    import procmon
    from spans import Tracer
    from workloads import WORKLOADS

    slots = len(os.sched_getaffinity(0))
    root = os.getpid()
    job_dir = os.path.join(run_dir, "out")
    with procmon.Sampler(root) as sampler:
        t_setup = time.perf_counter()
        cls = WORKLOADS[args.workload]
        spark = start_session(slots, run_dir, cls.files_per_slot)
        session_s = time.perf_counter() - t_setup
        try:
            wl = cls(spark, run_dir, args.seed, args.smoke)
            wl.stage()
            staged_s = time.perf_counter() - t_setup
            warm = []
            for _ in range(1 if args.smoke else wl.warmup_jobs):
                t0 = time.perf_counter()
                wl.job(job_dir)
                warm.append(time.perf_counter() - t0)
                shutil.rmtree(job_dir, ignore_errors=True)
            setup_s = time.perf_counter() - t_setup

            rates, times, cpu, check_s = [], [], 0.0, 0.0
            attempted = failed = 0
            while (sum(times) < args.seconds or len(times) < MIN_JOBS) \
                    and len(times) < MAX_JOBS:
                c0 = procmon.cpu_seconds(root)
                with sampler.window():
                    t0 = time.perf_counter()
                    try:
                        out, raised = wl.job(job_dir), False
                    except Exception:      # a job that raises fails all docs
                        traceback.print_exc()
                        raised = True
                    dt = time.perf_counter() - t0
                cpu += procmon.cpu_seconds(root) - c0
                t0 = time.perf_counter()
                bad = wl.docs_per_job if raised else wl.verify(out)
                shutil.rmtree(job_dir, ignore_errors=True)
                check_s += time.perf_counter() - t0
                if bad:
                    print(f"# job {len(times) + 1}: {bad} of "
                          f"{wl.docs_per_job} documents wrong or missing",
                          file=sys.stderr)
                attempted += wl.docs_per_job
                failed += bad
                times.append(dt)
                rates.append((wl.docs_per_job - bad) / dt)
            t0 = time.perf_counter()
            gate_attempted, gate_failed = wl.gate()
            check_s += time.perf_counter() - t0
            if gate_failed:
                print(f"# gate: {gate_failed} of {gate_attempted} documents "
                      f"wrong or missing", file=sys.stderr)
            attempted += gate_attempted
            failed += gate_failed

            if not args.trace:
                metrics = {
                    "docs_per_s": statistics.median(rates),
                    "setup_s": setup_s,
                    "peak_rss_mb": sampler.peak["total"] / 1e6,
                    "cpu_s_per_kdoc":
                        1000.0 * cpu / (len(times) * wl.docs_per_job),
                }
            else:
                tracer = Tracer(f"{wl.name}-seed{args.seed}-{root}")
                layers = dict.fromkeys(metric_units("per_layer"), 0.0)
                layers.update(wl.trace(tracer, job_dir))
                with tracer.span("core.replay"):
                    core = corereplay.replay(wl.replay_pages(), wl.mode,
                                             wl.consistent_only)
                layers.update({k: v for k, v in core.items() if k in layers})
                extract_s = layers["stages.extract_self_s"]
                if extract_s > 0:
                    layers["stages.udf_overhead_frac"] = 1.0 - (
                        wl.docs_per_job * core["core_ms_per_doc"] / 1000.0
                        / (extract_s * slots))
                layers["session.start_s"] = session_s
                layers["jvm.peak_rss_mb"] = sampler.peak["jvm"] / 1e6
                layers["workers.peak_rss_mb"] = sampler.peak["workers"] / 1e6
                layers["trace.overhead_frac"] = (
                    layers.pop("_traced_job_s") / statistics.median(times)
                    - 1.0)
                layers["error_rate"] = failed / attempted
                tracer.write(os.path.join(ROOT, ".bench_build", "traces",
                                          tracer.run_id + ".jsonl"))
                metrics = layers
        finally:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the JVM exits when its stdin closes: wait for it, so that no
            # process of the run outlives it
            jvm.stdin.close()
            jvm.wait(timeout=60)
    print(f"# {args.workload} seed={args.seed}: session {session_s:.2f} s, "
          f"staged at {staged_s:.2f} s, warm-up jobs "
          f"{[round(t, 2) for t in warm]} s; {len(times)} jobs of "
          f"{wl.docs_per_job} docs: {[round(t, 2) for t in times]} s; "
          f"checks {check_s:.2f} s; error_rate {failed}/{attempted}; peak "
          f"RSS MB total/jvm/workers "
          f"{'/'.join(str(round(v / 1e6)) for v in sampler.peak.values())}",
          file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in metric_units(
                            "per_layer" if args.trace else "end_to_end")
                        .items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_to_table", "newswire_dense",
                             "kg_canonicalize"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one warm-up job (the benchmark's "
                         "own tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # outside a checkout of the program this import fails: non-zero exit,
    # no result line
    import eventrelationextractor_spark  # noqa: F401

    run_dir = os.path.join(ROOT, ".bench_build", "perfbench",
                           f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove
    # the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        hygiene(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
