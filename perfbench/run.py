"""crawl4ai_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached in ``.perfbench_work/``), the engine is started and warmed by
``WARMUP_JOBS`` jobs on a disjoint warm-up input of the measured size,
then jobs run until ``--seconds`` have passed (at least
``MIN_MEASURED_JOBS``). Every crawl job's output, and every measured
curation job's, is checked against an independent oracle. The last
stdout line is the result JSON: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the full run record (host fingerprint, raw walls, steal,
warm-up walls). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_wide", "corpus_curate")
# The warm-up is a fixed count of jobs, not "until steady", so a parent
# and a change do the same work. The first job runs cold and ends
# setup_s; its crawl stops after COLD_WAVES waves, which fits the run
# budget (README.md, "Sizing"); the second runs every wave.
WARMUP_JOBS = 2
COLD_WAVES = 1
MIN_MEASURED_JOBS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s: float, jobs: list, peak_rss_mb: float) -> dict:
    waves = [w for j in jobs for w in j.wave_walls_s]
    return {
        "setup_s": metric(setup_s, "s"),
        "urls_per_s": metric(statistics.median(j.attempted / j.wall_s for j in jobs), "URL/s"),
        "wave_s_p50": metric(statistics.median(waves), "s"),
        "store_bytes_per_url": metric(
            statistics.median(j.store_bytes / j.attempted for j in jobs), "B/URL"),
        "peak_rss_mb": metric(peak_rss_mb, "MB"),
    }


def job_record(j) -> dict:
    return {"wall_s": j.wall_s, "attempted": j.attempted, "store_bytes": j.store_bytes,
            "error": j.error, "checked": j.checked, "steal_ticks": j.steal_ticks,
            "cpu_ticks": j.cpu_ticks, "wave_walls_s": j.wave_walls_s}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import crawl4ai_spark  # noqa: F401  (no engine, no benchmark: fail before any output)

    from perfbench import host, inputs, jobs

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    t_gen = time.time()
    inp = {role: inputs.ensure_inputs(os.path.join(work, "inputs"), args.workload, args.seed,
                                      role) for role in inputs.ROLES}
    gen_s = time.time() - t_gen
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": jobs.cores(), "input_gen_s": gen_s}
    spark = None
    try:
        # setup_s: process start -> session up -> first (cold) warm-up
        # job done, less input generation (cached per workload and seed)
        t0 = time.time()
        spark = jobs.start_session(run_dir)
        record["session_start_s"] = time.time() - t0
        warm = jobs.Workload(spark, args.workload, inp["warm"], run_dir)
        checked = [warm.run(waves=COLD_WAVES)]
        setup_s = time.time() - host.process_start_epoch() - gen_s
        record["setup_s"] = setup_s
        checked += [warm.run() for _ in range(WARMUP_JOBS - 1)]
        record["warmup_walls_s"] = [j.wall_s for j in checked]

        wl = jobs.Workload(spark, args.workload, inp["main"], run_dir)
        if args.trace:
            from perfbench import trace

            measured, metrics = trace.traced_run(wl, args.seconds, MIN_MEASURED_JOBS,
                                                 record["session_start_s"], record)
        else:
            measured = []
            with host.RssSampler() as rss:
                t_end = time.time() + args.seconds
                while len(measured) < MIN_MEASURED_JOBS or time.time() < t_end:
                    measured.append(wl.run())
            metrics = end_to_end(setup_s, measured, rss.peak_mb)
        checked += measured
        record["measured"] = [job_record(j) for j in measured]
        record["host"] = host.fingerprint(spark)
    finally:
        if spark is not None:
            jobs.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    checked = [j for j in checked if j.checked]
    errors = [j.error for j in checked if j.error]
    record["errors"] = errors
    print(json.dumps(record))
    print(json.dumps({"correct": not errors, "attempted": len(checked),
                      "failed": len(errors), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
