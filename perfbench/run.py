"""Benchmark entry point.

    python3 perfbench/run.py --workload {cow_bulk,mor_trickle} --seed N --seconds S
                             --trace {0,1}

Makes the workload's inputs and expected results from the seed in a
forked child process (``prep.py``), then runs the workload in this process
with a fresh JVM on ``local[4]`` and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics named in ``BENCHMARK.json``; with ``--trace 1`` they
are its per-layer metrics (0 for a layer the workload does not use),
and the spans are written to ``.perfbench/trace-<workload>-<seed>.json``.
Exits non-zero without a result line when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, plan, prep  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(plan.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # fail before any work when the program is not there
    import w3_data_etl_pipeline_spark  # noqa: F401

    from perfbench import workloads
    from perfbench.trace import Tracer

    work = harness.WorkDir(args.workload)
    spark = None
    try:
        # a forked child: the generator's and the oracle's imports and
        # memory stay out of this process
        child = multiprocessing.get_context("fork").Process(
            target=prep.main, args=([args.workload, str(args.seed), str(args.seconds),
                                     work.path],))
        child.start()
        child.join(timeout=120)
        if child.exitcode != 0:
            child.kill()
            child.join()
            raise RuntimeError(f"input preparation failed (exit code {child.exitcode})")
        with open(work("expected.json")) as f:
            exp = json.load(f)
        harness.log("inputs and expected results made")
        with harness.measure() as session:
            spark = harness.start_spark(work)
        harness.log(f"session started on local[{harness.K}]")
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = workloads.run_cdc(spark, tracer, work, args.workload, args.seconds, exp, session)
        if tracer.enabled:
            tracer.dump(os.path.join(harness.OUT, f"trace-{args.workload}-{args.seed}.json"))
    except Exception:  # noqa: BLE001 - report and exit non-zero, print no result
        traceback.print_exc()
        return 1
    finally:
        harness.log("stopping")
        if spark is not None:
            harness.stop_spark(spark)
        work.close()
        harness.log("stopped")

    for note in res.notes:
        print(f"FAILED: {note}", file=sys.stderr)
    if args.trace:
        metrics = {m["name"]: (res.layers.get(m["name"], (0.0,))[0], m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (res.e2e[m["name"]][0], m["unit"]) for m in spec["end_to_end"]}
    harness.emit(res.correct, res.attempted, res.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
