"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,stream} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Each call is one
fresh process on ``local[nproc]``. The timed unit (one pass over the
catalog's query list, or one landed backlog of the stream) repeats
until ``--seconds`` have passed: at least four times for the catalog,
whose metrics take each query's fastest pass, and at least once for the
stream.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it records
the host and, with ``--trace 0``, the timed unit's wall time
``total_s`` and the workload's own metrics under the names of its kind
(``query_s_p50`` of the catalog, ``rows_per_s``, ``batch_s_p50`` and
``cdc_s`` of the stream, ``fail_rate`` of both).
Diagnostics go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import DETAIL, END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("catalog", "stream")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _run(args) -> tuple[object, dict, dict]:
    from harness import Env

    with Env() as env:
        if args.workload == "catalog":
            from batch_workload import CatalogRun as Run
        else:
            from stream_workload import StreamRun as Run
        run = Run(env, args.seed, args.seconds, log, T_START)
        if args.trace:
            values, detail = run.trace(), {}
        else:
            values, detail = run.measure()
        values.update({"host.nproc": env.nproc, "host.driver_heap_mb": env.heap_mb})
        return run, values, detail


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "slipstream_async_spark", "__init__.py")):
        log(f"no slipstream_async_spark package under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)

    # The JVM inherits fd 1 and prints there; keep stdout for the result
    # lines only by pointing fd 1 at stderr until the run is over.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        run, values, detail = _run(args)
    except Exception:  # noqa: BLE001 - a crash prints no result
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)

    if args.trace:
        # a per-layer metric of a layer this workload never enters reads 0
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        missing = [n for n, _ in END_TO_END if n not in values]
        if missing:
            log(f"end-to-end metrics not measured: {missing}")
            return 1
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END}
    detail["fail_rate"] = run.failed / max(run.attempted, 1)
    print(json.dumps({
        "host": {
            "workload": args.workload, "seed": args.seed,
            "nproc": values["host.nproc"], "driver_heap_mb": values["host.driver_heap_mb"],
        },
        "detail": {n: {"value": v, "unit": DETAIL[n]} for n, v in detail.items()},
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
