"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_scan --seed 1 --seconds 20 --trace 0

Workloads: bulk_scan, ingest (see perfbench/README.md).
Human-readable lines go first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). Exits
non-zero when a job fails or returns a wrong result, or when the
checkout holds no package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

PACKAGE = "duckdb_extension_clickhouse_native_spark"
DEADLINE_S = 170  # every run must end within 180 s


def _deadline(_sig, _frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_scan", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import spark_env, workloads

    work = os.path.join(root, "perfbench", ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_env.prepare_env(root, work)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        out = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), root, work)
    except Exception:  # set-up or a probe failed: no metrics to report
        traceback.print_exc()
        print("perfbench: run failed before it had metrics to report", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        spark_env.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    rec = out["record"]
    print(f"# host: nproc={rec['nproc']} {rec['local']} drift={json.dumps(rec['drift'])}")
    print(f"# jobs={rec['jobs']} tail=p{rec['tail_percentile']:.1f} {rec['query_tail_s']:.4f} s "
          f"attempted={out['attempted']} "
          f"failed={out['failed']} ops_failed_ratio={out['ops_failed_ratio']:.4f}")
    if "count_rows_per_s" in rec:
        print(f"# count(*) {rec['count_rows_per_s'] / 1e6:.2f} M rows/s "
              f"(reference: {workloads.REFERENCE_ROWS_PER_S / 1e6:.1f} M rows/s, 1M rows, DuckDB)")
    for k, v in rec.items():
        if k not in ("drift",):
            print(f"# record {k} = {v}")
    for name, (value, unit) in out["metrics"].items():
        print(f"{name} = {value:.6g} {unit}")
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0 if out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
