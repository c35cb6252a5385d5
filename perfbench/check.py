"""Check mode: run every op of each workload once and print PASS or FAIL.

    python3 perfbench/check.py [--seed N] [--workload NAME ...]

Run from the repository root. Each workload runs its timed ops and its
check-only ops once, in the same session configuration the timed runs use,
with every check; a failed op is reported with its reason and counted in
the workload's ``failed_frac``. Exits 1 if any op fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=None)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import harness
    from workloads import WORKLOADS, make_ops

    names = args.workload or list(WORKLOADS)
    workdir = os.path.join(ROOT, ".perfbench_work", f"check-{os.getpid()}")
    harness.configure_env(workdir, harness.CHECK_DRIVER_MEM)
    spark, any_failed = None, False
    try:
        for name in names:
            workload = WORKLOADS[name]
            op_names = workload.timed + workload.check_only
            ops = make_ops(workload, args.seed, os.path.join(workdir, name))
            ops.prepare(op_names)
            if spark is None:
                spark, _ = harness.set_up(workdir)
            failed = 0
            print(f"== {name} ({workload.scale}, seed {args.seed})", flush=True)
            for op in op_names:
                t0 = time.perf_counter()
                res = harness.run_op(spark, ops, op, None, op)
                tag = "timed" if op in workload.timed else "check-only"
                if res.error:
                    failed += 1
                    reason = res.error.replace(ROOT + os.sep, "")  # paths relative to the root
                    print(f"FAIL {op} [{tag}] ({time.perf_counter() - t0:.1f}s): {reason}", flush=True)
                else:
                    print(f"PASS {op} [{tag}] ({res.wall_s:.1f}s)", flush=True)
            print(f"{name}: {len(op_names) - failed}/{len(op_names)} pass, "
                  f"failed_frac {failed / len(op_names):.3f}", flush=True)
            any_failed = any_failed or failed > 0
    finally:
        if spark is not None:
            harness.shut_down(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return 1 if any_failed else 0


if __name__ == "__main__":
    sys.exit(main())
