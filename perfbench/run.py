"""newsforge benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload poll|stream --seed N \\
        --seconds S --trace 0|1

Runs from the root of a source checkout. Inputs are generated from the
seed before Spark starts; the last line of stdout is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the run log
(pinned settings, steal seconds, operation counts) goes to stderr.
``--trace 1`` reports the per-layer metrics instead of the end-to-end
ones and writes spans plus per-job-group stage metrics under
``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=("poll", "stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from perfbench import harness

    if args.workload == "poll":
        from perfbench import poll as workload
    else:
        from perfbench import stream as workload
    try:
        workload.run(args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(os.path.join(harness.WORK_ROOT, f"{args.workload}-{os.getpid()}"),
                      ignore_errors=True)
    return 0


if __name__ == "__main__":
    code = 1
    try:
        code = main()
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    except BaseException:
        import traceback

        traceback.print_exc()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        # foreachBatch leaves py4j's non-daemon callback-server thread
        # behind, which would keep the interpreter alive after an error;
        # the JVM and workers are already stopped by the workload
        os._exit(code)
