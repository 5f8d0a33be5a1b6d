"""perfbench — host-true, output-checked benchmark of osmnightwatch_spark.

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

1. makes the generator pool once per checkout (``pool.py``, own process);
2. draws this seed's inputs from it and computes their reference digests
   (``inputs.py``, cached per (workload, seed));
3. runs the timed process (``measure.py``) on ``local[nproc]`` and passes
   its report through; its last line is the JSON result.

Exits non-zero, printing no result, when the package is not in the cwd
or any step fails.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys

import hostenv

POOL_TIMEOUT_S = 800
MEASURE_TIMEOUT_S = 170


def run_child(cmd: list[str], timeout_s: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` in its own process group, capturing its stdout; on
    timeout kill the whole group and wait for it."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out, None)


def main(argv=None) -> int:
    from metrics import WORKLOAD_NAMES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    hostenv.require_checkout()
    hostenv.configure_env()
    import inputs

    here = os.path.dirname(os.path.abspath(__file__))
    if not inputs.pool_ready(hostenv.CACHE):
        done = run_child([sys.executable, os.path.join(here, "pool.py"), hostenv.CACHE],
                         POOL_TIMEOUT_S)
        if done.returncode != 0:
            print("perfbench: pool generation failed", file=sys.stderr)
            return 1
    in_dir, _meta = inputs.prepare(hostenv.CACHE, args.workload, args.seed, bool(args.trace))
    done = run_child([sys.executable, os.path.join(here, "measure.py"),
                      "--workload", args.workload, "--in-dir", in_dir,
                      "--seconds", str(args.seconds), "--trace", str(args.trace)],
                     MEASURE_TIMEOUT_S)
    lines = done.stdout.rstrip("\n").splitlines()
    if done.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines and lines[-1].startswith("{") else lines))
        print("\nperfbench: measurement failed", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
