#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rcmn_request --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (perfbench/build.py), sizes the
Spark session from the host (all usable cores, a fixed heap of a quarter
of physical memory, clamped to 1-4 GiB), and runs the JVM with every
artifact in one per-run directory under .bench_run/ that is removed on exit.
With --trace 1 the span and per-operation cost records are written to
.bench_out/trace-<workload>-<seed>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("rcmn_request", "ingest_serve")
TIMEOUT_S = 170
RUN_ROOT = build.RUN_ROOT
OUT_DIR = os.path.join(ROOT, ".bench_out")


def sweep_stale_runs():
    """Remove run directories whose process is gone (a killed run)."""
    if not os.path.isdir(RUN_ROOT):
        return
    for name in os.listdir(RUN_ROOT):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(RUN_ROOT, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes, fixtures = build.build()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    nproc, heap_mb = build.host()
    sweep_stale_runs()
    run_dir = os.path.join(RUN_ROOT, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = build.jvm(classes, heap_mb, run_dir) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir, "--out-dir", OUT_DIR,
        "--fixtures-dir", os.path.join(fixtures, a.workload),
        "--nproc", str(nproc), "--heap-mb", str(heap_mb)]
    # the program's own scratch directories go to the run directory too
    env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(run_dir, "scratch"))
    for k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS"):  # would override spark.local.dir
        env.pop(k, None)

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=run_dir, start_new_session=True,
                            preexec_fn=build.die_with_parent)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    result = None
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        for line in out.splitlines():
            if line.startswith('{"correct"'):
                result = json.loads(line)
            else:
                print(line)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"[perfbench] no result (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
