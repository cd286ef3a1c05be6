"""Engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--spans-out F]

Run from the repository root.  Generates the workload's tables from
``--seed`` into a fresh scratch directory under ``.perfbench_scratch/``,
runs ``worker.py`` in its own process (and process group) with
``TMPDIR`` and ``SPARK_LOCAL_DIRS`` inside that directory, relays its
report (last stdout line: one JSON object), then stops every process
the run started and deletes the scratch directory.  Workloads and
metrics are described in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 150


def _group_members(pgid: int) -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the worker's process group (JVM and Python
    UDF workers included) and wait until none of it is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while _group_members(pgid) and time.time() < deadline:
            time.sleep(0.05)
        if not _group_members(pgid):
            return


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="with --trace 1: write the spans here as JSON lines")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from datagen import write_tables
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "interlinked_spark")):
        print(f"no interlinked_spark package next to {HERE}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # A SIGTERM still stops the worker group and deletes the scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{wl.name}-{os.getpid()}")
    dirs = {k: os.path.join(scratch, k) for k in ("data", "tmp", "spark-local", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    proc = None
    try:
        write_tables(dirs["data"], args.seed, wl.sf)
        env = dict(os.environ, TMPDIR=dirs["tmp"], SPARK_LOCAL_DIRS=dirs["spark-local"])
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", wl.name, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", dirs["data"], "--t0", repr(t0),
        ]
        if args.spans_out:
            cmd += ["--spans-out", os.path.abspath(args.spans_out)]
        proc = subprocess.Popen(
            cmd, cwd=dirs["work"], env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
            return 3
    finally:
        if proc is not None:
            _stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print(f"worker failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
