"""Benchmark entry point.

    python3 graftbench/run.py --workload pipeline --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The run happens in a child process
(``worker.py``) in a session of its own, with every file Spark, the JVM
and the Python workers write kept under a fresh work directory in
``.graftbench_work/``. When the child has exited, every process left in
its session is stopped and waited for, and the work directory is
deleted, so one run cannot slow the next. The last line of standard
output is the result object; the line before it is the run record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "big_data_backblaze_hard_drive_failure_spark"
CORES = 2
RUN_LIMIT_S = 165


def refusal(env: dict[str, str]) -> str | None:
    """Why this environment would change what is measured, if it does.
    Every ``SPARK_GRAFT_*`` setting selects a plan, a master or a heap
    size; ``SPARK_GRAFT_CPUS`` also sets the shuffle width, so it must
    match the benchmark's ``local[N]``."""
    for key in sorted(env):
        if not key.startswith("SPARK_GRAFT_"):
            continue
        if key == "SPARK_GRAFT_CPUS":
            if env[key] != str(CORES):
                return f"SPARK_GRAFT_CPUS={env[key]} disagrees with local[{CORES}]"
        else:
            return f"{key} is set; it changes the measured configuration"
    return None


def _group_alive(pgid: int) -> bool:
    """A live (not zombie) process is left in process group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"graftbench: no {PACKAGE}/ in {root}; run from a checkout", file=sys.stderr)
        return 2
    why = refusal(dict(os.environ))
    if why:
        print(f"graftbench: refusing to run: {why}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".graftbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONPATH=os.pathsep.join(
            [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        PYTHONPYCACHEPREFIX=os.path.join(work, "pycache"),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"graftbench: run exceeded {RUN_LIMIT_S}s", file=sys.stderr)
        code = None
    finally:
        _reap_group(child.pid)
        if child.poll() is None:
            child.kill()
        child.wait()
    try:
        if code != 0:
            print(f"graftbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(os.path.join(work, "record.json")) as f:
            record = json.load(f)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
