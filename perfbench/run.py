"""crawlspark benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  It sizes the Spark session to
this machine through the engine's existing environment variables (cores,
driver heap, local dirs), puts the checkout on PYTHONPATH so the Python
workers import the engine from any working directory, runs the workload
in a child process (``perfbench/harness.py``) in a session of its own,
and prints the child's result line last.  Everything the run writes stays
under ``.perfbench/`` in the checkout; the run's scratch is removed and
no process it started outlives it.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 150


def driver_heap_mb() -> int:
    """Half the available memory, at most 4 GiB: the workloads stay far
    below that, and the machine is shared."""
    avail_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return max(1024, min(4096, avail_kb // 1024 // 2))


def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_heap_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONUNBUFFERED": "1",
    })
    env.pop("CRAWLSPARK_PROF", None)
    return env


def session_members(sid: int) -> list[int]:
    """Pids in session ``sid``.  Spark's Python worker daemons move to
    process groups of their own, but they stay in the child's session."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after "pid (comm)": state ppid pgrp session; zombies are only
        # waiting for their parent to reap them
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_session(sid: int) -> None:
    """Terminate whatever is left of the child's session, then wait until
    every member is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, "crawlspark", "crawl.py")):
        print("perfbench: no crawlspark sources next to perfbench/; run from a "
              "source checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(run_dir)
    log_path = os.path.join(out_dir, "last-run.log")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), *argv,
           "--workdir", os.path.join(run_dir, "work")]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(run_dir),
                                    stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
                return 1
            finally:
                stop_session(proc.pid)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or '"metrics": {"' not in lines[-1]:
        sys.stdout.write(out)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: harness exited {proc.returncode} without a result",
              file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
