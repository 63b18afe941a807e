"""perfbench launcher — the one command that runs a benchmark workload.

    python3 perfbench/run.py --workload {ingest,relational,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The launcher makes the run hermetic
without touching product code: it creates a run-scoped directory under
``perfbench/_run/`` holding ``TMPDIR``, Spark's local dirs and the SQL
warehouse (so index-builder ``mkdtemp``/``saveAsTable`` leftovers and
catalog tables never accumulate), puts the repository root on
``PYTHONPATH`` (so Python workers import ``khose_spark`` from any working
directory), pins ``SPARK_GRAFT_CPUS`` to the host's cores and keeps
``KHOSE_DRIVER_MEMORY`` below physical RAM. It runs ``harness.py`` in
its own process group with the run directory as working directory,
stops every process of that group when the harness exits, removes the
run directory, and prints the harness's result JSON as the last line of
stdout. Everything else goes to stderr. Exit code is non-zero, with no
result line, when the harness fails or the product is missing.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# One run must end within 180 s; keep the harness well inside that.
HARNESS_TIMEOUT_S = 170


def _driver_memory() -> str:
    """Half of physical RAM, capped at 2 GiB: the benchmark's data is
    small, and the product default (16g) exceeds small hosts' RAM."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(2048, total_kib // 2048)}m"


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process left in the harness's process group (the JVM,
    Python workers) and wait for the harness itself."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, "khose_spark")):
        print(f"perfbench: no khose_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(HERE, "_run", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # what `nproc` counts
        KHOSE_DRIVER_MEMORY=_driver_memory(),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "pyspark-shell"
        ),
        PERFBENCH_RUN_ID=run_id,
        PERFBENCH_RUN_DIR=run_dir,
    )
    env.pop("OMP_NUM_THREADS", None)
    result_path = os.path.join(run_dir, "result.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), *sys.argv[1:]],
        cwd=run_dir,
        env=env,
        stdout=sys.stderr.fileno(),
        start_new_session=True,
    )
    signal.signal(signal.SIGTERM, lambda *_: _stop_group(proc) or sys.exit(143))
    try:
        code = proc.wait(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: harness exceeded {HARNESS_TIMEOUT_S}s", file=sys.stderr)
        code = 124
    finally:
        _stop_group(proc)
    result = None
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = f.read().strip()
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.join(HERE, "_run"))
    except OSError:
        pass  # another run is still using it
    if result is None:
        print(f"perfbench: harness failed (exit {code})", file=sys.stderr)
        return code or 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
