"""Benchmark entry point: one run of one workload.

    python3 cypherbench/run.py --workload cypher_interactive --seed 1 \\
        --seconds 20 --trace 0

Run it from the root of a checkout. It computes (once per checkout) the
DuckDB answers the cold pass is checked against, runs the workload in a
fresh worker process with private Spark directories, checks that the run
left nothing behind, and prints one JSON result line as the last line of
stdout. The input is the sf0.1 data set of TESTDATA.md, ``testdata/sf0.1``
under the home directory; set ``SPARK_GRAFT_SF_DIR`` to use another. See
README.md in this directory.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import stat  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import core  # noqa: E402

DEFAULT_DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
CACHE_DIR = os.path.join(ROOT, ".bench_cache")
RUNS_DIR = os.path.join(ROOT, ".bench_run")
REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "cypher_for_apache_spark_spark",
            os.path.join("tools", "check_oracle.py"))
WORKER_TIMEOUT_S = 170
SPARK_TMP_PREFIXES = ("spark-", "blockmgr-", "pyspark-")


def own_output_files() -> set:
    """(device, inode) of the regular files this process's stdout and
    stderr go to: a caller may redirect them into the checkout, and they
    grow while the run prints."""
    out = set()
    for fd in (1, 2):
        try:
            st = os.fstat(fd)
        except OSError:
            continue
        if stat.S_ISREG(st.st_mode):
            out.add((st.st_dev, st.st_ino))
    return out


def snapshot(root: str) -> set:
    """Every file (with size and mtime) and directory of the checkout,
    except git's own, the oracle cache, the run directories and the files
    this process prints to."""
    skip = {".git", ".bench_cache", ".bench_run", ".bench_build"}
    outputs = own_output_files()
    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames if d not in skip]
        rel = os.path.relpath(dirpath, root)
        out.add((rel, "dir"))
        for name in filenames:
            st = os.lstat(os.path.join(dirpath, name))
            if (st.st_dev, st.st_ino) in outputs:
                continue
            out.add((os.path.join(rel, name), st.st_size, st.st_mtime_ns))
    return out


def git_status(root: str):
    if not os.path.isdir(os.path.join(root, ".git")) or shutil.which("git") is None:
        return None
    return subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout


def spark_temp_entries() -> set:
    tmp = tempfile.gettempdir()
    return {n for n in os.listdir(tmp) if n.startswith(SPARK_TMP_PREFIXES)}


def cpu_times() -> list:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def live_group_members(pgid: int) -> list:
    """Processes of a process group that have not exited (zombies excluded)."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(pid))
    return out


def reap_group(pgid: int, wait_s: float = 60.0) -> bool:
    """Wait for every process the worker started to end; kill stragglers.
    True when none had to be killed."""
    deadline = time.time() + wait_s
    while live_group_members(pgid) and time.time() < deadline:
        time.sleep(0.2)
    if not live_group_members(pgid):
        return True
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(2)
    while live_group_members(pgid):
        time.sleep(0.2)
    return False


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(core.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    data = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_DATA)
    if missing or not os.path.isdir(data):
        print(f"cypherbench: cannot run: missing {missing or [data]}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = core.declared_metrics(json.load(f), bool(args.trace))

    before = (snapshot(ROOT), git_status(ROOT), spark_temp_entries())
    import oracle

    oracles = oracle.answers(core.WORKLOADS[args.workload]["queries"], data, CACHE_DIR)

    run_dir = os.path.join(RUNS_DIR, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "oracle.json"), "w") as f:
        json.dump(oracles, f)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [HERE, ROOT, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--data", data]
    cpu0 = cpu_times()
    worker = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                              start_new_session=True)
    try:
        code = worker.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(worker.pid, signal.SIGKILL)
        code = worker.wait()
        print(f"cypherbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    res = None
    if code == 0:
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)

    # run hygiene: no process, directory or file of the run may remain
    problems = []
    if not reap_group(worker.pid):
        problems.append("processes of the run outlived it and were killed")
    shutil.rmtree(run_dir)
    if not os.listdir(RUNS_DIR):
        os.rmdir(RUNS_DIR)
    after = (snapshot(ROOT), git_status(ROOT), spark_temp_entries())
    if after[0] != before[0]:
        problems.append(f"checkout changed: {sorted(after[0] ^ before[0])[:5]}")
    if after[1] != before[1]:
        problems.append("git status changed")
    if after[2] - before[2]:
        problems.append(f"Spark temp entries left: {sorted(after[2] - before[2])}")
    for msg in problems:
        print(f"cypherbench: hygiene: {msg}", file=sys.stderr)
    if res is None:
        print(f"cypherbench: worker failed with exit code {code}", file=sys.stderr)
        return 1

    attempted, failed = core.request_counts(res)
    for err in res["errors"]:
        print(f"cypherbench: failed request: {err}", file=sys.stderr)
    correct = failed == 0 and not problems
    if args.trace:
        values = core.per_layer(res)
        trace_problems = core.trace_problems(res)
        if not core.layers_add_up(values):
            trace_problems.append("layer self times do not add up to the pass wall")
        for msg in trace_problems:
            print(f"cypherbench: trace: {msg}", file=sys.stderr)
        correct = correct and not trace_problems
    else:
        values = core.end_to_end(res)
    # CPU time the hypervisor gave other guests: the run's host noise
    steal_pct = 100.0 * cpu[7] / max(1, sum(cpu))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "host_steal_pct": round(steal_pct, 2), **core.detail(res)}),
          file=sys.stderr)
    print(core.result_line(declared, values, correct, attempted, failed), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
