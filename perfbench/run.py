"""Frontier crawl benchmark.

    python3 perfbench/run.py --workload polite_recrawl --seed 1 --seconds 10 --trace 0

Run from the repository root.  Starts ``worker.py`` in its own process
group, samples the resident memory (PSS) of the worker's whole process
tree (Python driver, JVM, Python UDF workers) from outside, then, with
the worker gone, checks every crawl the worker recorded against the
oracle and prints the result as one JSON line last on standard output.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced crawl.  Scratch files go under
``.bench_build/perfbench`` in the current directory, which also keeps
the traced run's spans; the oracle cache is under
``perfbench/oracle_cache``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))
TIMEOUT_S = 160  # the worker's limit; stopping the tree takes at most 10 s more


def _stat(pid) -> tuple[int, int, int] | None:
    """(parent pid, start time, process group) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[19]), int(fields[2])


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            tree.setdefault(st[0], []).append(int(name))
    return tree


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it, so that summing over a process tree
    counts forked workers' shared pages (and a child caught between fork
    and exec) once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _command(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


class TreeSampler(threading.Thread):
    """Peak summed resident memory (PSS) of a process and all its
    descendants.  Reading PSS walks each process's page tables (about
    20 ms for the JVM), so the tree is sampled twice a second."""

    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak = 0
        self.peak_by_command: dict[str, tuple[int, int]] = {}  # peak sample: command -> (bytes, processes)
        self.seen: set[tuple[int, int]] = set()  # (pid, start time)
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            tree, todo, by_command = _children(), [self.root], {}
            while todo:
                pid = todo.pop()
                todo.extend(tree.get(pid, []))
                st, command = _stat(pid), _command(pid)
                if st is None or command is None:
                    continue  # exited since the scan
                self.seen.add((pid, st[1]))
                pss, n = by_command.get(command, (0, 0))
                by_command[command] = (pss + _pss_bytes(pid), n + 1)
            total = sum(pss for pss, _ in by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_command
            self._stop_event.wait(self.interval)

    def stop(self):
        self._stop_event.set()
        self.join()


def _reap(pgid: int, seen: set[tuple[int, int]], grace: float) -> None:
    """Stop whatever the worker tree left behind and wait until it is
    gone: the worker's process group, and every process sampled in its
    tree (a pid only while its start time still matches, so a recycled
    pid is never touched)."""

    def alive():
        known = [pid for pid, start in seen if (st := _stat(pid)) is not None and st[1] == start]
        group = [int(n) for n in os.listdir("/proc") if n.isdigit() and (st := _stat(n)) and st[2] == pgid]
        return known + group

    deadline = time.time() + grace  # the JVM exits on its own once the driver is gone
    while time.time() < deadline and alive():
        time.sleep(0.05)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not alive():
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline and alive():
            time.sleep(0.05)


def check(workload: str, seed: int, inputs_dir: str, result: dict) -> tuple[int, int]:
    """(rounds attempted, rounds failed) of the crawls the worker
    recorded, against the oracle's expectation for the inputs it wrote.
    Runs after the worker has exited, so a cache miss costs no metric."""
    import expect
    import workloads

    t = time.perf_counter()
    wl = workloads.WORKLOADS[workload]
    n_rounds = workloads.SETUP_ROUNDS + workloads.TIMED_ROUNDS
    expected, hit = expect.load_or_build(wl, seed, inputs_dir, n_rounds)
    attempted, failed = 0, []
    for got in result["checks"]:
        attempted += got.get("rounds") or len(got["batch_counts"])
        failed += expect.failed_rounds(expected, got)
    result["detail"]["oracle"] = {
        "cache_hit": hit, "s": round(time.perf_counter() - t, 3), "failed_rounds": failed,
    }
    return attempted, len(failed)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    out_dir = os.path.abspath(os.path.join(".bench_build", "perfbench"))
    work = os.path.join(out_dir, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    # Spark sized to this machine through the seams session.get_spark
    # reads: cores (passed by the worker), SPARK_DRIVER_MEM and
    # SPARK_GRAFT_LOCAL_DIR.  The driver heap takes a sixth of RAM.
    mem_gib = max(1, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (6 << 30))
    tmp = os.path.join(work, "tmp")
    env = dict(
        os.environ,
        SPARK_DRIVER_MEM=f"{mem_gib}g",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # the JVM's temp files go under the checkout too; -XX:-UsePerfData
        # keeps it from writing /tmp/hsperfdata_<user>
        PYSPARK_SUBMIT_ARGS=shlex.join(
            ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
        ),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
        "--spans", os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
    ]
    def on_sigterm(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup below finish
        sys.exit(143)

    # a SIGTERM to this process still stops the worker tree (finally below)
    signal.signal(signal.SIGTERM, on_sigterm)
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    sampler = TreeSampler(proc.pid)
    sampler.start()
    code = None
    try:
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {TIMEOUT_S} s", file=sys.stderr)
        finally:
            sampler.stop()
            _reap(proc.pid, sampler.seen, grace=10 if code == 0 else 0)
            proc.wait()
        if code != 0 or not os.path.isfile(result_path):
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
        attempted, failed = check(args.workload, args.seed, os.path.join(work, "inputs"), result)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": sampler.peak / (1 << 20), "unit": "MB"}
    result["detail"]["peak_rss"] = {
        cmd: {"mb": round(rss / (1 << 20), 1), "processes": n} for cmd, (rss, n) in sampler.peak_by_command.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, **result["detail"]}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
