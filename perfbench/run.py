#!/usr/bin/env python3
"""Checkpointed-pipeline benchmark: times `pipeline.run_pipeline` end to end.

    python3 perfbench/run.py --workload caption_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Run from the repo root. Inputs are generated per (workload, seed) and cached
under .perfbench_scratch/ (gen.py, in a subprocess); each workload then runs
in a fresh subprocess (worker.py) at local[nproc]. Every subprocess gets a
session of its own, and all that is left in that session when it ends is
stopped and waited for. --trace 0 prints the end-to-end metrics,
--trace 1 the per-layer ones; every metric also goes, with its unit, to
.perfbench_scratch/results/. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A run whose output differs from the reference exits non-zero.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from typing import Dict, List, Optional, Tuple

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT / "perfbench"), str(ROOT)]

import gen  # noqa: E402

SCRATCH = ROOT / ".perfbench_scratch"
WORKER_TIMEOUT_S = 170
GEN_TIMEOUT_S = 700  # first run of a (workload, seed) only
# The job's default 8g heap lets the driver JVM grow to ~8 GB before it
# collects; the benchmark's machine shares 15 GB, so the heap is capped.
DRIVER_MEM = "1g"
E2E = ("images_per_s", "batch_commit_s.p50", "batch_commit_s.p90", "setup_s",
       "peak_rss_mb")
# Printed and written to results/, but left out of the result line: a run
# has 8 commit intervals, so p90 is about the second largest of them, and
# its run-to-run spread (0.17-0.35 of the median over five seeds) is wider
# than any bound the benchmark may set.
UNGATED = ("batch_commit_s.p90",)


def _become_subreaper() -> None:
    """Orphans of our subprocesses are re-parented to this process instead of
    init, so _reap can find and wait for them even if they left the session."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _leftover_pids(sid: int) -> List[int]:
    """Live (not zombie) processes of session `sid` or children of ours."""
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                # after "pid (comm)": state ppid pgrp session ...
                with open(f"/proc/{d}/stat", "rb") as fh:
                    fields = fh.read().rsplit(b")", 1)[1].split()
                if fields[0] != b"Z" and (int(fields[3]) == sid or int(fields[1]) == me):
                    pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return pids


def _reap(sid: int) -> None:
    """Stop whatever is left in session `sid` or below us, and wait until
    every one of them has ended."""
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while True:
        pids = _leftover_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _collect_zombies() -> None:
    """Wait for (collect the exit status of) every child that has ended."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def run_isolated(cmd: List[str], env: Dict[str, str], log: Path,
                 timeout: float) -> Optional[int]:
    """Run `cmd` in a session of its own, output to `log`; return its exit
    code, None on timeout. On every way out, whatever is left in the
    session is stopped and waited for."""
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            _reap(proc.pid)
            proc.wait()
            _collect_zombies()


def _log_tail(what: str, code: Optional[int], log: Path) -> str:
    tail = log.read_text(errors="replace")[-3000:]
    return f"{what} exited with {code}; log tail:\n{tail}"


def base_env() -> Dict[str, str]:
    return dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]))


def ensure_input(workload: str, seed: int) -> Path:
    """gen.ensure_input in a subprocess: its process pool and the pool's
    resource tracker end with that subprocess, not with this one."""
    results = SCRATCH / "results"
    results.mkdir(parents=True, exist_ok=True)
    log = results / f"{workload}-s{seed}.gen.log"
    cmd = [sys.executable, str(ROOT / "perfbench" / "gen.py"),
           str(SCRATCH), workload, str(seed)]
    code = run_isolated(cmd, base_env(), log, GEN_TIMEOUT_S)
    for line in reversed(log.read_text(errors="replace").splitlines()):
        if code == 0 and (Path(line) / "meta.json").is_file():
            return Path(line)
    raise RuntimeError(_log_tail(f"{workload} input generation", code, log))


def run_worker(workload: str, seed: int, seconds: float, trace: int) -> Dict:
    input_dir = ensure_input(workload, seed)
    name = f"{workload}-s{seed}-t{trace}"
    work = SCRATCH / "runs" / name
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    results = SCRATCH / "results"
    result = results / f"{name}.worker.json"
    result.unlink(missing_ok=True)
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "input_dir": str(input_dir), "scratch": str(work), "result": str(result)}
    env = dict(base_env(),
               PYSPARK_PYTHON=sys.executable,
               SPARK_DRIVER_MEM=DRIVER_MEM,
               MALLOC_ARENA_MAX="2",
               # every JVM, the spark-submit launcher too: temp files in the
               # run's scratch, no hsperfdata file under /tmp
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
               SPARK_LOCAL_DIRS=str(work / "spark-local"),
               TMPDIR=str(work / "tmp"))
    log = results / f"{name}.log"
    cmd = [sys.executable, str(ROOT / "perfbench" / "worker.py"), json.dumps(args)]
    code = run_isolated(cmd, env, log, WORKER_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not result.is_file():
        raise RuntimeError(_log_tail(f"{workload} worker", code, log))
    out = json.loads(result.read_text())
    out["input"] = json.loads((input_dir / "meta.json").read_text())
    return out


def report(workload: str, seed: int, trace: int, r: Dict) -> Tuple[Dict, Dict]:
    """Write every metric with its unit to results/; return the stdout
    record and every metric."""
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["metrics"].items()}
    record = {"correct": r["failed"] == 0 and not r["errors"],
              "attempted": r["attempted"], "failed": r["failed"],
              "metrics": {k: m for k, m in metrics.items() if k not in UNGATED}}
    full = dict(record, metrics=metrics, workload=workload, seed=seed, trace=trace,
                errors=r["errors"], info=r.get("info"), input=r["input"])
    path = SCRATCH / "results" / f"{workload}-s{seed}-t{trace}.json"
    path.write_text(json.dumps(full, indent=1))
    for e in r["errors"]:
        print(f"{workload}: FAILED {e}", file=sys.stderr)
    return record, metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*gen.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _become_subreaper()
    # a SIGTERM unwinds like an exception, so run_isolated still reaps
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "pii_filter_spark" / "pipeline.py").is_file():
        print(f"perfbench: no pii_filter_spark package under {ROOT}", file=sys.stderr)
        return 2

    names = list(gen.WORKLOADS) if args.workload == "all" else [args.workload]
    records = {}
    for w in names:
        r = run_worker(w, args.seed, args.seconds, args.trace)
        records[w], metrics = report(w, args.seed, args.trace, r)
        fails = records[w]["failed"] / records[w]["attempted"]
        shown = E2E if not args.trace else sorted(metrics)
        for k in shown:
            m = metrics[k]
            print(f"{w:15s} {k:44s} {m['value']:14.6g} {m['unit']}")
        print(f"{w:15s} {'failed_frac':44s} {fails:14.6g} ratio"
              f"  ({records[w]['failed']} of {records[w]['attempted']} runs)")
    if len(names) == 1:
        final = records[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in records.values()),
            "attempted": sum(r["attempted"] for r in records.values()),
            "failed": sum(r["failed"] for r in records.values()),
            "metrics": {f"{w}.{k}": m for w, r in records.items()
                        for k, m in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
