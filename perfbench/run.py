"""warc2text_spark benchmark: seeded workloads, end-to-end metrics, and a
traced per-layer breakdown.

    python3 perfbench/run.py --workload warc_legacy --seed 1 \
        --seconds 10 --trace 0

Generates (and caches) the workload's input for the seed, runs the
workload in a fresh worker process on local[nproc], checks every output
record against the generator's expected output, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (docs_per_s, setup_s,
peak_rss_mb); ``--trace 1`` runs an untraced worker and then a traced
one and reports the per-layer metrics (see RATIONALE.md).  Details of
every sample, host stamps included, go to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

RUN_BUDGET_S = 170  # every worker of a run must end within this
# timed passes per worker: the end-to-end metrics come from --trace 0 runs;
# a traced run, whose two workers run back to back, times fewer passes in
# each so that it stays within the run budget on a busy host
MIN_SAMPLES = 5
TRACE_MIN_SAMPLES = 3


def corpus_for(workload: str, seed: int) -> Path:
    """Generated input for (workload, seed), cached; other seeds of the
    same workload are evicted so the cache stays one corpus deep."""
    out = CACHE / workload / str(seed)
    manifest = out / "manifest.json"
    if not manifest.exists() or \
            json.loads(manifest.read_text()).get("params") != gen.params():
        if out.parent.exists():
            for old in out.parent.iterdir():
                shutil.rmtree(old, ignore_errors=True)
        gen.generate(workload, seed, out)
    return out


def run_worker(workload, seed, seconds, min_samples, trace, corpus,
               deadline) -> dict:
    tag = f"{workload}-{seed}-{'traced' if trace else 'plain'}"
    work = WORK / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spec = {"workload": workload, "seed": seed, "seconds": seconds,
            "min_samples": min_samples,
            "trace": trace, "corpus": str(corpus), "work": str(work),
            "result": str(work / "result.json"), "t_spawn": time.time()}
    (work / "spec.json").write_text(json.dumps(spec))
    env = dict(os.environ, TMPDIR=str(work / "tmp"),
               SPARK_LOCAL_DIRS=str(work / "spark-local"),
               PYTHONDONTWRITEBYTECODE="1")
    (work / "tmp").mkdir()
    with open(work / "worker.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(work / "spec.json")],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _kill_session(proc)
            # get_spark ships the package as a zip keyed by the pid of the
            # process that calls it; it is of no use once that process is gone
            Path("/tmp", f"warc2text_spark_{proc.pid}.zip").unlink(
                missing_ok=True)
    result_path = work / "result.json"
    if rc != 0 or not result_path.exists():
        tail = (work / "worker.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"worker for {workload} failed (rc={rc}):\n{tail}")
    result = json.loads(result_path.read_text())
    # keep the record of the run, drop the bulky scratch
    for sub in ("spark-local", "tmp", "eventlog", "warc-out", "warehouse"):
        shutil.rmtree(work / sub, ignore_errors=True)
    return result


def _kill_session(proc) -> None:
    """Stop every process of the worker's session (the JVM, PySpark's
    daemon and its Python workers) and wait until each is gone.  The
    worker runs in a session of its own; PySpark's daemon moves itself
    into a process group of its own, so the session, not the group,
    holds them all.  By the time the worker has exited or run out of
    time nothing in the session holds state worth a graceful shutdown,
    so each process is killed outright, again and again until none is
    left: the daemon may fork a worker while it is being killed."""
    sid = proc.pid
    deadline = time.time() + 30
    while True:
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        _reap_orphans()
        if not pids:
            return
        if time.time() > deadline:
            raise SystemExit(f"worker session {sid} did not end: {pids}")
        time.sleep(0.05)


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its
    descendants (PR_SET_CHILD_SUBREAPER), so that the Python workers
    whose daemon is killed are reaped here, not left as zombies."""
    import ctypes
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap_orphans() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not terminated (a zombie
    has; it only waits for its parent or init to reap it)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, ValueError):
            continue
        # after the command: state, ppid, pgrp, session
        if len(fields) > 3 and int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def end_to_end(res: dict) -> dict:
    samples = res["samples_s"]
    docs_per_s = res["records"] / statistics.median(samples)
    return {"docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"}}


def outcome(results) -> tuple[int, int]:
    """(attempted, failed) records: each timed pass attempts every input
    record; a record the checked pass got wrong is failed in every pass,
    and every record of a pass that raised is failed."""
    attempted = failed = 0
    for r in results:
        passes = len(r["samples_s"]) + r["failed_passes"]
        attempted += r["records"] * max(1, passes)
        failed += r["check_errors"] * max(1, passes) \
            + r["records"] * r["failed_passes"]
    return attempted, failed


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a signal becomes SystemExit, so run_worker's finally still stops
    # every process of the worker's session
    become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGINT, _exit_on_signal)
    # fail fast, before any generation, outside a full checkout
    for needed in ("warc2text_spark/__init__.py", "bench.py"):
        if not (ROOT / needed).exists():
            raise SystemExit(f"not a warc2text_spark checkout: {needed} "
                             "missing")

    deadline = time.monotonic() + RUN_BUDGET_S
    corpus = corpus_for(a.workload, a.seed)
    passes = TRACE_MIN_SAMPLES if a.trace else MIN_SAMPLES
    plain = run_worker(a.workload, a.seed, a.seconds, passes, 0, corpus,
                       deadline)
    results = [plain]
    if a.trace:
        import layers
        traced = run_worker(a.workload, a.seed, a.seconds, passes, 1, corpus,
                            deadline)
        results.append(traced)
        metrics = layers.layer_metrics(plain, traced)
        (WORK / f"trace-{a.workload}-{a.seed}.json").write_text(
            json.dumps({"metrics": metrics, "untraced": plain,
                        "traced": traced}, indent=1))
    else:
        metrics = end_to_end(plain)
    attempted, failed = outcome(results)
    (WORK / f"run-{a.workload}-{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(results, indent=1))
    for r in results:
        print(f"{a.workload} seed={a.seed} traced={r['trace']} "
              f"setup={r['setup_s']:.2f}s check={r['check_errors']} errors "
              f"samples={[round(s, 3) for s in r['samples_s']]}",
              file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
