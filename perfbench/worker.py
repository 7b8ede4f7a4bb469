"""One benchmark process: Spark set-up, the workload's checked warm-up
pass, then the timed closed loop (one client, one job at a time).

Started by run.py as ``python3 perfbench/worker.py <spec.json>``; the spec
names the workload, the generated corpus, the run length, whether the run
is traced, and where to write the result JSON.  Each workload runs in its
own process, so session confs one workload sets (the CLI sets the parquet
codec) never leak into the next.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402  (host stamps and the noop-sink force)


# ---------------------------------------------------------------------------
# host-sized runtime (inside the benchmark only; package defaults untouched)

def host_runtime(work: Path, event_log: Path | None) -> dict:
    """local[nproc], a driver heap of a quarter of MemTotal, shuffle
    partitions = nproc, and every scratch directory inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_mb = max(1024, mem_kb // 1024 // 4)
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": str(local),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024,
            "driver_heap_mb": heap_mb, "master": f"local[{nproc}]",
            "shuffle_partitions": nproc, "conf": conf}


def start_spark(rt: dict):
    from warc2text_spark import session
    spark = session.get_spark("perfbench", master=rt["master"],
                              shuffle_partitions=rt["shuffle_partitions"],
                              extra_conf=rt["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """One tiny untimed job through a Python worker and Arrow."""
    def identity(batches):
        yield from batches
    n = spark.sparkContext.defaultParallelism
    bench.force(spark.range(64, numPartitions=n)
                .mapInArrow(identity, "id long"))


# ---------------------------------------------------------------------------
# memory: peak RSS summed over this process tree (JVM + Python workers)

class RssSampler:
    """Peak RSS of this process tree: the sum over its processes of each
    one's peak (``VmHWM``), reset when sampling starts.  The kernel keeps
    every peak, so a spike between two samples still counts; a sample
    only has to see each process while it is alive."""

    def __init__(self, interval=0.1):
        self.interval = interval
        self.peak_kb = {}  # pid -> highest VmHWM seen
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree() -> list[int]:
        children = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        pids, stack = [], [os.getpid()]
        while stack:
            pid = stack.pop()
            pids.append(pid)
            stack.extend(children.get(pid, ()))
        return pids

    @staticmethod
    def reset(pid: int) -> None:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")  # peak RSS := current RSS
        except OSError:
            pass

    def sample(self) -> None:
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = int(next(line for line in f
                                  if line.startswith("VmHWM:")).split()[1])
            except (OSError, StopIteration, ValueError):
                continue
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024

    @contextlib.contextmanager
    def probe(self):
        """Keeps a probe run by this process (``bench.host_state``
        allocates 128 MB and forks ps) out of the figure: this process's
        peak so far is taken first and reset after."""
        with self._lock:
            self.sample()
            try:
                yield
            finally:
                self.reset(os.getpid())

    def _run(self):
        while not self._stop.is_set():
            with self._lock:
                self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        for pid in self.tree():
            self.reset(pid)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        with self._lock:
            self.sample()


# ---------------------------------------------------------------------------
# workloads: each returns an object with run() (one timed pass, noop or
# committed sink), check() (the untimed checked pass) and records

class Extraction:
    """smalldoc_mixed: full pipeline, heuristic langid, demux, noop sink."""

    def __init__(self, spark, corpus: Path, expected: dict):
        self.spark = spark
        self.path = str(corpus / "input")
        self.expected = expected
        self.records = len(expected)

    def frame(self):
        return self.spark.read.parquet(self.path)

    def pipeline(self, classifier="heuristic"):
        from warc2text_spark.plans.pipeline import (PipelineOptions,
                                                    run_pipeline)
        return run_pipeline(self.frame(), PipelineOptions(
            classifier=classifier))

    def e2e_frame(self):
        from warc2text_spark.plans.pipeline import demux_by_lang
        return demux_by_lang(self.pipeline().main)

    def run(self):
        bench.force(self.e2e_frame())

    def check(self):
        from pyspark.sql import functions as F

        import check
        from gen import SEP_FIELD, SEP_SPAN, SEP_SPANS
        from warc2text_spark.plans.pipeline import demux_by_lang
        res = self.pipeline()
        spans = F.array_join(F.transform("spans", lambda s: F.concat_ws(
            SEP_SPAN, s["kind"], s["text"], s["media_ref"],
            s["offset"].cast("string"))), SEP_SPANS)
        rd = F.sha2(F.concat_ws(SEP_FIELD, "lang", "chunk", spans), 256)
        rows = demux_by_lang(res.main).select("doc_id", rd).collect()
        robots = [r[0] for r in res.robots.select("doc_id").collect()]
        pdf = [r[0] for r in res.pdf.select("doc_id").collect()]
        return check.check_extraction(self.expected,
                                      [tuple(r) for r in rows], robots, pdf)

    def plan_frames(self):
        return [self.e2e_frame()]


class WarcLegacy:
    """The user's command: cli.main over real .warc.gz files with the
    reference's positional output, into a scratch dir removed after."""

    def __init__(self, spark, corpus: Path, expected: dict, work: Path,
                 nproc: int):
        self.spark = spark
        self.input = str(corpus / "input")
        self.expected = expected
        self.records = json.loads(
            (corpus / "manifest.json").read_text())["records"]
        self.out = work / "warc-out"
        self.nproc = nproc

    def argv(self):
        return ["--format", "warc", "--compat-output", "--silent",
                "--num-partitions", str(2 * self.nproc),
                "-o", str(self.out), "--input", self.input]

    def run(self):
        from warc2text_spark import cli
        shutil.rmtree(self.out, ignore_errors=True)
        rc = cli.main(self.argv(), spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"cli.main exited {rc}")

    def cleanup(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def verify(self):
        """(errors, examples) of the output the last pass committed."""
        import check
        return check.check_compat(self.expected,
                                  check.read_compat_output(self.out))

    def check(self):
        self.run()
        try:
            return self.verify()
        finally:
            self.cleanup()

    def pipeline_opts(self, classifier="heuristic"):
        from warc2text_spark.plans.pipeline import PipelineOptions
        return PipelineOptions(classifier=classifier,
                               media_text_mode="extract",
                               num_partitions=2 * self.nproc)

    def frame(self):
        from warc2text_spark.sources.warcio import warc_to_spans_df
        return warc_to_spans_df(self.spark, self.input)

    def pipeline(self, classifier="heuristic"):
        from warc2text_spark.plans.pipeline import run_pipeline
        return run_pipeline(self.frame(), self.pipeline_opts(classifier))

    def plan_frames(self):
        from warc2text_spark.plans.pipeline import demux_by_lang
        return [demux_by_lang(self.pipeline().main)]


class DedupHotbucket:
    """Timed pass: minhash_candidate_pairs -> connected_components.  The
    checked pass also runs simhash_near_pairs, which the traced run times
    as its own layer; intermediates are released after each query."""

    def __init__(self, spark, corpus: Path, expected: dict):
        self.spark = spark
        self.path = str(corpus / "input")
        self.expected = expected
        self.records = json.loads(
            (corpus / "manifest.json").read_text())["records"]
        self.last = None  # outputs of the checked pass

    def docs(self):
        return self.spark.read.parquet(self.path)

    def _components(self, consume):
        from warc2text_spark.operators.dedup import (connected_components,
                                                     minhash_candidate_pairs,
                                                     release_intermediates)
        pairs = minhash_candidate_pairs(self.docs())
        try:
            return consume(pairs, connected_components(pairs))
        finally:
            release_intermediates(pairs)

    def run(self):
        self._components(lambda pairs, cc: bench.force(cc))

    def _collect(self):
        from warc2text_spark.operators.dedup import (release_intermediates,
                                                     simhash_near_pairs)

        def rows(df):
            return [tuple(r) for r in df.collect()]
        out = self._components(lambda pairs, cc: {"mh": rows(pairs),
                                                  "cc": rows(cc)})
        sh = simhash_near_pairs(self.docs())
        try:
            out["sh"] = rows(sh)
        finally:
            release_intermediates(sh)
        return out

    def check(self):
        import check
        out = self._collect()
        ids = [r[0] for r in self.docs().select("doc_id").collect()]
        self.last = out
        return check.check_dedup(self.expected, ids, out["mh"], out["cc"],
                                 out["sh"])

    def plan_frames(self):
        from warc2text_spark.operators.dedup import (minhash_candidate_pairs,
                                                     simhash_near_pairs)
        return [minhash_candidate_pairs(self.docs()),
                simhash_near_pairs(self.docs())]


def make_workload(name, spark, corpus, expected, work, nproc):
    if name == "smalldoc_mixed":
        return Extraction(spark, corpus, expected)
    if name == "warc_legacy":
        return WarcLegacy(spark, corpus, expected, work, nproc)
    return DedupHotbucket(spark, corpus, expected)


# ---------------------------------------------------------------------------

def timed_loop(wl, seconds: float, min_samples: int, label: str, spark):
    """Closed loop for ``seconds``, and for at least ``min_samples`` passes:
    one pass at a time; each sample is stamped with the host state.
    Every sample is reported; a pass that raises counts as failed and
    stops the loop."""
    samples, stamps, failed = [], [], 0
    sc = spark.sparkContext
    gc0 = jvm_gc_s(spark)
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while len(samples) < min_samples or time.perf_counter() < deadline:
            sc.setJobDescription(f"{label}:{len(samples)}")
            steal0 = bench.read_steal_jiffies()
            t0 = time.perf_counter()
            try:
                wl.run()
                dt = time.perf_counter() - t0
                # a committed output is checked after every pass, untimed
                errors = wl.verify()[0] if hasattr(wl, "verify") else 0
                if errors:
                    raise RuntimeError(f"{errors} records wrong in the output")
            except Exception as ex:  # a failed pass is reported, not hidden
                print(f"{label} pass failed: {ex!r}", file=sys.stderr)
                failed += 1
                break
            if hasattr(wl, "cleanup"):
                wl.cleanup()
            samples.append(dt)
            steal = bench.read_steal_jiffies() - steal0
            with rss.probe():
                stamps.append({"steal_jiffies": steal, **bench.host_state()})
    sc.setJobDescription(None)
    return {"samples_s": samples, "stamps": stamps, "failed_passes": failed,
            "peak_rss_mb": rss.peak_mb,
            "gc_s_per_pass": (jvm_gc_s(spark) - gc0) / max(len(samples), 1)}


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of the driver JVM, which in local mode
    is also the executor."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def die_with_parent() -> None:
    """Ask the kernel to SIGTERM this process when run.py dies, however it
    dies; the JVM exits when its Python driver does."""
    import ctypes
    import signal
    pr_set_pdeathsig = 1
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(pr_set_pdeathsig, signal.SIGTERM, 0, 0, 0)


def main(spec_path: str) -> None:
    die_with_parent()
    spec = json.loads(Path(spec_path).read_text())
    t_spawn = spec["t_spawn"]
    work = Path(spec["work"])
    trace = spec["trace"]
    event_log = work / "eventlog" if trace else None
    if event_log is not None:
        shutil.rmtree(event_log, ignore_errors=True)
    rt = host_runtime(work, event_log)
    spark = start_spark(rt)
    warm_workers(spark)
    setup_s = time.time() - t_spawn

    from gen import load_expected
    corpus = Path(spec["corpus"])
    expected = load_expected(corpus)
    wl = make_workload(spec["workload"], spark, corpus, expected, work,
                       rt["nproc"])
    result = {"workload": spec["workload"], "seed": spec["seed"],
              "trace": trace, "runtime": rt, "setup_s": setup_s,
              "records": wl.records, "host_start": bench.host_state()}

    spark.sparkContext.setJobDescription("check")
    t0 = time.perf_counter()
    try:
        errors, examples = wl.check()
    except Exception as ex:
        print(f"checked pass failed: {ex!r}", file=sys.stderr)
        errors, examples = wl.records, [repr(ex)]
    result.update(check_s=time.perf_counter() - t0, check_errors=errors,
                  check_examples=examples)

    def run_loop():
        return timed_loop(wl, spec["seconds"], spec["min_samples"], "e2e",
                          spark)
    if trace:
        import layers
        detail = layers.run_trace(spark, wl, spec, run_loop)
        loop = detail.pop("loop")
    else:
        loop = run_loop()
    result.update(loop)
    result["host_end"] = bench.host_state()
    if trace:
        spark.stop()  # flushes the event log
        result["trace_detail"] = layers.finish_trace(
            detail, event_log, len(loop["samples_s"]))
    # run.py stops the JVM and the Python workers with this process's
    # session once the result is written
    Path(spec["result"]).write_text(json.dumps(result, indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
