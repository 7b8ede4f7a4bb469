"""Traced run: per-layer times, counts, plan shape and stage metrics,
measured from outside by calling into each layer's public functions.

Layer times come from cumulative plan prefixes, each forced with a noop
sink (median of PREFIX_REPS): a layer's self time is the difference
between its prefix and the one before.  Spans (name, start, end, parent,
workload) are kept in memory and written with the run's result.  Stage
metrics come from the Spark event log, written inside the work directory
and parsed after the session stops; SQL metrics of the band join give
``dedup.pairs_raw``.  ``functions.*`` are single-threaded driver calls
into the kernels' public functions over a seeded sample of the
workload's own payloads.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import statistics
import time
from pathlib import Path

from bench import force

PREFIX_REPS = 2
SAMPLE_DOCS = 200

# (metric, unit): every per-layer metric the traced run reports, for
# every workload; a layer the workload does not exercise reports 0
LAYER_METRICS = (
    ("scan.self_s", "s"), ("spark.plan.filescan", "count"),
    ("filters.self_s", "s"), ("filters.rows_main", "count"),
    ("filters.rows_robots", "count"), ("filters.rows_pdf", "count"),
    ("filters.rows_dropped", "count"),
    ("spark.plan.payload_agg_evals", "count"),
    ("arrow.identity_s", "s"), ("arrow.in_mb", "MB"), ("arrow.out_mb", "MB"),
    ("extract.self_s", "s"), ("extract.docs_in", "count"),
    ("extract.fast_lane_share", "ratio"), ("extract.err_docs", "count"),
    ("extract.keep_ratio", "ratio"), ("spark.plan.mapinarrow", "count"),
    ("functions.html.ns_per_kb", "ns/KB"),
    ("functions.entities.ns_per_kb", "ns/KB"),
    ("functions.langid.ns_per_kb", "ns/KB"),
    ("functions.transport.ns_per_kb", "ns/KB"),
    ("functions.charset.ns_per_kb", "ns/KB"),
    ("functions.clean_doc.us_per_doc", "us"),
    ("langid.self_s", "s"), ("pipeline.demux_s", "s"),
    ("pipeline.lang_rows", "count"),
    ("sources.ingest_s", "s"), ("sources.records", "count"),
    ("sources.warc_mb", "MB"),
    ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("dedup.signatures_s", "s"), ("dedup.band_join_s", "s"),
    ("dedup.pairs_raw", "count"), ("dedup.pairs_out", "count"),
    ("dedup.pair_yield", "ratio"), ("dedup.components_s", "s"),
    ("dedup.cc_rounds", "count"), ("dedup.simhash_pairs_s", "s"),
    ("spark.spill_mb", "MB"), ("spark.plan.exchange", "count"),
    ("spark.gc_s", "s"),
    ("trace.e2e_s", "s"), ("trace.layer_sum_ratio", "ratio"),
    ("trace.overhead", "ratio"), ("check.doc_error_ratio", "ratio"),
)


class Tracer:
    """In-memory spans; a span's parent is the span open when it began."""

    def __init__(self, workload: str, spark, midway=None):
        self.workload = workload
        self.sc = spark.sparkContext
        self.spans = []
        self._open = []
        self._midway = midway  # runs once, halfway through rounds()
        self.midway_result = None

    def span(self, name: str, fn):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.sc.setJobDescription(f"trace:{name}")
        start = time.perf_counter()
        try:
            return fn()
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.sc.setJobDescription(None)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "workload": self.workload})

    def rounds(self, steps, after=None, reps: int = PREFIX_REPS) -> dict:
        """Median wall time per step over ``reps`` rounds; each round runs
        every prefix in chain order, so all of them are measured in the
        same warm state of the JVM.  ``midway`` (the worker's timed loop)
        runs between the first and the second half of the rounds: the JIT
        keeps warming for many passes, and rounds that bracket the loop
        see on average the JVM the loop sees.
        ``after(name)`` runs untimed after each step."""
        times = {name: [] for name, _ in steps}
        for i in range(reps):
            if i == reps // 2 and self._midway is not None:
                self.midway_result = self._midway()
            for name, fn in steps:
                t0 = time.perf_counter()
                self.span(f"{name}#{i}", fn)
                times[name].append(time.perf_counter() - t0)
                if after is not None:
                    after(name)
        return {name: statistics.median(ts) for name, ts in times.items()}


# ---------------------------------------------------------------------------
# plan shape

_NORMALIZE = [(re.compile(p), r) for p, r in (
    (r"#\d+L?", ""), (r"\[plan_id=\d+\]", ""), (r"0x[0-9a-f]+", ""),
    (r"Location: [^\]]*\]", "Location]"), (r"file:[^\s,\]]+", "file"),
    (r"isFinalPlan=\w+", ""))]


def plan_counts(frames) -> dict:
    text = "\n".join(f._jdf.queryExecution().executedPlan().toString()
                     for f in frames)
    norm = text
    for rx, sub in _NORMALIZE:
        norm = rx.sub(sub, norm)
    digest = hashlib.sha256(norm.encode()).hexdigest()
    return {"spark.plan.filescan": len(re.findall(r"\bFileScan\b", text)),
            "spark.plan.exchange": len(re.findall(r"\w*Exchange\b", text)),
            "spark.plan.mapinarrow": len(re.findall(r"\bMapInArrow\b", text)),
            "spark.plan.payload_agg_evals": len(re.findall(
                r"aggregate\(spans", text)),
            "spark.plan.fingerprint": int(digest[:8], 16),
            "plan_text": text}


# ---------------------------------------------------------------------------
# Arrow bytes crossing the JVM<->Python boundary

def arrow_mb(frame) -> float:
    import pyarrow as pa

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([b.nbytes], pa.int64())], ["b"])
    rows = frame.mapInArrow(sizes, "b long").groupBy().sum("b").collect()
    return (rows[0][0] or 0) / 2**20


# ---------------------------------------------------------------------------
# driver-side micro-benchmarks of the kernels' public functions

def _payload_sample(wl, workload: str, seed: int):
    """(payload bytes, http_ct, transfer_enc, content_enc, url) for a
    seeded sample of the workload's own kept records."""
    rng = random.Random(f"trace:{workload}:{seed}")
    out = []
    if workload == "warc_legacy":
        from warc2text_spark.sources.warcio import parse_warc_file
        files = sorted(Path(wl.input).glob("*.warc.gz"))
        rows = []
        for f in rng.sample(files, min(4, len(files))):
            rows.extend(r for r in parse_warc_file(f.read_bytes(), f.name)
                        if r["warc_type"] == "response")
    else:
        import pyarrow.parquet as pq
        files = sorted(Path(wl.path).glob("*.parquet"))
        rows = pq.read_table(rng.choice(files)).to_pylist()
    rows = rng.sample(rows, min(SAMPLE_DOCS, len(rows)))
    import base64
    for r in rows:
        if workload == "dedup_hotbucket":
            out.append((r["text"].encode(), "text/plain", "", "", ""))
            continue
        if wl.expected.get(r["doc_id"] if workload != "warc_legacy"
                           else r["url"], {}).get("route") != "main":
            continue
        for s in r["spans"]:
            if s["kind"] == "media":
                if workload != "warc_legacy":
                    continue
                payload = base64.b64decode(s["media_ref"])
            else:
                payload = s["text"].encode()
            out.append((payload, r["http_ct"], r["transfer_enc"],
                        r["content_enc"], r["url"]))
    return out


def _ns_per_kb(fn, items, nbytes) -> float:
    """Median over 3 passes of ``fn`` across ``items``, per input KB."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter_ns()
        for it in items:
            fn(it)
        runs.append(time.perf_counter_ns() - t0)
    return statistics.median(runs) / max(nbytes / 1024, 1e-9)


def function_costs(wl, workload: str, seed: int) -> dict:
    from warc2text_spark.functions import charset as cs
    from warc2text_spark.functions import record as rec
    from warc2text_spark.functions import transport
    from warc2text_spark.functions.entities import decode_entities
    from warc2text_spark.functions.langid import get_detector
    from warc2text_spark.functions.textextract import process_html

    sample = _payload_sample(wl, workload, seed)
    decoded, charsets, html, plain = [], [], [], []
    for payload, http_ct, te, ce, url in sample:
        d = transport.transport_decode(payload, te, ce)
        clean_ct, declared = rec.clean_content_type(http_ct)
        decoded.append((d, clean_ct, declared, url))
        charsets.append((d, declared))
        html.append(d)
    for d in html:
        # text outside any tag extracts to nothing: entity-decode the raw
        # text then (dedup_hotbucket's payloads are extracted text)
        plain.append((process_html(d)[0] or d).decode("utf-8", "replace"))
    texts = [rec.clean_payload(d, ct, dc, u)[0] for d, ct, dc, u in decoded]
    detector = get_detector("heuristic")

    def charset_fn(item):
        d, declared = item
        c = cs.detect_charset(d, declared)
        if c and cs.needs_conversion(c):
            try:
                cs.to_utf8(d, c)
            except (UnicodeDecodeError, LookupError):
                pass

    def size(xs):
        return sum(len(x) for x in xs)

    doc_runs = []
    for _ in range(3):
        t0 = time.perf_counter_ns()
        for d, ct, dc, u in decoded:
            rec.clean_payload(d, ct, dc, u)
        doc_runs.append(time.perf_counter_ns() - t0)
    return {
        "functions.transport.ns_per_kb": _ns_per_kb(
            lambda s: transport.transport_decode(s[0], s[2], s[3]), sample,
            size(s[0] for s in sample)),
        "functions.charset.ns_per_kb": _ns_per_kb(
            charset_fn, charsets, size(d for d, _ in charsets)),
        "functions.html.ns_per_kb": _ns_per_kb(process_html, html, size(html)),
        "functions.entities.ns_per_kb": _ns_per_kb(
            decode_entities, plain, size(p.encode() for p in plain)),
        "functions.langid.ns_per_kb": _ns_per_kb(
            detector.detect, texts, size(t.encode() for t in texts)),
        "functions.clean_doc.us_per_doc":
            statistics.median(doc_runs) / 1e3 / max(len(decoded), 1),
        "functions.sample_docs": len(decoded),
    }


# ---------------------------------------------------------------------------
# per-workload prefix chains

def _extraction_layers(tr: Tracer, wl, workload: str) -> dict:
    from pyspark.sql import functions as F

    from warc2text_spark.operators.extract import KERNEL_INPUT_COLS
    from warc2text_spark.operators.filters import split_stream
    from warc2text_spark.plans.pipeline import demux_by_lang

    warc = workload == "warc_legacy"

    def filtered():
        return split_stream(wl.frame())[0]

    def identity():
        def kernel(batches):  # nested: pickled by value for the workers
            yield from batches
        main = filtered()
        cols = [c for c in KERNEL_INPUT_COLS if c in main.columns]
        proj = main.select(*cols)
        return proj.mapInArrow(kernel, proj.schema)

    sink = {}

    def stat_and_clean(name):
        if name == "sink":
            files = [p for p in wl.out.rglob("*") if p.is_file()]
            sink["files"] = len(files)
            sink["bytes"] = sum(p.stat().st_size for p in files)
        wl.cleanup()

    chain = [("scan", lambda: force(wl.frame())),
             ("filters", lambda: force(filtered())),
             ("arrow", lambda: force(identity())),
             ("extract", lambda: force(wl.pipeline("skip").extracted)),
             ("langid", lambda: force(wl.pipeline().extracted)),
             ("demux", lambda: force(demux_by_lang(wl.pipeline().main)))]
    if warc:
        chain.append(("sink", wl.run))
    t = tr.rounds(chain, after=stat_and_clean if warc else None)
    m = {"scan.self_s": t["scan"]}
    if warc:
        m["sinks.write_s"] = t["sink"] - t["demux"]
        m["sinks.bytes_written"] = sink["bytes"]
        m["sinks.files_written"] = sink["files"]
        m["sources.ingest_s"] = t["scan"]  # the scan is WARC ingestion
    m.update({
        "filters.self_s": t["filters"] - t["scan"],
        "arrow.identity_s": t["arrow"] - t["filters"],
        "extract.self_s": t["extract"] - t["arrow"],
        "langid.self_s": t["langid"] - t["extract"],
        "pipeline.demux_s": t["demux"] - t["langid"],
    })

    def counts():
        from warc2text_spark.operators.extract import keep_predicate
        res = wl.pipeline()
        total = wl.frame().count()
        s0 = F.get(F.col("spans"), 0)
        single = (F.size("spans") == 1) & \
            (F.coalesce(s0["kind"], F.lit("text")) == "text") & \
            (F.coalesce(s0["media_ref"], F.lit("")) == "")
        docs_in, n_single = res.prefiltered.agg(
            F.count(F.lit(1)), F.count(F.when(single, 1))).collect()[0]
        c = {"filters.rows_main": docs_in,
             "filters.rows_robots": res.robots.count(),
             "filters.rows_pdf": res.pdf.count(),
             "extract.docs_in": docs_in,
             "extract.fast_lane_share": n_single / max(docs_in, 1)}
        c["filters.rows_dropped"] = (total - docs_in
                                     - c["filters.rows_robots"]
                                     - c["filters.rows_pdf"])
        # one kernel pass feeds every post-kernel count
        ext = res.extracted.persist()
        try:
            keep = keep_predicate()
            row = ext.agg(
                F.count(F.when(F.col("err") != 0, 1)),
                F.count(F.when(keep, 1)),
                F.sum(F.when(keep, F.size("langs")))).collect()[0]
            c["arrow.out_mb"] = arrow_mb(ext)
        finally:
            ext.unpersist()
        c["extract.err_docs"] = row[0]
        c["extract.keep_ratio"] = row[1] / max(docs_in, 1)
        c["pipeline.lang_rows"] = row[2] or 0
        c["arrow.in_mb"] = arrow_mb(identity())
        if warc:
            c["sources.records"] = total
        return c
    m.update(tr.span("counts", counts))
    return {"prefix_s": t, "chain": [name for name, _ in chain],
            "metrics": m}


def _dedup_layers(tr: Tracer, wl) -> dict:
    from warc2text_spark.operators.dedup import (minhash_candidate_pairs,
                                                 minhash_signatures,
                                                 release_intermediates,
                                                 simhash_near_pairs)

    def released(make):
        out = make()
        try:
            force(out)
        finally:
            release_intermediates(out)

    chain = [
        ("signatures", lambda: force(minhash_signatures(wl.docs()))),
        ("band_join", lambda: released(
            lambda: minhash_candidate_pairs(wl.docs()))),
        ("components", wl.run),
        ("simhash", lambda: released(
            lambda: simhash_near_pairs(wl.docs())))]
    t = tr.rounds(chain)
    return {"prefix_s": t,
            "chain": [name for name, _ in chain],
            "metrics": {
                "dedup.signatures_s": t["signatures"],
                "dedup.band_join_s": t["band_join"] - t["signatures"],
                "dedup.components_s": t["components"] - t["band_join"],
                "dedup.simhash_pairs_s": t["simhash"],
                "dedup.pairs_out": len(wl.last["mh"])}}


def run_trace(spark, wl, spec: dict, timed_loop) -> dict:
    """Runs inside the traced worker after its checked pass; the worker's
    ``timed_loop`` runs halfway through the prefix rounds and its result
    is returned as ``loop``."""
    workload = spec["workload"]
    tr = Tracer(workload, spark, midway=timed_loop)
    if workload == "dedup_hotbucket":
        found = _dedup_layers(tr, wl)
    else:
        found = _extraction_layers(tr, wl, workload)
    prefix_s = found["prefix_s"]
    # self times telescope: their sum is the last prefix of the chain
    # that the e2e pass runs (simhash pairs is timed beside it)
    last = "components" if workload == "dedup_hotbucket" \
        else found["chain"][-1]
    from warc2text_spark.operators.dedup import release_intermediates
    frames = wl.plan_frames()
    plans = plan_counts(frames)
    for f in frames:
        release_intermediates(f)
    funcs = tr.span("functions", lambda: function_costs(
        wl, workload, spec["seed"]))
    m = dict(found["metrics"])
    m.update({k: v for k, v in plans.items() if k != "plan_text"})
    m.update({k: v for k, v in funcs.items() if k.startswith("functions.")
              and not k.endswith("sample_docs")})
    if workload == "warc_legacy":
        m["sources.warc_mb"] = json.loads(
            (Path(spec["corpus"]) / "manifest.json").read_text()
        )["input_bytes"] / 1e6
    return {"loop": tr.midway_result, "metrics": m, "prefix_s": prefix_s,
            "layer_sum_s": prefix_s[last],
            "chain": found["chain"], "spans": tr.spans,
            "plan_text": plans["plan_text"],
            "function_sample_docs": funcs["functions.sample_docs"]}


# ---------------------------------------------------------------------------
# event log

def _plan_join_accumulators(info, out: set) -> None:
    if "Join" in info.get("nodeName", ""):
        for mt in info.get("metrics", ()):
            if mt.get("name") == "number of output rows":
                out.add(mt["accumulatorId"])
    for child in info.get("children", ()):
        _plan_join_accumulators(child, out)


_GLOBAL_COUNT = re.compile(r"Keys: \[\]\nFunctions \[1\]: \[count\(1\)\]")


def _phase(desc: str) -> str:
    """Job description -> phase: ``e2e:3`` -> ``e2e``,
    ``trace:band_join#1`` -> ``trace:band_join``."""
    parts = desc.split("#")[0].split(":")
    return ":".join(parts[:2]) if parts[0] == "trace" else parts[0]


def parse_event_log(log_dir: Path) -> dict:
    """Per job-description prefix: stage/task metrics, and the summed
    join output rows of SQL executions run under that prefix."""
    stage_desc, exec_desc, exec_join_acc = {}, {}, {}
    global_counts = set()  # executions that are a DataFrame.count()
    tasks = []
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted((p for p in log_dir.rglob("events_*") if p.is_file()),
                   key=lambda p: int(p.name.split("_")[1]))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc[sid] = desc
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_desc.setdefault(int(eid), desc)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    ids = exec_join_acc.setdefault(ev["executionId"], set())
                    _plan_join_accumulators(ev.get("sparkPlanInfo", {}), ids)
                    if _GLOBAL_COUNT.search(
                            ev.get("physicalPlanDescription", "")):
                        global_counts.add(ev["executionId"])
    acc_phase = {}
    for eid, ids in exec_join_acc.items():
        for a in ids:
            acc_phase[a] = exec_desc.get(eid, "")
    by_phase = {}
    for ev in tasks:
        phase = _phase(stage_desc.get(ev.get("Stage ID"), ""))
        p = by_phase.setdefault(phase, {"shuffle_read": 0, "shuffle_write": 0,
                                        "spill": 0, "join_rows": 0,
                                        "stages": {}})
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        p["shuffle_read"] += sr.get("Remote Bytes Read", 0) + \
            sr.get("Local Bytes Read", 0)
        p["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        p["spill"] += tm.get("Disk Bytes Spilled", 0)
        info = ev.get("Task Info") or {}
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        p["stages"].setdefault(ev.get("Stage ID"), []).append(dur)
        for acc in info.get("Accumulables", ()):
            if acc.get("ID") in acc_phase and "Update" in acc:
                p["join_rows"] += int(acc["Update"])
    for eid in global_counts:
        p = by_phase.get(_phase(exec_desc.get(eid, "")))
        if p is not None:
            p["counts"] = p.get("counts", 0) + 1
    for p in by_phase.values():
        stages = p.pop("stages")
        longest = max(stages.values(), key=sum, default=[])
        med = statistics.median(longest) if longest else 0
        p["task_skew"] = max(longest) / med if med else 0.0
    return by_phase


def finish_trace(detail: dict, log_dir: Path, e2e_passes: int) -> dict:
    phases = parse_event_log(log_dir)
    e2e = phases.get("e2e", {})
    n = max(e2e_passes, 1)
    m = detail["metrics"]
    m["spark.shuffle_read_mb"] = e2e.get("shuffle_read", 0) / n / 2**20
    m["spark.shuffle_write_mb"] = e2e.get("shuffle_write", 0) / n / 2**20
    m["spark.spill_mb"] = e2e.get("spill", 0) / n / 2**20
    m["spark.task_skew"] = e2e.get("task_skew", 0.0)
    bj = phases.get("trace:band_join", {})
    if "dedup.pairs_out" in m:
        raw = bj.get("join_rows", 0) / PREFIX_REPS
        m["dedup.pairs_raw"] = raw
        m["dedup.pair_yield"] = m["dedup.pairs_out"] / raw if raw else 0.0
        # connected_components runs one count() per round: the check that
        # no label changed
        m["dedup.cc_rounds"] = phases.get("trace:components", {}).get(
            "counts", 0) / PREFIX_REPS
    detail["event_log_phases"] = phases
    return detail


def layer_metrics(plain: dict, traced: dict) -> dict:
    """The per-layer metric set of a ``--trace 1`` run."""
    m = dict(traced["trace_detail"]["metrics"])
    untraced = statistics.median(plain["samples_s"])
    traced_e2e = statistics.median(traced["samples_s"])
    # traced over untraced docs_per_s
    m["trace.overhead"] = untraced / traced_e2e
    # the prefix chain against the traced worker's own timed loop, an
    # independent measurement of the same end-to-end pass
    m["trace.e2e_s"] = traced_e2e
    m["trace.layer_sum_ratio"] = \
        traced["trace_detail"]["layer_sum_s"] / traced_e2e
    m["spark.gc_s"] = traced["gc_s_per_pass"]
    m["check.doc_error_ratio"] = traced["check_errors"] / traced["records"]
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit}
            for name, unit in LAYER_METRICS}
