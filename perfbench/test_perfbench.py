"""Self-tests of the benchmark's generator and output check.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark: the corpus digests come from the generator alone, and the
"program output" fed to the check is computed in-process with the
kernel's per-document function, then corrupted in one row.
"""

from __future__ import annotations

import base64
import gzip
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import check  # noqa: E402
import gen  # noqa: E402


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_corpus_digest_is_a_function_of_the_seed(workload, tmp_path):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    assert a["corpus_digest"] == b["corpus_digest"]
    assert a["corpus_digest"] != c["corpus_digest"]
    assert gen.load_expected(tmp_path / "a") == \
        gen.load_expected(tmp_path / "b")


def _kernel_output(rows, expected):
    """What the pipeline emits, computed with the kernel's per-document
    function and the heuristic detector: (doc_id, row digest) per demux
    row, plus the side-route ids the templates put there."""
    from warc2text_spark.functions.langid import get_detector
    from warc2text_spark.operators.extract import ExtractOptions, _clean_doc
    detector = get_detector("heuristic")
    opts = ExtractOptions(classifier="heuristic")
    main, robots, pdf = [], [], []
    for r in rows:
        route = expected[r["doc_id"]]["route"]
        if route in ("robots", "pdf"):
            (robots if route == "robots" else pdf).append(r["doc_id"])
            continue
        if route == "dropped":
            continue
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in r["spans"]]
        _, err, text, out, _ = _clean_doc(r["url"], r["http_ct"], "", "",
                                          spans, {}, opts)
        assert err == 0
        for lang, chunk in detector.detect(text).items():
            main.append((r["doc_id"], gen.row_digest(lang, chunk, out)))
    return main, robots, pdf


def test_extraction_check_catches_one_corrupted_row():
    rows, expected = gen.gen_smalldoc(random.Random(3), n=400)
    main, robots, pdf = _kernel_output(rows, expected)
    assert check.check_extraction(expected, main, robots, pdf)[0] == 0
    doc_id, rd = main[17]
    bad = main[:17] + [(doc_id, rd[::-1])] + main[18:]
    assert check.check_extraction(expected, bad, robots, pdf) == (1, [doc_id])
    # a side-routed record that leaks into the main output is caught too
    leak = main + [(robots[0], rd)]
    assert check.check_extraction(expected, leak, robots, pdf)[0] == 1


def _write_compat(out: Path, rows):
    by_lang = {}
    for url, lang, text in rows:
        by_lang.setdefault(lang, []).append((url, text))
    for lang, items in by_lang.items():
        (out / lang).mkdir(parents=True)
        with gzip.open(out / lang / "url.gz", "wt") as f:
            f.write("".join(u + "\n" for u, _ in items))
        with gzip.open(out / lang / "text.gz", "wt") as f:
            f.write("".join(base64.b64encode(t.encode()).decode() + "\n"
                            for _, t in items))


def test_compat_check_catches_one_corrupted_line(tmp_path):
    from warc2text_spark.functions.langid import get_detector
    from warc2text_spark.operators.extract import ExtractOptions, _clean_doc
    from warc2text_spark.sources.warcio import parse_warc_file
    expected, _ = gen.gen_warc(random.Random(5), tmp_path / "in",
                               n_files=3, n=120)
    detector = get_detector("heuristic")
    opts = ExtractOptions(classifier="heuristic", media_text_mode="extract")
    rows = []
    for f in sorted((tmp_path / "in").iterdir()):
        for r in parse_warc_file(f.read_bytes(), f.name):
            if r["warc_type"] != "response":
                continue
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in r["spans"]]
            _, err, text, _, _ = _clean_doc(
                r["url"], r["http_ct"], r["content_enc"], r["transfer_enc"],
                spans, {}, opts)
            assert err == 0
            rows.extend((r["url"], lang, chunk)
                        for lang, chunk in detector.detect(text).items())
    _write_compat(tmp_path / "good", rows)
    good = check.read_compat_output(tmp_path / "good")
    assert check.check_compat(expected, good)[0] == 0
    url, lang, text = rows[5]
    rows[5] = (url, lang, text + "x")
    _write_compat(tmp_path / "bad", rows)
    bad = check.read_compat_output(tmp_path / "bad")
    assert check.check_compat(expected, bad) == (1, [url])


def test_dedup_check_catches_a_missing_pair_and_a_wrong_label():
    rows, expected = gen.gen_dedup(random.Random(6), n=400)
    docs = [r["doc_id"] for r in rows]
    mh = [tuple(p) for p in expected["clone_pairs"]]
    hot = expected["hot"]
    mh += [(hot[0], h) for h in hot[1:]]
    clusters = sorted(check.components(mh).items())
    sh = [(a, b, 0) for a, b in expected["clone_pairs"]]
    assert check.check_dedup(expected, docs, mh, clusters, sh)[0] == 0
    assert check.check_dedup(expected, docs, mh, clusters, sh[1:])[0] == 2
    d, label = clusters[0]
    relabeled = [(d, "zzz")] + clusters[1:]
    assert check.check_dedup(expected, docs, mh, relabeled, sh)[0] >= 1


def test_metric_names_match_benchmark_json():
    import json

    import layers
    import run
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        list(layers.LAYER_METRICS)
    e2e = run.end_to_end({"records": 10, "samples_s": [1.0], "setup_s": 2.0,
                          "peak_rss_mb": 3.0})
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        [(k, v["unit"]) for k, v in e2e.items()]
    # smalldoc_mixed runs on demand; the measured campaign leaves it out
    assert [w["name"] for w in spec["workloads"]] == \
        [w for w in gen.WORKLOADS if w != "smalldoc_mixed"]


def test_kill_session_stops_a_child_in_its_own_process_group():
    """PySpark's daemon leaves the worker's process group with
    setpgid(0, 0); stopping the worker must stop it too."""
    import subprocess
    import time

    import run
    run.become_subreaper()
    script = ("import os, time\n"
              "if os.fork() == 0:\n"
              "    os.setpgid(0, 0)\n"
              "    os.fork()\n"
              "    time.sleep(60)\n"
              "time.sleep(60)\n")
    proc = subprocess.Popen([sys.executable, "-c", script],
                            start_new_session=True)
    deadline = time.time() + 10
    while len(run._session_pids(proc.pid)) < 3 and time.time() < deadline:
        time.sleep(0.05)
    assert len(run._session_pids(proc.pid)) == 3
    run._kill_session(proc)
    assert run._session_pids(proc.pid) == []
