"""Round-7 optimization harness (guide §1): per-query noop-sink isolation,
per-sample host stamps, and .explain("formatted") capture.

This file is SEPARATE from the frozen bench.py (driver contract): it exists
to attribute time and capture plan shapes, not to produce the official
number.  Usage:

    python bench_extra.py [query ...]            # time the named queries
    python bench_extra.py --plans [query ...]    # dump plans to plans/current/
    python bench_extra.py --suffix after ...     # plans/current/<q>_after.txt

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / BENCH_EXTRA_REPEAT (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench  # frozen harness: reuse corpus/cache/host probes  # noqa: E402
from warc2text_spark.session import get_spark  # noqa: E402

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS
REPEAT = int(os.environ.get("BENCH_EXTRA_REPEAT", "3"))


def _pipeline_df(spark, spans, num_partitions=None):
    from warc2text_spark.plans.pipeline import (PipelineOptions,
                                                demux_by_lang, run_pipeline)
    res = run_pipeline(spans, PipelineOptions(
        classifier="heuristic", num_partitions=num_partitions))
    return demux_by_lang(res.main)


def build_queries(spark):
    """name -> zero-arg callable returning the DataFrame to force."""
    from warc2text_spark.plans import benchqueries as bq

    path = bench.ensure_corpus(spark)
    big_path = bench.ensure_bigdoc_corpus(spark)
    bench.warm_page_cache(path, big_path, SF_DIR)
    spans = spark.read.parquet(path)
    big = spark.read.parquet(big_path)

    return {
        "extract_e2e": lambda: _pipeline_df(spark, spans),
        "extract_salted": lambda: _pipeline_df(spark, spans, CPUS * 2),
        "extract_bigdoc": lambda: _pipeline_df(spark, big),
        "dedup_exact": lambda: bq.q_dedup_exact(spark, SF_DIR),
        "minhash_pairs": lambda: bq.q_minhash_pairs(spark, SF_DIR),
        "dedup_clusters": lambda: bq.q_dedup_clusters(spark, SF_DIR),
        "simhash_pairs": lambda: bq.q_simhash_pairs(spark, SF_DIR),
        "simhash": lambda: bq.q_simhash(spark, SF_DIR),
        "quality_score": lambda: bq.q_quality_score(spark, SF_DIR),
        "ann_cosine_topk": lambda: bq.q_ann_cosine_topk(spark, SF_DIR),
    }


def main() -> None:
    args = [a for a in sys.argv[1:]]
    dump_plans = "--plans" in args
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i:i + 2]
    names = [a for a in args if not a.startswith("--")]

    spark = get_spark("warc2text-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries(spark)
    if names:
        queries = {k: v for k, v in queries.items() if k in names}

    if dump_plans:
        root = Path(__file__).resolve().parent
        out_dir = root / "plans" / "current"
        out_dir.mkdir(parents=True, exist_ok=True)
        import contextlib
        import io
        for name, mk in queries.items():
            df = mk()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            # checkout-relative paths, so captures diff across clones
            plan = buf.getvalue().replace(str(root), "<repo>")
            (out_dir / f"{name}_{suffix}.txt").write_text(plan)
            print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
            from warc2text_spark.operators.dedup import release_intermediates
            release_intermediates(df)
        spark.stop()
        return

    from warc2text_spark.operators.dedup import release_intermediates

    # untimed warmup (python workers + JIT), mirrors bench.py
    for name, mk in queries.items():
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        df = mk()
        bench.force(df)
        release_intermediates(df)

    results: dict[str, dict] = {}
    for name, mk in queries.items():
        samples, stamps = [], []
        for _ in range(REPEAT):
            spark.sparkContext.setJobDescription(f"timed:{name}")
            bw0 = round(bench.host_state()["mem_copy_gbps"], 2)
            s0 = bench.read_steal_jiffies()
            # the timer covers construction too: connected_components
            # (dedup_clusters) runs its rounds as eager checkpoints there
            t0 = time.perf_counter()
            df = mk()
            bench.force(df)
            dt = time.perf_counter() - t0
            release_intermediates(df)
            s1 = bench.read_steal_jiffies()
            samples.append(round(dt, 3))
            stamps.append({"bw": bw0, "steal": s1 - s0})
        results[name] = {"min": min(samples), "samples": samples,
                         "stamps": stamps}
        print(json.dumps({name: results[name]}))
    print(json.dumps({"summary": {k: v["min"] for k, v in results.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
