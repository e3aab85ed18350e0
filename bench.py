#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "turns_per_sec": ..., "cpus": ...}

The headline metric (BASELINE.json) is turns/sec triple-extraction
throughput, measured over a deterministic ~500k-turn synthetic transcript
corpus (cached parquet under .cache/). Operator queries run at the sf dir.
Scaling evidence (local[8] vs local[32]) is produced by
tools/scaling_bench.py, which shells out to this script at both levels.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from kgsum_spark.assembly import assemble_turns  # noqa: E402
from kgsum_spark.extraction import extract_raw_triples  # noqa: E402
from kgsum_spark.pipeline import run_pipeline  # noqa: E402
from kgsum_spark.session import build_session  # noqa: E402
from kgsum_spark.synth import write_corpus  # noqa: E402

BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "380000"))  # ≈2M turns
# "full" (default) = extraction + pipeline + operator suite;
# "scaling" = extraction + pipeline only (tools/scaling_bench.py runs many
# level pairs back-to-back and doesn't need the operator suite per level).
BENCH_MODE = os.environ.get("SPARK_GRAFT_BENCH_MODE", "full")

# operator headliners from the driver contract, timed via count()
OPERATOR_QUERIES = [
    "q2_class_histogram",
    "tpch_q1_cents",
    "window_turn_assembly",
    "sessionize",
    "j1_outer_merge",
    "dedup_ngram_pairs",
    "dedup_ngram_prefix",
    "minhash_neardup_docs",
    "simhash_neardup_docs",
    "ann_cosine_topk",
    "ann_lsh_pairs_embeddings",
    "ann_ivf_pruned",
    "decontaminate_ngram",
    "dedup_neardup_survivors",
    "embedding_neardup_survivors",
    "curation_full_docs",
    "kg_flagship_histogram",
    "kg_pipeline_triples",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".cache", f"bench_corpus_{BENCH_CONVS}")
    tpath, _ = write_corpus(cache, BENCH_CONVS, seed=42)

    spark = build_session(
        "kgsum_bench", cores=cpus, shuffle_partitions=cpus,
        # split the (row-grouped) corpus file across cores at scan time
        extra_conf={"spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
                    "spark.sql.files.openCostInBytes": "131072"},
    )
    timings: dict[str, float] = {}

    # headline: triple-extraction throughput (window assembly + extraction).
    # One untimed warm-up pass spawns the python workers, JITs the scan and
    # fills the page cache — the timed run measures steady-state throughput
    # (what a long-running cluster job sees), not process startup.
    # The timed corpus is the cached corpus replicated in-plan into distinct
    # conversations (REPLICATE× more conv_ids): at ~16M turns the per-job
    # fixed costs (~2 s of scheduling/scan setup) stop masking the scaling.
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "8"))
    base = spark.read.parquet(tpath)
    big = (
        base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        .withColumn("conv_id", F.concat("conv_id", F.lit("#"), F.col("rep").cast("string")))
        .drop("rep")
    )
    extract_raw_triples(assemble_turns(base).drop("rn")).count()  # warm-up
    n_turns = base.count() * replicate
    runs = []
    for _ in range(3):
        t0 = time.time()
        n_triples = extract_raw_triples(assemble_turns(big).drop("rn")).count()
        runs.append(time.time() - t0)
    extract_sec = sorted(runs)[1]  # median of 3 — single runs are too noisy
    transcripts = base
    timings["extract"] = round(extract_sec, 3)
    extract_runs = [round(r, 3) for r in runs]
    turns_per_sec = n_turns / extract_sec

    # full pipeline (extraction → linking → CC → materialize), cold work
    # dir. A tiny warm-up run first compiles the stage plans (same codegen
    # rationale as the operator warm-up below).
    wd = f"/tmp/kgsum_bench_work_{cpus}"
    shutil.rmtree(wd + "_warm", ignore_errors=True)
    run_pipeline(spark, transcripts.limit(2000), wd + "_warm", resume=False)
    shutil.rmtree(wd, ignore_errors=True)
    t0 = time.time()
    res = run_pipeline(spark, transcripts, wd, resume=False)
    res.triples.count()
    timings["kg_full_pipeline"] = round(time.time() - t0, 3)

    if BENCH_MODE == "full":
        qs = entry_mod.queries()
        # Warm each operator plan at sf0.001 then sf0.01: the first pass
        # compiles the whole-stage codegen (the 64-aggregate MinHash plan
        # alone costs ~6-10s to compile), the second gives the JIT enough
        # iterations to reach steady state — so the timed sf run measures
        # execution, not compilation.
        # queries() wraps each callable to release the previous query's
        # tracked persisted intermediates (datapipe._util.unpersist_tracked),
        # so the passes don't accumulate MEMORY_AND_DISK blocks that compete
        # with execution memory.
        for warm_sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            for name in OPERATOR_QUERIES:
                qs[name](spark, warm_sf).count()
        # Median-of-3 per query: single shots on a shared box mislead —
        # BENCH_r03 showed 1.6-2.8x load inflation on the heavy queries vs
        # idle re-runs of the same code. Three timed passes over the whole
        # suite (round-robin, so transient load hits different queries each
        # pass), median per query.
        per_query: dict[str, list[float]] = {n: [] for n in OPERATOR_QUERIES}
        for _ in range(3):
            for name in OPERATOR_QUERIES:
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                per_query[name].append(time.time() - t0)
        for name in OPERATOR_QUERIES:
            timings[name] = round(sorted(per_query[name])[1], 3)
        from kgsum_spark.datapipe._util import unpersist_tracked
        unpersist_tracked()

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "turns/sec triple-extraction throughput + headline query suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_turns": n_turns,
        "n_triples": n_triples,
        "turns_per_sec": round(turns_per_sec, 1),
        "extract_runs": extract_runs,
    }))


if __name__ == "__main__":
    main()
