"""The benchmark's workloads. Each `run_pass` is one closed-loop pass:
every call is issued after the previous one returns, its output is forced
by an action, and its result is checked after its timer stops. Each
`decompose` (traced runs only) calls one layer's public functions at a
time on a materialized input and forces their output, so a span holds
that layer's work alone."""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median
from collections.abc import Callable

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs

# kg corpus size: a tenth of the 100k conversations the program's own
# suite builds, so a whole run, cold pass included, stays inside the
# per-run time budget (see README.md, "What the time budget left out").
KG_CONVS = 10_000

PROFILE_FNS = [
    "vocabularies", "class_histogram", "property_histogram", "labels", "tlds",
    "endpoints", "creators", "licenses", "titles", "descriptions",
    "void_subjects", "connections",
]
# build_profile column holding each per-feature function's result
# (titles feeds the scalar `title` column).
PROFILE_COLS = {
    "vocabularies": "voc", "class_histogram": "curi",
    "property_histogram": "puri", "labels": "lab", "tlds": "tlds",
    "endpoints": "sparql", "creators": "creator", "licenses": "license",
    "titles": "title", "descriptions": "dsc", "void_subjects": "sbj",
    "connections": "con",
}

# The five-stage arguments of __spark_entry__.curation_full_docs.
QUALITY_BOUNDS = dict(min_tokens=30, max_tokens=90, max_punct_ratio=0.05,
                      max_digit_ratio=0.05, max_dup_token_frac=0.55)
MIXTURE = ("lang", {"en": 0.8, "de": 0.5, "fr": 0.25}, 0.1)


class Ops:
    """Operations attempted and failed (raised, or failed the output
    check), with a message per failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _timed(tr, name: str, fn: Callable):
    """Run `fn` inside a span; return (result, wall seconds)."""
    t0 = time.perf_counter()
    with tr.span(name):
        out = fn()
    return out, time.perf_counter() - t0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _read_triples(path: str) -> pd.DataFrame:
    """The pred-partitioned triples table, read with pyarrow (no Spark job)
    and sorted, so two reads compare as multisets."""
    df = pq.read_table(path).to_pandas()
    df["pred"] = df["pred"].astype(str)
    cols = ["subj", "pred", "obj", "obj_is_iri", "conv_id", "turn_idx", "part_id"]
    return df[cols].sort_values(cols, ignore_index=True)


class KgWorkload:
    """kg_build_unicode: a cold run_pipeline over transcripts of which about
    half carry non-portable text, a crash-resume (triples stage data and
    marker deleted), then the profile battery over the table just written."""

    # Untimed passes before the timed region, then the fewest timed passes.
    # The warm-up pass compiles every plan and starts the Python workers.
    # A second timed pass barely narrowed the run-to-run spread (adjacent
    # passes share the machine's load) and costs run time the per-run
    # budget does not have, so one is timed.
    warmup_passes = 1
    timed_passes = 1

    def __init__(self, seed: int, n_convs: int):
        self.seed = seed
        self.n_convs = n_convs
        self.ref: dict = {}

    def prepare_inputs(self) -> dict:
        self.meta = inputs.kg_corpus(self.seed, self.n_convs)
        g = pd.read_parquet(self.meta["golden"])
        self.golden = set(zip(g["subj"], g["pred"], g["obj"]))
        return {"n_turns": self.meta["n_turns"],
                "n_golden_triples": len(self.golden)}

    def start(self, spark, work_root: str) -> None:
        self.spark = spark
        self.tdf = spark.read.parquet(self.meta["transcripts"])
        self.work = os.path.join(work_root, "pipeline")

    def run_pass(self, tr, ops: Ops) -> dict:
        from kgsum_spark.pipeline import run_pipeline

        calls: dict[str, float] = {}
        shutil.rmtree(self.work, ignore_errors=True)
        table = os.path.join(self.work, "triples")

        def build(resume: bool):
            res = run_pipeline(self.spark, self.tdf, self.work, resume=resume)
            res.triples.count()
            return res

        cold, calls["build"] = _timed(tr, "pipeline.cold_build",
                                      lambda: build(False))
        cold_rows = _read_triples(table)
        ops.check(set(zip(cold_rows["subj"], cold_rows["pred"], cold_rows["obj"]))
                  == self.golden, "cold build: P/R != 1 against the golden set")

        shutil.rmtree(table)
        os.remove(os.path.join(self.work, "_MARKER_triples.json"))
        res, calls["resume"] = _timed(tr, "pipeline.resume", lambda: build(True))
        ops.check(res.metrics["resumed"] == ["raw_triples", "entities"]
                  and _read_triples(table).equals(cold_rows),
                  "crash-resume: triples differ from the cold build")
        out = {"calls": calls, "resume_s": calls["resume"],
               "pipeline": cold.metrics,
               "turns_per_s": self.meta["n_turns"] / calls["build"]}
        out.update(self._profile_battery(tr, ops, res.triples, calls))
        return out

    def _profile_battery(self, tr, ops: Ops, t: DataFrame, calls: dict) -> dict:
        from kgsum_spark import profile

        lat_ms, feats = {}, {}
        for fn in PROFILE_FNS:
            rows, wall = _timed(tr, f"profile.{fn}",
                                lambda: getattr(profile, fn)(t).collect())
            calls[fn] = wall
            lat_ms[fn] = wall * 1000.0
            feats[fn] = sorted(r[0] for r in rows)
        rec, calls["build_profile"] = _timed(
            tr, "profile.build_profile",
            lambda: profile.build_profile(t).collect())

        row = rec[0] if len(rec) == 1 else None
        fused_ok = row is not None
        for fn in PROFILE_FNS:
            fused_ok = fused_ok and (
                row["title"] == (feats[fn][0] if feats[fn] else "")
                if fn == "titles" else list(row[PROFILE_COLS[fn]]) == feats[fn])
        ops.check(fused_ok, "build_profile differs from the per-feature results")
        # every call's output must be identical on every pass
        ref_feats, ref_row = self.ref.setdefault("profile", (feats, row))
        for fn in PROFILE_FNS:
            ops.check(feats[fn] == ref_feats[fn], f"profile.{fn} changed")
        ops.check(row == ref_row, "build_profile changed")
        return {"profile_ms": lat_ms,
                "profile_record_s": calls["build_profile"]}

    def decompose(self, tr, ops: Ops) -> dict:
        """Layer-at-a-time calls over the traced pass's checkpoints."""
        from kgsum_spark.assembly import assemble_turns
        from kgsum_spark.canonicalize import canonical_map
        from kgsum_spark.extraction import extract_raw_triples, mentions_from_raw
        from kgsum_spark.linking import all_edges, distinct_norms

        raw = self.spark.read.parquet(os.path.join(self.work, "raw_triples"))
        turns = assemble_turns(self.tdf).drop("rn")
        _, extract_s = _timed(
            tr, "extraction.extract_raw_triples",
            lambda: extract_raw_triples(turns).write.format("noop")
            .mode("overwrite").save())
        mentions, _ = _timed(tr, "extraction.mentions_from_raw",
                             lambda: mentions_from_raw(raw).localCheckpoint())
        norms, _ = _timed(tr, "linking.distinct_norms",
                          lambda: distinct_norms(mentions).localCheckpoint())
        edges, _ = _timed(tr, "linking.all_edges",
                          lambda: all_edges(mentions, raw, norms=norms)
                          .localCheckpoint())
        cmap, _ = _timed(tr, "canonicalize.canonical_map",
                         lambda: canonical_map(norms.select("norm"), edges)
                         .localCheckpoint())

        got = {tuple(r) for r in cmap.select("norm", "canonical_id").collect()}
        ent = pq.read_table(os.path.join(self.work, "entities")).to_pandas()
        ops.check(got == set(zip(ent["norm"], ent["canonical_id"])),
                  "canonical_map differs from the entities stage")

        blocks = norms.groupBy("block_key").count().collect()
        cand_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in blocks)
        n_edges = edges.count()
        with open(os.path.join(self.work, "_MARKER_raw_triples.json")) as f:
            n_raw = json.load(f)["rows"]
        return {
            "extraction": {"spans": ["extraction.extract_raw_triples",
                                     "extraction.mentions_from_raw"],
                           "turns_per_s": self.meta["n_turns"] / extract_s,
                           "triples": n_raw},
            "linking": {"spans": ["linking.distinct_norms", "linking.all_edges"],
                        "norms": norms.count(), "edges": n_edges,
                        "pair_yield": n_edges / cand_pairs if cand_pairs else 0.0},
            "canonicalize": {"spans": ["canonicalize.canonical_map"],
                             "components": len(set(c for _, c in got))},
            "bytes_written_per_input_byte":
                _du(self.work) / _du(self.meta["transcripts"]),
        }

    def named_metrics(self, timed: list[dict]) -> dict:
        lat = [v for p in timed for v in p["profile_ms"].values()]
        return {
            "build_turns_per_s": [median([p["turns_per_s"] for p in timed]),
                                  "turns/s"],
            "resume_s": [median([p["resume_s"] for p in timed]), "s"],
            "profile_query_p50_ms": [percentile(lat, 50), "ms"],
            "profile_query_p90_ms": [percentile(lat, 90), "ms"],
            "profile_query_samples": [len(lat), "count"],
            "profile_record_s": [median([p["profile_record_s"] for p in timed]),
                                 "s"],
        }

    def layer_values(self, span: Callable, traced: dict, facts: dict) -> dict:
        """Per-layer values from the traced pass (`traced`), the
        decomposition's counts (`facts`) and span totals (`span(name, key)`)."""
        ext, lk, cz = facts["extraction"], facts["linking"], facts["canonicalize"]
        st = traced["pipeline"]["stages"]
        vals = {
            "extraction.busy_s": span(ext["spans"], "self_s"),
            "extraction.turns_per_s": ext["turns_per_s"],
            "extraction.triples": ext["triples"],
            "extraction.jobs": span(ext["spans"], "jobs"),
            "linking.busy_s": span(lk["spans"], "self_s"),
            "linking.norms": lk["norms"], "linking.edges": lk["edges"],
            "linking.pair_yield": lk["pair_yield"],
            "canonicalize.busy_s": span(cz["spans"], "self_s"),
            "canonicalize.components": cz["components"],
            "canonicalize.jobs": span(cz["spans"], "jobs"),
            "pipeline.raw_triples_s": st["raw_triples"]["stage_wall_sec"],
            "pipeline.entities_s": st["entities"]["stage_wall_sec"],
            "pipeline.triples_s": st["triples"]["stage_wall_sec"],
            "pipeline.checkpoint_write_s": sum(v["wall_sec"] for v in st.values()),
            "pipeline.jobs_per_build": span(["pipeline.cold_build"], "jobs"),
            "pipeline.resume_jobs": span(["pipeline.resume"], "jobs"),
            "pipeline.bytes_written_per_input_byte":
                facts["bytes_written_per_input_byte"],
            "profile.build_profile_ms": span(["profile.build_profile"]) * 1000.0,
            "profile.jobs_per_query": span(
                [f"profile.{fn}" for fn in PROFILE_FNS], "jobs") / len(PROFILE_FNS),
        }
        for fn in PROFILE_FNS:
            vals[f"profile.{fn}_ms"] = span([f"profile.{fn}"]) * 1000.0
        return vals


def _duckdb_oracle(name: str, table: str, parquet: str, key: str,
                   edits: dict[str, str]) -> list:
    """Rows of the repository's DuckDB oracle SQL `name` over `parquet`
    (viewed as `table`), with each `edits` key replaced by its value;
    cached under the input cache as `oracle-<key>.json`."""
    path = os.path.join(inputs.CACHE_DIR, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()[name]
    for old, new in edits.items():
        if old not in sql:
            raise RuntimeError(f"oracle SQL shape changed: {old!r} missing")
        sql = sql.replace(old, new)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{parquet}')")
        out = [list(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    os.makedirs(inputs.CACHE_DIR, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


class CurationWorkload:
    """curation: dd.curate_corpus with curation_full_docs' five stages,
    checked against the DuckDB oracle from __spark_entry__. Traced runs
    also time dd.neardup_dedup(method="minhash") and
    sim.embedding_neardup_dedup, once each (see `decompose`)."""

    # The pass after the cold one still ran about 20% more CPU than the
    # next (JIT still compiling), so two passes warm up and one is timed.
    warmup_passes = 2
    timed_passes = 1

    def __init__(self, seed: int):
        self.seed = seed

    def prepare_inputs(self) -> dict:
        self.meta = inputs.curation_inputs(self.seed)
        self.residue = self.meta["residue"]
        t0 = time.perf_counter()
        self.oracle = _duckdb_oracle(
            "curation_full_docs", "documents", self.meta["documents"],
            f"curation-r{self.residue}",
            {"doc_id % 97 <> 0": f"doc_id % 97 <> {self.residue}",
             "doc_id % 97 = 0": f"doc_id % 97 = {self.residue}"})
        self.emb_oracle = _duckdb_oracle(
            "embedding_neardup_survivors", "embeddings",
            self.meta["embeddings"], "embeddings", {})
        return {"n_docs": self.meta["n_docs"],
                "n_vectors": self.meta["n_vectors"],
                "eval_residue": self.residue,
                "oracle_s": time.perf_counter() - t0,
                "expected_survivors": len(self.oracle)}

    def start(self, spark, work_root: str) -> None:
        self.spark = spark
        docs = spark.read.parquet(self.meta["documents"])
        self.train = docs.filter(F.col("doc_id") % 97 != self.residue)
        self.bench = docs.filter(F.col("doc_id") % 97 == self.residue)

    def run_pass(self, tr, ops: Ops) -> dict:
        from kgsum_spark.datapipe import dedup as dd
        from kgsum_spark.datapipe._util import unpersist_tracked

        rows, wall = _timed(tr, "datapipe.curate_corpus", lambda: dd.curate_corpus(
            self.train, self.bench, "doc_id", "text", n=3, threshold=0.5,
            method="ngram", max_shingle_df=None, contamination_n=4,
            quality_bounds=QUALITY_BOUNDS, mixture=MIXTURE,
        ).select(F.col("doc_id").cast("bigint"), "lang").collect())
        unpersist_tracked()
        ops.check(sorted(list(r) for r in rows) == self.oracle,
                  "curate_corpus: survivors differ from the DuckDB oracle")
        return {"calls": {"curate_corpus": wall}}

    def decompose(self, tr, ops: Ops) -> dict:
        """curate_corpus one stage at a time, each on the previous stage's
        checkpointed output; connected components on the stage-2 pairs;
        then the MinHash and the embedding near-dup removals, once each."""
        from kgsum_spark.canonicalize import connected_components
        from kgsum_spark.datapipe import dedup as dd
        from kgsum_spark.datapipe._util import unpersist_tracked
        from kgsum_spark.datapipe.textstats import quality_filter
        from kgsum_spark.operators.agg import mixture_sample

        train = self.train.localCheckpoint()
        bench = self.bench.localCheckpoint()
        q, _ = _timed(tr, "textstats.quality_filter", lambda: quality_filter(
            train, "text", **QUALITY_BOUNDS).localCheckpoint())
        ex, _ = _timed(tr, "dedup.exact", lambda: dd.dedup_exact(
            q, "doc_id", "text").localCheckpoint())
        pairs, _ = _timed(tr, "dedup.ngram_pairs", lambda: dd.ngram_jaccard_pairs(
            ex, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=None)
            .select("a", "b").localCheckpoint())
        nd, _ = _timed(tr, "dedup.survivors", lambda: dd.survivors_from_pairs(
            ex, "doc_id", pairs).localCheckpoint())
        edges = pairs.select(F.col("a").cast("string").alias("a"),
                             F.col("b").cast("string").alias("b"))
        nodes = edges.select(F.col("a").alias("norm")).unionByName(
            edges.select(F.col("b").alias("norm"))).distinct().localCheckpoint()
        cc, _ = _timed(tr, "canonicalize.connected_components",
                       lambda: connected_components(nodes, edges).localCheckpoint())
        dc, _ = _timed(tr, "dedup.decontaminate", lambda: dd.decontaminate_drop(
            nd, bench, "doc_id", "text", n=4).localCheckpoint())
        mx, _ = _timed(tr, "agg.mixture_sample", lambda: mixture_sample(
            dc, MIXTURE[0], MIXTURE[1], id_col="doc_id",
            default_rate=MIXTURE[2]).localCheckpoint())
        got = sorted(list(r) for r in mx.select(
            F.col("doc_id").cast("bigint"), "lang").collect())
        ops.check(got == self.oracle,
                  "stage-by-stage curation differs from the DuckDB oracle")
        facts = {"ngram_pairs": pairs.count(),
                 "components": cc.select("label").distinct().count()}
        unpersist_tracked()
        facts.update(self._minhash(tr, ops, ex, pairs, nd))
        facts.update(self._similarity(tr, ops))
        return facts

    def _minhash(self, tr, ops: Ops, docs: DataFrame, exact: DataFrame,
                 expected: DataFrame) -> dict:
        """MinHash near-dup removal on the near-dup stage's input `docs`,
        checked against that stage's survivors `expected` (from the exact
        n-gram pairs `exact`, the oracled configuration). Its verified
        pairs are its LSH candidates that are exact pairs, so the
        candidates are counted against `exact`."""
        from kgsum_spark.datapipe import dedup as dd
        from kgsum_spark.datapipe._util import unpersist_tracked

        def ids(df: DataFrame) -> list:
            return sorted(r[0] for r in df.select("doc_id").collect())

        got, _ = _timed(tr, "dedup.minhash_neardup", lambda: ids(
            dd.neardup_dedup(docs, "doc_id", "text", n=3, threshold=0.5,
                             method="minhash")))
        unpersist_tracked()
        ops.check(got == ids(expected),
                  "minhash near-dup survivors differ from the exact n-gram path")
        # the candidates minhash_neardup_verified verifies (its defaults)
        sigs = dd.minhash_signatures(docs, "doc_id", "text", n=3, num_perm=64)
        cand = dd.minhash_lsh_candidates(sigs, bands=32, rows_per_band=2,
                                         num_perm=64).select("a", "b") \
            .localCheckpoint()
        n_cand = cand.count()
        verified = cand.join(exact, ["a", "b"]).count()
        return {"minhash_candidates": n_cand,
                "minhash_precision": verified / n_cand if n_cand else 0.0}

    def _similarity(self, tr, ops: Ops) -> dict:
        """Embedding near-dup removal at the oracled configuration
        (cosine 0.48, 4 planes x 48 tables), checked against the DuckDB
        oracle. Its verified pairs are its LSH candidates whose cosine
        reaches the threshold, so the candidates are counted against the
        brute-force pairs."""
        import numpy as np

        from kgsum_spark.datapipe import similarity as sim
        from kgsum_spark.datapipe._util import unpersist_tracked

        emb = self.spark.read.parquet(self.meta["embeddings"]).localCheckpoint()
        dim = len(emb.select("embedding").first()["embedding"])
        got, _ = _timed(tr, "similarity.embedding_neardup", lambda: sorted(
            r[0] for r in sim.embedding_neardup_dedup(
                emb, dim=dim, threshold=0.48, n_planes=4, n_tables=48)
            .select("vec_id").collect()))
        unpersist_tracked()
        ops.check([[v] for v in got] == self.emb_oracle,
                  "embedding near-dup survivors differ from the DuckDB oracle")
        cand = sim.multi_lsh_candidates(emb, dim, 4, 48).localCheckpoint()
        n_cand = cand.count()
        unpersist_tracked()
        vecs = pq.read_table(self.meta["embeddings"]).to_pandas()
        ids = vecs["vec_id"].to_numpy()
        v = np.array(vecs["embedding"].tolist(), dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ia, ib = np.nonzero(np.triu(v @ v.T >= 0.48, k=1))
        a, b = ids[ia], ids[ib]
        true_pairs = self.spark.createDataFrame(pd.DataFrame(
            {"a": np.minimum(a, b), "b": np.maximum(a, b)}))
        verified = cand.join(F.broadcast(true_pairs), ["a", "b"]).count()
        return {"ann_candidates": n_cand,
                "ann_precision": verified / n_cand if n_cand else 0.0}

    def named_metrics(self, timed: list[dict]) -> dict:
        return {"curation_pass_s": [median([sum(p["calls"].values())
                                            for p in timed]), "s"]}

    def layer_values(self, span: Callable, traced: dict, facts: dict) -> dict:
        cc = ["canonicalize.connected_components"]
        return {
            "canonicalize.busy_s": span(cc, "self_s"),
            "canonicalize.components": facts["components"],
            "canonicalize.jobs": span(cc, "jobs"),
            "textstats.quality_filter_s": span(["textstats.quality_filter"]),
            "dedup.exact_s": span(["dedup.exact"]),
            "dedup.ngram_pairs_s": span(["dedup.ngram_pairs"]),
            "dedup.ngram_pairs": facts["ngram_pairs"],
            "dedup.survivors_s": span(["dedup.survivors"]),
            "dedup.decontaminate_s": span(["dedup.decontaminate"]),
            "agg.mixture_sample_s": span(["agg.mixture_sample"]),
            "dedup.minhash_s": span(["dedup.minhash_neardup"]),
            "dedup.lsh_candidates": facts["minhash_candidates"],
            "dedup.lsh_precision": facts["minhash_precision"],
            "similarity.embedding_neardup_s":
                span(["similarity.embedding_neardup"]),
            "similarity.lsh_candidates": facts["ann_candidates"],
            "similarity.lsh_precision": facts["ann_precision"],
        }


WORKLOADS = {
    "kg_build_unicode": lambda seed: KgWorkload(seed, KG_CONVS),
    "curation": CurationWorkload,
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]
