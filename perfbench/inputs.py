"""Seeded input generation for the benchmark workloads, cached on disk.

The kg corpus is a pure function of (seed, size): the same pair gives
byte-identical files. Generation runs before the timed region and before
set-up; its wall time is reported in the run's detail line, never as a
metric. Files land under `.perfbench_cache/` in the working directory (the
checkout root), one directory per (kind, seed, size).

The curation inputs are not generated: `data/` holds the repository's
sf0.1 test tables `documents.parquet` (5,000 documents) and
`embeddings.parquet` (2,000 64-dim vectors), copied unchanged, and the
seed only picks the held-out eval residue, one of EVAL_RESIDUES.
"""

from __future__ import annotations

import json
import os
import random
import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so stale cache directories are not reused.
GEN_VERSION = 1
CACHE_DIR = ".perfbench_cache"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# Written as several files so the scan has at least one task per core on
# a 4-8 core box without touching the program's session settings.
N_FILES = 8

# Separators that replace the space between two sentences. Python's `\s`
# (the extraction rules' split) matches every one of them, so a sentence
# boundary stays a boundary; none of them is JVM-portable, so each row
# carrying one is routed through the mapInPandas branch ("\r\n" lands on
# its Arrow fast path, the rest on its Python `re` path).
UNICODE_SEPARATORS = ["\u00a0", "\r\n", "\u2028", "\u3000", "\x1c"]
# Appended sentences: no rule anchor occurs in any of them, so they add
# no triple; each carries non-ASCII text.
UNICODE_SENTENCES = [
    "Le café était déjà fermé.",
    "She said “fine” and left.",
    "Deployment finished \U0001F680.",
    "Größe und Übersicht geprüft.",
]
# Share of turns that get a non-portable mutation.
UNICODE_SHARE = 0.5
# The curation seed picks its held-out `doc_id % 97` residue from these.
# Few, so a checkout computes the DuckDB oracle (about 16 s on 4 cores)
# for at most this many residues; the rest of its runs read its cache.
EVAL_RESIDUES = 8


def _cache_path(kind: str, seed: int, size: int) -> str:
    return os.path.join(CACHE_DIR, f"{kind}-s{seed}-n{size}-v{GEN_VERSION}")


def _write_split(df: pd.DataFrame, out_dir: str) -> None:
    """Write `df` as N_FILES parquet files under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(df), N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def mutate_unicode(texts: pd.Series, seed: int,
                   share: float = UNICODE_SHARE) -> pd.Series:
    """Give a seeded `share` of turns non-portable characters in places
    that cannot change a triple: sentence separators become one of
    UNICODE_SEPARATORS, or a UNICODE_SENTENCES sentence is appended."""
    rnd = random.Random(seed * 7919 + 1)
    sep_re = re.compile(r"(?<=\.) ")
    out = texts.tolist()
    for i, text in enumerate(out):
        if text is None or rnd.random() >= share:
            continue
        has_sep = sep_re.search(text) is not None
        if has_sep and rnd.random() < 0.5:
            text = sep_re.sub(rnd.choice(UNICODE_SEPARATORS), text)
        else:
            text = (text + rnd.choice([" "] + UNICODE_SEPARATORS)
                    + rnd.choice(UNICODE_SENTENCES))
        out[i] = text
    return pd.Series(out, index=texts.index, dtype=object)


def _non_portable_share(texts: pd.Series) -> float:
    """Share of turns with a character outside printable ASCII + \\t\\n\\f
    — the rows the extractor routes through its Python branch."""
    dirty = texts.fillna("").str.contains(r"[^\x20-\x7e\t\n\x0c]", regex=True)
    return float(dirty.mean()) if len(texts) else 0.0


def kg_corpus(seed: int, n_convs: int) -> dict:
    """Transcripts (synth.generate_corpus, then mutate_unicode) + golden
    triples for the kg workload. Returns a dict with the transcripts
    directory, the golden parquet path, the turn count, the non-portable
    share and the generation wall time."""
    path = _cache_path("kg_unicode", seed, n_convs)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cached"] = True
        return meta
    from kgsum_spark.synth import generate_corpus

    t0 = time.perf_counter()
    corpus = generate_corpus(n_convs, seed=seed)
    t = corpus.transcripts.copy()
    t["text"] = mutate_unicode(t["text"], seed)
    t["ts"] = t["ts"].astype("datetime64[us]")
    share = _non_portable_share(t["text"])
    tmp = path + ".tmp"
    _write_split(t, os.path.join(tmp, "transcripts"))
    golden = corpus.golden[["subj", "pred", "obj"]].drop_duplicates()
    pq.write_table(pa.Table.from_pandas(golden, preserve_index=False),
                   os.path.join(tmp, "golden.parquet"))
    meta = {
        "transcripts": os.path.join(path, "transcripts"),
        "golden": os.path.join(path, "golden.parquet"),
        "n_turns": int(len(t)),
        "n_golden": int(len(golden)),
        "non_portable_share": round(share, 6),
        "gen_s": round(time.perf_counter() - t0, 3),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    meta["cached"] = False
    return meta


def curation_inputs(seed: int) -> dict:
    """The documents and embeddings under DATA_DIR, and the held-out
    residue the seed picks: documents with doc_id % 97 == residue form the
    decontamination eval set, the rest are the training corpus."""
    t0 = time.perf_counter()
    docs = os.path.join(DATA_DIR, "documents.parquet")
    emb = os.path.join(DATA_DIR, "embeddings.parquet")
    texts = pq.read_table(docs, columns=["text"]).column("text").to_pandas()
    return {
        "documents": docs,
        "embeddings": emb,
        "n_docs": len(texts),
        "n_vectors": pq.ParquetFile(emb).metadata.num_rows,
        "residue": random.Random(seed).randrange(EVAL_RESIDUES),
        "non_portable_share": round(_non_portable_share(texts), 6),
        "gen_s": round(time.perf_counter() - t0, 3),
        "cached": True,
    }
