"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline — one scan, dot
  product via zip_with/aggregate (JVM higher-order functions, no Python);
- random-hyperplane LSH buckets: the scale path — sign-bit signatures
  against seeded hyperplanes, candidates only within matching buckets
  (multi-probe = several independent tables);
- knn_join: top-k neighbors for a (small, broadcast) query set.

All math in double with left-to-right accumulation so results are exactly
reproducible (and DuckDB-oracle comparable after rounding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgsum_spark.datapipe._util import persist_tracked, spread


def _to_double(c) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine against one query vector. ORDER is made
    deterministic with id tiebreak; physical plan is TakeOrderedAndProject
    (no global sort materialization)."""
    q = F.lit(query).cast("array<double>")
    v = _to_double(F.col(vec_col))
    return (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"), cosine(v, q).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(k)
    )


def hyperplane_signatures(
    df: DataFrame, dim: int, n_planes: int = 16, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, bucket) — sign-bit signature against seeded random
    hyperplanes, packed into one long bucket id."""
    import numpy as np

    planes = np.random.RandomState(seed).normal(size=(n_planes, dim))
    df = spread(df, id_col)
    v = _to_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(v, F.lit([float(x) for x in p]).cast("array<double>"))
        bucket = bucket + F.when(
            d >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), bucket.alias("bucket")
    )


def ann_lsh_pairs(
    df: DataFrame, dim: int, n_planes: int = 12, seed: int = 42,
    threshold: float = 0.8, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs near neighbors (a, b, sim ≥ threshold), candidates limited
    to same-LSH-bucket pairs. Recall grows with more (seed-varied) tables
    unioned upstream; one table here — the building block."""
    sigs = hyperplane_signatures(df, dim, n_planes, seed, id_col, vec_col)
    a = sigs.select(F.col("id").alias("a"), F.col("vec").alias("va"), "bucket")
    b = sigs.select(F.col("id").alias("b"), F.col("vec").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("sim", cosine(_to_double(F.col("va")), _to_double(F.col("vb"))))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def knn_join(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "vec_id", qvec_col: str = "embedding",
) -> DataFrame:
    """Top-k corpus neighbors per query row. The query side is broadcast
    (it's the small side by contract); ranking via per-query window."""
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    scored = c.join(F.broadcast(q)).withColumn(
        "sim", cosine(_to_double(F.col("vec")), _to_double(F.col("qvec")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("id").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("qid", "id", "sim", F.col("_r").alias("rank"))
    )


def derive_lsh_params(
    n: int, k0: int = 4, n0: int = 2_000, l0: int = 48,
) -> tuple[int, int]:
    """Occupancy-preserving LSH sizing for an n-row corpus.

    k = k0 + ceil(log2(n / n0)) holds expected bucket occupancy (n / 2^k)
    constant as the corpus grows — with k fixed the bucket self-join
    degrades O(n² / 2^k). L doubles for every 4 extra planes
    (L = l0 · 2^((k-k0)/4)), the empirically-validated recall compensation.
    The (k0, n0, l0) calibration point is the sf0.1 embeddings table
    (2,000 vectors, 4×48); the 10× decorrelated-replica bench (BENCH/
    BASELINE.md "ANN LSH scale rule" table) measured the derived 8×96 at
    20k vectors returning 98-100% of the verified pairs at ~1/3 the wall
    of under-derived settings. Under-deriving k is the expensive failure
    mode on CLUSTERED embeddings (sign bits collide far above the uniform
    rate, so bucket joins blow up quadratically): 6 planes at 20k measured
    2.8× slower than 8. Beyond the rule, k trades recall for wall along a
    measured curve (BENCH table: k=12 → 81% pairs at 1/3 wall at
    threshold 0.48; tighter thresholds push p = 1-θ/π toward 1 and make
    higher k nearly free)."""
    import math

    k = k0 if n <= n0 else k0 + math.ceil(math.log2(n / n0))
    L = int(round(l0 * 2.0 ** ((k - k0) / 4.0)))
    return k, L


def multi_lsh_candidates(
    df: DataFrame, dim: int, n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42, id_col: str = "vec_id", vec_col: str = "embedding",
    dedup: bool = True,
) -> DataFrame:
    """Candidate pairs (a, b) from MULTI-TABLE hyperplane LSH: n_tables
    independent sign-bit signatures of n_planes each; a pair is a candidate
    if it shares a bucket in ANY table. P(candidate | cos θ) =
    1 - (1 - (1-θ/π)^k)^L — more tables → recall, more planes → precision.

    One mapInPandas pass computes every table's bucket (a single n×(k·L)
    BLAS matmul per Arrow batch) — the corpus is scanned once, not L times.
    The bucket self-join shuffles (table, bucket)-keyed rows; distinct
    dedups pairs found by several tables before any expensive verify.

    SCALE RULE IS THE DEFAULT — when n_planes/n_tables are left None they
    are derived from a cheap df.count() via derive_lsh_params (k grows with
    log2(n) to hold bucket occupancy, tables scale to hold recall); a table
    with k fixed degrades O(n²/2^k) as n grows. Explicit args override
    (oracle-paired queries pin 4×48 so their candidate set is stable).
    Measured at 10x corpus (BENCH/BASELINE.md r3): fixed 4×48 took 218s;
    occupancy-restoring 8×96 returned 98% of the verified pairs in 69s."""
    import numpy as np
    from collections.abc import Iterator
    import pandas as pd

    if n_planes is None or n_tables is None:
        dk, dl = derive_lsh_params(df.count())
        n_planes = n_planes if n_planes is not None else dk
        n_tables = n_tables if n_tables is not None else dl

    planes = np.random.RandomState(seed).normal(size=(dim, n_planes * n_tables))
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)
    n_t = n_tables

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            S = (V @ planes) >= 0                      # n × (k·L) sign bits
            B = S.reshape(len(pdf), n_t, -1) @ pow2    # n × L bucket ids
            out = pd.DataFrame({
                "id": pdf[id_col].to_numpy().repeat(n_t),
                "table": np.tile(np.arange(n_t, dtype=np.int32), len(pdf)),
                "bucket": B.reshape(-1),
            })
            yield out

    # spread (r6): a small/single-file corpus scans as 1-2 partitions;
    # without widening, the signature matmul AND everything downstream
    # that inherits this partitioning (the bucket self-join's stream
    # side, the verify) would run on 1-2 cores — the deferred-dedup
    # verify pipeline is map-side all the way, so THIS partitioning is
    # the query's parallelism.
    sigs = persist_tracked(
        spread(df.select(id_col, vec_col), id_col)
        .mapInPandas(gen, "id long, table int, bucket long")
    )  # self-join reads it twice
    a = sigs.select(F.col("id").alias("a"), "table", "bucket")
    b = sigs.select(F.col("id").alias("b"), "table", "bucket")
    out = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # dedup=False (r6): callers whose downstream is cheap per row and
    # ends in its own dedup (ann_pairs_verified) skip this exchange —
    # at the pinned oracle configuration it shuffles ~2M rows to save
    # ~1M cheap numpy cosines, a net loss (guide §2.4).
    return out.distinct() if dedup else out


# Ceiling (bytes of id→vector matrix) under which ann_pairs_verified
# collects the corpus vectors once and BROADCASTS them into the verify
# UDF instead of join-attaching a vector pair to every candidate row.
# 256 MB of float64 ≈ 500k×64-dim vectors — the same order as the
# broadcast-join relations this session already allows (session.py sets
# autoBroadcastJoinThreshold=64 MB for row frames; the matrix is denser).
# Above the ceiling the join-attach path is the only scalable shape.
VERIFY_BROADCAST_MAX_BYTES = 256 << 20


def _pairwise_cosine_batches(dim: int, a_col: str = "va", b_col: str = "vb"):
    """mapInPandas generator computing exact cosine for attached vector
    pairs — one numpy pass per Arrow batch (guide §4.2: hand whole
    batches to vectorized native code). BIT-IDENTICAL to the JVM HOF
    expression dot/( |a|·|b| ): elements are widened float→double before
    multiplying (exact), and the sums use np.cumsum along the row — a
    strictly sequential left-to-right accumulation, the same IEEE
    operation order as F.aggregate's fold — verified bit-equal on 44,850
    real pairs (r6). np.sum/np.dot would NOT be safe here (pairwise
    summation → different rounding). Rows whose vectors are null or not
    exactly `dim` long are dropped — under the old expression their sim
    was null and the ≥-threshold filter dropped them anyway (mapInPandas
    may change cardinality, so dropping here is equivalent and avoids
    emitting NaN, which Spark orders ABOVE every threshold)."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va, vb = pdf[a_col], pdf[b_col]
            valid = (va.notna() & vb.notna()
                     & (va.map(lambda v: v is not None and len(v) == dim))
                     & (vb.map(lambda v: v is not None and len(v) == dim)))
            if not valid.any():
                continue
            sub = pdf.loc[valid]
            A = np.asarray(sub[a_col].tolist(), dtype=np.float64)
            B = np.asarray(sub[b_col].tolist(), dtype=np.float64)
            dots = np.cumsum(A * B, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
            out = sub[["a", "b"]].copy()
            out["sim"] = dots / (na * nb)
            yield out

    return gen


def _indexed_cosine_batches(dim: int, idmap: dict, mat):
    """mapInPandas generator for the BROADCAST verify path: candidates
    arrive as bare (a, b) id pairs; vectors are looked up in the
    task-local float64 matrix `mat` (captured in the closure → shipped
    once per task with the serialized function, not once per pair).
    Math is IDENTICAL to _pairwise_cosine_batches — same float→double
    widening (the matrix is built float64 from the same column values),
    same strictly-sequential np.cumsum accumulation — so both paths are
    bit-equal (asserted by tests). Pairs whose id is missing from the
    map (null / wrong-dim vectors never enter it) are dropped, exactly
    as the join path's inner attach + validity filter drops them."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ia = pdf["a"].map(idmap)
            ib = pdf["b"].map(idmap)
            valid = ia.notna() & ib.notna()
            if not valid.any():
                continue
            sub = pdf.loc[valid]
            A = mat[ia[valid].to_numpy(dtype=np.int64)]
            B = mat[ib[valid].to_numpy(dtype=np.int64)]
            dots = np.cumsum(A * B, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
            out = sub[["a", "b"]].copy()
            out["sim"] = dots / (na * nb)
            yield out

    return gen


def ann_pairs_verified(
    df: DataFrame, dim: int, n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42, threshold: float = 0.48,
    id_col: str = "vec_id", vec_col: str = "embedding",
    broadcast_vectors: bool | str = "auto",
    broadcast_vectors_max_bytes: int = VERIFY_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Near-neighbor pairs (a, b, sim ≥ threshold) with EXACT cosine on
    LSH candidates — emitted values are hash-independent (the LSH stage
    only prunes), so a brute-force SQL oracle checks the result. Tests
    assert recall 1.0 vs brute force on testdata at sf0.001/0.01/0.1.
    n_planes/n_tables default to the corpus-size-derived scale rule
    (derive_lsh_params); pass explicit values to pin the candidate set.

    r6: the verify stage is a numpy mapInPandas batch pass instead of a
    per-pair zip_with/aggregate expression chain — HOFs evaluate
    interpreted per element, and at the pinned 4×48 configuration the
    candidate set is ~1.9M pairs at sf0.1, so three interpreted folds per
    pair dominated the query (guide §4.2). The numpy pass is bit-exact
    (see _pairwise_cosine_batches); only (a, b, va, vb) enter the UDF
    (explicit select → column pruning, guide §4.1). The pre-verify
    candidate distinct stays: deferring it past the verify was measured
    SLOWER (a pair colliding in ~3 of 48 tables triples the numpy work,
    which costs more than the one slim exchange it saves); the persist
    is gone — the candidate list has a single consumer now.

    broadcast_vectors (r6, guide §8 "move big rows once"): every verify
    decision needs only ids — the vectors are payload. The join-attach
    shape materializes TWO dim-float arrays onto every candidate row
    (at 4×48/sf0.1: ~1.9M pairs × 2×64 floats ≈ 2 GB through the Arrow
    boundary) although the underlying corpus holds only n×dim distinct
    floats. When the whole id→vector matrix fits a task comfortably
    ("auto": n·dim·8 bytes ≤ broadcast_vectors_max_bytes, decided from
    one count job), the matrix is collected once and shipped with the
    verify closure; candidates cross the boundary as bare (a, b) pairs
    and vectors are indexed task-side. Same candidates, bit-identical
    math (see _indexed_cosine_batches), measured 3.3 s → 1.8 s on the
    pinned sf0.1 query. Oversized corpora fall back to the join-attach
    shape, which remains the 100 TB path. The id column must be unique
    (it is the LSH identity — duplicate ids would already corrupt the
    candidate semantics)."""
    n_rows: int | None = None
    if n_planes is None or n_tables is None or broadcast_vectors == "auto":
        n_rows = df.count()
    if n_planes is None or n_tables is None:
        dk, dl = derive_lsh_params(n_rows)
        n_planes = n_planes if n_planes is not None else dk
        n_tables = n_tables if n_tables is not None else dl
    cand = multi_lsh_candidates(df, dim, n_planes, n_tables, seed, id_col,
                                vec_col)
    if broadcast_vectors == "auto":
        broadcast_vectors = n_rows * dim * 8 <= broadcast_vectors_max_bytes
    if broadcast_vectors:
        import numpy as np

        rows = df.select(id_col, vec_col).collect()
        keep = [r for r in rows
                if r[1] is not None and len(r[1]) == dim]
        idmap = {r[0]: i for i, r in enumerate(keep)}
        mat = np.asarray([list(r[1]) for r in keep], dtype=np.float64) \
            if keep else np.zeros((0, dim), dtype=np.float64)
        scored = cand.mapInPandas(
            _indexed_cosine_batches(dim, idmap, mat),
            schema=f"a {cand.schema['a'].dataType.simpleString()}, "
                   f"b {cand.schema['b'].dataType.simpleString()}, sim double",
        )
        return scored.filter(F.col("sim") >= threshold)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    attached = (
        cand.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
        .join(vecs.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
        .select("a", "b", "va", "vb")
    )
    scored = attached.mapInPandas(
        _pairwise_cosine_batches(dim),
        schema=f"a {attached.schema['a'].dataType.simpleString()}, "
               f"b {attached.schema['b'].dataType.simpleString()}, sim double",
    )
    return scored.filter(F.col("sim") >= threshold)


def embedding_neardup_dedup(
    df: DataFrame, dim: int, threshold: float = 0.9,
    n_planes: int | None = None, n_tables: int | None = None,
    seed: int = 42, id_col: str = "vec_id", vec_col: str = "embedding",
    broadcast_drop: bool | str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL (r5 — the last dedup
    flavor from the build brief): LSH-pruned exact-verified cosine pairs
    ≥ threshold → connected components → keep the min-id row per cluster.
    Same survivor machinery as the text near-dup path
    (dedup.survivors_from_pairs): drop-set LEFT ANTI with the r6
    pair-count broadcast auto-gate (r5 VERDICT #1), corpus never
    shuffled on the broadcast path, survivor = min(id) in the id's own
    ordering."""
    from kgsum_spark.datapipe.dedup import survivors_from_pairs

    pairs = ann_pairs_verified(df, dim, n_planes, n_tables, seed,
                               threshold, id_col, vec_col)
    return survivors_from_pairs(df, id_col, pairs.select("a", "b"),
                                broadcast_drop)


# --- r2: IVF (inverted-file) ANN — the k-means-partitioned scale path ------


def ivf_build(
    df: DataFrame, dim: int, n_cells: int = 16, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
):
    """Train a coarse quantizer (Spark ML KMeans, seeded) and assign every
    vector to its nearest cell. Returns (centers, assigned) where centers
    is a plain list[list[float]] (broadcastable, tiny) and assigned is the
    corpus with a `cell` column — at scale, materialize with ivf_write
    (parquet partitionBy cell) and search with ivf_search_pruned so a
    query touches only nprobe/n_cells of the files."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        array_to_vector(_to_double(F.col(vec_col))).alias("_features"),
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="_features",
                predictionCol="cell")
    model = km.fit(feats)
    assigned = model.transform(feats).select("id", "vec", "cell")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return centers, assigned


def rank_cells(centers: list[list[float]], query: list[float],
               nprobe: int) -> list[int]:
    """The nprobe cell ids nearest the query by cosine — driver-side math
    over the tiny center list (n_cells × dim floats)."""
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    ranked = sorted(range(len(centers)), key=lambda i: -cos(centers[i], query))
    return ranked[:nprobe]


def ivf_search(
    assigned: DataFrame, centers: list[list[float]], query: list[float],
    k: int = 10, nprobe: int = 4,
) -> DataFrame:
    """Top-k by cosine against one query over an IN-MEMORY assignment,
    scanning only the nprobe cells nearest the query. The cell filter is a
    row filter here; for file-level partition pruning (the 100 TB path)
    materialize with ivf_write and search with ivf_search_pruned."""
    probe = rank_cells(centers, query, nprobe)
    q = F.lit([float(x) for x in query]).cast("array<double>")
    return (
        assigned.filter(F.col("cell").isin(probe))
        .select("id", cosine(_to_double(F.col("vec")), q).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(k)
    )


def ivf_write(assigned: DataFrame, path: str,
              centers: list[list[float]] | None = None,
              files_per_cell: int = 1, n_cells: int | None = None) -> None:
    """Materialize the IVF index: parquet partitioned BY CELL (hive layout
    path/cell=<i>/...), centers as a tiny JSON sidecar. A pruned search
    then touches only nprobe/n_cells of the files — Catalyst partition
    pruning, no data read outside the probed cells. files_per_cell sizes
    the per-cell file count (raise it when cells exceed a few hundred MB
    so a probed cell still scans in parallel)."""
    import json

    width = n_cells if n_cells is not None else (len(centers) if centers else 1)
    # Co-locate each cell's rows: shuffle on (cell, salt) so a cell maps to
    # ~files_per_cell tasks and partitionBy emits ~files_per_cell files per
    # cell — NOT hash(id), which would scatter every cell across every task
    # (n_tasks x n_cells tiny files). One file per cell is still a parallel
    # scan at scale: parquet splits by row group (maxPartitionBytes).
    salted = assigned.withColumn(
        "_salt", F.pmod(F.xxhash64("id"), F.lit(max(files_per_cell, 1))))
    (salted.repartition(max(files_per_cell, 1) * max(width, 1), "cell", "_salt")
     .drop("_salt")
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    if centers is None:
        return  # probe set supplied externally (non-centroid quantizers)
    sc = assigned.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path, "_ivf_centers.json")
    fs = p.getFileSystem(hconf)
    out = fs.create(p, True)
    out.write(bytearray(json.dumps(centers).encode()))
    out.close()


def ivf_read_centers(spark, path: str) -> list[list[float]]:
    sc = spark.sparkContext
    import json

    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path, "_ivf_centers.json")
    fs = p.getFileSystem(hconf)
    stream = fs.open(p)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode())


def ivf_search_pruned(
    spark, path: str, query: list[float], k: int = 10, nprobe: int = 4,
    centers: list[list[float]] | None = None,
    probe: list[int] | None = None,
) -> DataFrame:
    """Top-k by cosine over an ivf_write layout, reading ONLY the nprobe
    probed cell partitions: `cell` is a partition column, so the isin
    filter becomes PartitionFilters on the scan (file-level pruning —
    tests assert it in the formatted plan AND that the scan's file list
    stays within the probed cell directories)."""
    if probe is None:
        if centers is None:
            centers = ivf_read_centers(spark, path)
        probe = rank_cells(centers, query, nprobe)
    q = F.lit([float(x) for x in query]).cast("array<double>")
    return (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe))
        .select("id", cosine(_to_double(F.col("vec")), q).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(k)
    )
