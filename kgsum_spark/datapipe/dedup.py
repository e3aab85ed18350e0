"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact: one hash-groupBy (map-side partial agg) — the cheapest pass, run
  it first to shrink the corpus before any near-dup pass;
- n-gram Jaccard: shingle-inverted-index self-join — shuffle key is the
  shingle, so hot shingles are the skew risk; shingles above a document-
  frequency cap are dropped (standard stop-shingle trick), which both
  bounds skew and removes non-discriminative shingles;
- MinHash+LSH: signature → bands → bucket join; candidate pairs verified
  with exact Jaccard. All hashing via xxhash64 (JVM, deterministic);
- SimHash: 64 codegen'd bit aggregates, no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgsum_spark.datapipe._util import persist_tracked, spread

# 2^31-1: keeps a·x within int64 (a, x < 2^31 → product < 2^62), so the
# modular hash runs under ANSI overflow checking without try_multiply.
MERSENNE = (1 << 31) - 1

# Default ceiling (rows) for broadcasting a drop/flag id set into a LEFT
# ANTI join. ~10M bigint ids ≈ 80 MB serialized plus the executor-side
# hash relation — comfortably under the 8 GB broadcast cap and the
# measured local crossover (tools/anti_join_crossover.py, r6: broadcast
# and shuffled anti-join walls cross between 10M and 50M rows on this
# box; see OPTIMIZATION_r06.md). At web-crawl scale near-dup losers are
# 30-50% of the corpus — billions of ids — so the gate is what makes the
# flagship curation path 100 TB-safe (r5 VERDICT #1).
BROADCAST_DROP_THRESHOLD = 10_000_000


def normalize_text(c):
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     max_dup_ids: int = 1024) -> DataFrame:
    """Groups of byte-identical (post-normalization) texts: (text_hash,
    n_dups, keep_id, dup_ids). keep_id = min id (deterministic survivor).

    dup_ids is capped at the max_dup_ids smallest ids: a pathological group
    (10^8 copies of "" after normalization) would otherwise materialize one
    giant array in a single agg buffer. The cap is enforced BEFORE the
    collect via a row_number window sharing the same hash partitioning (one
    shuffle total), so the buffer itself is bounded. n_dups stays exact."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    keyed = df.select(F.col(id_col).alias("id"), h.alias("text_hash"))
    w = Window.partitionBy("text_hash").orderBy(F.col("id").asc())
    ranked = keyed.select(
        "id", "text_hash",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("text_hash")).alias("_n"),
    ).filter(F.col("_rn") <= max_dup_ids)
    return (
        ranked.groupBy("text_hash")
        .agg(
            F.max("_n").alias("n_dups"),
            F.min("id").alias("keep_id"),
            F.array_sort(F.collect_list("id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct normalized text (min id survives)."""
    w = Window.partitionBy(F.sha2(normalize_text(F.col(text_col)), 256)).orderBy(
        F.col(id_col).asc()
    )
    return df.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1).drop("_r")


def dedup_against_reference(
    df: DataFrame, ref: DataFrame, id_col: str, text_col: str,
    ref_text_col: str | None = None, broadcast_ref: bool = False,
) -> DataFrame:
    """Incremental exact dedup (r5): drop rows of `df` whose normalized
    text already appears in `ref` — the cross-dump step of an iterated
    crawl pipeline (dedup this month's crawl against everything already
    kept). Complements dedup_exact (within-corpus) the way
    decontaminate_drop complements ngram_contamination.

    Scale shape: both sides reduce to sha256(normalized text) BEFORE the
    join, so the anti-join moves 32-byte hashes, not documents. The ref
    side is distinct-ed (its own map-side-combinable shuffle). Default
    is a shuffled LEFT ANTI — a prior-dumps reference is corpus-sized
    and NOT broadcastable at 100 TB; pass broadcast_ref=True only for a
    genuinely small reference (an allowlist, a pilot corpus)."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    ref_h = F.sha2(
        normalize_text(F.col(ref_text_col or text_col)), 256)
    ref_hashes = ref.select(ref_h.alias("__ref_hash")).distinct()
    if broadcast_ref:
        ref_hashes = F.broadcast(ref_hashes)
    return df.join(ref_hashes, h == F.col("__ref_hash"), "left_anti")


def _gram_array(text_col: str, n: int):
    """array<struct<g0..g{n-1}>> of word n-grams for one row. Struct-valued
    shingles: identity is the token TUPLE (exact — tokens cannot contain
    the split character), built with O(1) element_at lookups instead of
    slice+array_join string building, which profiled 10× slower (the
    per-gram array copy + join dominated the whole MinHash stage)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    make = lambda i: F.struct(  # noqa: E731
        *[F.element_at(toks, i + j).alias(f"g{j}") for j in range(n)]
    )
    empty_t = "array<struct<" + ", ".join(f"g{j}: string" for j in range(n)) + ">>"
    # documents shorter than n tokens yield no shingles (not a short gram)
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1), make),
    ).otherwise(F.array().cast(empty_t))


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) — distinct word n-grams per document (struct-valued)."""
    df = spread(df, id_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_gram_array(text_col, n))).alias("shingle"),
    ).filter(F.col("shingle.g0") != "")  # n=1 on empty text yields one "" token


def ngram_contamination(
    docs: DataFrame, bench: DataFrame, id_col: str, text_col: str,
    bench_id_col: str | None = None, bench_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: training documents that share at least
    one word-n-gram with any benchmark/eval document →
    (id, n_hit_shingles, n_bench_docs). The published LLM-pipeline recipe
    (GPT-3 appendix C / PaLM-style 13-gram overlap) as a Spark plan.

    Scale design: the benchmark side is SMALL by nature (eval suites are
    10^4-10^6 documents against a 10^10-document corpus), so its distinct
    shingle set is broadcast — the corpus-sized shingle explode streams
    through a broadcast hash join with NO shuffle of the training side;
    the only exchange is the per-doc aggregate of the (rare) hits. If a
    benchmark ever outgrows broadcast, drop the hint and the same plan
    becomes a shuffle join on the shingle key.

    n defaults to the published 13; callers with short documents (tests,
    the synthetic corpus) pass a smaller n."""
    bench_id_col = bench_id_col or id_col
    bench_text_col = bench_text_col or text_col
    doc_sh = _shingles(docs, id_col, text_col, n)
    bench_sh = (
        _shingles(bench, bench_id_col, bench_text_col, n)
        .select(F.col("id").alias("bench_id"), "shingle")
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id")
        .agg(
            F.countDistinct("shingle").cast("bigint").alias("n_hit_shingles"),
            F.countDistinct("bench_id").cast("bigint").alias("n_bench_docs"),
        )
    )


def decontaminate_drop(
    docs: DataFrame, bench: DataFrame, id_col: str, text_col: str,
    bench_id_col: str | None = None, bench_text_col: str | None = None,
    n: int = 13, broadcast_hits: bool | str = "auto",
) -> DataFrame:
    """The other half of benchmark decontamination: DROP the flagged
    training documents (ngram_contamination only FLAGS them). Returns
    `docs` minus every row sharing ≥ 1 word-n-gram with the benchmark —
    the published pipeline's actual filter step (GPT-3 appendix C removes
    contaminated documents, it doesn't just report them).

    Scale design: the contaminated-id set is benchmark-overlap sized
    (tiny against a 10^10-doc corpus), so the LEFT ANTI join should
    normally build a broadcast hash relation — but r5 FORCED the hint
    unconditionally, a designed-in OOM for a pathological overlap.
    broadcast_hits="auto" (default, r6) removes the hint and lets AQE's
    runtime join-strategy selection decide from the flag set's MEASURED
    shuffle size (guide §3.1): a small set becomes a broadcast anti-join
    with no corpus shuffle, an oversized one stays a shuffled anti-join
    — identical rows either way (an anti-join's output does not depend
    on its physical strategy), and no probe job is spent deciding.
    True forces the hint (callers that know the overlap is tiny and want
    the broadcast even where AQE is off); False forces no hint."""
    hits = ngram_contamination(
        docs, bench, id_col, text_col, bench_id_col, bench_text_col, n
    ).select(F.col("id").alias("__contaminated_id"))
    if broadcast_hits is True:
        hits = F.broadcast(hits)
    return docs.join(
        hits,
        F.col(id_col) == F.col("__contaminated_id"),
        "left_anti",
    )


def neardup_dedup(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.5, method: str = "minhash",
    max_shingle_df: int | None = 1000,
    broadcast_drop: bool | str = "auto",
) -> DataFrame:
    """End-to-end near-duplicate removal: pairs → connected components →
    keep the min-id survivor per cluster → the deduplicated corpus.
    Composes the pair generators above with canonicalize.connected_
    components (the same scale-adaptive CC the KG pipeline uses); a real
    pipeline wants the surviving rows, not the pair list.

    method="minhash" (default): LSH-pruned, exact-verified pairs — the
    100 TB path. method="ngram": inverted-index Jaccard (exact when
    max_shingle_df=None — the oracle-checkable configuration).

    Scale design: only ids that appear in at least one pair enter the CC
    node set (near-dup-cluster sized, orders of magnitude under corpus
    size); every other row survives untouched. The drop set (cluster
    members minus survivors) is pair-bounded and broadcast into a LEFT
    ANTI join, so the corpus itself is never shuffled. Survivor choice is
    min(id) in the id column's own ordering (numeric ids compare
    numerically), independent of CC's internal string labels."""
    from kgsum_spark.canonicalize import connected_components

    if method == "minhash":
        pairs = minhash_neardup_verified(
            df, id_col, text_col, n=n, threshold=threshold)
    elif method == "ngram":
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, n=n, threshold=threshold,
            max_shingle_df=max_shingle_df)
    else:
        raise ValueError(f"neardup_dedup: unknown method {method!r}")
    return survivors_from_pairs(df, id_col, pairs, broadcast_drop)


def survivors_from_pairs(df: DataFrame, id_col: str,
                         pairs: DataFrame,
                         broadcast_drop: bool | str = "auto",
                         broadcast_drop_threshold: int = BROADCAST_DROP_THRESHOLD,
                         ) -> DataFrame:
    """Shared survivor machinery: (a, b) duplicate pairs → connected
    components → keep the min-id row per cluster → `df` minus the losers.
    Used by neardup_dedup (text) and embedding_neardup_dedup (vectors).

    Scale shape: only ids appearing in pairs enter the CC node set; the
    corpus itself is never shuffled on the broadcast path. Survivor
    choice is min(id) in the id column's OWN ordering (numeric ids
    compare numerically), independent of CC's internal string labels.

    broadcast_drop (r6, the r5 VERDICT's top item): the drop set is
    pair-bounded, but at web-crawl scale near-dup losers are routinely
    30-50% of the corpus — billions of ids is pair-bounded AND not
    broadcastable, so the former unconditional `F.broadcast(drop)` was a
    designed-in executor OOM. "auto" (default) gates the hint on the
    persisted pair count (drop rows ≤ 2·pairs, and the count is a cache
    scan because connected_components' capped edge probe has already
    materialized the frame): ≤ threshold/2 pairs → broadcast, else a
    plain shuffled LEFT ANTI on the id. True/False force either path;
    both produce identical survivors (anti-join output is strategy-
    independent — asserted by tests/test_datapipe.py)."""
    pairs = persist_tracked(pairs.select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
    ))
    nodes = (
        pairs.select(F.col("a").alias("norm"))
        .unionByName(pairs.select(F.col("b").alias("norm")))
        .distinct()
    )
    from kgsum_spark.canonicalize import connected_components

    cc_stats: dict = {}
    cc = connected_components(nodes, pairs, stats_out=cc_stats)  # (norm, label)
    # Recover the original-typed id so min() uses ITS ordering, not the
    # string label ordering ("10" < "9" lexicographically).
    ids = df.select(
        F.col(id_col).alias("__orig_id"),
        F.col(id_col).cast("string").alias("norm"),
    )
    member = cc.join(ids, "norm")
    keeper = member.groupBy("label").agg(F.min("__orig_id").alias("__keep_id"))
    drop = (
        member.join(keeper, "label")
        .filter(F.col("__orig_id") != F.col("__keep_id"))
        .select(F.col("__orig_id").alias("__drop_id"))
    )
    if broadcast_drop == "auto":
        # drop rows < CC node count; CC's capped probe already measured
        # it when the graph fit the driver path (the common case — zero
        # extra jobs). Only an over-threshold graph needs the pair count,
        # a cache scan of the persisted frame (drop rows ≤ 2·pairs).
        n_nodes = cc_stats.get("n_nodes")
        if n_nodes is not None:
            broadcast_drop = n_nodes <= broadcast_drop_threshold
        else:
            broadcast_drop = 2 * pairs.count() <= broadcast_drop_threshold
    if broadcast_drop:
        drop = F.broadcast(drop)
    return df.join(
        drop, F.col(id_col) == F.col("__drop_id"), "left_anti"
    )


def curate_corpus(
    docs: DataFrame, bench: DataFrame | None, id_col: str, text_col: str,
    *, n: int = 3, threshold: float = 0.5, method: str = "minhash",
    max_shingle_df: int | None = 1000, contamination_n: int = 13,
    quality_bounds: dict | None = None,
    mixture: tuple[str, dict, float] | None = None,
) -> DataFrame:
    """The published curation pipeline in one call (up to five stages):

      0. quality FILTER (textstats.quality_filter bounds), when
         `quality_bounds` is given — a pure scan predicate, so it runs
         FIRST and shrinks the corpus before any shuffle exists;
      1. exact dedup (hash-groupBy, min-id survivor) — cheapest pass
         first, shrinks the corpus before any pair space exists;
      2. near-duplicate removal (neardup_dedup: pairs → connected
         components → min-id survivor per cluster);
      3. benchmark decontamination DROP (decontaminate_drop), skipped
         when bench is None;
      4. deterministic mixture sampling (agg.mixture_sample), when
         `mixture=(group_col, rates, default_rate)` is given — LAST, so
         the per-group rates act on the cleaned corpus.

    Every stage is itself oracle-verified; the three-stage composition
    is oracled end-to-end as `curation_pipeline_docs` and the
    five-stage one as `curation_full_docs`. Stage order matters at
    scale: exact dedup removes the degenerate template clusters that
    would otherwise hand stage 2 a quadratic pair space (the one regime
    no LSH cap fixes — BENCH streaming notes), and decontamination runs
    late so its broadcast flag set is built over a small corpus."""
    out = docs
    if quality_bounds is not None:
        from kgsum_spark.datapipe.textstats import quality_filter

        out = quality_filter(out, text_col, **quality_bounds)
    out = dedup_exact(out, id_col, text_col)
    out = neardup_dedup(out, id_col, text_col, n=n, threshold=threshold,
                        method=method, max_shingle_df=max_shingle_df)
    if bench is not None:
        out = decontaminate_drop(out, bench, id_col, text_col,
                                 n=contamination_n)
    if mixture is not None:
        from kgsum_spark.operators.agg import mixture_sample

        group_col, rates, default_rate = mixture
        out = mixture_sample(out, group_col, rates, id_col=id_col,
                             default_rate=default_rate)
    return out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.8, max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) by word-n-gram Jaccard.

    Inverted-index plan: shingle → docs, self-join on shingle, count common
    shingles per pair, Jaccard = common / (|A| + |B| - common). Shingles in
    more than max_shingle_df docs are dropped (stop-shingles: kills both
    the O(df²) pair blow-up and the shuffle skew of hot shingles); pass
    max_shingle_df=None for exact uncapped Jaccard. When the cap is active,
    per-doc sizes are computed from the SAME filtered shingle set, so the
    result is the well-defined Jaccard of the capped sets — not a hybrid of
    full sizes over filtered intersections."""
    # sh feeds sizes + both self-join sides (and the DF cap when active):
    # without the persist the shingle explode recomputes once per consumer
    # (r6; the prefix variant has carried the same persist since r5).
    sh = persist_tracked(_shingles(df, id_col, text_col, n))
    if max_shingle_df is not None:
        sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = persist_tracked(
            sh.join(sdf.filter(F.col("df_") <= max_shingle_df), "shingle", "left_semi"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("a"), "shingle")
    b = sh.select(F.col("id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sb")), "b")
        .withColumn("jaccard", F.col("common") / (F.col("sa") + F.col("sb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    num_perm: int = 64, seed: int = 42, shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature over word n-grams.

    Permutations h_i(x) = (a_i·x + b_i) mod M61 with seeded (a_i, b_i);
    base shingle hash = xxhash64 (JVM). Signature built with ONE groupBy:
    array_agg of per-permutation mins via min(transform(...)) — no
    per-permutation shuffle."""
    import random

    rnd = random.Random(seed)
    perms = [(rnd.randrange(1, MERSENNE), rnd.randrange(0, MERSENNE)) for _ in range(num_perm)]
    # Explode + 64 codegen'd min-aggregates. Measured alternatives at sf0.1
    # (5000 docs, 260k shingles, warm): this plan 1.0s; a "zero-shuffle"
    # per-row array_min(transform(...)) rewrite 12s — higher-order lambdas
    # evaluate interpreted per element, so 64 HOF passes lose to one
    # whole-stage-codegen aggregate even though the latter shuffles.
    sh = shingles if shingles is not None else _shingles(df, id_col, text_col, n)
    hashed = sh.withColumn("h", F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE)))
    agg = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE)).alias(f"m{i}")
        for i, (a, b) in enumerate(perms)
    ]
    return (
        hashed.groupBy("id")
        .agg(*agg)
        .select("id", F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig"))
    )


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4,
    num_perm: int = 64, max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: hash each band of the signature, bucket-join docs that
    share any (band, band_hash) → candidate pairs (a, b). Estimated
    Jaccard from full signatures attached for thresholding.

    bands*rows_per_band must not exceed the signature length: F.slice past
    the end would yield identical empty band arrays for every doc — one
    global bucket, an O(n²) candidate blow-up. The static num_perm check
    catches mismatched defaults early, and a per-row in-plan guard (zero
    extra jobs, one codegen'd branch) derives the ACTUAL signature length
    from the data, so a caller who built sigs with num_perm=8 but banded
    with the 64-perm defaults gets a runtime error, not a silent O(n²).

    max_bucket_size bounds the OTHER quadratic failure mode: a bucket of
    m docs emits C(m,2) pairs, so one exact-template cluster (boilerplate
    pages, replicated corpora) of 10^5 members means 5·10^9 candidate
    rows from a single bucket. Buckets over the cap are dropped before
    the self-join — the same hot-key surgery as the stop-shingle DF cap
    in ngram_jaccard_pairs and the prefix filter's never-index-hot rule.
    Recall cost is bounded: a truly similar pair collides in each of the
    `bands` independent bands with probability p^rows_per_band, so it is
    lost only if EVERY shared bucket exceeds the cap — which at cap m
    means both docs sit in clusters of ≥m near-identical documents, a
    regime exact dedup (hash-groupBy, no pair space) should consume
    first. None (the default) preserves the oracled exact-verified
    semantics; the streaming refresh sets a cap because its store grows
    without a human in the loop."""
    need = bands * rows_per_band
    if need > num_perm:
        raise ValueError(
            f"bands*rows_per_band ({bands}*{rows_per_band}) exceeds "
            f"signature length num_perm={num_perm}"
        )
    # Band hash = xxhash64 over the band's signature elements directly:
    # the former slice(...).cast("string") built a fresh string per row
    # per band (allocation + formatting) only to hash it; hashing the
    # longs is the same bucketing (equal bands still collide, unequal
    # bands differ up to hash collisions, which the exact verify absorbs)
    # with no allocation. Guide §2.3: shuffle/aggregate keys as narrow
    # native types.
    band_arr = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(*[F.get("sig", bi * rows_per_band + j)
                         for j in range(rows_per_band)]).alias("bh"),
        )
        for bi in range(bands)
    ])
    guarded = F.when(F.size("sig") >= need, band_arr).otherwise(
        F.raise_error(F.concat(
            F.lit("minhash_lsh_candidates: signature length "),
            F.size("sig").cast("string"),
            F.lit(f" < bands*rows_per_band={need}"),
        ))
    )
    banded = sigs.select(
        "id", "sig", F.explode(guarded).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.bh")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        # one window count, partitioned on the join keys — the shuffle it
        # introduces is the same (band, bh) hash partitioning the bucket
        # self-join needs, so the join reuses it instead of adding one
        bn = F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        banded = (
            banded.withColumn("_bn", bn)
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = banded.select(F.col("id").alias("a"), F.col("sig").alias("siga"), "band", "bh")
    b = banded.select(F.col("id").alias("b"), F.col("sig").alias("sigb"), "band", "bh")
    pairs = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "siga", "sigb")
        .distinct()
    )
    # estimated jaccard = fraction of equal signature positions
    eq = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0), lambda acc, v: acc + v,
    )
    return pairs.select(
        "a", "b", (eq / F.size("siga")).alias("est_jaccard")
    )


def lsh_bucket_stats(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> dict:
    """r6 (r5 VERDICT #3): make the max_bucket_size cap's accounting
    OBSERVABLE — one tiny aggregate over the banded frame returning
    {banded_rows, dropped_rows, n_buckets, max_bucket}: how much
    hot-bucket mass the cap would remove (dropped_rows counts banded
    rows sitting in over-cap buckets). Deliberately a SEPARATE probe
    rather than an in-plan Observation: the bucket self-join consumes
    the banded frame twice and exchange reuse silently discards a
    CollectMetrics node on one side. Costs one extra pass over the
    signatures; call it from benches/tests, not hot paths."""
    band_arr = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(*[F.get("sig", bi * rows_per_band + j)
                         for j in range(rows_per_band)]).alias("bh"),
        )
        for bi in range(bands)
    ])
    buckets = (
        sigs.select(F.explode(band_arr).alias("bk"))
        .groupBy("bk.band", "bk.bh")
        .agg(F.count(F.lit(1)).alias("_bn"))
    )
    cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
    row = buckets.agg(
        F.sum("_bn").alias("banded_rows"),
        F.sum(F.when(F.col("_bn") > cap, F.col("_bn")).otherwise(0)).alias("dropped_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_bn").alias("max_bucket"),
    ).first()
    return row.asDict()


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    num_perm: int = 64, bands: int = 16, rows_per_band: int = 4,
    threshold: float = 0.7, seed: int = 42,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline → (a, b, est_jaccard ≥ threshold)."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_perm, seed)
    cand = minhash_lsh_candidates(sigs, bands, rows_per_band, num_perm)
    return cand.filter(F.col("est_jaccard") >= threshold)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over words, entirely JVM-side:
    explode tokens, 64 codegen'd bit-sum aggregates, recombine."""
    toks = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"),
                F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", F.xxhash64("tok"))
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    bits = toks.groupBy("id").agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(64):
        acc = acc + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return bits.select("id", acc.alias("simhash"))


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3,
                       prefix_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, blocked on
    the top prefix_bits (documents differing in few bits usually share the
    prefix; multi-table blocking is the production extension)."""
    s = sim.withColumn("blk", F.shiftrightunsigned("simhash", 64 - prefix_bits))
    a = s.select(F.col("id").alias("a"), F.col("simhash").alias("ha"), "blk")
    b = s.select(F.col("id").alias("b"), F.col("simhash").alias("hb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# --- exact-verified near-dup surfaces (hash-independent emitted rows) -----
#
# The LSH machinery above generates CANDIDATES; the functions below verify
# candidates with exact, engine-portable math (n-gram Jaccard, md5-based
# Hamming) so the emitted rows can be checked against a brute-force SQL
# oracle. Design per the production LSH pattern: hashes prune, exact
# verification decides.


def exact_ngram_jaccard_on_pairs(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(a, b) candidate pairs → (a, b, jaccard) with EXACT word-n-gram
    Jaccard. Shingle scan is semi-join-pruned to the candidate doc ids, so
    cost is proportional to candidates, not corpus.

    r6 plan shape: per-doc shingle SETS are re-assembled into arrays
    (collect_list over the already-distinct per-doc shingles) and joined
    onto the pairs; the intersection count is a per-row array_intersect
    over two document-sized arrays — exact struct equality, identical
    common/size numbers, identical double division. The r5 shape joined
    pairs against the EXPLODED shingle table twice and re-aggregated:
    candidate-count × shingles-per-doc intermediate rows (~15M at sf0.1
    for 300k candidates) through two exchanges plus a groupBy, vs one
    slim join per pair side here (guide §2.3: shuffle fewer bytes —
    measured 3.4 s → 0.7 s on the prefix query's verify stage)."""
    # pairs feeds THREE consumers (two id unions + the final join) and the
    # per-doc set table two — persist both or the upstream subtrees (the
    # full LSH join, the corpus shingle scan) run once per consumer. Both
    # frames are candidate-proportional, not corpus-proportional.
    pairs = persist_tracked(pairs)
    sh = shingles if shingles is not None else _shingles(df, id_col, text_col, n)
    ids = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    # Shingles are collected as single SPACE-JOINED STRINGS, not structs:
    # normalized tokens cannot contain spaces and n is fixed, so the
    # space-join is injective (string equality ≡ token-tuple equality),
    # and array_intersect over an atomic element type takes Spark's
    # hash-set fast path — over struct elements it falls back to a
    # quadratic generic-equality scan, which measured 20+ s on the
    # prefix query's 300k candidate pairs vs sub-second for strings.
    shingle_str = F.concat_ws(" ", *[F.col(f"shingle.g{j}") for j in range(n)])
    docsets = persist_tracked(
        sh.join(ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_list(shingle_str).alias("_shset"))
    )
    common = F.size(F.array_intersect("_sa", "_sb"))
    return (
        pairs
        .join(docsets.select(F.col("id").alias("a"), F.col("_shset").alias("_sa")), "a")
        .join(docsets.select(F.col("id").alias("b"), F.col("_shset").alias("_sb")), "b")
        .select(
            "a", "b",
            (common / (F.size("_sa") + F.size("_sb") - common)).alias("jaccard"),
        )
        # the r5 inner-join-on-shingle shape emitted nothing for a pair
        # with zero common shingles; keep that contract
        .filter(F.col("jaccard") > 0)
    )


def minhash_neardup_verified(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    num_perm: int = 64, bands: int = 32, rows_per_band: int = 2,
    threshold: float = 0.5, seed: int = 42,
) -> DataFrame:
    """MinHash+LSH candidates → exact n-gram Jaccard verify → (a, b,
    jaccard ≥ threshold). Emitted values are hash-independent: MinHash only
    prunes the pair space. 32 bands × 2 rows: P(miss | J=0.5) =
    (1-0.25)^32 ≈ 1e-4 per pair (tests assert recall 1.0 vs brute force on
    the testdata corpora at sf0.001/0.01/0.1).

    Signatures are persisted before banding: the LSH bucket self-join
    consumes them twice, and without the persist Spark recomputes the
    whole signature subtree for each side. Signature volume is num_perm
    longs per DOCUMENT (vocabulary-sized, not corpus-sized) — safe to
    persist at any scale."""
    sh = persist_tracked(_shingles(df, id_col, text_col, n))
    sigs = persist_tracked(
        minhash_signatures(df, id_col, text_col, n, num_perm, seed, shingles=sh))
    cand = minhash_lsh_candidates(sigs, bands, rows_per_band, num_perm).select("a", "b")
    return (
        exact_ngram_jaccard_on_pairs(cand, df, id_col, text_col, n, shingles=sh)
        .filter(F.col("jaccard") >= threshold)
    )


# 60-bit engine-portable token hash: both Spark and DuckDB can compute
# int(md5(tok)[17:32], 16) exactly (15 hex chars = 60 bits < 2^63, so the
# BIGINT cast never overflows under ANSI).
_SIMHASH_BITS = 60


def _md5_60(c):
    return F.conv(F.substring(F.md5(c), 18, 15), 16, 10).cast("long")


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over word tokens with the PORTABLE
    md5-based token hash, so a SQL oracle reproduces the value bit-for-bit
    (xxhash64 variant simhash64() remains the cheaper in-engine default).
    Same shape as simhash64: explode tokens, 60 codegen'd bit aggregates."""
    toks = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"),
                F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", _md5_60(F.col("tok")))
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    bits = toks.groupBy("id").agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        acc = acc + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return bits.select("id", acc.alias("simhash"))


def simhash_hamming_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(a, b, hamming ≤ max_hamming) with GUARANTEED recall: the 60-bit
    fingerprint is split into max_hamming+1 disjoint blocks; two prints
    within Hamming distance H differ in ≤ H blocks, so by pigeonhole they
    agree on at least one block — every true pair is a candidate in some
    block's bucket join. Exact bit_count(xor) then decides. (The classical
    multi-index Hamming scheme; single-prefix blocking was the r1 gap.)"""
    sim = persist_tracked(sim)  # self-join reads it twice
    n_blocks = max_hamming + 1
    bpb = _SIMHASH_BITS // n_blocks
    blocks = []
    for i in range(n_blocks):
        lo = i * bpb
        width = bpb if i < n_blocks - 1 else _SIMHASH_BITS - lo  # last takes remainder
        mask = (1 << width) - 1
        blocks.append(
            F.struct(
                F.lit(i).alias("blk_i"),
                F.shiftrightunsigned("simhash", lo).bitwiseAND(F.lit(mask)).alias("blk_v"),
            )
        )
    s = sim.select("id", "simhash", F.explode(F.array(*blocks)).alias("bk")) \
        .select("id", "simhash", "bk.blk_i", "bk.blk_v")
    a = s.select(F.col("id").alias("a"), F.col("simhash").alias("ha"), "blk_i", "blk_v")
    b = s.select(F.col("id").alias("b"), F.col("simhash").alias("hb"), "blk_i", "blk_v")
    return (
        a.join(b, ["blk_i", "blk_v"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT near-duplicate pairs (a, b, jaccard ≥ threshold) via prefix
    filtering — the AllPairs/PPJoin family (public algorithm, Bayardo et
    al. / Xiao et al.): same output as the brute-force inverted index,
    asymptotically less work.

    Order all shingles globally by (document frequency asc, shingle); a
    doc with m shingles only indexes its first p = m - ceil(t·m) + 1 in
    that order. If J(A,B) ≥ t, the smallest-ranked common shingle provably
    lies in BOTH prefixes, so joining prefix-only inverted indexes loses
    nothing — and the prefix holds the RAREST shingles, so buckets are
    tiny where the full index had its hot keys. Candidates are then
    exact-verified. At t=0.8 the index is ~5× smaller and skew-free; the
    win grows with corpus size (hot shingles never enter the index).
    """
    if not (0 < threshold <= 1):
        raise ValueError("threshold must be in (0, 1]")
    # sh feeds the DF aggregate AND the ranked join; pref feeds both
    # sides of the candidate self-join — without persists the shingle
    # explode and the ranking windows recompute once per consumer.
    # Measured at the sf0.1 bench: median 8.07 s → 7.41 s (each call
    # still pays the persist build; the win is the avoided recomputes
    # and it grows with corpus size). Both frames are corpus-
    # proportional — the same storage class as the shuffles this plan
    # already performs.
    sh = persist_tracked(_shingles(df, id_col, text_col, n))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    ranked = sh.join(dfreq, "shingle")
    # per-doc canonical order: (df asc, shingle fields) — deterministic
    order_cols = [F.col("df_").asc()] + [
        F.col(f"shingle.g{j}").asc() for j in range(n)
    ]
    w = Window.partitionBy("id").orderBy(*order_cols)
    m = Window.partitionBy("id")
    pref = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .withColumn("_m", F.count(F.lit(1)).over(m))
        # round(·, 9) before ceil: 0.8*10 floats to 8.000000000000002,
        # which ceil would turn into 9 and silently shrink the prefix
        .withColumn("_p", F.col("_m")
                    - F.ceil(F.round(F.lit(threshold) * F.col("_m"), 9)) + 1)
        .filter(F.col("_rn") <= F.col("_p"))
        .select("id", "shingle")
    )
    pref = persist_tracked(pref)
    cand = (
        pref.select(F.col("id").alias("a"), "shingle")
        .join(pref.select(F.col("id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return (
        exact_ngram_jaccard_on_pairs(cand, df, id_col, text_col, n, shingles=sh)
        .filter(F.col("jaccard") >= threshold)
    )
