"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship smoke: loads /root/testdata/sf0.001 parquet,
derives a deterministic transcript view from the `events` table, and runs
the M1 end-to-end slice (window turn assembly → regex extraction →
class histogram; SURVEY.md §7, reference flagship Q2 analog:
/root/reference/src/dataset_preparation.py:65-87).

`queries()` / `oracle_sql()` — one entry per implemented operator class
from SURVEY.md §2, each aliased identically on both sides so the driver's
column-sorted value hash matches. Cross-engine discipline:
- every computed integer is CAST to BIGINT on both sides (DuckDB sum()
  returns HUGEINT, row_number BIGINT vs Spark INT otherwise);
- money math is done in integer cents (sum of doubles is order-dependent
  and would flap the hash);
- every capped/ordered query has a deterministic total order (tie-breaks);
- doubles appear only where both engines compute bit-identical results
  (single divisions; sequential dot products on double arrays).

Every entry is oracled — 82 pairs as of r4 (adds N3 + CSV/JSON scans +
the one-pass multi-graph profile battery). The former rows-only ops are
SQL-checkable: the KG pipeline's connected components via a WITH RECURSIVE
min-label fixpoint; MinHash/ANN surfaces emit exact-verified values
(Jaccard/cosine) so LSH only prunes; SimHash uses an md5-based portable
hash that DuckDB reproduces bit-for-bit; the real multimodal decoders are
checked against analytical pixel/RMS math; the Turtle/TriG/RDF-XML parsers
against analytically reconstructed triples. No queries() output carries a
container-typed column (the driver canonicalizer can't hash list cells) —
guarded by tests/test_entry_schemas.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgsum_spark.assembly import assemble_turns
from kgsum_spark.datapipe import dedup as dd
from kgsum_spark.datapipe import similarity as sim
from kgsum_spark.datapipe import textstats as ts
from kgsum_spark.extraction import extract_raw_triples, mentions_from_raw
from kgsum_spark.operators import agg as A
from kgsum_spark.operators import joins as J
from kgsum_spark.operators import scalar as C


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: events → transcript view → assembly → extraction → histogram
# ---------------------------------------------------------------------------

def _events_as_transcripts(events: DataFrame) -> DataFrame:
    """Deterministic transcript view over the events table: per-user
    conversations, turn order by (ts, event_id), template text that the
    extraction rules genuinely fire on."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ent = F.concat(F.lit("Ev"), F.pmod(F.col("event_id"), F.lit(200)).cast("string"))
    sent1 = F.concat(ent, F.lit(" is a "), F.col("event_type"), F.lit("."))
    sent2 = F.when(
        F.col("value") > 10,
        F.concat(F.lit(" "), ent, F.lit(" same as http://ex.org/r/"),
                 F.col("user_id").cast("string"), F.lit(".")),
    ).otherwise(F.lit(""))
    return events.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(sent1, sent2).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    events = _t(spark, "/root/testdata/sf0.001", "events")
    turns = assemble_turns(_events_as_transcripts(events)).drop("rn")
    raw = extract_raw_triples(turns)
    return (
        raw.filter(F.col("pred") == "rdf:type")
        .groupBy(F.col("obj").alias("curi"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("curi").asc())
        .limit(1000)
    )


# ---------------------------------------------------------------------------
# paired queries (Spark) — names/aliases must match oracle_sql() exactly
# ---------------------------------------------------------------------------

_PART_URI = "concat('http://ex.org/', p_brand, '#', replace(p_type, ' ', '_'))"


def q1_namespaces(spark, sf):
    part = _t(spark, sf, "part").withColumn("uri", F.expr(_PART_URI))
    return (
        part.select(C.namespace_of(F.col("uri")).alias("ns"))
        .distinct().orderBy("ns")
    )


def q2_class_histogram(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("k").asc())
        .limit(1000)
    )


def q3_property_histogram(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderstatus") != "O")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("priority").asc())
    )


def q4_labels_semi_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        J.dependent_semi_join(
            o.withColumnRenamed("o_custkey", "c_custkey"),
            c.select("c_custkey"), "c_custkey")
        .select(F.col("o_orderpriority").alias("lab"))
        .distinct().orderBy("lab")
    )


def q5_tld_histogram(spark, sf):
    s = _t(spark, sf, "supplier").withColumn(
        "url",
        F.expr(
            "concat('http://', lower(replace(s_name, '#', '')), '.', "
            "CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'org' WHEN 1 THEN 'net' "
            "ELSE 'io' END, '/x')"
        ),
    )
    return (
        s.select(C.tld_of(F.col("url")).alias("tld"))
        .groupBy("tld").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("tld")
    )


def q8_license_pick(spark, sf):
    o = _t(spark, sf, "orders")
    return o.filter(F.col("o_orderstatus") == "F").agg(
        F.min("o_orderpriority").alias("license")
    )


def q11_dependent_join(spark, sf):
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    nk = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey")
    return (
        c.join(F.broadcast(nk), c.c_nationkey == nk.n_nationkey)
        .select(F.col("c_mktsegment").alias("sbj"))
        .distinct().orderBy("sbj")
    )


def q12_connections(spark, sf):
    s = _t(spark, sf, "supplier")
    return (
        s.select(F.col("s_nationkey").cast("bigint").alias("con"))
        .distinct().orderBy("con").limit(1000)
    )


def j1_outer_merge(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return (
        j.groupBy(F.coalesce("c_mktsegment", F.lit("?")).alias("segment"))
        .agg(
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_lonely"),
        )
        .orderBy("segment")
    )


def j3_keep_last(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("event_id").cast("bigint").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
        )
        .orderBy("user_id")
    )


def j4_containment_join(spark, sf):
    p = _t(spark, sf, "part").withColumn("lt", F.lower(F.col("p_type")))
    r = _t(spark, sf, "region").select(
        F.lower(F.substring("r_name", 1, 1)).alias("needle")
    )
    return (
        J.containment_join(p, r, "lt", "needle")
        .groupBy("needle").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("needle")
    )


def j5_hash_match_join(spark, sf):
    o = _t(spark, sf, "orders").withColumn(
        "fhash",
        F.sha2(F.concat(F.lit("Customer#"), F.lpad(F.col("o_custkey").cast("string"), 9, "0")), 256),
    )
    c = _t(spark, sf, "customer")
    return (
        J.hash_match_join(o, c.select(F.col("c_name").alias("id"), "c_mktsegment"), "fhash")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("segment")
    )


def window_turn_assembly(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


def sessionize(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # parquet ts is TIMESTAMP_NTZ; route through timestamp (UTC session) to
    # get epoch seconds — matches DuckDB floor(epoch(ts))
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    marked = e.withColumn("new_sess", F.when(gap > 1800, 1).otherwise(0))
    return (
        marked.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg((F.sum("new_sess") + 1).cast("bigint").alias("n_sessions"),
             F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("user_id")
    )


def a3_set_union(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"))
        .orderBy("user_id")
    )


def a4_vote_argmax(spark, sf):
    e = _t(spark, sf, "events")
    out = A.vote_argmax(e, "user_id", "event_type", alias="winner")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"), "winner"
    ).orderBy("user_id")


def a6_systematic_sample(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") - 1) % 100 == 0)
        .select(F.col("event_id").cast("bigint").alias("event_id"), "event_type")
        .orderBy("event_id")
    )


def f3_blacklist_filter(spark, sf):
    p = _t(spark, sf, "part")
    bad = ["econ", "promo"]
    keep = ~F.lower(F.col("p_type")).rlike("|".join(bad))
    return (
        p.filter(keep)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("brand")
    )


def c_string_chain(spark, sf):
    p = _t(spark, sf, "part").filter(F.col("p_partkey") % 97 == 0)
    uri = F.expr(_PART_URI)
    return p.select(
        F.col("p_partkey").cast("bigint").alias("k"),
        C.local_name_of(uri).alias("local_name"),
        C.sha256_of(F.col("p_name")).alias("h"),
    ).orderBy("k")


def c10_props_parse(spark, sf):
    e = _t(spark, sf, "events")
    k = F.regexp_extract(F.col("props"), r"[0-9]+", 0).cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(F.sum(k).cast("bigint").alias("sum_k"),
             F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("event_type")
    )


def tpch_q1_cents(spark, sf):
    li = _t(spark, sf, "lineitem")
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            F.sum(rev_cents).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3_cents(spark, sf):
    """TPC-H Q3 shape (shipping-priority): customer ⋈ orders ⋈ lineitem,
    filter both sides of the date, group by order, top-10 by revenue.
    Calibrates the 3-way join path: customer (small) broadcasts; the
    orders⋈lineitem equi-join shuffles on the key; revenue in integer
    cents so the hash is order-independent."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_cents).cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
            "revenue_cents",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


def tpch_q5_cents(spark, sf):
    """TPC-H Q5 shape (local-supplier volume): the 6-table star —
    lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region — with the
    region filter pushed into the smallest dim and every dim broadcast.
    Plan at scale: the fact table (lineitem) is never shuffled — four
    BroadcastHashJoins stack on the scan, and the only exchange is the
    final n_name aggregate. Dates shifted into the synthetic corpus's
    1995-2001 range (classic 1994 predicates select nothing here)."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf, "lineitem")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c),
              (o.o_custkey == c.c_custkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev_cents).cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("n_name").asc())
    )


def tpch_q6_cents(spark, sf):
    """TPC-H Q6 shape (forecast revenue): a pure filtered-scan aggregate —
    zero joins, zero groupBy keys. The whole query is predicate pushdown:
    explain shows PushedFilters on l_shipdate/l_discount/l_quantity at the
    parquet scan and a two-phase agg over the survivors. At 100 TB this is
    the query shape whose cost is decided entirely by scan pruning."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
                  .cast("bigint")).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


def dedup_exact_docs(spark, sf):
    d = _t(spark, sf, "documents")
    out = dd.exact_duplicates(d, "doc_id", "text")
    return out.select(
        "text_hash",
        F.col("n_dups").cast("bigint").alias("n_dups"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
    ).orderBy("text_hash")


def dedup_ngram_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    # max_shingle_df=None: the DuckDB oracle computes exact uncapped
    # Jaccard, so the paired query must too (the capped variant is the
    # 100 TB default and is covered by tests/test_datapipe.py).
    out = dd.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5,
                                 max_shingle_df=None)
    return out.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    ).orderBy("a", "b")


def chunk_docs_windows(spark, sf):
    """Training-window chunking: 16-token windows, stride 12 (4-token
    overlap) over the documents table — map-only, no UDF, no shuffle.
    ORACLED: DuckDB reproduces the start-sequence + slice arithmetic."""
    d = _t(spark, sf, "documents")
    out = ts.chunk_documents(d, "doc_id", "text", width=16, stride=12)
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "chunk_idx", "n_chunk_tokens", "chunk_text",
    ).orderBy("doc_id", "chunk_idx")


def decontaminate_ngram(spark, sf):
    """Benchmark decontamination (GPT-3-style n-gram overlap): every 97th
    document plays the held-out eval set; training docs sharing any word
    4-gram with it are flagged with hit counts. ORACLED: the same
    shingle/semi-join arithmetic in DuckDB SQL. n=4 (not the published 13)
    because the synthetic documents are short."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    out = dd.ngram_contamination(train, bench, "doc_id", "text", n=4)
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "n_hit_shingles", "n_bench_docs",
    ).orderBy("doc_id")


def decontaminate_drop_docs(spark, sf):
    """Decontamination DROP step (r5): the training corpus minus every
    document sharing a word 4-gram with the every-97th-doc eval set — a
    broadcast LEFT ANTI join over ngram_contamination's flag set.
    ORACLED: DuckDB NOT IN over the same shingle semi-join."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    out = dd.decontaminate_drop(train, bench, "doc_id", "text", n=4)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "source"
    ).orderBy("doc_id")


def dedup_neardup_survivors(spark, sf):
    """Near-duplicate removal END-TO-END (r5): exact trigram-Jaccard
    pairs (threshold 0.5, uncapped = oracle-exact) → connected components
    → keep the min-doc_id survivor per cluster → the deduplicated corpus.
    ORACLED: DuckDB recomputes the pairs brute-force, closes components
    with a WITH RECURSIVE min-label fixpoint, and drops non-min members."""
    d = _t(spark, sf, "documents")
    out = dd.neardup_dedup(d, "doc_id", "text", n=3, threshold=0.5,
                           method="ngram", max_shingle_df=None)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def dedup_neardup_survivors_minhash(spark, sf):
    """The SAME survivor semantics through the 100 TB path: MinHash+LSH
    pruned, exact-verified pairs (recall 1.0 on these corpora — asserted
    vs brute force at 3 SFs in tests) → CC → min-id survivor. Shares the
    brute-force WITH RECURSIVE oracle with dedup_neardup_survivors: if
    LSH ever missed a pair here, the survivor set would differ and the
    row would go red."""
    d = _t(spark, sf, "documents")
    out = dd.neardup_dedup(d, "doc_id", "text", n=3, threshold=0.5,
                           method="minhash")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def curation_pipeline_docs(spark, sf):
    """The full three-stage curation pipeline (r5): exact dedup → near-dup
    removal (exact trigram pairs, threshold 0.5) → benchmark
    decontamination (4-gram overlap vs the every-97th-doc eval set), all
    through dd.curate_corpus. ORACLED end-to-end: DuckDB recomputes exact
    survivors (min id per normalized-text hash), closes near-dup
    components over THOSE with WITH RECURSIVE, then drops contaminated
    survivors with NOT IN."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    out = dd.curate_corpus(train, bench, "doc_id", "text",
                           n=3, threshold=0.5, method="ngram",
                           max_shingle_df=None, contamination_n=4)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def curation_full_docs(spark, sf):
    """The FIVE-stage curation recipe end-to-end (r5): quality filter →
    exact dedup → near-dup removal (exact trigram Jaccard 0.5) →
    benchmark decontamination (4-gram vs the every-97th-doc eval set) →
    per-language mixture sampling — one dd.curate_corpus call, i.e. the
    complete raw-crawl-to-training-corpus path. ORACLED end-to-end by
    composing the five proven stage oracles into one DuckDB chain."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    out = dd.curate_corpus(
        train, bench, "doc_id", "text",
        n=3, threshold=0.5, method="ngram", max_shingle_df=None,
        contamination_n=4,
        quality_bounds=dict(min_tokens=30, max_tokens=90,
                            max_punct_ratio=0.05, max_digit_ratio=0.05,
                            max_dup_token_frac=0.55),
        mixture=("lang", {"en": 0.8, "de": 0.5, "fr": 0.25}, 0.1),
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def training_shards_docs(spark, sf):
    """The engine's whole purpose in ONE query (r5 capstone): raw docs →
    five-stage curation (quality → exact dedup → near-dup removal →
    decontamination → mixture) → GPT-style 128-token packed training
    shards, materialized as text. ORACLED end-to-end: the five-stage
    DuckDB chain feeds the window-cumsum packing chain, byte-for-byte on
    seq_text."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    curated = dd.curate_corpus(
        train, bench, "doc_id", "text",
        n=3, threshold=0.5, method="ngram", max_shingle_df=None,
        contamination_n=4,
        quality_bounds=dict(min_tokens=30, max_tokens=90,
                            max_punct_ratio=0.05, max_digit_ratio=0.05,
                            max_dup_token_frac=0.55),
        mixture=("lang", {"en": 0.8, "de": 0.5, "fr": 0.25}, 0.1),
    )
    out = ts.pack_sequences_text(curated, "doc_id", "text", capacity=128)
    return out.select("seq_id", "n_tokens", "seq_text").orderBy("seq_id")


def quality_filter_docs(spark, sf):
    """Gopher-style quality FILTER (r5): keep documents with 30..90
    whitespace tokens, ≤5% punctuation and digit chars, and duplicate-
    token fraction ≤ 0.55 — a non-trivial three-way split on the
    synthetic corpus (length bounds and the repetition bound each drop
    rows). Map-only, no UDF, no shuffle. ORACLED: identical predicates
    in DuckDB."""
    d = _t(spark, sf, "documents")
    out = ts.quality_filter(d, "text", min_tokens=30, max_tokens=90,
                            max_punct_ratio=0.05, max_digit_ratio=0.05,
                            max_dup_token_frac=0.55)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def embedding_neardup_survivors(spark, sf):
    """Embedding-cosine near-dup removal (r5): LSH-pruned exact-verified
    cosine pairs at 0.48 (the proven ann_lsh configuration) → connected
    components → min-vec_id survivor per cluster. ORACLED: brute-force
    cosine pairs + WITH RECURSIVE closure in DuckDB — an LSH miss would
    change the survivor set and go red."""
    e = _t(spark, sf, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    out = sim.embedding_neardup_dedup(e, dim=dim, threshold=0.48,
                                      n_planes=4, n_tables=48)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id")
    ).orderBy("vec_id")


def mixture_sample_docs(spark, sf):
    """Deterministic data-mixture sampling (r5): per-language keep rates
    (en 0.8, de 0.5, fr 0.25, rest 0.1) decided by a portable md5-derived
    uniform over doc_id — the corpus-mixing step of a training recipe,
    reproducible across engines and incremental across crawls. Map-only,
    no UDF, no shuffle. ORACLED: identical hash arithmetic in DuckDB."""
    d = _t(spark, sf, "documents")
    out = A.mixture_sample(d, "lang", {"en": 0.8, "de": 0.5, "fr": 0.25},
                           id_col="doc_id", default_rate=0.1)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def dedup_incremental_docs(spark, sf):
    """Incremental cross-corpus exact dedup (r5): treat even doc_ids as
    the new crawl and every-3rd doc_ids as the previously-kept corpus;
    drop new docs whose normalized text already exists in the reference
    (here: the doc_id % 6 == 0 overlap). Hash-reduced LEFT ANTI — the
    join moves 32-byte sha256 values, never documents. ORACLED: DuckDB
    NOT EXISTS on the same normalization."""
    d = _t(spark, sf, "documents")
    new = d.filter(F.col("doc_id") % 2 == 0)
    ref = d.filter(F.col("doc_id") % 3 == 0)
    out = dd.dedup_against_reference(new, ref, "doc_id", "text")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def pack_docs_sequences(spark, sf):
    """GPT-style sequence packing (r5): concat-and-split the corpus
    token stream into 128-token training sequences, documents spanning
    boundaries (median doc = 56 tokens, so sequences mix docs AND docs
    straddle cuts). Returns the (seq_id, doc_id, tok_start, tok_len)
    assignment table from a two-phase distributed prefix sum — the
    naive single-partition global-window cumsum is exactly what this
    operator exists to avoid. ORACLED: window cumsum + unnest in
    DuckDB."""
    d = _t(spark, sf, "documents")
    out = ts.pack_sequences(d, "doc_id", "text", capacity=128)
    return out.select(
        "seq_id", F.col("id").cast("bigint").alias("doc_id"),
        "tok_start", "tok_len",
    ).orderBy("seq_id", "doc_id")


def pack_docs_sequences_hashorder(spark, sf):
    """Sequence packing in SHUFFLED document order (r5): real training
    shards are packed over a shuffled corpus, not id order — here the
    order column is a portable md5-derived 60-bit key over doc_id, so
    the shuffle is deterministic and engine-reproducible. Exercises
    pack_sequences' order_col parameter (the range repartition and the
    prefix sum follow the hash order). ORACLED: same cumsum chain in
    DuckDB ordered by the identical hash."""
    d = _t(spark, sf, "documents").withColumn(
        "_h",
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit("|ord"))), 18, 15),
               16, 10).cast("long"))
    out = ts.pack_sequences(d, "doc_id", "text", capacity=128,
                            order_col="_h")
    return out.select(
        "seq_id", F.col("id").cast("bigint").alias("doc_id"),
        "tok_start", "tok_len",
    ).orderBy("seq_id", "doc_id")


def pack_docs_sequences_text(spark, sf):
    """Materialized packed shards (r5): the actual 128-token training
    sequences as text — pack_sequences' plan joined back to the corpus,
    token slices migrated once to their output sequence, order restored
    by array_sort (no global window). ORACLED: string_agg of list_slice
    pieces in DuckDB, byte-for-byte."""
    d = _t(spark, sf, "documents")
    out = ts.pack_sequences_text(d, "doc_id", "text", capacity=128)
    return out.select("seq_id", "n_tokens", "seq_text").orderBy("seq_id")


def text_quality_metrics(spark, sf):
    d = _t(spark, sf, "documents")
    m = ts.quality_metrics(d, "text")
    return m.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_chars", "n_tokens", "n_punct", "n_digits", "n_stopwords_en",
    ).orderBy("doc_id")


def pii_redact_docs(spark, sf):
    """PII scrub over the documents table. The synthetic corpus carries no
    PII, so each doc gets a deterministic PII suffix (email + IPv4 + phone
    derived from doc_id) appended IN BOTH ENGINES — the oracle then checks
    the full redaction chain (pattern order included) byte-for-byte."""
    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1415"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
    )
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        ts.redact_pii(synth).alias("redacted"),
    ).orderBy("doc_id")


def repetition_docs(spark, sf):
    """Gopher-style intra-document repetition signals (dup-token fraction,
    top-token share) — boilerplate/keyword-stuffing detection the length
    and stopword metrics miss."""
    d = _t(spark, sf, "documents")
    out = ts.repetition_metrics(d, "doc_id", "text")
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "n_tokens",
        F.col("dup_token_frac").cast("double").alias("dup_token_frac"),
        F.col("top_token_frac").cast("double").alias("top_token_frac"),
    ).orderBy("doc_id")


_LANG_NOISE = "#@! 123 :::"


def _lang_snippet(lang: str) -> str:
    """20 stopwords of `lang` (positions 5-24) — own-language hits are
    always 20, any other language can only match a strict subset, so the
    winner is analytically unambiguous while the oracle still has to
    reproduce the full 12-way scoring + tie-break logic."""
    return " ".join(ts.STOPWORDS[lang][5:25])


def lang_id_heuristic(spark, sf):
    """N1 — multilingual stopword lang-ID (12 languages) over a
    deterministic fixture: doc_id % 13 rewrites the text to a snippet of
    language k's stopwords, or to symbol noise (zero hits → 'und')."""
    d = _t(spark, sf, "documents")
    langs = sorted(ts.STOPWORDS)
    text = F.lit(_LANG_NOISE)
    for i, lang in enumerate(langs):
        text = F.when(F.col("doc_id") % 13 == i,
                      F.lit(_lang_snippet(lang))).otherwise(text)
    fixture = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), text.alias("text")
    )
    return ts.detect_language(fixture).select("doc_id", "lang_pred") \
        .orderBy("doc_id")


def fingerprint_docs(spark, sf):
    d = _t(spark, sf, "documents")
    return ts.fingerprint(d, "text").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "fingerprint"
    ).orderBy("doc_id")


def ann_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in qrow["embedding"]]
    out = sim.cosine_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("sim").cast("double").alias("sim"),
    )


def grouped_user_stats(spark, sf):
    """applyInPandas grouped-map operator verified against SQL (§2.12)."""
    from kgsum_spark.operators.grouped import group_event_stats

    return group_event_stats(_t(spark, sf, "events")).orderBy("group_key")


def dedup_exact_events(spark, sf):
    e = _t(spark, sf, "events")
    out = dd.exact_duplicates(e.withColumnRenamed("props", "text"), "event_id", "text")
    return out.select(
        "text_hash",
        F.col("n_dups").cast("bigint").alias("n_dups"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
    ).orderBy("text_hash")


def knn_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 3)
    out = sim.knn_join(e.filter(F.col("vec_id") >= 3), queries_df, k=5)
    return out.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("id").cast("bigint").alias("nbr_id"),
        F.col("rank").cast("bigint").alias("rank"),
    ).orderBy("qid", "rank")


def pivot_event_matrix(spark, sf):
    e = _t(spark, sf, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .pivot("event_type", kinds).count().na.fill(0)
    )
    return out.select(
        "user_id", *[F.col(k).cast("bigint").alias(k) for k in kinds]
    ).orderBy("user_id")


def rollup_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("o_orderstatus").asc_nulls_last(),
                 F.col("o_orderpriority").asc_nulls_last())
    )


def f1_category_exclusion(spark, sf):
    from kgsum_spark.operators.filters import category_exclusion

    o = _t(spark, sf, "orders").withColumn(
        "category", F.concat(F.lit("  "), F.col("o_orderpriority"), F.lit(" "))
    )
    kept = category_exclusion(o, "category", excluded="1-URGENT")
    return (
        kept.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("status")
    )


def c10_json_parse(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(F.sum(k).cast("bigint").alias("sum_k"),
             F.max(k).cast("bigint").alias("max_k"))
        .orderBy("event_type")
    )


def a8_classification_metrics(spark, sf):
    """Relational P/R/F1 (A8) — synthetic (label, pred) pairs from events."""
    from kgsum_spark.operators.agg import classification_metrics

    e = _t(spark, sf, "events").select(
        F.col("event_type").alias("label"),
        F.when(F.col("event_id") % 7 == 0, F.lit("click"))
        .otherwise(F.col("event_type")).alias("pred"),
    )
    m = classification_metrics(e, "label", "pred")
    return m.select(
        "cls",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("support").cast("bigint").alias("support"),
        F.col("predicted").cast("bigint").alias("predicted"),
        "precision", "recall", "f1",
    ).orderBy("cls")


def j3_union_keep_last(spark, sf):
    """J3 — vertical concat of two shards + keep-last dedup on the key."""
    from kgsum_spark.operators.joins import union_keep_last

    o = _t(spark, sf, "orders")
    shard1 = o.select(F.col("o_orderkey").alias("id"),
                      F.col("o_orderpriority").alias("v"))
    shard2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"), F.lit("OVERRIDDEN").alias("v")
    )
    out = union_keep_last([shard1, shard2], "id")
    return out.select(F.col("id").cast("bigint").alias("id"), "v").orderBy("id")


def o4_first_valid(spark, sf):
    from kgsum_spark.operators.scalar import first_valid_uri

    p = _t(spark, sf, "part")
    uri = F.expr(_PART_URI)
    arr = F.when(F.col("p_partkey") % 3 == 0, F.array(F.lit(""), F.col("p_name"))) \
        .otherwise(F.array(F.lit(""), F.col("p_name"), uri))
    return p.select(
        F.col("p_partkey").cast("bigint").alias("k"),
        first_valid_uri(arr).alias("picked"),
    ).orderBy("k")


# --- r2 additions: profile Q6/Q7/Q9/Q10 on a triples fixture, the
# F-battery, exact stratified split, A9 running accuracy ------------------

def _profile_triples(spark, sf) -> DataFrame:
    """CURIE-spelled triples fixture derived deterministically from events
    (subj, pred, obj, obj_is_iri) — the substrate for the Q6-Q10 profile
    extractors, reconstructible in plain SQL for the oracle."""
    e = _t(spark, sf, "events")
    k = F.pmod(F.col("event_id"), F.lit(50))
    subj = F.concat(F.lit("http://ex.org/d/"), k.cast("string"))
    parts = [
        e.select(
            subj.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.when(k % 10 == 0, F.lit("void:Dataset"))
            .otherwise(F.concat(F.lit("http://ex.org/C"), (k % 5).cast("string")))
            .alias("obj"),
            F.lit(True).alias("obj_is_iri"),
        ),
        e.filter(F.col("value") > 100).select(
            subj.alias("subj"), F.lit("void:sparqlEndpoint").alias("pred"),
            F.concat(F.lit("http://sparql.ex.org/"),
                     F.pmod(F.col("user_id"), F.lit(20)).cast("string")).alias("obj"),
            F.lit(True).alias("obj_is_iri"),
        ),
        e.filter(F.col("value") > 50).select(
            subj.alias("subj"), F.lit("dcterms:creator").alias("pred"),
            F.concat(F.lit("creator-"), (k % 7).cast("string")).alias("obj"),
            F.lit(False).alias("obj_is_iri"),
        ),
        e.filter(F.col("value") > 30).select(
            subj.alias("subj"), F.lit("dcterms:title").alias("pred"),
            F.concat(F.lit("Dataset "), k.cast("string")).alias("obj"),
            F.lit(False).alias("obj_is_iri"),
        ),
        e.filter(F.col("value") > 20).select(
            subj.alias("subj"), F.lit("dcterms:description").alias("pred"),
            F.concat(F.lit("desc "), F.col("event_type"), F.lit(" "),
                     (k % 9).cast("string")).alias("obj"),
            F.lit(False).alias("obj_is_iri"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_TRIPLES_SQL = """
    SELECT 'http://ex.org/d/' || CAST(event_id % 50 AS VARCHAR) AS subj,
           'rdf:type' AS pred,
           CASE WHEN event_id % 50 % 10 = 0 THEN 'void:Dataset'
                ELSE 'http://ex.org/C' || CAST(event_id % 50 % 5 AS VARCHAR) END AS obj,
           TRUE AS obj_is_iri
    FROM events
    UNION ALL
    SELECT 'http://ex.org/d/' || CAST(event_id % 50 AS VARCHAR),
           'void:sparqlEndpoint',
           'http://sparql.ex.org/' || CAST(user_id % 20 AS VARCHAR), TRUE
    FROM events WHERE value > 100
    UNION ALL
    SELECT 'http://ex.org/d/' || CAST(event_id % 50 AS VARCHAR),
           'dcterms:creator',
           'creator-' || CAST(event_id % 50 % 7 AS VARCHAR), FALSE
    FROM events WHERE value > 50
    UNION ALL
    SELECT 'http://ex.org/d/' || CAST(event_id % 50 AS VARCHAR),
           'dcterms:title',
           'Dataset ' || CAST(event_id % 50 AS VARCHAR), FALSE
    FROM events WHERE value > 30
    UNION ALL
    SELECT 'http://ex.org/d/' || CAST(event_id % 50 AS VARCHAR),
           'dcterms:description',
           'desc ' || event_type || ' ' || CAST(event_id % 50 % 9 AS VARCHAR), FALSE
    FROM events WHERE value > 20
"""


def q6_endpoints(spark, sf):
    from kgsum_spark.profile import endpoints

    return endpoints(_profile_triples(spark, sf))


def q7_creators(spark, sf):
    from kgsum_spark.profile import creators

    return creators(_profile_triples(spark, sf))


def q9_titles(spark, sf):
    from kgsum_spark.profile import titles

    return titles(_profile_triples(spark, sf))


def q10_descriptions(spark, sf):
    from kgsum_spark.profile import descriptions

    return descriptions(_profile_triples(spark, sf))


def f2_non_empty(spark, sf):
    from kgsum_spark.operators.filters import non_empty

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("lang")).alias("c"),
    )
    return non_empty(d, ["c"]).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "c"
    ).orderBy("doc_id")


def f5_predicate_prefix(spark, sf):
    from kgsum_spark.operators.filters import predicate_prefix_filter

    p = _t(spark, sf, "part").select(
        F.col("p_partkey").cast("bigint").alias("k"),
        F.when(F.col("p_partkey") % 3 == 0,
               F.concat(F.lit("http://www.w3.org/ns/"), F.col("p_brand")))
        .when(F.col("p_partkey") % 3 == 1, F.expr(_PART_URI))
        .otherwise(F.concat(F.lit("urn:x:"), F.col("p_brand"))).alias("uri"),
    )
    return p.filter(predicate_prefix_filter(F.col("uri"))).orderBy("k")


def f6_lang_fallback(spark, sf):
    from kgsum_spark.operators.filters import lang_filter_with_fallback

    d = _t(spark, sf, "documents")
    out = lang_filter_with_fallback(d, lang_col="lang", lang="en", min_rows=2)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def f7_scrub_empty_lists(spark, sf):
    """Array output serialized with array_join — the driver harness
    canonicalizes via pandas sort and cannot hash list cells."""
    from kgsum_spark.operators.filters import scrub_empty_lists

    e = _t(spark, sf, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("array<string>"))
        .otherwise(F.array(F.col("event_type"))).alias("tags"),
    )
    out = scrub_empty_lists(e, ["tags"])
    return out.select(
        "event_id", F.array_join("tags", ",").alias("tags")
    ).orderBy("event_id")


def f8_title_skip(spark, sf):
    from kgsum_spark.operators.filters import title_skip

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("source"), F.lit(" Wikidata mirror")))
        .otherwise(F.concat(F.col("source"), F.lit(" plain"))).alias("title"),
    )
    return title_skip(d, col="title", needle="wikidata").orderBy("doc_id")


def a7_stratified_split(spark, sf):
    """Exact stratified split with an engine-portable order key (md5 of the
    unique id) so the per-class ranking is SQL-reproducible; emits the fold
    assignment of every row."""
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    train, val, test = A.stratified_split(
        d, "lang", weights=(0.8, 0.1, 0.1),
        order_key=F.md5(F.col("doc_id").cast("string")),
    )
    out = (
        train.withColumn("fold", F.lit("train"))
        .unionByName(val.withColumn("fold", F.lit("val")))
        .unionByName(test.withColumn("fold", F.lit("test")))
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "fold"
    ).orderBy("doc_id")


def a9_running_accuracy(spark, sf):
    e = _t(spark, sf, "events").select(
        "event_id", "ts", "event_type",
        F.when(F.col("value") > 50, F.lit("view"))
        .otherwise(F.col("event_type")).alias("pred_type"),
    )
    out = A.running_accuracy(
        e, "event_type", "pred_type", F.struct(F.col("ts"), F.col("event_id"))
    )
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("hit").cast("bigint").alias("hit"),
        F.col("hits_so_far").cast("bigint").alias("hits_so_far"),
        F.col("n_so_far").cast("bigint").alias("n_so_far"),
        F.col("running_accuracy").cast("double").alias("running_accuracy"),
    ).orderBy("event_id")


# --- r2 batch 2: remaining scalar/join/profile operator surfaces ----------

def f4_c5_uri_predicates(spark, sf):
    """F4 + C5 — both URI regexes (kept verbatim from the reference) over a
    mixed strict/loose/non-URI column; emits both predicate flags."""
    p = _t(spark, sf, "part")
    uri = (
        F.when(F.col("p_partkey") % 4 == 0, F.expr(_PART_URI))
        .when(F.col("p_partkey") % 4 == 1,
              F.concat(F.lit("www."), F.lower(F.regexp_replace("p_brand", "#", "")), F.lit(".com")))
        .when(F.col("p_partkey") % 4 == 2, F.col("p_name"))
        .otherwise(F.concat(F.lit("ftp://files.ex.org/"), F.col("p_brand")))
    )
    return p.select(
        F.col("p_partkey").cast("bigint").alias("k"),
        uri.alias("uri"),
        C.is_uri_strict(uri).alias("strict"),
        C.is_uri_loose(uri).alias("loose"),
    ).orderBy("k")


def j2_left_merge(spark, sf):
    """J2 — left equi-join on a composite key via operators.joins.left_merge."""
    from kgsum_spark.operators.joins import left_merge

    e = _t(spark, sf, "events")
    a = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    b = (
        e.filter(F.col("value") > 50)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_high"))
    )
    return left_merge(a, b, ["user_id", "event_type"]).select(
        F.col("user_id").cast("bigint").alias("user_id"), "event_type",
        "n", "n_high",
    ).orderBy("user_id", "event_type")


def c3_analyze_uri(spark, sf):
    p = _t(spark, sf, "part")
    parts = C.analyze_uri(F.expr(_PART_URI))
    return p.select(
        F.col("p_partkey").cast("bigint").alias("k"),
        parts["namespace"].alias("ns"),
        parts["local_name"].alias("local"),
        parts["tld"].alias("tld"),
    ).orderBy("k")


def c7_c9_text_norm(spark, sf):
    d = _t(spark, sf, "documents")
    decorated = F.concat(F.lit("[Doc] ("), F.col("source"), F.lit(") 'Title:' "),
                         F.col("text").substr(1, 40))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        C.clean_text(decorated).alias("cleaned"),
        C.normalize_label(decorated).alias("norm_label"),
    ).orderBy("doc_id")


def c11_c12_arrays(spark, sf):
    e = _t(spark, sf, "events")
    nested = F.array(
        F.array(F.col("event_type"), F.lit("")),
        F.array(F.lit("u"), F.col("user_id").cast("string")),
    )
    flat = C.flatten_stringify(nested)
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.array_join(flat, ",").alias("flat"),
        C.space_join(flat).alias("joined"),
    ).orderBy("event_id")


def c14_entity_mint(spark, sf):
    e = _t(spark, sf, "events")
    norm = F.trim(F.regexp_replace(F.lower("event_type"), "[^a-z0-9]+", " "))
    return (
        e.select(C.mint_entity_iri("ent:", norm).alias("iri"))
        .distinct().orderBy("iri")
    )


def q13_existence_fallback(spark, sf):
    """Q13 — probe-then-fallback; primary (lang='de') is non-empty at every
    SF, so the probe passes and primary is returned. The empty-primary
    branch is unit-tested (tests/test_profile.py)."""
    from kgsum_spark.profile import existence_fallback

    d = _t(spark, sf, "documents")
    primary = d.filter(F.col("lang") == "de")
    fallback = d.filter(F.col("lang") == "en")
    out = existence_fallback(primary, fallback)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    ).orderBy("doc_id")


def q14_lov_broadcast(spark, sf):
    """Q14/Q15 — point-lookup enrichment as ONE broadcast join (the
    reference loops HTTP calls per URI)."""
    from kgsum_spark.profile import enrich_with_lookup

    d = _t(spark, sf, "documents")
    lookup = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("src_docs"))
    )
    return enrich_with_lookup(d.select("doc_id", "source"), lookup, "source").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "src_docs"
    ).orderBy("doc_id")


def q16_liveness(spark, sf):
    """Q16 — existence probes (limit(1) short-circuit scan), one row per
    probe. The probe itself is a driver-side boolean by nature."""
    from kgsum_spark.profile import has_any

    e = _t(spark, sf, "events")
    alive = has_any(e)
    dead = has_any(e.filter(F.col("value") < 0))
    return spark.createDataFrame(
        [("events", alive), ("events_neg_value", dead)], "probe string, alive boolean"
    ).orderBy("probe")


def s7_nt_lines(spark, sf):
    """S7 — N-Triples textual sink over the profile triples fixture."""
    from kgsum_spark.sources import nt_lines_from_triples

    t = _profile_triples(spark, sf).withColumnRenamed("subj", "s") \
        .withColumnRenamed("pred", "p").withColumnRenamed("obj", "o") \
        .withColumnRenamed("obj_is_iri", "o_is_iri")
    return nt_lines_from_triples(t).distinct().orderBy("value")


def c6_hybrid_tokenizer(spark, sf):
    from kgsum_spark.nlp import hybrid_tokenize

    d = _t(spark, sf, "documents")
    text = F.concat(F.col("text").substr(1, 60),
                    F.lit(" see http://ex.org/doc/"), F.col("doc_id").cast("string"))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.array_join(hybrid_tokenize(text), ",").alias("toks"),
    ).orderBy("doc_id")


def dedup_ngram_prefix(spark, sf):
    """Prefix-filtering EXACT similarity join (AllPairs/PPJoin family) —
    identical output to brute force, verified by the same oracle shape."""
    d = _t(spark, sf, "documents")
    out = dd.ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.6)
    return out.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    ).orderBy("a", "b")


def j8_asof_join(spark, sf):
    """As-of join: every event gets the most recent purchase value of its
    user at-or-before its timestamp. Spark composition (union + forward-
    fill window) vs DuckDB's NATIVE ASOF JOIN — cross-engine proof that
    the composition implements true point-in-time semantics."""
    from kgsum_spark.operators.joins import asof_join

    e = _t(spark, sf, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    out = asof_join(e.select("event_id", "user_id", "ts"), purchases,
                    on="user_id", ts_col="ts",
                    right_cols=["last_purchase_value"])
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("last_purchase_value").cast("double").alias("last_purchase_value"),
    ).orderBy("event_id")


def j9_range_join(spark, sf):
    """Range join: every event within one hour AFTER a signup of the same
    user, via bin-bucketing (equi-join on hour bins + exact filter) — no
    broadcast nested loop. Oracle: plain inequality join in DuckDB."""
    from kgsum_spark.operators.joins import range_join

    e = _t(spark, sf, "events")
    # TIMESTAMP_NTZ can't cast straight to BIGINT under ANSI; session TZ is
    # UTC so cast("timestamp") → long == DuckDB epoch(ts)
    epoch = F.col("ts").cast("timestamp").cast("long")
    pts = e.select(F.col("event_id").alias("event_id"), "user_id",
                   epoch.alias("t"))
    iv = (
        e.filter(F.col("event_type") == "signup")
        .select(F.col("event_id").alias("signup_id"), "user_id",
                epoch.alias("start_t"), (epoch + 3600).alias("end_t"))
    )
    out = range_join(pts, iv, point_col="t", start_col="start_t",
                     end_col="end_t", granularity=3600, on=["user_id"])
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("signup_id").cast("bigint").alias("signup_id"),
    ).orderBy("event_id", "signup_id")


def a10_funnel(spark, sf):
    """Funnel depth per user over the ordered step sequence
    signup → view → purchase (greedy min-ts joins; see
    operators.agg.funnel_steps)."""
    e = _t(spark, sf, "events")
    out = A.funnel_steps(e, "user_id", "event_type", "ts",
                         ["signup", "view", "purchase"])
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("depth").cast("bigint").alias("depth"),
        F.col("reached_ts").cast("timestamp").cast("long").alias("reached_epoch"),
    ).orderBy("user_id")


def w_context_window(spark, sf):
    """Context-window assembly: rowsBetween(-2, 0) frame concatenating the
    last 3 turns per conversation (SURVEY §2.6 frame-spec surface)."""
    from kgsum_spark.assembly import with_context

    turns = _events_as_transcripts(_t(spark, sf, "events"))
    out = with_context(turns, n_prev=2)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("bigint").alias("turn_idx"),
        "context_text",
    ).orderBy("conv_id", "turn_idx")


def ann_ivf_topk(spark, sf):
    """IVF ANN (KMeans coarse quantizer + nprobe-cell scan) at FULL probe,
    where the result provably equals brute force — the SQL oracle is the
    brute-force cosine top-k. Partial-probe recall is covered by tests."""
    e = _t(spark, sf, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in qrow["embedding"]]
    n_cells = 16
    centers, assigned = sim.ivf_build(e.filter(F.col("vec_id") != 0),
                                      dim=len(q), n_cells=n_cells)
    out = sim.ivf_search(assigned, centers, q, k=10, nprobe=n_cells)
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("sim").cast("double").alias("sim"),
    )


def ann_ivf_pruned(spark, sf):
    """IVF search over a MATERIALIZED cell-partitioned parquet layout with
    a GENUINE partial probe (4 of 8 cells) — the scan carries
    PartitionFilters: [cell IN (...)], i.e. file-level pruning (asserted
    in tests/test_datapipe.py). The quantizer here is a sign-bit
    hyperplane cell over dims 1-3 (SQL-portable, unlike KMeans), so the
    DuckDB oracle reproduces the probed-cell membership bit-for-bit; the
    KMeans quantizer path is oracled at full probe (ann_ivf_topk) and
    recall-tested at partial probe."""
    import os

    e = _t(spark, sf, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in qrow["embedding"]]
    cell = (
        F.when(F.element_at("embedding", 1) >= 0, F.lit(4)).otherwise(F.lit(0))
        + F.when(F.element_at("embedding", 2) >= 0, F.lit(2)).otherwise(F.lit(0))
        + F.when(F.element_at("embedding", 3) >= 0, F.lit(1)).otherwise(F.lit(0))
    )
    assigned = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        cell.alias("cell"),
    )
    # probe = the 4 cells closest to the query's own sign-bit cell by
    # Hamming distance (ties -> lower cell id); pure driver-side math
    qbits = ((4 if q[0] >= 0 else 0) + (2 if q[1] >= 0 else 0)
             + (1 if q[2] >= 0 else 0))
    probe = sorted(range(8), key=lambda c: (bin(c ^ qbits).count("1"), c))[:4]
    path = f"/tmp/kgsum_ivf_pruned_{os.path.basename(sf.rstrip('/'))}"
    sim.ivf_write(assigned, path, n_cells=8)
    out = sim.ivf_search_pruned(spark, path, q, k=10, probe=probe)
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("sim").cast("double").alias("sim"),
    )


def mm_image_features(spark, sf):
    """Multimodal REAL-decoder oracle row: synthesize deterministic PPM P6
    payloads from event ids (pixel (y,x,c) = (id*7 + y*11 + x*13 + c*17)
    mod 256), decode them with the actual Netpbm decoder
    (kgsum_spark.datapipe.multimodal.decode_image_real — real raster
    parse + per-channel pixel means), and emit the features. The DuckDB
    oracle computes the SAME means analytically from the generator
    formula, so a decoder bug (offset, row order, channel swap) breaks the
    hash. Means are exact: integer sums < 2^53 in both engines."""
    from kgsum_spark.datapipe import multimodal as mm

    ids = _t(spark, sf, "events").select(
        F.col("event_id").cast("long").alias("media_id")
    ).filter(F.col("media_id") < 200)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                y, x, c = np.meshgrid(np.arange(h), np.arange(w),
                                      np.arange(3), indexing="ij")
                px = ((mid * 7 + y * 11 + x * 13 + c * 17) % 256).astype("uint8")
                rows.append((mid, "image", mm._encode_ppm(px),
                             "image/x-portable-pixmap", {}))
            yield pd.DataFrame(rows, columns=[
                "media_id", "kind", "content", "mime", "meta"])

    media = ids.mapInPandas(gen, mm.MEDIA_SCHEMA)
    out = mm.decode_image_real(media)
    return out.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("mean_r").cast("double").alias("mean_r"),
        F.col("mean_g").cast("double").alias("mean_g"),
        F.col("mean_b").cast("double").alias("mean_b"),
    ).orderBy("media_id")


def doc_length_quantiles(spark, sf):
    """EXACT percentiles (linear interpolation) of per-doc token counts by
    language — Spark `percentile` vs DuckDB `quantile_cont`, both the
    classical sorted+interpolate definition. (percentile_approx is the
    100 TB path; the exact twin is what makes this oracle-able.)"""
    d = _t(spark, sf, "documents")
    n_tok = ts.token_count(F.col("text")).cast("bigint")
    return (
        d.select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.expr("percentile(n_tok, 0.5)").alias("p50"),
            F.expr("percentile(n_tok, 0.9)").alias("p90"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .orderBy("lang")
    )


def s1_mixed_dir_roundtrip(spark, sf):
    """S1 mixed-format directory under the driver gate: the same 300
    events written as TWO files of DIFFERENT serializations (even ids →
    .nt, odd ids → .ttl with a `;` list adding a user IRI), read back in
    one read_rdf_dir call (one scan per format, union). The fixture is
    built with driver-side file writes — it is the INPUT being
    constructed, not the answer; the answer is the distributed parse.
    DuckDB reconstructs the union analytically."""
    import os
    import shutil

    from kgsum_spark.sources import read_rdf_dir

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    rows = e.select("event_id", "event_type", "user_id").collect()
    dirp = f"/tmp/kgsum_s1_mix_{os.path.basename(sf.rstrip('/'))}"
    shutil.rmtree(dirp, ignore_errors=True)
    os.makedirs(dirp)
    with open(os.path.join(dirp, "even.nt"), "w") as f:
        for r in rows:
            if r["event_id"] % 2 == 0:
                f.write(f'<http://ex/e{r["event_id"]}> <http://ex/t> '
                        f'"{r["event_type"]}" .\n')
    with open(os.path.join(dirp, "odd.ttl"), "w") as f:
        f.write("@prefix ex: <http://ex/> .\n")
        for r in rows:
            if r["event_id"] % 2 == 1:
                f.write(f'ex:e{r["event_id"]} ex:t "{r["event_type"]}" ; '
                        f'ex:u <http://u/{r["user_id"]}> .\n')
    t = read_rdf_dir(spark, dirp)
    return t.select("s", "p", "o", "o_is_iri").orderBy("s", "p", "o")


def s1_turtle_roundtrip(spark, sf):
    """S1 Turtle parser under the driver gate: synthesize a Turtle
    document from events (pname subjects, a `;` predicate-object list, a
    quoted literal and an IRI object — real grammar, not NT-in-ttl),
    write it as ONE text file, parse with sources.read_turtle, and emit
    the triples. DuckDB reconstructs the same triples analytically."""
    import os

    from kgsum_spark.sources import read_turtle

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    header = spark.range(1).select(
        F.lit(-1).cast("long").alias("k"),
        F.lit("@prefix ex: <http://ex/> .").alias("value"),
    )
    lines = e.select(
        F.col("event_id").cast("long").alias("k"),
        F.concat(
            F.lit("ex:e"), F.col("event_id").cast("string"),
            F.lit(' ex:t "'), F.col("event_type"),
            F.lit('" ; ex:u <http://u/'), F.col("user_id").cast("string"),
            F.lit("> ."),
        ).alias("value"),
    )
    path = f"/tmp/kgsum_s1_ttl_{os.path.basename(sf.rstrip('/'))}"
    header.unionByName(lines).coalesce(1).sortWithinPartitions("k") \
        .select("value").write.mode("overwrite").text(path)
    t = read_turtle(spark, path)
    return t.select(
        F.col("s"), F.col("p"), F.col("o"), F.col("o_is_iri")
    ).orderBy("s", "p", "o")


def s1_trig_roundtrip(spark, sf):
    """S1 TriG parser under the driver gate: the same events-derived
    statements wrapped in a NAMED GRAPH block — the g column must carry
    the graph IRI on every row."""
    import os

    from kgsum_spark.sources import read_trig

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    mx = 300
    pre = spark.createDataFrame(
        [(-2, "@prefix ex: <http://ex/> ."), (-1, "ex:g1 {")],
        "k long, value string")
    post = spark.createDataFrame([(mx + 1, "}")], "k long, value string")
    lines = e.select(
        F.col("event_id").cast("long").alias("k"),
        F.concat(
            F.lit("ex:e"), F.col("event_id").cast("string"),
            F.lit(' ex:t "'), F.col("event_type"),
            F.lit('" ; ex:u <http://u/'), F.col("user_id").cast("string"),
            F.lit("> ."),
        ).alias("value"),
    )
    path = f"/tmp/kgsum_s1_trig_{os.path.basename(sf.rstrip('/'))}"
    pre.unionByName(lines).unionByName(post).coalesce(1) \
        .sortWithinPartitions("k").select("value") \
        .write.mode("overwrite").text(path)
    t = read_trig(spark, path)
    return t.select("s", "p", "o", "o_is_iri", "g").orderBy("s", "p", "o")


def s1_rdfxml_roundtrip(spark, sf):
    """S1 RDF/XML parser under the driver gate: synthesize an RDF/XML
    document from events (typed property elements: one literal with
    rdf:datatype, one rdf:resource link), parse with sources.read_rdfxml,
    emit the triples; DuckDB reconstructs them analytically."""
    import os

    from kgsum_spark.sources import read_rdfxml

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    mx = 300
    header = spark.range(1).select(
        F.lit(-1).cast("long").alias("k"),
        F.lit('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
              ' xmlns:ex="http://ex/">').alias("value"),
    )
    footer = spark.range(1).select(
        F.lit(mx + 1).cast("long").alias("k"),
        F.lit("</rdf:RDF>").alias("value"),
    )
    rows = e.select(
        F.col("event_id").cast("long").alias("k"),
        F.concat(
            F.lit('<rdf:Description rdf:about="http://ex/e'),
            F.col("event_id").cast("string"), F.lit('"><ex:t>'),
            F.col("event_type"),
            F.lit('</ex:t><ex:u rdf:resource="http://u/'),
            F.col("user_id").cast("string"),
            F.lit('"/></rdf:Description>'),
        ).alias("value"),
    )
    path = f"/tmp/kgsum_s1_xml_{os.path.basename(sf.rstrip('/'))}"
    header.unionByName(rows).unionByName(footer).coalesce(1) \
        .sortWithinPartitions("k").select("value") \
        .write.mode("overwrite").text(path)
    t = read_rdfxml(spark, path)
    return t.select(
        F.col("s"), F.col("p"), F.col("o"), F.col("o_is_iri")
    ).orderBy("s", "p", "o")


def s1_n3_roundtrip(spark, sf):
    """S1 N3 parser under the driver gate (r4): synthesize a Notation3
    document from events exercising the N3-specific sugar — `@keywords`,
    a bare-word `a` type, `is <p> of` (inverse), and `=` (owl:sameAs) —
    write it as ONE text file, parse with sources.read_n3, and emit the
    triples. DuckDB reconstructs the desugared triples analytically
    (reference format list: /root/reference/src/dataset_preparation.py:19)."""
    import os

    from kgsum_spark.sources import read_n3

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    header = spark.createDataFrame(
        [(-2, "@prefix ex: <http://ex/> ."), (-1, "@keywords a .")],
        "k long, value string")
    k = F.col("event_id").cast("string")
    lines = e.select(
        F.col("event_id").cast("long").alias("k"),
        F.concat(
            F.lit("ex:e"), k, F.lit(' ex:t "'), F.col("event_type"),
            F.lit('" ; a ex:Event .\n'),
            F.lit("<http://u/"), F.col("user_id").cast("string"),
            F.lit("> is ex:u of ex:e"), k, F.lit(" .\n"),
            F.lit("ex:e"), k, F.lit(" = ex:same"), k, F.lit(" ."),
        ).alias("value"),
    )
    path = f"/tmp/kgsum_s1_n3_{os.path.basename(sf.rstrip('/'))}"
    header.unionByName(lines).coalesce(1).sortWithinPartitions("k") \
        .select("value").write.mode("overwrite").text(path)
    t = read_n3(spark, path)
    return t.select(
        F.col("s"), F.col("p"), F.col("o"), F.col("o_is_iri")
    ).orderBy("s", "p", "o")


def s2_csv_catalog(spark, sf):
    """S2 CSV catalog scan under the driver gate (r4): write an events
    slice as a real CSV directory, re-read it through
    sources.read_catalog_csv with an explicit schema (never inferSchema —
    reference analog pd.read_csv, /root/reference/src/util.py:147-149),
    and emit the rows. Doubles round-trip exactly (Spark writes the
    shortest repr; both engines re-parse the same decimal)."""
    import os

    from kgsum_spark.sources import read_catalog_csv

    e = _t(spark, sf, "events").filter(F.col("event_id") < 500).select(
        F.col("event_id").cast("long"), "event_type", "value")
    path = f"/tmp/kgsum_s2_csv_{os.path.basename(sf.rstrip('/'))}"
    e.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    t = read_catalog_csv(
        spark, path, "event_id bigint, event_type string, value double")
    return t.orderBy("event_id")


def s3_json_shards(spark, sf):
    """S3 JSON shard scan under the driver gate (r4): write an events
    slice as JSON-lines shards, re-read through sources.read_json_shards
    with an explicit schema (reference analog
    pd.read_json(orient='records'), /root/reference/src/util.py:221-228)."""
    import os

    from kgsum_spark.sources import read_json_shards

    e = _t(spark, sf, "events").filter(F.col("event_id") < 500).select(
        F.col("event_id").cast("long"), "event_type",
        F.col("user_id").cast("long"))
    path = f"/tmp/kgsum_s3_json_{os.path.basename(sf.rstrip('/'))}"
    e.coalesce(2).write.mode("overwrite").json(path)
    t = read_json_shards(
        spark, path, "event_id long, event_type string, user_id long")
    return t.orderBy("event_id")


def kg_multi_profiles(spark, sf):
    """Multi-graph profile battery (r4): EVERY graph's profile in ONE pass
    (profile.build_profiles) — the reference loops create_local_dataset
    one KG at a time (/root/reference/src/dataset_preparation.py:526-586).
    A 3-graph triples fixture is derived from events (graph = event_id%3):
    per-graph class/property/vocabulary/label sets and the per-graph
    title-fallback chain (only graph 0 has dcterms:title rows; its
    title subject is untyped so the label semi-join must exclude it).
    Array features are serialized for the hash compare."""
    from kgsum_spark.profile import build_profiles

    e = _t(spark, sf, "events").filter(F.col("event_id") < 300).select(
        F.col("event_id").cast("long").alias("k"),
        F.col("event_type"),
        F.col("user_id").cast("string").alias("u"),
    )
    g = F.concat(F.lit("http://g/"), (F.col("k") % 3).cast("string"))
    s = F.concat(F.lit("http://d/s"), F.col("u"))
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rdfs_label = "http://www.w3.org/2000/01/rdf-schema#label"
    dct_title = "http://purl.org/dc/terms/title"
    type_rows = e.select(
        g.alias("g"), s.alias("subj"), F.lit(rdf_type).alias("pred"),
        F.concat(F.lit("http://v/C"), (F.col("k") % 5).cast("string")).alias("obj"),
        F.lit(True).alias("obj_is_iri"))
    label_rows = e.select(
        g.alias("g"), s.alias("subj"), F.lit(rdfs_label).alias("pred"),
        F.concat(F.lit("L"), F.col("event_type")).alias("obj"),
        F.lit(False).alias("obj_is_iri"))
    attr_rows = e.select(
        g.alias("g"), s.alias("subj"),
        F.concat(F.lit("http://p"), (F.col("k") % 4).cast("string"),
                 F.lit("/q")).alias("pred"),
        F.concat(F.lit("x"), (F.col("k") % 10).cast("string")).alias("obj"),
        F.lit(False).alias("obj_is_iri"))
    title_rows = e.filter(F.col("k") % 21 == 0).select(
        g.alias("g"), F.lit("http://d/meta").alias("subj"),
        F.lit(dct_title).alias("pred"),
        F.concat(F.lit("T"), F.col("k").cast("string")).alias("obj"),
        F.lit(False).alias("obj_is_iri"))
    t = type_rows.unionByName(label_rows).unionByName(attr_rows) \
        .unionByName(title_rows)
    p = build_profiles(t, "g")
    return p.select(
        F.col("id"), F.col("title"),
        F.array_join("curi", " ").alias("curi_s"),
        F.array_join("puri", " ").alias("puri_s"),
        F.array_join("voc", " ").alias("voc_s"),
        F.array_join("lab", " ").alias("lab_s"),
    ).orderBy("id")


def mm_audio_features(spark, sf):
    """Multimodal audio oracle row: deterministic 16-bit PCM WAV payloads
    (sample[i] = ((id*31 + i*7) mod 2001) - 1000, mono, 8 kHz, 500 + id%300
    samples) decoded by the REAL stdlib-wave decoder
    (multimodal.extract_audio_features_real); DuckDB recomputes the RMS
    analytically. Integer squares sum exactly in both engines; sqrt and
    the duration division are single IEEE-correctly-rounded ops."""
    from kgsum_spark.datapipe import multimodal as mm

    ids = _t(spark, sf, "events").select(
        F.col("event_id").cast("long").alias("media_id")
    ).filter(F.col("media_id") < 200)

    def gen(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 500 + mid % 300
                sig = ((mid * 31 + np.arange(n) * 7) % 2001 - 1000).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(sig.tobytes())
                rows.append((mid, "audio", buf.getvalue(), "audio/wav", {}))
            yield pd.DataFrame(rows, columns=[
                "media_id", "kind", "content", "mime", "meta"])

    media = ids.mapInPandas(gen, mm.MEDIA_SCHEMA)
    out = mm.extract_audio_features_real(media)
    return out.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("channels").cast("int").alias("channels"),
        F.col("rms").cast("double").alias("rms"),
        F.col("duration_sec").cast("double").alias("duration_sec"),
    ).orderBy("media_id")


# --- full-pipeline + verified near-dup entries (all oracled as of r2) -----

def _events_as_transcripts_linked(events: DataFrame) -> DataFrame:
    """Transcript view with LINKING structure on top of the flagship view:
    aka-chains (Ev<k> ↔ Ev<k-1> within each decade → 10-node components,
    multi-hop CC) and 'Ev<k> labs' mentions (token-Jaccard 0.5 similarity
    edges). Every sentence is deterministic in events columns, so a SQL
    oracle can reconstruct the exact triple set."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    k = F.pmod(F.col("event_id"), F.lit(200))
    ent = F.concat(F.lit("Ev"), k.cast("string"))
    sent1 = F.concat(ent, F.lit(" is a "), F.col("event_type"), F.lit("."))
    sent2 = F.when(
        F.col("value") > 10,
        F.concat(F.lit(" "), ent, F.lit(" same as http://ex.org/r/"),
                 F.col("user_id").cast("string"), F.lit(".")),
    ).otherwise(F.lit(""))
    sent3 = F.when(
        k % 10 != 0,
        F.concat(F.lit(" "), ent, F.lit(" also known as Ev"),
                 (k - 1).cast("string"), F.lit(".")),
    ).otherwise(F.lit(""))
    sent4 = F.when(
        F.col("value") > 15,
        F.concat(F.lit(" "), ent, F.lit(" labs was created by "), ent, F.lit(".")),
    ).otherwise(F.lit(""))
    return events.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(sent1, sent2, sent3, sent4).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )


def kg_pipeline_triples(spark, sf):
    """Full KG pipeline — window assembly → regex extraction →
    mention normalization → linking (similarity + sameAs edges) → connected
    components → canonical triples — over the events-derived corpus.

    ORACLED end-to-end: the DuckDB side reconstructs the same raw triples
    from events columns, recomputes token-Jaccard/sameAs edges in SQL, and
    closes components with a WITH RECURSIVE min-label fixpoint."""
    from kgsum_spark.canonicalize import canonical_map
    from kgsum_spark.datapipe._util import persist_tracked
    from kgsum_spark.linking import all_edges

    events = _t(spark, sf, "events")
    turns = assemble_turns(_events_as_transcripts_linked(events)).drop("rn")
    # Three consumers pull the extraction output (CC node collect, edge
    # collect, final canonical join) — persist so the extraction pass
    # runs once, mirroring run_pipeline's parquet stage checkpoint.
    raw = persist_tracked(extract_raw_triples(turns))
    mentions = mentions_from_raw(raw)
    ent = canonical_map(mentions.select("norm").distinct(), all_edges(mentions, raw))
    norm = lambda col: F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))  # noqa: E731
    t = (
        raw.withColumn("subj_norm", norm(F.col("subj")))
        .join(F.broadcast(ent.withColumnRenamed("norm", "subj_norm")
                          .withColumnRenamed("canonical_id", "subj_canon")), "subj_norm", "left")
    )
    return t.select(
        F.coalesce("subj_canon", "subj").alias("subj"), "pred", "obj", "obj_is_iri"
    ).distinct().orderBy("subj", "pred", "obj")


def kg_flagship_histogram(spark, sf):
    """entry() flagship at the given scale factor (events-derived corpus).

    ORACLED: the transcript view maps each event to exactly one
    '<ent> is a <event_type>.' sentence, so the class histogram after
    window assembly + regex extraction must equal a plain
    GROUP BY over events — the whole extraction path is SQL-verified."""
    events = _t(spark, sf, "events")
    turns = assemble_turns(_events_as_transcripts(events)).drop("rn")
    raw = extract_raw_triples(turns)
    return (
        raw.filter(F.col("pred") == "rdf:type")
        .groupBy(F.col("obj").alias("curi"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("curi").asc())
    )


def minhash_neardup_docs(spark, sf):
    """MinHash+LSH candidates, EXACT trigram-Jaccard verified — emitted
    rows are hash-independent, oracled against brute-force all-pairs."""
    d = _t(spark, sf, "documents")
    out = dd.minhash_neardup_verified(d, "doc_id", "text", n=3, threshold=0.5)
    return out.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    ).orderBy("a", "b")


def simhash_neardup_docs(spark, sf):
    """Portable-hash SimHash (md5-based, DuckDB-reproducible) with
    pigeonhole multi-block candidates (guaranteed recall at hamming ≤ 3)
    — oracled against a brute-force SQL SimHash of the same definition."""
    d = _t(spark, sf, "documents")
    out = dd.simhash_hamming_pairs(dd.simhash_md5(d, "doc_id", "text"),
                                   max_hamming=3)
    return out.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    ).orderBy("a", "b")


def ann_lsh_pairs_embeddings(spark, sf):
    """Multi-table hyperplane LSH candidates, EXACT cosine verified —
    oracled against brute-force all-pairs cosine. Synthetic embeddings are
    near-random (max pairwise cos ≈0.5-0.6), so 0.48 captures the true top
    pairs while exercising the bucket-join + verify path."""
    e = _t(spark, sf, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    out = sim.ann_pairs_verified(e, dim=dim, n_planes=4, n_tables=48,
                                 threshold=0.48)
    return out.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("sim").cast("double").alias("sim"),
    ).orderBy("a", "b")


def _release_tracked_caches(fn):
    """Release the PREVIOUS query's tracked persisted intermediates before
    building this one. The near-dup/ANN operators persist self-join inputs
    they cannot unpersist themselves (they return lazy frames); a driver
    session running all 70 queries back-to-back would otherwise accumulate
    MEMORY_AND_DISK blocks. Bounds live cache to one query's worth."""
    def run(spark, sf_dir, _fn=fn):
        from kgsum_spark.datapipe._util import unpersist_tracked
        unpersist_tracked()
        return _fn(spark, sf_dir)
    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_raw()
    return {k: _release_tracked_caches(v) for k, v in base.items()}


def _queries_raw() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_namespaces": q1_namespaces,
        "q2_class_histogram": q2_class_histogram,
        "q3_property_histogram": q3_property_histogram,
        "q4_labels_semi_join": q4_labels_semi_join,
        "q5_tld_histogram": q5_tld_histogram,
        "q8_license_pick": q8_license_pick,
        "q11_dependent_join": q11_dependent_join,
        "q12_connections": q12_connections,
        "j1_outer_merge": j1_outer_merge,
        "j3_keep_last": j3_keep_last,
        "j4_containment_join": j4_containment_join,
        "j5_hash_match_join": j5_hash_match_join,
        "window_turn_assembly": window_turn_assembly,
        "sessionize": sessionize,
        "a3_set_union": a3_set_union,
        "a4_vote_argmax": a4_vote_argmax,
        "a6_systematic_sample": a6_systematic_sample,
        "f3_blacklist_filter": f3_blacklist_filter,
        "c_string_chain": c_string_chain,
        "c10_props_parse": c10_props_parse,
        "tpch_q1_cents": tpch_q1_cents,
        "tpch_q3_cents": tpch_q3_cents,
        "tpch_q5_cents": tpch_q5_cents,
        "tpch_q6_cents": tpch_q6_cents,
        "dedup_exact_docs": dedup_exact_docs,
        "dedup_ngram_pairs": dedup_ngram_pairs,
        "decontaminate_ngram": decontaminate_ngram,
        "decontaminate_drop_docs": decontaminate_drop_docs,
        "dedup_neardup_survivors": dedup_neardup_survivors,
        "dedup_neardup_survivors_minhash": dedup_neardup_survivors_minhash,
        "curation_pipeline_docs": curation_pipeline_docs,
        "curation_full_docs": curation_full_docs,
        "training_shards_docs": training_shards_docs,
        "quality_filter_docs": quality_filter_docs,
        "embedding_neardup_survivors": embedding_neardup_survivors,
        "mixture_sample_docs": mixture_sample_docs,
        "dedup_incremental_docs": dedup_incremental_docs,
        "pack_docs_sequences": pack_docs_sequences,
        "pack_docs_sequences_hashorder": pack_docs_sequences_hashorder,
        "pack_docs_sequences_text": pack_docs_sequences_text,
        "chunk_docs_windows": chunk_docs_windows,
        "text_quality_metrics": text_quality_metrics,
        "pii_redact_docs": pii_redact_docs,
        "repetition_docs": repetition_docs,
        "lang_id_heuristic": lang_id_heuristic,
        "fingerprint_docs": fingerprint_docs,
        "ann_cosine_topk": ann_cosine_topk,
        "grouped_user_stats": grouped_user_stats,
        "dedup_exact_events": dedup_exact_events,
        "knn_topk": knn_topk,
        "pivot_event_matrix": pivot_event_matrix,
        "rollup_orders": rollup_orders,
        "f1_category_exclusion": f1_category_exclusion,
        "c10_json_parse": c10_json_parse,
        "o4_first_valid": o4_first_valid,
        "a8_classification_metrics": a8_classification_metrics,
        "j3_union_keep_last": j3_union_keep_last,
        "q6_endpoints": q6_endpoints,
        "q7_creators": q7_creators,
        "q9_titles": q9_titles,
        "q10_descriptions": q10_descriptions,
        "f2_non_empty": f2_non_empty,
        "f5_predicate_prefix": f5_predicate_prefix,
        "f6_lang_fallback": f6_lang_fallback,
        "f7_scrub_empty_lists": f7_scrub_empty_lists,
        "f8_title_skip": f8_title_skip,
        "a7_stratified_split": a7_stratified_split,
        "a9_running_accuracy": a9_running_accuracy,
        "f4_c5_uri_predicates": f4_c5_uri_predicates,
        "j2_left_merge": j2_left_merge,
        "c3_analyze_uri": c3_analyze_uri,
        "c7_c9_text_norm": c7_c9_text_norm,
        "c11_c12_arrays": c11_c12_arrays,
        "c14_entity_mint": c14_entity_mint,
        "q13_existence_fallback": q13_existence_fallback,
        "q14_lov_broadcast": q14_lov_broadcast,
        "q16_liveness": q16_liveness,
        "s7_nt_lines": s7_nt_lines,
        "c6_hybrid_tokenizer": c6_hybrid_tokenizer,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_ivf_pruned": ann_ivf_pruned,
        "mm_image_features": mm_image_features,
        "mm_audio_features": mm_audio_features,
        "doc_length_quantiles": doc_length_quantiles,
        "s1_turtle_roundtrip": s1_turtle_roundtrip,
        "s1_mixed_dir_roundtrip": s1_mixed_dir_roundtrip,
        "s1_trig_roundtrip": s1_trig_roundtrip,
        "s1_rdfxml_roundtrip": s1_rdfxml_roundtrip,
        "s1_n3_roundtrip": s1_n3_roundtrip,
        "s2_csv_catalog": s2_csv_catalog,
        "s3_json_shards": s3_json_shards,
        "kg_multi_profiles": kg_multi_profiles,
        "dedup_ngram_prefix": dedup_ngram_prefix,
        "j8_asof_join": j8_asof_join,
        "j9_range_join": j9_range_join,
        "w_context_window": w_context_window,
        "a10_funnel": a10_funnel,
        # full-pipeline + verified near-dup surfaces (all oracled as of r2)
        "kg_pipeline_triples": kg_pipeline_triples,
        "kg_flagship_histogram": kg_flagship_histogram,
        "minhash_neardup_docs": minhash_neardup_docs,
        "simhash_neardup_docs": simhash_neardup_docs,
        "ann_lsh_pairs_embeddings": ann_lsh_pairs_embeddings,
    }


_PART_URI_SQL = "concat('http://ex.org/', p_brand, '#', replace(p_type, ' ', '_'))"
_NORM_SQL = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


def _sw_sql(lang: str, limit: int | None = None) -> str:
    """DuckDB list literal of a language's stopword inventory — generated
    from the SAME kgsum_spark dict the Spark side uses, so widening the
    lists can never desynchronize the oracles."""
    words = ts.STOPWORDS[lang][:limit] if limit else ts.STOPWORDS[lang]
    return "[" + ",".join("'" + w + "'" for w in words) + "]"


def _lang_id_oracle_sql() -> str:
    langs = sorted(ts.STOPWORDS)
    snips = "\n".join(
        f"              WHEN {i} THEN '{_lang_snippet(lang)}'"
        for i, lang in enumerate(langs)
    )
    hit_cols = ",\n".join(
        f"                   len(list_filter(tk, x -> list_contains("
        f"{_sw_sql(lang)}, x))) AS h_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    winner = "\n".join(
        f"                        WHEN h_{lang} = {best} THEN '{lang}'"
        for lang in langs
    )
    return f"""
            WITH fixture AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       CASE CAST(doc_id % 13 AS INT)
{snips}
                            ELSE '{_LANG_NOISE}' END AS text
                FROM documents
            ), toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS tk
                FROM fixture
            ), hits AS (
                SELECT doc_id,
{hit_cols}
                FROM toks
            )
            SELECT doc_id,
                   CASE WHEN {best} = 0 THEN 'und'
{winner}
                   END AS lang_pred
            FROM hits ORDER BY doc_id
        """


def oracle_sql() -> dict[str, str]:
    norm_text = _NORM_SQL.format(c="text")
    # portable 60-bit SimHash, generated: 60 bit-sum aggregates + recombine
    # (mirrors kgsum_spark.datapipe.dedup.simhash_md5 exactly)
    simhash_bits = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    simhash_acc = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(60)
    )
    simhash_sql = f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({norm_text}, ' ')) AS tok
            FROM documents
        ), hashed AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 18, 15))::BIGINT AS h
            FROM toks WHERE tok <> ''
        ), bits AS (
            SELECT doc_id, {simhash_bits} FROM hashed GROUP BY doc_id
        ), sh AS (
            SELECT doc_id, ({simhash_acc}) AS simhash FROM bits
        )
        SELECT CAST(x.doc_id AS BIGINT) AS a, CAST(y.doc_id AS BIGINT) AS b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        ORDER BY a, b
    """
    # brute-force exact trigram Jaccard (shared by the ngram and minhash
    # surfaces — the minhash path must converge to the same truth)
    jaccard_sql = f"""
        WITH toks AS (
            SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        ), common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               common / (sa.sz + sb.sz - common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE common / (sa.sz + sb.sz - common) >= 0.5
        ORDER BY a, b
    """
    norm_of = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"
    kg_pipeline_sql = f"""
        WITH RECURSIVE ev AS (
            SELECT event_id % 200 AS k, event_type, user_id, value FROM events
        ), raw AS (
            SELECT 'Ev' || CAST(k AS VARCHAR) AS subj, 'rdf:type' AS pred,
                   event_type AS obj, FALSE AS obj_is_iri, FALSE AS is_m
            FROM ev
            UNION ALL
            SELECT 'Ev' || CAST(k AS VARCHAR), 'owl:sameAs',
                   'http://ex.org/r/' || CAST(user_id AS VARCHAR), TRUE, FALSE
            FROM ev WHERE value > 10
            UNION ALL
            SELECT 'Ev' || CAST(k AS VARCHAR), 'owl:sameAs',
                   'Ev' || CAST(k - 1 AS VARCHAR), FALSE, TRUE
            FROM ev WHERE k % 10 <> 0
            UNION ALL
            SELECT 'Ev' || CAST(k AS VARCHAR) || ' labs', 'dcterms:creator',
                   'Ev' || CAST(k AS VARCHAR), FALSE, TRUE
            FROM ev WHERE value > 15
        ), norms AS (
            SELECT DISTINCT {norm_of.format(c='m')} AS norm
            FROM (SELECT subj AS m FROM raw
                  UNION ALL SELECT obj FROM raw WHERE is_m)
            WHERE {norm_of.format(c='m')} <> ''
        ), toksets AS (
            SELECT norm, string_split(norm, ' ') AS tk,
                   split_part(norm, ' ', 1) AS bk
            FROM norms
        ), sim_edges AS (
            SELECT x.norm AS a, y.norm AS b
            FROM toksets x JOIN toksets y ON x.bk = y.bk AND x.norm < y.norm
            WHERE CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
                  / (len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk))) >= 0.5
        ), same_edges AS (
            SELECT DISTINCT {norm_of.format(c='subj')} AS a,
                   {norm_of.format(c='obj')} AS b
            FROM raw
            WHERE pred = 'owl:sameAs' AND is_m
              AND {norm_of.format(c='subj')} <> '' AND {norm_of.format(c='obj')} <> ''
        ), edges AS (
            SELECT a, b FROM sim_edges UNION SELECT a, b FROM same_edges
        ), esym AS (
            SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
        ), reach AS (
            SELECT norm AS node, norm AS r FROM norms
            UNION
            SELECT e.b AS node, reach.r FROM reach JOIN esym e ON e.a = reach.node
        ), cc AS (
            SELECT node, min(r) AS label FROM reach GROUP BY node
        ), cmap AS (
            SELECT node AS norm, 'ent:' || replace(label, ' ', '_') AS cid FROM cc
        )
        SELECT DISTINCT coalesce(m.cid, r.subj) AS subj, r.pred, r.obj, r.obj_is_iri
        FROM raw r LEFT JOIN cmap m ON {norm_of.format(c='r.subj')} = m.norm
        ORDER BY subj, pred, obj
    """
    strict_re = r"^https?://[^\s<>\"']+$".replace("'", "''")
    loose_re = (r"^(?:(?:https?|ftp|file)://|www\.)[^\s<>\"']+$"
                r"|^[a-zA-Z0-9.-]+\.[a-z]{2,}(?:/[^\s]*)?$").replace("'", "''")
    f4_uri_sql = f"""
        CASE WHEN p_partkey % 4 = 0 THEN {_PART_URI_SQL}
             WHEN p_partkey % 4 = 1
                 THEN 'www.' || lower(replace(p_brand, '#', '')) || '.com'
             WHEN p_partkey % 4 = 2 THEN p_name
             ELSE 'ftp://files.ex.org/' || p_brand END
    """
    jaccard06_sql = f"""
        WITH toks AS (
            SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        ), common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               common / (sa.sz + sb.sz - common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE common / (sa.sz + sb.sz - common) >= 0.6
        ORDER BY a, b
    """
    sqls = {
        "j8_asof_join": """
            WITH purchases AS (
                SELECT user_id, ts, max(value) AS last_purchase_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT CAST(e.event_id AS BIGINT) AS event_id,
                   CAST(p.last_purchase_value AS DOUBLE) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN purchases p
                 ON e.user_id = p.user_id AND e.ts >= p.ts
            ORDER BY event_id
        """,
        "j9_range_join": """
            WITH su AS (
                SELECT event_id AS signup_id, user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS start_t
                FROM events WHERE event_type = 'signup'
            ), pts AS (
                SELECT event_id, user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t
                FROM events
            )
            SELECT CAST(p.event_id AS BIGINT) AS event_id,
                   CAST(su.signup_id AS BIGINT) AS signup_id
            FROM pts p JOIN su
              ON p.user_id = su.user_id
             AND p.t >= su.start_t AND p.t <= su.start_t + 3600
            ORDER BY event_id, signup_id
        """,
        "dedup_ngram_prefix": jaccard06_sql,
        "f4_c5_uri_predicates": f"""
            SELECT CAST(p_partkey AS BIGINT) AS k, uri,
                   regexp_matches(uri, '{strict_re}') AS strict,
                   regexp_matches(uri, '{loose_re}') AS loose
            FROM (SELECT p_partkey, {f4_uri_sql} AS uri FROM part)
            ORDER BY k
        """,
        "j2_left_merge": """
            WITH a AS (
                SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ), b AS (
                SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_high
                FROM events WHERE value > 50 GROUP BY 1, 2
            )
            SELECT CAST(a.user_id AS BIGINT) AS user_id, a.event_type, a.n, b.n_high
            FROM a LEFT JOIN b USING (user_id, event_type)
            ORDER BY user_id, event_type
        """,
        "c3_analyze_uri": f"""
            SELECT CAST(p_partkey AS BIGINT) AS k,
                   split_part(uri, '#', 1) AS ns,
                   regexp_extract(regexp_extract(uri, '([^#]*)$', 1),
                                  '([^/]*)$', 1) AS local,
                   regexp_extract(split_part(uri, '/', 3), '([^.]*)$', 1) AS tld
            FROM (SELECT p_partkey, {_PART_URI_SQL} AS uri FROM part)
            ORDER BY k
        """,
        "c7_c9_text_norm": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   trim(regexp_replace(regexp_replace(decorated,
                        '[\\[\\]\\(\\)\\{\\}]', ' ', 'g'), '\\s+', ' ', 'g')) AS cleaned,
                   trim(regexp_replace(lower(decorated),
                        '["''`.,;:!?]+', '', 'g')) AS norm_label
            FROM (SELECT doc_id,
                         '[Doc] (' || source || ') ''Title:'' '
                         || substr(text, 1, 40) AS decorated
                  FROM documents)
            ORDER BY doc_id
        """,
        "c11_c12_arrays": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   array_to_string(flat, ',') AS flat,
                   array_to_string(flat, ' ') AS joined
            FROM (SELECT event_id,
                         list_filter(flatten([[event_type, ''],
                                              ['u', CAST(user_id AS VARCHAR)]]),
                                     x -> x <> '') AS flat
                  FROM events)
            ORDER BY event_id
        """,
        "c14_entity_mint": """
            SELECT DISTINCT
                   'ent:' || sha256(trim(regexp_replace(lower(event_type),
                                         '[^a-z0-9]+', ' ', 'g'))) AS iri
            FROM events ORDER BY iri
        """,
        "q13_existence_fallback": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
            WHERE lang = 'de' ORDER BY doc_id
        """,
        "q14_lov_broadcast": """
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, l.src_docs
            FROM documents d
            JOIN (SELECT source, CAST(count(*) AS BIGINT) AS src_docs
                  FROM documents GROUP BY 1) l USING (source)
            ORDER BY doc_id
        """,
        "q16_liveness": """
            SELECT 'events' AS probe, EXISTS(SELECT 1 FROM events) AS alive
            UNION ALL
            SELECT 'events_neg_value',
                   EXISTS(SELECT 1 FROM events WHERE value < 0)
            ORDER BY probe
        """,
        "s7_nt_lines": f"""
            SELECT DISTINCT
                   '<' || subj || '> <' || pred || '> ' ||
                   CASE WHEN obj_is_iri THEN '<' || obj || '>'
                        ELSE '"' ||
                             replace(replace(replace(replace(replace(obj,
                                 chr(92), chr(92) || chr(92)),
                                 '"', chr(92) || '"'),
                                 chr(10), chr(92) || 'n'),
                                 chr(13), chr(92) || 'r'),
                                 chr(9), chr(92) || 't') || '"' END
                   || ' .' AS value
            FROM ({_PROFILE_TRIPLES_SQL})
            ORDER BY value
        """,
        "c6_hybrid_tokenizer": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   array_to_string(flatten(list_transform(
                       string_split_regex(trim(text2), '\\s+'),
                       t -> CASE WHEN regexp_matches(t, '{loose_re}')
                                 THEN [t]
                                 ELSE regexp_extract_all(lower(t), '[a-z0-9_]{{2,}}')
                            END)), ',') AS toks
            FROM (SELECT doc_id,
                         substr(text, 1, 60) || ' see http://ex.org/doc/'
                         || CAST(doc_id AS VARCHAR) AS text2
                  FROM documents)
            ORDER BY doc_id
        """,
        "q6_endpoints": f"""
            SELECT DISTINCT obj AS sparql FROM ({_PROFILE_TRIPLES_SQL})
            WHERE pred = 'void:sparqlEndpoint' ORDER BY sparql LIMIT 2
        """,
        "q7_creators": f"""
            SELECT DISTINCT obj AS creator FROM ({_PROFILE_TRIPLES_SQL})
            WHERE pred = 'dcterms:creator' ORDER BY creator LIMIT 5
        """,
        "q9_titles": f"""
            SELECT DISTINCT obj AS title FROM ({_PROFILE_TRIPLES_SQL})
            WHERE pred = 'dcterms:title' ORDER BY title LIMIT 1
        """,
        "q10_descriptions": f"""
            SELECT DISTINCT obj AS dsc FROM ({_PROFILE_TRIPLES_SQL})
            WHERE pred = 'dcterms:description' ORDER BY dsc LIMIT 100
        """,
        "f2_non_empty": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, c FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN ''
                            WHEN doc_id % 11 = 0 THEN NULL
                            ELSE lang END AS c
                FROM documents)
            WHERE c IS NOT NULL AND c <> '' ORDER BY doc_id
        """,
        "f5_predicate_prefix": f"""
            SELECT CAST(p_partkey AS BIGINT) AS k, uri FROM (
                SELECT p_partkey,
                       CASE WHEN p_partkey % 3 = 0
                                THEN 'http://www.w3.org/ns/' || p_brand
                            WHEN p_partkey % 3 = 1 THEN {_PART_URI_SQL}
                            ELSE 'urn:x:' || p_brand END AS uri
                FROM part)
            WHERE uri LIKE 'http://%' AND uri NOT LIKE 'http://www.w3.org%'
            ORDER BY k
        """,
        "f6_lang_fallback": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
            WHERE lang = 'en'
               OR (SELECT count(*) FROM documents WHERE lang = 'en') < 2
            ORDER BY doc_id
        """,
        "f7_scrub_empty_lists": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   coalesce(array_to_string(
                       CASE WHEN event_id % 5 = 0 THEN []::VARCHAR[]
                            ELSE [event_type] END, ','), '') AS tags
            FROM events ORDER BY event_id
        """,
        "f8_title_skip": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   source || ' plain' AS title
            FROM documents WHERE doc_id % 4 <> 0 ORDER BY doc_id
        """,
        "a7_stratified_split": """
            WITH ranked AS (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                                   doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                   CASE WHEN rn <= round(n * 0.8) THEN 'train'
                        WHEN rn <= round(n * 0.9) THEN 'val'
                        ELSE 'test' END AS fold
            FROM ranked ORDER BY doc_id
        """,
        "a9_running_accuracy": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(hit AS BIGINT) AS hit,
                   CAST(sum(hit) OVER w AS BIGINT) AS hits_so_far,
                   CAST(count(*) OVER w AS BIGINT) AS n_so_far,
                   CAST(sum(hit) OVER w AS BIGINT)
                   / CAST(count(*) OVER w AS BIGINT) AS running_accuracy
            FROM (
                SELECT event_id, ts,
                       CASE WHEN event_type =
                                 (CASE WHEN value > 50 THEN 'view'
                                       ELSE event_type END)
                            THEN 1 ELSE 0 END AS hit
                FROM events)
            WINDOW w AS (ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
            ORDER BY event_id
        """,
        "kg_pipeline_triples": kg_pipeline_sql,
        "minhash_neardup_docs": jaccard_sql,
        "simhash_neardup_docs": simhash_sql,
        "ann_lsh_pairs_embeddings": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                FROM embeddings
            ), scored AS (
                SELECT CAST(x.vec_id AS BIGINT) AS a, CAST(y.vec_id AS BIGINT) AS b,
                       list_dot_product(x.ve, y.ve)
                       / (sqrt(list_dot_product(x.ve, x.ve))
                          * sqrt(list_dot_product(y.ve, y.ve))) AS sim
                FROM v x JOIN v y ON x.vec_id < y.vec_id
            )
            SELECT a, b, sim FROM scored WHERE sim >= 0.48 ORDER BY a, b
        """,
        "q1_namespaces": f"""
            SELECT DISTINCT CASE WHEN contains(uri, '#') THEN split_part(uri, '#', 1)
                        ELSE regexp_replace(uri, '/[^/]*$', '') END AS ns
            FROM (SELECT {_PART_URI_SQL} AS uri FROM part)
            ORDER BY ns
        """,
        "q2_class_histogram": """
            SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1
            ORDER BY cnt DESC, k ASC LIMIT 1000
        """,
        "q3_property_histogram": """
            SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS cnt
            FROM orders WHERE o_orderstatus <> 'O'
            GROUP BY 1 ORDER BY cnt DESC, priority ASC
        """,
        "q4_labels_semi_join": """
            SELECT DISTINCT o_orderpriority AS lab FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
            ORDER BY lab
        """,
        "q5_tld_histogram": """
            SELECT regexp_extract(split_part(url, '/', 3), '([^.]+)$', 1) AS tld,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT concat('http://', lower(replace(s_name, '#', '')), '.',
                         CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'org'
                              WHEN 1 THEN 'net' ELSE 'io' END, '/x') AS url
                  FROM supplier)
            GROUP BY 1 ORDER BY tld
        """,
        "q8_license_pick": """
            SELECT min(o_orderpriority) AS license FROM orders WHERE o_orderstatus = 'F'
        """,
        "q11_dependent_join": """
            SELECT DISTINCT c_mktsegment AS sbj
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE' ORDER BY sbj
        """,
        "q12_connections": """
            SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS con FROM supplier
            ORDER BY con LIMIT 1000
        """,
        "j1_outer_merge": """
            SELECT coalesce(c_mktsegment, '?') AS segment,
                   CAST(count(o_orderkey) AS BIGINT) AS n_orders,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lonely
            FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
            GROUP BY 1 ORDER BY segment
        """,
        "j3_keep_last": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(event_id AS BIGINT) AS last_event_id,
                   event_type AS last_type
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            ORDER BY user_id
        """,
        "j4_containment_join": """
            SELECT needle, CAST(count(*) AS BIGINT) AS cnt
            FROM part, (SELECT lower(substr(r_name, 1, 1)) AS needle FROM region) r
            WHERE contains(lower(p_type), needle)
            GROUP BY needle ORDER BY needle
        """,
        "j5_hash_match_join": """
            SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS cnt
            FROM orders
            JOIN customer ON sha256(concat('Customer#', lpad(CAST(o_custkey AS VARCHAR), 9, '0')))
                           = sha256(c_name)
            GROUP BY 1 ORDER BY segment
        """,
        "a10_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY 1
            ), s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
            ), s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
            )
            SELECT CAST(s1.user_id AS BIGINT) AS user_id,
                   CAST(CASE WHEN s3.t IS NOT NULL THEN 3
                             WHEN s2.t IS NOT NULL THEN 2
                             ELSE 1 END AS BIGINT) AS depth,
                   CAST(floor(epoch(coalesce(s3.t, s2.t, s1.t))) AS BIGINT)
                       AS reached_epoch
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            ORDER BY user_id
        """,
        "w_context_window": """
            WITH t AS (
                SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
                       CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts ASC, event_id ASC)
                            - 1 AS BIGINT) AS turn_idx,
                       'Ev' || CAST(event_id % 200 AS VARCHAR) || ' is a '
                       || event_type || '.'
                       || CASE WHEN value > 10
                               THEN ' Ev' || CAST(event_id % 200 AS VARCHAR)
                                    || ' same as http://ex.org/r/'
                                    || CAST(user_id AS VARCHAR) || '.'
                               ELSE '' END AS text
                FROM events
            )
            SELECT conv_id, turn_idx,
                   string_agg(text, ' ') OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS context_text
            FROM t ORDER BY conv_id, turn_idx
        """,
        "window_turn_assembly": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(user_id AS BIGINT) AS user_id,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn
            FROM events
        """,
        "sessionize": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (
                SELECT user_id,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                                 (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
            )
            GROUP BY user_id ORDER BY user_id
        """,
        "a3_set_union": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "a4_vote_argmax": """
            SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS winner
            FROM (
                SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
            )
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) = 1
            ORDER BY user_id
        """,
        "a6_systematic_sample": """
            SELECT CAST(event_id AS BIGINT) AS event_id, event_type
            FROM (
                SELECT event_id, event_type,
                       row_number() OVER (PARTITION BY event_type ORDER BY ts ASC, event_id ASC) AS r
                FROM events
            ) WHERE (r - 1) % 100 = 0 ORDER BY event_id
        """,
        "f3_blacklist_filter": """
            SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS cnt
            FROM part
            WHERE NOT regexp_matches(lower(p_type), 'econ|promo')
            GROUP BY 1 ORDER BY brand
        """,
        "c_string_chain": f"""
            SELECT CAST(p_partkey AS BIGINT) AS k,
                   regexp_extract(uri, '([^#/]+)$', 1) AS local_name,
                   sha256(p_name) AS h
            FROM (SELECT p_partkey, p_name, {_PART_URI_SQL} AS uri FROM part
                  WHERE p_partkey % 97 = 0)
            ORDER BY k
        """,
        "c10_props_parse": """
            SELECT event_type,
                   CAST(sum(CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1 ORDER BY event_type
        """,
        "tpch_q3_cents": """
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS revenue_cents,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10
        """,
        "tpch_q5_cents": """
            SELECT n_name,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue_cents DESC, n_name ASC
        """,
        "tpch_q6_cents": """
            SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
                        AS BIGINT)) AS BIGINT) AS revenue_cents,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q1_cents": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "dedup_exact_docs": f"""
            SELECT sha256({norm_text}) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   CAST(min(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
        """,
        "chunk_docs_windows": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE trim(text) <> ''
            ), starts AS (
                SELECT doc_id, t,
                       unnest(CASE WHEN len(t) >= 16
                              THEN range(1, len(t) - 16 + 2, 12)
                              ELSE [CAST(1 AS BIGINT)] END) AS s
                FROM toks
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST((s - 1) // 12 AS INTEGER) AS chunk_idx,
                   CAST(len(t[s:s+15]) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(t[s:s+15], ' ') AS chunk_text
            FROM starts ORDER BY doc_id, chunk_idx
        """,
        "decontaminate_ngram": f"""
            WITH toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 3, 0) + 1),
                           i -> array_to_string(t[i:i+3], ' ')))) AS shingle
                FROM toks
            ), bench AS (
                SELECT DISTINCT doc_id AS bench_id, shingle FROM sh
                WHERE doc_id % 97 = 0
            )
            SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                   CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_hit_shingles,
                   CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
            FROM sh t JOIN bench b USING (shingle)
            WHERE t.doc_id % 97 <> 0
            GROUP BY t.doc_id ORDER BY doc_id
        """,
        "decontaminate_drop_docs": f"""
            WITH toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 3, 0) + 1),
                           i -> array_to_string(t[i:i+3], ' ')))) AS shingle
                FROM toks
            ), bench AS (
                SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
            ), contaminated AS (
                SELECT DISTINCT doc_id FROM sh
                WHERE doc_id % 97 <> 0
                  AND shingle IN (SELECT shingle FROM bench)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
            FROM documents
            WHERE doc_id % 97 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
            ORDER BY doc_id
        """,
        "dedup_neardup_survivors": f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 0) + 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ), pairs AS (
                SELECT a, b FROM common
                JOIN sizes sa ON sa.doc_id = a
                JOIN sizes sb ON sb.doc_id = b
                WHERE common / (sa.sz + sb.sz - common) >= 0.5
            ), esym AS (
                SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
            ), reach AS (
                SELECT a AS node, a AS r FROM esym
                UNION
                SELECT e.b AS node, reach.r FROM reach JOIN esym e ON e.a = reach.node
            ), cc AS (
                SELECT node, min(r) AS label FROM reach GROUP BY node
            ), keep AS (
                SELECT label, min(node) AS keep_id FROM cc GROUP BY label
            ), dropped AS (
                SELECT node FROM cc JOIN keep USING (label)
                WHERE node <> keep_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
            WHERE doc_id NOT IN (SELECT node FROM dropped)
            ORDER BY doc_id
        """,
        "curation_pipeline_docs": f"""
            WITH RECURSIVE train AS (
                SELECT doc_id, text, lang FROM documents WHERE doc_id % 97 <> 0
            ), ex AS (  -- exact-dedup survivors: min id per normalized text
                SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
                FROM train GROUP BY sha256({norm_text})
            ), ex_surv AS (
                SELECT tr.doc_id, tr.text, tr.lang
                FROM train tr JOIN ex USING (doc_id)
            ), toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t FROM ex_surv
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 0) + 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ), pairs AS (
                SELECT a, b FROM common
                JOIN sizes sa ON sa.doc_id = a
                JOIN sizes sb ON sb.doc_id = b
                WHERE common / (sa.sz + sb.sz - common) >= 0.5
            ), esym AS (
                SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
            ), reach AS (
                SELECT a AS node, a AS r FROM esym
                UNION
                SELECT e.b AS node, reach.r FROM reach JOIN esym e ON e.a = reach.node
            ), cc AS (
                SELECT node, min(r) AS label FROM reach GROUP BY node
            ), keep AS (
                SELECT label, min(node) AS keep_id FROM cc GROUP BY label
            ), dropped AS (
                SELECT node FROM cc JOIN keep USING (label)
                WHERE node <> keep_id
            ), nd AS (  -- near-dup survivors
                SELECT doc_id, text, lang FROM ex_surv
                WHERE doc_id NOT IN (SELECT node FROM dropped)
            ), toks4 AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t
                FROM documents
            ), sh4 AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 3, 0) + 1),
                           i -> array_to_string(t[i:i+3], ' ')))) AS shingle
                FROM toks4
            ), bench4 AS (
                SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 97 = 0
            ), contaminated AS (
                SELECT DISTINCT doc_id FROM sh4
                WHERE shingle IN (SELECT shingle FROM bench4)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM nd
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            ORDER BY doc_id
        """,
        "dedup_ngram_pairs": f"""
            WITH toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 0) + 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
                   common / (sa.sz + sb.sz - common) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE common / (sa.sz + sb.sz - common) >= 0.5
            ORDER BY a, b
        """,
        "pii_redact_docs": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.7 call +1415'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                       '\\+?\\d[\\d()-]{7,}\\d', '<PHONE>', 'g') AS redacted
            FROM documents ORDER BY doc_id
        """,
        "repetition_docs": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({norm_text}, ' ')) AS tok
                FROM documents
            ), pt AS (
                SELECT doc_id, tok, count(*) AS c FROM toks
                WHERE tok <> '' GROUP BY 1, 2
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   1.0 - count(*) / CAST(sum(c) AS DOUBLE) AS dup_token_frac,
                   max(c) / CAST(sum(c) AS DOUBLE) AS top_token_frac
            FROM pt GROUP BY doc_id ORDER BY doc_id
        """,
        "text_quality_metrics": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
                   CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> list_contains({_sw_sql('en')}, x))) AS BIGINT) AS n_stopwords_en
            FROM documents ORDER BY doc_id
        """,
        "lang_id_heuristic": _lang_id_oracle_sql(),
        "fingerprint_docs": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   substr(sha256({norm_text}), 1, 16) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "grouped_user_stats": """
            SELECT CAST(user_id AS BIGINT) AS group_key,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(min(first_id) AS BIGINT) AS first_event_id,
                   CAST(min(last_id) AS BIGINT) AS last_event_id
            FROM (
                SELECT user_id, event_type,
                       first_value(event_id) OVER w AS first_id,
                       last_value(event_id) OVER
                           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            GROUP BY user_id ORDER BY group_key
        """,
        "dedup_exact_events": """
            SELECT sha256(trim(regexp_replace(lower(props), '[^a-z0-9]+', ' ', 'g'))) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_dups,
                   CAST(min(event_id) AS BIGINT) AS keep_id
            FROM events GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
        """,
        "knn_topk": """
            WITH q AS (
                SELECT vec_id AS qid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.qid, e.vec_id AS nbr_id,
                       list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                       / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                                list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM embeddings e, q WHERE e.vec_id >= 3
            )
            SELECT CAST(qid AS BIGINT) AS qid, CAST(nbr_id AS BIGINT) AS nbr_id,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr_id ASC) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= 5
            ORDER BY qid, rank
        """,
        "pivot_event_matrix": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST
        """,
        "f1_category_exclusion": """
            SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS cnt
            FROM orders
            WHERE trim(coalesce(concat('  ', o_orderpriority, ' '), '')) <> '1-URGENT'
            GROUP BY 1 ORDER BY status
        """,
        "c10_json_parse": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY 1 ORDER BY event_type
        """,
        "a8_classification_metrics": """
            WITH pairs AS (
                SELECT event_type AS label,
                       CASE WHEN event_id % 7 = 0 THEN 'click' ELSE event_type END AS pred,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ), tp AS (
                SELECT label AS cls, n AS tp FROM pairs WHERE label = pred
            ), actual AS (
                SELECT label AS cls, sum(n) AS support FROM pairs GROUP BY 1
            ), predicted AS (
                SELECT pred AS cls, sum(n) AS predicted FROM pairs GROUP BY 1
            ), m AS (
                SELECT coalesce(a.cls, p.cls) AS cls,
                       CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
                       CAST(coalesce(a.support, 0) AS BIGINT) AS support,
                       CAST(coalesce(p.predicted, 0) AS BIGINT) AS predicted
                FROM actual a
                FULL OUTER JOIN predicted p ON a.cls = p.cls
                LEFT JOIN tp t ON coalesce(a.cls, p.cls) = t.cls
            )
            SELECT cls, tp, support, predicted,
                   tp / greatest(predicted, 1) AS precision,
                   tp / greatest(support, 1) AS recall,
                   CASE WHEN tp / greatest(predicted, 1) + tp / greatest(support, 1) > 0
                        THEN 2 * (tp / greatest(predicted, 1)) * (tp / greatest(support, 1))
                             / (tp / greatest(predicted, 1) + tp / greatest(support, 1))
                        ELSE 0.0 END AS f1
            FROM m ORDER BY cls
        """,
        "j3_union_keep_last": """
            SELECT CAST(id AS BIGINT) AS id, v FROM (
                SELECT o_orderkey AS id, o_orderpriority AS v, 0 AS rank_ FROM orders
                UNION ALL
                SELECT o_orderkey AS id, 'OVERRIDDEN' AS v, 1 AS rank_
                FROM orders WHERE o_orderkey % 2 = 0
            )
            QUALIFY row_number() OVER (PARTITION BY id ORDER BY rank_ DESC) = 1
            ORDER BY id
        """,
        "kg_flagship_histogram": """
            SELECT event_type AS curi, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1 ORDER BY cnt DESC, curi ASC
        """,
        "o4_first_valid": f"""
            SELECT CAST(p_partkey AS BIGINT) AS k,
                   CASE WHEN p_partkey % 3 = 0 THEN p_name
                        ELSE {_PART_URI_SQL} END AS picked
            FROM part ORDER BY k
        """,
        "ann_ivf_topk": """
            WITH q AS (
                SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                FROM embeddings WHERE vec_id = 0
            ), scored AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                       / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                                list_transform(embedding, x -> CAST(x AS DOUBLE))))
                          * sqrt(list_dot_product(qv, qv))) AS sim
                FROM embeddings, q WHERE vec_id <> 0
            )
            SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
        "mm_image_features": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS media_id FROM events
                WHERE event_id < 200
            ), dims AS (
                SELECT media_id, 4 + media_id % 5 AS w, 3 + media_id % 4 AS h
                FROM ids
            ), px AS (
                SELECT media_id, w, h, yy.v AS y, xx.v AS x
                FROM dims,
                     unnest(generate_series(0, h - 1)) AS yy(v),
                     unnest(generate_series(0, w - 1)) AS xx(v)
            )
            SELECT media_id,
                   CAST(max(w) AS INT) AS width,
                   CAST(max(h) AS INT) AS height,
                   CAST(3 AS INT) AS channels,
                   avg((media_id*7 + y*11 + x*13) % 256) AS mean_r,
                   avg((media_id*7 + y*11 + x*13 + 17) % 256) AS mean_g,
                   avg((media_id*7 + y*11 + x*13 + 34) % 256) AS mean_b
            FROM px GROUP BY media_id ORDER BY media_id
        """,
        "doc_length_quantiles": """
            SELECT lang,
                   quantile_cont(n_tok, 0.5) AS p50,
                   quantile_cont(n_tok, 0.9) AS p90,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT lang,
                         CAST(CASE WHEN trim(text) = '' THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+'))
                              END AS BIGINT) AS n_tok
                  FROM documents)
            GROUP BY lang ORDER BY lang
        """,
        "s1_mixed_dir_roundtrip": """
            WITH base AS (SELECT * FROM events WHERE event_id < 300)
            SELECT s, p, o, o_is_iri FROM (
                SELECT 'http://ex/e' || CAST(event_id AS VARCHAR) AS s,
                       'http://ex/t' AS p, event_type AS o,
                       FALSE AS o_is_iri
                FROM base
                UNION ALL
                SELECT 'http://ex/e' || CAST(event_id AS VARCHAR) AS s,
                       'http://ex/u' AS p,
                       'http://u/' || CAST(user_id AS VARCHAR) AS o,
                       TRUE AS o_is_iri
                FROM base WHERE event_id % 2 = 1
            ) ORDER BY s, p, o
        """,
        "s1_turtle_roundtrip": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS k, event_type,
                       CAST(user_id AS VARCHAR) AS u
                FROM events WHERE event_id < 300
            )
            SELECT s, p, o, o_is_iri FROM (
                SELECT 'http://ex/e' || k AS s, 'http://ex/t' AS p,
                       event_type AS o, FALSE AS o_is_iri FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k, 'http://ex/u',
                       'http://u/' || u, TRUE FROM ids
            ) ORDER BY s, p, o
        """,
        "s1_trig_roundtrip": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS k, event_type,
                       CAST(user_id AS VARCHAR) AS u
                FROM events WHERE event_id < 300
            )
            SELECT s, p, o, o_is_iri, 'http://ex/g1' AS g FROM (
                SELECT 'http://ex/e' || k AS s, 'http://ex/t' AS p,
                       event_type AS o, FALSE AS o_is_iri FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k, 'http://ex/u',
                       'http://u/' || u, TRUE FROM ids
            ) ORDER BY s, p, o
        """,
        "s1_rdfxml_roundtrip": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS k, event_type,
                       CAST(user_id AS VARCHAR) AS u
                FROM events WHERE event_id < 300
            )
            SELECT s, p, o, o_is_iri FROM (
                SELECT 'http://ex/e' || k AS s, 'http://ex/t' AS p,
                       event_type AS o, FALSE AS o_is_iri FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k, 'http://ex/u',
                       'http://u/' || u, TRUE FROM ids
            ) ORDER BY s, p, o
        """,
        "s1_n3_roundtrip": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS k, event_type,
                       CAST(user_id AS VARCHAR) AS u
                FROM events WHERE event_id < 300
            )
            SELECT s, p, o, o_is_iri FROM (
                SELECT 'http://ex/e' || k AS s, 'http://ex/t' AS p,
                       event_type AS o, FALSE AS o_is_iri FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k,
                       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                       'http://ex/Event', TRUE FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k, 'http://ex/u',
                       'http://u/' || u, TRUE FROM ids
                UNION ALL
                SELECT 'http://ex/e' || k,
                       'http://www.w3.org/2002/07/owl#sameAs',
                       'http://ex/same' || k, TRUE FROM ids
            ) ORDER BY s, p, o
        """,
        "s2_csv_catalog": """
            SELECT CAST(event_id AS BIGINT) AS event_id, event_type, value
            FROM events WHERE event_id < 500 ORDER BY event_id
        """,
        "s3_json_shards": """
            SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
                   CAST(user_id AS BIGINT) AS user_id
            FROM events WHERE event_id < 500 ORDER BY event_id
        """,
        "kg_multi_profiles": """
            WITH ev AS (
                SELECT CAST(event_id AS BIGINT) AS k, event_type,
                       CAST(user_id AS VARCHAR) AS u
                FROM events WHERE event_id < 300
            ), tr AS (
                SELECT 'http://g/' || CAST(k % 3 AS VARCHAR) AS g,
                       'http://d/s' || u AS subj,
                       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
                       'http://v/C' || CAST(k % 5 AS VARCHAR) AS obj
                FROM ev
                UNION ALL
                SELECT 'http://g/' || CAST(k % 3 AS VARCHAR),
                       'http://d/s' || u,
                       'http://www.w3.org/2000/01/rdf-schema#label',
                       'L' || event_type FROM ev
                UNION ALL
                SELECT 'http://g/' || CAST(k % 3 AS VARCHAR),
                       'http://d/s' || u,
                       'http://p' || CAST(k % 4 AS VARCHAR) || '/q',
                       'x' || CAST(k % 10 AS VARCHAR) FROM ev
                UNION ALL
                SELECT 'http://g/0', 'http://d/meta',
                       'http://purl.org/dc/terms/title',
                       'T' || CAST(k AS VARCHAR) FROM ev WHERE k % 21 = 0
            ), typed AS (
                SELECT DISTINCT g, subj FROM tr
                WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
            ), gs AS (SELECT DISTINCT g FROM tr),
            curi AS (
                SELECT g, string_agg(DISTINCT obj, ' ' ORDER BY obj) AS v
                FROM tr
                WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                GROUP BY g
            ), puri AS (
                SELECT g, string_agg(DISTINCT pred, ' ' ORDER BY pred) AS v
                FROM tr
                WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                GROUP BY g
            ), voc AS (
                SELECT g, string_agg(DISTINCT ns, ' ' ORDER BY ns) AS v
                FROM (SELECT g,
                        CASE WHEN contains(pred, '#')
                             THEN split_part(pred, '#', 1)
                             ELSE regexp_replace(pred, '/[^/]*$', '') END AS ns
                      FROM tr)
                GROUP BY g
            ), lab AS (
                SELECT t.g, string_agg(DISTINCT t.obj, ' ' ORDER BY t.obj) AS v
                FROM tr t JOIN typed ty ON t.g = ty.g AND t.subj = ty.subj
                WHERE t.pred IN ('http://www.w3.org/2000/01/rdf-schema#label',
                                 'http://purl.org/dc/terms/title')
                GROUP BY t.g
            ), titles AS (
                SELECT g, min(obj) AS v FROM tr
                WHERE pred = 'http://purl.org/dc/terms/title' GROUP BY g
            )
            SELECT gs.g AS id,
                   COALESCE(titles.v, '') AS title,
                   COALESCE(curi.v, '') AS curi_s,
                   COALESCE(puri.v, '') AS puri_s,
                   COALESCE(voc.v, '') AS voc_s,
                   COALESCE(lab.v, '') AS lab_s
            FROM gs
            LEFT JOIN curi ON gs.g = curi.g
            LEFT JOIN puri ON gs.g = puri.g
            LEFT JOIN voc ON gs.g = voc.g
            LEFT JOIN lab ON gs.g = lab.g
            LEFT JOIN titles ON gs.g = titles.g
            ORDER BY id
        """,
        "mm_audio_features": """
            WITH ids AS (
                SELECT CAST(event_id AS BIGINT) AS media_id FROM events
                WHERE event_id < 200
            ), dims AS (
                SELECT media_id, 500 + media_id % 300 AS n FROM ids
            ), samples AS (
                SELECT media_id, n,
                       (media_id*31 + ii.v*7) % 2001 - 1000 AS s
                FROM dims, unnest(generate_series(0, n - 1)) AS ii(v)
            )
            SELECT media_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(max(n) AS BIGINT) AS n_samples,
                   CAST(1 AS INT) AS channels,
                   sqrt(avg(CAST(s*s AS DOUBLE))) AS rms,
                   CAST(max(n) AS DOUBLE) / 8000 AS duration_sec
            FROM samples GROUP BY media_id ORDER BY media_id
        """,
        "ann_ivf_pruned": """
            WITH q AS (
                SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                FROM embeddings WHERE vec_id = 0
            ), qbits AS (
                SELECT (CASE WHEN qv[1] >= 0 THEN 4 ELSE 0 END
                      + CASE WHEN qv[2] >= 0 THEN 2 ELSE 0 END
                      + CASE WHEN qv[3] >= 0 THEN 1 ELSE 0 END) AS qb
                FROM q
            ), probe AS (
                SELECT t.c FROM generate_series(0, 7) t(c), qbits
                ORDER BY bit_count(CAST(xor(t.c, qb) AS BIGINT)), t.c
                LIMIT 4
            ), cells AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                       (CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
                      + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                      + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) AS cell
                FROM embeddings WHERE vec_id <> 0
            ), scored AS (
                SELECT vec_id,
                       list_dot_product(v, qv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(qv, qv))) AS sim
                FROM cells, q
                WHERE cell IN (SELECT c FROM probe)
            )
            SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                FROM embeddings WHERE vec_id = 0
            ), scored AS (
                SELECT CAST(vec_id AS BIGINT) AS vec_id,
                       list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                       / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                                list_transform(embedding, x -> CAST(x AS DOUBLE))))
                          * sqrt(list_dot_product(qv, qv))) AS sim
                FROM embeddings, q WHERE vec_id <> 0
            )
            SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
    }
    # the minhash survivor path shares the brute-force closure oracle: a
    # single LSH miss would change the survivor set and go red
    sqls["dedup_neardup_survivors_minhash"] = sqls["dedup_neardup_survivors"]
    wt = ("list_filter(string_split(trim(regexp_replace(lower(text),"
          "'[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')")
    nrm = _NORM_SQL.format(c="text")
    # five-stage composition: the quality CTE replaces curation_pipeline's
    # raw train CTE; the mixture predicate lands on the final SELECT; the
    # middle (exact → CC closure → decontamination) is the proven chain.
    sqls["curation_full_docs"] = f"""
        WITH RECURSIVE qual AS (
            SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang,
                    CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\\s+'))
                    END AS ntok,
                    len(regexp_extract_all(text, '[^\\w\\s]'))
                        / greatest(length(text), 1) AS punct_r,
                    len(regexp_extract_all(text, '[0-9]'))
                        / greatest(length(text), 1) AS digit_r,
                    CASE WHEN len({wt}) > 0
                         THEN 1 - len(list_distinct({wt})) / len({wt})
                         ELSE 0.0 END AS dupf
                FROM documents WHERE doc_id % 97 <> 0)
            WHERE ntok >= 30 AND ntok <= 90
              AND punct_r <= 0.05 AND digit_r <= 0.05 AND dupf <= 0.55
        ), ex AS (
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
            FROM qual GROUP BY sha256({nrm})
        ), ex_surv AS (
            SELECT q.doc_id, q.text, q.lang FROM qual q JOIN ex USING (doc_id)
        ), toks AS (
            SELECT doc_id, string_split({nrm}, ' ') AS t FROM ex_surv
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        ), common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE common / (sa.sz + sb.sz - common) >= 0.5
        ), esym AS (
            SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
        ), reach AS (
            SELECT a AS node, a AS r FROM esym
            UNION
            SELECT e.b AS node, reach.r FROM reach
            JOIN esym e ON e.a = reach.node
        ), cc AS (
            SELECT node, min(r) AS label FROM reach GROUP BY node
        ), keep AS (
            SELECT label, min(node) AS keep_id FROM cc GROUP BY label
        ), dropped AS (
            SELECT node FROM cc JOIN keep USING (label)
            WHERE node <> keep_id
        ), nd AS (
            SELECT doc_id, text, lang FROM ex_surv
            WHERE doc_id NOT IN (SELECT node FROM dropped)
        ), toks4 AS (
            SELECT doc_id, string_split({nrm}, ' ') AS t FROM documents
        ), sh4 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM toks4
        ), bench4 AS (
            SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 97 = 0
        ), contaminated AS (
            SELECT DISTINCT doc_id FROM sh4
            WHERE shingle IN (SELECT shingle FROM bench4)
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM nd
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'),
                               18, 15))::BIGINT)
              / 1152921504606846976.0
              < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                          WHEN 'fr' THEN 0.25 ELSE 0.1 END
        ORDER BY doc_id
    """
    sqls["quality_filter_docs"] = f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM (
            SELECT doc_id, lang,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
                len(regexp_extract_all(text, '[^\\w\\s]'))
                    / greatest(length(text), 1) AS punct_r,
                len(regexp_extract_all(text, '[0-9]'))
                    / greatest(length(text), 1) AS digit_r,
                CASE WHEN len({wt}) > 0
                     THEN 1 - len(list_distinct({wt})) / len({wt})
                     ELSE 0.0 END AS dupf
            FROM documents)
        WHERE ntok >= 30 AND ntok <= 90
          AND punct_r <= 0.05 AND digit_r <= 0.05 AND dupf <= 0.55
        ORDER BY doc_id
    """
    sqls["pack_docs_sequences"] = """
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS ntok
          FROM documents WHERE trim(text) <> ''
        ), o AS (
          SELECT doc_id, ntok,
                 CAST(SUM(ntok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - ntok AS BIGINT) AS off
          FROM t
        ), e AS (
          SELECT doc_id, ntok, off,
                 unnest(generate_series(off // 128,
                                        (off + ntok - 1) // 128)) AS seq
          FROM o
        )
        SELECT CAST(seq AS BIGINT) AS seq_id,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(greatest(0, seq*128 - off) AS BIGINT) AS tok_start,
               CAST(least(ntok, (seq+1)*128 - off)
                    - greatest(0, seq*128 - off) AS BIGINT) AS tok_len
        FROM e
        ORDER BY seq_id, doc_id
    """
    sqls["pack_docs_sequences_hashorder"] = """
        WITH t AS (
          SELECT doc_id,
                 (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|ord'),
                                  18, 15))::BIGINT) AS h,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS ntok
          FROM documents WHERE trim(text) <> ''
        ), o AS (
          SELECT doc_id, ntok,
                 CAST(SUM(ntok) OVER (ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - ntok AS BIGINT) AS off
          FROM t
        ), e AS (
          SELECT doc_id, ntok, off,
                 unnest(generate_series(off // 128,
                                        (off + ntok - 1) // 128)) AS seq
          FROM o
        )
        SELECT CAST(seq AS BIGINT) AS seq_id,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(greatest(0, seq*128 - off) AS BIGINT) AS tok_start,
               CAST(least(ntok, (seq+1)*128 - off)
                    - greatest(0, seq*128 - off) AS BIGINT) AS tok_len
        FROM e
        ORDER BY seq_id, doc_id
    """
    # capstone: the five-stage curation chain (same CTEs as
    # curation_full_docs, but carrying text) feeding the packing-text
    # chain — raw docs to byte-exact packed training shards in one SQL.
    sqls["training_shards_docs"] = f"""
        WITH RECURSIVE qual AS (
            SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang,
                    CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\\s+'))
                    END AS ntok,
                    len(regexp_extract_all(text, '[^\\w\\s]'))
                        / greatest(length(text), 1) AS punct_r,
                    len(regexp_extract_all(text, '[0-9]'))
                        / greatest(length(text), 1) AS digit_r,
                    CASE WHEN len({wt}) > 0
                         THEN 1 - len(list_distinct({wt})) / len({wt})
                         ELSE 0.0 END AS dupf
                FROM documents WHERE doc_id % 97 <> 0)
            WHERE ntok >= 30 AND ntok <= 90
              AND punct_r <= 0.05 AND digit_r <= 0.05 AND dupf <= 0.55
        ), ex AS (
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
            FROM qual GROUP BY sha256({nrm})
        ), ex_surv AS (
            SELECT q.doc_id, q.text, q.lang FROM qual q JOIN ex USING (doc_id)
        ), toks AS (
            SELECT doc_id, string_split({nrm}, ' ') AS t FROM ex_surv
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        ), common AS (
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE common / (sa.sz + sb.sz - common) >= 0.5
        ), esym AS (
            SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
        ), reach AS (
            SELECT a AS node, a AS r FROM esym
            UNION
            SELECT e.b AS node, reach.r FROM reach
            JOIN esym e ON e.a = reach.node
        ), cc AS (
            SELECT node, min(r) AS label FROM reach GROUP BY node
        ), keep AS (
            SELECT label, min(node) AS keep_id FROM cc GROUP BY label
        ), dropped AS (
            SELECT node FROM cc JOIN keep USING (label)
            WHERE node <> keep_id
        ), nd AS (
            SELECT doc_id, text, lang FROM ex_surv
            WHERE doc_id NOT IN (SELECT node FROM dropped)
        ), toks4 AS (
            SELECT doc_id, string_split({nrm}, ' ') AS t FROM documents
        ), sh4 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM toks4
        ), bench4 AS (
            SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 97 = 0
        ), contaminated AS (
            SELECT DISTINCT doc_id FROM sh4
            WHERE shingle IN (SELECT shingle FROM bench4)
        ), curated AS (
            SELECT doc_id, text FROM nd
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
              AND (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'),
                                   18, 15))::BIGINT)
                  / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                              WHEN 'fr' THEN 0.25 ELSE 0.1 END
        ), pt AS (
          SELECT doc_id, trim(text) AS txt,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS ptok
          FROM curated WHERE trim(text) <> ''
        ), po AS (
          SELECT doc_id, txt, ptok,
                 CAST(SUM(ptok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - ptok AS BIGINT) AS off
          FROM pt
        ), pe AS (
          SELECT doc_id, txt, ptok, off,
                 unnest(generate_series(off // 128,
                                        (off + ptok - 1) // 128)) AS seq
          FROM po
        ), psp AS (
          SELECT CAST(seq AS BIGINT) AS seq_id, doc_id,
                 CAST(greatest(0, seq*128 - off) AS BIGINT) AS tok_start,
                 CAST(least(ptok, (seq+1)*128 - off)
                      - greatest(0, seq*128 - off) AS BIGINT) AS tok_len,
                 txt
          FROM pe
        )
        SELECT seq_id,
               CAST(sum(tok_len) AS BIGINT) AS n_tokens,
               string_agg(
                 array_to_string(
                   list_slice(string_split_regex(txt, '\\s+'),
                              tok_start + 1, tok_start + tok_len), ' '),
                 ' ' ORDER BY doc_id, tok_start) AS seq_text
        FROM psp GROUP BY seq_id ORDER BY seq_id
    """
    sqls["pack_docs_sequences_text"] = """
        WITH t AS (
          SELECT doc_id, trim(text) AS txt,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS ntok
          FROM documents WHERE trim(text) <> ''
        ), o AS (
          SELECT doc_id, txt, ntok,
                 CAST(SUM(ntok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - ntok AS BIGINT) AS off
          FROM t
        ), e AS (
          SELECT doc_id, txt, ntok, off,
                 unnest(generate_series(off // 128,
                                        (off + ntok - 1) // 128)) AS seq
          FROM o
        ), sp AS (
          SELECT CAST(seq AS BIGINT) AS seq_id, doc_id,
                 CAST(greatest(0, seq*128 - off) AS BIGINT) AS tok_start,
                 CAST(least(ntok, (seq+1)*128 - off)
                      - greatest(0, seq*128 - off) AS BIGINT) AS tok_len,
                 txt
          FROM e
        )
        SELECT seq_id,
               CAST(sum(tok_len) AS BIGINT) AS n_tokens,
               string_agg(
                 array_to_string(
                   list_slice(string_split_regex(txt, '\\s+'),
                              tok_start + 1, tok_start + tok_len), ' '),
                 ' ' ORDER BY doc_id, tok_start) AS seq_text
        FROM sp GROUP BY seq_id ORDER BY seq_id
    """
    sqls["mixture_sample_docs"] = """
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'),
                               18, 15))::BIGINT)
              / 1152921504606846976.0
              < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                          WHEN 'fr' THEN 0.25 ELSE 0.1 END
        ORDER BY doc_id
    """
    sqls["dedup_incremental_docs"] = """
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        FROM documents d
        WHERE d.doc_id % 2 = 0
          AND NOT EXISTS (
            SELECT 1 FROM documents r
            WHERE r.doc_id % 3 = 0
              AND trim(regexp_replace(lower(r.text), '[^a-z0-9]+', ' ', 'g'))
                = trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g')))
        ORDER BY doc_id
    """
    sqls["embedding_neardup_survivors"] = """
        WITH RECURSIVE v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
            FROM embeddings
        ), pairs AS (
            SELECT CAST(x.vec_id AS BIGINT) AS a, CAST(y.vec_id AS BIGINT) AS b
            FROM v x JOIN v y ON x.vec_id < y.vec_id
            WHERE list_dot_product(x.ve, y.ve)
                  / (sqrt(list_dot_product(x.ve, x.ve))
                     * sqrt(list_dot_product(y.ve, y.ve))) >= 0.48
        ), esym AS (
            SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
        ), reach AS (
            SELECT a AS node, a AS r FROM esym
            UNION
            SELECT e.b AS node, reach.r FROM reach JOIN esym e ON e.a = reach.node
        ), cc AS (
            SELECT node, min(r) AS label FROM reach GROUP BY node
        ), keep AS (
            SELECT label, min(node) AS keep_id FROM cc GROUP BY label
        ), dropped AS (
            SELECT node FROM cc JOIN keep USING (label) WHERE node <> keep_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM dropped)
        ORDER BY vec_id
    """
    return sqls
