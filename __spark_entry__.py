"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps operator-inventory entries (SURVEY.md §2) to DataFrame
builders; `oracle_sql()` gives the DuckDB-equivalent ANSI SQL the driver
compares against at sf=0.01 (row-count + schema + value-hash). Float
aggregates are rounded identically on both sides so parallel-sum ulp noise
cannot flip the hash.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# module-level so `file: File` UDF hints resolve under postponed
# annotations (udf.input_converters resolves via the fn's module globals)
from datachain_spark.fileobj import File
from datachain_spark.frames import local_frame, spread


# (path, size, mtime_ns) -> the StructType Spark inferred from the file's
# footer. Without a schema, every read runs a one-task job to read the
# footer; with one, none.
_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _SCHEMAS:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


# --------------------------------------------------------------------------
# flagship: CDC replay (the north-star pipeline) — deterministic feed sized
# by scale factor, applied through the exactly-once merge engine
# --------------------------------------------------------------------------
def _cdc_spec(sf_dir: str):
    from datachain_spark.cdc.feed import FeedSpec

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    n_convs = {"0.001": 30, "0.01": 120, "0.1": 600}.get(sf, 30)
    return FeedSpec(n_convs=n_convs, hot_every=100, hot_base=200, batch_size=2000)


def cdc_transcripts_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full feed replay -> final transcripts table (versioned LakeTable,
    exactly-once ledger, LWW, schema evolution). The feed is pure
    arithmetic, so the DuckDB oracle regenerates every event from first
    principles and replays LWW-by-lsn in SQL — a value-exact end-to-end
    check of the whole merge engine; pytest holds the process-level
    oracles (crash-resume, idempotence: tests/test_cdc_replay.py)."""
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import write_feed

    spec = _cdc_spec(sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_entry_")
    write_feed(spark, spec, os.path.join(work, "feed"))
    table, _ = replay_feed_dir(
        spark, os.path.join(work, "table"), os.path.join(work, "feed"), num_buckets=16
    )
    df = table.read(spark)
    return df.select("conv_id", "turn_idx", "role", "text", "tool").orderBy(
        "conv_id", "turn_idx"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: CDC replay final state."""
    return cdc_transcripts_final(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# relational operator surface (SURVEY.md §2.3-2.8)
# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2002-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6 join order: apply the broadcast customer-segment filter to orders
    # BEFORE the big lineitem join (inner joins commute, identical rows) —
    # the selective filter then cuts the orders side ~5x before its
    # exchange and the joined row count ~5x before the aggregate, instead
    # of joining every lineitem row first and filtering after.
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def merge_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataChain merge() semantics: left-outer equi-join with right-side
    column renaming (reference datachain.py:1734-1841)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_name").alias("right_c_name"),
        F.col("c_mktsegment").alias("right_c_mktsegment"),
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_outer")
        .select("o_orderkey", "o_custkey", "o_totalprice", "right_c_name", "right_c_mktsegment")
        .orderBy("o_orderkey")
    )


def union_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 150000)
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        a.unionByName(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("o_orderkey").alias("n_distinct"))
        .orderBy("o_orderpriority")
    )


def subtract_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subtract() = null-safe left anti join (reference warehouse.py:1095-1136)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey.eqNullSafe(big.o_custkey), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def diff_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC classifier A/D/M/S between two synthetic snapshots of `events`
    (reference diff/__init__.py:27-163)."""
    from datachain_spark.diff import diff

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    old = ev
    new = ev.filter(F.col("event_id") % 5 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 3 == 0, F.round(F.col("value") + 1.0, 2)).otherwise(
            F.col("value")
        ),
    )
    inserted = ev.select(
        (F.col("event_id") + 1_000_000).alias("event_id"), "user_id", "event_type", "value"
    ).filter(F.col("event_id") % 7 == 1)
    new = new.unionByName(inserted)
    d = diff(new, old, on=["event_id"], compare=["value"])
    return d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n")).orderBy("diff_status")


def window_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per key over (ts, id) — the CDC dedup idiom as a
    standalone query (north rule: row_number over desc ts/LSN)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
        .orderBy("user_id")
    )


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("p_retailprice"), "rk")
        .orderBy("p_brand", "rk")
    )


def agg_collect_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect()/concat() aggregate functions with deterministic ordering
    (reference func/aggregate.py:9-265)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ",",
            ).alias("type_seq"),
        )
        .orderBy("user_id")
    )


def mutate_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate() with string/conditional/JSON scalar functions
    (reference func/string.py, func/conditional.py)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.length("event_type").alias("type_len"),
        F.upper("event_type").alias("type_upper"),
        F.regexp_replace("event_type", "[aeiou]", "_").alias("type_devoweled"),
        F.get_json_object("props", "$.k").alias("prop_k"),
        F.greatest(F.round("value", 2), F.lit(10.0)).alias("val_floor10"),
        F.when(F.col("value") > 50, "hi").otherwise("lo").alias("val_band"),
    ).orderBy("event_id")


def distinct_on_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct(*cols) keeping the lowest event per key (reference
    SQLDistinct keeps one row per key — we pin which one for determinism)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session; sessions per user.
    Gap arithmetic is in MICROSECONDS (unix_micros <-> DuckDB epoch_us) so
    both sides compare exact integers — second-truncated casts would
    classify a 1800.4s gap differently from fractional epoch() doubles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast: testdata ts is TIMESTAMP_NTZ; session tz is UTC so the cast is
    # wall-clock-identical to DuckDB's epoch_us over the naive timestamp
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    return (
        ev.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachain_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source").orderBy("doc_id")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachain_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    return (
        quality_features(docs)
        .select(
            "doc_id",
            "n_chars_m",
            "n_tokens",
            F.round("avg_token_len", 4).alias("avg_token_len"),
            F.round("punct_ratio", 4).alias("punct_ratio"),
            "distinct_stopwords",
        )
        .orderBy("doc_id")
    )


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachain_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return (
        lang_id(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachain_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return fingerprint(docs).select("doc_id", "fp").orderBy("doc_id")


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datachain_spark.operators.similarity import brute_force_topk

    emb = spread(_t(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, queries, k=3)
    return out.select(
        "q_id", "vec_id", F.round("cos_sim", 3).alias("cos_sim"), "rk"
    ).orderBy("q_id", "rk")


def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, md5-based signatures so DuckDB can
    recompute them from first principles. Oracle equivalence: with
    threshold 0.9 over 32 hashes / 8 bands, mismatches <= 3 < 8, so by
    pigeonhole every above-threshold pair shares a full band — the banded
    LSH output EQUALS brute-force all-pairs (operators/dedup.py)."""
    from datachain_spark.operators.dedup import minhash_lsh_pairs

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id").filter(F.col("doc_id") < 2000)
    return (
        minhash_lsh_pairs(docs, threshold=0.9)
        .select("id_a", "id_b", "n_match")
        .orderBy("id_a", "id_b")
    )


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, md5 token hashes (60-bit) so DuckDB recomputes
    the same fingerprints; chunk blocking has 100% recall at hamming<=3,
    so the output equals brute-force all-pairs — value-exact oracle."""
    from datachain_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return simhash_near_dups(docs, max_hamming=3).orderBy("id_a", "id_b")


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the md5 MinHash near-dup pairs: each doc
    in any pair gets its cluster id (min doc_id of the component). The
    DuckDB oracle recomputes the same pairs and closes them transitively
    with a recursive CTE — value-exact."""
    from datachain_spark.operators.dedup import connected_components, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pairs = minhash_lsh_pairs(docs, threshold=0.9)
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")).orderBy(
        "doc_id"
    )


def embedding_near_dup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection with PLANTED duplicates (the
    natural corpus has none above 0.5 cosine): each vec_id < 200 gets an
    exact copy at vec_id+10000; hyperplane-LSH (md5 planes, reproducible
    in DuckDB) must bucket every copy with its original, and the exact
    cosine filter keeps only true near-dups among bucket collisions."""
    from datachain_spark.operators.similarity import embedding_near_dups

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    allv = emb.unionByName(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    out = embedding_near_dups(allv, dim=64, threshold=0.95)
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 3).alias("cos_sim")
    ).orderBy("id_a", "id_b")


def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs over inverted-index candidates
    (operators/dedup.py ngram_jaccard_pairs). max_df=None because the cap
    provably cannot bind here: a shingle's document frequency is at most
    the 2000 docs in scope, far under any useful cap, so the uncapped
    plan is value-identical to a capped one and skips the doc-frequency
    pass entirely — the same reasoning a real pipeline applies to a
    bounded shard. Pairs sharing zero shingles cannot pass a positive
    threshold, so the inner join loses nothing vs all-pairs."""
    from datachain_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id").filter(F.col("doc_id") < 2000)
    out = ngram_jaccard_pairs(docs, threshold=0.5, max_df=None)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 3).alias("jaccard")
    ).orderBy("id_a", "id_b")


def lsh_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (operators/similarity.py lsh_topk):
    single-probe signature bucket join, md5 planes so DuckDB recomputes the
    identical signatures — the candidate SET (not just the ranking) is
    verified value-exact. 4 planes -> 16 buckets keeps buckets populated at
    oracle scale."""
    from datachain_spark.operators.similarity import lsh_topk

    emb = (
        spread(_t(spark, sf_dir, "embeddings"), "vec_id")
        .filter(F.col("vec_id") < 500)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = lsh_topk(emb, qs, dim=64, k=3, n_planes=4)
    return out.select(
        "q_id", "vec_id", F.round("cos_sim", 3).alias("cos_sim"), "rk"
    ).orderBy("q_id", "rk")


def ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over REAL k-means centroids (operators/similarity.py
    train_centroids_kmeans + ivf_topk): md5 hash-rank seeding and
    round_to=6 centroid quantization make the full Lloyd iteration
    DuckDB-reproducible, so the oracle re-trains the same centroids in SQL
    and must produce the identical inverted file, probe set, and top-k."""
    from datachain_spark.operators.similarity import ivf_topk, train_centroids_kmeans

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = train_centroids_kmeans(emb, k=4, iters=2, round_to=6)
    out = ivf_topk(emb, qs, cents, k=3, nprobe=2)
    return out.select(
        "q_id", "vec_id", F.round("cos_sim", 3).alias("cos_sim"), "rk"
    ).orderBy("q_id", "rk")


def semantic_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py
    semantic_dedup; Abbas et al. 2023): k-means clusters (md5 hash-rank
    seeds, 2 Lloyd iterations, round_to=6 — the same DuckDB-reproducible
    recipe as ivf_topk_kmeans), then within each cluster greedily drop
    docs cosine-similar (>=0.95) to an earlier-ranked member, rank =
    farthest-from-centroid first. Duplicates are PLANTED (each vec_id <
    200 copied to vec_id+10000 — the natural corpus has none above 0.5):
    every copy ties its original on centroid distance, loses the id
    tiebreak, and must be dropped; every original must survive. The
    oracle re-trains the centroids in SQL and replays the same greedy
    rule."""
    from datachain_spark.operators.similarity import (
        semantic_dedup,
        train_centroids_kmeans,
    )

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    allv = emb.unionByName(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    cents = train_centroids_kmeans(allv, k=4, iters=2, round_to=6)
    out = semantic_dedup(allv, cents, eps=0.95)
    return out.select(
        "vec_id", "cell", F.round("centroid_dist", 3).alias("centroid_dist"), "kept"
    ).orderBy("vec_id")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with PLANTED deterministic PII (the
    synthetic corpus has none): each doc gets an email, an IPv4, and an
    international phone derived from doc_id; scrub_pii must redact all
    three. Oracle recomputes the same augmentation + the same regex chain
    (patterns chosen to behave identically under Java regex and RE2)."""
    from datachain_spark.operators.text import scrub_pii

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact u%d@ex%d.com at 10.0.%d.%d or +1415555%04d",
                F.col("doc_id"),
                F.pmod(F.col("doc_id"), F.lit(7)),
                F.pmod(F.col("doc_id"), F.lit(256)),
                F.pmod(F.col("doc_id"), F.lit(100)),
                F.pmod(F.col("doc_id"), F.lit(10000)),
            ),
        ),
    )
    return scrub_pii(planted).select("doc_id", "text").orderBy("doc_id")


def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination — the canonical 13-gram rule of LM data
    curation: corpus docs sharing any distinct 13-gram shingle with the
    benchmark slice are marked with their shared-shingle count (the
    even/odd doc split crosses the corpus's planted near-dup pairs, so
    real contamination exists: 11 of 250 docs at sf0.01). Oracle
    recomputes the same shingle sets and overlap counts brute-force."""
    from datachain_spark.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    # even/odd split: the synthetic corpus's planted near-dup pairs cross
    # parity, so the benchmark slice really contaminates the corpus slice
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    bench = docs.filter(F.col("doc_id") % 2 == 1)
    out = decontaminate(corpus, bench, n=13, min_shared=1, mark_only=True)
    return out.select(
        "doc_id", "contaminated", F.col("n_shared").cast("long").alias("n_shared")
    ).orderBy("doc_id")


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 A1.1): per-doc top
    2-gram fraction and duplicate 5-gram fraction, occurrence-based. One
    tagged explode, two partial-combining aggregations — hot grams
    collapse map-side. Oracle recomputes both fractions from unnested
    grams."""
    from datachain_spark.operators.text import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_signals(docs)
        .select(
            "doc_id",
            F.round("top_ngram_frac", 6).alias("top_ngram_frac"),
            F.round("dup_ngram_frac", 6).alias("dup_ngram_frac"),
        )
        .orderBy("doc_id")
    )


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (word-level subset), pure codegen: word count,
    mean word length, symbol-to-word ratio, alpha-word fraction, stopword
    hits, and the conjunction gopher_pass. Oracle replays each rule in
    DuckDB (234/500 docs pass at sf0.01 — the rule set discriminates)."""
    from datachain_spark.operators.text import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    return (
        gopher_quality(docs)
        .select(
            "doc_id",
            "n_words",
            F.round("mean_word_len", 6).alias("mean_word_len"),
            F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
            F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
            "stopword_hits",
            "gopher_pass",
        )
        .orderBy("doc_id")
    )


def dedup_lines_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup (Raffel et al. 2020 §2.2): every
    distinct line kept once across the corpus at its first (doc_id, pos)
    occurrence, docs rebuilt from survivors. 'Lines' here are fixed
    10-token windows (the synthetic docs are single-line). The skew-safe
    shape: min-struct agg on the line hash (map-side combine), never a
    row_number window over a viral line's million copies. Oracle
    recomputes with a window over exploded lines (4 docs at sf0.01 lose
    every line — the NULL-text edge is exercised)."""
    from datachain_spark.operators.text import dedup_lines_corpus

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    lines = F.when(
        nl >= 1,
        F.transform(
            F.sequence(F.lit(1), nl),
            lambda i: F.array_join(F.slice(toks, (i - 1) * 10 + 1, 10), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ldf = docs.select("doc_id", lines.alias("lines"))
    return dedup_lines_corpus(ldf, "lines").orderBy("doc_id")


def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard write + read (reference lib/webdataset.py,
    lib/tar.py): documents become tar shards (one sample per doc, .txt +
    .cls members, 50 samples/shard, byte-deterministic), read back
    shard-parallel with samples grouped by stem — zero shuffle either
    direction. Oracle: the same rows straight from the documents table —
    the tar round-trip must be value-invisible."""
    import hashlib
    import tempfile

    from datachain_spark.sources.tar import read_webdataset, to_webdataset

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"dc_spark_wds_{tag}")
    src = docs.select(
        (F.col("doc_id") / 50).cast("long").alias("shard"),
        F.format_string("doc_%06d", F.col("doc_id")).alias("key"),
        F.col("text").alias("txt"),
        F.col("lang").alias("cls"),
    )
    to_webdataset(src, out, key_col="key", shard_col="shard", text_cols=["txt", "cls"]).collect()
    return (
        read_webdataset(spark, out, text_cols=["txt", "cls"])
        .select("key", "txt", "cls")
        .orderBy("key")
    )


def asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): each click
    event gets the most recent error event value for the same user at or
    before its timestamp. Implemented via union + carry-forward window
    (datachain_spark/operators/asof.py), verified against DuckDB's native
    ASOF JOIN."""
    from datachain_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )
    # dedupe right side per (user, ts) so tie-breaking is deterministic
    errw = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    errors = (
        ev.filter(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(errw))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.round("value", 2).alias("err_value"))
    )
    out = asof_join(clicks, errors, on="user_id", left_ts="ts", right_ts="ts")
    return out.select(
        "user_id", "event_id", "value", F.col("asof_err_value").alias("last_err_value")
    ).orderBy("event_id")


def nested_struct_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested StructType roundtrip: pack events into a 2-level struct,
    filter and aggregate THROUGH dotted field paths. Catalyst collapses
    CreateNamedStruct + GetStructField to direct column refs, so the plan
    is identical to the flat query — that invariant is what the oracle
    (written flat) verifies."""
    ev = _t(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("user_id"),
            F.struct(F.col("event_type"), F.col("value")).alias("detail"),
        ).alias("e"),
    )
    return (
        nested.filter(F.col("e.detail.value") > 50)
        .groupBy(F.col("e.user_id").alias("user_id"), F.col("e.detail.event_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("e.detail.value"), 2).alias("total"))
        .orderBy("user_id", "event_type")
    )


def read_storage_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_storage over a local dir -> File struct rows (reference
    storage.py:21-262); metadata-only listing (content column pruned away,
    no bytes read). Oracle: DuckDB read_blob() over the same glob."""
    from datachain_spark.sources.storage import read_storage

    files = read_storage(spark, sf_dir, type="meta", glob="*.parquet")
    return files.select(
        F.element_at(F.split(F.col("file.path"), "/"), -1).alias("name"),
        F.col("file.size").alias("size"),
    ).orderBy("name")


def prefetch_file_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_storage meta listing -> prefetch_files (the reference UDF
    prefetcher analog, lib/udf.py:375-432: thread-pool file fetch inside
    the mapInPandas worker) -> real payload byte counts. Oracle: DuckDB
    read_blob() reads the same files' bytes."""
    from datachain_spark.sources.storage import prefetch_files, read_storage

    files = read_storage(spark, sf_dir, type="meta", glob="*.parquet")
    fetched = prefetch_files(files, workers=4)
    return fetched.select(
        F.element_at(F.split(F.col("file.path"), "/"), -1).alias("name"),
        F.length(F.col("data")).cast("bigint").alias("n_bytes"),
    ).orderBy("name")


def file_object_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's primary UDF idiom — `.map(lambda file: ...)` over
    scalar File OBJECTS (reference lib/file.py:200-875) rebuilt from the
    Spark `file` struct by the model-hint coercion (udf.input_converters,
    the row_to_objs analog): each worker stats its file via resolve() and
    reads the first 16 payload bytes via read_bytes(16). Oracle: DuckDB
    read_blob sizes + hex of the same head slice."""
    from datachain_spark.chain import Chain
    from datachain_spark.sources.storage import read_storage

    files = read_storage(spark, sf_dir, type="meta", glob="*.parquet")

    def probe(file: File) -> dict:
        fresh = file.resolve()
        return {
            "name": fresh.name,
            "n_bytes": fresh.size,
            "head_hex": file.read_bytes(16).hex().upper(),
        }

    ch = Chain(files).map(
        probe, output={"name": str, "n_bytes": int, "head_hex": str}
    )
    return ch.df.select("name", "n_bytes", "head_hex").orderBy("name")


def pattern_uri_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_storage with the glob pattern EMBEDDED IN THE URI — brace
    alternation included (reference storage_pattern.py:35-118 split +
    expand; sources/pattern.py): the base is walked once, the filename
    prunes the listing, the full pattern filters via one codegen rlike.
    Oracle: DuckDB read_blob over the two expanded globs."""
    from datachain_spark.sources.storage import read_storage

    files = read_storage(spark, sf_dir + "/*{uments,ddings}.parquet", type="meta")
    return files.select(
        F.element_at(F.split(F.col("file.path"), "/"), -1).alias("name"),
        F.col("file.size").alias("size"),
    ).orderBy("name")


def listings_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listings() over the persistent crawl cache (reference
    lib/dc/listings.py:1-147): two cached crawls of the sf dir enumerate
    with their glob and object counts (counts come from parquet footers,
    no Spark job). Oracle: DuckDB glob() counts of the same patterns."""
    import shutil
    import tempfile

    from datachain_spark.sources.storage import listings, read_storage

    cache = os.path.join(tempfile.gettempdir(), "dc_spark_listings_q")
    shutil.rmtree(cache, ignore_errors=True)
    read_storage(spark, sf_dir, type="meta", glob="*.parquet", cache_root=cache)
    read_storage(spark, sf_dir, type="meta", glob="doc*.parquet", cache_root=cache)
    return (
        listings(spark, cache)
        .select(F.col("glob").alias("pattern"), "num_objects")
        .orderBy("pattern")
    )


def pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (reference has none; SURVEY §2.5 'available in Spark')."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 2))
    )
    return out.select(
        "user_id", *[F.col(k).alias(f"sum_{k}") for k in kinds]
    ).orderBy("user_id")


def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.5 'available in Spark')."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


def running_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window FRAMES (rowsBetween): running sum + trailing-3
    moving average per user — SURVEY §2.6 notes the reference has no frame
    specs at all; Spark's are native."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trail3 = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(running), 2).alias("running_total"),
        F.round(F.avg("value").over(trail3), 2).alias("avg_last3"),
    ).orderBy("user_id", "event_id")


def path_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path functions parent/name/file_stem/file_ext (reference
    func/path.py:6-122) over synthesized paths covering parents,
    multi-extension names, and bare files."""
    from datachain_spark.functions import path as P

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    path = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("data/"), F.col("source"), F.lit("/doc_"), F.col("doc_id"), F.lit(".txt")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("archive/deep/dir/doc_"), F.col("doc_id"), F.lit(".tar.gz")),
        )
        .otherwise(F.concat(F.lit("plainfile"), F.col("doc_id")))
    )
    withp = docs.select("doc_id", path.alias("path"))
    return withp.select(
        "doc_id",
        "path",
        P.parent("path").alias("parent"),
        P.name("path").alias("name"),
        P.file_stem("path").alias("stem"),
        P.file_ext("path").alias("ext"),
    ).orderBy("doc_id")


def string_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: split -> real array with element access,
    literal replace, case mapping, regexp extraction (reference
    func/string.py; its split returns a JSON-encoded array in SQLite)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.replace(F.col("lang"), F.lit("e"), F.lit("3")).alias("lang_l33t"),
        F.upper("source").alias("source_up"),
        F.regexp_extract("source", r"(\d+)", 1).cast("int").alias("src_num"),
    ).orderBy("doc_id")


def numeric_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric/bit function family (reference func/numeric.py:7-178):
    bit_and/bit_or/bit_xor aggregates plus scalar bitwise ops and
    bit_hamming_distance (bit_count of xor)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    masked = ev.select(
        "user_id",
        F.pmod(F.col("event_id"), F.lit(256)).cast("long").alias("m"),
        F.pmod(F.col("event_id") * 7919, F.lit(256)).cast("long").alias("m2"),
    )
    return (
        masked.groupBy("user_id")
        .agg(
            F.bit_and("m").alias("band"),
            F.bit_or("m").alias("bor"),
            F.bit_xor("m").alias("bxor"),
            F.sum(F.bit_count(F.col("m").bitwiseXOR(F.col("m2")))).alias("hamming_total"),
        )
        .orderBy("user_id")
    )


def exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join == EXISTS."""
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join through region/nation/supplier/customer;
    small dims broadcast, big fact shuffles once."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def salted_agg_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) — identical result
    to a plain groupBy, skew-proof shuffle shape."""
    from datachain_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        "user_id",
        {"n": ("count", "*"), "total": ("sum", "value"), "vmax": ("max", "value")},
        salt=8,
    )
    return out.select(
        "user_id", "n", F.round("total", 2).alias("total"), F.round("vmax", 2).alias("vmax")
    ).orderBy("user_id")


def document_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality scoring -> language filter
    -> exact dedup -> corpus stats. Every stage is a library operator
    (operators/text.py, operators/dedup.py); this is the 'clean a crawl
    for pretraining' shape at 100 TB (all JVM expressions, two shuffles:
    dedup window + final agg)."""
    from datachain_spark.operators.dedup import exact_dedup
    from datachain_spark.operators.text import lang_id, quality_features

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    scored = lang_id(quality_features(docs))
    kept = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("punct_ratio") < 0.05)
        & (F.col("lang_pred") == "en")
    )
    deduped = exact_dedup(kept, "text", "doc_id")
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("avg_token_len"), 4).alias("mean_token_len"),
        )
        .orderBy("lang")
    )


def bbox_convert_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar bounding-box format conversion + IoU (functions/bbox.py;
    scalar parity with reference model/utils.py:23-191): deterministic COCO
    boxes derived from order keys, converted coco->voc / coco->yolo /
    coco->albumentations at img_size (1000, 600) with codegen-only
    arithmetic, plus the IoU of each box against itself shifted by +10 px.
    No UDF anywhere — the whole query is one whole-stage-codegen project."""
    from datachain_spark.functions.bbox import bbox_convert, bbox_iou

    k = F.col("o_orderkey").cast("double")
    coco = F.array(k % 500, (k * 7) % 300, k % 97 + 1, k % 53 + 1)
    df = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 20000)
        .select("o_orderkey", coco.alias("coco"))
    )
    voc = bbox_convert(F.col("coco"), "coco", "voc")
    yolo = bbox_convert(F.col("coco"), "coco", "yolo", 1000, 600)
    alb = bbox_convert(F.col("coco"), "coco", "albumentations", 1000, 600)
    shifted = F.array(voc[0] + 10.0, voc[1] + 10.0, voc[2] + 10.0, voc[3] + 10.0)
    return df.select(
        "o_orderkey",
        voc[2].alias("voc_x2"),
        yolo[0].alias("yolo_cx"),
        yolo[1].alias("yolo_cy"),
        yolo[2].alias("yolo_w"),
        yolo[3].alias("yolo_h"),
        alb[0].alias("alb_x1"),
        alb[3].alias("alb_y2"),
        F.round(bbox_iou(voc, shifted), 6).alias("iou"),
    ).orderBy("o_orderkey")


def audio_fragment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end binary audio plumbing (operators/media.py; reference
    lib/audio.py:104-164): synthesize a REAL deterministic WAV per event id
    (encode_wav), cut [0.05s, 0.05s + k*10ms) with the Arrow-batched
    extract_audio_fragments operator, then re-decode the fragment bytes with
    the real WAV parser. The oracle recomputes every number — sample count,
    byte length, mean |amplitude| — arithmetically from the waveform
    formula, so a single wrong byte in the container or PCM math fails the
    hash. Three chained mapInPandas stages, zero shuffles."""
    import pandas as pd

    from datachain_spark.operators.media import extract_audio_fragments
    from datachain_spark.operators.multimodal import encode_wav, parse_wav

    base = (
        _t(spark, sf_dir, "events")
        .select("event_id")
        .filter(F.col("event_id") < 250)
        .select(
            "event_id",
            # 1/16-second units are exact binary fractions: every time value,
            # subtraction, and *8000 below is exact in IEEE doubles, so the
            # oracle's integer arithmetic matches without truncation hazards
            F.lit(0.0625).alias("start"),
            (F.lit(0.0625) + (F.col("event_id") % 7 + 1) * F.lit(0.0625)).alias(
                "end"
            ),
        )
    )

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                encode_wav(int(e) % 500 + 100, sample_rate=8000, seed=int(e))
                for e in pdf["event_id"]
            ]
            yield pdf

    with_payload = base.mapInPandas(
        synth,
        schema=T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("start", T.DoubleType()),
                T.StructField("end", T.DoubleType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    frags = extract_audio_fragments(with_payload)

    def decode(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "frag_sr": pdf["frag_sr"],
                    "frag_samples": pdf["frag_samples"],
                    "frag_bytes": [len(b) for b in pdf["fragment"]],
                    "mean_amp": [
                        round(parse_wav(bytes(b))["mean_amp"], 6)
                        for b in pdf["fragment"]
                    ],
                }
            )
            yield out

    return frags.mapInPandas(
        decode,
        schema="event_id long, frag_sr long, frag_samples long, frag_bytes long, mean_amp double",
    ).orderBy("event_id")


def read_meta_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-from-sample metadata read (sources/meta.py; reference
    meta_formats.py:136-224): write deterministic JSONL files, infer the
    nested schema from the first line, parse with Spark's NATIVE json
    reader (typed long/double/array<struct> columns), explode the item
    arrays and aggregate. The oracle recomputes everything from range() —
    a type mis-inference (e.g. score as string) breaks the value hash."""
    import json as _json

    from datachain_spark.sources.meta import read_meta

    d = tempfile.mkdtemp(prefix="readmeta_")
    for fname, lo, hi in (("a.jsonl", 0, 100), ("b.jsonl", 100, 200)):
        with open(os.path.join(d, fname), "w", encoding="utf-8") as fd:
            for i in range(lo, hi):
                fd.write(
                    _json.dumps(
                        {
                            "user": f"u{i % 7}",
                            "score": i / 4,  # exact binary fractions
                            "items": [{"v": i}, {"v": 3 * i}],
                        }
                    )
                    + "\n"
                )
    df = read_meta(spark, d, format="jsonl")
    return (
        df.select("user", "score", F.explode("items").alias("item"))
        .groupBy("user")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("item.v").alias("sum_v"),
            F.round(F.sum("score"), 2).alias("sum_score"),
        )
        .orderBy("user")
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (functions/url.py, codegen-only): every doc id
    gets a deliberately messy URL variant — case noise, www., default
    ports, trailing slashes, fragments, tracking params, shuffled query
    order — with ids 2r/2r+1 naming the SAME resource r. Canonicalize,
    group, count. The oracle doesn't reimplement the rules: it emits the
    known ground-truth canonical per id, so any rule misfire (a kept
    utm param, an unsorted query, a surviving port) splits a group and
    fails the hash."""
    from datachain_spark.functions.url import canonicalize_url

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    r = (F.col("doc_id") / 2).cast("long")
    h = (r % 50).cast("string")
    rs = r.cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.Example"), h, F.lit(".com:443/a/b"), rs, F.lit("/?b=2&a=1")))
        .when(m == 1, F.concat(F.lit("HTTPS://example"), h, F.lit(".COM/a/b"), rs, F.lit("?a=1&b=2#frag")))
        .when(m == 2, F.concat(F.lit("https://EXAMPLE"), h, F.lit(".com/a/b"), rs, F.lit("?b=2&utm_source=feed&a=1&gclid=xyz")))
        .otherwise(F.concat(F.lit("https://www.example"), h, F.lit(".com:443/a/b"), rs, F.lit("/?a=1&ref=home&b=2")))
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", canonicalize_url("url").alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("min_doc"))
        .orderBy("canon_url")
    )


def incremental_dedup_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.incremental_dedup: CDC-style streaming corpus dedup
    against a persistent bucketed fingerprint registry. Two batches (even
    then odd doc_ids) flow through a fresh registry; the result is batch
    2's survivors — docs whose normalized text neither appeared in batch 1
    nor earlier in batch 2. The registry check is bucket-pruned and
    ledger-idempotent (see test_operators.py replay tests)."""
    import tempfile

    from datachain_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="fp_registry_")
    s1 = incremental_dedup(b1, f"{root}/reg", batch_id=0)
    s1.unpersist()  # registry write already ran eagerly inside the call
    out = incremental_dedup(b2, f"{root}/reg", batch_id=1, update=False)
    return out.select("doc_id").orderBy("doc_id")


def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.corpus_stats in exact mode (oracle-verifiable):
    per-language doc count, token mass, mean, and interpolated p50/p95 of
    the whitespace token count. The scale path is the approx_percentile
    sketch (same operator, exact=False)."""
    from datachain_spark.operators.text import corpus_stats

    docs = _t(spark, sf_dir, "documents")
    out = corpus_stats(docs, "text", group_by="lang", exact=True)
    return out.select(
        "lang",
        "n_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "avg_tokens",
        "p50_tokens",
        "p95_tokens",
    ).orderBy("lang")


def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.vocabulary: top-200 tokens of the corpus under the
    BPE-ish regex tokenizer — explode, one counting shuffle with map-side
    combine, TakeOrdered. Oracle: DuckDB regexp_extract_all + unnest."""
    from datachain_spark.operators.text import vocabulary

    docs = _t(spark, sf_dir, "documents")
    return vocabulary(docs, "text", top_k=200, min_count=2).select(
        "token", F.col("n").cast("long").alias("n")
    )


def explode_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain.explode (reference datachain.py:495-551): JSON metadata
    strings exploded into a typed struct column. The round-trip is
    genuine — to_json builds the strings JVM-side, explode samples rows
    to infer the schema (driver, tiny), then from_json parses EVERY row
    in codegen (the reference maps per-row Python json.loads). Oracle:
    DuckDB builds the same JSON and re-extracts with json_extract."""
    from datachain_spark.chain import Chain

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(F.col("lang"), F.col("n_chars"), F.col("source"))
        ).alias("meta"),
    )
    ch = Chain(j).explode("meta", schema_sample_size=5)
    return ch.df.select(
        "doc_id",
        F.col("meta_expl.lang").alias("lang"),
        F.col("meta_expl.n_chars").alias("n_chars"),
        F.col("meta_expl.source").alias("source"),
    ).orderBy("doc_id")


def pack_sequences_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing layout (operators/text.pack_sequences):
    lay documents end-to-end per language, cut 4096-token sequences, and
    summarize each sequence (docs starting in it, their token mass, how
    many spill over the cut). The running sum is windowed per language —
    no global single-reducer cumsum."""
    from datachain_spark.operators.text import pack_sequences

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000).select(
        "doc_id", "lang", F.col("n_chars").alias("tokens")
    )
    packed = pack_sequences(d, "tokens", 4096, partition_by="lang", order_by="doc_id")
    return (
        packed.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("sum_tokens"),
            F.sum(F.col("crosses").cast("long")).alias("n_crossing"),
        )
        .orderBy("lang", "seq_id")
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.sample_per_group: per-language deterministic
    hash-threshold sample (keep 25% en, 100% es, 50% de, 12.5% fr, drop
    zh). ZERO shuffle — a per-group window sampler would funnel an entire
    multi-TB source through one task; this is a pure codegen filter whose
    surviving row set is identical at any parallelism. Oracle: the same
    md5-derived bucket predicate in DuckDB (integer thresholds, no float
    crosses the engine boundary)."""
    from datachain_spark.operators.sampling import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    out = sample_per_group(
        docs,
        "lang",
        {"en": 0.25, "es": 1.0, "de": 0.5, "fr": 0.125},
        id_col="doc_id",
        default_fraction=0.0,
    )
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.mix_by_token_budget: LLaMA/Pile-style mixture —
    weights {src0:3, src1:1, src2:1, src3:5} over a 2000-token budget;
    each group's keep-threshold = floor(budget·(w/Σw)·RES / group_tokens),
    capped at 1. Phase 1 is one partially-combined agg collected as O(G)
    metadata; phase 2 the zero-shuffle hash filter. Oracle recomputes the
    thresholds from the same data with the identical float-op sequence."""
    from datachain_spark.operators.sampling import mix_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    out = mix_by_token_budget(
        docs,
        weights={"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 5.0},
        token_budget=2000,
        group_col="source",
        id_col="doc_id",
        text_col="text",
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def dedup_spans_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.dedup_spans: Lee et al. 2021 substring dedup —
    every repeated k-token window is cut from all but its first global
    occurrence (k=8 here; 50 in the paper). Duplicated spans are PLANTED
    by appending a 9-token snippet shared within doc_id%5 groups, so each
    group's first doc keeps it and every other doc has it excised; the
    corpus's natural repeated 8-grams dedup too. Oracle: the identical
    window/first-occurrence/coverage pipeline in DuckDB over the same
    planted text."""
    from datachain_spark.operators.dedup import dedup_spans

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1200)
    snip = F.concat(
        F.lit("shared span block "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(" alpha beta gamma delta epsilon"),
    )
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), snip).alias("text")
    )
    return dedup_spans(planted, k=8).orderBy("doc_id")


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/retrieval: inverted-index BM25 top-10 for the query
    'spark window merge' over documents. Index build is ONE explode +
    hash-agg shuffle; search touches only the query terms' postings
    (term filter pushed to the scan on a saved index), idf from an O(|q|)
    broadcast, top-k via TakeOrderedAndProject. Oracle recomputes the
    identical postings, N/avgdl, Lucene-form idf, and BM25 arithmetic in
    SQL; scores rounded to 6 before the (score desc, doc_id) tie-break so
    the top-k set is order-deterministic in both engines."""
    from datachain_spark.operators.retrieval import bm25_topk

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return bm25_topk(docs, "spark window merge", k=10)


def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.dsir_select: DSIR importance resampling (Xie et
    al. 2023) — keep the 60 documents whose hashed unigram+bigram
    distribution is most target-like, target = the Spanish slice. Fit =
    two O(B)-cardinality bucket-count aggregates (B=64 here); scoring is a
    ZERO-shuffle codegen F.aggregate over the gram array with the λ table
    as plan literals; top-n via TakeOrderedAndProject. Oracle re-derives
    the bucket counts, add-1-smoothed log ratios, and per-doc sums from
    first principles in SQL (same md5 bucket hash, same glibc ln)."""
    from datachain_spark.operators.sampling import dsir_select

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    target = docs.filter(F.col("lang") == "es")
    out = dsir_select(docs, target, 60, n_buckets=64)
    return out.select("doc_id", "lang", "dsir_score")


def ccnet_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/lm.ccnet_buckets: CCNet's actual selection rule (Wenzek
    et al. 2020 §4.3) — rank the corpus by LM score, split head/middle/
    tail at the 1/3 and 2/3 exact percentiles (O(1) driver metadata ->
    plan literals), report per-(lang, bucket) counts. Cut comparisons are
    cross-engine safe: doc scores are round-6 quantized, so a percentile
    either equals a quantized value exactly or falls strictly between two
    of them — a 1-ulp interpolation difference can never flip a >=."""
    from datachain_spark.operators.lm import ccnet_buckets, fit_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = fit_bigram_lm(docs.filter(F.col("lang") == "en"))
    b = ccnet_buckets(docs, lm, keep_cols=("lang",))
    return (
        b.groupBy("lang", "lm_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lm_bucket")
    )


def dedup_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sequences.py: sequence-level (conversation-level) exact
    dedup — the same conversation re-ingested under a new id survives
    row-level dedup (every key differs) but is pure duplication at
    training time. Plant duplicates: union events with a +10000-shifted
    copy of the user_id%5==0 users, fingerprint each user's event_id-
    ordered event_type sequence (md5 over unit-separator joins — DuckDB
    reproduces it byte-for-byte), keep the MIN user_id per fingerprint.
    Returns every user with its fingerprint and kept flag: exactly the
    planted copies drop. ONE groupBy shuffle (per-group state = that
    user's own rows); the per-fingerprint winner is a window MIN over the
    O(groups) fingerprint rows — r6: the previous groupBy+self-join form
    evaluated the whole fingerprint subtree TWICE (SortMergeJoin of an
    aggregate of fps against fps itself, 1.47s -> 0.9s at 10x sf0.1);
    the window needs one bounded exchange of the already-aggregated rows
    and computes the identical min."""
    from pyspark.sql import Window

    from datachain_spark.operators.sequences import sequence_fingerprint

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    planted = ev.filter(F.col("user_id") % 5 == 0).withColumn(
        "user_id", F.col("user_id") + F.lit(10000)
    )
    u = ev.unionByName(planted)
    fps = sequence_fingerprint(u, ["user_id"], ["event_id"], ["event_type"])
    winner = F.min("user_id").over(Window.partitionBy("seq_fp"))
    return (
        fps.select(
            "user_id",
            "n_items",
            "seq_fp",
            (F.col("user_id") == winner).alias("kept"),
        )
        .orderBy("user_id")
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/bpe.fit_bpe: BPE tokenizer training (Sennrich et al. 2016)
    — 5 merges learned from the documents corpus, char-level over the
    word-frequency vocabulary. One Spark aggregation builds the vocab,
    which is collected; the merges are learned on the driver with an
    incremental pair index. The reference has no tokenizer surface
    (nearest: scalar string funcs, src/datachain/func/string.py). Oracle:
    the same 5 steps unrolled as CTE chains — greedy merges via the
    parity-of-consecutive-match-runs formulation, which equals the
    left-to-right greedy scan (overlaps only arise when left==right, where
    runs of matches merge at odd offsets)."""
    from datachain_spark.operators.bpe import fit_bpe

    merges = fit_bpe(_t(spark, sf_dir, "documents"), num_merges=5)
    schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("left_sym", T.StringType()),
            T.StructField("right_sym", T.StringType()),
            T.StructField("pair_count", T.LongType()),
        ]
    )
    # the local frame holds the rows in step order; coalesce(1) keeps that
    # order through the sort without an exchange
    cols = {f.name: [m[f.name] for m in merges] for f in schema.fields}
    return local_frame(spark, schema, cols).coalesce(1).sortWithinPartitions("step")


def sft_render_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/transcripts.render_conversations: row-per-turn
    conversations -> one rendered role-tagged training example per
    conversation + loss-mask character spans (the SFT 'mask everything
    except the assistant turns' recipe). Events stand in as conversations
    (conv=user_id, order=event_id, role=event_type, text=props; mask role
    'click'). One groupBy(conv) shuffle, everything after is codegen array
    expressions (sort_array, prefix-sum aggregate, filter). Flattened to
    one row per span so the driver hashes scalars, not nested structs.
    Oracle rebuilds the rendering and the offset arithmetic with DuckDB
    list functions."""
    from datachain_spark.operators.transcripts import render_conversations

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )
    r = render_conversations(df, mask_roles=("click",))
    return (
        r.select(
            "conv_id", "n_turns", "text", F.posexplode("loss_spans").alias("i", "sp")
        )
        .select(
            "conv_id",
            "n_turns",
            "text",
            (F.col("i") + 1).cast("int").alias("span_idx"),
            F.col("sp.s").alias("s"),
            F.col("sp.e").alias("e"),
        )
        .orderBy("conv_id", "span_idx")
    )


def conversation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/transcripts.conversation_stats: per-conversation
    structural quality signals (role alternation, empty-turn fraction,
    turn-length stats) — the transcript-native analog of the document
    quality filters. Events stand in as conversations (same mapping as
    sft_render_spans). One groupBy shuffle + codegen arrays; oracle
    rebuilds every signal with DuckDB list functions."""
    from datachain_spark.operators.transcripts import conversation_stats

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )
    return conversation_stats(df).orderBy("conv_id")


def sft_expand_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/transcripts.expand_sft_examples: per-turn (context,
    target) expansion — every target-role turn becomes one training
    example whose context is all preceding turns rendered + the target
    turn's opening tag. Same conv mapping as sft_render_spans (target
    role 'click'); a cross-operator pytest property proves context ==
    rendered_text[:span.s] and target == text[s:e]. One groupBy shuffle +
    posexplode over target indices; oracle rebuilds the slices in SQL."""
    from datachain_spark.operators.transcripts import expand_sft_examples

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )
    return expand_sft_examples(df, target_roles=("click",)).orderBy(
        "conv_id", "example_idx"
    )


def truncate_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/transcripts.truncate_to_budget: context-window truncation
    — per conversation keep the longest SUFFIX of turns fitting an
    8-token budget (last turn always survives). ONE window shuffle
    (running suffix token sum in reverse turn order) + codegen filter —
    row-shaped, no per-group arrays, safe for unbounded conversations.
    Oracle: the identical reverse-ordered window sum in SQL."""
    from datachain_spark.operators.transcripts import truncate_to_budget

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )
    from datachain_spark.operators.text import token_count

    return (
        truncate_to_budget(df, 8)
        .withColumn(
            "n_tokens", token_count(F.coalesce(F.col("text"), F.lit(""))).cast("int")
        )
        .select("conv_id", "turn_idx", "role", "n_tokens")
        .orderBy("conv_id", "turn_idx")
    )


def sft_echo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/transcripts.echo_overlap composed after
    expand_sft_examples: per SFT pair, the fraction of the target's
    distinct word n-grams already present in the context (n=1 here —
    unigram echo — so the synthetic props vocabulary produces a spread of
    fractions). Pure codegen on top of the expand plan, zero extra
    shuffles. Oracle replays the expansion and the normalized token-set
    intersection in SQL."""
    from datachain_spark.operators.transcripts import (
        echo_overlap,
        expand_sft_examples,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )
    pairs = expand_sft_examples(df, target_roles=("click",))
    return (
        echo_overlap(pairs, n=1)
        .select("conv_id", "example_idx", "echo_frac")
        .orderBy("conv_id", "example_idx")
    )


def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.winnow_fingerprints: MOSS winnowing (Schleimer et
    al. 2003) — per doc, the rightmost-min hash of each w=4 window of
    word-3-gram hashes with its global gram position: the local
    fingerprinting guarantee (any shared >= w+k-1-word run yields a
    shared hash) that exact-hash dedup lacks. The hashes are md5-derived
    (`hash60`, the oracle's `_MD5I`) so the oracle recomputes every hash;
    ONE explode is the only data movement."""
    from datachain_spark.operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return winnow_fingerprints(docs, k=3, w=4).orderBy(
        "doc_id", "pos", "fp"
    )


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing composed into pair detection: self-join the fingerprint
    table on the HASH (an equi-join on a ~2/(w+1)-sampled key — never
    all-pairs; the same inverted-index shape as ngram_jaccard) and count
    shared fingerprints per doc pair. Planted copies (doc_id+100000 with
    a prefix word) guarantee non-trivial overlaps; threshold >= 2 drops
    chance single-hash collisions."""
    from datachain_spark.operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("prefix "), F.col("text")).alias("text"),
    )
    fps = winnow_fingerprints(docs.unionByName(planted), k=3, w=4)
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
        .orderBy("id_a", "id_b")
    )


def _bpe_oracle(num_merges: int) -> str:
    """Unrolled DuckDB twin of fit_bpe: per step, pair counts -> argmax
    (count desc, l, r) -> greedy merge. The greedy merge is expressed as:
    match positions i where (syms[i], syms[i+1]) = (l, r); consecutive
    match positions form runs (only possible when l = r); keep every other
    position per run starting at the first — identical to the left-to-
    right greedy scan of operators/bpe.merge_pair_py, which fit_bpe
    applies on the driver."""
    parts = [
        f"""
        WITH tok AS (
          SELECT unnest({_words('lower(text)')}) AS w
          FROM documents
        ),
        v0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq, string_split(w, '') AS syms
          FROM tok GROUP BY w
        )"""
    ]
    for k in range(1, num_merges + 1):
        p = k - 1
        parts.append(
            f""",
        p{k} AS (
          SELECT e.pr.l AS l, e.pr.r AS r, sum(freq) AS c
          FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
                       i -> {{'l': syms[i], 'r': syms[i+1]}})) AS pr
                FROM v{p}) e
          GROUP BY e.pr.l, e.pr.r
        ),
        b{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
        m{k} AS (
          SELECT v.w, v.freq, v.syms, b.l, b.r,
                 list_filter(range(1, len(v.syms)),
                             i -> v.syms[i] = b.l AND v.syms[i+1] = b.r) AS mp
          FROM v{p} v CROSS JOIN b{k} b
        ),
        f{k} AS (
          SELECT w, freq, syms, l, r,
                 list_filter(mp, (pos, i) ->
                   (i - list_position(list_transform(mp, (q, j) -> q - j),
                                      pos - i)) % 2 = 0) AS mpos
          FROM m{k}
        ),
        v{k} AS (
          SELECT w, freq,
                 list_filter(list_transform(range(1, len(syms) + 1),
                   i -> CASE WHEN list_contains(mpos, i) THEN syms[i] || syms[i+1]
                             WHEN list_contains(mpos, i - 1) THEN NULL
                             ELSE syms[i] END),
                   x -> x IS NOT NULL) AS syms
          FROM f{k}
        )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, l AS left_sym, r AS right_sym, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    parts.append(f"\n        {selects} ORDER BY step")
    return "".join(parts)


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/retrieval.hybrid_search: BM25 top-50 + brute-force
    cosine top-50 (query = embedding 0, self excluded) fused by
    Reciprocal Rank Fusion (Cormack et al. 2009), top-15. The reference
    has no retrieval surface at all — beyond-reference curation operator
    composing two independently-oracled components. Oracle replays both
    rankings (BM25 ranks on the round-6 score, cosine on the raw sim with
    id tie-break — the existing precedents) and the 1/(60+rank) fusion in
    SQL."""
    from datachain_spark.operators.retrieval import hybrid_search

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    emb = spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return hybrid_search(
        docs,
        emb,
        "spark window merge",
        [float(x) for x in qv],
        k=15,
        n_candidates=50,
        exclude_vec_id=0,
    )


def lm_perplexity_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/lm.py: CCNet-style LM filter stage (Wenzek et al. 2020)
    with a stupid-backoff bigram LM (Brants et al. 2007) — fit on the
    English slice, score EVERY document by mean per-token log-prob, return
    the 80 most out-of-domain (lowest) documents. Fit = two explode->
    hash-agg passes over the reference slice; scoring = three broadcast
    LM joins + one doc-keyed agg (map-side combine collapses the explode);
    top-80 via TakeOrderedAndProject. The reference repo has no LM
    scoring surface — beyond-reference training-data operator. Oracle
    refits the same counts and replays the same three-branch backoff
    arithmetic in SQL (same glibc ln, same round-6 discipline)."""
    from datachain_spark.operators.lm import fit_bigram_lm, lm_logprob

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    lm = fit_bigram_lm(docs.filter(F.col("lang") == "en"))
    scores = lm_logprob(docs, lm, keep_cols=("lang",))
    return scores.orderBy(F.col("lm_logprob").asc(), F.col("doc_id").asc()).limit(80)


def merge_into_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain.merge_into — dataset-level MERGE (Delta/Iceberg MERGE analog;
    reference's nearest is delta-save's whole-version re-diff,
    delta.py:240-396). Save customer as a bucketed dataset keyed on
    c_custkey, then one merge that (a) bumps acctbal +1000 for the %10
    slice, (b) deletes the %40 slice, (c) inserts shadow keys (+1000000)
    for the %7==3 slice. One one-shuffle CDC apply, O(source) cost; the
    oracle replays the same CASE/anti-filter/UNION in SQL."""
    from datachain_spark.chain import Chain, read_dataset

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    work = tempfile.mkdtemp(prefix="merge_into_")
    base = Chain(cust)
    base.catalog_root = work
    base.save("merge_tgt", key_cols=["c_custkey"], num_buckets=8)

    upd = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn("is_del", F.col("c_custkey") % 40 == 0)
    )
    ins = (
        cust.filter(F.col("c_custkey") % 7 == 3)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("is_del", F.lit(False))
    )
    src = Chain(upd.unionByName(ins))
    src.catalog_root = work
    src.merge_into("merge_tgt", on=["c_custkey"], delete_col="is_del")
    out = read_dataset(spark, "merge_tgt", catalog_root=work).df
    return out.select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")


def cdc_read_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LakeTable.read_changes — the Delta CDF / Iceberg incremental-scan
    analog (reference's nearest surface is whole-dataset diff,
    src/datachain/diff/__init__.py:117-184, which rescans both sides).
    Replay the sf feed with per-batch commits, then read the changelog of
    versions (1, 3] — exactly feed batches 1 and 2 — straight from the
    manifest-diffed segment files. The oracle regenerates those batches'
    events from first principles (sf0.01 spec constants: P=491527,
    phase-1 span=245764, versions = batch+1) and replays the within-batch
    LWW the apply fuses into the segment write: batch 1 = the upper-span
    phase-1 inserts (duplicate redeliveries are dropped by the bucket
    watermark), batch 2 = all phase-2 updates netted to the max revision
    k = 1 + h%3 per key, with the tool column only at lsn >= 9P (the
    mid-batch schema-evolution point)."""
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import write_feed

    spec = _cdc_spec(sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_cdf_")
    write_feed(spark, spec, os.path.join(work, "feed"))
    table, _ = replay_feed_dir(
        spark,
        os.path.join(work, "table"),
        os.path.join(work, "feed"),
        num_buckets=16,
        compaction="off",
    )
    ch = table.read_changes(spark, since_version=1, until_version=3)
    return ch.select(
        "conv_id",
        "turn_idx",
        "_change_type",
        "_commit_version",
        F.col("_lsn").cast("long").alias("_lsn"),
        "role",
        "text",
        "tool",
    ).orderBy("conv_id", "turn_idx", "_lsn")


def cdc_stream_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LakeTable.stream_changes — streaming CDC-out (Delta CDF readStream
    analog): the full changelog drained through a real Structured
    Streaming availableNow run into a memory sink. The oracle regenerates
    EVERY batch's net change rows from first principles (sf0.01 spec):
    batches 0-1 = the two phase-1 insert spans, batch 2 = updates netted
    to max revision, batch 3 = deletes (role/text NULL) and reborn rows
    (tool present — 17P > 9P); the trailing duplicate-redelivery batch is
    watermark-dropped pre-write, so it commits no segment and the stream
    never sees it."""
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.feed import write_feed

    spec = _cdc_spec(sf_dir)
    work = tempfile.mkdtemp(prefix="cdc_cdcout_")
    write_feed(spark, spec, os.path.join(work, "feed"))
    table, _ = replay_feed_dir(
        spark,
        os.path.join(work, "table"),
        os.path.join(work, "feed"),
        num_buckets=16,
        compaction="off",
    )
    sink = f"cdcout_{abs(hash(work)) % 10**9}"
    q = (
        table.stream_changes(spark)
        .writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink).select(
        "conv_id",
        "turn_idx",
        "_change_type",
        F.col("_lsn").cast("long").alias("_lsn"),
        "role",
        "text",
        "tool",
    ).orderBy("conv_id", "turn_idx", "_lsn")


def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/zorder: Delta OPTIMIZE ZORDER analog (reference has no
    layout optimizer — its datasets live unordered in SQLite). Rewrite
    events clustered on the Morton curve of (user_id, value) — ONE range
    shuffle, codegen bit-interleave — then run a two-column box query on
    the rewritten copy. Layout never changes results, so the oracle is the
    plain filter on the source table; the data-skipping proof (footer
    min/max overlap vs a linear sort) lives in tests/test_zorder.py."""
    import tempfile

    from datachain_spark.operators.zorder import write_zordered

    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out = os.path.join(
        tempfile.gettempdir(), f"zorder_events_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    write_zordered(events, out, ["user_id", "value"], num_files=16)
    back = spark.read.parquet(out)
    return (
        back.filter(
            F.col("user_id").between(40, 79) & F.col("value").between(20.0, 80.0)
        )
        .select("event_id", "user_id", "value", "event_type")
        .orderBy("event_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_transcripts_final": cdc_transcripts_final,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue": q3_top_revenue,
        "merge_left_outer": merge_left_outer,
        "union_chains": union_chains,
        "subtract_anti": subtract_anti,
        "diff_status": diff_status,
        "window_lww": window_lww,
        "window_topk_per_group": window_topk_per_group,
        "agg_collect_concat": agg_collect_concat,
        "mutate_scalar_funcs": mutate_scalar_funcs,
        "distinct_on_keys": distinct_on_keys,
        "sessionize": sessionize,
        "dedup_exact": dedup_exact,
        "text_quality": text_quality,
        "lang_id_heuristic": lang_id_heuristic,
        "doc_fingerprint": doc_fingerprint,
        "ann_cosine_topk": ann_cosine_topk,
        "minhash_near_dup_pairs": minhash_near_dup_pairs,
        "near_dup_clusters": near_dup_clusters,
        "embedding_near_dup_planted": embedding_near_dup_planted,
        "simhash_near_dup_pairs": simhash_near_dup_pairs,
        "ngram_jaccard_near_dups": ngram_jaccard_near_dups,
        "lsh_topk_ann": lsh_topk_ann,
        "ivf_topk_kmeans": ivf_topk_kmeans,
        "semantic_dedup_kept": semantic_dedup_kept,
        "pii_scrub": pii_scrub,
        "decontaminate_corpus": decontaminate_corpus,
        "gopher_repetition": gopher_repetition,
        "gopher_quality_filter": gopher_quality_filter,
        "dedup_lines_c4": dedup_lines_c4,
        "webdataset_roundtrip": webdataset_roundtrip,
        "q5_region_revenue": q5_region_revenue,
        "salted_agg_by_user": salted_agg_by_user,
        "document_pipeline": document_pipeline,
        "asof_last_error": asof_last_error,
        "nested_struct_project": nested_struct_project,
        "read_storage_listing": read_storage_listing,
        "prefetch_file_bytes": prefetch_file_bytes,
        "file_object_read": file_object_read,
        "pattern_uri_listing": pattern_uri_listing,
        "listings_enumeration": listings_enumeration,
        "pivot_by_type": pivot_by_type,
        "cube_counts": cube_counts,
        "rollup_counts": rollup_counts,
        "running_window_frame": running_window_frame,
        "path_scalar_funcs": path_scalar_funcs,
        "string_scalar_funcs": string_scalar_funcs,
        "numeric_bit_aggs": numeric_bit_aggs,
        "exists_semi": exists_semi,
        "bbox_convert_formats": bbox_convert_formats,
        "audio_fragment_pipeline": audio_fragment_pipeline,
        "read_meta_jsonl": read_meta_jsonl,
        "url_canonical_dedup": url_canonical_dedup,
        "incremental_dedup_batches": incremental_dedup_batches,
        "corpus_token_stats": corpus_token_stats,
        "corpus_vocabulary": corpus_vocabulary,
        "explode_json_struct": explode_json_struct,
        "pack_sequences_layout": pack_sequences_layout,
        "stratified_sample_docs": stratified_sample_docs,
        "token_budget_mixture": token_budget_mixture,
        "dedup_spans_corpus": dedup_spans_corpus,
        "bm25_search_topk": bm25_search_topk,
        "dsir_importance_select": dsir_importance_select,
        "lm_perplexity_outliers": lm_perplexity_outliers,
        "hybrid_rrf_search": hybrid_rrf_search,
        "dedup_event_sequences": dedup_event_sequences,
        "ccnet_bucket_counts": ccnet_bucket_counts,
        "bpe_train_merges": bpe_train_merges,
        "sft_render_spans": sft_render_spans,
        "conversation_quality": conversation_quality,
        "sft_expand_examples": sft_expand_examples,
        "truncate_context_budget": truncate_context_budget,
        "sft_echo_overlap": sft_echo_overlap,
        "winnow_fingerprints_docs": winnow_fingerprints_docs,
        "winnow_overlap_pairs": winnow_overlap_pairs,
        "zorder_pruned_scan": zorder_pruned_scan,
        "cdc_read_changes": cdc_read_changes,
        "cdc_stream_changes": cdc_stream_changes,
        "merge_into_dataset": merge_into_dataset,
    }


_EN = "'the','and','of','to','a','in','is','it','that','for'"
_ES = "'el','la','de','que','y','en','un','es','se','no'"
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _words(x: str) -> str:
    """The DuckDB twin of `operators.words`: the maximal runs of
    non-whitespace characters of `x`, so empty or all-whitespace text has
    no token and edge whitespace adds none. Every whitespace tokenization
    in these oracles is this one fragment."""
    return f"regexp_extract_all({x}, '\\S+')"


# md5-derived 60-bit hash, bit-identical to Spark's
# conv(substring(md5(s),1,15),16,10) — shared by the minhash/simhash oracles
_MD5I = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def _minhash_oracle_sql() -> str:
    """Brute-force all-pairs MinHash oracle. Signature arithmetic is
    identical to operators/dedup.py minhash_from_base (a_i = 2i+1,
    b_i = 104729(i+1), mod 2^31-1 over md5-based shingle hashes); no
    banding needed — see minhash_near_dup_pairs' pigeonhole argument."""
    m = 2147483647
    perms = ",\n               ".join(
        f"coalesce(list_min(list_transform(bh, h -> (h * {2 * i + 1} + {104729 * (i + 1)}) % {m})), {m})"
        for i in range(32)
    )
    base = _MD5I.format(s="s")
    return f"""
        WITH norm AS (
          SELECT doc_id AS id,
                 {_words('lower(text)')} AS toks
          FROM documents WHERE doc_id < 2000
        ),
        grams AS (
          SELECT id, CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' ')))
                 ELSE [] END AS g
          FROM norm
        ),
        based AS (
          SELECT id, list_transform(g, s -> {base} % {m}) AS bh FROM grams
        ),
        sig AS (
          SELECT id, [{perms}] AS sig
          FROM based
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) AS INT) AS n_match
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) >= 29
        ORDER BY id_a, id_b
    """


def _near_dup_clusters_oracle_sql() -> str:
    """Transitive closure of the minhash pairs via a recursive CTE:
    cluster id = min doc id reachable in the near-dup graph — exactly what
    min-label propagation converges to."""
    pairs_sql = _minhash_oracle_sql()
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        )
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u ORDER BY doc_id
    """


def _embedding_near_dup_oracle_sql() -> str:
    """Hyperplane signatures recomputed from first principles: plane(p,i)
    = ((md5int('p#i') mod 2001) - 1000)/1000, bit p = sign(v . plane_p) —
    identical arithmetic (and identical left-to-right double accumulation
    order) to operators/similarity.hyperplane_signature."""
    h = "CAST(('0x' || substr(md5(printf('%d#%d', {p}, i)), 1, 15)) AS BIGINT)"
    planes = " + ".join(
        "(CASE WHEN list_sum(list_transform(range(64), "
        f"i -> v[i + 1] * (({h.format(p=p)} % 2001 - 1000) / 1000.0))) > 0 "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p in range(12)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 200
        ),
        allv AS (
          SELECT vec_id, v FROM base
          UNION ALL
          SELECT vec_id + 10000, v FROM base
        ),
        sig AS (
          SELECT vec_id, v, {planes} AS s FROM allv
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 3) AS cos_sim
        FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        ORDER BY id_a, id_b
    """


def _simhash_oracle_sql() -> str:
    """Brute-force all-pairs SimHash oracle: 60-bit md5 token hashes,
    per-bit +1/-1 votes, hamming = bit_count(xor); equals the blocked
    Spark output because chunk blocking has 100% recall at hamming<=3."""
    th = _MD5I.format(s="t")
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(ths, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id AS id,
                 list_distinct({_words('lower(text)')}) AS ts
          FROM documents WHERE doc_id < 1000
        ),
        hashed AS (
          SELECT id, list_transform(ts, t -> {th}) AS ths FROM toks
        ),
        sh AS (
          SELECT id, {bits} AS sh FROM hashed
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
        ORDER BY id_a, id_b
    """


def _pii_scrub_oracle_sql() -> str:
    """Same planted augmentation + the same regex chain; 'g' flag for
    global replacement (Spark regexp_replace is global by default)."""
    return """
        WITH planted AS (
          SELECT doc_id,
                 text || printf(' contact u%d@ex%d.com at 10.0.%d.%d or +1415555%04d',
                                doc_id, doc_id % 7, doc_id % 256, doc_id % 100,
                                doc_id % 10000) AS text
          FROM documents WHERE doc_id < 2000
        )
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
                 '\\+\\d{7,15}\\b', '[PHONE]', 'g') AS text
        FROM planted ORDER BY doc_id
    """


def _decontaminate_oracle_sql() -> str:
    """Brute-force shingle-overlap recomputation: distinct 3-gram sets per
    side, per-corpus-doc count of distinct shingles appearing anywhere in
    the benchmark slice."""
    return f"""
        WITH norm AS (
          SELECT doc_id, {_words('lower(text)')} AS toks
          FROM documents
        ),
        grams AS (
          SELECT doc_id, CASE WHEN len(toks) >= 13
                 THEN list_distinct(list_transform(range(1, len(toks) - 11),
                                    i -> array_to_string(toks[i:i+12], ' ')))
                 ELSE [] END AS g
          FROM norm
        ),
        corpus AS (
          SELECT doc_id, unnest(g) AS s FROM grams
          WHERE doc_id < 2000 AND doc_id % 2 = 0
        ),
        bench AS (
          SELECT DISTINCT unnest(g) AS s FROM grams
          WHERE doc_id < 2000 AND doc_id % 2 = 1
        ),
        hits AS (
          SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
          FROM corpus c JOIN bench b ON c.s = b.s
          GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               h.doc_id IS NOT NULL AS contaminated,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared
        FROM (SELECT doc_id FROM documents WHERE doc_id < 2000 AND doc_id % 2 = 0) d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
    """


def _ngram_jaccard_oracle_sql() -> str:
    """Brute-force all-pairs Jaccard over the same distinct 3-gram shingle
    sets (no inverted index needed at oracle scale). The threshold test is
    done in exact integer arithmetic (2*inter >= union <=> inter/union >=
    0.5) to dodge any float-division edge."""
    return f"""
        WITH norm AS (
          SELECT doc_id AS id, {_words('lower(text)')} AS toks
          FROM documents WHERE doc_id < 2000
        ),
        grams AS (
          SELECT id, CASE WHEN len(toks) >= 3
                 THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' ')))
                 ELSE [] END AS g
          FROM norm
        ),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 len(list_intersect(a.g, b.g)) AS inter,
                 len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS un
          FROM grams a JOIN grams b ON a.id < b.id
        )
        SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / un, 3) AS jaccard
        FROM pairs WHERE inter >= 1 AND 2 * inter >= un
        ORDER BY id_a, id_b
    """


def _lsh_topk_oracle_sql() -> str:
    """4-plane md5 hyperplane signatures recomputed from first principles
    (same arithmetic as the embedding_near_dup oracle), single-probe bucket
    join, top-3 per query."""
    h = "CAST(('0x' || substr(md5(printf('%d#%d', {p}, i)), 1, 15)) AS BIGINT)"
    planes = " + ".join(
        "(CASE WHEN list_sum(list_transform(range(64), "
        f"i -> v[i + 1] * (({h.format(p=p)} % 2001 - 1000) / 1000.0))) > 0 "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p in range(4)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 500
        ),
        sig AS (SELECT vec_id, v, {planes} AS s FROM base),
        q AS (SELECT vec_id AS q_id, v AS qv, s FROM sig WHERE vec_id < 5),
        scored AS (
          SELECT q.q_id, c.vec_id, list_cosine_similarity(c.v, q.qv) AS cs
          FROM sig c JOIN q ON c.s = q.s AND q.q_id <> c.vec_id
        )
        SELECT q_id, vec_id, round(cs, 3) AS cos_sim,
               row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rk
        FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk
    """


def _ivf_topk_oracle_sql() -> str:
    """Re-trains the k-means centroids in SQL — md5 hash-rank seeds, two
    unrolled Lloyd iterations with means quantized to 6 decimals (exactly
    what train_centroids_kmeans(round_to=6) stores) — then rebuilds the
    inverted file (nearest cell per corpus vector), probes each query's 2
    nearest cells, and ranks top-3 by exact cosine. Empty cells keep their
    seed centroid via the LEFT JOIN coalesce, mirroring the operator."""
    seed_hash = "CAST(('0x' || substr(md5(printf('%d', vec_id)), 1, 15)) AS BIGINT)"

    def means(assigned: str, seeds: str) -> str:
        return f"""
          SELECT s.cell, coalesce(m.c, s.c) AS c
          FROM {seeds} s LEFT JOIN (
            SELECT cell, list(round(mv, 6) ORDER BY i) AS c
            FROM (
              SELECT a.cell, t.i, sum(a.v[t.i]) / count(*) AS mv
              FROM {assigned} a CROSS JOIN range(1, 65) t(i)
              GROUP BY a.cell, t.i
            ) GROUP BY cell
          ) m ON s.cell = m.cell
        """

    return f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 400
        ),
        seeds AS (
          SELECT row_number() OVER (ORDER BY {seed_hash}) - 1 AS cell, v AS c
          FROM base ORDER BY {seed_hash} LIMIT 4
        ),
        a1 AS (
          SELECT b.vec_id, b.v, s.cell
          FROM base b CROSS JOIN seeds s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        c1 AS ({means('a1', 'seeds')}),
        a2 AS (
          SELECT b.vec_id, b.v, s.cell
          FROM base b CROSS JOIN c1 s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        c2 AS ({means('a2', 'c1')}),
        inv AS (
          SELECT b.vec_id, b.v, s.cell
          FROM base b CROSS JOIN c2 s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        qprobe AS (
          SELECT b.vec_id AS q_id, b.v AS qv, s.cell
          FROM base b CROSS JOIN c2 s
          WHERE b.vec_id < 5
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) <= 2
        ),
        scored AS (
          SELECT q.q_id, c.vec_id, list_cosine_similarity(c.v, q.qv) AS cs
          FROM inv c JOIN qprobe q ON c.cell = q.cell AND q.q_id <> c.vec_id
        )
        SELECT q_id, vec_id, round(cs, 3) AS cos_sim,
               row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rk
        FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk
    """


def _semantic_dedup_oracle_sql() -> str:
    """Re-trains the same k-means centroids as _ivf_topk_oracle_sql (md5
    hash-rank seeds over the PLANTED corpus, two Lloyd iterations, means
    quantized to 6 decimals), then replays semantic_dedup's greedy rule in
    SQL: a doc is dropped iff some same-cluster doc ranked earlier
    (centroid distance DESC, id ASC — distances rounded to 6 decimals
    exactly as the operator rounds before comparing) has cosine >= 0.95."""
    seed_hash = "CAST(('0x' || substr(md5(printf('%d', vec_id)), 1, 15)) AS BIGINT)"

    def means(assigned: str, seeds: str) -> str:
        return f"""
          SELECT s.cell, coalesce(m.c, s.c) AS c
          FROM {seeds} s LEFT JOIN (
            SELECT cell, list(round(mv, 6) ORDER BY i) AS c
            FROM (
              SELECT a.cell, t.i, sum(a.v[t.i]) / count(*) AS mv
              FROM {assigned} a CROSS JOIN range(1, 65) t(i)
              GROUP BY a.cell, t.i
            ) GROUP BY cell
          ) m ON s.cell = m.cell
        """

    return f"""
        WITH base0 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 200
        ),
        base AS (
          SELECT vec_id, v FROM base0
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, v FROM base0
        ),
        seeds AS (
          SELECT row_number() OVER (ORDER BY {seed_hash}) - 1 AS cell, v AS c
          FROM base ORDER BY {seed_hash} LIMIT 4
        ),
        a1 AS (
          SELECT b.vec_id, b.v, s.cell
          FROM base b CROSS JOIN seeds s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        c1 AS ({means('a1', 'seeds')}),
        a2 AS (
          SELECT b.vec_id, b.v, s.cell
          FROM base b CROSS JOIN c1 s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        c2 AS ({means('a2', 'c1')}),
        inv AS (
          SELECT b.vec_id, b.v, s.cell,
                 round(1 - list_cosine_similarity(b.v, s.c), 6) AS cdist
          FROM base b CROSS JOIN c2 s
          QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY 1 - list_cosine_similarity(b.v, s.c) ASC, s.cell ASC) = 1
        ),
        dropped AS (
          SELECT DISTINCT l.vec_id
          FROM inv l JOIN inv r ON l.cell = r.cell
           AND (r.cdist > l.cdist OR (r.cdist = l.cdist AND r.vec_id < l.vec_id))
          WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.95
        )
        SELECT i.vec_id, i.cell, round(i.cdist, 3) AS centroid_dist,
               CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        FROM inv i LEFT JOIN dropped d ON i.vec_id = d.vec_id
        ORDER BY i.vec_id
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2
        """,
        "q3_top_revenue": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "merge_left_outer": """
            SELECT o_orderkey, o_custkey, o_totalprice,
                   c_name AS right_c_name, c_mktsegment AS right_c_mktsegment
            FROM orders LEFT OUTER JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey
        """,
        "union_chains": """
            SELECT o_orderpriority, count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct
            FROM (
              SELECT * FROM orders WHERE o_totalprice > 150000
              UNION ALL
              SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
            ) GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "subtract_anti": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
            ORDER BY c_custkey
        """,
        "diff_status": """
            WITH old AS (SELECT event_id, user_id, event_type, value FROM events),
            new AS (
              SELECT event_id, user_id, event_type,
                     CASE WHEN event_id % 3 = 0 THEN round(value + 1.0, 2) ELSE value END AS value
              FROM events WHERE event_id % 5 <> 0
              UNION ALL
              SELECT event_id + 1000000, user_id, event_type, value FROM events
              WHERE (event_id + 1000000) % 7 = 1
            )
            SELECT CASE WHEN old.event_id IS NULL THEN 'A'
                        WHEN new.event_id IS NULL THEN 'D'
                        WHEN new.value IS DISTINCT FROM old.value THEN 'M'
                        ELSE 'S' END AS diff_status,
                   count(*) AS n
            FROM new FULL OUTER JOIN old ON new.event_id = old.event_id
            GROUP BY 1 ORDER BY 1
        """,
        "window_lww": """
            SELECT user_id, event_id, event_type, round(value, 2) AS value FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            ORDER BY user_id
        """,
        "window_topk_per_group": """
            SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice,
                   row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
            FROM part
            QUALIFY rk <= 3 ORDER BY p_brand, rk
        """,
        "agg_collect_concat": """
            SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq
            FROM events WHERE user_id < 20
            GROUP BY user_id ORDER BY user_id
        """,
        "mutate_scalar_funcs": """
            SELECT event_id,
                   length(event_type) AS type_len,
                   upper(event_type) AS type_upper,
                   regexp_replace(event_type, '[aeiou]', '_', 'g') AS type_devoweled,
                   props->>'k' AS prop_k,
                   greatest(round(value, 2), 10.0) AS val_floor10,
                   CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS val_band
            FROM events WHERE event_id < 2000 ORDER BY event_id
        """,
        "distinct_on_keys": """
            SELECT user_id, event_type, event_id FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) = 1
            ORDER BY user_id, event_type
        """,
        "sessionize": """
            -- epoch_us: exact integer microseconds (matches Spark unix_micros);
            -- CAST(sum(...) AS BIGINT): duckdb sum(int) is HUGEINT (int128),
            -- which the driver's value hash renders differently from int64
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "dedup_exact": f"""
            SELECT doc_id, lang, source FROM documents
            QUALIFY row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id ASC) = 1
            ORDER BY doc_id
        """,
        "text_quality": f"""
            SELECT doc_id,
                   length(text) AS n_chars_m,
                   len({_words('text')}) AS n_tokens,
                   round(length(regexp_replace(text, '\\s+', '', 'g'))
                         / greatest(len({_words('text')}), 1), 4) AS avg_token_len,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   len(list_intersect({_words('lower(text)')}, [{_EN}])) AS distinct_stopwords
            FROM documents WHERE doc_id < 3000 ORDER BY doc_id
        """,
        "lang_id_heuristic": f"""
            WITH scored AS (
              SELECT doc_id,
                     len(list_intersect({_words('lower(text)')}, [{_EN}])) AS en,
                     len(list_intersect({_words('lower(text)')}, [{_ES}])) AS es
              FROM documents
            )
            SELECT CASE WHEN en > es THEN 'en' WHEN es > en THEN 'es' ELSE 'und' END AS lang_pred,
                   count(*) AS n_docs
            FROM scored GROUP BY 1 ORDER BY 1
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fp FROM documents
            WHERE doc_id < 2000 ORDER BY doc_id
        """,
        "q5_region_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
        "salted_agg_by_user": """
            SELECT user_id, count(*) AS n, round(sum(value), 2) AS total,
                   round(max(value), 2) AS vmax
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "document_pipeline": f"""
            WITH scored AS (
              SELECT *,
                     len({_words('text')}) AS n_tokens,
                     length(regexp_replace(text, '\\s+', '', 'g'))
                       / greatest(len({_words('text')}), 1) AS avg_token_len,
                     (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / greatest(length(text), 1) AS punct_ratio,
                     len(list_intersect({_words('lower(text)')}, [{_EN}])) AS en,
                     len(list_intersect({_words('lower(text)')}, [{_ES}])) AS es
              FROM documents
            ),
            kept AS (
              SELECT * FROM scored
              WHERE n_tokens >= 20 AND punct_ratio < 0.05
                AND CASE WHEN en > es THEN 'en' WHEN es > en THEN 'es' ELSE 'und' END = 'en'
            ),
            deduped AS (
              SELECT * FROM kept
              QUALIFY row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id ASC) = 1
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(avg_token_len), 4) AS mean_token_len
            FROM deduped GROUP BY lang ORDER BY lang
        """,
        "asof_last_error": """
            WITH clicks AS (
              SELECT user_id, event_id, ts, round(value, 2) AS value
              FROM events WHERE event_type = 'click'
            ),
            errors AS (
              SELECT user_id, ts, round(value, 2) AS err_value
              FROM events WHERE event_type = 'error'
              QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
            )
            SELECT c.user_id, c.event_id, c.value, e.err_value AS last_err_value
            FROM clicks c ASOF LEFT JOIN errors e
              ON c.user_id = e.user_id AND c.ts >= e.ts
            ORDER BY c.event_id
        """,
        "nested_struct_project": """
            SELECT user_id, event_type, count(*) AS n, round(sum(value), 2) AS total
            FROM events WHERE value > 50
            GROUP BY user_id, event_type ORDER BY user_id, event_type
        """,
        # driver runs oracles at sf0.01 only -> the listed dir is fixed
        "read_storage_listing": """
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size
            FROM read_blob('/root/testdata/sf0.01/*.parquet')
            ORDER BY name
        """,
        "prefetch_file_bytes": """
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS name,
                   octet_length(content) AS n_bytes
            FROM read_blob('/root/testdata/sf0.01/*.parquet')
            ORDER BY name
        """,
        "file_object_read": """
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS name,
                   octet_length(content) AS n_bytes,
                   substring(hex(content), 1, 32) AS head_hex
            FROM read_blob('/root/testdata/sf0.01/*.parquet')
            ORDER BY name
        """,
        "pattern_uri_listing": """
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS name, size
            FROM read_blob(['/root/testdata/sf0.01/*uments.parquet',
                            '/root/testdata/sf0.01/*ddings.parquet'])
            ORDER BY name
        """,
        "listings_enumeration": """
            SELECT '*.parquet' AS pattern,
                   (SELECT count(*)::BIGINT
                    FROM glob('/root/testdata/sf0.01/*.parquet')) AS num_objects
            UNION ALL
            SELECT 'doc*.parquet',
                   (SELECT count(*)::BIGINT
                    FROM glob('/root/testdata/sf0.01/doc*.parquet'))
            ORDER BY pattern
        """,
        "pivot_by_type": """
            SELECT user_id,
                   round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS sum_click,
                   round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS sum_error,
                   round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS sum_purchase,
                   round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS sum_signup,
                   round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS sum_view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "cube_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        "rollup_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        "running_window_frame": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS avg_last3
            FROM events WHERE user_id < 10
            ORDER BY user_id, event_id
        """,
        "path_scalar_funcs": r"""
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                            THEN 'data/' || source || '/doc_' || doc_id || '.txt'
                          WHEN doc_id % 3 = 1
                            THEN 'archive/deep/dir/doc_' || doc_id || '.tar.gz'
                          ELSE 'plainfile' || doc_id END AS path
              FROM documents WHERE doc_id < 1000
            ),
            n AS (SELECT *, regexp_extract(path, '([^/]*)$', 1) AS name FROM p)
            SELECT doc_id, path,
                   CASE WHEN path LIKE '%/%'
                        THEN regexp_replace(path, '/[^/]*$', '') ELSE '' END AS parent,
                   name,
                   CASE WHEN regexp_matches(name, '\.[^.]*$')
                        THEN regexp_replace(name, '\.[^.]*$', '') ELSE name END AS stem,
                   CASE WHEN regexp_matches(name, '\.[^.]+$')
                        THEN regexp_extract(name, '\.([^.]+)$', 1) ELSE '' END AS ext
            FROM n ORDER BY doc_id
        """,
        "string_scalar_funcs": r"""
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
                     lang, source
              FROM documents WHERE doc_id < 1500
            )
            SELECT doc_id,
                   toks[1] AS first_tok,
                   toks[-1] AS last_tok,
                   replace(lang, 'e', '3') AS lang_l33t,
                   upper(source) AS source_up,
                   CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS src_num
            FROM t ORDER BY doc_id
        """,
        "numeric_bit_aggs": """
            WITH m AS (
              SELECT user_id,
                     event_id % 256 AS m,
                     (event_id * 7919) % 256 AS m2
              FROM events WHERE event_id < 3000
            )
            SELECT user_id,
                   bit_and(m) AS band,
                   bit_or(m) AS bor,
                   bit_xor(m) AS bxor,
                   CAST(sum(bit_count(xor(m, m2))) AS BIGINT) AS hamming_total
            FROM m GROUP BY user_id ORDER BY user_id
        """,
        "exists_semi": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
            ORDER BY o_orderkey
        """,
        "bbox_convert_formats": """
            WITH b AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 500 AS DOUBLE) AS x1,
                     CAST((o_orderkey * 7) % 300 AS DOUBLE) AS y1,
                     CAST(o_orderkey % 97 + 1 AS DOUBLE) AS w,
                     CAST(o_orderkey % 53 + 1 AS DOUBLE) AS h
              FROM orders WHERE o_orderkey < 20000
            )
            SELECT o_orderkey,
                   round(x1 + w, 4) AS voc_x2,
                   round((x1 + x1 + w) / 2 / 1000, 4) AS yolo_cx,
                   round((y1 + y1 + h) / 2 / 600, 4) AS yolo_cy,
                   round(w / 1000, 4) AS yolo_w,
                   round(h / 600, 4) AS yolo_h,
                   round(x1 / 1000, 4) AS alb_x1,
                   round((y1 + h) / 600, 4) AS alb_y2,
                   round(CASE WHEN w > 10 AND h > 10
                         THEN (w - 10) * (h - 10)
                              / (2 * w * h - (w - 10) * (h - 10))
                         ELSE 0.0 END, 6) AS iou
            FROM b ORDER BY o_orderkey
        """,
        "audio_fragment_pipeline": """
            -- mirrors encode_wav's PCM formula (multimodal.py:118-135):
            -- sample i = (((seed*31 + i*7) % 2048) - 1024) * 16, 8 kHz mono
            -- 16-bit; fragment = samples [500, 500+n), n = k*500 clipped to
            -- the file end (times are exact sixteenths of a second); wav
            -- bytes = 44-byte header + 2 bytes/sample
            WITH b AS (
              SELECT event_id,
                     (event_id % 500 + 100) * 8 AS total_samples,
                     (event_id % 7 + 1) * 500 AS want
              FROM events WHERE event_id < 250
            ),
            f AS (
              SELECT event_id,
                     LEAST(want, total_samples - 500) AS frag_n
              FROM b
            )
            SELECT event_id,
                   8000 AS frag_sr,
                   frag_n AS frag_samples,
                   44 + 2 * frag_n AS frag_bytes,
                   round(1.0 * list_sum(list_transform(range(500, 500 + frag_n),
                         i -> abs((((event_id * 31 + i * 7) % 2048) - 1024) * 16)))
                         / frag_n, 6) AS mean_amp
            FROM f ORDER BY event_id
        """,
        "incremental_dedup_batches": """
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents
            ),
            b1 AS (SELECT t FROM n WHERE doc_id % 2 = 0),
            firsts AS (
              SELECT doc_id, t FROM (
                SELECT doc_id, t,
                       row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
                FROM n WHERE doc_id % 2 = 1
              ) WHERE rn = 1
            )
            SELECT doc_id FROM firsts
            WHERE t NOT IN (SELECT t FROM b1)
            ORDER BY doc_id
        """,
        "corpus_token_stats": f"""
            WITH t AS (
              SELECT lang, len({_words('text')}) AS toks
              FROM documents
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS total_tokens,
                   round(avg(toks), 6) AS avg_tokens,
                   round(quantile_cont(toks, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(toks, 0.95), 6) AS p95_tokens
            FROM t GROUP BY lang ORDER BY lang
        """,
        "corpus_vocabulary": """
            WITH toks AS (
              SELECT unnest(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS token
              FROM documents
            )
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY token HAVING count(*) >= 2
            ORDER BY n DESC, token ASC LIMIT 200
        """,
        "explode_json_struct": """
            SELECT doc_id,
                   json_extract_string(meta, '$.lang') AS lang,
                   CAST(json_extract(meta, '$.n_chars') AS BIGINT) AS n_chars,
                   json_extract_string(meta, '$.source') AS source
            FROM (
                SELECT doc_id,
                       to_json(struct_pack(lang := lang,
                                           n_chars := n_chars,
                                           source := source)) AS meta
                FROM documents WHERE doc_id < 300
            )
            ORDER BY doc_id
        """,
        "pack_sequences_layout": """
            WITH p AS (
              SELECT lang,
                     sum(n_chars) OVER w - n_chars AS start,
                     sum(n_chars) OVER w AS cum,
                     n_chars AS tokens
              FROM documents WHERE doc_id < 2000
              WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT lang,
                   CAST(start // 4096 AS BIGINT) AS seq_id,
                   count(*) AS n_docs,
                   CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                   CAST(sum(CASE WHEN (cum - 1) // 4096 > start // 4096
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
            FROM p GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "bm25_search_topk": """
            -- same postings, norms, Lucene-form idf, and BM25 arithmetic
            -- from first principles; round(score,6) before the tie-break
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
              FROM documents
            ),
            stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(CAST(len(ts) AS DOUBLE)) AS avgdl
              FROM toks
            ),
            posts AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks
            ),
            tf AS (
              SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
              FROM posts WHERE term IN ('spark', 'window', 'merge')
              GROUP BY term, doc_id, dl
            ),
            dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
            scored AS (
              SELECT tf.doc_id,
                     round(sum(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
                     ), 6) AS score,
                     CAST(count(*) AS BIGINT) AS n_terms
              FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score, n_terms FROM scored
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "dsir_importance_select": """
            -- DSIR from first principles: hashed unigram+bigram buckets
            -- (same md5 60-bit hash), add-1-smoothed target/raw bucket
            -- log-probs, per-doc summed log ratio, deterministic top-60
            WITH tok AS (
              SELECT doc_id, lang, regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
              FROM documents
            ),
            grams AS (
              SELECT doc_id, lang,
                     list_concat(ts, CASE WHEN len(ts) >= 2
                       THEN list_transform(range(1, len(ts)),
                                           i -> ts[i] || ' ' || ts[i+1])
                       ELSE [] END) AS gs
              FROM tok
            ),
            occ AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 64 AS b
              FROM (SELECT doc_id, lang, unnest(gs) AS g FROM grams)
            ),
            tcnt AS (SELECT b, count(*) AS c FROM occ WHERE lang = 'es' GROUP BY b),
            ttot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM occ WHERE lang = 'es'),
            rcnt AS (SELECT b, count(*) AS c FROM occ GROUP BY b),
            rtot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM occ),
            lam AS (
              SELECT r.b,
                     ln((coalesce(t.c, 0) + 1.0) / ((SELECT t FROM ttot) + 64.0))
                     - ln((r.c + 1.0) / ((SELECT t FROM rtot) + 64.0)) AS l
              FROM rcnt r LEFT JOIN tcnt t USING (b)
            ),
            scored AS (
              SELECT o.doc_id, any_value(o.lang) AS lang,
                     round(sum(l.l), 6) AS dsir_score
              FROM occ o JOIN lam l USING (b)
              GROUP BY o.doc_id
            )
            SELECT doc_id, lang, dsir_score FROM scored
            ORDER BY dsir_score DESC, doc_id ASC LIMIT 60
        """,
        "bpe_train_merges": _bpe_oracle(5),
        "sft_expand_examples": r"""
            -- same turn sort + pieces; target indices = 'click' turns;
            -- context = pieces[1..i-1] joined on \n + the target's opening
            -- tag; flattened one row per example via unnest over the
            -- target-index list
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
                     event_type AS role, coalesce(props, '') AS txt
              FROM events WHERE user_id < 40
            ),
            g AS (
              SELECT conv_id,
                     list_transform(
                       list_sort(list(struct_pack(o := event_id, role := role,
                                                  text := txt))),
                       u -> struct_pack(o := u.o, role := u.role,
                                        text := u.text)) AS turns
              FROM t GROUP BY conv_id
            ),
            p AS (
              SELECT conv_id, turns,
                     list_transform(turns,
                       u -> '<|' || u.role || '|>' || u.text) AS pieces,
                     list_filter(range(1, len(turns) + 1),
                       i -> turns[i].role = 'click') AS tidx
              FROM g
            ),
            f AS (
              SELECT conv_id, turns, pieces, tidx,
                     unnest(range(1, len(tidx) + 1)) AS ex
              FROM p
            )
            SELECT conv_id,
                   CAST(ex AS INTEGER) AS example_idx,
                   CAST(turns[tidx[ex]].o AS INTEGER) AS turn_idx,
                   CASE WHEN tidx[ex] = 1
                        THEN '<|' || turns[tidx[ex]].role || '|>'
                        ELSE array_to_string(list_slice(pieces, 1, tidx[ex] - 1),
                                             chr(10))
                             || chr(10) || '<|' || turns[tidx[ex]].role || '|>'
                   END AS context,
                   turns[tidx[ex]].text AS target
            FROM f ORDER BY conv_id, example_idx
        """,
        "winnow_fingerprints_docs": rf"""
            -- same 3-gram md5 base hashes (the minhash oracle recipe),
            -- w=4 windows, rightmost min via list_position on the
            -- REVERSED window: j = w + 1 - reversed-position, global
            -- pos = p + j - 1; DISTINCT collapses repeated selections
            WITH norm AS (
              SELECT doc_id, {_words('lower(text)')} AS toks
              FROM documents WHERE doc_id < 60
            ),
            grams AS (
              SELECT doc_id, CASE WHEN len(toks) >= 3
                     THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                     ELSE [] END AS g
              FROM norm
            ),
            h AS (
              SELECT doc_id,
                     list_transform(g, x ->
                       CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                       % 2147483647) AS hs
              FROM grams
            ),
            wins AS (
              SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS p
              FROM h WHERE len(hs) >= 4
            ),
            sel AS (
              SELECT doc_id,
                     CAST(p + 4 - list_position(list_reverse(hs[p:p+3]),
                                                list_min(hs[p:p+3]))
                          AS INTEGER) AS pos,
                     list_min(hs[p:p+3]) AS fp
              FROM wins
            )
            SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos, fp
        """,
        "winnow_overlap_pairs": rf"""
            -- winnow oracle over docs + planted prefix-shifted copies,
            -- then the same hash equi-join pair count
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 40
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, 'prefix ' || text AS text
              FROM documents WHERE doc_id < 40 AND doc_id % 4 = 0
            ),
            norm AS (
              SELECT doc_id, {_words('lower(text)')} AS toks
              FROM base
            ),
            grams AS (
              SELECT doc_id, CASE WHEN len(toks) >= 3
                     THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                     ELSE [] END AS g
              FROM norm
            ),
            h AS (
              SELECT doc_id,
                     list_transform(g, x ->
                       CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                       % 2147483647) AS hs
              FROM grams
            ),
            wins AS (
              SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS p
              FROM h WHERE len(hs) >= 4
            ),
            sel AS (
              SELECT DISTINCT doc_id, list_min(hs[p:p+3]) AS fp
              FROM wins
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(DISTINCT a.fp) AS BIGINT) AS shared_fps
            FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(DISTINCT a.fp) >= 2
            ORDER BY id_a, id_b
        """,
        "sft_echo_overlap": rf"""
            -- expand oracle's context/target + normalized distinct-token
            -- intersection (normalize = lower/trim/collapse-whitespace,
            -- the dedup-shingle recipe)
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
                     event_type AS role, coalesce(props, '') AS txt
              FROM events WHERE user_id < 40
            ),
            g AS (
              SELECT conv_id,
                     list_transform(
                       list_sort(list(struct_pack(o := event_id, role := role,
                                                  text := txt))),
                       u -> struct_pack(o := u.o, role := u.role,
                                        text := u.text)) AS turns
              FROM t GROUP BY conv_id
            ),
            p AS (
              SELECT conv_id, turns,
                     list_transform(turns,
                       u -> '<|' || u.role || '|>' || u.text) AS pieces,
                     list_filter(range(1, len(turns) + 1),
                       i -> turns[i].role = 'click') AS tidx
              FROM g
            ),
            f AS (
              SELECT conv_id, turns, pieces, tidx,
                     unnest(range(1, len(tidx) + 1)) AS ex
              FROM p
            ),
            pairs AS (
              SELECT conv_id, CAST(ex AS INTEGER) AS example_idx,
                     CASE WHEN tidx[ex] = 1
                          THEN '<|' || turns[tidx[ex]].role || '|>'
                          ELSE array_to_string(list_slice(pieces, 1, tidx[ex] - 1),
                                               chr(10))
                               || chr(10) || '<|' || turns[tidx[ex]].role || '|>'
                     END AS context,
                     turns[tidx[ex]].text AS target
              FROM f
            ),
            toks AS (
              SELECT conv_id, example_idx,
                     list_distinct({_words('lower(target)')}) AS tgt,
                     list_distinct({_words('lower(context)')}) AS ctx
              FROM pairs
            )
            SELECT conv_id, example_idx,
                   CASE WHEN len(tgt) > 0
                        THEN round(CAST(len(list_intersect(tgt, ctx)) AS BIGINT)
                                   / len(tgt), 6)
                        ELSE 0.0 END AS echo_frac
            FROM toks ORDER BY conv_id, example_idx
        """,
        "truncate_context_budget": rf"""
            -- identical reverse-ordered running suffix token sum; the
            -- last turn (rn = 1) always survives
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id AS INTEGER) AS turn_idx,
                     event_type AS role, coalesce(props, '') AS txt
              FROM events WHERE user_id < 40
            ),
            k AS (
              SELECT conv_id, turn_idx, role,
                     CAST(len({_words('txt')}) AS BIGINT) AS n_tok
              FROM t
            ),
            w AS (
              SELECT conv_id, turn_idx, role, n_tok,
                     sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx,
                     row_number() OVER (PARTITION BY conv_id
                       ORDER BY turn_idx DESC) AS rn
              FROM k
            )
            SELECT conv_id, turn_idx, role, CAST(n_tok AS INTEGER) AS n_tokens
            FROM w WHERE sfx <= 8 OR rn = 1
            ORDER BY conv_id, turn_idx
        """,
        "conversation_quality": r"""
            -- same turn sort + per-conv signals via list functions;
            -- integer/integer division is DOUBLE in both engines and both
            -- round to 6
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
                     event_type AS role, coalesce(props, '') AS txt
              FROM events WHERE user_id < 60
            ),
            g AS (
              SELECT conv_id,
                     list_transform(
                       list_sort(list(struct_pack(o := event_id, role := role,
                                                  text := txt))),
                       u -> struct_pack(role := u.role, text := u.text)) AS turns
              FROM t GROUP BY conv_id
            ),
            p AS (
              SELECT conv_id, turns,
                     list_transform(turns, u -> u.role) AS roles,
                     list_transform(turns, u -> CAST(len(u.text) AS BIGINT)) AS tlens
              FROM g
            )
            SELECT conv_id,
                   CAST(len(turns) AS INTEGER) AS n_turns,
                   CAST(len(list_distinct(roles)) AS INTEGER) AS distinct_roles,
                   roles[1] AS starts_role,
                   (len(turns) < 2 OR len(list_filter(range(1, len(roles)),
                        i -> roles[i] = roles[i+1])) = 0) AS role_alternates,
                   round(CAST(len(list_filter(turns, u -> trim(u.text) = ''))
                              AS BIGINT) / len(turns), 6) AS empty_turn_frac,
                   round(CAST(coalesce(list_sum(tlens), 0) AS BIGINT)
                         / len(turns), 6) AS mean_turn_chars
            FROM p ORDER BY conv_id
        """,
        "sft_render_spans": r"""
            -- same rendering: sort turns by event_id, '<|role|>text'
            -- pieces joined on \n, prefix-sum starts, spans = masked
            -- turns' text content, flattened one row per span
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
                     event_type AS role, coalesce(props, '') AS txt
              FROM events WHERE user_id < 40
            ),
            g AS (
              SELECT conv_id,
                     list_transform(
                       list_sort(list(struct_pack(o := event_id, role := role,
                                                  text := txt))),
                       u -> struct_pack(role := u.role, text := u.text)) AS turns
              FROM t GROUP BY conv_id
            ),
            p AS (
              SELECT conv_id, turns,
                     list_transform(turns, u -> '<|' || u.role || '|>' || u.text)
                       AS pieces,
                     list_transform(turns, u -> CAST(len(u.role) + 4 AS BIGINT))
                       AS taglens
              FROM g
            ),
            q AS (
              SELECT conv_id, turns, pieces, taglens,
                     list_transform(pieces, x -> CAST(len(x) AS BIGINT)) AS lens
              FROM p
            ),
            r AS (
              SELECT conv_id, turns, pieces, taglens, lens,
                     list_transform(range(1, len(turns) + 1),
                       i -> CAST(coalesce(list_sum(list_slice(lens, 1, i - 1)), 0)
                                 + (i - 1) AS BIGINT)) AS starts
              FROM q
            ),
            s AS (
              SELECT conv_id,
                     CAST(len(turns) AS INTEGER) AS n_turns,
                     array_to_string(pieces, chr(10)) AS text,
                     list_filter(list_transform(range(1, len(turns) + 1),
                       i -> CASE WHEN turns[i].role = 'click'
                                 THEN struct_pack(s := starts[i] + taglens[i],
                                                  e := starts[i] + lens[i])
                                 ELSE NULL END), x -> x IS NOT NULL) AS spans
              FROM r
            ),
            f AS (
              SELECT conv_id, n_turns, text, spans,
                     unnest(range(1, len(spans) + 1)) AS i
              FROM s
            )
            SELECT conv_id, n_turns, text, CAST(i AS INTEGER) AS span_idx,
                   spans[i].s AS s, spans[i].e AS e
            FROM f ORDER BY conv_id, span_idx
        """,
        "ccnet_bucket_counts": """
            -- the lm_perplexity_outliers scoring CTEs + CCNet head/middle/
            -- tail cuts at exact interpolated percentiles of the round-6
            -- scores (fraction literals spelled as the same double ops)
            WITH tok AS (
              SELECT doc_id, lang, regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
              FROM documents
            ),
            uni AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(ts) AS w FROM tok WHERE lang = 'en')
              GROUP BY w
            ),
            tot AS (
              SELECT CAST(sum(c) AS DOUBLE) + CAST(count(*) AS DOUBLE) AS tv
              FROM uni
            ),
            bi AS (
              SELECT bg, count(*) AS c
              FROM (SELECT unnest(list_transform(range(1, len(ts)),
                             i -> ts[i] || ' ' || ts[i+1])) AS bg
                    FROM tok WHERE lang = 'en' AND len(ts) >= 2)
              GROUP BY bg
            ),
            pairs AS (
              SELECT doc_id, lang, unnest(list_concat(
                       CASE WHEN len(ts) >= 1
                            THEN [{'p': CAST(NULL AS VARCHAR), 'c': ts[1]}]
                            ELSE [] END,
                       CASE WHEN len(ts) >= 2
                            THEN list_transform(range(1, len(ts)),
                                   i -> {'p': ts[i], 'c': ts[i+1]})
                            ELSE [] END)) AS pc
              FROM tok
            ),
            terms AS (
              SELECT p.doc_id, p.lang,
                     CASE WHEN b.c IS NOT NULL
                            THEN ln(CAST(b.c AS DOUBLE) / up.c)
                          WHEN p.pc.p IS NULL
                            THEN ln((coalesce(uc.c, 0) + 1.0) / (SELECT tv FROM tot))
                          ELSE ln(0.4 * (coalesce(uc.c, 0) + 1.0) / (SELECT tv FROM tot))
                     END AS term
              FROM pairs p
              LEFT JOIN bi b ON b.bg = p.pc.p || ' ' || p.pc.c
              LEFT JOIN uni up ON up.w = p.pc.p
              LEFT JOIN uni uc ON uc.w = p.pc.c
            ),
            scored AS (
              SELECT doc_id, any_value(lang) AS lang,
                     round(sum(term) / count(*), 6) AS lm_logprob
              FROM terms GROUP BY doc_id
            ),
            cuts AS (
              SELECT quantile_cont(lm_logprob, 1.0 - 1.0/3.0) AS c_head,
                     quantile_cont(lm_logprob, 1.0 - 2.0/3.0) AS c_tail
              FROM scored
            ),
            bkt AS (
              SELECT s.lang,
                     CASE WHEN s.lm_logprob >= c.c_head THEN 'head'
                          WHEN s.lm_logprob >= c.c_tail THEN 'middle'
                          ELSE 'tail' END AS lm_bucket
              FROM scored s CROSS JOIN cuts c
            )
            SELECT lang, lm_bucket, CAST(count(*) AS BIGINT) AS n_docs
            FROM bkt GROUP BY lang, lm_bucket ORDER BY lang, lm_bucket
        """,
        "dedup_event_sequences": """
            -- same planted duplicates, same md5-over-chr(31)-joined
            -- ordered sequence, same min-user_id winner rule
            WITH u AS (
              SELECT event_id, user_id, event_type FROM events
              UNION ALL
              SELECT event_id, user_id + 10000, event_type
              FROM events WHERE user_id % 5 = 0
            ),
            fp AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_items,
                     md5(string_agg(coalesce(event_type, '\\N'), chr(31)
                           ORDER BY event_id, coalesce(event_type, '\\N')))
                       AS seq_fp
              FROM u GROUP BY user_id
            ),
            winner AS (SELECT seq_fp, min(user_id) AS w FROM fp GROUP BY seq_fp)
            SELECT f.user_id, f.n_items, f.seq_fp, (f.user_id = w.w) AS kept
            FROM fp f JOIN winner w USING (seq_fp)
            ORDER BY f.user_id
        """,
        "hybrid_rrf_search": """
            -- both rankings from first principles + 1/(60+rank) fusion:
            -- BM25 ranks on the round-6 score (deterministic tie-break),
            -- cosine ranks on the raw sim (ann_cosine_topk precedent)
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
              FROM documents
            ),
            stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(CAST(len(ts) AS DOUBLE)) AS avgdl
              FROM toks
            ),
            posts AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks
            ),
            tf AS (
              SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
              FROM posts WHERE term IN ('spark', 'window', 'merge')
              GROUP BY term, doc_id, dl
            ),
            dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
            bscore AS (
              SELECT tf.doc_id,
                     round(sum(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
                     ), 6) AS score
              FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
              GROUP BY tf.doc_id
            ),
            brk AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
              FROM bscore QUALIFY rk <= 50
            ),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            csim AS (
              SELECT e.vec_id AS doc_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
            ),
            crk AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rk
              FROM csim QUALIFY rk <= 50
            ),
            fused AS (
              SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
                     round(coalesce(1.0 / (60.0 + b.rk), 0)
                           + coalesce(1.0 / (60.0 + c.rk), 0), 6) AS rrf_score,
                     CAST(CASE WHEN b.rk IS NULL THEN 0 ELSE 1 END
                          + CASE WHEN c.rk IS NULL THEN 0 ELSE 1 END AS BIGINT)
                       AS n_lists,
                     b.rk AS bm25_rk, c.rk AS cos_rk
              FROM brk b FULL OUTER JOIN crk c ON b.doc_id = c.doc_id
            )
            SELECT doc_id, rrf_score, n_lists, bm25_rk, cos_rk FROM fused
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 15
        """,
        "lm_perplexity_outliers": """
            -- stupid-backoff bigram LM refit from first principles: fit
            -- counts on the English slice, three-branch backoff terms
            -- (bigram / first-token smoothed unigram / alpha-backoff
            -- smoothed unigram), mean per-token ln rounded to 6
            WITH tok AS (
              SELECT doc_id, lang, regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
              FROM documents
            ),
            uni AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(ts) AS w FROM tok WHERE lang = 'en')
              GROUP BY w
            ),
            tot AS (
              SELECT CAST(sum(c) AS DOUBLE) + CAST(count(*) AS DOUBLE) AS tv
              FROM uni
            ),
            bi AS (
              SELECT bg, count(*) AS c
              FROM (SELECT unnest(list_transform(range(1, len(ts)),
                             i -> ts[i] || ' ' || ts[i+1])) AS bg
                    FROM tok WHERE lang = 'en' AND len(ts) >= 2)
              GROUP BY bg
            ),
            pairs AS (
              SELECT doc_id, lang, unnest(list_concat(
                       CASE WHEN len(ts) >= 1
                            THEN [{'p': CAST(NULL AS VARCHAR), 'c': ts[1]}]
                            ELSE [] END,
                       CASE WHEN len(ts) >= 2
                            THEN list_transform(range(1, len(ts)),
                                   i -> {'p': ts[i], 'c': ts[i+1]})
                            ELSE [] END)) AS pc
              FROM tok
            ),
            terms AS (
              SELECT p.doc_id, p.lang,
                     CASE WHEN b.c IS NOT NULL
                            THEN ln(CAST(b.c AS DOUBLE) / up.c)
                          WHEN p.pc.p IS NULL
                            THEN ln((coalesce(uc.c, 0) + 1.0) / (SELECT tv FROM tot))
                          ELSE ln(0.4 * (coalesce(uc.c, 0) + 1.0) / (SELECT tv FROM tot))
                     END AS term
              FROM pairs p
              LEFT JOIN bi b ON b.bg = p.pc.p || ' ' || p.pc.c
              LEFT JOIN uni up ON up.w = p.pc.p
              LEFT JOIN uni uc ON uc.w = p.pc.c
            ),
            scored AS (
              SELECT doc_id, any_value(lang) AS lang,
                     round(sum(term) / count(*), 6) AS lm_logprob
              FROM terms GROUP BY doc_id
            )
            SELECT doc_id, lang, lm_logprob FROM scored
            ORDER BY lm_logprob ASC, doc_id ASC LIMIT 80
        """,
        "merge_into_dataset": """
            -- the same MERGE replayed in SQL: %10 slice updated (+1000),
            -- %40 slice deleted, %7==3 slice re-inserted as shadow keys
            SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                        ELSE c_acctbal END AS c_acctbal
            FROM customer
            WHERE NOT (c_custkey % 40 = 0)
            UNION ALL
            SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal
            FROM customer WHERE c_custkey % 7 = 3
            ORDER BY c_custkey
        """,
        "cdc_read_changes": r"""
            -- versions (1,3] = feed batches 1,2 regenerated from first
            -- principles (sf0.01 spec: P=491527, phase-1 span=245764,
            -- tool from lsn >= 9P=4423743); within-batch LWW nets phase-2
            -- updates to the max revision k = 1 + h%3 per key; duplicate
            -- redeliveries (batch+1) are dropped by the bucket watermark
            WITH keys AS (
              SELECT ci, unnest(range(CASE WHEN ci % 100 = 0
                                           THEN 200 + (ci % 17) * 100
                                           ELSE 4 + ci % 13 END)) AS t
              FROM range(120) c(ci)
            ),
            k2 AS (
              SELECT ci, t, ci * 4096 + t AS ki,
                     (ci * 1000003 + t * 7919) % 1000000007 AS h,
                     'conv-' || printf('%08d', ci) AS conv_id,
                     'turn ' || t || ' of conv-' || printf('%08d', ci) || ': '
                       || repeat('tok ', CAST(t % 7 AS INT)) AS base_text
              FROM keys
            ),
            b1 AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'upsert' AS _change_type, 2 AS _commit_version,
                     (ki * 48271) % 491527 AS _lsn,
                     ['user','assistant','tool','system'][CAST(t % 4 AS INT) + 1] AS role,
                     trim(regexp_replace(base_text, '\s+', ' ', 'g')) AS text,
                     CAST(NULL AS VARCHAR) AS tool
              FROM k2 WHERE ((ki * 48271) % 491527) // 245764 = 1
            ),
            b2 AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'upsert' AS _change_type, 3 AS _commit_version,
                     491527 + ki * 16 + (h % 3) AS _lsn,
                     ['user','assistant','tool','system'][CAST(t % 4 AS INT) + 1] AS role,
                     trim(regexp_replace(base_text || ' (rev ' || (1 + h % 3) || ')',
                                         '\s+', ' ', 'g')) AS text,
                     CASE WHEN 491527 + ki * 16 + (h % 3) >= 4423743
                          THEN ['bash','search',''][CAST(h % 3 AS INT) + 1] END AS tool
              FROM k2 WHERE h % 5 = 0
            )
            SELECT * FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
            ORDER BY conv_id, turn_idx, _lsn
        """,
        "cdc_stream_changes": r"""
            -- FULL changelog from first principles (sf0.01 spec,
            -- P=491527, span1=245764, tool from lsn >= 9P): batches 0-1 =
            -- phase-1 inserts by span, batch 2 = updates netted to max
            -- revision k=1+h%3, batch 3 = deletes (role/text NULL) and
            -- reborn inserts (tool present, 17P > 9P); the trailing
            -- duplicate batch is watermark-dropped and never committed
            WITH keys AS (
              SELECT ci, unnest(range(CASE WHEN ci % 100 = 0
                                           THEN 200 + (ci % 17) * 100
                                           ELSE 4 + ci % 13 END)) AS t
              FROM range(120) c(ci)
            ),
            k2 AS (
              SELECT ci, t, ci * 4096 + t AS ki,
                     (ci * 1000003 + t * 7919) % 1000000007 AS h,
                     'conv-' || printf('%08d', ci) AS conv_id,
                     'turn ' || t || ' of conv-' || printf('%08d', ci) || ': '
                       || repeat('tok ', CAST(t % 7 AS INT)) AS base_text
              FROM keys
            ),
            ins AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'upsert' AS _change_type,
                     (ki * 48271) % 491527 AS _lsn,
                     ['user','assistant','tool','system'][CAST(t % 4 AS INT) + 1] AS role,
                     trim(regexp_replace(base_text, '\s+', ' ', 'g')) AS text,
                     CAST(NULL AS VARCHAR) AS tool
              FROM k2
            ),
            upd AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'upsert' AS _change_type,
                     491527 + ki * 16 + (h % 3) AS _lsn,
                     ['user','assistant','tool','system'][CAST(t % 4 AS INT) + 1] AS role,
                     trim(regexp_replace(base_text || ' (rev ' || (1 + h % 3) || ')',
                                         '\s+', ' ', 'g')) AS text,
                     CASE WHEN 491527 + ki * 16 + (h % 3) >= 4423743
                          THEN ['bash','search',''][CAST(h % 3 AS INT) + 1] END AS tool
              FROM k2 WHERE h % 5 = 0
            ),
            dels AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'delete' AS _change_type,
                     17 * 491527 + ki * 16 AS _lsn,
                     CAST(NULL AS VARCHAR) AS role,
                     CAST(NULL AS VARCHAR) AS text,
                     CAST(NULL AS VARCHAR) AS tool
              FROM k2 WHERE h % 23 = 0 AND h % 46 <> 0
            ),
            reborn AS (
              SELECT conv_id, CAST(t AS INT) AS turn_idx,
                     'upsert' AS _change_type,
                     17 * 491527 + ki * 16 + 1 AS _lsn,
                     ['user','assistant','tool','system'][CAST(t % 4 AS INT) + 1] AS role,
                     trim(regexp_replace(base_text || ' (reborn)', '\s+', ' ', 'g')) AS text,
                     ['bash','search',''][CAST(h % 3 AS INT) + 1] AS tool
              FROM k2 WHERE h % 46 = 0
            )
            SELECT * FROM (
              SELECT * FROM ins UNION ALL SELECT * FROM upd
              UNION ALL SELECT * FROM dels UNION ALL SELECT * FROM reborn
            )
            ORDER BY conv_id, turn_idx, _lsn
        """,
        "zorder_pruned_scan": """
            -- layout is invisible to readers: the z-ordered rewrite must
            -- return exactly the source table's box-filtered rows
            SELECT event_id, user_id, value, event_type
            FROM events
            WHERE user_id BETWEEN 40 AND 79
              AND value BETWEEN 20.0 AND 80.0
            ORDER BY event_id
        """,
        "dedup_spans_corpus": f"""
            -- identical window/first-occurrence/coverage pipeline; the
            -- winner per span is (doc_id,pos)-lexicographic first, same
            -- total order as Spark's min(struct(id,pos))
            WITH d AS (
              SELECT doc_id, {_words('lower(x)')} AS t
              FROM (SELECT doc_id,
                           text || ' ' || 'shared span block '
                                || CAST(doc_id % 5 AS VARCHAR)
                                || ' alpha beta gamma delta epsilon' AS x
                    FROM documents WHERE doc_id < 1200)
            ), w0 AS (
              SELECT doc_id,
                     unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
                            i -> struct_pack(pos := i,
                                span := array_to_string(t[i+1:i+8], ' ')))) AS ws
              FROM d
            ), f AS (
              SELECT doc_id, ws.pos AS pos,
                     row_number() OVER (PARTITION BY ws.span
                                        ORDER BY doc_id, ws.pos) AS rn
              FROM w0
            ), cov AS (
              SELECT DISTINCT doc_id, pos + j AS idx
              FROM f, unnest(range(0, 8)) AS r(j)
              WHERE rn > 1
            ), tokidx AS (
              SELECT doc_id, unnest(list_transform(range(0, len(t)),
                             i -> struct_pack(idx := i, tok := t[i+1]))) AS ti
              FROM d
            ), kept AS (
              SELECT k.doc_id, k.ti.idx AS idx, k.ti.tok AS tok
              FROM tokidx k LEFT JOIN cov c
                ON k.doc_id = c.doc_id AND k.ti.idx = c.idx
              WHERE c.doc_id IS NULL
            ), reb AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text_kept,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(r.text_kept, '') AS text_kept,
                   CAST(len(d.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
                   CAST(len(d.t) AS BIGINT) AS n_tokens
            FROM d LEFT JOIN reb r ON d.doc_id = r.doc_id
            ORDER BY d.doc_id
        """,
        "stratified_sample_docs": """
            -- hash-threshold stratified sample: md5-derived 60-bit bucket,
            -- integer thresholds = floor(frac * 1e6) for binary-exact fracs
            SELECT doc_id, lang, source
            FROM documents
            WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000000)
                  < CASE lang WHEN 'en' THEN 250000
                              WHEN 'es' THEN 1000000
                              WHEN 'de' THEN 500000
                              WHEN 'fr' THEN 125000
                              ELSE 0 END
            ORDER BY doc_id
        """,
        "token_budget_mixture": f"""
            -- thresholds re-derived from the data with the identical
            -- float-op sequence: budget * (w/Sum_w) * 1e6 / group_tokens
            WITH tok AS (
              SELECT source, len({_words('text')}) AS toks
              FROM documents
            ), gt AS (
              SELECT source, CAST(sum(toks) AS BIGINT) AS gtoks
              FROM tok GROUP BY source
            ), th AS (
              SELECT source,
                     CASE WHEN gtoks <= 0 THEN 0
                          ELSE LEAST(1000000, CAST(floor(
                            2000 * (CASE source WHEN 'src0' THEN 3.0
                                                WHEN 'src1' THEN 1.0
                                                WHEN 'src2' THEN 1.0
                                                WHEN 'src3' THEN 5.0
                                                ELSE 0.0 END / 10.0)
                            * 1000000 / gtoks) AS BIGINT))
                     END AS thresh
              FROM gt
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN th ON d.source = th.source
            WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000000) < th.thresh
            ORDER BY d.doc_id
        """,
        "url_canonical_dedup": """
            -- ground-truth canonical form of url_canonical_dedup's
            -- synthesized variants: ids 2r and 2r+1 share resource r
            SELECT 'https://example' || CAST((doc_id // 2) % 50 AS VARCHAR)
                   || '.com/a/b' || CAST(doc_id // 2 AS VARCHAR)
                   || '?a=1&b=2' AS canon_url,
                   count(*) AS n_dups,
                   min(doc_id) AS min_doc
            FROM documents WHERE doc_id < 2000
            GROUP BY 1 ORDER BY 1
        """,
        "read_meta_jsonl": """
            -- mirrors read_meta_jsonl's generated files: row i has
            -- user u{i%7}, score i/4, items [{v:i},{v:3i}] (each row
            -- contributes 2 exploded items)
            SELECT 'u' || CAST(i % 7 AS VARCHAR) AS user,
                   2 * count(*) AS n_items,
                   CAST(sum(4 * i) AS BIGINT) AS sum_v,
                   round(sum(2 * (i / 4.0)), 2) AS sum_score
            FROM range(0, 200) t(i)
            GROUP BY 1 ORDER BY 1
        """,
        "minhash_near_dup_pairs": _minhash_oracle_sql(),
        "near_dup_clusters": _near_dup_clusters_oracle_sql(),
        "embedding_near_dup_planted": _embedding_near_dup_oracle_sql(),
        "ngram_jaccard_near_dups": _ngram_jaccard_oracle_sql(),
        "lsh_topk_ann": _lsh_topk_oracle_sql(),
        "ivf_topk_kmeans": _ivf_topk_oracle_sql(),
        "semantic_dedup_kept": _semantic_dedup_oracle_sql(),
        "pii_scrub": _pii_scrub_oracle_sql(),
        "decontaminate_corpus": _decontaminate_oracle_sql(),
        "webdataset_roundtrip": """
            SELECT printf('doc_%06d', doc_id) AS key, text AS txt, lang AS cls
            FROM documents WHERE doc_id < 200 ORDER BY key
        """,
        "gopher_repetition": rf"""
            WITH tk AS (
              SELECT doc_id,
                     {_words('lower(text)')} AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS g
              FROM tk, UNNEST(range(1, len(t))) AS u(i)
              UNION ALL
              SELECT doc_id, 5 AS n, array_to_string(t[i:i+4], ' ') AS g
              FROM tk, UNNEST(range(1, len(t) - 3)) AS u(i)
            ),
            pg AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g),
            pd AS (SELECT doc_id, n, max(c) AS top_c, sum(c) AS total, count(*) AS nd
                   FROM pg GROUP BY doc_id, n),
            st AS (
              SELECT doc_id,
                     max(CASE WHEN n = 2 THEN top_c / total END) AS tf,
                     max(CASE WHEN n = 5 THEN 1 - nd / total END) AS duf
              FROM pd GROUP BY doc_id
            )
            SELECT d.doc_id,
                   round(coalesce(st.tf, 0), 6) AS top_ngram_frac,
                   round(coalesce(st.duf, 0), 6) AS dup_ngram_frac
            FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
            ORDER BY d.doc_id
        """,
        "gopher_quality_filter": rf"""
            WITH s AS (
              SELECT doc_id, text,
                     len({_words('text')}) AS n_words,
                     {_words('lower(text)')} AS tk
              FROM documents
            ),
            m AS (
              SELECT doc_id, n_words,
                     length(regexp_replace(text, '\s+', '', 'g'))
                       / greatest(n_words, 1) AS mean_wl,
                     ((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3)
                       / greatest(n_words, 1) AS sym_ratio,
                     len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
                       / greatest(n_words, 1) AS alpha_frac,
                     len(list_intersect(tk, [{_EN}])) AS stop_hits
              FROM s
            )
            SELECT doc_id, n_words,
                   round(mean_wl, 6) AS mean_word_len,
                   round(sym_ratio, 6) AS symbol_word_ratio,
                   round(alpha_frac, 6) AS alpha_word_frac,
                   stop_hits AS stopword_hits,
                   (n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3.0 AND 10.0
                    AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
                    AND stop_hits >= 2) AS gopher_pass
            FROM m ORDER BY doc_id
        """,
        "dedup_lines_c4": r"""
            WITH L0 AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            L AS (
              SELECT doc_id, i AS pos,
                     array_to_string(t[((i-1)*10+1):(i*10)], ' ') AS line
              FROM L0, UNNEST(range(1, CAST(ceil(len(t)/10.0) AS BIGINT) + 1)) AS u(i)
            ),
            k AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
              FROM L
            )
            SELECT doc_id,
                   string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos)
                     AS text_kept,
                   count(*) FILTER (WHERE rn = 1) AS n_lines_kept,
                   count(*) AS n_lines_orig
            FROM k GROUP BY doc_id ORDER BY doc_id
        """,
        "simhash_near_dup_pairs": _simhash_oracle_sql(),
        # Full CDC-replay oracle, self-contained: the feed is pure
        # arithmetic (datachain_spark/cdc/feed.py), so DuckDB regenerates
        # every event from first principles and replays last-writer-wins
        # by lsn per (conv_id, turn_idx) — verifying the ENTIRE engine
        # (feed gen, batching, LWW merge, tombstones, duplicate delivery,
        # schema evolution, text normalization) end to end. Constants are
        # the sf0.01 spec: n_convs=120, hot_every=100, hot_base=200,
        # P = next_prime(120 << 12) = 491527, tool_lsn = 9P = 4423743.
        "cdc_transcripts_final": r"""
            WITH keys AS (
              SELECT ci, unnest(range(CASE WHEN ci % 100 = 0
                                           THEN 200 + (ci % 17) * 100
                                           ELSE 4 + ci % 13 END)) AS t
              FROM range(120) c(ci)
            ),
            k2 AS (
              SELECT ci, t,
                     ci * 4096 + t AS ki,
                     (ci * 1000003 + t * 7919) % 1000000007 AS h,
                     'conv-' || printf('%08d', ci) AS conv_id,
                     'turn ' || t || ' of conv-' || printf('%08d', ci) || ': '
                       || repeat('tok ', CAST(t % 7 AS INT)) AS base_text
              FROM keys
            ),
            ev AS (
              SELECT (ki * 48271) % 491527 AS lsn, 'I' AS op, conv_id, t, h,
                     base_text AS text FROM k2
              UNION ALL
              SELECT 491527 + ki * 16 + (k - 1), 'U', conv_id, t, h,
                     base_text || ' (rev ' || k || ')'
              FROM (SELECT *, unnest(range(1, CAST(2 + h % 3 AS INT))) AS k
                    FROM k2 WHERE h % 5 = 0)
              UNION ALL
              SELECT 17 * 491527 + ki * 16, 'D', conv_id, t, h, NULL
              FROM k2 WHERE h % 23 = 0
              UNION ALL
              SELECT 17 * 491527 + ki * 16 + 1, 'I', conv_id, t, h,
                     base_text || ' (reborn)'
              FROM k2 WHERE h % 46 = 0
            ),
            winner AS (
              SELECT * FROM ev
              QUALIFY row_number() OVER (PARTITION BY conv_id, t
                                         ORDER BY lsn DESC) = 1
            )
            SELECT conv_id,
                   CAST(t AS INT) AS turn_idx,
                   ['user', 'assistant', 'tool', 'system'][CAST(t % 4 AS INT) + 1] AS role,
                   trim(regexp_replace(text, '\s+', ' ', 'g')) AS text,
                   CASE WHEN lsn >= 4423743
                        THEN ['bash', 'search', ''][CAST(h % 3 AS INT) + 1] END AS tool
            FROM winner
            WHERE op <> 'D'
            ORDER BY conv_id, turn_idx
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec::DOUBLE[]) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
            )
            SELECT q_id, vec_id, round(sim, 3) AS cos_sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
            FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk
        """,
    }
