"""Deduplication operators for web-scale corpora.

Exact dedup is a hash-groupBy; near-dup families are MinHash+LSH, SimHash,
and n-gram Jaccard. All signature computation stays JVM-side (built-in
array/hash functions over shingle arrays — no Python UDFs); candidate
generation uses LSH band-bucket joins so the pairwise comparison is
O(collisions), never O(n^2) — at 10^10 documents the banded self-join is
the only feasible shape, and each band bucket is a shuffle key, so skewed
buckets are handled by AQE skew-join.

The reference has no dedup operators (its distinct() is plain DISTINCT,
/root/reference/src/datachain/query/dataset.py:1793-1805); these are the
training-data-pipeline extensions the build brief requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark.frames import spread
from datachain_spark.operators import hash60, sliding_ngrams, words

# 2^31-1: keeps a*h+b far below int64 overflow under ANSI mode while
# leaving minhash collision probability ~1/2^31 per permutation
MERSENNE = (1 << 31) - 1
# the job every fingerprint-registry batch commits under
_REGISTRY_JOB = "incremental_dedup"


def normalize_for_dedup(text: Column) -> Column:
    """Lowercase, collapse every whitespace run to one space, then trim:
    the string the exact-dedup fingerprints (md5, xxhash64) hash, so text
    that differs only in case or whitespace gets one fingerprint. Not a
    tokenizer: the token operators use `words`."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text.
    One hash-shuffle on the fingerprint; partial aggregation map-side."""
    fp = F.md5(normalize_for_dedup(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowered text (`words`, then
    `sliding_ngrams`); a document with fewer than n tokens has none."""
    return F.array_distinct(sliding_ngrams(words(F.lower(text)), n))


def minhash_from_base(base: Column, num_hashes: int = 32) -> Column:
    """MinHash signature from a materialized base-hash array: per
    permutation i, min over (a_i * h + b_i) mod M. The a/b constants are
    fixed odd integers so signatures are deterministic everywhere."""
    sigs = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd
        b = 104729 * (i + 1)
        sigs.append(
            F.coalesce(
                F.array_min(F.transform(base, lambda h: F.pmod(h * a + b, F.lit(MERSENNE)))),
                F.lit(MERSENNE),
            )
        )
    return F.array(*sigs)


def minhash_signature(text: Column, num_hashes: int = 32, n: int = 3) -> Column:
    """MinHash signature straight from text. NOTE: when used in a single
    projection this recomputes the shingle array per permutation (Catalyst
    does not CSE across higher-order functions) — prefer materializing the
    base hashes in a separate projection (see minhash_lsh_pairs, which is
    32x faster that way)."""
    sh = shingles(text, n)
    base = F.transform(sh, lambda s: F.pmod(hash60(s), F.lit(MERSENNE)))
    return minhash_from_base(base, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over MinHash.

    rows/bands hashes per band; a pair collides if any band matches.
    Verified pairs carry `n_match` (matching minhash components, an exact
    int) and the estimated Jaccard. Self-join is on (band_id, band_hash) —
    never all-pairs.

    Oracle-equivalence guarantee (what makes this DuckDB-verifiable): when
    (1 - threshold) * num_hashes < bands, any pair with est_jaccard >=
    threshold has fewer mismatching components than bands, so by
    pigeonhole at least one band matches completely and the pair is
    ALWAYS a candidate — the banded output equals brute-force all-pairs
    filtered by threshold, exactly. The shingle hashes are `hash60` mod
    2^31-1, so the signatures themselves are DuckDB-reproducible (the
    oracle's `_MD5I`), closing the loop."""
    rows_per_band = num_hashes // bands
    # two projection stages: materialize the per-shingle base hashes ONCE,
    # then take the 32 permutation-mins over that array — Catalyst does not
    # CSE subexpressions across higher-order functions, so a single-stage
    # formulation recomputes shingling per permutation (measured 10x slower)
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.transform(
            shingles(F.col(text_col), n), lambda s: F.pmod(hash60(s), F.lit(MERSENNE))
        ).alias("_base"),
    )
    sig = base.select("id", minhash_from_base(F.col("_base"), num_hashes).alias("sig"))
    # band key = variadic xxhash64 over the band's signature components
    # indexed directly — no transform/cast-to-string/array_join tree (the
    # old string fold was ~3x the expression cost; any collision only adds
    # a CANDIDATE, which the exact n_match verification below filters, so
    # the pigeonhole oracle-equivalence is unaffected)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + j] for j in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.bh")
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    )
    return (
        cand.withColumn("n_match", n_match)
        .withColumn("est_jaccard", F.col("n_match") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "n_match", "est_jaccard")
    )


def simhash(text: Column) -> Column:
    """SimHash: sign-sum of token-hash bits. Computed JVM-side by summing
    (+1/-1) per bit over the distinct-token array with aggregate(). The
    token hash is `hash60`, so all 60 voted bits are random and hamming
    distances are DuckDB-reproducible from first principles (`_MD5I`)."""
    toks = F.array_distinct(words(F.lower(text)))
    hashes = F.transform(toks, hash60)
    out = F.lit(0).cast("long")
    for b in range(60):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 16-bit chunks (a pair within
    hamming distance 3 must agree on at least one chunk — pigeonhole), then
    verify exact hamming distance with bit_count(xor). Because max_hamming
    < number of chunks, blocking has 100% recall: the output is EXACTLY
    all pairs with hamming <= max_hamming, so a brute-force oracle
    (DuckDB all-pairs over the same signatures) matches value-for-value."""
    df = spread(df, id_col)
    h = df.select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col)).alias("sh"),
    )
    chunks = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sh", 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sh", "ck.chunk", "ck.cv")
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation: every node starts labeled with itself; each round a node
    takes the minimum label in its neighborhood; converged when no label
    changes. Returns (id, component) with component = min node id of the
    cluster.

    Scale shape: each iteration is one equi-join + one min-aggregation
    over the EDGE list — O(E) shuffle, no all-pairs, no driver-side graph.
    Iteration count is bounded by the cluster diameter, and near-dup
    clusters are shallow (dozens of docs, diameter a handful), so this
    converges in a few rounds at any corpus size; localCheckpoint per
    round truncates the lineage so plans stay flat. (The alternating
    large-star/small-star variant halves rounds on pathological chains;
    plain min-propagation is the right trade for near-dup graphs.)"""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias(
                    "new_component"
                ),
                "component",
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("new_component") != F.col("component")).count()
        labels = updated.select("id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    else:
        # exhausted max_iters with labels still moving: the labels are WRONG
        # (a component of diameter > max_iters is still split); surface it
        # loudly rather than silently keeping extra "duplicates".
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iters} iterations "
            f"({changed} labels still changing); returned components are split. "
            "Raise max_iters (diameter-bounded) for long near-dup chains.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def near_dup_cluster_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """The full near-dup DEDUP (not just pair finding): MinHash+LSH pairs
    -> connected components -> keep the minimum-id document per cluster
    (plus every unpaired document). This is the operator a 100 TB corpus
    pipeline actually runs; pairs alone are an intermediate."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold=threshold)
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH-free inverted-index candidates:
    explode shingles, self-join on shingle (the inverted index), count
    shared shingles per pair, then |A∩B| / (|A|+|B|-|A∩B|).

    `max_df` drops shingles appearing in more than that many documents
    BEFORE the self-join — the standard stop-shingle cap. Without it one
    ubiquitous shingle ("in the of" at corpus scale) yields a quadratic
    posting-list join: df docs sharing a shingle produce df^2/2 joined
    rows. Dropped hot shingles only LOWER a pair's computed intersection
    (denominator still uses full sizes), so the result under-reports
    similarity driven purely by boilerplate shingles — the accepted
    trade-off of the technique. Candidate set is bounded by
    sum(df_g^2) over kept shingles, never all-pairs.

    Plan shape: shingles join by their 64-bit xxhash64, not the string —
    the shuffles ship 8 bytes/row and the join compares longs (collision
    odds ~|shingles|^2/2^64, immaterial for counting). The exploded rows
    shuffle exactly once (by shingle, for the self-join); per-doc set
    sizes aggregate with map-side combine and join onto the tiny PAIRS
    output, and AQE broadcasts the stop-shingle side when it is small."""
    # Shape notes (re-measured this round, warm best-of-4 at sf0.1):
    # - per-doc sizes come from a map-side-combined groupBy(id) and join
    #   onto the TINY pairs output at the end — the exploded rows shuffle
    #   exactly once (by g, for the self-join). Broadcasting sizes onto
    #   the exploded rows before the join (the previous shape) forces an
    #   eager extra pass over the explode AND cannot scale: |sizes| =
    #   |docs|, and you can't broadcast a billion doc sizes. 0.95s vs
    #   2.5s here, and strictly better at corpus scale.
    # - no forced F.broadcast on the stop-shingle anti join: AQE picks
    #   broadcast when the hot side is small; forcing it serializes an
    #   extra eager job (3.5s vs 2.5s).
    # - rejected: size(arr)+explode(arr) in one projection (re-evaluates
    #   the interpreted shingle expr per output row, 3.3s) and window
    #   count-by-g doc freq (one viral shingle's rows land on one task —
    #   skew-unsafe at corpus scale).
    sh0 = spread(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("g")
    ).select("id", F.xxhash64("g").alias("g"))
    sizes = sh0.groupBy("id").agg(F.count("*").alias("sz"))
    doc_freq = sh0.groupBy("g").agg(F.count("*").alias("__df"))
    sh = sh0
    if max_df is not None:
        sh = sh.join(doc_freq.filter(F.col("__df") > max_df), "g", "left_anti")

    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
    )
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_dedup(
    new_df: DataFrame,
    registry_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 64,
    update: bool = True,
    batch_id: int | None = None,
) -> DataFrame:
    """Streaming-corpus exact dedup: drop documents whose (normalized)
    content fingerprint already exists in a persistent FINGERPRINT
    REGISTRY, and register the survivors — the op a CDC-fed training
    corpus runs on every ingest batch.

    The registry is a bucketed LakeTable keyed by the 8-byte xxhash64
    fingerprint (16 bytes/doc — ~1.6 TB of registry for 10^11 docs, vs
    re-scanning a 100 TB corpus per batch). The check is bucket-pruned:
    the batch's fingerprints touch at most num_buckets buckets, and only
    THOSE registry buckets are read for the anti-join — batch-sized work,
    not corpus-sized. Within-batch duplicates keep the lowest id (one
    fingerprint shuffle). Registering (`update=True`) needs a `batch_id`:
    the survivors' fingerprints go through `LakeTable.append`, the lake's
    exactly-once batch append, so a retry after a crash reuses the written
    fingerprints and replaying a committed batch re-filters (idempotent
    reads) but never double-registers. A registry has one batch-id
    sequence: every fingerprint row carries the id of the batch that
    registered it as its `_lsn`, which compaction keeps.
    """
    from datachain_spark.lake.table import DELETED_COL, LSN_COL, LakeTable

    if update and batch_id is None:
        raise ValueError("incremental_dedup(update=True) needs a batch_id to register under")
    spark = new_df.sparkSession
    fp_schema = T.StructType([T.StructField("fp", T.LongType(), False)])
    if LakeTable.exists(registry_root):
        reg = LakeTable(registry_root)
    else:
        reg = LakeTable.create(
            registry_root, fp_schema, key_cols=["fp"], num_buckets=num_buckets
        )

    fp = F.xxhash64(normalize_for_dedup(F.col(text_col)))
    batch = new_df.withColumn("_fp", fp)
    # within-batch keep-first: one shuffle on the fingerprint
    w = Window.partitionBy("_fp").orderBy(id_col)
    firsts = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # bucket-pruned registry read: collect() is bounded by num_buckets ints
    touched = [
        r[0]
        for r in firsts.select(reg.bucket_expr("_fp").alias("b"))
        .distinct()
        .collect()
    ]
    # raw segment read (no LWW window): anti-join needs fp EXISTENCE only,
    # and duplicate fps on the build side of a left_anti are free — the
    # resolve pass would add a window shuffle per batch for nothing.
    snap = reg.snapshot()
    committed = batch_id is not None and reg.batch_committed(_REGISTRY_JOB, batch_id)
    known = reg._read_raw(spark, snap, [b for b in touched if b in snap.buckets])
    if committed:
        # a REPLAYED batch filters against every fingerprint but its own:
        # earlier batches' rows are what filtered its first run, and a later
        # batch never registers a fingerprint this batch already had, so
        # resume returns the SAME survivors, with or without expired versions
        known = known.filter(F.col(LSN_COL) != batch_id)
    known = known.select("fp")
    survivors = firsts.join(known, firsts["_fp"] == known["fp"], "left_anti")
    if update:
        # the registry write below is one action and the caller's read is
        # another — persist so the scan+hash+anti-join runs once per batch
        survivors = survivors.persist()

    if update and not committed:
        fps = survivors.select(
            F.col("_fp").alias("fp"),
            F.lit(batch_id).cast("long").alias(LSN_COL),
            F.lit(None).cast("boolean").alias(DELETED_COL),
        )
        reg.append(spark, reg.layout(fps), _REGISTRY_JOB, batch_id)
    return survivors.drop("_fp")


def run_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    registry_root: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 4,
) -> list[dict]:
    """Streaming corpus ingest with exactly-once dedup: a file-source
    stream of document batches flows through incremental_dedup per
    microbatch; survivors land in epoch-keyed parquet dirs. Restarting
    with the same checkpoint resumes where it left off — already-ingested
    documents stay deduped because the REGISTRY persists across runs,
    and a replayed epoch is safe end-to-end: Structured Streaming
    re-delivers the identical file set, incremental_dedup filters it
    against every fingerprint but its own (same survivors), and the
    epoch-keyed overwrite makes the output write idempotent.
    Run-to-exhaustion (availableNow); returns per-epoch metrics."""
    import os

    metrics: list[dict] = []

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        surv = incremental_dedup(
            batch_df,
            registry_root,
            text_col=text_col,
            id_col=id_col,
            batch_id=epoch_id,
        )
        surv.drop("_fp", "__bucket").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        n = surv.count()
        surv.unpersist()
        metrics.append({"epoch_id": epoch_id, "survivors": n})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return metrics


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Span-level (substring) dedup: remove every repeated k-token window
    from all but its first occurrence across the WHOLE corpus — the
    "Deduplicating Training Data Makes Language Models Better" rule
    (Lee et al. 2021, k=50), the only dedup level that catches boilerplate
    embedded inside otherwise-unique documents. Completes the family:
    exact (doc), MinHash/SimHash/Jaccard (near-doc), C4 lines, spans.
    Returns (id, text_kept, n_removed, n_tokens).

    Distributed shape (the paper's suffix array is a single-machine
    structure; this is the shuffle-native equivalent):
      1. window hashes per doc — ONE codegen transform over the token
         array, posexploded to O(total_tokens) 8-byte rows (same regime
         as the vocabulary / ngram-index ops, never all-pairs);
      2. first occurrence per window = min(struct(id,pos)) — a
         partial-combining agg, so a boilerplate span repeated 10^6 times
         collapses map-side instead of flooding one reducer;
      3. later occurrences join back on the 8-byte hash and group into
         per-doc deletion offset lists — only DUPLICATED occurrences
         survive to this shuffle, typically a tiny fraction. The window
         subtree is deliberately COMPUTED TWICE (once into the agg, once
         into the join): recomputing a codegen scan+transform is cheaper
         at corpus scale than caching O(total_tokens) rows, and the
         min-struct agg keeps map-side combine that the one-pass
         row_number-window alternative would lose — a viral span repeated
         10^6 times would land 10^6 raw rows on one reducer there;
      4. rebuild — a per-doc filter((tok,i) -> no deletion covers i)
         higher-order expression: O(len·dels) inside codegen, bounded by
         document length, zero Python.

    Overlapping deleted windows merge implicitly via the coverage test.
    A later in-doc repeat of a span is deleted too (one global copy
    survives, exactly the paper's semantics). Hash collisions (xxhash64,
    ~1/2^64) can only over-delete a colliding span, never corrupt
    reassembly — offsets come from the doc's own rows.
    """
    toks = words(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__t"),
        F.size(toks).alias("__n"),
    )
    # hash the sliding_ngrams windows, NOT slice(__t, i+1, k) inside a
    # transform lambda: ProjectCollapse substitutes __t back to the
    # tokenization expression, and a captured outer expression in a
    # higher-order lambda re-evaluates PER ELEMENT — the whole regex
    # tokenization once per window position
    whashes = F.transform(sliding_ngrams(F.col("__t"), k), lambda s: F.xxhash64(s))
    win = base.select("__id", F.posexplode(whashes).alias("__pos", "__h"))
    firsts = (
        win.groupBy("__h")
        .agg(F.min(F.struct("__id", "__pos")).alias("__w"), F.count("*").alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__h", "__w")
    )
    dels = (
        win.join(firsts, "__h")
        .filter(
            (F.col("__id") != F.col("__w.__id")) | (F.col("__pos") != F.col("__w.__pos"))
        )
        .groupBy("__id")
        .agg(F.collect_list("__pos").alias("__dels"))
    )
    out = base.join(dels, "__id", "left").withColumn(
        "__dels", F.coalesce(F.col("__dels"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("__t"),
        lambda t, i: ~F.exists(F.col("__dels"), lambda p: (i >= p) & (i < p + k)),
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("text_kept"),
        (F.col("__n") - F.size(kept)).cast("long").alias("n_removed"),
        F.col("__n").cast("long").alias("n_tokens"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    'Winnowing: Local Algorithms for Document Fingerprinting', SIGMOD —
    the MOSS algorithm, public): hash every word k-gram, slide a window of
    `w` consecutive hashes, and record the window minimum — RIGHTMOST
    occurrence on ties, the paper's robust-winnowing rule — with its
    global k-gram position. Guarantees any shared substring of
    >= w + k - 1 words produces at least one shared (hash) fingerprint,
    while keeping only ~2/(w+1) of all k-gram hashes — the
    position-robust overlap primitive exact-hash dedup lacks and
    dedup_spans' fixed-k windows don't localize.

    One explode is the only data movement; all per-doc work is codegen:
    the window minima/rightmost-argmin are zip_with chains over SHIFTED
    SLICES of the hash array — the hash expression is re-evaluated once
    per zip_with ARGUMENT (2w slices, O(w·n) hashing per doc, w is small),
    never per element, and nothing references an intermediate column from
    inside a lambda (both HOF traps documented in
    operators/transcripts.py). Output: (id_col, pos, fp) — pos is the
    1-based k-gram index the fingerprint hash came from.

    The k-gram hash is `hash60` mod 2^31-1, the minhash shingle hash, so
    every fingerprint is bit-reproducible in DuckDB (`_MD5I`)."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    grams = sliding_ngrams(words(F.lower(F.col(text_col))), k)
    hashes = F.transform(grams, lambda g: F.pmod(hash60(g), F.lit(MERSENNE)))
    n_win = F.size(hashes) - (w - 1)

    # per-window rightmost argmin as a zip_with chain: state struct
    # (h = current min, j = its 1-based offset in the window); `<=` makes
    # a later equal hash win the tie — the rightmost rule
    best = F.transform(
        F.slice(hashes, 1, n_win),
        lambda h: F.struct(h.alias("h"), F.lit(1).alias("j")),
    )
    def _take_if_leq(j: int):
        # closure (not a default arg: pyspark reads the lambda's arity)
        return lambda b, x: F.when(
            x <= b["h"], F.struct(x.alias("h"), F.lit(j).alias("j"))
        ).otherwise(b)

    for j in range(2, w + 1):
        best = F.zip_with(best, F.slice(hashes, j, n_win), _take_if_leq(j))
    # global position = window start (0-based element index) + offset
    fps = F.transform(
        best,
        lambda b, i: F.struct((i + b["j"]).alias("pos"), b["h"].alias("fp")),
    )
    sel = F.when(n_win >= 1, F.array_distinct(fps)).otherwise(
        F.array().cast("array<struct<pos:int,fp:long>>")
    )
    return (
        df.select(F.col(id_col), F.explode(sel).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )
