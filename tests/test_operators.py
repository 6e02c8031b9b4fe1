"""Unit tests for diff / dedup / text / similarity operators against
literal expected values (the reference's unit-test style,
/root/reference/tests/unit/)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datachain_spark.diff import compare_and_split, diff
from datachain_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_dups,
)
from datachain_spark.operators.similarity import (
    brute_force_topk,
    cosine_similarity,
    lsh_topk,
)
from datachain_spark.operators.skew import salted_agg
from datachain_spark.operators.text import fingerprint, lang_id, quality_features, token_count


# ---------------- diff ----------------
def test_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, name string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], "id int, name string, v double"
    )
    rows = {r["id"]: r for r in diff(new, old, on=["id"]).collect()}
    assert rows[1]["diff_status"] == "S"
    assert rows[2]["diff_status"] == "M" and rows[2]["v"] == 99.0
    assert rows[3]["diff_status"] == "D" and rows[3]["name"] == "c"  # values from right
    assert rows[4]["diff_status"] == "A"


def test_diff_compare_subset_and_filter(spark):
    old = spark.createDataFrame([(1, "a", 1.0)], "id int, name string, v double")
    new = spark.createDataFrame([(1, "CHANGED", 1.0)], "id int, name string, v double")
    # compare only v: name change does not count as modified
    d = diff(new, old, on=["id"], compare=["v"]).collect()
    assert d[0]["diff_status"] == "S"
    split = compare_and_split(new, old, on=["id"])
    assert split["M"].count() == 1  # default compare includes name
    assert split["A"].count() == 0


def test_diff_null_safe_keys(spark):
    old = spark.createDataFrame([(None, 1.0)], "id int, v double")
    new = spark.createDataFrame([(None, 1.0)], "id int, v double")
    d = diff(new, old, on=["id"]).collect()
    assert len(d) == 1 and d[0]["diff_status"] == "S"  # null key matches null key


def test_diff_null_key_one_sided_rows(spark):
    """A left-only or right-only row whose key is NULL must classify as A/D
    (presence markers), not fall through to M/S via key-nullness checks."""
    old = spark.createDataFrame([(1, 1.0)], "id int, v double")
    new = spark.createDataFrame([(None, 2.0), (1, 1.0)], "id int, v double")
    got = {(r["id"], r["diff_status"]) for r in diff(new, old, on=["id"]).collect()}
    assert got == {(None, "A"), (1, "S")}
    # and the mirror: null-key row only on the right -> D
    got2 = {(r["id"], r["diff_status"]) for r in diff(old, new, on=["id"]).collect()}
    assert got2 == {(None, "D"), (1, "S")}


# ---------------- dedup ----------------
DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "The  quick brown fox   jumps over the lazy dog"),  # ws/case variant
    (3, "the quick brown fox jumps over the lazy cat today"),  # near-dup
    (4, "completely different content about spark engines and data"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    # 0,1,2 collapse to one representative (lowest id = 0)
    assert kept == [0, 3, 4]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert sorted(out) == ["a b c", "b c d"]


def test_minhash_finds_exact_and_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_md5_mode_matches_duckdb_semantics(spark, docs):
    """The md5-derived sketch hash (the only one) finds the same exact-dup
    structure as the DuckDB reference, and its n_match for identical docs is
    the full signature length."""
    rows = {(r["id_a"], r["id_b"]): r["n_match"] for r in minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert rows[(0, 1)] == 32 and rows[(0, 2)] == 32
    assert not any(4 in p for p in rows)


def test_shingles_short_and_empty_docs(spark):
    """Docs with fewer than n tokens must yield an empty shingle array (not
    crash — Spark's sequence(1,0) descends and slice(_,0,_) throws)."""
    df = spark.createDataFrame([("a b",), ("",), ("a b c d",)], "text string")
    out = [r["s"] for r in df.select(shingles(F.col("text"), 3).alias("s")).collect()]
    assert out[0] == [] and out[1] == []
    assert sorted(out[2]) == ["a b c", "b c d"]
    # and the pair operators survive such docs end to end
    short = spark.createDataFrame([(0, "a b"), (1, "a b"), (2, "")], "doc_id long, text string")
    assert minhash_lsh_pairs(short, threshold=0.9).count() >= 1  # (0,1) identical


def test_simhash_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(docs).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0  # normalized-identical
    assert not any(4 in p for p in pairs)


def test_simhash_md5_mode(spark, docs):
    """SimHash over the md5-derived token hash (the only one) puts the
    normalized-identical docs at hamming distance 0."""
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(docs).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0


def test_the_sketch_hash_is_written_once():
    """The sketching operators share one hash: no module under
    datachain_spark/ names a hash-mode option, and the md5 -> 60-bit
    expression (a `conv(...)` call over `md5(...)`) is written once, in
    `hash60`."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datachain_spark")

    def calls(node, name):
        return isinstance(node, ast.Call) and getattr(node.func, "attr", None) == name

    mode_option = "_".join(("hash", "mode"))  # spelled apart: this file is searched too
    with_mode, md5_convs, hash60_lines = [], [], None
    for dp, _, fns in os.walk(pkg):
        for fn in (f for f in fns if f.endswith(".py")):
            path = os.path.join(dp, fn)
            src = open(path).read()
            if mode_option in src:
                with_mode.append(path)
            for node in ast.walk(ast.parse(src)):
                if calls(node, "conv") and any(calls(c, "md5") for c in ast.walk(node)):
                    md5_convs.append((os.path.relpath(path, pkg), node.lineno))
                if isinstance(node, ast.FunctionDef) and node.name == "hash60":
                    hash60_lines = (os.path.relpath(path, pkg), node.lineno, node.end_lineno)
    assert with_mode == []
    assert len(md5_convs) == 1 and hash60_lines is not None
    (where, line), (home, lo, hi) = md5_convs[0], hash60_lines
    assert where == home and lo <= line <= hi


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 3)] < 1.0  # near-dup overlaps partially
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A ubiquitous shingle must be droppable via max_df: docs that share
    ONLY the hot shingle produce no candidate pair at all."""
    hot = "alpha beta gamma"  # appears in every doc
    rows = [(i, f"{hot} unique{i} token{i} filler{i}") for i in range(6)]
    rows += [(100, f"{hot} shared extra words"), (101, f"{hot} shared extra words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the corpus-wide df of the hot shingle (8 docs): pairs driven
    # only by the hot shingle vanish; the true dup pair (100,101) survives
    # via its other shared shingles
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.3, max_df=4).collect()
    }
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs)  # no hot-shingle-only pairs
    # sanity: without a cap the unique docs pair up through the hot shingle
    # at low threshold
    uncapped = ngram_jaccard_pairs(df, threshold=0.01, max_df=None).count()
    capped = ngram_jaccard_pairs(df, threshold=0.01, max_df=4).count()
    assert uncapped > capped


def test_connected_components_transitive(spark):
    """A-B + B-C chain collapses to one component; D-E separate; the
    propagation must close transitively (A and C never share a pair)."""
    from datachain_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20
    assert len(comp) == 9  # every node in a pair gets a label, nothing else


def test_near_dup_cluster_dedup_keeps_one_per_cluster(spark, docs):
    from datachain_spark.operators.dedup import near_dup_cluster_dedup

    kept = sorted(r["doc_id"] for r in near_dup_cluster_dedup(docs, threshold=0.9).collect())
    # docs 0,1,2 are one near-dup cluster -> keep 0; 3 and 4 are unpaired
    assert kept == [0, 3, 4]


# ---------------- text ----------------
def test_token_count_and_quality(spark):
    df = spark.createDataFrame([("  the cat, and a dog!  ",), ("",)], "text string")
    toks = [r[0] for r in df.select(token_count(F.col("text"))).collect()]
    assert toks == [5, 0]
    q = quality_features(df).collect()[0]
    assert q["n_tokens"] == 5
    assert q["distinct_stopwords"] >= 2  # the, and, a
    assert q["punct_ratio"] > 0


# empty, all-whitespace and edge tab/newline text: none of these shapes is
# in the test tables, so the oracles cannot see them
EDGE_TEXTS = ["", " \t ", "\tFoo bar", "foo bar\n", "x \t\n y"]


def _edge_docs(spark):
    return spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "doc_id long, text string")


def test_edge_text_has_no_empty_token(spark):
    """A token is a maximal non-whitespace run: an edge tab or newline adds
    no token, and wordless text has no token, no shingle and simhash 0."""
    from datachain_spark.operators.dedup import simhash, winnow_fingerprints
    from datachain_spark.operators.text import gram_occurrences

    df = _edge_docs(spark)
    t = F.col("text")
    rows = df.select(
        token_count(t).alias("n"),
        shingles(t, 1).alias("s1"),
        shingles(t, 2).alias("s2"),
        gram_occurrences(t, 1).alias("g1"),
        simhash(t).alias("sh"),
    ).orderBy("doc_id").collect()
    assert [r["n"] for r in rows] == [0, 0, 2, 2, 2]
    assert [sorted(r["s1"]) for r in rows] == [[], [], ["bar", "foo"], ["bar", "foo"], ["x", "y"]]
    assert [r["s2"] for r in rows] == [[], [], ["foo bar"], ["foo bar"], ["x y"]]
    assert [r["g1"] for r in rows] == [r["s1"] for r in rows]
    assert rows[0]["sh"] == rows[1]["sh"] == 0
    assert rows[2]["sh"] == rows[3]["sh"] != 0

    q = quality_features(df).orderBy("doc_id").collect()
    assert [r["n_tokens"] for r in q] == [0, 0, 2, 2, 2]
    assert [r["avg_token_len"] for r in q] == [0.0, 0.0, 3.0, 3.0, 1.0]

    # one fingerprint per 1-gram window: none for a wordless doc, none of
    # them the hash of an empty token
    fps = {}
    for r in winnow_fingerprints(df, k=1, w=1).collect():
        fps.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    want = [_winnow_py(t, 1, 1) for t in EDGE_TEXTS]
    assert [fps.get(i, set()) for i in range(len(EDGE_TEXTS))] == want
    assert [len(x) for x in want] == [0, 0, 2, 2, 2]


def test_edge_text_words_match_the_oracle_fragment(spark):
    """The oracles' DuckDB whitespace-token fragment gives the same arrays
    as `words`, raw and lowered."""
    import duckdb

    import __spark_entry__ as entrymod
    from datachain_spark.operators import words

    with duckdb.connect() as con:
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(EDGE_TEXTS)))
        for x, col in (("text", F.col("text")), ("lower(text)", F.lower(F.col("text")))):
            sql = f"SELECT {entrymod._words(x)} FROM d ORDER BY doc_id"
            want = [r[0] for r in con.execute(sql).fetchall()]
            got = [r[0] for r in _edge_docs(spark).orderBy("doc_id").select(words(col)).collect()]
            assert got == want, x
    assert want == [[], [], ["foo", "bar"], ["foo", "bar"], ["x", "y"]]


def test_only_the_tokenizer_module_tokenizes():
    """Every whitespace tokenization and lookahead n-gram pattern in
    datachain_spark/operators/ lives in its __init__.py (`words`,
    `sliding_ngrams`), so each token is non-empty and whitespace-free as
    `sliding_ngrams` requires. No other operator module calls `split` with a
    whitespace separator (or a bare `.split()`) or holds a string with
    `\\S` or `(?=` outside a docstring."""
    import ast
    import os
    import re

    ops = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datachain_spark", "operators"
    )
    whitespace = re.compile(r"\s+|\\s\+?|\[\\s\]\+?")
    offenders = []
    for fn in sorted(os.listdir(ops)):
        if not fn.endswith(".py") or fn == "__init__.py":
            continue
        tree = ast.parse(open(os.path.join(ops, fn)).read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and ast.unparse(node.func).endswith("split"):
                seps = [a for a in node.args if isinstance(a, ast.Constant)]
                bare = not node.args and not node.keywords
                if bare or any(whitespace.fullmatch(str(a.value)) for a in seps):
                    offenders.append(f"{fn}:{node.lineno}: {ast.unparse(node)}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and ("\\S" in node.value or "(?=" in node.value)
            ):
                offenders.append(f"{fn}:{node.lineno}: {node.value!r}")
    assert offenders == []


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat is in the house and it is lazy",),
         ("el gato es de la casa y no se va",),
         ("xyzzy plugh",)],
        "text string",
    )
    out = [r["lang_pred"] for r in lang_id(df).collect()]
    assert out == ["en", "es", "und"]


def test_fingerprint_normalization_invariant(spark):
    df = spark.createDataFrame([("A  b C",), ("a b c",)], "text string")
    fps = [r["fp"] for r in fingerprint(df).collect()]
    assert fps[0] == fps[1]


# ---------------- similarity ----------------
def test_cosine_and_topk(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(corpus, queries, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rk"])] == [1, 2]
    sim = corpus.select(
        cosine_similarity(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("s")
    ).collect()
    assert math.isclose(sim[0]["s"], 1.0)
    assert math.isclose(sim[3]["s"], -1.0)


def test_lsh_topk_finds_identical(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    rows.append((100, list(rows[5][1])))  # identical twin of vec 5
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id = 100").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = lsh_topk(corpus, queries, dim=8, k=1, n_planes=8).collect()
    assert out and out[0]["vec_id"] == 5 and math.isclose(out[0]["cos_sim"], 1.0)


# ---------------- as-of join ----------------
def test_asof_join(spark):
    from datachain_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 7, "x")],
        "k int, t long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (3, 1, 999)], "k int, t long, p int"
    )
    out = {
        (r["k"], r["t"]): r["asof_p"]
        for r in asof_join(left, right, on="k", left_ts="t").collect()
    }
    assert out == {(1, 5): 100, (1, 10): 100, (1, 20): 200, (2, 7): None}
    strict = {
        (r["k"], r["t"]): r["asof_p"]
        for r in asof_join(left, right, on="k", left_ts="t", strict=True).collect()
    }
    assert strict[(1, 5)] is None  # strict: right at equal ts excluded


def test_embedding_near_dups_and_ivf(spark):
    import random

    from datachain_spark.operators.similarity import (
        embedding_near_dups,
        ivf_topk,
        train_centroids_by_hash,
    )

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    twin = [x * 1.0001 for x in rows[7][1]]  # near-identical to vec 7
    rows.append((200, twin))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    dups = embedding_near_dups(corpus, dim=8, threshold=0.999)
    pairs = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    assert (7, 200) in pairs

    cents = train_centroids_by_hash(corpus, k=4)
    assert len(cents) == 4 and len(cents[0]) == 8
    queries = corpus.filter("vec_id = 200").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_topk(corpus, queries, cents, k=1, nprobe=2).collect()
    assert out and out[0]["vec_id"] == 7  # probe finds the twin's cell


def test_lake_concurrent_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: two writers committing against the same
    parent snapshot — the second rename loses (manifest already exists)
    and must retry from the new HEAD, never silently clobber."""
    from pyspark.sql import types as T

    from datachain_spark.lake.table import LakeTable

    schema = T.StructType([T.StructField("id", T.LongType(), True)])
    t1 = LakeTable.create(str(tmp_path / "cc"), schema, key_cols=["id"], num_buckets=2)
    t2 = LakeTable(str(tmp_path / "cc"))  # second writer, same root
    v1 = t1.commit(props={"writer": "a"})
    # writer 2 resolved HEAD before writer 1's next commit:
    snap_before = t2.snapshot()
    assert snap_before.version == v1
    t1.commit(props={"writer": "a2"})
    with pytest.raises(FileExistsError):
        # t2 still believes HEAD is v1 -> targets the taken version id
        t2._write_manifest(
            type(snap_before)(
                version=v1 + 1,
                parent=v1,
                schema_json=snap_before.schema_json,
                num_buckets=snap_before.num_buckets,
                key_cols=snap_before.key_cols,
                buckets={},
                watermarks={},
            )
        )
    # retry path: a fresh commit() re-reads HEAD and lands cleanly
    v3 = t2.commit(props={"writer": "b"})
    assert v3 == v1 + 2 and t1.snapshot(v3).props["writer"] == "b"


def test_kmeans_centroids_separate_clusters(spark):
    """Distributed Lloyd's k-means (posexplode + hash-agg means) converges
    on two well-separated synthetic clusters and beats the hash-pick seed:
    each learned centroid sits near one cluster's true mean."""
    from datachain_spark.operators.similarity import (
        cosine_similarity,
        ivf_assign,
        train_centroids_kmeans,
    )

    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0]
        rows.append((i, [base[j] + (i % 5) * 0.1 for j in range(3)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_centroids_kmeans(df, k=2, iters=4)
    assert len(cents) == 2 and len(cents[0]) == 3
    # the two centroids split the clusters: dominant axes differ
    axes = sorted(c.index(max(c)) for c in cents)
    assert axes == [0, 1]
    # every vector assigns to the centroid of its own cluster
    assigned = ivf_assign(df, cents, nprobe=1).withColumn(
        "cell", F.element_at("__cell", 1)
    )
    per_cluster = (
        assigned.withColumn("true_cluster", F.col("vec_id") % 2)
        .groupBy("true_cluster")
        .agg(F.countDistinct("cell").alias("n_cells"))
        .collect()
    )
    assert all(r["n_cells"] == 1 for r in per_cluster)


def test_salted_agg_matches_plain_groupby(spark):
    from datachain_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(1, 2.0), (1, 4.0), (1, 6.0), (2, 10.0), (3, 1.0)], "k int, v double"
    )
    out = {
        r["k"]: (r["n"], r["total"], r["mean"], r["vmax"])
        for r in salted_agg(
            df, "k", {"n": ("count", "*"), "total": ("sum", "v"), "mean": ("avg", "v"), "vmax": ("max", "v")}, salt=4
        ).collect()
    }
    assert out == {1: (3, 12.0, 4.0, 6.0), 2: (1, 10.0, 10.0, 10.0), 3: (1, 1.0, 1.0, 1.0)}


def test_lake_expire_versions(spark, tmp_path):
    from datachain_spark.cdc.apply import KEY_COLS, apply_batch, transcripts_schema_v1
    from datachain_spark.lake.table import LakeTable
    from datetime import datetime, timedelta, timezone
    import os

    table = LakeTable.create(str(tmp_path / "t"), transcripts_schema_v1(), key_cols=KEY_COLS, num_buckets=2)
    T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 10 + i, "I", f"c{i}", b, "user", f"t{b}-{i}", T0 + timedelta(seconds=b * 10 + i)) for i in range(3)],
            "lsn long, op string, conv_id string, turn_idx int, role string, text string, ts timestamp",
        )
        apply_batch(spark, table, df, "vac", b, normalize=False)
    n_before = table.read(spark).count()
    removed = table.expire_versions(keep_last=2)
    assert removed >= 0 and len(table.versions()) == 2
    assert table.read(spark).count() == n_before  # HEAD unaffected
    # keep_last=0 would delete HEAD and leave the table unreadable: refused
    with pytest.raises(ValueError, match="keep_last"):
        table.expire_versions(keep_last=0)
    assert table.read(spark).count() == n_before


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition fracs against hand-computed values: 'a b a b a b'
    has 2-grams [ab, ba, ab, ba, ab] -> top 3/5; its two 5-grams are
    distinct -> dup 0. A doc of one repeated token maxes both."""
    from datachain_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "x x x x x x x x"),  # 2-grams: 7x 'x x' -> top 1.0; 5-grams: 4 occ 1 distinct -> dup 0.75
            (3, "one two three"),  # no 5-grams at all -> dup 0
            (4, "q r"),  # 1 2-gram, no 5-grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (round(r["top_ngram_frac"], 6), round(r["dup_ngram_frac"], 6))
        for r in repetition_signals(df).collect()
    }
    assert got[1] == (0.6, 0.0)
    assert got[2] == (1.0, 0.75)
    assert got[3] == (round(1 / 2, 6), 0.0)
    assert got[4] == (1.0, 0.0)


def test_gopher_quality_rules(spark):
    """Each Gopher rule triggers independently: a clean 60-word doc passes;
    short, symbol-heavy, non-alpha, and stopword-free docs fail."""
    from datachain_spark.operators.text import gopher_quality

    clean = "the quick brown fox jumps over a lazy dog and it is that good for " * 4
    short = "the cat sat"
    symbols = ("the word " + "# " * 30) * 4
    numeric = "the of " + " ".join(str(i) for i in range(60))
    df = spark.createDataFrame(
        [(1, clean.strip()), (2, short), (3, symbols.strip()), (4, numeric)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[2]["gopher_pass"] is False and got[2]["n_words"] == 3
    assert got[3]["gopher_pass"] is False and got[3]["symbol_word_ratio"] > 0.1
    assert got[4]["gopher_pass"] is False and got[4]["alpha_word_frac"] < 0.8


def test_dedup_lines_corpus_first_occurrence_wins(spark):
    """Line 'dup' appears in docs 1 (pos 0), 2 (pos 1) and twice in doc 3:
    only doc 1's copy survives; doc 3 (all lines duplicated) stays with
    NULL text and 0 kept; rebuild preserves in-doc order."""
    from datachain_spark.operators.text import dedup_lines_corpus

    df = spark.createDataFrame(
        [
            (1, ["dup", "only-in-1"]),
            (2, ["u2", "dup", "u2b"]),
            (3, ["dup", "dup"]),
        ],
        "doc_id long, lines array<string>",
    )
    got = {r["doc_id"]: r for r in dedup_lines_corpus(df, "lines").collect()}
    assert got[1]["text_kept"] == "dup\nonly-in-1"
    assert (got[1]["n_lines_kept"], got[1]["n_lines_orig"]) == (2, 2)
    assert got[2]["text_kept"] == "u2\nu2b"
    assert (got[2]["n_lines_kept"], got[2]["n_lines_orig"]) == (2, 3)
    assert got[3]["text_kept"] is None
    assert (got[3]["n_lines_kept"], got[3]["n_lines_orig"]) == (0, 2)


def test_pack_sequences_layout(spark):
    from datachain_spark.operators.text import pack_sequences

    rows = [(i, "en" if i % 2 == 0 else "es", t) for i, t in enumerate([400, 700, 900, 300, 600, 4096, 10])]
    df = spark.createDataFrame(rows, "doc_id int, lang string, tokens int")
    got = {
        r["doc_id"]: r
        for r in pack_sequences(df, "tokens", 1000, partition_by="lang", order_by="doc_id").collect()
    }
    # en stream: docs 0(400) 2(900) 4(600) 6(10) -> starts 0,400,1300,1900
    assert (got[0]["seq_id"], got[0]["seq_pos"], got[0]["crosses"]) == (0, 0, False)
    assert (got[2]["seq_id"], got[2]["seq_pos"], got[2]["crosses"]) == (0, 400, True)
    assert (got[4]["seq_id"], got[4]["seq_pos"], got[4]["crosses"]) == (1, 300, False)
    assert (got[6]["seq_id"], got[6]["seq_pos"], got[6]["crosses"]) == (1, 900, False)
    # es stream: docs 1(700) 3(300) 5(4096) -> starts 0,700,1000
    assert (got[1]["seq_id"], got[1]["crosses"]) == (0, False)
    assert (got[3]["seq_id"], got[3]["seq_pos"], got[3]["crosses"]) == (0, 700, False)
    # a doc spanning multiple budgets starts at exactly seq 1 pos 0
    assert (got[5]["seq_id"], got[5]["seq_pos"], got[5]["crosses"]) == (1, 0, True)
    # exact-fit doc (ends on a boundary) does not cross
    one = spark.createDataFrame([(0, 1000)], "doc_id int, tokens int")
    r = pack_sequences(one, "tokens", 1000, order_by="doc_id").collect()[0]
    assert (r["seq_id"], r["seq_pos"], r["crosses"]) == (0, 0, False)


# ---------- corpus_stats / vocabulary (r5) ----------


def test_corpus_stats_exact_literal(spark):
    from datachain_spark.operators.text import corpus_stats

    df = spark.createDataFrame(
        [("en", "a b c"), ("en", "a b"), ("en", "one"), ("fr", "un deux")],
        "lang string, text string",
    )
    rows = {r["lang"]: r for r in corpus_stats(df, "text", "lang", exact=True).collect()}
    en = rows["en"]
    assert en["n_docs"] == 3 and en["total_tokens"] == 6
    assert en["avg_tokens"] == 2.0
    assert en["p50_tokens"] == 2.0  # sorted [1,2,3] -> interpolated median 2
    assert rows["fr"]["p95_tokens"] == 2.0


def test_corpus_stats_approx_close_to_exact(spark):
    from datachain_spark.operators.text import corpus_stats

    df = spark.createDataFrame(
        [("en", " ".join(["w"] * (i % 50 + 1))) for i in range(500)],
        "lang string, text string",
    )
    exact = corpus_stats(df, "text", "lang", exact=True).collect()[0]
    approx = corpus_stats(df, "text", "lang", exact=False).collect()[0]
    assert abs(exact["p50_tokens"] - approx["p50_tokens"]) <= 1
    assert abs(exact["p95_tokens"] - approx["p95_tokens"]) <= 1
    assert exact["n_docs"] == approx["n_docs"] == 500


def test_vocabulary_topk_and_tiebreak(spark):
    from datachain_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [("b b b a a c x!",), ("a c y?",)], "text string"
    )
    rows = [(r["token"], r["n"]) for r in vocabulary(df, "text", top_k=3, min_count=2).collect()]
    # a:3, b:3, c:2 — count desc then token asc; punctuation tokens are
    # single chars under the BPE-ish regex and fall under min_count
    assert rows == [("a", 3), ("b", 3), ("c", 2)]


def test_incremental_dedup_registry(spark, tmp_path):
    from datachain_spark.operators.dedup import incremental_dedup

    root = str(tmp_path / "fp_registry")
    b1 = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )
    s1 = incremental_dedup(b1, root, batch_id=0)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]  # in-batch dup keeps min id
    s1.unpersist()

    b2 = spark.createDataFrame([(4, "bbb"), (5, "ccc")], "doc_id long, text string")
    s2 = incremental_dedup(b2, root, batch_id=1)
    assert [r["doc_id"] for r in s2.collect()] == [5]  # bbb known from batch 0
    s2.unpersist()

    # replay of a committed batch: still filters, but the ledger blocks
    # double-registration
    s2b = incremental_dedup(b2, root, batch_id=1)
    assert [r["doc_id"] for r in s2b.collect()] == [5]
    s2b.unpersist()

    b3 = spark.createDataFrame([(6, "ccc"), (7, "ddd")], "doc_id long, text string")
    s3 = incremental_dedup(b3, root, batch_id=2)
    assert [r["doc_id"] for r in s3.collect()] == [7]
    s3.unpersist()


def test_incremental_dedup_normalizes_whitespace_case(spark, tmp_path):
    """Case and every whitespace run normalize away, edge tabs and newlines
    included, so no empty token reaches sliding_ngrams."""
    from datachain_spark.operators.dedup import incremental_dedup, winnow_fingerprints

    root = str(tmp_path / "fp_reg2")
    b1 = spark.createDataFrame([(1, "Hello  World")], "doc_id long, text string")
    incremental_dedup(b1, root, batch_id=0).collect()
    edges = [" hello world ", "\thello world", "hello world\n", "\n Hello\tWorld \t"]
    b2 = spark.createDataFrame([(2 + i, t) for i, t in enumerate(edges)], "doc_id long, text string")
    s = incremental_dedup(b2, root, batch_id=1)
    assert s.collect() == []  # the same doc under normalization, each of them
    s.unpersist()

    clean = "foo bar baz qux"
    texts = [clean, "\tFoo bar baz qux", "foo bar baz qux\n", "\n\tfoo  bar\tbaz qux \n"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n, want in [(1, clean.split(" ")), (3, ["foo bar baz", "bar baz qux"])]:
        got = [r[0] for r in df.select(shingles(F.col("text"), n)).orderBy("doc_id").collect()]
        assert got == [want] * len(texts), n  # no empty token
    fps = {}
    for r in winnow_fingerprints(df, k=1, w=2).collect():
        fps.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    assert [fps[i] for i in range(len(texts))] == [fps[0]] * len(texts)


def test_run_dedup_stream_resume_across_runs(spark, tmp_path):
    """Streaming ingest+dedup: run to exhaustion, land more files, resume
    with the SAME checkpoint — cross-run duplicates are dropped because
    the fingerprint registry persists, and already-processed files are
    not reprocessed."""
    import glob as _glob

    from pyspark.sql import types as T

    from datachain_spark.operators.dedup import run_dedup_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs_dir = str(tmp_path / "docs")
    reg = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], schema)\
        .coalesce(1).write.mode("append").parquet(docs_dir)
    m1 = run_dedup_stream(spark, docs_dir, reg, ckpt, out, schema)
    assert sum(m["survivors"] for m in m1) == 2  # alpha once, beta once

    # second wave: one duplicate of run 1, one in-wave duplicate, one new
    spark.createDataFrame([(4, "beta"), (5, "gamma"), (6, "gamma")], schema)\
        .coalesce(1).write.mode("append").parquet(docs_dir)
    m2 = run_dedup_stream(spark, docs_dir, reg, ckpt, out, schema)
    assert sum(m["survivors"] for m in m2) == 1  # only gamma
    assert all(m["epoch_id"] > max(x["epoch_id"] for x in m1) for m in m2)

    survivors = spark.read.parquet(*_glob.glob(f"{out}/epoch=*")).collect()
    texts = sorted(r["text"] for r in survivors)
    assert texts == ["alpha", "beta", "gamma"]
    assert sorted(r["doc_id"] for r in survivors) == [1, 2, 5]


def test_dedup_spans_semantics(spark):
    """Lee et al. substring-dedup rules: global first occurrence keeps the
    span, every later occurrence (cross-doc AND in-doc) is excised,
    overlapping deletions merge, unique text is untouched."""
    from datachain_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail one"),
            (2, "prefix two a b c d e f g h"),
            (3, "x y z totally unique words here"),
            (4, "a b c d e f g h a b c d e f g h"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_spans(df, k=8).collect()}
    assert got[1].text_kept == "a b c d e f g h tail one"
    assert got[2].text_kept == "prefix two" and got[2].n_removed == 8
    assert got[3].n_removed == 0
    assert got[4].text_kept == "" and got[4].n_removed == 16  # in-doc repeat too
    assert got[5].text_kept == "" and got[5].n_removed == 0


def test_dedup_spans_partition_invariant_and_no_python(spark):
    from datachain_spark.operators.dedup import dedup_spans

    rows = [(i, f"head {i} shared span block x y z w q common tail {i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_spans(df, k=8)
    base = sorted((r.doc_id, r.text_kept, r.n_removed) for r in out.collect())
    repart = sorted(
        (r.doc_id, r.text_kept, r.n_removed)
        for r in dedup_spans(df.repartition(13), k=8).collect()
    )
    assert repart == base
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # higher-order codegen only


def test_semantic_dedup_greedy_keep_farthest(spark):
    """SemDeDup rule: within a cluster, a doc is dropped iff an
    earlier-ranked member (farther from the centroid; id tiebreak) is
    cosine-similar above eps — so the FARTHEST-from-centroid member of a
    duplicate group survives, and cross-group members are untouched."""
    from datachain_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),  # cluster 0, nearest the centroid — dup of 2 -> dropped
        (2, [1.0, 0.05]),  # cluster 0, farther out -> survives its dup group
        (3, [0.9, 0.6]),  # cluster 0, not similar to 1/2 -> kept
        (4, [0.0, 1.0]),  # cluster 1, on the centroid — dup of 5 -> dropped
        (5, [0.05, 1.0]),  # cluster 1, farther out -> survives
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], eps=0.95)
    got = {r["vec_id"]: r for r in out.collect()}
    assert {k for k, r in got.items() if r["kept"] == 1} == {2, 3, 5}
    assert got[1]["cell"] == got[2]["cell"] == got[3]["cell"] == 0
    assert got[4]["cell"] == got[5]["cell"] == 1
    # exact ties on centroid distance resolve by id: planted exact copies
    copies = df.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    out2 = semantic_dedup(df.unionByName(copies), [[1.0, 0.0], [0.0, 1.0]], eps=0.95)
    kept2 = {r["vec_id"] for r in out2.collect() if r["kept"] == 1}
    assert kept2 == {2, 3, 5}  # every +100 copy ties its original and loses


# ---------- winnowing fingerprints (Schleimer et al. 2003) ----------
def _winnow_py(text: str, k: int, w: int) -> set:
    """Pure-python reference: hash60 hashes, rightmost-min windows."""
    import hashlib
    import re

    toks = re.findall(r"\S+", text.lower(), re.ASCII)
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    M = (1 << 31) - 1
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % M for g in grams]
    out = set()
    for p in range(len(hs) - w + 1):
        win = hs[p : p + w]
        m = min(win)
        j = max(i for i, h in enumerate(win) if h == m)  # rightmost
        out.add((p + j + 1, m))  # 1-based gram position
    return out


def test_winnow_matches_python_reference(spark):
    from datachain_spark.operators.dedup import winnow_fingerprints

    texts = [
        (1, "a b c d e f g h"),
        (2, "x y z a b c d e f g"),
        (3, "q q q q q q"),  # identical grams: rightmost-min tie rule
        (4, "one two"),  # fewer than k tokens -> no grams
        (5, "a b c d"),  # grams (k=3): 2 < w -> no full window
    ]
    df = spark.createDataFrame(texts, "doc_id: int, text: string")
    got = winnow_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in texts:
        assert by_doc.get(doc_id, set()) == _winnow_py(text, 3, 4), doc_id


def test_winnow_shared_substring_guarantee(spark):
    """Any shared run of >= w + k - 1 words must yield a shared hash."""
    from datachain_spark.operators.dedup import winnow_fingerprints

    common = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, "alpha " + common + " beta"), (2, "gamma delta " + common)],
        "doc_id: int, text: string",
    )
    rows = winnow_fingerprints(df, k=3, w=4).collect()
    f1 = {r["fp"] for r in rows if r["doc_id"] == 1}
    f2 = {r["fp"] for r in rows if r["doc_id"] == 2}
    assert f1 & f2, "winnowing guarantee violated"


def test_winnow_validation_and_invariance(spark):
    import pytest as _pytest

    from datachain_spark.operators.dedup import winnow_fingerprints

    import os

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).limit(50)
    with _pytest.raises(ValueError):
        winnow_fingerprints(docs, k=0)
    a = sorted(map(tuple, winnow_fingerprints(docs.repartition(1)).collect()))
    b = sorted(map(tuple, winnow_fingerprints(docs.repartition(8)).collect()))
    assert a == b and a


# ---------- salted_agg salt_on and connected_components convergence ----------
def test_salted_agg_salt_on_identity_column(spark):
    # duplicate-heavy hot key: full-row hash sends all copies to ONE salt
    # bucket; salting on the per-row event id spreads them
    rows = [("hot", i, 1.0) for i in range(400)] + [("cold", 1000 + i, 2.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "value"])
    out = salted_agg(
        df,
        "user_id",
        {"n": ("count", "*"), "total": ("sum", "value"), "mean": ("avg", "value")},
        salt=8,
        salt_on="event_id",
    )
    got = {r["user_id"]: r for r in out.collect()}
    assert got["hot"]["n"] == 400 and got["hot"]["total"] == 400.0 and got["hot"]["mean"] == 1.0
    assert got["cold"]["n"] == 5 and got["cold"]["total"] == 10.0

    # the partial stage really spreads the hot key's duplicate rows:
    # identical payload rows land in >1 salt bucket when salted by event_id
    dup = spark.createDataFrame([("hot", i) for i in range(64)], ["user_id", "event_id"])
    n_buckets = (
        dup.withColumn("s", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_buckets > 1


def test_connected_components_warns_when_unconverged(spark):
    # a path graph 0-1-2-...-9 has diameter 9; min-label propagation needs
    # ~9 rounds, so max_iters=2 must warn instead of silently returning
    # split components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        labels = connected_components(pairs, max_iters=2)
        labels.collect()
    # and with enough rounds it converges silently to a single component
    full = connected_components(pairs, max_iters=15)
    assert full.select("component").distinct().count() == 1
