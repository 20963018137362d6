"""Training-data prep pipeline tests: per-stage behavior on crafted
rows plus an end-to-end run on the documents/embeddings fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
    prepare_corpus,
    quality_gate,
    remove_near_dups,
    token_budget_cut,
)

from .conftest import SF_DIR

DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_quality_gate(spark):
    rows = [
        (1, "one two three four five six", "en", "s", 27),  # pass
        (2, "too short", "en", "s", 9),  # < 5 tokens
        (3, "a b c d e f", "en", "s", 11),  # avg token len 1 < 2
    ]
    got = sorted(r.doc_id for r in quality_gate(_docs(spark, rows)).collect())
    assert got == [1]


def test_near_dup_keep_min(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (10, base, "en", "s", len(base)),
        (20, base + " extra", "en", "s", len(base) + 6),  # near-dup of 10
        (30, "completely different words describing unrelated things entirely here", "en", "s", 60),
    ]
    got = sorted(
        r.doc_id for r in remove_near_dups(_docs(spark, rows), min_jaccard=0.5).collect()
    )
    assert got == [10, 30]  # 20 loses to 10 (keep-min)


def test_token_budget_cut(spark):
    rows = [
        (1, "a b c", "en", "s", 5),  # 3 tokens, cum 3
        (2, "d e f g", "en", "s", 7),  # 4 tokens, cum 7
        (3, "h i", "en", "s", 3),  # 2 tokens, cum 9
    ]
    got = sorted(r.doc_id for r in token_budget_cut(_docs(spark, rows), 7).collect())
    assert got == [1, 2]
    got2 = sorted(r.doc_id for r in token_budget_cut(_docs(spark, rows), 6).collect())
    assert got2 == [1]


def test_token_budget_cut_matches_naive_across_layouts(spark):
    """The two-pass range-partitioned form (r8 scalable rewrite) must
    equal the naive single-window running sum on every input layout —
    the partition-offset arithmetic is exact, so where the sampled
    range boundaries fall must not matter."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (i, " ".join(f"t{j}" for j in range((i * 7) % 11 + 1)), "en", "s", i)
        for i in range(1, 120)
    ]
    docs = _docs(spark, rows)
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = set(
        r.doc_id
        for r in docs.withColumn("__cum", F.sum(n_tokens).over(w))
        .filter(F.col("__cum") <= 300)
        .collect()
    )
    for layout in (docs, docs.repartition(7), docs.coalesce(1)):
        got = set(r.doc_id for r in token_budget_cut(layout, 300).collect())
        assert got == naive and len(got) > 0


def test_token_budget_cut_string_ids_fallback(spark):
    """Non-numeric id_col (r8 advice): percentile_approx can't probe
    string ids, so the op must fall back to the exact single-window
    form instead of raising AnalysisException — same keep-set as the
    numeric path on the same data, ordered by the string id."""
    rows = [
        (f"doc-{i:03d}", " ".join(f"t{j}" for j in range((i * 5) % 9 + 1)))
        for i in range(1, 60)
    ]
    docs = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    got = set(r.doc_id for r in token_budget_cut(docs, 120).collect())
    cum, naive = 0, set()
    for doc_id, text in rows:  # ids doc-001..doc-059 sort like the ints
        cum += len(text.split(" "))
        if cum > 120:
            break
        naive.add(doc_id)
    assert got == naive and 0 < len(got) < len(rows)


def test_prepare_corpus_end_to_end(spark):
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings").withColumnRenamed("vec_id", "doc_id")
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    clean, stats = prepare_corpus(
        docs,
        embeddings=emb.withColumnRenamed("doc_id", "vec_id"),
        langs=("en", "de"),
        min_jaccard=0.6,
        min_cosine=0.9,
        budget_tokens=5000,
    )
    # stage caches are released at pipeline exit — nothing stays pinned
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    names = [n for n, _ in stats.stages]
    counts = dict(stats.stages)
    assert names == [
        "input",
        "quality",
        "language",
        "exact_dedup",
        "near_dedup",
        "embedding_dedup",
        "token_budget",
    ]
    # monotone non-increasing counts, ending within budget
    vals = [c for _, c in stats.stages]
    assert all(a >= b for a, b in zip(vals, vals[1:])), stats.stages
    assert counts["language"] < counts["input"]  # en+de only
    total_tokens = clean.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).first().t
    assert total_tokens is not None and total_tokens <= 5000
    # deterministic across runs
    clean2, _ = prepare_corpus(
        docs,
        embeddings=emb.withColumnRenamed("doc_id", "vec_id"),
        langs=("en", "de"),
        min_jaccard=0.6,
        min_cosine=0.9,
        budget_tokens=5000,
    )
    assert sorted(r.doc_id for r in clean.select("doc_id").collect()) == sorted(
        r.doc_id for r in clean2.select("doc_id").collect()
    )


def test_remove_near_dups_chain_keeps_min(spark):
    """Chain A~B~C with A!~C: one-pass keep-min drops B and C (the
    over-removal it accepts), and a disjoint pair keeps its min."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one two", "en", "s", 0),
        (2, base + " one three", "en", "s", 0),   # ~1 and ~3
        (3, base + " four three", "en", "s", 0),  # ~2, not ~1
    ]
    docs = _docs(spark, rows)
    onepass = sorted(
        r.doc_id for r in remove_near_dups(docs, min_jaccard=0.5).collect()
    )
    # keeps the min of the chain; does not resurrect dropped docs
    assert onepass == [1]
    # disjoint pair far from the chain: keeps its min
    rows2 = rows + [
        (10, "totally different words unrelated content here entirely", "en", "s", 0),
        (11, "totally different words unrelated content here mostly", "en", "s", 0),
    ]
    docs2 = _docs(spark, rows2)
    onepass2 = sorted(
        r.doc_id for r in remove_near_dups(docs2, min_jaccard=0.5).collect()
    )
    assert onepass2 == [1, 10]


def test_write_training_shards_deterministic(spark, tmp_path):
    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
    from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
        write_training_shards,
    )

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "shards")
    m1 = write_training_shards(docs, out, "doc_id", n_shards=4)
    assert m1["total_rows"] == docs.count()
    assert m1["n_shards"] >= 2  # range partitioner may merge tiny ranges
    assert sum(s["rows"] for s in m1["shards"]) == m1["total_rows"]
    import json
    import os as _os

    with open(_os.path.join(out, "_training_manifest.json")) as f:
        assert json.load(f) == m1
    # shards are key-ranged: per-file (min,max) doc_id ranges don't overlap
    from pyspark.sql import functions as F

    ranges = sorted(
        (r["mn"], r["mx"])
        for r in spark.read.parquet(out)
        .groupBy(F.input_file_name())
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .collect()
    )
    for (a_mn, a_mx), (b_mn, b_mx) in zip(ranges, ranges[1:]):
        assert a_mx < b_mn
    # re-export is byte-stable at the manifest level
    out2 = str(tmp_path / "shards2")
    m2 = write_training_shards(docs, out2, "doc_id", n_shards=4)
    assert [s["rows"] for s in m2["shards"]] == [s["rows"] for s in m1["shards"]]


def test_remove_dup_paragraphs_keep_first(spark):
    """A chunk duplicated across docs survives only in the smallest
    doc id; unique chunks always survive; a doc made entirely of
    later-occurrence dup chunks drops out; survivors reassemble in
    chunk order."""
    from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
        remove_dup_paragraphs,
    )

    boiler = " ".join(f"b{i}" for i in range(10))  # one full chunk
    uniq_a = " ".join(f"ua{i}" for i in range(10))
    uniq_c = " ".join(f"uc{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq_a}", "en"),
            (2, boiler, "en"),  # only a dup chunk -> whole doc drops
            (3, f"{uniq_c} {boiler}", "en"),
        ],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_dup_paragraphs(docs, "doc_id", "text", 10).collect()
    }
    assert out == {1: f"{boiler} {uniq_a}", 3: uniq_c}


def test_remove_dup_spans_keep_first_and_coverage(spark):
    """ExactSubstr removal semantics on a hand-built corpus with
    span_tokens=3: doc 0 keeps its spans (smallest id); docs sharing
    a 3-token run lose exactly the covered tokens; a doc whose every
    token is covered drops out entirely."""
    from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            # "a b c" is a shared span; doc 0 is keep-first
            (0, "a b c x y"),
            # doc 1 carries the span mid-text: loses a b c only
            (1, "p q a b c r"),
            # doc 2 IS the span exactly: loses everything, drops out
            (2, "a b c"),
            # doc 3 shares nothing duplicated
            (3, "u v w z1 z2"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in remove_dup_spans(docs, "doc_id", "text", 3).collect()
    }
    assert got == {
        0: "a b c x y",
        1: "p q r",
        3: "u v w z1 z2",
    }

    # overlapping duplicated spans union their coverage: "a b c d"
    # in two docs duplicates spans (a b c) and (b c d); doc 5 loses
    # all four tokens
    docs2 = spark.createDataFrame(
        [(4, "a b c d k"), (5, "m a b c d")],
        "doc_id BIGINT, text STRING",
    )
    got2 = {
        r["doc_id"]: r["text"]
        for r in remove_dup_spans(docs2, "doc_id", "text", 3).collect()
    }
    assert got2 == {4: "a b c d k", 5: "m"}
