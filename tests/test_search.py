"""BM25 retrieval: hand-computed scores on a tiny corpus + invariants."""

import math

import pytest
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.search import bm25_topk, doc_term_freqs

CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the dog chased the cat"),
    (3, "dogs and cats living together"),
    (4, "quantum flux capacitor maintenance manual"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def _bm25_ref(corpus, query, k1=1.2, b=0.75):
    """Independent pure-python BM25 for the same corpus."""
    toks = {i: t.lower().split() for i, t in corpus}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in dict.fromkeys(query.lower().split()):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if tf == 0:
                continue
            tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
            scores[i] = scores.get(i, 0.0) + idf * tfn
    return scores


def test_doc_term_freqs(docs):
    rows = {
        (r["doc_id"], r["word"]): (r["tf"], r["dl"])
        for r in doc_term_freqs(docs).collect()
    }
    assert rows[(1, "the")] == (2, 6)
    assert rows[(1, "cat")] == (1, 6)
    assert rows[(2, "dog")] == (1, 5)
    assert (4, "the") not in rows


def test_bm25_matches_reference_scores(spark, docs):
    queries = spark.createDataFrame(
        [(100, "the cat"), (200, "dog"), (300, "flux capacitor")],
        ["query_id", "qtext"],
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in bm25_topk(docs, queries, k=3).collect()
    }
    for qid, qtext in [(100, "the cat"), (200, "dog"), (300, "flux capacitor")]:
        ref = _bm25_ref(CORPUS, qtext)
        order = sorted(ref.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
        for rank, (doc, score) in enumerate(order, start=1):
            assert got[(qid, doc)][1] == rank, (qid, doc)
            assert got[(qid, doc)][0] == pytest.approx(score, abs=2e-6)
    # no doc scored that lacks every query term
    assert (300, 1) not in got and (200, 4) not in got


def test_bm25_rank_bounded_by_k(spark, docs):
    queries = spark.createDataFrame([(1, "the cat dog")], ["query_id", "qtext"])
    out = bm25_topk(docs, queries, k=2).collect()
    assert len(out) == 2 and {r["rank"] for r in out} == {1, 2}


def test_bm25_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.where(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower("text"), r"\s+"), 1, 4)).alias(
            "qtext"
        ),
    )
    out = bm25_topk(docs, queries, k=5)
    rows = out.collect()
    nq = queries.count()
    assert len(rows) <= 5 * nq and len(rows) > 0
    # per query: ranks are contiguous 1..m and scores non-increasing.
    # (The synthetic corpus is a small shared vocabulary — every word has
    # near-zero idf — so self-retrieval at rank 1 is NOT expected here;
    # score correctness is pinned by the hand-computed test above.)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), q
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True), q
    # deterministic across runs
    again = {(r["query_id"], r["doc_id"], r["rank"]) for r in out.collect()}
    assert again == {(r["query_id"], r["doc_id"], r["rank"]) for r in rows}


def test_bm25_eager_releases_postings_cache(spark, docs):
    """Default eager mode must leave no leaked cached relation behind:
    only the bounded checkpointed result itself may remain persisted."""
    queries = spark.createDataFrame([(1, "cat"), (2, "dog")], ["query_id", "qtext"])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = bm25_topk(docs, queries, k=2)
    out.count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before + 1  # the result's own localCheckpoint storage

    lazy = bm25_topk(docs, queries, k=2, eager=False)
    got = {(r.query_id, r.doc_id) for r in lazy.collect()}
    want = {(r.query_id, r.doc_id) for r in out.collect()}
    assert got == want


def test_bm25_avgdl_ignores_null_text_under_legacy_size_of_null(spark):
    """avgdl must not depend on session confs: with ANSI off and legacy
    sizeOfNull, size(NULL) is -1, yet a null-text doc still adds 0 words."""
    docs = spark.createDataFrame(CORPUS + [(5, None)], "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "the cat"), (200, "quantum dog")], ["query_id", "qtext"]
    )

    def scores():
        return {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in bm25_topk(docs, queries, k=4, eager=False).collect()
        }

    want = scores()
    legacy = {"spark.sql.ansi.enabled": "false", "spark.sql.legacy.sizeOfNull": "true"}
    prev = {key: spark.conf.get(key) for key in legacy}
    try:
        for key, value in legacy.items():
            spark.conf.set(key, value)
        got = scores()
    finally:
        for key, value in prev.items():
            spark.conf.set(key, value)
    assert got == want
