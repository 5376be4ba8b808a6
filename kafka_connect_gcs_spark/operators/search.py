"""Full-text retrieval: BM25 scoring over an inverted-postings relation.

The reference never looks inside a payload (its formats are byte-opaque —
`common/.../BytesRecordReader.java`, `TrailingDelimiterFormat.java`), so
retrieval is an engine addition: a training-data pipeline needs lexical
search for eval-set mining, contamination probes, and quality spot-checks.

Scale shape (the 100 TB question):

* the corpus is tokenized ONCE (`doc_term_freqs`): one explode + one
  partial-aggregated ``groupBy(doc, word)`` — shuffle volume is the
  postings relation, which is the floor for any inverted index build;
* the query side is always broadcast (a query set is human-scale), so
  scoring is a map-side join against the postings — the corpus never
  re-shuffles for a new query batch;
* document frequencies are computed only for the query's words (a
  vocabulary-of-the-query-sized aggregate, broadcast back), never for the
  full corpus vocabulary;
* the final top-k uses the shared bounded two-phase finalization
  (:func:`..similarity.topk_per_query`) — no global window funnel.

Everything is Catalyst built-ins (whole-stage codegen); the scoring math
sticks to single-rounded double ops so the DuckDB oracle reproduces it
bit-for-bit after ``round(_, 6)``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.similarity import topk_per_query
from kafka_connect_gcs_spark.operators.text import words


def doc_term_freqs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inverted-postings relation ``(id, word, tf, dl)``.

    One explode carrying the per-doc length alongside each word, then one
    partially-aggregated ``groupBy(doc, word)`` — ``dl`` is constant per
    doc so ``max`` folds it through the same aggregate (no second shuffle
    and no postings⨝lengths join).
    """
    from kafka_connect_gcs_spark.operators.util import spread_small_input

    ws = words(F.col(text_col))
    # tokenization is the dominant map cost — spread a few-file input,
    # KEYED by the document id: the (id, word) groupBy then reuses this
    # one exchange (HashPartitioning(id) satisfies the (id, word)
    # clustering), and downstream per-document consumers (BM25's dense
    # scorer, tfidf's per-doc top-k window) inherit id-partitioning and
    # plan zero further exchanges (guide §2.4)
    exploded = spread_small_input(df, by=[id_col]).select(
        F.col(id_col), F.size(ws).alias("dl"), F.explode(ws).alias("word")
    )
    return exploded.groupBy(id_col, "word").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    eager: bool = True,
) -> DataFrame:
    """Top-k documents per query under Lucene-flavored BM25.

    ``idf = ln(1 + (N - df + .5)/(df + .5))``,
    ``score = Σ_terms idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``
    summed over the query's DISTINCT words.

    Returns ``(query_id, id, score, rank)`` with ``rank`` 1..k per query,
    ordered by (rounded score desc, id asc) — rounding before ranking keeps
    tie-breaks identical in Spark and the DuckDB oracle.

    With ``eager=True`` (default) the bounded top-k result (≤ |queries|·k
    rows) is materialized via ``localCheckpoint`` and the temporary
    postings cache released before returning, so a long-lived service
    calling this per query batch never accumulates cached relations.
    ``eager=False`` keeps the plan lazy (the cache is then LRU-evicted).

    Scoring path: when the query vocabulary and query count are bounded
    (the normal retrieval shape — both are human-scale), each scoring
    task turns its slice of the postings into a dense (docs × |qvocab|)
    tf-normalization matrix and scores every query in ONE matmul against
    the idf-weighted query/term matrix (guide §4.2), followed by a
    per-partition exact top-k. The r5 relational form materialized the
    full (postings × queries-per-word) explosion — 254M rows at sf1.0 —
    and hash-aggregated |Q|·|docs| groups (84M); the matmul computes the
    identical per-(query, doc) sums (idf·tfn products with exact-zero
    padding) without ever expanding the cross relation. idf values are
    computed in the JVM and collected (a |qvocab|-row metadata relation),
    so no Python transcendental enters the score. Degenerate shapes
    (unbounded query vocabulary) keep the relational plan.
    """
    # when doc_term_freqs keyed-spreads a small input, postings (and hence
    # `hit`) come out hash-partitioned by id — the dense scorer can then
    # skip its own doc-id repartition (one fewer exchange of the postings)
    try:
        _files = docs.inputFiles()
    except Exception:
        _files = []
    _id_partitioned = bool(_files) and len(_files) < (
        docs.sparkSession.sparkContext.defaultParallelism
    )
    postings = doc_term_freqs(docs, text_col=text_col, id_col=id_col)

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(words(F.col(query_text_col)))).alias("word"),
    )
    qwords = qterms.select("word").distinct()

    # Driver-side inputs come from THREE independent jobs overlapped in a
    # small thread pool (guide §2.6) instead of four sequential rounds:
    #  * corpus stats — doc count, non-null-text count, Σ word counts —
    #    in ONE light docs pass (tokenize+size only; `sum(size(words))`
    #    is the same exact integer as the former Σ max(dl) over postings:
    #    dl IS size(words) per doc, zero-word and null-text docs
    #    contribute 0 to both — so the avgdl double is bit-identical;
    #    the coalesce sits INSIDE size() because under ANSI off with
    #    legacy sizeOfNull, size(NULL) is -1, not NULL);
    #  * the query-term collect;
    #  * the postings cache materialization (eager mode), so the dfreq
    #    pass below reads memory instead of re-tokenizing.
    # idf/tfn then take the constants as LITERALS — idf stays a JVM
    # log() over the collected df counts, bit-identical to before.
    if eager:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)

    def _stats_job():
        return docs.agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(text_col).alias("n_text"),
            F.sum(
                F.size(
                    F.coalesce(
                        words(F.col(text_col)), F.array().cast("array<string>")
                    )
                )
            ).alias("s"),
        ).collect()[0]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_stats = pool.submit(_stats_job)
        f_qterms = pool.submit(qterms.collect)
        f_mat = pool.submit(postings.count) if eager else None
        cnt_row = f_stats.result()
        qterm_rows = f_qterms.result()
        if f_mat is not None:
            f_mat.result()
    n_docs = float(cnt_row["n_all"])
    if cnt_row["n_text"]:
        avgdl_lit = F.lit(float(cnt_row["s"] or 0) / cnt_row["n_text"])
    else:  # degenerate empty/all-null corpus: keep avg()'s NULL semantics
        avgdl_lit = F.lit(None).cast("double")

    # postings restricted to the query vocabulary — reused for both the
    # df aggregate and the scoring pass (both read the cached postings)
    hit = postings.join(F.broadcast(qwords), "word")

    # document frequency over query words only: hit is unique per
    # (doc, word), so df is a plain count — a |query vocab|-row aggregate
    dfreq = hit.groupBy("word").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl_lit)
    )

    # query set and per-word idf are metadata-scale BY CONTRACT (the same
    # assumption that lets the relational form broadcast them); collect
    # both and dispatch on the actual sizes (qterm_rows came from the
    # thread pool above)
    idf_rows = dfreq.select("word", idf.alias("_idf")).collect()
    vocab = sorted({r["word"] for r in idf_rows})
    if len(vocab) <= 4096 and len({r[0] for r in qterm_rows}) <= 65536:
        scored = _bm25_scored_dense(
            hit, tfn, qterm_rows, idf_rows, vocab, k,
            id_col=id_col, query_id_col=query_id_col,
            qid_type=qterms.schema[query_id_col].dataType.simpleString(),
            id_partitioned=_id_partitioned,
        )
    else:
        scored = (
            hit.join(F.broadcast(dfreq), "word")
            .withColumn("_contrib", idf * tfn)
            .join(F.broadcast(qterms), "word")
            .groupBy(query_id_col, id_col)
            .agg(F.round(F.sum("_contrib"), 6).alias("score"))
        )
    out = topk_per_query(
        scored, k, query_id_col=query_id_col, id_col=id_col, sim_col="score"
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    postings.unpersist()
    return out


def _bm25_scored_dense(
    hit: DataFrame,
    tfn,
    qterm_rows,
    idf_rows,
    vocab,
    k: int,
    id_col: str,
    query_id_col: str,
    qid_type: str = "bigint",
    id_partitioned: bool = False,
) -> DataFrame:
    """(query_id, id, score) for every (query, doc) pair sharing ≥ 1 term,
    pruned to the per-partition top candidates.

    Per task: pivot its (doc, word, tfn) slice into a dense doc × vocab
    matrix and multiply by the |Q| × vocab idf-weighted indicator matrix.
    idf > 0 and tfn > 0 always, and absent terms contribute exact 0.0
    (x + 0.0 == x in IEEE), so a score cell is > 0 exactly when the query
    and doc share a term — the same pair set the relational join emits —
    and each pair's sum is over the identical idf·tfn addends. Scores are
    rounded (HALF_UP twin of F.round) BEFORE ranking, as in the
    relational form. The tfn expression is evaluated in the JVM; only
    pivot, matmul and top-k run in numpy.

    Emits each partition's per-query top candidates under the total order
    (score desc, id asc) — a superset filter identical in spirit to
    topk_per_query's phase 1 (which still runs downstream and applies the
    exact global rank)."""
    import numpy as np

    from kafka_connect_gcs_spark.operators.similarity import _round6

    widx = {w: i for i, w in enumerate(vocab)}
    idf_by_word = {r["word"]: float(r["_idf"]) for r in idf_rows}
    qids = sorted({r[0] for r in qterm_rows})
    qrow = {q: i for i, q in enumerate(qids)}
    S = np.zeros((len(qids), len(vocab)), dtype=np.float64)
    for r in qterm_rows:
        w = r["word"]
        if w in widx:  # query words absent from the corpus score nothing
            S[qrow[r[0]], widx[w]] = idf_by_word[w]
    qids_np = np.asarray(qids)

    # tfn references only tf/dl and literal constants — a pure projection
    # of the (cached) hit relation, no stats cross join
    tfn_rel = hit.select(F.col(id_col), F.col("word"), tfn.alias("_tfn"))

    def score_part(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        doc_ids, doc_inv = np.unique(pdf[id_col].to_numpy(), return_inverse=True)
        cols = np.fromiter(
            (widx[w] for w in pdf["word"]), dtype=np.int64, count=len(pdf)
        )
        tfv = pdf["_tfn"].to_numpy()
        out_q, out_d, out_s = [], [], []
        # block over docs AND queries so the dense temporaries stay bounded
        # regardless of partition size; each (doc-block, query) emits its
        # local top-k and the exact global rank is applied downstream —
        # a union of per-block top-k is a superset of the global top-k
        for d0 in range(0, len(doc_ids), 8192):
            d1 = min(d0 + 8192, len(doc_ids))
            sel = (doc_inv >= d0) & (doc_inv < d1)
            M = np.zeros((d1 - d0, len(vocab)), dtype=np.float64)
            M[doc_inv[sel] - d0, cols[sel]] = tfv[sel]
            ids_b = doc_ids[d0:d1]
            for q0 in range(0, len(qids_np), 4096):
                Sb = S[q0 : q0 + 4096]
                raw = M @ Sb.T  # (docs_b, qb)
                scores = _round6(raw)
                for j in range(scores.shape[1]):
                    # raw > 0 exactly when query∩doc terms ≠ ∅ (idf, tfn
                    # > 0) — the relational join's pair set, kept even
                    # when the ROUNDED score is 0.0
                    nz = np.nonzero(raw[:, j] > 0.0)[0]
                    if not len(nz):
                        continue
                    col = scores[:, j]
                    order = nz[np.lexsort((ids_b[nz], -col[nz]))][:k]
                    out_q.append(np.full(len(order), qids_np[q0 + j]))
                    out_d.append(ids_b[order])
                    out_s.append(col[order])
        if out_q:
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_d),
                    "score": np.concatenate(out_s),
                }
            )

    id_type = hit.schema[id_col].dataType.simpleString()
    # the scorer needs every (doc, word) row of a doc in one task; when
    # the postings already carry doc-id hash partitioning (keyed spread in
    # doc_term_freqs), the explicit repartition is a redundant second
    # exchange of the whole hit relation — skip it
    if not id_partitioned:
        tfn_rel = tfn_rel.repartition(
            tfn_rel.sparkSession.sparkContext.defaultParallelism,
            F.col(id_col),
        )
    return tfn_rel.mapInPandas(
        score_part,
        schema=f"{query_id_col} {qid_type}, {id_col} {id_type}, score double",
    )


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by smoothed
    TF-IDF (``tf · (ln((N+1)/(df+1)) + 1)`` — the sklearn-flavored idf
    that never goes negative), ties broken by term so the ranking is
    total and engine-portable.

    Scale shape: the postings relation (one explode + partial-agg
    groupBy, shared with BM25's :func:`doc_term_freqs`) IS the shuffle
    floor; document frequency is one map-side-combined aggregate over
    the postings; N is a 1-row broadcast computed in-plan; the top-k
    window partitions BY DOCUMENT — millions of vocabulary-bounded
    groups, no global funnel. The score is rounded to 9 decimals before
    ranking so float ulp differences can never reorder engines.
    """
    from pyspark.sql import Window

    pairs = doc_term_freqs(df, text_col=text_col, id_col=id_col)
    dfreq = pairs.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        pairs.join(dfreq, "word")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("doc_freq") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            F.col("word").alias("term"),
            "tf",
            "doc_freq",
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )
