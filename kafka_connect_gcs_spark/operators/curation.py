"""Corpus-curation operators a training-data pipeline runs between ingest
and packing: benchmark decontamination, repetition-based quality stats
(the Gopher rules), and PII detection/redaction.

Like operators/text.py these extend the engine beyond the reference's
byte-opaque model (the reference connector never inspects payloads; a
100 TB training pipeline must). Hot paths are Catalyst built-ins —
whole-stage codegen or interpreted HOFs over per-row arrays, never
per-row Python — and every statistic is replayable as ANSI SQL for the
DuckDB oracle.

Scale notes (the 100 TB question, per op):

- ``decontaminate``: the benchmark side of the join is the SMALL side by
  construction (eval suites are MBs, the corpus is TBs) — its distinct
  gram hashes are broadcast, so the corpus is scanned exactly once,
  map-side, with no corpus shuffle for the join itself. The only
  exchange carries ``(doc_id, matched-gram)`` rows for grams that HIT
  the benchmark (rare by definition), then a per-doc count. Corpus gram
  arrays never leave their partition.
- ``repetition_stats``: pure map — one projection per doc, zero
  shuffles. The run-length scan works on the doc's own sorted gram
  array (bounded by doc length), not on corpus-wide state.
- ``pii_stats`` / ``pii_redact``: pure map, ``regexp_count`` /
  ``regexp_replace`` inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words

# Regexes restricted to the RE2 ∩ java.util.regex common dialect (no
# backreferences, no lookaround) so the DuckDB oracle matches them
# byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
LONG_DIGIT_RE = r"\b[0-9]{9,}\b"  # SSN/phone/account-number shaped

PII_PATTERNS: dict[str, str] = {
    "email": EMAIL_RE,
    "ipv4": IPV4_RE,
    "long_digits": LONG_DIGIT_RE,
}


def word_ngrams(ws: Column, n: int) -> Column:
    """Space-joined word n-grams of an already-projected word array.
    Pass an ATTRIBUTE (see text.gram_hashes' no-CSE note): the result is
    referenced by several consumers and interpreted HOFs re-evaluate
    duplicated subtrees."""
    idx = F.when(
        F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(n)]
        ),
    )


# -- benchmark decontamination -------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.05,
) -> DataFrame:
    """Flag corpus documents whose word ``n``-gram sets overlap a held-out
    benchmark/eval set — the standard train/test decontamination pass
    (GPT-3 appendix C / PaLM-style n-gram collision check).

    Returns one row per corpus doc: ``(id_col, n_grams, n_hit,
    contamination, contaminated)`` where ``contamination`` is the
    fraction of the doc's DISTINCT n-grams that appear anywhere in the
    benchmark and ``contaminated`` applies ``threshold``.

    Plan shape: benchmark grams → distinct → **broadcast** (eval suites
    are small by construction); corpus grams explode and inner-join the
    broadcast map-side, so only HITTING grams reach the one exchange
    (per-doc count agg). Docs with zero hits are restored by the final
    left join against the narrow per-doc gram counts — also a skinny
    relation (id + int).
    """
    # n-grams are formed over the ORIGINAL word sequence (dedup would
    # splice non-adjacent words into phantom grams); only the per-doc
    # gram SET is distinct'd. The word array is STAGED as an attribute
    # before gramming on BOTH sides: word_ngrams re-reads its input per
    # gram element inside an interpreted HOF lambda, so an inlined
    # words(text) expression would re-tokenize the doc O(n_words) times.
    bench_grams = (
        benchmark.select(words(F.col(text_col)).alias("_ws"))
        .select(F.explode(word_ngrams(F.col("_ws"), n)).alias("gram"))
        .distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col("_ws"), n)).alias("_grams"),
    )
    totals = doc_grams.select(
        id_col, F.size("_grams").alias("n_grams")
    )
    hits = (
        doc_grams.select(id_col, F.explode("_grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    out = (
        totals.join(hits, id_col, "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
        .withColumn(
            "contamination",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_hit") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("contaminated", F.col("contamination") >= threshold)
    )
    return out.select(id_col, "n_grams", "n_hit", "contamination", "contaminated")


# -- repetition / Gopher quality rules -----------------------------------------


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    portable: bool = False,
    out_col: str = "clean_text",
) -> DataFrame:
    """Span-level decontamination: surgically REMOVE every word covered
    by a ``k``-gram that also appears in the benchmark, instead of
    dropping whole documents (:func:`decontaminate` flags; this heals).
    The k=13 default is the GPT-3/PaLM exact-collision window.

    Returns the corpus with ``out_col`` appended (docs with no hits pass
    through verbatim). Cross-corpus twin of
    ``dedup_spans.remove_dup_spans``: same rolling gram-position scan and
    index-filter rebuild, but the duplicate test is membership in the
    benchmark's gram-hash set rather than corpus-internal frequency.

    Scale shape: the benchmark gram-hash set is distinct'd and
    **broadcast** (eval suites are MBs against a TB corpus), so corpus
    grams are probed map-side; the only exchange carries ``(doc_id,
    position)`` pairs for grams that HIT the benchmark (rare by
    definition) into the per-doc covered-set aggregate. Corpus text
    never shuffles; the rebuild is map-side after a skinny left join.
    """
    from kafka_connect_gcs_spark.operators.dedup_spans import (
        gram_positions,
        rebuild_without_positions,
    )

    bench_h = (
        gram_positions(
            benchmark,
            k=k,
            text_col=bench_text_col or text_col,
            id_col=bench_id_col or id_col,
            portable=portable,
        )
        .select("h")
        .distinct()
    )
    gp = gram_positions(
        corpus, k=k, text_col=text_col, id_col=id_col, portable=portable
    )
    covered = (
        gp.join(F.broadcast(bench_h), "h")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("cpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("cpos").alias("_covered"))
    )
    return rebuild_without_positions(
        corpus, covered, text_col, id_col, out_col
    )


def _max_run_frac(arr: Column) -> Column:
    """max over distinct values of (occurrences / total), computed as the
    longest equal-run in the SORTED array via one aggregate scan —
    per-row compute bounded by doc length, no corpus state. Null-safe:
    empty arrays yield 0.0."""
    sorted_arr = F.array_sort(arr)
    scan = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return F.when(
        F.size(arr) > 0, scan["best"] / F.size(arr)
    ).otherwise(F.lit(0.0))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.6,
    max_top2_frac: float = 0.2,
    max_top3_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1): fraction of duplicate words, and the fraction of all word
    2-/3-grams claimed by the single most frequent one. Documents whose
    repetition exceeds any threshold are flagged for removal.

    Pure map (one projection), so the 100 TB cost is one corpus scan."""
    ws = words(F.col(text_col))
    staged = df.select(
        id_col,
        ws.alias("_ws"),
    ).select(
        id_col,
        "_ws",
        word_ngrams(F.col("_ws"), 2).alias("_g2"),
        word_ngrams(F.col("_ws"), 3).alias("_g3"),
    )
    dup_word = F.when(
        F.size("_ws") > 0,
        F.lit(1.0) - F.size(F.array_distinct("_ws")) / F.size("_ws"),
    ).otherwise(F.lit(0.0))
    out = staged.select(
        id_col,
        F.size("_ws").alias("n_words"),
        F.round(dup_word, 6).alias("dup_word_frac"),
        F.round(_max_run_frac(F.col("_g2")), 6).alias("top2gram_frac"),
        F.round(_max_run_frac(F.col("_g3")), 6).alias("top3gram_frac"),
    )
    return out.withColumn(
        "repetitive",
        (F.col("dup_word_frac") > max_dup_word_frac)
        | (F.col("top2gram_frac") > max_top2_frac)
        | (F.col("top3gram_frac") > max_top3_frac),
    )


# -- corpus-level LM quality score ---------------------------------------------


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram LM (the CCNet/KenLM-style perplexity filter, reduced to the
    order-0 model that needs no external artifacts): build word counts
    over the WHOLE corpus, then score each doc by
    ``sum_w k_w·ln(c_w/total) / n_words``. Low scores mark gibberish /
    off-distribution docs.

    Plan shape for 100 TB: each pass explodes word OCCURRENCES and scores
    them directly — no (doc, word) pair aggregation: the per-occurrence
    ``ln(c/tot)`` sums to the same total as ``k·ln(c/tot)`` over distinct
    pairs (the 6-dp round absorbs ulp-level summation-order differences,
    which a double sum over a shuffle already has). The vocabulary agg is
    map-side combined so its exchange carries ≈|vocab per partition|. Two
    exchanges are data-sized: the vocabulary join shuffles every word
    occurrence (the exploded side has no map-side combine), and the
    per-doc sum follows it. The corpus total is a
    1-row broadcast, not a driver constant baked into the plan; the
    vocabulary join stays shuffled by contract (vocab grows with the
    corpus — AQE broadcasts it at runtime when it is actually small).
    """
    exploded = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    )
    vocab = exploded.groupBy("word").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("tot"))
    scored = (
        exploded.join(vocab, "word")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.log(F.col("c") / F.col("tot"))).alias("_lp"),
        )
    )
    return scored.select(
        id_col,
        "n_words",
        F.round(F.col("_lp") / F.col("n_words"), 6).alias("avg_logprob"),
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    bigram LM — the order-1 step up from :func:`unigram_logprob` toward
    the CCNet perplexity filter: ``P(w_i | w_{i-1}) = c(w_{i-1} w_i) /
    c(w_{i-1} ·)``, scored as ``sum k·ln P / n_bigrams`` over a doc's
    bigrams. Because the LM is estimated on the corpus being scored,
    every doc bigram has nonzero count (no smoothing needed for the
    in-corpus score); docs whose word order is unusual FOR THIS CORPUS
    (shuffled text, boilerplate splices, wrong-language runs) score low
    even when their vocabulary is ordinary — exactly what the unigram
    model cannot see. Docs with < 2 words drop out (no bigrams).

    Plan shape for 100 TB: one corpus scan stages the word array and each
    pass explodes bigram OCCURRENCES keyed as ``struct(w1, w2)`` — no
    string concatenation and no (doc, bigram) pair aggregation: scoring
    sums ``ln P`` per occurrence directly, which is the same total as the
    former ``k·ln P`` over distinct pairs (words contain no whitespace,
    so the struct key groups exactly like the old concatenated string;
    the 6-dp round absorbs ulp-level summation-order differences, which
    a double sum over a shuffle already has). The bigram-count agg is
    map-side combined (exchange carries ≈|distinct bigrams per
    partition|); prefix counts ``c(w ·)`` reduce the bigram table again
    by first word. Three exchanges are data-sized: the two LM joins
    (bigram counts, then prefix counts) each shuffle every bigram
    occurrence (the exploded side has no map-side combine), and the
    per-doc sum follows them. No
    broadcast of the LM: bigram vocabulary grows with the corpus, so the
    join is a plain shuffled join on the bigram key (AQE converts it to
    a broadcast at runtime when the fitted LM is actually small).
    """
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("_ws"))
    bigrams = ws.select(
        F.col(id_col),
        F.explode(
            # zip two EQUAL-LENGTH slices: zipping the full array against
            # its tail pads the short side with NULL and a null second
            # word would leak the last word through as a fake bigram
            F.zip_with(
                F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
                F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("bigram").agg(F.count("*").alias("c"))
    prefix = counts.groupBy(F.col("bigram.w1").alias("_w1")).agg(
        F.sum("c").alias("cp")
    )
    scored = (
        bigrams.join(counts, "bigram")
        .withColumn("_w1", F.col("bigram.w1"))
        .join(prefix, "_w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.log(F.col("c") / F.col("cp"))).alias("_lp"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        F.round(F.col("_lp") / F.col("n_bigrams"), 6).alias("avg_logprob"),
    )


# -- PII -----------------------------------------------------------------------


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc counts of PII-shaped spans (email / IPv4 / long digit runs)
    plus a total. regexp_count is JVM-side codegen; one corpus scan."""
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = df.select(F.col(id_col), *counts)
    total = None
    for name in PII_PATTERNS:
        col = F.col(f"n_{name}")
        total = col if total is None else total + col
    return out.withColumn("n_pii", total)


def pii_redact(
    df: DataFrame, text_col: str = "text", replacement: str = "[PII]"
) -> DataFrame:
    """Replace every PII-shaped span with ``replacement``. Patterns are
    applied in PII_PATTERNS order (email first, so its digits are masked
    before the digit-run rule sees them)."""
    c = F.col(text_col)
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, replacement)
    return df.withColumn(text_col, c)


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    max_words: int = 100000,
    max_dup_word_frac: float = 0.6,
    max_top2_frac: float = 0.2,
    max_top3_frac: float = 0.18,
    max_pii: int = 0,
    min_quality: float = 0.4,
    allowed_langs: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """The whole pre-dedup curation funnel as ONE map-only projection:
    length bounds, Gopher repetition rules, PII count, heuristic quality
    score, and language allow-list, each a named rule. Returns every input
    row with ``(keep boolean, reasons array<string>)`` — ``reasons`` lists
    the rules that failed, sorted, empty when kept.

    Composing the individual operators via joins would shuffle per signal;
    since every signal is a Catalyst expression over the row, the gate is
    a single corpus scan at any scale (and each rule column stays
    individually testable through the underlying operators).
    """
    from kafka_connect_gcs_spark.operators.text import lang_guess, quality_score

    c = F.col(text_col)
    ws = words(c)
    staged = df.select(
        "*",
        ws.alias("_ws"),
    ).select(
        "*",
        word_ngrams(F.col("_ws"), 2).alias("_g2"),
        word_ngrams(F.col("_ws"), 3).alias("_g3"),
    )
    n = F.size("_ws")
    dup_word = F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct("_ws")) / n
    ).otherwise(F.lit(0.0))
    pii_total = None
    for pat in PII_PATTERNS.values():
        cnt = F.regexp_count(c, F.lit(pat))
        pii_total = cnt if pii_total is None else pii_total + cnt

    rules = [
        ("too_short", n < min_words),
        ("too_long", n > max_words),
        (
            "repetitive",
            (F.round(dup_word, 6) > max_dup_word_frac)
            | (F.round(_max_run_frac(F.col("_g2")), 6) > max_top2_frac)
            | (F.round(_max_run_frac(F.col("_g3")), 6) > max_top3_frac),
        ),
        ("pii", pii_total > max_pii),
        ("low_quality", quality_score(c) < min_quality),
    ]
    if allowed_langs is not None:
        rules.append(("lang", ~lang_guess(c).isin(list(allowed_langs))))

    reasons = F.sort_array(
        F.filter(
            F.array(
                *[
                    F.when(failed, F.lit(name)).otherwise(F.lit(None))
                    for name, failed in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return (
        staged.withColumn("reasons", reasons)
        .withColumn("keep", F.size("reasons") == 0)
        .drop("_ws", "_g2", "_g3")
    )


# -- line-level quality signals (FineWeb/C4 style) ----------------------------


def line_quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document LINE-granular quality signals — the C4/FineWeb family
    of filters that document-level stats can't see (a page of nav chrome
    has fine word lengths but almost no terminal punctuation):

    * ``n_lines`` — non-blank lines;
    * ``frac_end_punct`` — fraction of non-blank lines ending in
      ``. ! ? "`` (C4 keeps only such lines);
    * ``frac_bullet`` — fraction starting with a bullet marker
      (Gopher drops docs with > 90% bullet lines);
    * ``frac_short`` — fraction with < 4 words (nav/menu chrome);
    * ``mean_line_words`` — mean words per non-blank line.

    One map-only projection of nested HOFs over a staged line array —
    zero exchanges, streams unchanged at any scale, and every function
    is in the RE2∩Java regex dialect so the DuckDB oracle replays it.
    """
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    staged = df.select(F.col(id_col), lines.alias("_lines"))
    nl = F.size(F.col("_lines"))
    line_words = lambda l: F.filter(  # noqa: E731
        F.split(F.lower(F.trim(l)), r"\s+"), lambda w: w != ""
    )
    n_match = lambda pat: F.size(  # noqa: E731
        F.filter(F.col("_lines"), lambda l: F.trim(l).rlike(pat))
    )
    total_words = F.aggregate(
        F.col("_lines"),
        F.lit(0).cast("long"),
        lambda acc, l: acc + F.size(line_words(l)),
    )
    frac = lambda num: F.when(  # noqa: E731
        nl > 0, F.round(num / nl.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return staged.select(
        id_col,
        nl.cast("long").alias("n_lines"),
        frac(n_match(r'[.!?"]$')).alias("frac_end_punct"),
        frac(n_match(r"^[-*•]")).alias("frac_bullet"),
        frac(
            F.size(F.filter(F.col("_lines"), lambda l: F.size(line_words(l)) < 4))
        ).alias("frac_short"),
        F.when(nl > 0, F.round(total_words / nl.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("mean_line_words"),
    )
