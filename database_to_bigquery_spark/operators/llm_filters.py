"""LLM training-data quality filters over `documents` — the two
classic corpus-hygiene passes beyond plain dedup (SURVEY.md §2b X14):

* repetition filtering (Gopher-style: duplicate-word fraction, top
  bigram fraction, duplicate-bigram mass) — catches boilerplate and
  degenerate generations;
* benchmark-contamination detection (shared 5-gram shingles against a
  held-out eval set) — the decontamination join every pre-training
  pipeline runs before training.

Scale notes: repetition signals shuffle once on (doc_id, gram) with
map-side partial aggregation; contamination is an explode → join where
the benchmark side is tiny by construction → broadcast hash join, so
the corpus side streams through without a shuffle. Both hold at 100 TB
because per-doc gram counts, not raw text, cross the wire.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table, load_table_spread, maybe_broadcast
from ..registry import query
from .ngram_util import sliding_ngrams, sliding_structs


@query(
    "text_repetition_filter",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             ROUND(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS dup_word_frac,
             list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS grams
      FROM w),
    gc AS (SELECT doc_id, unnest(grams) AS gram FROM base),
    cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM gc GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             ROUND(CAST(MAX(c) AS DOUBLE) * 2 / (SUM(c) + 1), 4)             AS top_bigram_frac,
             ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                   / SUM(c), 4)                                              AS dup_bigram_frac
      FROM cnt GROUP BY 1)
    SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words, b.dup_word_frac,
           r.top_bigram_frac, r.dup_bigram_frac,
           (b.dup_word_frac > 0.9 OR r.top_bigram_frac > 0.18) AS flagged
    FROM base b JOIN rep r USING (doc_id)
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction, most-frequent-bigram mass (×2 words / n_words),
    duplicate-bigram mass, and a flag at the published thresholds.

    Every signal is doc-LOCAL, so the whole operator is one narrow
    Arrow-batched pass emitting five integer counts per doc — zero
    shuffles past the input spread, no explode, no join. The fractions
    (and their 4-dp rounding) stay Spark-side expressions over the
    integer counts, so the float arithmetic the oracle compares is
    exactly the same F.round(double/double) it always was.

    The previous declarative form (transform+concat_ws bigrams →
    explode → two aggregations → join) measured 138 s at the 250k-doc
    twin, for two plan-shape reasons this rewrite documents as
    hazards of HOF+explode pipelines: (1) projection collapse inlines
    split(text) into the lambda body and HOF lambdas are interpreted
    per ELEMENT with no CSE — the doc was re-split once per bigram,
    quadratic per doc; (2) InferFiltersFromGenerate derives
    `size(grams) > 0 AND isnotnull(grams)` from the explode and
    pushes it below the repartition exchange, re-evaluating the
    entire gram-build expression twice more per row inside the
    low-parallelism scan stage. The batched kernel does the identical
    counting (dict of bigram multiplicities) in ~7 s at the same
    twin.
    """
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")

    def rep_counts(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            rows = {
                "doc_id": pdf["doc_id"],
                "n_words": [],
                "n_distinct": [],
                "max_c": [],
                "dup_mass": [],
                "tot": [],
            }
            for text in pdf["text"]:
                ws = text.split(" ")
                n = len(ws)
                counts: dict = {}
                for i in range(n - 1):
                    g = ws[i] + " " + ws[i + 1]
                    counts[g] = counts.get(g, 0) + 1
                rows["n_words"].append(n)
                rows["n_distinct"].append(len(set(ws)))
                rows["max_c"].append(max(counts.values()) if counts else 0)
                rows["dup_mass"].append(
                    sum(c for c in counts.values() if c > 1)
                )
                rows["tot"].append(n - 1)
            yield pd.DataFrame(rows)

    stats = d.select("doc_id", "text").mapInPandas(
        rep_counts,
        "doc_id long, n_words long, n_distinct long, max_c long, "
        "dup_mass long, tot long",
    )
    # docs with no bigrams (single word) had no `rep` row in the join
    # form — keep that contract
    out = stats.filter(F.col("tot") >= 1).select(
        "doc_id",
        "n_words",
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 4).alias(
            "dup_word_frac"
        ),
        F.round(F.col("max_c") * 2.0 / (F.col("tot") + 1), 4).alias(
            "top_bigram_frac"
        ),
        F.round(F.col("dup_mass") / F.col("tot"), 4).alias("dup_bigram_frac"),
    )
    return out.withColumn(
        "flagged",
        (F.col("dup_word_frac") > 0.9) | (F.col("top_bigram_frac") > 0.18),
    )


@query(
    "text_contamination_ngram",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 3), i ->
                   ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                   ws[i+3] || ' ' || ws[i+4])) AS shingles
          FROM w WHERE len(ws) >= 5),
    ex AS (SELECT doc_id, unnest(shingles) AS sh FROM g),
    bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 37 = 0),
    corpus AS (SELECT * FROM ex WHERE doc_id % 37 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_shared
             FROM corpus c JOIN bench b USING (sh) GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT)           AS n_shingles,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(h.n_shared, 0) * 1.0 / t.n_shingles, 4) AS overlap_frac,
           COALESCE(h.n_shared, 0) * 1.0 / t.n_shingles > 0.05    AS contaminated
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs whose doc_id % 37 == 0 stand in
    for a held-out eval set; every other doc is scored by the fraction
    of its distinct 5-word shingles that appear anywhere in the eval
    set, and flagged above 5% overlap.

    Scale: the eval side is ~1/37 of the corpus and reduced to DISTINCT
    shingles → `broadcast()` it; the corpus side then needs no shuffle
    for the probe (stream through a broadcast hash join), and the two
    per-doc aggregations co-partition on doc_id. At 100 TB the eval set
    is a real benchmark suite (MBs) — the same plan, an even easier
    broadcast.
    """
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    ws = F.split(F.col("text"), " ")
    # persist: the exploded shingle relation feeds three consumers
    # (eval-set distinct, per-doc totals, probe join) — without it the
    # shingling map stage re-runs per consumer (3× the dominant cost)
    ex = (
        d.select("doc_id", ws.alias("w"))
        .filter(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(F.array_distinct(sliding_ngrams("w", 5))).alias("sh"),
        )
        .persist()
    )
    bench = ex.filter(F.col("doc_id") % 37 == 0).select("sh").distinct()
    corpus = ex.filter(F.col("doc_id") % 37 != 0)
    tot = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            shared.cast("long").alias("n_shared"),
            F.round(shared * 1.0 / F.col("n_shingles"), 4).alias("overlap_frac"),
            (shared * 1.0 / F.col("n_shingles") > 0.05).alias("contaminated"),
        )
    )


@query(
    "text_bigram_lm_score",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)), i ->
               ws[i] || ' ' || ws[i+1])) AS bigram,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1
      FROM w WHERE len(ws) >= 2),
    c2 AS (SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w1) AS vocab FROM bg)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN((c2.n2 + 1.0) / (c1.n1 + v.vocab))), 4) AS avg_logp,
           AVG(LN((c2.n2 + 1.0) / (c1.n1 + v.vocab))) < -7.0    AS low_quality
    FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filtering with a corpus-trained bigram
    LM (the CCNet/Wikipedia-LM filter shape, self-contained): train
    add-one-smoothed bigram probabilities on the corpus itself, score
    every document by its mean log-probability, flag the implausible
    tail.

    Scale: the bigram relation shuffles once to count c2 (map-side
    combined); c1 and the vocab size are word-vocabulary-sized →
    broadcast back onto the bigram stream; the per-doc average
    re-partitions on doc_id. No Python anywhere; at 100 TB this is
    exactly the e5-style "train the filter on the data you filter"
    pass, with a real external LM slotting in as a Pandas-UDF scorer
    if desired."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    ws = F.split(F.col("text"), " ")
    bg = (
        d.select("doc_id", ws.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(sliding_structs("w", 2)).alias("e"))
        .select(
            "doc_id",
            F.concat_ws(" ", "e.w0", "e.w1").alias("bigram"),
            F.col("e.w0").alias("w1"),
        )
        .persist()  # feeds c2, c1, vocab AND the scoring join — one
        # materialization instead of four explode re-runs
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    v = bg.agg(F.count_distinct("w1").alias("vocab"))
    logp = F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("vocab")))
    return (
        bg.join(c2, "bigram")
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
            (F.avg(logp) < -7.0).alias("low_quality"),
        )
    )


@query(
    "text_span_dedup_c4",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sp AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(ws) - 8), i ->
               array_to_string(ws[i:i+9], ' '))) AS span
      FROM w WHERE len(ws) >= 10),
    freq AS (SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY 1)
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT)                               AS n_spans,
           CAST(COUNT(*) FILTER (WHERE freq.ndocs > 1) AS BIGINT) AS n_dup_spans,
           ROUND(COUNT(*) FILTER (WHERE freq.ndocs > 1) * 1.0 / COUNT(*), 4)
                                                                  AS dup_span_frac,
           COUNT(*) FILTER (WHERE freq.ndocs > 1) * 1.0 / COUNT(*) > 0.5
                                                                  AS mostly_boilerplate
    FROM sp JOIN freq USING (span)
    GROUP BY sp.doc_id
    """,
)
def text_span_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document span dedup: every 10-word span is checked
    for occurrence in OTHER documents; documents are scored by the
    fraction of their spans that are corpus-duplicated (boilerplate,
    licence headers, templated pages — duplication that document-level
    dedup can't see because the documents differ overall).

    Scale: spans shuffle once to count document frequency (map-side
    combined; the span key is bounded by the corpus, skew capped at
    n_docs), then the span stream re-joins its own frequency table —
    at 100 TB the frequency table is the big side, so THIS join is the
    shuffle join, while the final per-doc aggregation co-partitions on
    doc_id. The C4 paper's remove-the-span variant is this same plan
    with a filter instead of a score."""
    # repartition-before-expensive-transform (the char_shingles note):
    # the raw corpus is a couple of sub-split parquet files, but span
    # explosion expands it ~wordcount× and is CPU-bound — spread it
    # over every core before the interpreted HOF work runs, sized
    # from the corpus bytes (spread_partitions: a fixed 32-way spread
    # spills the expanded sort at the 1.25M-doc tier).
    from .dedup import spread_partitions

    d = spread_partitions(load_table(spark, sf_dir, "documents"), "doc_id")
    ws = F.split(F.col("text"), " ")
    # spans are ~60-byte strings; the frequency shuffle and the join
    # back only need equality, so ship 8-byte xxhash64 keys instead
    # (collision odds ~(n_spans)^2 / 2^64 — immaterial to the scores)
    # and persist: the span relation feeds both the frequency count
    # and the score join.
    sp = (
        d.select("doc_id", ws.alias("w"))
        .filter(F.size("w") >= 10)
        .select(
            "doc_id",
            F.explode(F.array_distinct(sliding_ngrams("w", 10))).alias(
                "span_str"
            ),
        )
        .select("doc_id", F.xxhash64("span_str").alias("span"))
        .persist()
    )
    freq = sp.groupBy("span").agg(F.count_distinct("doc_id").alias("ndocs"))
    dup = F.count_if(F.col("ndocs") > 1)
    return (
        sp.join(freq, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            F.round(dup * 1.0 / F.count("*"), 4).alias("dup_span_frac"),
            (dup * 1.0 / F.count("*") > 0.5).alias("mostly_boilerplate"),
        )
    )


@query(
    "text_char_entropy_filter",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS c
      FROM documents
      CROSS JOIN LATERAL (SELECT unnest(range(1, LENGTH(text) + 1)) AS i)),
    freq AS (
      SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c),
    tot AS (SELECT doc_id, SUM(n) AS t FROM freq GROUP BY doc_id),
    agg AS (
      SELECT f.doc_id, -SUM((n * 1.0 / t) * LN(n * 1.0 / t)) AS h
      FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id)
    SELECT doc_id, ROUND(h, 4) AS char_entropy,
           (h BETWEEN 2.0 AND 6.0) AS keep
    FROM agg
    """,
)
def text_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish filter: Shannon entropy of the
    per-document character distribution. Degenerate docs sit at the
    extremes — near 0 for repeated-character junk ('aaaa…'), near
    log2(alphabet) ≈ 4.7+ nats for uniform random bytes / base64 blobs
    — while natural language lands in a stable mid band; the keep flag
    applies the standard [2.0, 6.0] nat window.

    Scale: one map-side character explode → groupBy(doc, char) with
    partial aggregation (the wire carries per-doc char histograms,
    ≤ ~100 rows/doc regardless of doc length) → per-doc entropy fold.
    Same shape as text_stats: embarrassingly parallel, one shuffle."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    chars = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.col("text").substr(i, F.lit(1)),
            )
        ).alias("c"),
    )
    freq = chars.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    tot = F.sum("n").over(W.partitionBy("doc_id"))
    p = F.col("n") / tot
    ent = freq.select("doc_id", (p * F.log(p)).alias("plogp"))
    h = -F.sum("plogp")
    return ent.groupBy("doc_id").agg(
        F.round(h, 4).alias("char_entropy"),
        ((h >= 2.0) & (h <= 6.0)).alias("keep"),
    )


def corpus_report(quality: DataFrame, final: DataFrame) -> DataFrame:
    """The corpus-prep funnel report, one row per source: docs in,
    docs past the quality gate (q ≥ 0.6), docs past dedup and their
    whitespace-token total. `quality` holds (doc_id, source, q) for
    every document, `final` (doc_id, nw) for each survivor of the
    dedup, nw its whitespace-token count. One left join on doc_id and
    one groupBy(source). Callers: llm_corpus_prepare,
    llm_corpus_prepare_lsh."""
    return (
        quality.alias("q")
        .join(final.alias("f"), "doc_id", "left")
        .groupBy(F.col("q.source").alias("source"))
        .agg(
            F.count("*").cast("long").alias("docs_in"),
            F.count(F.when(F.col("q.q") >= 0.6, 1)).cast("long").alias("docs_quality"),
            F.count("f.nw").cast("long").alias("docs_final"),
            F.coalesce(F.sum("f.nw"), F.lit(0)).cast("long").alias("ws_tokens_final"),
        )
    )


@query(
    "llm_corpus_prepare",
    scale_twin="llm_corpus_prepare_lsh",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, source, text,
             CASE WHEN LENGTH(text) BETWEEN 100 AND 400 THEN 1.0 ELSE 0.5 END
           * CASE WHEN LENGTH(string_split(text, ' ')) >= 20 THEN 1.0 ELSE 0.6 END
           * CASE WHEN CAST(LENGTH(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
                       / LENGTH(text) < 0.1 THEN 1.0 ELSE 0.7 END AS q
      FROM documents),
    kept_q AS (SELECT * FROM quality WHERE q >= 0.6),
    idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(LENGTH(text) - 4, 1))) AS i
      FROM kept_q),
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS g FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6),
    final AS (
      SELECT k.* FROM kept_q k LEFT JOIN dups d USING (doc_id)
      WHERE d.doc_id IS NULL)
    SELECT q.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(COUNT(*) FILTER (WHERE q.q >= 0.6) AS BIGINT) AS docs_quality,
           CAST(COUNT(f.doc_id) AS BIGINT) AS docs_final,
           CAST(COALESCE(SUM(LENGTH(string_split(f.text, ' '))), 0) AS BIGINT)
             AS ws_tokens_final
    FROM quality q LEFT JOIN final f USING (doc_id)
    GROUP BY q.source
    """,
)
def llm_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation — the composition the
    individual operators exist for, as ONE oracle-checked funnel:

      1. heuristic quality gate (text_quality_score formula, keep
         q ≥ 0.6),
      2. near-duplicate removal over the survivors (exact n-gram
         Jaccard ≥ 0.6; keep-first policy — any doc appearing as the
         higher id of a near-dup pair is dropped), using the same
         shingle machinery as dedup_ngram_jaccard,
      3. per-source funnel report (`corpus_report`): docs in → past
         quality → past dedup → surviving whitespace-token budget.

    At 100 TB step 2 swaps to dedup_minhash_lsh candidates (same
    output contract, sub-quadratic) — the exact form here is what
    makes the whole funnel oracle-checkable end to end; every stage is
    also available and tested as a standalone operator.

    Scale: the funnel is a strict narrowing — quality is map-only,
    dedup runs on the reduced survivor set, and the report is one
    groupBy(source). Nothing rescans the raw corpus more than the
    shingle pass."""
    from .text_analysis import quality_score

    d = load_table(spark, sf_dir, "documents")
    quality = d.select("doc_id", "source", "text", quality_score().alias("q"))
    kept_q = quality.filter(F.col("q") >= 0.6)

    # near-dup pairs over the quality survivors (shingle → equi-join on
    # gram → Jaccard); persist shingles: they feed sizes AND both join
    # sides
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))),
            lambda i: F.col("text").substr(i, F.lit(5)),
        )
    )
    from .dedup import _exact_jaccard, blocked_jaccard_pairs, spread_partitions

    sh = spread_partitions(kept_q, "doc_id").select(
        "doc_id", F.explode(grams).alias("g")
    )
    # blocked-matmul exact Jaccard (the dedup_ngram_jaccard machinery —
    # the (doc, gram) equi-join it replaces is quadratic in disguise on
    # this dense corpus); ratio re-derived from integer counts in SQL

    pairs = blocked_jaccard_pairs(spark, sh, 0.6)
    dups = (
        pairs.filter(_exact_jaccard() >= 0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = kept_q.join(dups, "doc_id", "left_anti")
    return corpus_report(
        quality, final.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("nw"))
    )


@query("text_compression_ratio")  # zlib not in DuckDB → rows-only check
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter: deflate each document and
    score it by compressed/raw byte ratio — the corpus-hygiene signal
    used alongside repetition and entropy filters in published
    pipelines (Gopher's quality heuristics, Dolma's doc-level filters).
    Boilerplate and templated spam compress far below natural language;
    random/base64 blobs refuse to compress at all. Flags both tails:
    ratio < 0.3 (degenerate repetition) or > 1.0 (incompressible).

    No DuckDB oracle (no deflate function there) — invariants are
    property-tested instead (tests/test_llm_ops.py): repeated-token
    docs score strictly below shuffled-vocabulary docs, the ratio is
    positive and bounded, and two evaluations agree exactly.

    Scale: a scalar Arrow-batched pandas_udf (zlib is C-speed, ~100
    MB/s/core) — map-only, no shuffle, no driver involvement; the only
    cross-language cost is the Arrow text batch, which any Python
    scoring pass pays.
    """
    @F.pandas_udf("long")
    def _deflated_len(texts: pd.Series) -> pd.Series:
        import zlib

        # level 6 = zlib default; fixed so the score is stable
        return texts.fillna("").map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        ).astype("int64")

    d = load_table(spark, sf_dir, "documents")
    ratio = F.col("comp_bytes") / F.greatest(F.col("n_bytes"), F.lit(1))
    return (
        d.select(
            "doc_id",
            # raw size stays JVM-side; only the deflate crosses to Python
            F.octet_length("text").cast("long").alias("n_bytes"),
            _deflated_len(F.col("text")).alias("comp_bytes"),
        )
        .select(
            "doc_id",
            "n_bytes",
            "comp_bytes",
            F.round(ratio, 4).alias("comp_ratio"),
            ((ratio < 0.3) | (ratio > 1.0)).alias("flagged"),
        )
    )


@query(
    "text_corpus_overlap",
    oracle="""
    WITH w AS (
      SELECT source, string_split(lower(text), ' ') AS ws
      FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3')),
    g AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(ws) - 1), i ->
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM w WHERE len(ws) >= 3),
    sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b,
           CAST(n_shared AS BIGINT)            AS n_shared,
           CAST(sa.n AS BIGINT)                AS n_grams_a,
           ROUND(CAST(n_shared AS DOUBLE) / sa.n, 6) AS overlap_frac
    FROM inter JOIN sizes sa ON sa.source = inter.src_a
    """,
)
def text_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination matrix: for every ordered pair of
    sources, the fraction of source A's distinct word-3-grams that also
    occur in source B — the pre-mixing audit that catches one corpus
    being a near-copy or superset of another before both are weighted
    into a training run (text_contamination_ngram is the doc-vs-
    benchmark form; this is corpus-vs-corpus).

    Scale: grams are deduped per source FIRST (one shuffle on
    (source, gram) — the big shrink), then the pair counts come from a
    single self-equi-join on gram: each gram contributes
    |sources containing it|² pair rows, bounded by the source count,
    never by corpus size. Per-source gram totals broadcast back. The
    4-source slice bounds the report, not the algorithm — the same
    plan runs over any source count, and a real deployment would
    pre-hash grams to fixed-width ints (dedup.py's shingle hashing)
    to shrink the shuffle payload."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    ws = F.split(F.lower(F.col("text")), " ")
    # zipped shifted slices, not transform(sequence, i -> element_at):
    # a lambda referencing the word array gets split(lower(text))
    # inlined and re-evaluated per ELEMENT (the ngram_util lesson —
    # measured 53 s at the 250k twin in this exact shape)
    grams = (
        d.select("source", ws.alias("w"))
        .filter(F.size("w") >= 3)
        .select("source", F.explode(sliding_structs("w", 3)).alias("g"))
        .select(
            "source",
            F.concat_ws(" ", "g.w0", "g.w1", "g.w2").alias("gram"),
        )
        .distinct()
        # three consumers (sizes + both join sides) — without the
        # persist the gram build and its dedup shuffle run three times
        .persist()
    )
    sizes = grams.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "gram")
    b = grams.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b, ["gram"])
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return inter.join(
        F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_grams_a"))),
        "src_a",
    ).select(
        "src_a",
        "src_b",
        "n_shared",
        "n_grams_a",
        F.round(F.col("n_shared").cast("double") / F.col("n_grams_a"), 6).alias(
            "overlap_frac"
        ),
    )


# --------------------------------------- in-engine trained quality probe ----

_PROBE_LR = 0.1


@query(
    "text_quality_linear_probe",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             len(string_split(text, ' ')) / 100.0 AS x1,
             CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) / 10.0 AS x2,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS x3
      FROM documents),
    n AS (SELECT COUNT(*) AS n FROM f),
    g1 AS (SELECT
        CAST(SUM(CAST((0.0 - y) * x0 AS DECIMAL(30,12))) AS DOUBLE) AS g0,
        CAST(SUM(CAST((0.0 - y) * x1 AS DECIMAL(30,12))) AS DOUBLE) AS g1,
        CAST(SUM(CAST((0.0 - y) * x2 AS DECIMAL(30,12))) AS DOUBLE) AS g2,
        CAST(SUM(CAST((0.0 - y) * x3 AS DECIMAL(30,12))) AS DOUBLE) AS g3
      FROM f),
    w1 AS (SELECT
        0.0 - {_PROBE_LR} * g1.g0 / n.n AS w0,
        0.0 - {_PROBE_LR} * g1.g1 / n.n AS w1,
        0.0 - {_PROBE_LR} * g1.g2 / n.n AS w2,
        0.0 - {_PROBE_LR} * g1.g3 / n.n AS w3
      FROM g1, n),
    r2 AS (SELECT f.*,
             w1.w0 * x0 + w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3 - y AS r
           FROM f, w1),
    g2 AS (SELECT
        CAST(SUM(CAST(r * x0 AS DECIMAL(30,12))) AS DOUBLE) AS g0,
        CAST(SUM(CAST(r * x1 AS DECIMAL(30,12))) AS DOUBLE) AS g1,
        CAST(SUM(CAST(r * x2 AS DECIMAL(30,12))) AS DOUBLE) AS g2,
        CAST(SUM(CAST(r * x3 AS DECIMAL(30,12))) AS DOUBLE) AS g3
      FROM r2),
    w2 AS (SELECT
        w1.w0 - {_PROBE_LR} * g2.g0 / n.n AS w0,
        w1.w1 - {_PROBE_LR} * g2.g1 / n.n AS w1,
        w1.w2 - {_PROBE_LR} * g2.g2 / n.n AS w2,
        w1.w3 - {_PROBE_LR} * g2.g3 / n.n AS w3
      FROM w1, g2, n)
    SELECT 'intercept' AS feature, ROUND(w0, 6) AS weight FROM w2
    UNION ALL SELECT 'words_per_100', ROUND(w1, 6) FROM w2
    UNION ALL SELECT 'avg_word_len', ROUND(w2, 6) FROM w2
    UNION ALL SELECT 'type_token_ratio', ROUND(w3, 6) FROM w2
    """,
)
def text_quality_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier training INSIDE the engine: a linear probe
    (fastText-style shallow quality filter, squared loss) fit with two
    unrolled full-batch gradient-descent steps over per-document text
    features — the CCNet/DCLM pattern of training the filter on the
    corpus being filtered, expressed as pure aggregations. Label: the
    doc's lang=='en' flag (stand-in for any weak-supervision signal);
    features: word count, scaled average word length, type-token ratio.

    Determinism: every gradient component is Σᵢ rᵢ·xᵢⱼ with each term
    cast to DECIMAL(30,12) before the sum — order-independent, so both
    engines derive bit-identical weights; all remaining arithmetic is
    IEEE-deterministic (no exp/log — squared loss, not logistic —
    precisely so the oracle can check the trained weights).

    Scale: each GD step is ONE full scan producing a 4-number
    gradient (map-side partial aggregation), and the weight vector
    stays a 1-row broadcast DataFrame — no driver collect, no
    per-row Python. At 100 TB a step is a single pass; more features
    widen the aggregate, not the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    nw = F.size(F.split(F.col("text"), " "))
    feats = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        F.lit(1.0).alias("x0"),
        (nw / F.lit(100.0)).alias("x1"),
        ((F.length("text") - (nw - F.lit(1))).cast("double") / nw / F.lit(10.0)).alias("x2"),
        (
            F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("double") / nw
        ).alias("x3"),
    )
    xs = ["x0", "x1", "x2", "x3"]
    n1 = feats.agg(F.count("*").alias("n"))

    def grads(df: DataFrame, r) -> DataFrame:
        return df.agg(
            *[
                F.sum((r * F.col(x)).cast("decimal(30,12)"))
                .cast("double")
                .alias(f"g{j}")
                for j, x in enumerate(xs)
            ]
        )

    g1 = grads(feats, F.lit(0.0) - F.col("y"))
    w1 = g1.crossJoin(n1).select(
        *[
            (F.lit(0.0) - F.lit(_PROBE_LR) * F.col(f"g{j}") / F.col("n")).alias(f"w{j}")
            for j in range(4)
        ]
    )
    r = (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
        - F.col("y")
    )
    g2 = grads(feats.crossJoin(F.broadcast(w1)), r)
    w2 = (
        w1.crossJoin(g2)
        .crossJoin(n1)
        .select(
            *[
                (F.col(f"w{j}") - F.lit(_PROBE_LR) * F.col(f"g{j}") / F.col("n")).alias(
                    f"w{j}"
                )
                for j in range(4)
            ]
        )
    )
    names = ["intercept", "words_per_100", "avg_word_len", "type_token_ratio"]
    packed = F.array(
        *[
            F.struct(F.lit(names[j]).alias("feature"), F.round(F.col(f"w{j}"), 6).alias("weight"))
            for j in range(4)
        ]
    )
    return w2.select(F.explode(packed).alias("kv")).select("kv.feature", "kv.weight")


# ------------------------------------------- Kneser-Ney bigram LM ----

_KN_D = 0.75  # absolute discount


@query(
    "text_bigram_kn_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      WHERE len(ws) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c) AS n, COUNT(*) AS types_fw FROM c12 GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS types_bw FROM c12 GROUP BY w2),
    npairs AS (SELECT COUNT(*) AS n_types FROM c12),
    p AS (
      SELECT c12.w1, c12.w2,
             (GREATEST(c12.c - {_KN_D}, 0.0)
              + {_KN_D} * c1.types_fw * (CAST(cont.types_bw AS DOUBLE) / npairs.n_types))
             / c1.n AS pkn
      FROM c12
      JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN npairs)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(pkn)), 4) AS avg_logp_kn,
           AVG(LN(pkn)) < -6.0 AS low_quality
    FROM bg JOIN p USING (w1, w2)
    GROUP BY bg.doc_id
    """,
)
def text_bigram_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 — the smoothing KenLM implements and every
    CCNet-style perplexity filter depends on): absolute-discount the
    bigram count and back off to the CONTINUATION unigram — how many
    distinct contexts a word follows, not how often it occurs — the
    correction that stops high-frequency-but-fixed-context words
    ('Francisco') from inflating backoff mass. Trained on the corpus
    being scored, like text_bigram_lm_score's add-one model; the two
    scores side by side show the smoothing choice is orthogonal to
    the plan shape.

    Scale: counts are vocabulary-bounded aggregates; the model tables
    (bigram types, first-word totals, continuation counts) broadcast
    via maybe_broadcast — at web scale the bigram-type table outgrows
    broadcast and the same joins run shuffled on the word keys. One
    (doc, bigram) stream pass scores the corpus."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    ws = F.split(F.col("text"), " ")
    bg = (
        d.select("doc_id", ws.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(sliding_structs("w", 2)).alias("b"))
        .select(
            "doc_id",
            F.col("b.w0").alias("w1"),
            F.col("b.w1").alias("w2"),
        )
        .persist()
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("n"), F.count("*").alias("types_fw"))
    cont = c12.groupBy("w2").agg(F.count("*").alias("types_bw"))
    npairs = c12.agg(F.count("*").alias("n_types"))
    pkn = (
        F.greatest(F.col("c") - _KN_D, F.lit(0.0))
        + _KN_D
        * F.col("types_fw")
        * (F.col("types_bw").cast("double") / F.col("n_types"))
    ) / F.col("n")
    p = (
        c12.join(maybe_broadcast(c1), "w1")
        .join(maybe_broadcast(cont), "w2")
        .join(F.broadcast(npairs))
        .select("w1", "w2", pkn.alias("pkn"))
    )
    return (
        bg.join(maybe_broadcast(p), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log("pkn")), 4).alias("avg_logp_kn"),
            (F.avg(F.log("pkn")) < -6.0).alias("low_quality"),
        )
    )


@query("llm_corpus_prepare_lsh", headline=True)  # rows-only check
# headline: the end-to-end production composition (quality gate +
# banded dedup + funnel report) — the llm-pipeline counterpart of
# dedup_clusters_lsh in the bench set
def llm_corpus_prepare_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep funnel at production scale: identical quality
    gate and keep-first dedup policy as `llm_corpus_prepare`, but the
    near-dup pairs come from the banded-MinHash mine-and-verify core
    (`dedup.minhash_verified_pairs` — O(docs × bands + collisions))
    instead of the exact blocked all-pairs intersection (Θ(n²/B),
    which is why the exact form is scale-twin-fenced to this one).
    Pairs are exact-verified (J ≥ 0.6 on true shingle sets), so
    precision is 1.0 and only banding recall separates the two
    funnels — on the fixtures recall is 1.0 and the reports agree
    exactly (pytest-pinned), the same relationship dedup_clusters_lsh
    holds to dedup_clusters.

    Rows-only in the driver gate (banding recall < 1 is possible on
    adversarial corpora); the exact twin carries the DuckDB oracle."""
    from .dedup import minhash_verified_pairs
    from .text_analysis import quality_score

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    q = quality_score()
    # The gate's regexp pass is computed ONCE over the corpus and the
    # TEXT-FREE result persisted: the policy anti-join and the report
    # aggregate both ride this slim relation, so neither re-scans the
    # text bytes nor re-runs the regexp (measured at the 250k twin:
    # the report stage was 16.5 s of which most was two redundant
    # full-text gate passes). Only the shingle build still reads text
    # — it inlines the gate predicate into its own scan.
    slim = d.select("doc_id", "source", n_words.alias("nw"), q.alias("q")).persist()
    kept_q = d.select("doc_id", "text").where(q >= 0.6)

    # same 5-char shingles as the exact funnel, over the survivors
    # (shingles_of — gid-encoded at the source like every MinHash path)
    from .dedup import shingles_of, spread_partitions

    sh = shingles_of(spread_partitions(kept_q, "doc_id"))
    pairs = minhash_verified_pairs(sh)  # doc_a < doc_b, jaccard >= 0.6
    dups = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    final = slim.filter(F.col("q") >= 0.6).join(dups, "doc_id", "left_anti")
    return corpus_report(slim, final.select("doc_id", "nw"))
