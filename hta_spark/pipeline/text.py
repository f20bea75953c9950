"""Text analysis operators: language-ID (stopword n-gram heuristic),
quality scoring, token counting, document fingerprinting.

Declarative only (no UDFs): tokenization with split/lower, scoring with
higher-order array functions — all whole-stage-codegen'd, reproducible in
SQL for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text, shingles_from_tokens, tokens_col

__all__ = ["LANG_MARKERS", "language_id", "quality_score", "token_stats",
           "fingerprint", "repetition_stats", "strip_boilerplate_lines",
           "tfidf_terms"]

# tiny deterministic stopword marker lists (order = tie-break priority)
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "and", "of", "to", "is", "a"],
    "es": ["el", "la", "los", "y", "es", "que"],
    "fr": ["le", "la", "les", "et", "est", "que"],
}


def _score(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-doc stopword-marker scores and the predicted language
    (max score, ties broken alphabetically, all-zero -> 'und')."""
    toks = tokens_col(F.col(text_col))
    out = docs.select(F.col(id_col), toks.alias("_toks"))
    for lang, words in LANG_MARKERS.items():
        out = out.withColumn(f"score_{lang}", _score(F.col("_toks"), words))
    best = None
    for lang in sorted(LANG_MARKERS):        # alphabetical tie-break
        c = F.col(f"score_{lang}")
        if best is None:
            best = F.struct(c.alias("s"), F.lit(lang).alias("l"))
        else:
            best = F.when(c > best["s"],
                          F.struct(c.alias("s"), F.lit(lang).alias("l"))) \
                    .otherwise(best)
    pred = F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
    return out.withColumn("predicted", pred).drop("_toks")


def token_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    toks = tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(normalize_text(F.col(text_col))).alias("n_chars"),
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality heuristics: length, lexical diversity,
    mean token length, stopword ratio; combined score in [0, 1]-ish."""
    toks = tokens_col(F.col(text_col))
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    n_chars = F.length(normalize_text(F.col(text_col)))
    en = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    ttr = n_dis.cast("double") / n_tok.cast("double")
    mean_tok_len = (n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double")
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    score = (F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
             + ttr * 0.4 + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.2)
    return docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(ttr, 4).alias("type_token_ratio"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition quality signals (the boilerplate/spam filters of
    large-corpus curation): duplicate-token fraction, most-common-token
    dominance, duplicate word-3-gram fraction.

    Token dominance runs as explode + two grouped aggregations — linear
    work at any document length and partial-aggregated map-side (a per-row
    ``transform(distinct, count-equal)`` array scan would be
    O(distinct x len) per document: quadratic on long documents).
    """
    toks = tokens_col(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_t")) \
        .withColumn("_s", shingles_from_tokens(F.col("_t"), 3))
    per_tok = (base.select(id_col, F.explode("_t").alias("tok"))
               .groupBy(id_col, "tok").agg(F.count("*").alias("c"))
               .groupBy(id_col).agg(
                   F.sum("c").cast("long").alias("n_tokens"),
                   F.count("*").cast("long").alias("n_distinct"),
                   F.max("c").cast("long").alias("_top")))
    sh = base.select(
        F.col(id_col),
        F.size("_s").alias("_ns"),
        F.size(F.array_distinct("_s")).alias("_nds"))
    n_tok = F.col("n_tokens").cast("double")
    dup_sh = F.when(F.col("_ns") > 0,
                    1 - F.col("_nds").cast("double") / F.col("_ns")) \
        .otherwise(F.lit(0.0))
    return (per_tok.join(sh, id_col)
            .select(F.col(id_col), "n_tokens",
                    F.round(1 - F.col("n_distinct") / n_tok, 4)
                    .alias("dup_token_frac"),
                    F.round(F.col("_top") / n_tok, 4).alias("top_token_frac"),
                    F.round(dup_sh, 4).alias("dup_shingle_frac")))


def tfidf_terms(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", top: int = 3) -> DataFrame:
    """Per-document top-``top`` characteristic terms by rarity-weighted
    term frequency: ``score = tf * (N - df + 0.5) / (df + 0.5)`` (the
    BM25 idf RATIO, deliberately without the log).

    The log-free form is cross-engine exact: tf/df/N are integers and
    IEEE +, /, * are exactly rounded, so the score double is
    bit-identical in any engine — ``ln`` would differ in the last ulp
    across libms and poison the rank tie-break (the r8 round()-tie
    lesson).  Ranking by (score desc, term asc) is therefore fully
    deterministic.  The score is emitted UNROUNDED (ADVICE r10):
    rounding the non-dyadic quotient to 4 decimals is exactly the
    cross-engine-unstable pattern the _fix3/_r4 queries hit — a value on
    a rounding boundary could flip both the emitted score and the rank
    between engines, while the raw double never can.

    Scale shape: one token explode -> per-(doc, term) counts (map-side
    combined), a vocab-sized df table joined on term (uniform key), the
    corpus size N as a 1-row broadcast crossJoin (no window-over-
    everything), and the per-doc top-k as a row_number window that
    compiles to WindowGroupLimit — no stage touches more than the token
    stream once."""
    from pyspark.sql import Window

    toks = (docs.select(F.col(id_col), tokens_col(F.col(text_col))
                        .alias("_t"))
            .select(F.col(id_col), F.explode("_t").alias("term")))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_tab = (toks.select(id_col, "term").distinct()
              .groupBy("term").agg(F.count("*").alias("df")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(df_tab, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5)
                          / (F.col("df") + 0.5)))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= F.lit(int(top)))
            .select(id_col, "term", "score", "rank"))


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 of the whitespace-normalized lowercase text
    plus a coarse 16-bit bucket for partition-friendly grouping."""
    norm = F.regexp_replace(normalize_text(F.col(text_col)), r"\s+", " ")
    h = F.md5(norm)
    return docs.select(
        F.col(id_col),
        h.alias("fp_md5"),
        F.conv(F.substring(h, 1, 4), 16, 10).cast("int").alias("fp_bucket"),
    )


def strip_boilerplate_lines(docs: DataFrame, max_line_df: int = 64,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            line_sep: str = "\n") -> DataFrame:
    """LINE-level boilerplate removal (the CCNet / RefinedWeb curation
    step): a trimmed line appearing in more than ``max_line_df``
    DISTINCT documents is boilerplate — navigation chrome, cookie
    banners, license footers — and every occurrence of it is removed;
    the remaining lines reassemble in original order.  The
    document-level complement of :func:`~hta_spark.pipeline.dedup
    .ngram_jaccard_pairs`'s ``on_hot="drop"`` (that strips hot
    SHINGLES from the similarity universe; this strips hot LINES from
    the TEXT itself, upstream of every downstream operator).

    Output: the input columns with ``text_col`` rewritten, plus
    ``n_lines`` (original line count) and ``n_removed``.  A document
    whose lines are all boilerplate keeps its row with empty text.
    NULL text is NULL-in -> NULL-out: the row passes through with
    ``text = NULL`` and ``n_lines = n_removed = NULL``.
    Ubiquitous blank lines count like any other trimmed line, so they
    collapse once the corpus exceeds ``max_line_df`` — the usual
    curation outcome.  The kept text is a pure function of the corpus
    line-frequency table: rerun/backfill-stable, partition-invariant.

    ``id_col`` must be unique per row and non-NULL: the kept lines
    regroup on it and join back to ``docs`` on it, so rows sharing an
    id mix their lines, and a NULL id with non-NULL text fails the
    action that runs the strip (an executor-side error naming
    ``id_col``).

    Scale shape — one lazy plan, no planner job: the line df is
    counted over the per-document-DISTINCT line stream
    (``array_distinct`` map-side, so a line repeated inside one
    document counts once and never shuffles as a duplicate); lines
    explode with positions, drop by a LEFT ANTI join on the hot-line
    frame, and documents reassemble with one grouped
    ``array_sort(collect_list(struct))`` — three keyed shuffles of the
    line stream (line df, anti join, doc regroup; the anti join is a
    broadcast instead when the hot frame is small), then one
    ``id_col``-keyed join back to ``docs``.  An in-row broadcast
    hash-table probe of the hot set was slower than this plan at every
    measured hot-set size (10^3 to 10^5 hot lines over 10^6 corpus
    lines)."""
    import re as _re

    lines_arr = F.split(F.col(text_col), _re.escape(line_sep), -1)
    norm_arr = F.array_distinct(
        F.transform(lines_arr, lambda x: F.trim(x)))
    hot = (docs.select(F.explode(norm_arr).alias("_norm"))
           .groupBy("_norm")
           .agg(F.count(F.lit(1)).alias("_df"))
           .filter(F.col("_df") > F.lit(int(max_line_df)))
           .select("_norm"))
    # a NULL id would regroup with nothing and come back as text='':
    # fail the task instead, naming the column
    ex = docs.select(
        F.coalesce(F.col(id_col), F.raise_error(F.lit(
            f"strip_boilerplate_lines: NULL {id_col!r}; the id column "
            "must be unique and non-NULL"))).alias("_id"),
        F.posexplode(lines_arr).alias("_pos", "_line"))
    kept = (ex.withColumn("_norm", F.trim(F.col("_line")))
            .join(hot, "_norm", "left_anti")
            .groupBy("_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"]).alias("_klines")))
    joined = docs.join(
        kept.select(F.col("_id").alias(id_col),
                    F.array_join("_klines", line_sep).alias("_ktext"),
                    F.size("_klines").cast("long").alias("_nkept")),
        id_col, "left")
    n_lines = F.size(lines_arr).cast("long")
    nkept = F.coalesce(F.col("_nkept"), F.lit(0).cast("long"))
    # a NULL-text doc explodes to no lines, so the regroup misses it:
    # without the guard the coalesce would rewrite its text to ''
    ktext = F.when(F.col(text_col).isNotNull(),
                   F.coalesce(F.col("_ktext"), F.lit("")))
    return joined.select(
        *[c if c != text_col else ktext.alias(text_col)
          for c in docs.columns],
        n_lines.alias("n_lines"),
        (n_lines - nkept).alias("n_removed"))
