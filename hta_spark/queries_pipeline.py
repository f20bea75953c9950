"""Training-data pipeline queries (dedup / similarity / text analysis) on
the ``documents`` and ``embeddings`` tables, paired with DuckDB oracle SQL.

Engine-parity conventions:
- all hashes are md5-derived (both engines agree bit-for-bit);
- tokenization is split-on-single-space over lower(trim(text));
- float embeddings are widened to double before any arithmetic;
- similarity values rounded before ordering so ties break identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .pipeline.ann import cosine_topk, ivf_assign
from .pipeline.dedup import (connected_components, exact_dedup, lsh_pairs,
                             minhash_signatures, ngram_jaccard_pairs,
                             prefix_dedup, simhash)
from .pipeline.sample import stratified_sample
from .pipeline.text import (LANG_MARKERS, fingerprint, language_id,
                            quality_score, repetition_stats, token_stats)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# shared SQL snippets ------------------------------------------------------

SQL_TOKS = ("SELECT doc_id, string_split(lower(trim(text)), ' ') AS t "
            "FROM documents")

SQL_SHINGLES = f"""
toks AS ({SQL_TOKS}),
sh AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shs
  FROM toks WHERE len(t) >= 3
),
ex AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM sh)
"""


# -- exact dedup ------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS content_hash,
       min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


# -- prefix near-dedup ------------------------------------------------------

def q_dedup_prefix(spark, sf_dir):
    return prefix_dedup(_docs(spark, sf_dir), n_tokens=5)


SQL_DEDUP_PREFIX = f"""
WITH toks AS ({SQL_TOKS})
SELECT array_to_string(t[1:5], ' ') AS prefix_key,
       min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_docs
FROM toks GROUP BY 1
"""


# -- n-gram jaccard pairs ---------------------------------------------------

def q_ngram_jaccard(spark, sf_dir):
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), shingle_n=3, min_shared=2)
    return pairs.orderBy(F.desc("jaccard"), "a", "b").limit(50)


SQL_NGRAM_JACCARD = f"""
WITH {SQL_SHINGLES},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
shared AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT s.a, s.b, round(s.shared / (sa.sz + sb.sz - s.shared), 4) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
ORDER BY jaccard DESC, s.a, s.b LIMIT 50
"""


# -- n-gram jaccard, boilerplate-strip arm (r13) ----------------------------
#
# VERDICT r12 missing #1: the max_df guard refused hot shingles but no
# operator acted on the refusal.  This query plants a boilerplate footer
# on 40% of the corpus (df far past the cap) and runs on_hot='drop': the
# footer shingles are stripped from the shingle universe BEFORE pairing,
# Jaccard (sizes included) is over the remaining rare-shingle sets, and
# the oracle restates exactly that changed definition.

HOTDROP_MAX_DF = 64
HOTDROP_FOOTER = ("all rights reserved by example corp "
                  "redistribution is prohibited")


def q_ngram_jaccard_hotdrop(spark, sf_dir):
    from .pipeline.dedup import ngram_jaccard_pairs
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 < 2,
               F.concat(F.col("text"), F.lit(" " + HOTDROP_FOOTER)))
         .otherwise(F.col("text")))
    pairs = ngram_jaccard_pairs(docs, shingle_n=3, min_shared=2,
                                max_df=HOTDROP_MAX_DF, on_hot="drop")
    return pairs.orderBy(F.desc("jaccard"), "a", "b").limit(50)


SQL_NGRAM_JACCARD_HOTDROP = f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 < 2
              THEN text || ' {HOTDROP_FOOTER}' ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
         FROM docs2),
sh AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shs
  FROM toks WHERE len(t) >= 3
),
ex0 AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM sh),
ex AS (
  SELECT * FROM ex0
  WHERE sh IN (SELECT sh FROM ex0 GROUP BY sh
               HAVING count(*) <= {HOTDROP_MAX_DF})
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
shared AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT s.a, s.b, round(s.shared / (sa.sz + sb.sz - s.shared), 4) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
ORDER BY jaccard DESC, s.a, s.b LIMIT 50
"""


# -- minhash + LSH candidate pairs ------------------------------------------

MINHASH_K = 8
LSH_ROWS_PER_BAND = 2


def q_minhash_lsh(spark, sf_dir):
    sigs = minhash_signatures(_docs(spark, sf_dir), k=MINHASH_K, shingle_n=3)
    pairs = lsh_pairs(sigs, k=MINHASH_K, rows_per_band=LSH_ROWS_PER_BAND)
    return pairs.orderBy("a", "b")


def _sql_minhash() -> str:
    # two 60-bit hashes per md5 digest (matches pipeline.dedup.minhash_signatures)
    hcols = ",\n         ".join(
        f"min(('0x' || substr(md5('{s // 2}|' || sh), {1 if s % 2 == 0 else 17}, 15))::BIGINT) AS mh_{s}"
        for s in range(MINHASH_K))
    bands = MINHASH_K // LSH_ROWS_PER_BAND
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id AS id, {b} AS band, "
        f"md5(mh_{b * LSH_ROWS_PER_BAND}::VARCHAR || ',' || "
        f"mh_{b * LSH_ROWS_PER_BAND + 1}::VARCHAR) AS bh FROM sigs"
        for b in range(bands))
    return f"""
WITH {SQL_SHINGLES},
sigs AS (
  SELECT doc_id,
         {hcols}
  FROM ex GROUP BY doc_id
),
buckets AS (
{band_rows}
)
SELECT DISTINCT l.id AS a, r.id AS b
FROM buckets l JOIN buckets r
  ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
ORDER BY a, b
"""


LSH_RECALL_THRESHOLD = 0.15


def q_lsh_recall(spark, sf_dir):
    """Recall of the banded-LSH candidate generator against the exact
    n-gram-Jaccard pairs above threshold — the dedup-path analog of
    ann_ivf_recall: the quality number that justifies running the
    bucketed scale path instead of the exact inverted-index join."""
    docs = _docs(spark, sf_dir)
    exact = (ngram_jaccard_pairs(docs, shingle_n=3, min_shared=2)
             .filter(F.col("jaccard") >= F.lit(LSH_RECALL_THRESHOLD))
             .select("a", "b"))
    sigs = minhash_signatures(docs, k=MINHASH_K, shingle_n=3)
    cand = lsh_pairs(sigs, k=MINHASH_K,
                     rows_per_band=LSH_ROWS_PER_BAND).select("a", "b")
    hit = exact.join(cand, ["a", "b"], "left_semi")
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (n_true.crossJoin(n_hit)
            .select("n_true", "n_hit",
                    F.when(F.col("n_true") > 0,
                           F.round(F.col("n_hit").cast("double")
                                   / F.col("n_true").cast("double"), 4))
                    .otherwise(F.lit(1.0)).alias("recall")))


def _sql_lsh_recall() -> str:
    base = _sql_minhash()
    # reuse the minhash chain up to `buckets`, drop its final SELECT
    chain = base[:base.index("\nSELECT DISTINCT")]
    return f"""{chain},
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
shared AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
exact AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE round(s.shared / (sa.sz + sb.sz - s.shared), 4)
        >= {LSH_RECALL_THRESHOLD}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_true,
       (SELECT CAST(count(*) AS BIGINT)
        FROM exact JOIN cand USING (a, b)) AS n_hit,
       CASE WHEN (SELECT count(*) FROM exact) > 0
            THEN round(CAST((SELECT count(*)
                             FROM exact JOIN cand USING (a, b)) AS DOUBLE)
                       / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4)
            ELSE 1.0 END AS recall
"""


SQL_LSH_RECALL = _sql_lsh_recall()


# -- simhash ---------------------------------------------------------------

def q_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir))        # 64-bit scale default


def _sql_simhash(bits: int = 64) -> str:
    """DuckDB twin of pipeline.dedup.simhash at any width — per-bit
    conditional-sum COLUMNS (the Spark formulation), not a bits-x row
    unnest, so the oracle stays linear in tokens at 64 bits.  Bit 63's
    power is the two's-complement literal, mirroring the Spark side."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN "
        + ("(-9223372036854775807 - 1)" if i == 63 else f"({1 << i}::BIGINT)")
        + " ELSE 0 END)"
        for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5('sim|' || tok), 1, 15))::BIGINT AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY 1
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
FROM votes
"""


SQL_SIMHASH = _sql_simhash()


# -- language id ------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


def _sql_lang_id() -> str:
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"CAST(len(list_filter(t, x -> x IN ({lst}))) AS INT) AS score_{lang}")
    scores = ",\n       ".join(score_cols)
    return f"""
WITH toks AS ({SQL_TOKS}),
s AS (
  SELECT doc_id,
       {scores}
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
            WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS predicted
FROM s
"""


# -- token stats / quality / fingerprint ------------------------------------

def q_token_stats(spark, sf_dir):
    return token_stats(_docs(spark, sf_dir))


SQL_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS INT) AS n_distinct,
       CAST(length(lower(trim(text))) AS INT) AS n_chars
FROM documents
"""


def q_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def _sql_quality() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t,
         length(lower(trim(text))) AS n_chars
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tok,
         len(list_distinct(t)) AS n_dis,
         n_chars,
         len(list_filter(t, x -> x IN ({en}))) AS n_stop
  FROM toks
)
SELECT doc_id, n_tok AS n_tokens,
       round(n_dis / CAST(n_tok AS DOUBLE), 4) AS type_token_ratio,
       round((n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE), 4) AS mean_token_len,
       round(n_stop / CAST(n_tok AS DOUBLE), 4) AS stopword_ratio,
       round(least(n_tok / 100.0, 1.0) * 0.4
             + (n_dis / CAST(n_tok AS DOUBLE)) * 0.4
             + least((n_stop / CAST(n_tok AS DOUBLE)) * 5.0, 1.0) * 0.2, 4) AS quality
FROM m
"""


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fp_md5,
       CAST(('0x' || substr(md5(norm), 1, 4))::INT AS INT) AS fp_bucket
FROM n
"""


# -- exact repeated-substring spans (r13) ------------------------------------
#
# repeated_span_stats is the fixed-window ExactSubstr form (Lee et al.
# 2022).  k=3 gives NATURAL cross-document repeats on this corpus (the
# vocabulary is small, so 3-gram windows genuinely collide), no
# synthesis needed; the oracle replays window hashing, the >= 2
# occurrence rule (within-doc repeats count), and the island merge.

SPAN_K = 3


def q_repeated_spans(spark, sf_dir):
    from .pipeline.dedup import repeated_span_stats
    return repeated_span_stats(_docs(spark, sf_dir).select("doc_id", "text"),
                               k=SPAN_K)


SQL_REPEATED_SPANS = f"""
WITH toks AS ({SQL_TOKS}),
sh AS (
  SELECT doc_id, len(t) AS ntok,
         CASE WHEN len(t) >= {SPAN_K}
              THEN list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS shs
  FROM toks
),
st AS (
  SELECT doc_id, generate_subscripts(shs, 1) - 1 AS pos,
         md5(unnest(shs)) AS h
  FROM sh
),
hot AS (SELECT h FROM st GROUP BY h HAVING count(*) >= 2),
mk AS (SELECT doc_id, pos FROM st WHERE h IN (SELECT h FROM hot)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {SPAN_K} THEN 1 ELSE 0 END AS f
  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K - 1} AS e
  FROM isl2 GROUP BY doc_id, g
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS covered
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(sh.ntok AS BIGINT) AS n_tokens,
       CAST(greatest(sh.ntok - {SPAN_K - 1}, 0) AS BIGINT) AS n_windows,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.covered, 0) AS covered_tokens,
       CASE WHEN sh.ntok > 0
            THEN round(COALESCE(a.covered, 0) / CAST(sh.ntok AS DOUBLE), 4)
            ELSE 0.0 END AS dup_span_frac
FROM documents d
JOIN sh ON sh.doc_id = d.doc_id
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


# -- repeated-span trim (r14) -------------------------------------------------
#
# trim_repeated_spans is the span-REMOVAL step that completes the
# ExactSubstr workflow (Lee et al. 2022's dedup ACTION — cut every
# repeated span, keep the corpus-first occurrence per window).  Same
# k=3 natural-collision regime as dedup_repeated_spans; the oracle
# replays keep-first (row_number over (doc_id, pos) per window hash),
# the island merge, and the token-level rewrite.


def q_trim_spans(spark, sf_dir):
    from .pipeline.dedup import trim_repeated_spans
    return trim_repeated_spans(_docs(spark, sf_dir).select("doc_id", "text"),
                               k=SPAN_K)


SQL_TRIM_SPANS = f"""
WITH toks AS ({SQL_TOKS}),
sh AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= {SPAN_K}
              THEN list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS shs
  FROM toks
),
st AS (
  SELECT doc_id, generate_subscripts(shs, 1) - 1 AS pos,
         md5(unnest(shs)) AS h
  FROM sh
),
rk AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS c,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM st
),
mk AS (SELECT doc_id, pos FROM rk WHERE c >= 2 AND rn > 1),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {SPAN_K} THEN 1 ELSE 0 END AS f
  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K - 1} AS e
  FROM isl2 GROUP BY doc_id, g
),
cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS p FROM spans
),
tokpos AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS p, unnest(t) AS tok
  FROM toks
),
keep AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
  WHERE cov.p IS NULL
),
o AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN t.t IS NULL THEN NULL
            ELSE COALESCE(o.text, '') END AS text,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN t.t IS NULL THEN NULL
                 ELSE len(t.t) - COALESCE(o.n_kept, 0) END
            AS BIGINT) AS n_trimmed
FROM toks t LEFT JOIN o USING (doc_id)
"""
# ^ NULL-text parity (ADVICE r14): trim_repeated_spans is NULL-in ->
# NULL-out, so the oracle must not coalesce a NULL-text doc to ''.
# The corpus has no NULL text today; this closes the latent mismatch
# the same way strip_boilerplate_lines passes NULL text through.


# -- line-level boilerplate strip (r13) --------------------------------------
#
# strip_boilerplate_lines is the CCNet/RefinedWeb repeated-line removal.
# The corpus text is single-line, so the query synthesizes the multi-line
# shape deterministically: 4-word lines via one global regexp_replace,
# then a nav header on even doc_ids and a license footer on 60% — both
# land far past max_line_df=64 at every sf while the body lines stay
# unique.  The oracle replays the synthesis and the model (per-doc
# DISTINCT trimmed lines -> df table -> hot set -> in-row list_filter).

STRIP_MAX_DF = 64
STRIP_NAV = "  home | about | contact  "
STRIP_FOOTER = "all rights reserved by example corp"


def _strip_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lined = F.regexp_replace(
        F.col("text"), r"(\S+ \S+ \S+ \S+) ", "$1\n")
    t = F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(STRIP_NAV + "\n"), lined)).otherwise(lined)
    t = F.when(F.col("doc_id") % 5 < 3,
               F.concat(t, F.lit("\n" + STRIP_FOOTER))).otherwise(t)
    return docs.select("doc_id", t.alias("text"))


def q_strip_boilerplate(spark, sf_dir):
    from .pipeline.text import strip_boilerplate_lines
    return strip_boilerplate_lines(_strip_docs(spark, sf_dir),
                                   max_line_df=STRIP_MAX_DF)


def q_strip_boilerplate_anti(spark, sf_dir):
    """The same corpus, call and oracle as ``q_strip_boilerplate``.
    ``strip_boilerplate_lines`` has one arm, the posexplode + left-anti
    + ordered-regroup plan, so both entries run it; this one stays a
    declared registry entry gated against the same oracle."""
    return q_strip_boilerplate(spark, sf_dir)


SQL_STRIP_BOILERPLATE = f"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+) ',
                        '\\1' || chr(10), 'g') AS t
  FROM documents
),
synth AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0
               THEN '{STRIP_NAV}' || chr(10) || t ELSE t END)
         || (CASE WHEN doc_id % 5 < 3
                  THEN chr(10) || '{STRIP_FOOTER}' ELSE '' END) AS text
  FROM lined
),
perdoc AS (
  SELECT DISTINCT doc_id, trim(l.x) AS norm
  FROM synth, unnest(string_split(text, chr(10))) AS l(x)
),
hot AS (
  SELECT COALESCE(list(norm), []) AS arr
  FROM (SELECT norm FROM perdoc GROUP BY 1
        HAVING count(*) > {STRIP_MAX_DF})
)
SELECT s.doc_id,
       array_to_string(
         list_filter(string_split(s.text, chr(10)),
                     x -> NOT list_contains(h.arr, trim(x))),
         chr(10)) AS text,
       CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(string_split(s.text, chr(10)))
            - len(list_filter(string_split(s.text, chr(10)),
                              x -> NOT list_contains(h.arr, trim(x))))
            AS BIGINT) AS n_removed
FROM synth s, hot h
"""


# -- embedding similarity ---------------------------------------------------

def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(emb, [float(x) for x in qv], k=10, exclude_ids=[0])


SQL_ANN_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 4)
           AS cos_sim
FROM embeddings WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ann_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in emb.filter(F.col("vec_id") < 10)
             .select("vec_id", "embedding").collect()]
    assigned = ivf_assign(emb, cents)
    return (assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("n_assigned"),
                 F.round(F.avg("centroid_sim"), 3).alias("mean_sim")))


SQL_ANN_IVF = """
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 10
),
a AS (
  SELECT e.vec_id, c.cid,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS s
  FROM embeddings e CROSS JOIN c
),
best AS (
  SELECT vec_id, cid, s,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
  FROM a
)
SELECT cid AS centroid_id, CAST(count(*) AS BIGINT) AS n_assigned,
       round(avg(s), 3) AS mean_sim
FROM best WHERE rk = 1 GROUP BY 1
"""


def q_ann_ivf_topk(spark, sf_dir):
    """Approximate top-k: probe the 2 max-cosine clusters of a seeded IVF
    quantizer, exact cosine within them."""
    from .pipeline.ann import ivf_topk
    emb = _emb(spark, sf_dir)
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in emb.filter(F.col("vec_id") < 10)
             .select("vec_id", "embedding").collect()]
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]]
    return ivf_topk(emb, cents, qv, k=10, nprobe=2)


SQL_ANN_IVF_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 10
),
probe AS (
  SELECT cid FROM (
    SELECT cid,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(cv, (SELECT qv FROM q)), 6) DESC,
                      cid) AS rk
    FROM c) t
  WHERE rk <= 2
),
a AS (
  SELECT e.vec_id, c.cid,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS s
  FROM embeddings e CROSS JOIN c
),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
    FROM a) t
  WHERE rk = 1
)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT qv FROM q)), 4)
           AS cos_sim
FROM embeddings e
JOIN best b ON e.vec_id = b.vec_id
WHERE b.cid IN (SELECT cid FROM probe)
ORDER BY cos_sim DESC, e.vec_id LIMIT 10
"""


def q_ann_ivf_recall(spark, sf_dir):
    """Recall@10 of the nprobe=2 IVF probe vs the exact top-10 for the
    seeded query vector — the quality metric that justifies (or rejects)
    an approximate-search deployment.  Both sides are already
    oracle-gated queries; this measures their overlap as exact integer
    counts + one division."""
    from .pipeline.ann import ivf_topk
    emb = _emb(spark, sf_dir)
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in emb.filter(F.col("vec_id") < 10)
             .select("vec_id", "embedding").collect()]
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]]
    # both sides exclude the query vector BEFORE the top-k: a post-limit
    # filter would let self (cos 1.0) consume an approx slot and cap
    # recall@10 at 0.9 structurally (review r4 finding)
    exact = cosine_topk(emb, qv, k=10, exclude_ids=[42]) \
        .select(F.col("vec_id"))
    approx = ivf_topk(emb, cents, qv, k=10, nprobe=2, exclude_ids=[42]) \
        .select(F.col("vec_id"))
    hit = exact.join(approx, "vec_id", "left_semi")
    return (exact.agg(F.count(F.lit(1)).cast("long").alias("k"))
            .crossJoin(hit.agg(F.count(F.lit(1)).cast("long")
                               .alias("n_hit")))
            .select("k", "n_hit",
                    F.round(F.col("n_hit").cast("double")
                            / F.col("k").cast("double"), 4)
                    .alias("recall")))


SQL_ANN_IVF_RECALL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[],
                                        (SELECT qv FROM q)), 4) AS cs
    FROM embeddings WHERE vec_id <> 42
    ORDER BY cs DESC, vec_id LIMIT 10)
),
c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id < 10
),
probe AS (
  SELECT cid FROM (
    SELECT cid,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(cv, (SELECT qv FROM q)), 6)
                      DESC, cid) AS rk
    FROM c) t
  WHERE rk <= 2
),
a AS (
  SELECT e.vec_id, c.cid,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS s
  FROM embeddings e CROSS JOIN c
),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
    FROM a) t
  WHERE rk = 1
),
approx AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[],
                                        (SELECT qv FROM q)), 4) AS cs
    FROM embeddings e
    JOIN best b ON e.vec_id = b.vec_id
    WHERE b.cid IN (SELECT cid FROM probe) AND e.vec_id <> 42
    ORDER BY cs DESC, e.vec_id LIMIT 10)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS k,
       (SELECT CAST(count(*) AS BIGINT)
        FROM exact JOIN approx USING (vec_id)) AS n_hit,
       round(CAST((SELECT count(*) FROM exact JOIN approx USING (vec_id))
                  AS DOUBLE)
             / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
"""


def q_dedup_injected(spark, sf_dir):
    """Near-dup detection with planted duplicates: docs 0..49 are re-added
    with the first token dropped (doc_id + 1000000); the jaccard pair scan
    must recover the planted (i, i+1000000) pairs."""
    from .pipeline.dedup import ngram_jaccard_pairs, tokens_col
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = tokens_col(F.col("text"))
    mutated = (docs.filter(F.col("doc_id") < 50)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.concat_ws(" ", F.slice(toks, 2, F.size(toks) - 1))
                       .alias("text")))
    corpus = docs.unionByName(mutated)
    pairs = ngram_jaccard_pairs(corpus, shingle_n=3, min_shared=2)
    return (pairs.filter(F.col("jaccard") >= 0.5)
            .orderBy(F.desc("jaccard"), "a", "b").limit(100))


SQL_DEDUP_INJECTED = """
WITH base AS (SELECT doc_id, text FROM documents),
mut AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           string_split(lower(trim(text)), ' ')[2:len(string_split(lower(trim(text)), ' '))],
           ' ') AS text
  FROM documents WHERE doc_id < 50
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM corpus),
sh0 AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shs
  FROM toks WHERE len(t) >= 3
),
ex AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM sh0),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
shared AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT a, b, jaccard FROM (
  SELECT s.a, s.b,
         round(s.shared / (sa.sz + sb.sz - s.shared), 4) AS jaccard
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id) t
WHERE jaccard >= 0.5
ORDER BY jaccard DESC, a, b LIMIT 100
"""


def q_embedding_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs, via the blocked-
    GEMM path — FAISS-brute-force shape; `cosine_pairs` is the UDF-free
    HOF twin, `hyperplane_lsh_pairs` the beyond-broadcast scale path,
    recall-tested in pytest).  Threshold 0.4 suits this synthetic corpus
    (random vectors: max pairwise cosine ~0.51)."""
    from .pipeline.ann import cosine_pairs_gemm
    return cosine_pairs_gemm(_emb(spark, sf_dir), threshold=0.4)


SQL_EMBEDDING_COSINE_PAIRS = """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 4) >= 0.4
"""


def q_kmeans_lite(spark, sf_dir):
    """Iterative Lloyd's k-means (3 rounds, seeded by the first k vec_ids,
    cosine assignment with 9-decimal rounding and ties to the smaller
    centroid id, mean centroids quantized to 6 decimals per round).

    The quantization makes every round's centroids bit-identical across
    engines (means differ only in last-ulp summation order, far below the
    quantum), so the iteration is ORACLE-GATED against an independent
    unrolled re-implementation in DuckDB SQL (:func:`_kmeans_sql`) —
    closing the one rows-only registry entry of round 2."""
    from .pipeline.kmeans import kmeans_lite
    return kmeans_lite(_emb(spark, sf_dir), k=8, iterations=3,
                       quantize=6).select("vec_id", "cluster")


def _kmeans_cte(k: int = 8, iterations: int = 3, dim: int = 64,
                quantize: int = 6) -> str:
    """Independent DuckDB re-statement of q_kmeans_lite's iteration:
    Lloyd's rounds unrolled into chained CTEs (assignment = per-vector
    argmax of rounded cosine vs the previous centroids; update =
    per-dimension mean, quantized).  Different algorithmic expression
    (window-ranked cross join + positional list aggregation vs Spark's
    broadcast codebook row + posexplode), same deterministic convention.
    Returns the WITH body ending at ``a{iterations}`` (the final
    assignment) with ``c{iterations}`` (the final centroids) and ``emb``
    in scope, so derived oracles (``_proto_sql``) extend the SAME
    restatement instead of forking it."""
    assign = """
a{i} AS (
  SELECT vec_id, c AS cluster FROM (
    SELECT e.vec_id, c.c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                      c.c) AS rn
    FROM emb e CROSS JOIN {prev} c) WHERE rn = 1)"""
    update = """
c{i} AS (
  SELECT cluster AS c, list(m ORDER BY d) AS v FROM (
    SELECT a.cluster, d.d, round(avg(e.v[d.d]), {q}) AS m
    FROM a{prev_a} a JOIN emb e USING (vec_id) CROSS JOIN dims d
    GROUP BY a.cluster, d.d)
  GROUP BY cluster)"""
    parts = [f"""WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
dims AS (SELECT unnest(range(1, {dim + 1})) AS d),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
       FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {k}))"""]
    parts.append(assign.format(i=0, prev="c0"))
    for i in range(1, iterations + 1):
        parts.append(update.format(i=i, prev_a=i - 1, q=quantize))
        parts.append(assign.format(i=i, prev=f"c{i}"))
    return ",".join(parts)


def _kmeans_sql(k: int = 8, iterations: int = 3, dim: int = 64,
                quantize: int = 6) -> str:
    return (_kmeans_cte(k, iterations, dim, quantize)
            + f"\nSELECT vec_id, cluster FROM a{iterations}")


SQL_KMEANS_LITE = _kmeans_sql()


def q_prototype_prune(spark, sf_dir):
    """D4 stage-2 diversification (Tirumala et al. 2023): label the most
    PROTOTYPICAL 25% of every k-means cluster — the members most
    cosine-similar to their own centroid, i.e. the semantically
    redundant cluster core — as dropped (``kept = false``), with the
    exact per-cluster ceil-count and id-tiebreak convention of
    top_fraction_by.  Clustering is the same quantized oracle-gated
    iteration as ann_kmeans_lite; the score is that iteration's final
    round-4 assignment cosine."""
    from .pipeline.semdedup import prototype_prune
    return (prototype_prune(_emb(spark, sf_dir), drop_bp=2500)
            .orderBy("vec_id"))


def _proto_sql(drop_bp: int = 2500, k: int = 8, iterations: int = 3,
               dim: int = 64, quantize: int = 6) -> str:
    """Oracle for q_prototype_prune: the SAME unrolled k-means
    restatement (:func:`_kmeans_cte`), then the final assignment's
    prototypicality score — round(round(cos, 9), 4), replicating
    Spark's two-step rounding (the assignment argmax rounds to 9
    decimals, the returned sim to 4) — ranked DESC per cluster with the
    vec_id tiebreak; dropped count per cluster is the exact
    ``ceil(n * drop_bp / 10000)`` integer form."""
    return f"""{_kmeans_cte(k, iterations, dim, quantize)},
psim AS (
  SELECT a.vec_id, a.cluster,
         round(round(list_cosine_similarity(e.v, c.v), 9), 4) AS proto_sim
  FROM a{iterations} a JOIN emb e USING (vec_id)
  JOIN c{iterations} c ON c.c = a.cluster),
ranked AS (
  SELECT vec_id, cluster, proto_sim,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY proto_sim DESC, vec_id) AS rn,
         CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n
  FROM psim)
SELECT vec_id, cluster, proto_sim,
       rn > (n * {int(drop_bp)} + 9999) // 10000 AS kept
FROM ranked ORDER BY vec_id
"""


SQL_PROTOTYPE_PRUNE = _proto_sql()


# -- per-source curation report (operator composition) ----------------------

def q_curation_report(spark, sf_dir):
    """Per-source corpus dashboard — the composition a curation pipeline
    actually runs: quality + repetition signals and the exact-dup rate,
    aggregated by source.  All three inputs are metric-light grouped
    frames; the final join keys on doc_id/source and stays
    broadcast-or-partial-agg shaped at any corpus size."""
    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality")
    r = repetition_stats(docs).select("doc_id", "dup_token_frac")
    dup = (exact_dedup(docs)
           .select(F.col("keeper").alias("doc_id"),
                   (F.col("n_copies") > 1).cast("int").alias("has_dup")))
    j = (docs.select("doc_id", "source")
         .join(q, "doc_id").join(r, "doc_id").join(dup, "doc_id", "left"))
    # averages via exact integer sums (the r1 order-robustness convention):
    # doc-level values are identical 4-dp scalars on both engines, so the
    # BIGINT sum of round(v*1e4) is associative/exact; one identical
    # division sequence at the end keeps the output bit-reproducible.
    qi = F.round(F.col("quality") * 1e4, 0).cast("long")
    ri = F.round(F.col("dup_token_frac") * 1e4, 0).cast("long")
    agg = (j.groupBy("source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum(qi).alias("_qs"), F.sum(ri).alias("_rs"),
                F.coalesce(F.sum("has_dup"), F.lit(0)).cast("long")
                .alias("n_dup_keepers")))
    return agg.select(
        "source", "n_docs",
        F.round(F.col("_qs").cast("double") / F.col("n_docs") / F.lit(1e4), 4)
        .alias("avg_quality"),
        F.round(F.col("_rs").cast("double") / F.col("n_docs") / F.lit(1e4), 4)
        .alias("avg_dup_tokens"),
        "n_dup_keepers")


def _sql_curation() -> str:
    q_sql = _sql_quality()
    return f"""
WITH ql AS ({q_sql}),
rep AS ({SQL_TEXT_REPETITION}),
dups AS (
  SELECT min(doc_id) AS doc_id,
         CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS has_dup
  FROM documents GROUP BY md5(lower(trim(text)))
),
g AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(round(ql.quality * 1e4, 0) AS BIGINT)) AS BIGINT) AS qs,
         CAST(sum(CAST(round(rep.dup_token_frac * 1e4, 0) AS BIGINT)) AS BIGINT) AS rs,
         CAST(coalesce(sum(dups.has_dup), 0) AS BIGINT) AS n_dup_keepers
  FROM documents d
  JOIN ql USING (doc_id)
  JOIN rep USING (doc_id)
  LEFT JOIN dups USING (doc_id)
  GROUP BY d.source
)
SELECT source, n_docs,
       round(CAST(qs AS DOUBLE) / n_docs / 10000.0, 4) AS avg_quality,
       round(CAST(rs AS DOUBLE) / n_docs / 10000.0, 4) AS avg_dup_tokens,
       n_dup_keepers
FROM g
"""


# -- deterministic stratified sampling --------------------------------------

SAMPLE_RATES = {"src0": 7500, "src1": 500, "src2": 0}
SAMPLE_DEFAULT_BP = 2500
SAMPLE_SALT = "s42"


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-source sampling of documents: keep/drop is a pure
    md5 function of (salt, doc_id), so reruns/backfills/cluster-size
    changes reproduce the exact sample; per-stratum rates broadcast."""
    return stratified_sample(_docs(spark, sf_dir), SAMPLE_RATES,
                             strata_col="source", key_col="doc_id",
                             default_bp=SAMPLE_DEFAULT_BP,
                             salt=SAMPLE_SALT) \
        .select("doc_id", "source", "lang", "n_chars")


SQL_SAMPLE_STRATIFIED = f"""
WITH rates(source, rate_bp) AS (VALUES {", ".join(
    f"('{k}', {v})" for k, v in sorted(SAMPLE_RATES.items()))})
SELECT d.doc_id, d.source, d.lang, d.n_chars
FROM documents d LEFT JOIN rates r USING (source)
WHERE ('0x' || substr(md5('{SAMPLE_SALT}|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 10000 < coalesce(r.rate_bp, {SAMPLE_DEFAULT_BP})
"""


# -- contiguous packing ------------------------------------------------------

PACK_BUDGET = 4096
PACK_SHARDS = 8


def q_pack_contiguous(spark, sf_dir):
    """Concatenate-and-slice packing of documents into 4096-char windows,
    sharded 8 ways by doc_id (each shard packs independently — the
    distributed-training data-stream shape)."""
    from .pipeline.pack import pack_contiguous
    docs = _docs(spark, sf_dir).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)))
    return pack_contiguous(docs, PACK_BUDGET, size_col="n_chars",
                           key_col="doc_id", shard_col="shard")


SQL_PACK_CONTIGUOUS = f"""
WITH s AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard, n_chars,
         CAST(coalesce(sum(n_chars) OVER (
             PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_offset
  FROM documents)
SELECT doc_id, shard, n_chars, start_offset,
       start_offset // {PACK_BUDGET} AS bin_id
FROM s
"""


def q_pack_bin_report(spark, sf_dir):
    """Per-shard packing-efficiency report over the standard packing
    (4096-char bins, 8 shards): bin count, payload, last-bin fill (the
    stream's only waste — interior bins are exactly full by
    construction) and the max docs mixed into one window."""
    from .pipeline.pack import bin_report, pack_contiguous
    docs = _docs(spark, sf_dir).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)))
    packed = pack_contiguous(docs, PACK_BUDGET, size_col="n_chars",
                             key_col="doc_id", shard_col="shard")
    return bin_report(packed, PACK_BUDGET, shard_col="shard")


SQL_PACK_BIN_REPORT = f"""
WITH p AS ({SQL_PACK_CONTIGUOUS}),
per_bin AS (
  SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(n_chars) AS BIGINT) AS size
  FROM p GROUP BY 1, 2)
SELECT shard,
       CAST(sum(docs) AS BIGINT) AS n_docs,
       CAST(greatest(1, (sum(size) + {PACK_BUDGET} - 1) // {PACK_BUDGET})
           AS BIGINT) AS n_bins,
       CAST(sum(size) AS BIGINT) AS total_size,
       CAST(sum(size)
            - (greatest(1, (sum(size) + {PACK_BUDGET} - 1)
                           // {PACK_BUDGET}) - 1)
              * {PACK_BUDGET} AS BIGINT) AS last_bin_fill,
       CAST(max(docs) AS BIGINT) AS max_docs_per_bin
FROM per_bin GROUP BY shard
"""


# -- repetition quality signals ---------------------------------------------

def q_text_repetition(spark, sf_dir):
    return repetition_stats(_docs(spark, sf_dir))


SQL_TEXT_REPETITION = f"""
WITH {SQL_SHINGLES},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
pt AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top
  FROM cnt GROUP BY 1
),
shc AS (
  SELECT t.doc_id,
         coalesce(len(s.shs), 0) AS ns,
         coalesce(len(list_distinct(s.shs)), 0) AS nds
  FROM toks t LEFT JOIN sh s USING (doc_id)
)
SELECT p.doc_id, p.n_tokens,
       round(1 - p.n_distinct / CAST(p.n_tokens AS DOUBLE), 4) AS dup_token_frac,
       round(p.top / CAST(p.n_tokens AS DOUBLE), 4) AS top_token_frac,
       round(CASE WHEN c.ns > 0 THEN 1 - c.nds / CAST(c.ns AS DOUBLE)
                  ELSE 0.0 END, 4) AS dup_shingle_frac
FROM pt p JOIN shc c USING (doc_id)
"""


# -- near-dup clusters: pairs -> connected components -----------------------

def q_dedup_components(spark, sf_dir):
    """Turn near-dup pair evidence into dedup clusters: n-gram Jaccard
    pairs at >= 0.5 fed through iterative hash-min connected components.
    Output is the per-document cluster assignment (component = min doc_id
    reachable).  The oracle re-derives the same fixpoint with a DuckDB
    recursive CTE (min reachable id over the symmetric edge closure)."""
    pairs = (ngram_jaccard_pairs(_docs(spark, sf_dir),
                                 shingle_n=3, min_shared=2)
             .filter(F.col("jaccard") >= 0.5))
    comp = connected_components(pairs)
    return (comp.select(F.col("id").alias("doc_id"),
                        F.col("comp").alias("component"))
            .orderBy("doc_id"))


SQL_PAIRS_05 = f"""
{SQL_SHINGLES},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY 1),
shared AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
pairs AS (
  SELECT s.a, s.b FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id JOIN sizes sb ON s.b = sb.doc_id
  WHERE round(s.shared / (sa.sz + sb.sz - s.shared), 4) >= 0.5),
edges AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
walk(id, reach) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.reach)
"""

SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE
{SQL_PAIRS_05}
SELECT id AS doc_id, min(reach) AS component
FROM walk GROUP BY id ORDER BY doc_id
"""


def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: the split key is the
    document's near-dup COMPONENT (same pair evidence + transitive
    closure as dedup_components; documents in no pair key on their own
    id), so near-duplicates never straddle splits — a per-document hash
    split would put paraphrases of training documents into the test
    set.  80/10/10 by the engine-portable md5 bucket."""
    from .pipeline.sample import leakage_safe_split
    docs = _docs(spark, sf_dir)
    pairs = (ngram_jaccard_pairs(docs, shingle_n=3, min_shared=2)
             .filter(F.col("jaccard") >= 0.5))
    return (leakage_safe_split(docs.select("doc_id"), pairs)
            .orderBy("doc_id"))


SQL_SPLIT_LEAKAGE_SAFE = f"""
WITH RECURSIVE
{SQL_PAIRS_05},
comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id),
keyed AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
bucketed AS (
  SELECT doc_id, split_key,
         ('0x' || substr(md5('split|' || CAST(split_key AS VARCHAR)),
                         1, 15))::BIGINT % 10000 AS b
  FROM keyed)
SELECT doc_id, split_key,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM bucketed ORDER BY doc_id
"""


def q_dedup_cluster_keep(spark, sf_dir):
    """Canonical-document selection per near-dup cluster: the component
    assignment joined with the quality score; keep the argmax-quality
    member (doc_id tiebreak).  This is the last stage of a real dedup
    pipeline — emit one keeper per cluster plus the member count."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    pairs = (ngram_jaccard_pairs(docs, shingle_n=3, min_shared=2)
             .filter(F.col("jaccard") >= 0.5))
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component"))
    q = quality_score(docs).select("doc_id", "quality")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    ranked = (comp.join(q, "doc_id")
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n_members",
                          F.count("*").over(Window.partitionBy("component"))))
    return (ranked.filter(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("keeper"),
                    "quality", "n_members")
            .orderBy("component"))


def _sql_cluster_keep() -> str:
    quality = _sql_quality()
    return f"""
WITH RECURSIVE
{SQL_PAIRS_05},
comp AS (SELECT id AS doc_id, min(reach) AS component FROM walk GROUP BY id),
q AS (SELECT doc_id, quality FROM ({quality}) t),
ranked AS (
  SELECT component, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY component
                            ORDER BY q.quality DESC, c.doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
  FROM comp c JOIN q ON c.doc_id = q.doc_id)
SELECT component, doc_id AS keeper, quality, n_members
FROM ranked WHERE rn = 1 ORDER BY component
"""


# -- simhash hamming-ball near-dup pairs (banded, r10) -----------------------

def q_simhash_pairs(spark, sf_dir):
    """Near-dup pairs by simhash Hamming distance <= 2: banded candidate
    generation (the r12 scale defaults — 64-bit fingerprints in 4 x
    16-bit bands through the lsh_pairs bucket machinery, ~2^16 buckets
    per band — EXACT for hamming <= bands-1 by pigeonhole) + exact
    bit_count(xor) verify.  The oracle brute-forces all pairs; the
    Spark path never does."""
    from .pipeline.dedup import simhash_pairs
    return simhash_pairs(_docs(spark, sf_dir))


SQL_SIMHASH_PAIRS = f"""
WITH sh AS ({SQL_SIMHASH})
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


# -- per-doc top TF-IDF terms (r10) ------------------------------------------

def q_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by rarity-weighted tf
    (log-free BM25-idf ratio — integers through exactly-rounded IEEE
    ops, so the rank tie-break is cross-engine deterministic; see
    pipeline.text.tfidf_terms)."""
    from .pipeline.text import tfidf_terms
    return tfidf_terms(_docs(spark, sf_dir), top=3)


SQL_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


# -- fixed-token training windows (chunking, r11) -----------------------------

def q_chunk_documents(spark, sf_dir):
    """Overlapping fixed-token training windows (size 12, stride 7 — the
    stride<size overlap path, ADVICE r10): every interior window is kept
    unconditionally; only each doc's final window must add >= 4 new
    tokens past the previous window's end.  Map-only in Spark (sequence +
    transform + posexplode, zero shuffles)."""
    from .pipeline.pack import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), size=12, stride=7,
                           min_tokens=4)


SQL_CHUNK_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents),
c AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(1, CAST(ceil((len(toks) - 12) / 7.0) AS BIGINT) + 1) AS nc
  FROM t),
ch AS (
  SELECT doc_id, toks, n, nc,
         unnest(generate_series(0, nc - 1)) AS chunk_id
  FROM c),
sl AS (
  SELECT doc_id, chunk_id, nc,
         toks[(chunk_id * 7 + 1):least(chunk_id * 7 + 12, n)] AS w
  FROM ch)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(w, ' ') AS chunk_text,
       CAST(len(w) AS BIGINT) AS n_tokens
FROM sl
WHERE chunk_id = 0 OR chunk_id < nc - 1
   OR (chunk_id * 7 + len(w) - ((chunk_id - 1) * 7 + 12)) >= 4
"""


# -- incremental NEAR-dup against a stored band index (r11) -------------------

NEARDUP_SEEN_BP = 4000   # 40% of docs act as the already-ingested corpus


def q_incremental_neardup(spark, sf_dir):
    """Per-crawl "new documents only" at NEAR-duplicate granularity:
    the incoming 60% keep only docs sharing no MinHash-LSH band bucket
    with the seen 40% (``dedup_against_neardup``) — the incremental
    crawl-dedup shape where the corpus side is a stored
    ``lsh_band_buckets`` index, never re-banded."""
    from .pipeline.dedup import dedup_against_neardup
    from .pipeline.sample import hash_bucket
    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), "nd")
    seen = docs.filter(b < F.lit(NEARDUP_SEEN_BP))
    incoming = docs.filter(b >= F.lit(NEARDUP_SEEN_BP))
    return dedup_against_neardup(incoming, seen, k=MINHASH_K,
                                 rows_per_band=LSH_ROWS_PER_BAND) \
        .select("doc_id", "lang", "source", "n_chars")


def _sql_incremental_neardup() -> str:
    hcols = ",\n         ".join(
        f"min(('0x' || substr(md5('{s // 2}|' || sh), "
        f"{1 if s % 2 == 0 else 17}, 15))::BIGINT) AS mh_{s}"
        for s in range(MINHASH_K))
    bands = MINHASH_K // LSH_ROWS_PER_BAND
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id AS id, {b} AS band, "
        f"md5(mh_{b * LSH_ROWS_PER_BAND}::VARCHAR || ',' || "
        f"mh_{b * LSH_ROWS_PER_BAND + 1}::VARCHAR) AS bh FROM sigs"
        for b in range(bands))
    return f"""
WITH {SQL_SHINGLES},
sigs AS (
  SELECT doc_id,
         {hcols}
  FROM ex GROUP BY doc_id
),
buckets AS (
{band_rows}
),
split AS (
  SELECT doc_id,
         ('0x' || substr(md5('nd|' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT % 10000 AS b
  FROM documents
),
hits AS (
  SELECT DISTINCT i.id
  FROM buckets i
  JOIN split si ON si.doc_id = i.id AND si.b >= {NEARDUP_SEEN_BP}
  JOIN buckets s ON s.band = i.band AND s.bh = i.bh
  JOIN split ss ON ss.doc_id = s.id AND ss.b < {NEARDUP_SEEN_BP}
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN split sp USING (doc_id)
WHERE sp.b >= {NEARDUP_SEEN_BP}
  AND NOT EXISTS (SELECT 1 FROM hits WHERE hits.id = d.doc_id)
"""


# -- per-source top-quality selection (r11) -----------------------------------

def q_sample_top_quality(spark, sf_dir):
    """Quality-based selection: keep the best 25% of documents per
    source by the quality heuristic (score desc, doc_id tiebreak) —
    kept count per source is exactly ceil(n * 0.25) via integer
    arithmetic, so the boundary is engine-exact."""
    from .pipeline.sample import top_fraction_by
    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality")
    j = docs.select("doc_id", "source").join(q, "doc_id")
    return top_fraction_by(j, 2500, "quality", group_col="source")


def _sql_top_quality() -> str:
    return f"""
WITH q AS ({_sql_quality()}),
j AS (
  SELECT d.doc_id, d.source, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id),
r AS (
  SELECT doc_id, source, quality,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id) AS BIGINT)
             AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM j)
SELECT doc_id, source, quality
FROM r WHERE rk <= (n * 2500 + 9999) // 10000
"""


# -- cross-source exact-content overlap matrix (r11) --------------------------

def q_source_overlap(spark, sf_dir):
    """Curation diagnostic: for every source pair, how many distinct
    content keys occur in both — the input to "source B is already N%
    contained in source A" mixture decisions.  Keyed on the leading-5-
    token prefix (the boilerplate-collapse key, which actually overlaps
    across this corpus's sources — full-content hashes are unique here
    and would gate a no-op).  One md5 inverted-index equi-join; output
    #sources²-bounded."""
    from .pipeline.dedup import source_overlap, tokens_col
    key_of = (lambda t: F.md5(F.concat_ws(
        " ", F.slice(tokens_col(t), 1, 5))))
    return source_overlap(_docs(spark, sf_dir), key_of=key_of)


SQL_SOURCE_OVERLAP = """
WITH h AS (
  SELECT DISTINCT
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:5],
                             ' ')) AS h,
         source AS g
  FROM documents)
SELECT l.g AS src_a, r.g AS src_b, CAST(count(*) AS BIGINT) AS n_shared
FROM h l JOIN h r ON l.h = r.h AND l.g < r.g
GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- semantic dedup (SemDeDup: kmeans clusters -> within-cluster cosine) -----

def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style embedding dedup: quantized kmeans clusters ->
    within-cluster round(cos,4) >= 0.4 pairs -> connected components ->
    one (component, n_members) row per near-dup cluster.  The oracle
    re-derives the identical pipeline in SQL (unrolled kmeans CTE +
    cluster-keyed pair join + recursive min-reachable walk)."""
    from .pipeline.semdedup import semantic_dedup
    return semantic_dedup(_emb(spark, sf_dir), k=8, iterations=3,
                          threshold=0.4, quantize=6)


SQL_SEMANTIC_DEDUP = f"""
WITH RECURSIVE
asg AS MATERIALIZED ({SQL_KMEANS_LITE}),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN ev ea ON ea.vec_id = a.vec_id
  JOIN ev eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4),
edges AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
walk(id, reach) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.reach),
comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id)
SELECT component, CAST(count(*) AS BIGINT) AS n_members
FROM comp GROUP BY component ORDER BY component
"""


PIPELINE_QUERIES: dict[str, tuple] = {
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_cluster_keep": (q_dedup_cluster_keep, _sql_cluster_keep()),
    "split_leakage_safe": (q_split_leakage_safe, SQL_SPLIT_LEAKAGE_SAFE),
    "ann_prototype_prune": (q_prototype_prune, SQL_PROTOTYPE_PRUNE),
    "curation_report": (q_curation_report, _sql_curation()),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "pack_contiguous": (q_pack_contiguous, SQL_PACK_CONTIGUOUS),
    "ann_kmeans_lite": (q_kmeans_lite, SQL_KMEANS_LITE),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_prefix": (q_dedup_prefix, SQL_DEDUP_PREFIX),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "dedup_ngram_jaccard_hotdrop": (q_ngram_jaccard_hotdrop,
                                    SQL_NGRAM_JACCARD_HOTDROP),
    "dedup_repeated_spans": (q_repeated_spans, SQL_REPEATED_SPANS),
    "dedup_trim_spans": (q_trim_spans, SQL_TRIM_SPANS),
    "dedup_minhash_lsh": (q_minhash_lsh, _sql_minhash()),
    "dedup_lsh_recall": (q_lsh_recall, SQL_LSH_RECALL),
    "dedup_simhash": (q_simhash, SQL_SIMHASH),
    "text_lang_id": (q_lang_id, _sql_lang_id()),
    "text_token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "text_quality": (q_quality, _sql_quality()),
    "text_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "text_strip_boilerplate": (q_strip_boilerplate,
                               SQL_STRIP_BOILERPLATE),
    "text_strip_boilerplate_anti": (q_strip_boilerplate_anti,
                                    SQL_STRIP_BOILERPLATE),
    "ann_cosine_topk": (q_ann_topk, SQL_ANN_TOPK),
    "ann_ivf_assign": (q_ann_ivf, SQL_ANN_IVF),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "ann_ivf_recall": (q_ann_ivf_recall, SQL_ANN_IVF_RECALL),
    "dedup_injected": (q_dedup_injected, SQL_DEDUP_INJECTED),
    "dedup_embedding_cosine": (q_embedding_cosine_pairs,
                               SQL_EMBEDDING_COSINE_PAIRS),
    "dedup_simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "text_tfidf": (q_tfidf, SQL_TFIDF),
    "ann_semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "text_chunk_windows": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "dedup_incremental_neardup": (q_incremental_neardup,
                                  _sql_incremental_neardup()),
    "dedup_source_overlap": (q_source_overlap, SQL_SOURCE_OVERLAP),
    "sample_top_quality": (q_sample_top_quality, _sql_top_quality()),
    "pack_bin_report": (q_pack_bin_report, SQL_PACK_BIN_REPORT),
}
