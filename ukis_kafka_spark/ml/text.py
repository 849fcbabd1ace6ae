"""Text-analysis operators over the ``documents`` corpus
(SURVEY.md §2.2 "LLM-pipeline extensions" + the training-data-pipeline
text suite: token counting, quality scoring, language-ID heuristic,
document fingerprinting).

Everything here is built-in-function only (split / explode /
higher-order folds) — token-level processing stays JVM-side and
parallelizes per-document with no shuffle until the final aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import checkpoint_df, query, session_memo
from ..sources import load_table

MOD = 1_000_000_007


@query(
    "m_text_stats",
    oracle="""
SELECT doc_id, lang,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_tok_len
FROM documents
""",
)
def m_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count + average token length. For
    single-space-joined text, sum(token lengths) = n_chars - (n-1), so
    the average is integer arithmetic + one division → deterministic."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        ((F.col("n_chars") - (n_tok - 1)).cast("double") / n_tok).alias("avg_tok_len"),
    )


@query(
    "m_term_freq",
    oracle="""
SELECT source, tok, n FROM (
  SELECT source, tok, count(*) AS n,
         row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, tok ASC) AS rn
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY source, tok
) WHERE rn <= 5
""",
)
def m_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source: explode → count → per-group top-k.
    Map-side partial aggregation keeps the exploded shuffle small."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "tok", "n")
    )


_LANGS = ["de", "en", "es", "fr", "zh"]


@query(
    "m_pivot_lang",
    oracle="""
SELECT source,
       COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
       COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
       COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
       COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
       COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh
FROM documents
GROUP BY source
""",
)
def m_pivot_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs count pivot lang × source. Pinning the pivot values keeps
    the plan a single pass (no extra distinct-values job) — the right
    shape at scale."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").pivot("lang", _LANGS).count().na.fill(0, _LANGS)


@query(
    "m_lang_id",
    oracle="""
SELECT doc_id, lang,
       CASE WHEN contains(text, 'stream') OR contains(text, 'window') THEN 'en'
            WHEN contains(text, 'join') THEN 'de'
            WHEN len(string_split(text, ' ')) % 2 = 0 THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM documents
""",
)
def m_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token n-gram rule). The corpus text
    is synthetic, so the rule is a deterministic stand-in: the point is
    the operator shape (cheap per-row classify, no shuffle), not
    linguistic accuracy — swap the rule for a real n-gram profile table
    + broadcast join on real data."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        "lang",
        F.when(t.contains("stream") | t.contains("window"), "en")
        .when(t.contains("join"), "de")
        .when(F.size(F.split(t, " ")) % 2 == 0, "es")
        .otherwise("fr")
        .alias("lang_pred"),
    )


@query(
    "m_quality_score",
    oracle="""
SELECT doc_id,
       n_tokens,
       stop_hits,
       CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
       0.5 * least(n_tokens, 50) / 50.0 + 0.5 * (CAST(stop_hits AS DOUBLE) / n_tokens) AS quality
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('spark', 'join', 'filter', 'window'))) AS stop_hits
  FROM documents
)
""",
)
def m_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + stopword ratio.
    Pure integer counting + a fixed double formula → deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.size(
        F.filter(toks, lambda t: t.isin("spark", "join", "filter", "window"))
    )
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        stop.alias("stop_hits"),
        (stop.cast("double") / n).alias("stopword_ratio"),
        (
            F.lit(0.5) * F.least(n, F.lit(50)) / 50.0
            + F.lit(0.5) * (stop.cast("double") / n)
        ).alias("quality"),
    )


@query(
    "m_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_transform(string_split(text, ' '),
                        t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)),
         (a, b) -> (a * 31 + b) % {MOD}) AS fp
FROM documents
""",
)
def m_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint, computed as a
    sequential fold over token values — order-sensitive by design
    (captures token order, unlike a bag-of-words hash) yet engine-pure:
    integer arithmetic mod 1e9+7 only.

    Fold-alignment note: DuckDB's list_reduce has no initial
    accumulator (starts at the first element); Spark's aggregate starts
    at 0, and (0*31 + v1) % MOD = v1, so both folds are identical."""
    d = load_table(spark, sf_dir, "documents")
    vals = F.transform(
        F.split(F.col("text"), " "),
        lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        vals, F.lit(0).cast("long"), lambda acc, v: (acc * 31 + v) % F.lit(MOD).cast("long")
    )
    return d.select("doc_id", fp.alias("fp"))


_BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "m_token_count",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_ISH}')) AS bpe_ish_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS DOUBLE)
         / len(string_split(text, ' ')) AS fertility
FROM documents
""",
)
def m_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation) —
    plus their ratio (the "fertility" a tokenizer-cost estimate needs).
    Pure JVM regex, one pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH), 0))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        (bpe.cast("double") / ws).alias("fertility"),
    )


@query(
    "m_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), n AS (
  SELECT count(*) AS n_docs FROM documents
)
SELECT doc_id, tok, tf, score FROM (
  SELECT tf.doc_id, tf.tok, tf.tf,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) + 0.0 AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) DESC,
                    tf.tok ASC) AS rn
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
) WHERE rn <= 3
""",
)
def m_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF: explode → per-(doc,term)
    counts → vocabulary document-frequency join → score → per-doc
    top-k. Two hash aggregates and one key join, all shuffling at most
    |doc×distinct-term| rows — the linear LLM-pipeline shape (no
    all-pairs stage). The corpus size enters the plan as a broadcast
    1-row aggregate, not a driver-side collect.

    Determinism: JVM ln and libm ln differ ~1 ULP, so the score is
    rounded to a 4 dp grid *before* ranking and ties break on the
    token (CLAUDE.md transcendental rule); `+ 0.0` kills -0.0."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.select(F.count(F.lit(1)).alias("n_docs"))
    score = (
        F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4)
        + 0.0
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "score")
    )


@query(
    "m_doc_len_hist",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents)
SELECT CAST(floor(n_chars / 100) AS BIGINT) * 100 AS bucket_lo,
       count(*) AS n,
       CAST(count(*) AS DOUBLE) / any_value(n.n_docs) AS frac
FROM documents CROSS JOIN n
GROUP BY 1
""",
)
def m_doc_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) with corpus
    fractions — the distribution check every curation pipeline runs
    before/after filtering. Fixed-width buckets keep it one hash
    aggregate (no min/max pre-pass); the corpus size joins in as a
    broadcast 1-row aggregate, and frac is a ratio of exact integers."""
    d = load_table(spark, sf_dir, "documents")
    n = d.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy((F.floor(F.col("n_chars") / 100).cast("long") * 100).alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)).cast("double") / F.any_value(F.col("n_docs"))).alias("frac"),
        )
    )


@query(
    "m_decontaminate",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), grams AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < 5
)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
FROM grams g JOIN bench b ON g.gram = b.gram
WHERE g.doc_id >= 5
GROUP BY g.doc_id
""",
)
def m_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    token trigram with a benchmark set (here: docs 0-4, built
    in-query). The scale shape is the real one — benchmark n-grams are
    a small broadcast side, corpus n-grams stream through an exploded
    projection, and the join emits only hits. Trigrams come from
    lead() windows over positioned tokens (identical construction in
    the oracle), so the hit set is exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", F.col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
            ).alias("gram"),
            F.lead("tok", 2).over(w).alias("_g2"),
        )
        .where(F.col("_g2").isNotNull())
        .drop("_g2")
    )
    bench = grams.where(F.col("doc_id") < 5).select("gram").distinct()
    return (
        grams.where(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gram")).alias("n_hits"))
    )


@query(
    "m_split_leakage",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS tk,
         (doc_id * {2654435761} % 2147483648) % 2 AS half
  FROM documents
),
ex AS (
  SELECT doc_id, lang, half,
         md5(text) AS h,
         md5(array_to_string(tk[1:16], ' ')) AS p16
  FROM d
),
tr_exact AS (SELECT DISTINCT h FROM ex WHERE half = 0),
tr_pre AS (SELECT DISTINCT p16 FROM ex WHERE half = 0),
pos AS (
  SELECT doc_id, lang, half, tk, generate_subscripts(tk, 1) AS i,
         unnest(tk) AS u
  FROM d
),
g AS (
  SELECT doc_id, half,
         substring(md5(array_to_string(tk[i:i+11], ' ')), 1, 16) AS g12
  FROM pos WHERE i <= len(tk) - 11
),
trg AS (SELECT DISTINCT g12 FROM g WHERE half = 0),
gleak AS (
  SELECT DISTINCT doc_id FROM g
  WHERE half = 1 AND g12 IN (SELECT g12 FROM trg)
)
SELECT v.lang,
       CAST(count(*) AS BIGINT) AS n_val,
       CAST(COUNT(CASE WHEN te.h IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_exact_leak,
       CAST(COUNT(CASE WHEN tp.p16 IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_prefix16_leak,
       CAST(COUNT(CASE WHEN gl.doc_id IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_gram12_leak
FROM ex v
LEFT JOIN tr_exact te ON te.h = v.h
LEFT JOIN tr_pre tp ON tp.p16 = v.p16
LEFT JOIN gleak gl ON gl.doc_id = v.doc_id
WHERE v.half = 1
GROUP BY v.lang
""",
)
def m_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split contamination audit at three severities — the
    split-wise twin of m_decontaminate's benchmark check, run on the
    SAME mod-2^31 hash split the held-out LM family scores against
    (a leaked val doc inflates every perplexity number that family
    reports): per language, how many validation docs (1) are EXACT
    text duplicates of a training doc, (2) share their 16-token
    prefix with one (truncation/boilerplate twins), (3) share any
    12-gram with the training half (the GPT-3-style n-gram
    contamination rule).  MEASURED firing: prefix 9/11/107 and
    12-gram 10/11/114 val docs at sf0.001/0.01/0.1 — both fire at
    every scale; exact is 0/0/4 (fires at sf0.1 only — zero at small
    scales IS the signal, the planted near-dups there differ by >0
    tokens; DEADCOLS-reviewed).  Hash-safety: membership is by md5 of
    the exact gram/prefix/text strings — md5 is bit-identical across
    engines, so no numeric grid is needed; counts are exact BIGINTs.
    Scale shape: digests are computed INSIDE transform BEFORE the
    explode (the m_passage_dedup rule — only 16-char keys ride the
    gram shuffle), the train sets are corpus-growing so all three
    membership joins are UNHINTED shuffle joins on the digest, and
    the final per-lang aggregate is map-side combinable."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.split("text", " ").alias("tk"),
        ((F.col("doc_id") * 2654435761 % 2147483648) % 2).alias("half"),
    )
    ex = d.select(
        "doc_id",
        "lang",
        "half",
        F.md5("text").alias("h"),
        F.md5(F.concat_ws(" ", F.slice("tk", 1, 16))).alias("p16"),
    )
    tr_exact = ex.where(F.col("half") == 0).select("h").distinct()
    tr_pre = ex.where(F.col("half") == 0).select("p16").distinct()
    grams = d.select(
        "doc_id",
        "half",
        F.explode(
            F.when(
                F.size("tk") >= 12,
                F.expr(
                    "transform(sequence(1, size(tk) - 11),"
                    " i -> substring(md5(array_join(slice(tk, i, 12), ' ')), 1, 16))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g12"),
    )
    trg = grams.where(F.col("half") == 0).select("g12").distinct()
    gleak = (
        grams.where(F.col("half") == 1)
        .join(trg, "g12", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("g_hit", F.lit(1))
    )
    val = ex.where(F.col("half") == 1)
    return (
        val.join(tr_exact.withColumn("e_hit", F.lit(1)), "h", "left")
        .join(tr_pre.withColumn("p_hit", F.lit(1)), "p16", "left")
        .join(gleak, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_val"),
            F.count(F.when(F.col("e_hit").isNotNull(), 1))
            .cast("bigint")
            .alias("n_exact_leak"),
            F.count(F.when(F.col("p_hit").isNotNull(), 1))
            .cast("bigint")
            .alias("n_prefix16_leak"),
            F.count(F.when(F.col("g_hit").isNotNull(), 1))
            .cast("bigint")
            .alias("n_gram12_leak"),
        )
    )


@query(
    "m_pii_scrub",
    oracle="""
WITH planted AS (
  SELECT doc_id, source,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref '
           || CAST(100000 + doc_id % 900000 AS VARCHAR) || ' ' || text AS raw
  FROM documents
), scrubbed AS (
  SELECT doc_id, source, raw,
         regexp_replace(
           regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{6,}', '<NUM>', 'g') AS clean,
         len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                                '[0-9]{6,}')) AS n_num
  FROM planted
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_email + n_num) AS BIGINT) AS n_redactions,
       CAST(SUM(length(raw) - length(clean)) AS BIGINT) AS chars_removed
FROM scrubbed
GROUP BY source
""",
)
def m_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails + long digit runs → placeholder
    tokens) with per-source redaction accounting. The corpus is
    synthetic word salad with no real PII, so each doc gets a
    deterministic planted email + id string first — the scrub kernel
    and its counters are what's under test, and every doc contributes
    ≥2 redactions (non-vacuous by construction). Pure JVM regex per
    row, no shuffle until the per-source rollup."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num = "[0-9]{6,}"
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.lit(100000) + F.col("doc_id") % 900000).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    d = d.select("doc_id", "source", raw.alias("raw"))
    no_email = F.regexp_replace("raw", email, "<EMAIL>")
    clean = F.regexp_replace(no_email, num, "<NUM>")
    d = d.select(
        "source",
        "raw",
        clean.alias("clean"),
        (F.regexp_count("raw", F.lit(email)) + F.regexp_count(no_email, F.lit(num))).alias("n_red"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_red").alias("n_redactions"),
        F.sum(F.length("raw") - F.length("clean")).alias("chars_removed"),
    )


@query(
    "m_stratified_split",
    oracle="""
WITH b AS (
  SELECT lang, n_chars,
         ((doc_id % 1000003) * 2654435761 % 2147483647) % 1000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b
GROUP BY 1, 2
""",
)
def m_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by Knuth
    multiplicative hash of the doc key, audited per (split, lang).
    Same split on every engine/run — the reproducibility contract a
    training pipeline needs (rand()-based splits can't give it). The
    pre-reduction keeps the product < 2^63 for any bigint doc_id, so
    ANSI overflow checking stays happy at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") % 1000003) * F.lit(2654435761) % 2147483647) % 1000
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "m_doc_bigrams",
    oracle="""
WITH w AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS words
  FROM documents
), bg AS (
  SELECT unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM w
)
SELECT bigram, COUNT(*) AS n
FROM bg
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
""",
)
def m_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the n-gram count core of LM
    data work (n-gram LMs, contamination n-gram checks, repetition
    stats). Tokenize + pair generation are per-row array ops (JVM
    higher-order functions, no Python); the only shuffle is the final
    count, which partial-aggregates map-side so the wire carries one
    row per distinct bigram, not per occurrence. The top-20 uses
    (count, bigram) total order so the cut is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    words = F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
    bigrams = F.expr(
        "CASE WHEN size(words) < 2 THEN array() "
        "ELSE transform(sequence(0, size(words) - 2), i -> concat(words[i], ' ', words[i + 1])) END"
    )
    return (
        d.select(words.alias("words"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "m_repetition",
    oracle="""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS words
  FROM documents
), tri AS (
  SELECT doc_id, lang,
         list_transform(range(1, greatest(len(words) - 1, 1)),
                        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) AS trigrams
  FROM w
)
SELECT doc_id, lang,
       len(trigrams) AS n_tri,
       len(list_distinct(trigrams)) AS n_distinct,
       CASE WHEN len(trigrams) = 0 THEN 0.0
            ELSE CAST(len(trigrams) - len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams)
       END AS dup_frac
FROM tri
""",
)
def m_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: duplicated word-trigram fraction
    per document (high values flag boilerplate/spam for filtering).
    Trigram build + distinct are per-row array ops — no shuffle at all;
    the score is a ratio of exact integers so it hash-matches without
    rounding rules."""
    d = load_table(spark, sf_dir, "documents")
    words = F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
    tri = F.expr(
        "CASE WHEN size(words) < 3 THEN array() "
        "ELSE transform(sequence(0, size(words) - 3), "
        "i -> concat(words[i], ' ', words[i + 1], ' ', words[i + 2])) END"
    )
    return (
        d.select("doc_id", "lang", words.alias("words"))
        .select("doc_id", "lang", tri.alias("trigrams"))
        # stage the two sizes as columns so array_distinct runs ONCE
        # per row (expression-level CSE does not reach across the
        # when() branches of the ratio)
        .select(
            "doc_id",
            "lang",
            F.size("trigrams").alias("n_tri"),
            F.size(F.array_distinct("trigrams")).alias("n_distinct"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tri",
            "n_distinct",
            F.when(F.col("n_tri") == 0, F.lit(0.0))
            .otherwise(
                (F.col("n_tri") - F.col("n_distinct")).cast("double") / F.col("n_tri")
            )
            .alias("dup_frac"),
        )
    )


_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "m_bm25",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS tf_spark,
         len(list_filter(string_split(text, ' '), w -> w = 'join'))  AS tf_join
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS avg_len,
         COUNT(*) FILTER (WHERE tf_spark > 0) AS df_spark,
         COUNT(*) FILTER (WHERE tf_join > 0)  AS df_join
  FROM base
)
SELECT doc_id,
       round(ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1)
             * (tf_spark * {_BM25_K1 + 1}) / (tf_spark + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * n_words / avg_len)), 4) + 0.0
         AS bm25_spark,
       round(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1)
             * (tf_join * {_BM25_K1 + 1}) / (tf_join + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * n_words / avg_len)), 4) + 0.0
         AS bm25_join
FROM base CROSS JOIN stats
""",
)
def m_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to two probe terms — the
    ranking function behind retrieval-based dataset curation. Corpus
    stats (N, df, avg length) are a single 1-row aggregate broadcast
    back over the docs; the per-doc side is a no-shuffle projection.
    ln() is the one transcendental: emitted on the 4 dp grid with the
    -0.0 guard (JVM vs libm differ ~1 ULP; both land on the same grid
    point)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(F.filter(toks, lambda w: w == "spark")).alias("tf_spark"),
        F.size(F.filter(toks, lambda w: w == "join")).alias("tf_join"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_words").cast("double") / F.count(F.lit(1))).alias("avg_len"),
        F.count(F.when(F.col("tf_spark") > 0, 1)).alias("df_spark"),
        F.count(F.when(F.col("tf_join") > 0, 1)).alias("df_join"),
    )

    def score(tf: str, df: str) -> F.Column:
        idf = F.log(
            (F.col("n_docs") - F.col(df) + 0.5) / (F.col(df) + 0.5) + 1
        )
        raw = (
            idf
            * (F.col(tf) * (_BM25_K1 + 1))
            / (F.col(tf) + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("n_words") / F.col("avg_len")))
        )
        return F.round(raw, 4) + F.lit(0.0)

    return base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        score("tf_spark", "df_spark").alias("bm25_spark"),
        score("tf_join", "df_join").alias("bm25_join"),
    )


@query(
    "m_token_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         SUM(CAST(round(c * log2(c), 6) AS DECIMAL(28,10))) AS s
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(log2(n_tokens) - CAST(CAST(s AS VARCHAR) AS DOUBLE) / n_tokens, 4) + 0.0
         AS entropy_bits
FROM per_doc
""",
)
def m_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy in bits — the
    vocabulary-diversity quality signal (low entropy = repetitive /
    boilerplate text; pairs with m_repetition in a curation filter).
    H = log2(n) - (Σ c·log2(c))/n over token counts c. Hash-safety per
    CLAUDE.md's transcendental rule: each c·log2(c) term is rounded to
    6 dp and summed in exact DECIMAL (order-free), the final value is
    rounded to a 4 dp grid with +0.0 to kill -0.0; c·log2(c) is
    irrational except when c is a power of two, where it is exactly
    integral — so no rounding midpoints exist on either grid. Shape:
    explode → two hash aggs, no Python, no window."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.round(F.col("c") * F.log2("c"), 6).cast("decimal(28,10)")).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (
            F.round(
                F.log2("n_tokens") - F.col("s").cast("double") / F.col("n_tokens"), 4
            )
            + F.lit(0.0)
        ).alias("entropy_bits"),
    )


@query(
    "m_dup_ngram_frac",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 4) OVER w IS NOT NULL
), df AS (
  SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram
)
SELECT g.doc_id,
       count(*) AS n_grams,
       count(*) FILTER (WHERE df.n_docs > 1) AS n_dup,
       CAST(count(*) FILTER (WHERE df.n_docs > 1) AS DOUBLE) / count(*) AS dup_frac
FROM grams g JOIN df ON df.gram = g.gram
GROUP BY g.doc_id
""",
)
def m_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-5-gram fraction: the share of a doc's
    distinct token 5-grams that also appear in at least one other
    document — the standard memorization/boilerplate risk signal used
    to rank documents for near-dup removal (complements m_near_dedup,
    which finds pairs; this scores each doc standalone). Shape (r11
    re-plan): 5-grams are built INSIDE the row via transform over the
    split array BEFORE the explode (explode hygiene — the former
    per-doc lead() window shuffled the whole positioned token stream
    just to see 4 tokens ahead), the distinct gram table is pinned
    once (it feeds BOTH the document-frequency agg and the re-join —
    unpinned, the build ran twice), one hash agg computes corpus
    document frequency, one re-join + agg scores docs. At 100 TB the
    df table is the big intermediate — it shuffles gram keys only,
    and the final ratio is a ratio of exact integers (hash-safe
    double)."""
    d = load_table(spark, sf_dir, "documents")
    # stage the split as a column: an inline split() referenced inside
    # a transform() lambda re-evaluates once per array element
    split_docs = d.select("doc_id", F.split("text", " ").alias("tk"))
    grams = (
        split_docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("tk") >= 5,
                    F.expr(
                        "transform(sequence(1, size(tk) - 4),"
                        " i -> array_join(slice(tk, i, 5), ' '))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
        .transform(lambda df: checkpoint_df(df, eager=False))  # read twice: df agg + the scoring join
    )
    df_tbl = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.count(F.when(F.col("n_docs") > 1, F.lit(1)))
    return (
        grams.join(df_tbl, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.alias("n_dup"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_frac"),
        )
    )


_VOCAB_K = 20


@query(
    "m_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), vocab AS (
  SELECT tok FROM freq
  QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= {_VOCAB_K}
)
SELECT t.doc_id,
       count(*) AS n_tok,
       count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
       CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE) / count(*) AS oov_frac
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
""",
)
def m_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's top-20
    tokens — the tokenizer-prep audit (high OOV = text the vocabulary
    under-serves; drives vocab sizing and language filtering).  K sits
    on the MEASURED corpus (round-4 rule): the corpus vocabulary is 31
    types, so the original K=1000 covered everything and the OOV
    column was permanently zero (round-5 dead-column audit); at K=20,
    499/499/4994 of 500/500/5000 documents carry nonzero OOV. Vocab
    selection is deterministic (count desc, token asc tiebreak). Scale
    shape: token frequencies are one hash agg; the vocab is a bounded
    top-K (TakeOrdered — K rows on the driver, broadcast back); the
    coverage join is a broadcast left join against a K-row side, so
    the exploded token stream never shuffles; final ratio is exact
    integers in double."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = freq.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(_VOCAB_K).select(
        "tok", F.lit(1).alias("in_vocab")
    )
    oov = F.count(F.when(F.col("in_vocab").isNull(), F.lit(1)))
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            oov.alias("n_oov"),
            (oov.cast("double") / F.count(F.lit(1))).alias("oov_frac"),
        )
    )


@query(
    "m_lm_cross_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), lm AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), n_corpus AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM lm
), scored AS (
  SELECT t.doc_id,
         round(log2(CAST(nc.n AS DOUBLE) / lm.c), 6) AS bits
  FROM toks t JOIN lm ON lm.tok = t.tok CROSS JOIN n_corpus nc
)
SELECT doc_id,
       count(*) AS n_tok,
       CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT) // count(*)
         AS avg_microbits
FROM scored GROUP BY doc_id
""",
)
def m_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (bits/token) under the corpus unigram
    LM — the classic perplexity-style quality score (documents far from
    the corpus distribution rank high; pairs with m_token_entropy,
    which measures the doc's own distribution). Per-token surprisal
    log2(N/c) is rounded to 6 dp and summed in exact DECIMAL
    (order-free, per the transcendental rule); the per-doc average is
    emitted in FIXED-POINT micro-bits via integer division — a double
    round(sum/n, 4) landed exactly on 4 dp midpoints at sf0.1 (both
    operands are small-denominator rationals) where Spark (HALF_UP on
    the binary value) and DuckDB (multiply-round) disagree — the same
    midpoint trap CLAUDE.md documents for iterative float updates.
    Scale shape: the LM is a hash agg whose
    result broadcasts into the scoring join (token→count is corpus-
    vocabulary-sized, ≪ corpus), one final agg per doc; no Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_corpus = lm.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "doc_id",
            F.round(F.log2(F.col("n").cast("double") / F.col("c")), 6).alias("bits"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.col("bits").cast("decimal(28,10)")).alias("s"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.expr("CAST(s * 1000000 AS BIGINT) div n_tok").alias("avg_microbits"),
        )
    )


_MIX_A = 2654435761  # Knuth multiplicative constant (same family as m_subsample)
_MIX_M = 1_000_003


@query(
    "m_ppl_buckets",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, n_chars, lang,
         (doc_id * {_MIX_A} % 2147483648) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, unnest(string_split(text, ' ')) AS tok FROM d
), lm AS (
  SELECT tok, count(*) AS c FROM toks WHERE half = 0 GROUP BY tok
), nv AS (
  SELECT CAST(count(*) + count(DISTINCT tok) AS BIGINT) AS nv
  FROM toks WHERE half = 0
), scored AS (
  SELECT t.doc_id,
         round(log2(CAST(nv.nv AS DOUBLE) / (coalesce(lm.c, 0) + 1)), 6) AS bits
  FROM toks t LEFT JOIN lm ON lm.tok = t.tok CROSS JOIN nv
  WHERE t.half = 1
), per_doc AS (
  SELECT s.doc_id,
         CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
           // count(*) AS micro,
         min(d.n_chars) AS n_chars,
         min(d.lang) AS lang
  FROM scored s JOIN d ON d.doc_id = s.doc_id
  GROUP BY s.doc_id
), ranked AS (
  SELECT *, ntile(10) OVER (ORDER BY micro ASC, doc_id ASC) AS decile
  FROM per_doc
)
SELECT decile,
       count(*) AS n_docs,
       min(micro) AS lo_microbits,
       max(micro) AS hi_microbits,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en
FROM ranked
GROUP BY decile
""",
)
def m_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucket composition — the decision table behind
    perplexity FILTERING (CCNet / Wenzek et al. 2020: score every doc
    under a reference LM, keep by quantile): a held-out add-1 unigram
    LM is trained on the hash-half of the corpus, the other half is
    scored in bits/token, val docs are cut into GLOBAL deciles of the
    score, and each decile reports its mass and language mix — the
    audit a pipeline reads before choosing the keep threshold.

    Numerics: per-token surprisal log2((N+V)/(c+1)) has an
    exact-integer-ratio argument (both engines hand log2 the identical
    double), each term rounds to 6 dp, sums in DECIMAL, and the
    per-doc average is fixed-point micro-bits (the m_lm_cross_entropy
    discipline); deciles order by (micro, doc_id) — total, so the
    shared ceil-first ntile rule gives identical buckets (the q_rfm
    precedent).  Scale: the vocabulary join is UNHINTED (AQE
    broadcasts the Heaps-sublinear token table while small); the
    decile cut is functions.ranks.with_global_order — a ranged ntile,
    no single-task window; lang mix is non-vacuous because lang is
    the corpus's SKEWED key (en 218 / fr 64 at sf0.01)."""
    from ..functions.ranks import with_global_order

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "n_chars",
        "lang",
        ((F.col("doc_id") * _MIX_A % 2147483648) % 2).alias("half"),
    )
    toks = d.select(
        "doc_id", "half", F.explode(F.split("text", " ")).alias("tok")
    )
    train = toks.where(F.col("half") == 0)
    lm = train.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nv = train.agg(
        (F.count(F.lit(1)) + F.countDistinct("tok")).cast("bigint").alias("nv")
    )
    scored = (
        toks.where(F.col("half") == 1)
        .join(lm, "tok", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.round(
                F.log2(
                    F.col("nv").cast("double")
                    / (F.coalesce(F.col("c"), F.lit(0)) + 1)
                ),
                6,
            ).alias("bits"),
        )
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("bits").cast("decimal(28,10)")).alias("s"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .select("doc_id", F.expr("CAST(s * 1000000 AS BIGINT) div n_tok").alias("micro"))
        .join(d.select("doc_id", "n_chars", "lang"), "doc_id")
    )
    ranked = with_global_order(
        per_doc,
        [F.col("micro").asc(), F.col("doc_id").asc()],
        ntile=("decile", 10),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("micro").alias("lo_microbits"),
        F.max("micro").alias("hi_microbits"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
    )


@query(
    "m_source_mixture",
    oracle=f"""
WITH rated AS (
  SELECT doc_id, source,
         (CAST(substring(source, 4) AS INT) % 4 + 1) * 20 AS keep_pct,
         (doc_id * {_MIX_A} % {_MIX_M}) % 100 AS bucket
  FROM documents
)
SELECT source, keep_pct,
       count(*) AS n_docs,
       COUNT(CASE WHEN bucket < keep_pct THEN 1 END) AS n_kept
FROM rated
GROUP BY source, keep_pct
""",
)
def m_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling — the dataset-mixture step of a
    training pipeline: each source gets a configured sampling rate
    (here derived 20/40/60/80% by source index; in production a
    weights table), and membership is a multiplicative hash of the
    key, so the SAME subset is selected on every run, engine, and
    partitioning — unlike rand()-based TABLESAMPLE. Pure integer
    column math; the per-source audit (total vs kept) is what a
    mixture rebalancing job reads back."""
    d = load_table(spark, sf_dir, "documents")
    keep_pct = (F.substring("source", 4, 10).cast("int") % 4 + 1) * 20
    bucket = (F.col("doc_id") * F.lit(_MIX_A) % _MIX_M) % 100
    return (
        d.select("doc_id", "source", keep_pct.alias("keep_pct"), bucket.alias("bucket"))
        .groupBy("source", "keep_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("bucket") < F.col("keep_pct"), F.lit(1))).alias("n_kept"),
        )
    )


@query(
    "m_overlap_matrix",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), grams AS (
  SELECT DISTINCT source,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
), sizes AS (
  SELECT source, count(*) AS n_grams FROM grams GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared,
       CAST(count(*) AS DOUBLE)
         / (sa.n_grams + sb.n_grams - count(*)) AS jaccard
FROM grams a
JOIN grams b ON a.gram = b.gram AND a.source < b.source
JOIN sizes sa ON sa.source = a.source
JOIN sizes sb ON sb.source = b.source
GROUP BY a.source, b.source, sa.n_grams, sb.n_grams
""",
)
def m_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source trigram overlap matrix — the train/eval leakage
    audit generalized from m_decontaminate's one-benchmark check to
    all source pairs: distinct trigrams per source, equi-self-join on
    the gram (shared grams only — never a source cross product), then
    per-pair Jaccard as a ratio of exact integers (safe in double).
    At 100 TB the gram sets would first collapse to minhash
    signatures (m_near_dedup's machinery) — the pair dataflow here is
    unchanged.

    r11 re-plan: trigrams are built INSIDE the row via transform over
    the staged split array BEFORE the explode (the former per-doc
    lead() window shuffled the whole positioned token stream), and the
    distinct gram table is pinned once — it feeds the sizes agg AND
    both sides of the pair self-join (three executions before)."""
    d = load_table(spark, sf_dir, "documents")
    split_docs = d.select("source", F.split("text", " ").alias("tk"))
    grams = (
        split_docs.select(
            "source",
            F.explode(
                F.when(
                    F.size("tk") >= 3,
                    F.expr(
                        "transform(sequence(1, size(tk) - 2),"
                        " i -> array_join(slice(tk, i, 3), ' '))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
        .transform(lambda df: checkpoint_df(df, eager=False))  # read 3x: sizes + both join sides
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    pairs = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n_grams", "na")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n_grams", "nb")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@query(
    "m_text_normalize",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS clean
  FROM documents
)
SELECT doc_id,
       length(clean) AS n_chars_clean,
       length(clean) - length(replace(clean, ' ', '')) + 1 AS n_tokens_clean,
       substring(clean, 1, 40) AS preview
FROM norm
WHERE doc_id < 100
""",
)
def m_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the first cleaning stage of a training
    pipeline: lowercase, strip non-alphanumerics, collapse runs of
    whitespace, trim. All JVM regexp_replace (no UDF; the corpus is
    ASCII so lower() agrees across engines — full Unicode NFC/casefold
    would be the documented Python-boundary exception). Emits
    deterministic post-clean stats + a preview slice per document."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.length(clean).alias("n_chars_clean"),
        (F.length(clean) - F.length(F.regexp_replace(clean, " ", "")) + 1).alias(
            "n_tokens_clean"
        ),
        F.substring(clean, 1, 40).alias("preview"),
    )


@query(
    "m_curation_pipeline",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('spark', 'join', 'filter', 'window'))) AS stop_hits
  FROM documents
), gated AS (
  SELECT * FROM scored
  WHERE n_tokens >= 10 AND stop_hits * 25 >= n_tokens
), survivors AS (
  SELECT min(doc_id) AS keep_id, min(lang) AS lang, min(n_tokens) AS n_tokens
  FROM gated GROUP BY text
)
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
FROM survivors
GROUP BY lang
""",
)
def m_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel as ONE declarative query — quality gate
    (length floor + stopword-density floor, cross-multiplied so no
    ratio touches a float) → exact dedup (min-id survivor per text) →
    per-language corpus stats. This is examples/pipeline_demo.py's
    spine compiled into a single Catalyst plan: one scan, the gate
    pushed below the dedup shuffle, one aggregate pair — at 100 TB the
    whole funnel is one job instead of three materialized stages.
    (Near-dup and decontamination stages stay separate operators:
    their bucketed joins want their own shuffle keys.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("spark", "join", "filter", "window"))
    )
    scored = d.select(
        "doc_id", "lang", "text", F.size(toks).alias("n_tokens"), stop_hits.alias("stop_hits")
    )
    gated = scored.where(
        (F.col("n_tokens") >= 10) & (F.col("stop_hits") * 25 >= F.col("n_tokens"))
    )
    survivors = gated.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
    )


@query(
    "m_corpus_stats",
    oracle="""
SELECT count(*) AS n_docs,
       count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST((1000000 * CAST(SUM(n_chars) AS BIGINT)) // count(*) AS BIGINT) AS mean_chars_micro,
       CAST((1000000 * CAST(SUM(len(string_split(text, ' '))) AS BIGINT)) // count(*) AS BIGINT) AS mean_tokens_micro
FROM documents
""",
)
def m_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row "dataset card" scan: corpus size, exact-dup count,
    language/source cardinality, token totals, and fixed-point mean
    doc lengths — the summary block every training-data release ships
    and the cheapest smoke test that an ingest produced the corpus you
    think it did.  Means are emitted as integer micro-units
    (CAST(1e6·Σ AS BIGINT) div n): a rounded double quotient of exact
    integers sits on rounding midpoints for small denominators and
    HALF_UP (Spark) vs half-even (DuckDB) would diverge (see CLAUDE.md
    m_lm_cross_entropy note).  One full scan, all aggregates partial
    (map-side combined); the distinct counts shuffle only
    (hash, lang, source) pairs — at 100 TB this runs at I/O speed."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(toks).alias("total_tokens"),
        F.expr("(1000000 * SUM(n_chars)) div count(*)").alias("mean_chars_micro"),
        (F.lit(1000000) * F.sum(toks)).alias("_tt"),
    ).select(
        "n_docs",
        "n_exact_dups",
        "n_langs",
        "n_sources",
        "total_tokens",
        "mean_chars_micro",
        F.expr("_tt div n_docs").alias("mean_tokens_micro"),
    )


@query(
    "m_temperature_mix",
    oracle="""
WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
w AS (
  SELECT lang, n,
         CAST(floor(round(pow(CAST(n AS DOUBLE), 0.7), 6) * 1000000 + 0.5) AS BIGINT) AS w_micro
  FROM s
)
SELECT lang, n AS n_docs, w_micro,
       (w_micro * 1000000) // CAST((SELECT SUM(w_micro) FROM w) AS BIGINT) AS share_ppm
FROM w
""",
)
def m_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: each LANGUAGE's sampling
    weight ∝ count^0.7 — the standard α-reweighting (XLM-R's
    multilingual sampling) that upsamples small languages relative to
    their raw share so English doesn't drown the mixture (the
    companion knob to m_source_mixture's fixed keep rates).  Keyed by
    lang, not source: the round-6 dead-column audit showed sources
    are round-robin UNIFORM in this corpus (25 docs each at sf0.01),
    which made every share identical — temperature scaling of equal
    masses demonstrates nothing; languages are measured skewed (en
    218 vs fr 64 at sf0.01, same shape at sf0.1), so the upweighting
    visibly compresses the range (en raw share 43% -> tempered ~31%).
    The only transcendental (pow) is rounded to the 1e-6 grid and
    converted to integer micro-units with an explicit
    floor(x*1e6 + 0.5) — double->int CASTs round in DuckDB but
    truncate in Spark, so the half-up rounding is spelled out rather
    than inherited; the final per-million share is pure integer
    division.  One group-by scan + a broadcast scalar total —
    arithmetic at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w_micro = F.floor(
        F.round(F.pow(F.col("n").cast("double"), 0.7), 6) * 1_000_000 + 0.5
    ).cast("bigint")
    w = s.select(
        "lang", F.col("n").alias("n_docs"), w_micro.alias("w_micro")
    ).transform(checkpoint_df)  # |langs| rows; both consumers (rows +
    # total) read it without re-scanning documents (code-review r6)
    return w.crossJoin(
        F.broadcast(w.agg(F.sum("w_micro").alias("tot")))
    ).select(
        "lang",
        "n_docs",
        "w_micro",
        F.expr("(w_micro * 1000000) div tot").alias("share_ppm"),
    )


# Tuned on MEASURED per-lang masses at all three SFs (round-5 rule:
# thresholds must fire everywhere, and cap==budget would degenerate to
# a constant epochs column): budget 3x / cap 4 binds 2 langs at
# sf0.001 (with a second-round CASCADE: capping de pushes zh over),
# 4 langs at sf0.01/0.1, and the uncapped remainder always differs.
_EPOCH_CAP = 4     # no document repeats more than 4 epochs
_EPOCH_BUDGET = 3  # sample 3x the corpus mass overall


def _epoch_cap_sql() -> str:
    """Unrolled-CTE SQL for the epoch-cap waterfill — ORACLE ONLY.
    DuckDB materializes chained CTEs so the five rounds are linear;
    running equivalent text on Spark would INLINE them and the two
    scalar subqueries per round blow up 3^5 (see m_epoch_cap_mix
    docstring, measured 13.4 s) — which is why there is no dialect
    parameter: the Spark side is a checkpointed loop, and this SQL
    must never grow a Spark caller."""
    div = "//"
    rounds = []
    prev = "r0"
    for k in range(1, 6):
        rounds.append(
            f"""r{k} AS (
  SELECT lang, n, cap, b,
         capped OR (
           (b - CAST(COALESCE((SELECT SUM(cap) FROM {prev} WHERE capped), 0) AS BIGINT))
           {div} CAST((SELECT COUNT(*) FROM {prev} WHERE NOT capped) AS BIGINT)
         ) > cap AS capped
  FROM {prev}
)"""
        )
        prev = f"r{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH langs AS (SELECT lang, count(*) AS n FROM {{documents}} GROUP BY lang),
r0 AS (
  SELECT lang, CAST(n AS BIGINT) AS n, CAST({_EPOCH_CAP} * n AS BIGINT) AS cap,
         CAST({_EPOCH_BUDGET} * (SELECT SUM(n) FROM langs) AS BIGINT) AS b,
         FALSE AS capped
  FROM langs
),
{rounds_sql},
fin AS (
  SELECT lang, n, cap, capped,
         b - CAST(COALESCE((SELECT SUM(cap) FROM r5 WHERE capped), 0) AS BIGINT) AS rem,
         CAST((SELECT COUNT(*) FROM r5 WHERE NOT capped) AS BIGINT) AS nu
  FROM r5
)
SELECT lang, n AS n_docs, cap AS cap_docs,
       CAST(CASE WHEN capped THEN cap ELSE rem {div} nu END AS BIGINT) AS alloc_docs,
       CASE WHEN capped THEN 1 ELSE 0 END AS capped,
       CAST((CASE WHEN capped THEN cap ELSE rem {div} nu END) * 1000000 {div} n
         AS BIGINT) AS epochs_ppm
FROM fin
"""


@query("m_epoch_cap_mix", oracle=_epoch_cap_sql().format(documents="documents"))
def m_epoch_cap_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped mixture waterfill: allocate a training budget of
    {_EPOCH_BUDGET}x the corpus mass UNIFORMLY across languages, but
    no language may repeat beyond {_EPOCH_CAP} epochs of its own mass
    — the "repeat small sources at most k times" rule every
    data-constrained pretraining mix applies. Surplus from capped
    languages re-splits equally among the uncapped each round; five
    unrolled rounds is a fixed point for any 5-language corpus (each
    round either caps a new language or changes nothing). Keyed by
    lang — measured SKEWED (en 218 / fr 64 at sf0.01), so the cap
    genuinely binds and the redistribution fires; keying by the
    round-robin-uniform source column would make every branch dead
    (round-6 audit rule). All arithmetic is BIGINT with explicit
    integer division; the DuckDB oracle runs the waterfill as five
    unrolled CTE rounds.

    The Spark side is a checkpointed DataFrame LOOP, not the same
    unrolled SQL: Spark INLINES chained CTEs, and each round's two
    scalar subqueries re-plan the previous round's whole subtree —
    T(k)=3·T(k-1) ≈ 3^5 re-executions, measured 13.4 s at sf0.1 for a
    5-row computation (the q_sql_scripting trap in CTE form). Each
    round here is one scalar aggregate over the checkpointed 5-row
    state crossJoined back — arithmetic at any corpus size; only the
    initial lang group-by touches the corpus."""
    d = load_table(spark, sf_dir, "documents")
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    total = langs.agg(F.sum("n").cast("bigint").alias("t"))
    state = (
        langs.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n",
            (F.lit(_EPOCH_CAP) * F.col("n")).alias("cap"),
            (F.lit(_EPOCH_BUDGET) * F.col("t")).alias("b"),
            F.lit(False).alias("capped"),
        )
        .transform(checkpoint_df)  # |langs| rows
    )
    for _ in range(5):
        round_agg = state.agg(
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)
            ).cast("bigint").alias("fixed"),
            F.count(F.when(~F.col("capped"), 1)).cast("bigint").alias("nu"),
        )
        state = (
            state.crossJoin(F.broadcast(round_agg))
            .select(
                "lang",
                "n",
                "cap",
                "b",
                (
                    F.col("capped")
                    | (F.expr("(b - fixed) div nu") > F.col("cap"))
                ).alias("capped"),
            )
            .transform(lambda df: checkpoint_df(df, eager=False))
        )
    fin = state.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0))
        .cast("bigint")
        .alias("fixed"),
        F.count(F.when(~F.col("capped"), 1)).cast("bigint").alias("nu"),
    )
    return (
        state.crossJoin(F.broadcast(fin))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.col("cap").alias("cap_docs"),
            F.expr(
                "CAST(CASE WHEN capped THEN cap ELSE (b - fixed) div nu END AS BIGINT)"
            ).alias("alloc_docs"),
            F.when(F.col("capped"), 1).otherwise(0).alias("capped"),
            F.expr(
                "CAST((CASE WHEN capped THEN cap ELSE (b - fixed) div nu END)"
                " * 1000000 div n AS BIGINT)"
            ).alias("epochs_ppm"),
        )
    )


def _heldout_lm_cache(spark: SparkSession, sf_dir: str) -> str:
    """Build-once held-out n-gram spine shared by the three smoothing
    scorers (m_backoff_lm / m_jm_interp_lm / m_kneser_ney_lm — the r8
    verdict's item 4): ONE posexplode + ONE per-doc lead() window pass
    over the corpus materializes every table all three need, keyed by
    the documents fingerprint in the cache.py build-once cache.  Two
    hash splits ride along (half_m = mod-1000003 for backoff, half_p =
    mod-2^31 for JM/KN — historical, and pinned by each operator's
    measured firing-rate docstrings, so NOT unified).  Published dirs:

    - ``tri_val_m``  doc_id,t1,t2,t3   backoff's validation trigrams
    - ``bi_val_p``   doc_id,w1,w2      JM/KN validation bigrams
    - ``c3_m``       t1,t2,t3,c        train trigram counts (half_m=0)
    - ``c2b_m``      t2,t3,c           train bigram counts (half_m=0)
    - ``cu_m``       tok,c             train unigram counts (half_m=0)
    - ``c12_p``      w1,w2,c           train bigram counts (half_p=0)
    - ``cu_p``       tok,c             train unigram counts (half_p=0)

    Rollups (c2p, c1, n1w1, continuation counts) and the N+V / B+V
    scalars are DERIVED from these in each scorer — they are cheap
    aggregates of already-counted tables, and computing the scalars as
    aggregates (not cached 1-row files) keeps the broadcast-lineage
    audit's scalar-agg bounding proof intact.  Counts are exact
    BIGINTs and tokens exact strings, so the parquet round-trip is
    hash-transparent: all three scorers stayed hash-identical at three
    scales across this refactor.  At 100 TB this cache is the
    persisted n-gram count store a production LM-scoring pipeline
    would build anyway — counted once, scored many times."""

    def build(into: str) -> None:
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            ((F.col("doc_id") * _MIX_A % _MIX_M) % 2).alias("half_m"),
            ((F.col("doc_id") * _MIX_A % 2147483648) % 2).alias("half_p"),
        )
        toks = d.select(
            "doc_id",
            "half_m",
            "half_p",
            F.posexplode(F.split("text", " ")).alias("i", "tok"),
        )
        w = Window.partitionBy("doc_id").orderBy("i")
        grams = toks.select(
            "doc_id",
            "half_m",
            "half_p",
            F.col("tok").alias("t1"),
            F.lead("tok", 1).over(w).alias("t2"),
            F.lead("tok", 2).over(w).alias("t3"),
        ).localCheckpoint()  # one window pass feeds all seven writes
        bi = grams.where(F.col("t2").isNotNull())
        tri = grams.where(F.col("t3").isNotNull())

        def put(df, name):
            df.write.mode("overwrite").parquet(os.path.join(into, name))

        put(tri.where(F.col("half_m") == 1).select("doc_id", "t1", "t2", "t3"),
            "tri_val_m")
        put(bi.where(F.col("half_p") == 1).select(
                "doc_id", F.col("t1").alias("w1"), F.col("t2").alias("w2")),
            "bi_val_p")
        put(tri.where(F.col("half_m") == 0).groupBy("t1", "t2", "t3")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
            "c3_m")
        put(bi.where(F.col("half_m") == 0)
                .groupBy(F.col("t1").alias("t2"), F.col("t2").alias("t3"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
            "c2b_m")
        # unigram counts come off the checkpointed grams frame too —
        # it has exactly one row per token position (t1 = the token at
        # i), so counting t1 equals counting toks and all SEVEN writes
        # read the single materialized pass (reading `toks` here
        # re-ran the corpus posexplode twice more, ADVICE r09)
        put(grams.where(F.col("half_m") == 0)
                .groupBy(F.col("t1").alias("tok"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
            "cu_m")
        put(bi.where(F.col("half_p") == 0)
                .groupBy(F.col("t1").alias("w1"), F.col("t2").alias("w2"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
            "c12_p")
        put(grams.where(F.col("half_p") == 0)
                .groupBy(F.col("t1").alias("tok"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
            "cu_p")

    from ..cache import cache_publish, table_fingerprint

    return cache_publish(
        # v2: unigram counts derived from the checkpointed grams frame
        # (one corpus pass); counts identical, key bumped so the new
        # build path is what every check exercises
        build, ("heldout_lm", 2, table_fingerprint(sf_dir, "documents"))
    )


@query(
    "m_backoff_lm",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, text, (doc_id * {_MIX_A} % {_MIX_M}) % 2 AS half
  FROM documents
),
toks AS (
  SELECT doc_id, half, generate_subscripts(string_split(text, ' '), 1) AS i,
         unnest(string_split(text, ' ')) AS tok
  FROM docs
),
tri AS (
  SELECT a.doc_id, a.half, a.tok AS t1, b.tok AS t2, c.tok AS t3
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
c3 AS (SELECT t1, t2, t3, count(*) AS c FROM tri WHERE half = 0 GROUP BY 1,2,3),
c2p AS (SELECT t1, t2, CAST(sum(c) AS BIGINT) AS c FROM c3 GROUP BY 1,2),
bi AS (
  SELECT a.half, a.tok AS t2, b.tok AS t3
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
),
c2b AS (SELECT t2, t3, count(*) AS c FROM bi WHERE half = 0 GROUP BY 1,2),
c1 AS (SELECT t2, CAST(sum(c) AS BIGINT) AS c FROM c2b GROUP BY 1),
c1f AS (SELECT tok AS t3, count(*) AS c FROM toks WHERE half = 0 GROUP BY 1),
nv AS (
  SELECT CAST((SELECT count(*) FROM toks WHERE half = 0)
              + (SELECT count(DISTINCT tok) FROM toks WHERE half = 0)
         AS BIGINT) AS nv
),
scored AS (
  SELECT v.doc_id,
         CASE WHEN c3.c IS NOT NULL THEN 0
              WHEN c2b.c IS NOT NULL THEN 1 ELSE 2 END AS lvl,
         CASE
           WHEN c3.c IS NOT NULL
             THEN round(log2(CAST(c2p.c AS DOUBLE) / c3.c), 6)
           WHEN c2b.c IS NOT NULL
             THEN round(log2(CAST(c1.c AS DOUBLE) * 2.5 / c2b.c), 6)
           ELSE round(log2(CAST(nv.nv AS DOUBLE) * 6.25
                           / (COALESCE(c1f.c, 0) + 1)), 6)
         END AS bits
  FROM tri v
  LEFT JOIN c3 ON c3.t1 = v.t1 AND c3.t2 = v.t2 AND c3.t3 = v.t3
  LEFT JOIN c2p ON c2p.t1 = v.t1 AND c2p.t2 = v.t2
  LEFT JOIN c2b ON c2b.t2 = v.t2 AND c2b.t3 = v.t3
  LEFT JOIN c1 ON c1.t2 = v.t2
  LEFT JOIN c1f ON c1f.t3 = v.t3
  CROSS JOIN nv
  WHERE v.half = 1
)
SELECT doc_id,
       count(*) AS n_scored,
       COUNT(CASE WHEN lvl = 0 THEN 1 END) AS n_tri_hits,
       COUNT(CASE WHEN lvl = 1 THEN 1 END) AS n_bigram_backoffs,
       COUNT(CASE WHEN lvl = 2 THEN 1 END) AS n_unigram_floors,
       CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT) // count(*)
         AS avg_microbits
FROM scored GROUP BY doc_id
""",
)
def m_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT stupid-backoff scoring (Brants et al. 2007): a trigram
    LM is trained on the hash-half of the corpus and the other half is
    scored with trigram → bigram → add-1-unigram backoff (penalty 0.4
    per level).  Self-scoring would make every backoff branch dead
    (the training corpus contains all of its own n-grams); the
    train/val split makes all three levels fire where the corpus
    allows — MEASURED 8250 / 8461 / 1182 bigram-level backoffs at
    sf0.001/0.01/0.1 (coverage saturates as train grows, which is the
    honest curve; the audit scale sf0.01 also fires the unigram floor
    6 times).  Hash-safety: the 0.4 and 0.16 penalties enter as
    EXACT-binary multipliers 2.5 and 6.25 on the INVERSE ratio inside
    log2, so both engines hand log2 the identical double; each
    position's bits are rounded to 6 dp and summed in DECIMAL, and
    the per-doc average is fixed-point micro-bits (the
    m_lm_cross_entropy discipline).  Scale: the trigram/bigram count
    tables grow with TRAINING-CORPUS MASS, not vocabulary — MEASURED
    at sf0.01→sf0.1 distinct trigrams go 9,964→26,893 (still growing
    at 10×) while c2p/c2b saturate near vocab² (900/943→902/962 on
    the 31-token synthetic vocab; on real text they grow too) — so
    c3/c2p/c2b are joined WITHOUT a broadcast hint: AQE converts the
    join to broadcast at runtime when the built side is actually
    small (the engine-native size gate, from accurate post-shuffle
    sizes) and degrades to a shuffle join at 100× where a forced
    broadcast would OOM.  Only the genuinely vocabulary-sized c1/c1f
    and the scalar nv keep compile-time hints
    (tests/test_plans.py pins this shape).  The explode + per-doc
    lead() window run ONCE per corpus in _heldout_lm_cache (shared
    with the JM/KN scorers); this function is the cheap part — reads
    of the counted tables, two rollups, and the scoring join."""
    cache = _heldout_lm_cache(spark, sf_dir)
    c3 = spark.read.parquet(os.path.join(cache, "c3_m")).select(
        "t1", "t2", "t3", F.col("c").alias("c3")
    )
    c2p = c3.groupBy("t1", "t2").agg(F.sum("c3").cast("bigint").alias("c2p"))
    c2b = spark.read.parquet(os.path.join(cache, "c2b_m")).select(
        "t2", "t3", F.col("c").alias("c2b")
    )
    c1 = c2b.groupBy("t2").agg(F.sum("c2b").cast("bigint").alias("c1"))
    c1f = spark.read.parquet(os.path.join(cache, "cu_m")).select(
        F.col("tok").alias("t3f"), F.col("c").alias("c1f")
    )
    cu_m = spark.read.parquet(os.path.join(cache, "cu_m"))
    nv = cu_m.agg(
        (F.sum("c") + F.count(F.lit(1))).cast("bigint").alias("nv")
    )
    val = spark.read.parquet(os.path.join(cache, "tri_val_m"))
    scored = (
        val.join(c3, ["t1", "t2", "t3"], "left")
        .join(c2p, ["t1", "t2"], "left")
        .join(c2b, ["t2", "t3"], "left")
        .join(F.broadcast(c1), ["t2"], "left")
        .join(F.broadcast(c1f), F.col("t3") == F.col("t3f"), "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.when(F.col("c3").isNotNull(), 0)
            .when(F.col("c2b").isNotNull(), 1)
            .otherwise(2)
            .alias("lvl"),
            F.when(
                F.col("c3").isNotNull(),
                F.round(F.log2(F.col("c2p").cast("double") / F.col("c3")), 6),
            )
            .when(
                F.col("c2b").isNotNull(),
                F.round(
                    F.log2(F.col("c1").cast("double") * 2.5 / F.col("c2b")), 6
                ),
            )
            .otherwise(
                F.round(
                    F.log2(
                        F.col("nv").cast("double")
                        * 6.25
                        / (F.coalesce(F.col("c1f"), F.lit(0)) + 1)
                    ),
                    6,
                )
            )
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.count(F.when(F.col("lvl") == 0, 1)).alias("n_tri_hits"),
        F.count(F.when(F.col("lvl") == 1, 1)).alias("n_bigram_backoffs"),
        F.count(F.when(F.col("lvl") == 2, 1)).alias("n_unigram_floors"),
        F.expr(
            "CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)"
            " div count(*)"
        ).alias("avg_microbits"),
    )


@query(
    "m_jm_interp_lm",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text,
         (doc_id * {_MIX_A} % 2147483648) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, tok, i FROM (
    SELECT doc_id, half,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM d)
), bi AS (
  SELECT doc_id, half, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bi
  WHERE half = 0 AND w2 IS NOT NULL GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
), cu AS (
  SELECT tok AS w2u, count(*) AS cu FROM toks WHERE half = 0 GROUP BY tok
), nv AS (
  SELECT CAST(count(*) + count(DISTINCT tok) AS BIGINT) AS nv
  FROM toks WHERE half = 0
), scored AS (
  SELECT b.doc_id,
         CASE WHEN coalesce(c12.c12, 0) = 0 THEN 1 ELSE 0 END AS novel,
         round(log2(
           CASE WHEN coalesce(c1.c1, 0) > 0
                THEN CAST(4 * c1.c1 * nv.nv AS DOUBLE)
                     / (3 * coalesce(c12.c12, 0) * nv.nv
                        + c1.c1 * (coalesce(cu.cu, 0) + 1))
                ELSE CAST(nv.nv AS DOUBLE) / (coalesce(cu.cu, 0) + 1)
           END), 6) AS bits
  FROM bi b
  LEFT JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
  LEFT JOIN c1 ON c1.w1 = b.w1
  LEFT JOIN cu ON cu.w2u = b.w2
  CROSS JOIN nv
  WHERE b.half = 1 AND b.w2 IS NOT NULL
)
SELECT doc_id,
       count(*) AS n_scored,
       COUNT(CASE WHEN novel = 1 THEN 1 END) AS n_novel_bigrams,
       CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
         // count(*) AS avg_microbits
FROM scored GROUP BY doc_id
""",
)
def m_jm_interp_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer INTERPOLATED bigram scoring (Jelinek & Mercer
    1980; the fixed-weight linear smoothing of Chen & Goodman 1999,
    eq. 4): P(w2|w1) = 0.75·c12/c1 + 0.25·(cu+1)/(N+V), trained on
    the hash-half and scoring the other half — the MIXTURE
    alternative to m_backoff_lm's stupid backoff (backoff SWITCHES
    distributions; interpolation always blends both, so novel
    bigrams still get probability mass from the context count).

    Hash-safety: with λ = 3/4 (exact binary) the mixed probability is
    the exact integer rational (3·c12·NV + c1·(cu+1)) / (4·c1·NV),
    so both engines hand log2 one identical double quotient of exact
    BIGINTs — no float addition of two ratios ever happens (adding
    doubles would reintroduce rounding asymmetry); the c1=0 guard
    falls back to the smoothed unigram ratio (closed 31-token vocab
    makes it unreachable here, but real corpora need it — it guards
    a division, not a gate, so no audit column depends on it).
    Per-position bits round to 6 dp, DECIMAL-sum, fixed-point
    micro-bits per doc (house LM discipline).  n_novel_bigrams
    (c12 = 0 — the rows where interpolation and backoff genuinely
    differ) is MEASURED 7 / 6 / 0 docs-with-novelty at
    sf0.001/0.01/0.1: the synthetic 31-token vocab has only 961
    possible bigrams and 135k train tokens cover them all at sf0.1 —
    the same coverage-saturation curve m_backoff_lm documents; the
    column fires at the sf0.01 audit scale and on any open-vocab
    corpus.  Scale: counts
    are two hash aggregates; the scoring joins are n-gram-keyed and
    UNHINTED (the bigram table grows with corpus mass — the
    m_backoff_lm round-8 rule); magnitude: 3·c12·NV < 2^63 up to
    ~1e9 train tokens, beyond which the ratio moves to micro-ppm
    integer scaling.  Count tables come from the shared
    _heldout_lm_cache spine (one explode+window pass serves all three
    smoothing scorers)."""
    cache = _heldout_lm_cache(spark, sf_dir)
    c12 = spark.read.parquet(os.path.join(cache, "c12_p")).select(
        "w1", "w2", F.col("c").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    cu_p = spark.read.parquet(os.path.join(cache, "cu_p"))
    cu = cu_p.select(F.col("tok").alias("w2u"), F.col("c").alias("cu"))
    nv = cu_p.agg(
        (F.sum("c") + F.count(F.lit(1))).cast("bigint").alias("nv")
    )
    val = spark.read.parquet(os.path.join(cache, "bi_val_p"))
    scored = (
        val.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(cu, F.col("w2") == F.col("w2u"), "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.when(F.coalesce(F.col("c12"), F.lit(0)) == 0, 1)
            .otherwise(0)
            .alias("novel"),
            F.round(
                F.log2(
                    F.when(
                        F.coalesce(F.col("c1"), F.lit(0)) > 0,
                        (F.lit(4) * F.col("c1") * F.col("nv")).cast("double")
                        / (
                            F.lit(3) * F.coalesce(F.col("c12"), F.lit(0)) * F.col("nv")
                            + F.col("c1") * (F.coalesce(F.col("cu"), F.lit(0)) + 1)
                        ),
                    ).otherwise(
                        F.col("nv").cast("double")
                        / (F.coalesce(F.col("cu"), F.lit(0)) + 1)
                    )
                ),
                6,
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.count(F.when(F.col("novel") == 1, 1)).alias("n_novel_bigrams"),
        F.expr(
            "CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)"
            " div count(*)"
        ).alias("avg_microbits"),
    )


@query(
    "m_witten_bell_lm",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text,
         (doc_id * {_MIX_A} % 2147483648) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, tok, i FROM (
    SELECT doc_id, half,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM d)
), bi AS (
  SELECT doc_id, half, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bi
  WHERE half = 0 AND w2 IS NOT NULL GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1w1
  FROM c12 GROUP BY w1
), cu AS (
  SELECT tok AS w2u, count(*) AS cu FROM toks WHERE half = 0 GROUP BY tok
), nv AS (
  SELECT CAST(count(*) + count(DISTINCT tok) AS BIGINT) AS nv
  FROM toks WHERE half = 0
), scored AS (
  SELECT b.doc_id,
         coalesce(c1.n1w1, 0) AS n1w1,
         round(log2(
           CASE WHEN coalesce(c1.c1, 0) > 0
                THEN CAST((c1.c1 + c1.n1w1) * nv.nv AS DOUBLE)
                     / (coalesce(c12.c12, 0) * nv.nv
                        + c1.n1w1 * (coalesce(cu.cu, 0) + 1))
                ELSE CAST(nv.nv AS DOUBLE) / (coalesce(cu.cu, 0) + 1)
           END), 6) AS bits
  FROM bi b
  LEFT JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
  LEFT JOIN c1 ON c1.w1 = b.w1
  LEFT JOIN cu ON cu.w2u = b.w2
  CROSS JOIN nv
  WHERE b.half = 1 AND b.w2 IS NOT NULL
)
SELECT doc_id,
       count(*) AS n_scored,
       CAST(SUM(n1w1) AS BIGINT) AS ctx_diversity_sum,
       CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
         // count(*) AS avg_microbits
FROM scored GROUP BY doc_id
""",
)
def m_witten_bell_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Witten-Bell interpolated bigram scoring (Witten & Bell 1991;
    Chen & Goodman 1999 eq. 16) — the FOURTH smoothing variant on the
    shared _heldout_lm_cache spine, and the round-9 proof that the
    spine made new smoothers a ~50-line add: unlike JM's fixed λ, the
    mixing weight is learned per context from the data itself,
    λ(w1) = c1/(c1 + N1+(w1·)) — contexts that produced many DISTINCT
    continuations get more smoothing mass (they are likely to produce
    another new one; the same "novel events ≈ observed novelty"
    estimator family as Good-Turing).

    Hash-safety: λ(w1) is a ratio of exact integers, and the whole
    mixed probability collapses to the single exact rational
    [c12·NV + n1w1·(cu+1)] / [(c1+n1w1)·NV], so both engines hand
    log2 one identical double quotient (the m_jm_interp_lm rule —
    no float addition of partial ratios). The numerator is ≥ 1
    whenever c1 > 0 (n1w1 ≥ 1 by construction); the c1 = 0 fallback
    is the smoothed unigram (division guard, not a gate).
    Per-position bits round to 6 dp, DECIMAL-sum, fixed-point
    micro-bits per doc. ctx_diversity_sum (Σ N1+(w1·) over scored
    positions — the quantity WB is ABOUT) is an always-firing exact
    BIGINT that varies per doc at every scale (no threshold gate to
    go vacuous). Scale: identical shape to m_jm_interp_lm — cached
    count tables, one rollup, n-gram-keyed UNHINTED scoring joins;
    c12·NV < 2^63 to ~1e9 train tokens, then micro-ppm scaling."""
    cache = _heldout_lm_cache(spark, sf_dir)
    c12 = spark.read.parquet(os.path.join(cache, "c12_p")).select(
        "w1", "w2", F.col("c").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1w1"),
    )
    cu_p = spark.read.parquet(os.path.join(cache, "cu_p"))
    cu = cu_p.select(F.col("tok").alias("w2u"), F.col("c").alias("cu"))
    nv = cu_p.agg(
        (F.sum("c") + F.count(F.lit(1))).cast("bigint").alias("nv")
    )
    val = spark.read.parquet(os.path.join(cache, "bi_val_p"))
    scored = (
        val.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(cu, F.col("w2") == F.col("w2u"), "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.coalesce(F.col("n1w1"), F.lit(0)).alias("n1w1"),
            F.round(
                F.log2(
                    F.when(
                        F.coalesce(F.col("c1"), F.lit(0)) > 0,
                        ((F.col("c1") + F.col("n1w1")) * F.col("nv")).cast("double")
                        / (
                            F.coalesce(F.col("c12"), F.lit(0)) * F.col("nv")
                            + F.col("n1w1") * (F.coalesce(F.col("cu"), F.lit(0)) + 1)
                        ),
                    ).otherwise(
                        F.col("nv").cast("double")
                        / (F.coalesce(F.col("cu"), F.lit(0)) + 1)
                    )
                ),
                6,
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("n1w1").cast("bigint").alias("ctx_diversity_sum"),
        F.expr(
            "CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)"
            " div count(*)"
        ).alias("avg_microbits"),
    )


@query(
    "m_ngram_speculate",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text,
         (doc_id * {_MIX_A} % {_MIX_M}) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, tok, i FROM (
    SELECT doc_id, half,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM d)
), tri AS (
  SELECT a.doc_id, a.half, a.tok AS t1, b.tok AS t2, c.tok AS t3
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), c3 AS (
  SELECT t1, t2, t3, count(*) AS c FROM tri WHERE half = 0 GROUP BY 1, 2, 3
), cmax AS (
  SELECT t1, t2, max(c) AS cmax FROM c3 GROUP BY t1, t2
), pred AS (
  SELECT c3.t1, c3.t2, min(c3.t3) AS draft
  FROM c3 JOIN cmax ON cmax.t1 = c3.t1 AND cmax.t2 = c3.t2
  WHERE c3.c = cmax.cmax
  GROUP BY c3.t1, c3.t2
)
SELECT v.doc_id,
       count(*) AS n_positions,
       count(p.draft) AS n_drafted,
       count(CASE WHEN p.draft = v.t3 THEN 1 END) AS n_accepted
FROM tri v LEFT JOIN pred p ON p.t1 = v.t1 AND p.t2 = v.t2
WHERE v.half = 1
GROUP BY v.doc_id
""",
)
def m_ngram_speculate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance-rate audit (Leviathan et al.
    2023's accept/reject bookkeeping, with the cheapest possible draft
    model — a greedy trigram table): for every held-out trigram
    position the draft proposes argmax_w c(t1, t2, w) from the train
    half, and the position is ACCEPTED when the proposal equals the
    actual continuation. The per-doc acceptance profile is the
    go/no-go measurement for n-gram draft tables in a
    speculative-decoding pipeline, and doubles as a memorization probe
    (high acceptance = highly predictable text).

    Rides the shared ``_heldout_lm_cache`` spine (fifth consumer): the
    draft table is one groupBy over the cached c3_m counts. The
    TRIGRAM context is deliberate — a bigram draft saturated
    (n_drafted == n_positions at every scale: the corpus word stock
    is shared enough that every unigram context is seen; the round-8
    "prefer a scope that makes the branch fire" rule), while two-token
    contexts genuinely miss, so the no-draft branch fires at every
    scale. Argmax tiebreak is engine-shared WITHOUT composite arg_max
    (round-8 DuckDB trap): max count per context, then min(t3) among
    rows at the max. All outputs are exact BIGINT counts — no
    rounding surface at all. Scale: two aggregates over the cached
    count table + one n-gram-keyed UNHINTED scoring join."""
    cache = _heldout_lm_cache(spark, sf_dir)
    c3 = spark.read.parquet(os.path.join(cache, "c3_m")).select(
        "t1", "t2", "t3", F.col("c").alias("c3")
    )
    cmax = c3.groupBy("t1", "t2").agg(F.max("c3").alias("cmax"))
    pred = (
        c3.join(cmax, ["t1", "t2"])
        .where(F.col("c3") == F.col("cmax"))
        .groupBy("t1", "t2")
        .agg(F.min("t3").alias("draft"))
    )
    val = spark.read.parquet(os.path.join(cache, "tri_val_m"))
    return (
        val.join(pred, ["t1", "t2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.count("draft").alias("n_drafted"),
            F.count(F.when(F.col("draft") == F.col("t3"), 1)).alias("n_accepted"),
        )
    )


@query(
    "m_keyword_odds",
    oracle="""
WITH toks AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
), cnt AS (
  SELECT tok,
         count(CASE WHEN is_en = 1 THEN 1 END) AS c_en,
         count(CASE WHEN is_en = 0 THEN 1 END) AS c_rest
  FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c_en) AS BIGINT) AS n_en,
         CAST(SUM(c_rest) AS BIGINT) AS n_rest
  FROM cnt
)
SELECT tok, c_en, c_rest,
       (1000000 * c_en * (n_rest - c_rest + 1))
         // ((n_en - c_en + 1) * (c_rest + 1)) AS odds_ppm
FROM cnt CROSS JOIN tot
WHERE c_en >= 5
ORDER BY odds_ppm DESC, tok ASC
LIMIT 20
""",
)
def m_keyword_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive-keyword extraction by smoothed odds ratio (the
    log-odds corpus-comparison family, Monroe et al. 2008, minus the
    log — the log is monotone, so the RANKING is identical and the
    whole surface stays exact-integer): for every token, the odds of
    appearing in English text vs the odds in the rest of the corpus,
    Haldane-Anscombe (+1) smoothed, emitted in fixed-point ppm via
    BIGINT floor-division (positive operands — Spark div and DuckDB //
    agree). Top-20 by (odds_ppm, token) is ORDER BY .. LIMIT — a
    TakeOrderedAndProject, bounded output over a corpus-growing vocab
    (the round-6 global-window rule).

    The c_en >= 5 support gate fires non-vacuously at every scale
    (en is the majority lang — 218/500 docs at sf0.01 — so common
    tokens clear it even at sf0.001). Overflow bound: the ppm
    numerator is 1e6 * c_en * N_rest <= 1e6 * (2.6e5)^2 ~ 7e16 at
    sf0.1 and stays < 2^63 to ~3e6-token corpora per side; beyond
    that, scale to per-shard counts first. Scale: one explode + one
    hash aggregate + a broadcast scalar — no window, no all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.when(F.col("is_en") == 1, 1)).alias("c_en"),
        F.count(F.when(F.col("is_en") == 0, 1)).alias("c_rest"),
    )
    tot = cnt.agg(
        F.sum("c_en").cast("bigint").alias("n_en"),
        F.sum("c_rest").cast("bigint").alias("n_rest"),
    )
    return (
        cnt.where(F.col("c_en") >= 5)
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c_en",
            "c_rest",
            F.expr(
                "(1000000 * c_en * (n_rest - c_rest + 1))"
                " div ((n_en - c_en + 1) * (c_rest + 1))"
            ).alias("odds_ppm"),
        )
        .orderBy(F.col("odds_ppm").desc(), F.col("tok").asc())
        .limit(20)
    )


_FOLD_K = 5


@query(
    "m_doremi_round",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, lang,
         (doc_id * {_MIX_A} % 2147483648) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, lang, unnest(string_split(text, ' ')) AS tok FROM d
), lm AS (
  SELECT tok, count(*) AS c FROM toks WHERE half = 0 GROUP BY tok
), nv AS (
  SELECT CAST(count(*) + count(DISTINCT tok) AS BIGINT) AS nv
  FROM toks WHERE half = 0
), w0 AS (
  SELECT lang, count(*) AS w0 FROM toks WHERE half = 0 GROUP BY lang
), scored AS (
  SELECT t.lang,
         round(log2(CAST(nv.nv AS DOUBLE) / (coalesce(lm.c, 0) + 1)), 6) AS bits
  FROM toks t LEFT JOIN lm ON lm.tok = t.tok CROSS JOIN nv
  WHERE t.half = 1
), per_lang AS (
  SELECT lang,
         count(*) AS n_tok,
         CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
           // count(*) AS micro
  FROM scored GROUP BY lang
), ref AS (
  SELECT CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
           // count(*) AS ref_micro
  FROM scored
), upd AS (
  SELECT p.lang, w0.w0, p.n_tok, p.micro, ref.ref_micro,
         greatest(p.micro - ref.ref_micro, 0) AS excess,
         least(greatest(p.micro - ref.ref_micro, 0) // 250, 8) AS shift
  FROM per_lang p JOIN w0 USING (lang) CROSS JOIN ref
), raw AS (
  SELECT *, w0 * (CAST(1 AS BIGINT) << CAST(shift AS INT)) AS weight_raw
  FROM upd
)
SELECT lang, n_tok, micro, excess AS excess_microbits, shift,
       weight_raw,
       (weight_raw * 1000) // (SELECT CAST(SUM(weight_raw) AS BIGINT) FROM raw)
         AS weight_permille
FROM raw
""",
)
def m_doremi_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting round (Xie et al. 2023,
    public formulation: raise the sampling weight of domains whose
    proxy-model loss EXCEEDS the reference loss, multiplicatively):
    domains are languages, the proxy loss is held-out unigram
    bits/token per lang (train = hash-half 0, the m_ppl_buckets
    scorer), the reference is the all-domain held-out loss, and the
    multiplicative update runs entirely in INTEGERS — one weight
    doubling per 250 micro-bits of excess loss, capped at 2^8, on a
    base weight of the domain's train token mass.  The step is tuned
    on the MEASURED excess distribution (97–5,488 microbits across
    the three scales — the synthetic langs share most word stock, so
    losses sit close together; a naive 0.25-bit step left the shift
    column DEAD at every scale, the vacuous-gate trap).  exp(eta*excess) is
    replaced by the exact power-of-two ladder so no transcendental or
    float division ever enters the hash-checked path; the final mix is
    emitted both raw and as truncated permille of the total
    (positive-integer div — identical in both engines).  Non-vacuous:
    langs differ in held-out loss (skewed lang mix, disjoint
    word stock), so both the excess>0 and the clamped-to-0 branch
    fire at every scale (MEASURED via the three-scale gate).  Scale:
    two scans of the token stream (LM build + scoring), the per-lang
    solve is |langs| rows, vocabulary join unhinted (AQE)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        ((F.col("doc_id") * _MIX_A % 2147483648) % 2).alias("half"),
    )
    toks = d.select(
        "lang", "half", F.explode(F.split("text", " ")).alias("tok")
    )
    train = toks.where(F.col("half") == 0)
    lm = train.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nv = train.agg(
        (F.count(F.lit(1)) + F.countDistinct("tok")).cast("bigint").alias("nv")
    )
    w0 = train.groupBy("lang").agg(F.count(F.lit(1)).alias("w0"))
    scored = (
        toks.where(F.col("half") == 1)
        .join(lm, "tok", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "lang",
            F.round(
                F.log2(
                    F.col("nv").cast("double")
                    / (F.coalesce(F.col("c"), F.lit(0)) + 1)
                ),
                6,
            ).alias("bits"),
        )
    )
    per_lang = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.col("bits").cast("decimal(28,10)")).alias("s"),
    ).select(
        "lang", "n_tok", F.expr("CAST(s * 1000000 AS BIGINT) div n_tok").alias("micro")
    )
    ref = scored.agg(
        F.expr(
            "CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)"
            " div count(*)"
        ).alias("ref_micro")
    )
    upd = (
        per_lang.join(F.broadcast(w0), "lang")
        .crossJoin(F.broadcast(ref))
        .select(
            "lang",
            "n_tok",
            "micro",
            F.greatest(F.col("micro") - F.col("ref_micro"), F.lit(0)).alias(
                "excess_microbits"
            ),
            "w0",
        )
        .select(
            "lang",
            "n_tok",
            "micro",
            "excess_microbits",
            F.least(F.expr("excess_microbits div 250"), F.lit(8))
            .cast("bigint")
            .alias("shift"),
            "w0",
        )
        .select(
            "*",
            (
                F.col("w0")
                * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(shift AS INT))")
            ).alias("weight_raw"),
        )
    )
    total = upd.agg(F.sum("weight_raw").cast("bigint").alias("tot"))
    return (
        upd.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_tok",
            "micro",
            "excess_microbits",
            "shift",
            "weight_raw",
            F.expr("(weight_raw * 1000) div tot").alias("weight_permille"),
        )
    )


@query(
    "m_best_of_n",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         doc_id // 8 AS block,
         (1000 * len(list_distinct(string_split(text, ' '))))
           // len(string_split(text, ' ')) AS permille
  FROM documents
)
SELECT block,
       count(*) AS n_cand,
       arg_max(doc_id, permille * 10000000 - doc_id) AS winner_id,
       max(permille) AS winner_permille,
       CAST(SUM(permille) AS BIGINT) AS sum_permille
FROM scored
GROUP BY block
""",
)
def m_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N selection — the rejection-sampling step of an RLHF /
    synthetic-data pipeline: candidates are grouped into fixed blocks
    of 8 consecutive doc_ids (in production: the N generations of one
    prompt) and the block keeps its argmax under a deterministic
    integer reward, here the distinct-token ratio in permille (the
    repetition-quality scorer).  The argmax is exact and total:
    max_by on the scalar key permille*1e7 - doc_id breaks score ties
    toward the SMALLEST doc_id identically in both engines (one
    BIGINT compare — DuckDB 1.0's arg_max rejects struct keys, and
    the id term stays strictly below one score step).  Per-block audit keeps candidate
    count, the winner, and the score mass the block left behind — the
    acceptance-rate curve a best-of-N sweep reads.  Scale: one
    projection + one hash aggregate (map-side combinable), no window,
    no join; the scorer is a higher-order function, never an
    explode."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.expr("doc_id div 8").alias("block"),
        F.expr(
            "(1000 * size(array_distinct(split(text, ' '))))"
            " div size(split(text, ' '))"
        ).alias("permille"),
    )
    return scored.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.max_by(
            "doc_id", F.col("permille") * 10000000 - F.col("doc_id")
        ).alias("winner_id"),
        F.max("permille").alias("winner_permille"),
        F.sum("permille").cast("bigint").alias("sum_permille"),
    )


@query(
    "m_crossval_folds",
    oracle=f"""
WITH folds AS (
  SELECT doc_id, lang, n_chars,
         (doc_id * {_MIX_A} % {_MIX_M}) % {_FOLD_K} AS fold
  FROM documents
)
SELECT fold, lang,
       count(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM folds
GROUP BY fold, lang
""",
)
def m_crossval_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (k=5) by multiplicative key
    hash, plus the per-(fold, language) balance audit every eval setup
    needs before trusting cross-validation numbers: identical folds on
    every run, engine, and partitioning (unlike randomSplit, whose
    assignment depends on partition layout), and the audit shows
    whether any fold is skewed by language.  A production pipeline
    filters ``fold <> i`` for train / ``fold = i`` for eval with zero
    data movement — assignment is a pure projection, the audit one
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    fold = (F.col("doc_id") * F.lit(_MIX_A) % _MIX_M) % _FOLD_K
    return (
        d.select("doc_id", "lang", "n_chars", fold.alias("fold"))
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_VOCAB_KS = (10, 100, 1000)


@query(
    "m_vocab_curve",
    oracle=f"""
WITH counts AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk,
         CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM counts
)
{" UNION ALL ".join(
    f'''SELECT {k} AS vocab_k,
       count(*) AS n_types,
       CAST(SUM(n) AS BIGINT) AS covered,
       (1000000 * CAST(SUM(n) AS BIGINT)) // max(total) AS coverage_ppm
FROM ranked WHERE rnk <= {k}''' for k in _VOCAB_KS)}
""",
)
def m_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary sizing curve: corpus coverage of the top-10 /
    top-100 / top-1000 token types (frequency-ranked, deterministic
    tok tiebreak) — the measurement that decides a tokenizer's vocab
    size before the expensive BPE fit. One explode + one count
    aggregate, then a single ranked pass reused for every k (the SQL
    twin unions three filters of the same ranked CTE; Spark computes
    the rank once and aggregates per threshold bucket). Coverage is
    integer ppm via div."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.ranks import with_global_order

    counts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # type-frequency rank is RANGE-PARTITIONED (vocabulary grows with
    # the corpus); the scalar total rides a broadcast computed from
    # the helper output (reuses its checkpoint — no second explode)
    base = with_global_order(
        counts, [F.col("n").desc(), F.col("tok").asc()], rank_col="rnk"
    )
    ranked = base.crossJoin(
        F.broadcast(base.agg(F.sum("n").cast("bigint").alias("total")))
    )
    out = None
    for k in _VOCAB_KS:
        lvl = (
            ranked.where(F.col("rnk") <= k)
            .agg(
                F.count(F.lit(1)).alias("n_types"),
                F.sum("n").cast("bigint").alias("covered"),
                F.expr("(1000000 * CAST(SUM(n) AS BIGINT)) div max(total)").alias(
                    "coverage_ppm"
                ),
            )
            .select(F.lit(k).alias("vocab_k"), "n_types", "covered", "coverage_ppm")
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


@query(
    "m_quality_sample",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(floor((0.5 * least(len(string_split(text, ' ')), 50) / 50.0
                     + 0.5 * CAST(len(list_filter(string_split(text, ' '),
                           t -> t IN ('spark', 'join', 'filter', 'window'))) AS DOUBLE)
                         / len(string_split(text, ' '))) * 1000000) AS BIGINT) AS q_micro,
         (doc_id * {_MIX_A} % {_MIX_M}) % 1000000 AS h
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       COUNT(CASE WHEN h < q_micro THEN 1 END) AS n_kept,
       CAST(SUM(CASE WHEN h < q_micro THEN q_micro END) AS BIGINT) AS kept_quality_mass
FROM scored
GROUP BY lang
""",
)
def m_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: each document survives with
    probability equal to its quality score (m_quality_score's formula,
    floored to integer micro-units) by comparing a deterministic
    multiplicative hash of the key against the score — soft curation
    that keeps MOST good documents and FEW bad ones, unlike a hard
    threshold, yet selects the identical subset on every run, engine,
    and partitioning (no RNG).  The per-language audit (total, kept,
    kept quality mass) is what a mixture tuner reads back.  Pure
    column math pushed into one scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin("spark", "join", "filter", "window")))
    q_micro = F.floor(
        (F.lit(0.5) * F.least(n, F.lit(50)) / 50.0 + F.lit(0.5) * stop.cast("double") / n)
        * 1_000_000
    ).cast("bigint")
    h = (F.col("doc_id") * F.lit(_MIX_A) % _MIX_M) % 1_000_000
    scored = d.select("doc_id", "lang", q_micro.alias("q_micro"), h.alias("h"))
    kept = F.col("h") < F.col("q_micro")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.sum(F.when(kept, F.col("q_micro"))).cast("bigint").alias("kept_quality_mass"),
    )


@query(
    "m_zipf_stats",
    oracle="""
WITH counts AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk,
         count(*) OVER () AS n_types,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tokens
  FROM counts
)
SELECT max(n_types) AS n_types,
       max(n_tokens) AS n_tokens,
       (1000000 * max(n_types)) // max(n_tokens) AS type_token_ppm,
       COUNT(CASE WHEN n = 1 THEN 1 END) AS n_hapax,
       CAST(SUM(CASE WHEN rnk <= n_types // 10 THEN n END) AS BIGINT) AS top_decile_mass,
       (1000000 * CAST(SUM(CASE WHEN rnk <= n_types // 10 THEN n END) AS BIGINT))
         // max(n_tokens) AS top_decile_ppm
FROM ranked
""",
)
def m_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-distribution health of the corpus in one row: type
    and token counts, type-token ratio, hapax legomena (once-seen
    tokens — the OCR-garbage/typo signal), and the token-mass share of
    the top decile of types (how Zipf-steep the corpus is) — the
    numbers that tell you whether a crawl slice is natural language or
    boilerplate soup before any model sees it.  One explode + one
    count aggregate + one ranked pass; every emitted figure is integer
    or integer-ppm.  n_hapax = 0 at every scale is the HONEST answer
    here (dead-column audit justification): the synthetic vocabulary
    has 31 types, each occurring hundreds of times — a real crawl's
    hapax tail is exactly what this column would surface."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from ..functions.ranks import with_global_order

    # vocabulary rank is RANGE-PARTITIONED (types grow with the
    # corpus); the two scalar totals ride a broadcast computed from
    # the helper output (reuses its checkpoint — no second explode)
    base = with_global_order(
        counts, [F.col("n").desc(), F.col("tok").asc()], rank_col="rnk"
    )
    ranked = base.crossJoin(
        F.broadcast(
            base.agg(
                F.count(F.lit(1)).alias("n_types"),
                F.sum("n").cast("bigint").alias("n_tokens"),
            )
        )
    )
    return ranked.select(
        "n",
        "rnk",
        "n_types",
        "n_tokens",
        F.when(F.expr("rnk <= n_types div 10"), F.col("n")).alias("dec_n"),
    ).agg(
        F.max("n_types").alias("n_types"),
        F.max("n_tokens").alias("n_tokens"),
        F.expr("(1000000 * max(n_types)) div max(n_tokens)").alias("type_token_ppm"),
        F.count(F.when(F.col("n") == 1, 1)).alias("n_hapax"),
        F.sum("dec_n").cast("bigint").alias("top_decile_mass"),
        F.expr("(1000000 * CAST(SUM(dec_n) AS BIGINT)) div max(n_tokens)").alias(
            "top_decile_ppm"
        ),
    )


@query(
    "m_bigram_lm",
    oracle="""
WITH toks AS (
  SELECT doc_id, tok, pos,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
),
bi AS (SELECT tok, nxt, count(*) AS n FROM toks WHERE nxt IS NOT NULL GROUP BY tok, nxt),
uni AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS n_ctx FROM bi GROUP BY tok)
SELECT b.tok, b.nxt, b.n,
       (1000000 * b.n) // u.n_ctx AS cond_ppm
FROM bi b JOIN uni u ON u.tok = b.tok
WHERE b.n >= 20
""",
)
def m_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model: P(next | tok) as integer ppm for
    every bigram seen ≥20 times — the count-based estimation step
    behind n-gram LMs, next-token quality filters, and the
    cross-entropy scorer (m_lm_cross_entropy consumes exactly these
    statistics).  One posexplode + a per-doc lead() (the window rides
    the doc_id shuffle), then two hash aggregates; the conditional
    divides sibling counts with integer div.  At 100 TB the bigram
    table is the thing you materialize once and broadcast to scoring
    jobs."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy("tok", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uni = bi.groupBy("tok").agg(F.sum("n").cast("bigint").alias("n_ctx"))
    return (
        bi.join(uni, "tok")
        .where(F.col("n") >= 20)
        .select("tok", "nxt", "n", F.expr("(1000000 * n) div n_ctx").alias("cond_ppm"))
    )


@query(
    "m_collocations",
    oracle="""
WITH dt AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
uni AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_both
  FROM dt a JOIN dt b ON b.doc_id = a.doc_id AND b.tok > a.tok
  GROUP BY a.tok, b.tok
)
SELECT tok_a, tok_b, n_both,
       (1000000 * n_both * (SELECT n_docs FROM nd)) // (ua.df * ub.df) AS lift_ppm
FROM pairs
JOIN uni ua ON ua.tok = pairs.tok_a
JOIN uni ub ON ub.tok = pairs.tok_b
WHERE n_both >= 50
ORDER BY lift_ppm DESC, tok_a ASC, tok_b ASC
LIMIT 20
""",
)
def m_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the 20 most-associated token pairs by
    document-level lift — P(a,b)/(P(a)·P(b)) as the exact integer
    rational (1e6·n_both·N) div (df_a·df_b) — the statistic behind
    phrase mining and compound-term detection, emitted without a
    single transcendental (the log in PMI is monotone, so ranking by
    lift ranks by PMI).  The per-doc distinct-token self-join is
    bounded by vocabulary size, not document length; at 100 TB this
    is the co-order-graph build (ml/graph.py) applied to tokens, and
    the same bounded-per-row pair generation applies if the
    vocabulary grows."""
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    )
    nd = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    uni = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    b = dt.select(F.col("doc_id").alias("bdoc"), F.col("tok").alias("tok_b"))
    pairs = (
        dt.join(b, (F.col("bdoc") == F.col("doc_id")) & (F.col("tok_b") > F.col("tok")))
        .groupBy(F.col("tok").alias("tok_a"), "tok_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 50)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.crossJoin(F.broadcast(nd))
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_both",
            F.expr("(1000000 * n_both * n_docs) div (df_a * df_b)").alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(20)
    )


@query(
    "m_quality_length_corr",
    oracle="""
WITH xy AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(floor((0.5 * least(len(string_split(text, ' ')), 50) / 50.0
                     + 0.5 * CAST(len(list_filter(string_split(text, ' '),
                           t -> t IN ('spark', 'join', 'filter', 'window'))) AS DOUBLE)
                         / len(string_split(text, ' '))) * 1000000) AS BIGINT) AS y
  FROM documents
)
SELECT count(*) AS n,
       CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS cov_num,
       CAST(count(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS var_x_num,
       CAST(count(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS var_y_num
FROM xy
""",
)
def m_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the quality score just measure length?  The Pearson
    correlation between document length and quality, emitted as the
    exact integer rational components (covariance and variance
    numerators; r² = cov²/(varx·vary) at whatever precision the
    consumer wants) — the metric-validity audit run before trusting a
    heuristic filter, in the same midpoint-free rational form as
    q_trend_slope.  One scan, one aggregate; magnitudes stay under
    BIGINT because quality is µ-units (≤1e6) and n_chars ≤ ~1e4."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin("spark", "join", "filter", "window")))
    y = F.floor(
        (F.lit(0.5) * F.least(n_tok, F.lit(50)) / 50.0 + F.lit(0.5) * stop.cast("double") / n_tok)
        * 1_000_000
    ).cast("bigint")
    xy = d.select(F.col("n_chars").cast("bigint").alias("x"), y.alias("y"))
    n = F.count(F.lit(1))
    return xy.agg(
        n.alias("n"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("bigint")
        .alias("cov_num"),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("bigint")
        .alias("var_x_num"),
        (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
        .cast("bigint")
        .alias("var_y_num"),
    )


@query(
    "m_freq_drift",
    oracle="""
WITH toks AS (
  SELECT doc_id % 2 AS half, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
counts AS (
  SELECT tok,
         COUNT(CASE WHEN half = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN half = 1 THEN 1 END) AS n_b
  FROM toks GROUP BY tok
),
tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b FROM counts
)
SELECT tok, n_a, n_b,
       (1000000 * n_a) // tot.t_a AS ppm_a,
       (1000000 * n_b) // tot.t_b AS ppm_b,
       abs((1000000 * n_a) // tot.t_a - (1000000 * n_b) // tot.t_b) AS drift_ppm
FROM counts, tot
ORDER BY drift_ppm DESC, tok ASC
LIMIT 20
""",
)
def m_freq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus slices (even vs odd doc
    ids standing in for yesterday's crawl vs today's): per-token
    frequency in integer ppm on each side and the 20 largest absolute
    drifts — the monitoring panel that catches a source going stale,
    a scraper breaking, or injected spam BEFORE a model trains on it.
    In production the halves are time partitions and the op runs per
    ingest batch. One explode + one pivot-style conditional aggregate
    + a broadcast totals row; top-20 via TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2).alias("half"), F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("half") == 1, 1)).alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").cast("bigint").alias("t_a"), F.sum("n_b").cast("bigint").alias("t_b")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_a) div t_a").alias("ppm_a"),
            F.expr("(1000000 * n_b) div t_b").alias("ppm_b"),
            F.abs(
                F.expr("(1000000 * n_a) div t_a") - F.expr("(1000000 * n_b) div t_b")
            ).alias("drift_ppm"),
        )
        .orderBy(F.col("drift_ppm").desc(), F.col("tok").asc())
        .limit(20)
    )


@query(
    "m_naive_bayes",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), doc_tok AS (
  SELECT doc_id, lang AS true_lang, tok, count(*) AS cnt
  FROM toks GROUP BY doc_id, lang, tok
), lang_tok AS (
  SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok
), lang_tot AS (
  SELECT lang, count(*) AS n_l FROM toks GROUP BY lang
), vocab AS (SELECT count(DISTINCT tok) AS v FROM toks
), scored AS (
  SELECT dt.doc_id, dt.true_lang, tt.lang AS cand_lang,
         SUM(CAST(round(dt.cnt * ln(
               CAST(COALESCE(lt.c, 0) + 1 AS DOUBLE) / (tt.n_l + vb.v)
             ), 6) AS DECIMAL(28,10))) AS score
  FROM doc_tok dt
  CROSS JOIN lang_tot tt
  CROSS JOIN vocab vb
  LEFT JOIN lang_tok lt ON lt.lang = tt.lang AND lt.tok = dt.tok
  GROUP BY dt.doc_id, dt.true_lang, tt.lang
), pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
    SELECT doc_id, true_lang, cand_lang,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, cand_lang ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT true_lang, pred_lang, count(*) AS n
FROM pred GROUP BY true_lang, pred_lang
""",
)
def m_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and
    evaluated on the corpus (resubstitution), emitting the confusion
    matrix true_lang × pred_lang.

    Laplace-smoothed token likelihoods: score(d,L) = Σ_t cnt_d(t) ·
    ln((c_Lt+1)/(N_L+V)).  Each term is one ratio of exact integers
    (correctly-rounded double in both engines) through ln(), rounded
    to 6 dp and summed in DECIMAL — the m_token_entropy transcendental
    pattern — so the argmax (tie-break: lang asc) is hash-stable.
    Scale: the model (langs × vocab counts) is the broadcast side;
    the per-doc side is one shuffle to (doc, tok) grain and the
    5-way candidate expansion stays linear in corpus tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    doc_tok = (
        toks.groupBy("doc_id", F.col("lang").alias("true_lang"), "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # r11: pinned — the three broadcast model builds (lang_tok,
        # lang_tot, vocab) and the scoring branch all read this frame;
        # unpinned, each broadcast build re-executed the explode+agg
        .transform(lambda df: checkpoint_df(df, eager=False))
    )
    # model tables derive from doc_tok, not from fresh tokenizations:
    # sum-of-doc-counts == direct token counts, and one explode subtree
    # instead of four keeps the stage count (the real cost) down 4x.
    lang_tok = doc_tok.groupBy(
        F.col("true_lang").alias("c_lang"), F.col("tok").alias("lt_tok")
    ).agg(F.sum("cnt").alias("c"))
    lang_tot = lang_tok.groupBy(F.col("c_lang").alias("cand_lang")).agg(
        F.sum("c").alias("n_l")
    )
    vocab = lang_tok.agg(F.count_distinct("lt_tok").alias("v"))
    term = F.round(
        F.col("cnt")
        * F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("n_l") + F.col("v"))
        ),
        6,
    ).cast("decimal(28,10)")
    scored = (
        doc_tok.crossJoin(F.broadcast(lang_tot))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(lang_tok),
            (F.col("c_lang") == F.col("cand_lang"))
            & (F.col("lt_tok") == F.col("tok")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum(term).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_lang").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "m_feature_hashing",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), b AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1)) % 64
           AS bucket
  FROM toks
), bc AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket
)
SELECT doc_id,
       count(*) AS nnz,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       string_agg(bucket || ':' || cnt, ',' ORDER BY bucket) AS fvec
FROM bc GROUP BY doc_id
""",
)
def m_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every token maps to one of 64
    buckets via the first 8 bits of md5 (engine-neutral, unbiased —
    256 ≡ 0 mod 64), and each doc emits its sparse count vector as a
    canonical "bucket:count" string plus nnz / total-token scalars.

    The md5-hex digit arithmetic is the m_simhash hash family; the
    sparse-vector stringification keeps the output scalar for the
    driver's canonicalizer (CLAUDE.md).  Scale: tokenize → two
    hash-key aggregations, all JVM-side; no Python, no explode of
    anything wider than the token stream.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = F.md5(F.col("tok"))
    bucket = (
        (F.conv(F.substring(h, 1, 1), 16, 10).cast("bigint") * 16
         + F.conv(F.substring(h, 2, 1), 16, 10).cast("bigint")) % 64
    )
    bc = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        bc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum("cnt").alias("n_tokens"),
            F.array_sort(F.collect_list(F.struct("bucket", "cnt"))).alias("pairs"),
        )
        .select(
            "doc_id",
            "nnz",
            "n_tokens",
            F.concat_ws(
                ",",
                F.expr(
                    "transform(pairs, s -> concat(CAST(s.bucket AS STRING), ':', CAST(s.cnt AS STRING)))"
                ),
            ).alias("fvec"),
        )
    )


_BPE_ROUNDS = 3


def _bpe_cte_chain() -> str:
    """Unrolled merge rounds; each round = count pairs -> argmax ->
    two-pass non-overlapping replace (see m_bpe_merges docstring)."""
    parts = []
    head = r"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), words0 AS (
  SELECT tok AS w, trim(regexp_replace(tok, '(.)', '\1 ', 'g')) AS s,
         count(*) AS c
  FROM toks GROUP BY tok
)"""
    parts.append(head)
    for r in range(_BPE_ROUNDS):
        parts.append(f"""
, parts{r} AS (
  SELECT w, c, generate_subscripts(string_split(s, ' '), 1) AS i,
         unnest(string_split(s, ' ')) AS sym
  FROM words{r}
), pairs{r} AS (
  SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM (
    SELECT w, c, sym AS a,
           lead(sym) OVER (PARTITION BY w ORDER BY i) AS b
    FROM parts{r}
  ) WHERE b IS NOT NULL GROUP BY a, b
), best{r} AS (
  SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), words{r + 1} AS (
  SELECT w.w, w.c,
         trim(replace(replace(' ' || w.s || ' ',
                              ' ' || b.a || ' ' || b.b || ' ',
                              ' ' || b.a || b.b || ' '),
                      ' ' || b.a || ' ' || b.b || ' ',
                      ' ' || b.a || b.b || ' ')) AS s
  FROM words{r} w CROSS JOIN best{r} b
), nsym{r + 1} AS (
  SELECT count(DISTINCT sym) AS n FROM (
    SELECT unnest(string_split(s, ' ')) AS sym FROM words{r + 1})
)""")
    return "".join(parts)


def _bpe_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {r + 1} AS round, a AS sym_a, b AS sym_b, cnt AS merge_count, "
        f"(SELECT n FROM nsym{r + 1}) AS n_symbols_after FROM best{r}"
        for r in range(_BPE_ROUNDS)
    )
    return _bpe_cte_chain() + "\n" + rows


@session_memo("documents")
def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (final words DF after
    _BPE_ROUNDS merges, list of per-round summary DFs).

    Session-memoized (both consumers — m_bpe_merges and m_bpe_apply —
    train once) and checkpoint-disciplined: each round's ``words`` and
    1-row ``best`` are lazily pinned, so the round-r lineage reads
    round r-1's pin instead of re-planning its whole subtree through
    BOTH the argmax branch and the merge branch (the m_epoch_cap_mix
    CTE-inlining blowup — this loop carried 84 Exchanges before)."""
    lazy = lambda df: checkpoint_df(df, eager=False)  # noqa: E731
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("tok").alias("w"),
            F.trim(F.regexp_replace("tok", "(.)", "$1 ")).alias("s"),
            "c",
        )
        .transform(lazy)
    )
    out_rows = []
    for r in range(_BPE_ROUNDS):
        sym = words.select(
            "w", "c", F.posexplode(F.split("s", " ")).alias("i", "sym")
        )
        lead = F.lead("sym").over(Window.partitionBy("w").orderBy("i"))
        pairs = (
            sym.select("w", "c", F.col("sym").alias("a"), lead.alias("b"))
            .where(F.col("b").isNotNull())
            .groupBy("a", "b")
            .agg(F.sum("c").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .select(
                F.col("a").alias("ba"), F.col("b").alias("bb"), F.col("cnt").alias("bcnt")
            )
            .transform(lazy)
        )
        pat = F.concat(F.lit(" "), F.col("ba"), F.lit(" "), F.col("bb"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("ba"), F.col("bb"), F.lit(" "))
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        merged_s = F.trim(
            F.call_function(
                "replace", F.call_function("replace", padded, pat, rep), pat, rep
            )
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .select("w", "c", merged_s.alias("s"), "ba", "bb", "bcnt")
            .transform(lazy)
        )
        nsym = (
            words.select(F.explode(F.split("s", " ")).alias("sym"))
            .agg(F.count_distinct("sym").alias("n_symbols_after"))
        )
        out_rows.append(
            words.select("ba", "bb", "bcnt").limit(1)
            .crossJoin(F.broadcast(nsym))
            .select(
                F.lit(r + 1).alias("round"),
                F.col("ba").alias("sym_a"),
                F.col("bb").alias("sym_b"),
                F.col("bcnt").alias("merge_count"),
                "n_symbols_after",
            )
        )
        words = words.select("w", "c", "s")
    return words, out_rows


@query("m_bpe_merges", oracle=_bpe_oracle())
def m_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the first 3 byte-pair merges learned
    from the corpus word-frequency table, with the winning pair's
    weighted count and the symbol-inventory size after each merge.

    The training loop each round: (1) count ALL adjacent symbol pairs
    weighted by word frequency (overlapping occurrences count, as in
    standard BPE), (2) pick the argmax pair (tie-break: count desc,
    pair lexicographic), (3) apply the merge as a TWO-PASS
    non-overlapping space-guarded string replace — the second pass
    catches occurrences whose shared boundary space the first pass
    consumed.  The merge rule is stated exactly so both engines (and
    any reimplementation) replay it bit-identically; counts are exact
    integers throughout.  Scale: training runs on the DISTINCT-word
    frequency table (vocabulary-sized, not corpus-sized — the
    standard BPE trick), so the corpus is scanned once for the word
    histogram and each round is a vocabulary-local map plus one tiny
    argmax broadcast.
    """
    _, out_rows = _bpe_train(spark, sf_dir)
    out = out_rows[0]
    for extra in out_rows[1:]:
        out = out.unionAll(extra)
    return out


def _bpe_apply_oracle() -> str:
    return _bpe_cte_chain() + f"""
, wordlen AS (
  SELECT w, len(string_split(s, ' ')) AS n_sym FROM words{_BPE_ROUNDS}
)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens,
       min(d.n_chars) AS n_chars
FROM (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
      FROM documents) d
JOIN wordlen wl ON wl.w = d.tok
GROUP BY d.doc_id
"""


@query("m_bpe_apply", oracle=_bpe_apply_oracle())
def m_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application / token budgeting: the 3 learned BPE
    merges (m_bpe_merges) are applied and each document reports its
    word count, resulting BPE token count, and char count — the
    numbers a training-data pipeline needs to size token budgets
    before committing GPU time.

    Key scale property: merges are applied to the DISTINCT-word table
    once (vocabulary-sized), and per-doc token counts come from
    joining the corpus word stream against that tiny broadcast
    word→symbol-count map — the corpus is never re-segmented
    row-by-row.  Counts are exact integers end-to-end.
    """
    words, _ = _bpe_train(spark, sf_dir)
    wordlen = words.select(
        "w", F.size(F.split("s", " ")).alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "n_chars", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        toks.join(F.broadcast(wordlen), toks.tok == wordlen.w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.min("n_chars").alias("n_chars"),
        )
    )


@query(
    "m_budget_select",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         (500 * least(len(string_split(text, ' ')), 50)) // 50
           + (500 * len(list_filter(string_split(text, ' '),
                t -> t IN ('spark', 'join', 'filter', 'window'))))
             // len(string_split(text, ' ')) AS quality_milli
  FROM documents
), budget AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) // 4 AS b FROM scored
), ranked AS (
  SELECT doc_id, n_tokens, quality_milli,
         row_number() OVER (ORDER BY quality_milli DESC, doc_id ASC) AS rnk,
         CAST(SUM(n_tokens) OVER (ORDER BY quality_milli DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, rnk, quality_milli, n_tokens, cum_tokens
FROM ranked CROSS JOIN budget
WHERE cum_tokens <= b
""",
)
def m_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: rank documents by an integer
    quality score (length saturation + stopword hits, the
    m_quality_score heuristic in exact milli-units) and keep the
    highest-quality prefix that fits a 25 %-of-corpus token budget —
    the greedy knapsack every curation pipeline runs before training.

    The budget is relative (total div 4), so the selection stays
    non-vacuous and partial at every corpus scale; ranking carries
    the doc_id tiebreak and the running token total is BIGINT-exact.
    Scale: one scan to score, then a RANGE-PARTITIONED rank+running
    total over doc-grain rows (functions.ranks.with_global_order — no
    single-task window); a histogram-threshold two-pass cut is the
    further refinement if even the ranged sort is too much.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("spark", "join", "filter", "window"))
    )
    scored = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (
            F.expr("(500 * least(size(split(text, ' ')), 50)) div 50")
            + F.expr(
                "(500 * CAST(size(filter(split(text, ' '),"
                " t -> t IN ('spark', 'join', 'filter', 'window'))) AS BIGINT))"
                " div size(split(text, ' '))"
            )
        ).cast("bigint").alias("quality_milli"),
    )
    from ..functions.ranks import with_global_order

    budget = scored.agg(F.expr("sum(n_tokens) div 4").alias("b"))
    ranked = with_global_order(
        scored,
        [F.col("quality_milli").desc(), F.col("doc_id").asc()],
        rank_col="rnk",
        cumsum={"cum_tokens": F.col("n_tokens").cast("bigint")},
    )
    return (
        ranked.crossJoin(F.broadcast(budget))
        .where(F.col("cum_tokens") <= F.col("b"))
        .select("doc_id", "rnk", "quality_milli", "n_tokens", "cum_tokens")
    )


_DSIR_BUCKETS = 64
_DSIR_TOPK = 50


@query(
    "m_importance_resample",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), b AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1)) % {_DSIR_BUCKETS}
           AS bucket
  FROM toks
), tgt AS (
  SELECT b.bucket, count(*) AS c
  FROM b JOIN documents d ON d.doc_id = b.doc_id AND d.lang = 'en'
  GROUP BY b.bucket
), raw AS (
  SELECT bucket, count(*) AS c FROM b GROUP BY bucket
), tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM tgt) AS nt,
         (SELECT CAST(SUM(c) AS BIGINT) FROM raw) AS nr
), score AS (
  SELECT r.bucket,
         round(log2( (CAST(COALESCE(t.c, 0) + 1 AS DOUBLE) / (tot.nt + {_DSIR_BUCKETS}))
                   / (CAST(r.c + 1 AS DOUBLE)             / (tot.nr + {_DSIR_BUCKETS})) ), 6)
           AS llr
  FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket, tot
), per_doc AS (
  SELECT b.doc_id,
         count(*) AS n_tokens,
         CAST(SUM(CAST(s.llr AS DECIMAL(28,10))) * 1000000 AS BIGINT) AS weight_micros
  FROM b JOIN score s ON s.bucket = b.bucket
  GROUP BY b.doc_id
)
SELECT doc_id, n_tokens, weight_micros,
       CAST(row_number() OVER (ORDER BY weight_micros DESC, doc_id ASC) AS BIGINT) AS rank
FROM per_doc
ORDER BY rank
LIMIT {_DSIR_TOPK}
""",
)
def m_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et
    al. 2023, arXiv:2302.03169): score every raw document by the
    log-likelihood ratio of a TARGET domain's hashed-feature
    distribution over the RAW distribution, then keep the top-k —
    the standard recipe for tilting a 100 TB crawl toward a curated
    domain. Here the target is the 'en' slice, features are
    md5-hashed unigram buckets (the m_feature_hashing family), both
    distributions are add-1 smoothed, and a document's weight is the
    sum of its tokens' per-bucket LLRs.

    Hash-safety: each bucket LLR is a log2 of a ratio of exact
    integer-derived doubles, rounded to 6 dp BEFORE summing (the
    m_token_entropy rule for transcendentals); the per-doc sum runs
    in DECIMAL and exits as exact integer micro-units, so ranking and
    the top-k cut are integer-deterministic. Scale: two bucket-count
    aggregates (64 rows each), a 64-row broadcast joined back onto
    the token stream, one per-doc aggregate, one global top-k — no
    quadratic stage, no Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    h = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(h, 1, 1), 16, 10).cast("bigint") * 16
        + F.conv(F.substring(h, 2, 1), 16, 10).cast("bigint")
    ) % _DSIR_BUCKETS
    # r11: pinned — tgt/raw (and their nt/nr totals, each a separate
    # broadcast build) plus the per-doc scoring branch all read this
    # tokenized frame; unpinned, the explode+md5 ran ~5x
    b = toks.select("doc_id", "lang", bucket.alias("bucket")).transform(
        lambda df: checkpoint_df(df, eager=False)
    )
    tgt = b.where(F.col("lang") == "en").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct")
    )
    raw = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    nt = tgt.agg(F.sum("ct").alias("nt"))
    nr = raw.agg(F.sum("cr").alias("nr"))
    score = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            F.round(
                F.log2(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                     / (F.col("nt") + _DSIR_BUCKETS))
                    / ((F.col("cr") + 1).cast("double")
                       / (F.col("nr") + _DSIR_BUCKETS))
                ),
                6,
            ).alias("llr"),
        )
    )
    per_doc = (
        b.join(F.broadcast(score), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(F.col("llr").cast("decimal(28,10)")) * 1_000_000)
            .cast("bigint")
            .alias("weight_micros"),
        )
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition heads, no
    # global sort), THEN the rank stamp over k bounded rows
    order = [F.col("weight_micros").desc(), F.col("doc_id").asc()]
    top = per_doc.orderBy(*order).limit(_DSIR_TOPK)
    w = Window.orderBy(*order)
    return top.select(
        "doc_id",
        "n_tokens",
        "weight_micros",
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("rank")


@query(
    "m_dataset_card",
    oracle="""
SELECT count(*) AS n_docs,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_docs,
       CAST((count(*) - count(DISTINCT text)) * 1000000 // count(*) AS BIGINT)
         AS dup_ppm,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) // count(*) AS BIGINT) AS mean_chars
FROM documents
""",
)
def m_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the headline numbers a corpus release
    ships with (doc count, exact-duplicate mass and rate, language and
    source cardinalities, total/mean characters) computed in a single
    aggregate over the documents table.  Exact-dup mass is
    ``count - count(DISTINCT text)`` — the same quantity m_exact_dedup
    materializes per group, reduced to its audit scalar.  All ratios
    are integer div.  Scale: the multiple exact COUNT(DISTINCT)s
    expand the scan (Spark rewrites them via Expand, one pass, ~3x
    rows in the map stage); at 100 TB swap text for its xxhash64 and
    lang/source stay low-cardinality — same plan, 8-byte keys."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("text"))).alias("n_dup_docs"),
        F.expr(
            "(count(1) - count(DISTINCT text)) * 1000000 div count(1)"
        ).alias("dup_ppm"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.expr("sum(n_chars) div count(1)").alias("mean_chars"),
    )


@query(
    "m_filter_sweep",
    oracle="""
WITH dim AS (
  SELECT * FROM (VALUES (100), (300), (1000), (3000), (10000)) t(min_chars)
), per_len AS (
  SELECT n_chars, count(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY n_chars
), hits AS (
  SELECT dim.min_chars,
         CAST(COALESCE(SUM(p.docs), 0) AS BIGINT) AS kept_docs,
         CAST(COALESCE(SUM(p.chars), 0) AS BIGINT) AS kept_chars
  FROM dim LEFT JOIN per_len p ON p.n_chars >= dim.min_chars
  GROUP BY dim.min_chars
), tot AS (
  SELECT count(*) AS total_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents
)
SELECT min_chars, kept_docs, kept_chars,
       CAST(kept_docs * 1000 // total_docs AS BIGINT) AS docs_permille,
       CAST(kept_chars * 1000 // total_chars AS BIGINT) AS chars_permille
FROM hits, tot
""",
)
def m_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-filter threshold sweep — the curation-tuning table that
    answers "how much corpus does each candidate min-length cutoff
    cost?" before committing to a filter.  Scale shape: the corpus is
    reduced ONCE to per-length sufficient statistics (|distinct
    lengths| rows, one hash aggregate), then the tiny threshold dim
    (literal VALUES — no pickled-RDD createDataFrame) theta-joins the
    summary, so adding thresholds costs nothing at the fact scan.
    Retention ratios are permille by integer div (exact — no rounded
    decimal quotients per CLAUDE.md)."""
    d = load_table(spark, sf_dir, "documents")
    per_len = d.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars")
    )
    dim = spark.sql(
        "SELECT * FROM (VALUES (100), (300), (1000), (3000), (10000))"
        " t(min_chars)"
    )
    hits = (
        dim
        .join(F.broadcast(per_len), per_len.n_chars >= dim.min_chars, "left")
        .groupBy("min_chars")
        .agg(
            F.coalesce(F.sum("docs"), F.lit(0)).cast("bigint").alias("kept_docs"),
            F.coalesce(F.sum("chars"), F.lit(0)).cast("bigint").alias("kept_chars"),
        )
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return hits.crossJoin(F.broadcast(tot)).select(
        "min_chars",
        "kept_docs",
        "kept_chars",
        F.expr("kept_docs * 1000 div total_docs").alias("docs_permille"),
        F.expr("kept_chars * 1000 div total_chars").alias("chars_permille"),
    )


@query(
    "m_neyman_allocation",
    oracle="""
WITH strata AS (
  SELECT lang, count(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
  FROM documents GROUP BY lang
), weighted AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(n_docs * ss - s * s)) AS BIGINT) AS w
  FROM strata
), quotas AS (
  SELECT lang, n_docs, w,
         CAST(1000 * w // SUM(w) OVER () AS BIGINT) AS base,
         CAST(1000 * w % SUM(w) OVER () AS BIGINT) AS rem
  FROM weighted
), seats AS (
  SELECT lang, n_docs, w, base, rem,
         CAST(1000 - SUM(base) OVER () AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang) AS rk
  FROM quotas
)
SELECT lang, n_docs, w AS neyman_weight,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM seats
""",
)
def m_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation: a 1000-doc budget
    split across language strata proportionally to N_h*sigma_h (the
    allocation that minimizes the variance of the stratified mean of
    doc length).  Entirely exact integer math: the Neyman numerator
    N_h*sigma_h equals isqrt(N*SS - S^2) on integer char counts, the
    seat split is largest-remainder (floor quotas + top-remainder
    bonus seats, lang-name tiebreak) — no float allocation rounding
    to disagree across engines.  isqrt via floor(sqrt(x)): at sf0.1
    magnitudes N*SS - S^2 can exceed 2^53, where the int->double
    conversion itself rounds and floor(sqrt) need not be the exact
    integer root — cross-engine agreement rests on BOTH engines doing
    the identical IEEE-754 conversion and a correctly-rounded double
    sqrt (deterministically the same possibly-inexact value), not on
    exact-isqrt.  Scale: one corpus aggregate to |strata| rows; the
    windowed seat arithmetic runs on that tiny table."""
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    weighted = strata.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs") * F.col("ss") - F.col("s") * F.col("s")))
        .cast("bigint")
        .alias("w"),
    )
    wall = Window.partitionBy()
    seats = weighted.select(
        "lang",
        "n_docs",
        "w",
        F.expr("1000 * w").alias("scaled"),
        F.sum("w").over(wall).alias("tot"),
    ).select(
        "lang",
        "n_docs",
        "w",
        F.expr("scaled div tot").alias("base"),
        (F.col("scaled") % F.col("tot")).alias("rem"),
    )
    seats = seats.select(
        "lang",
        "n_docs",
        "w",
        "base",
        "rem",
        (F.lit(1000) - F.sum("base").over(wall)).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("lang")))
        .alias("rk"),
    )
    return seats.select(
        "lang",
        "n_docs",
        F.col("w").alias("neyman_weight"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc"),
    )


@query(
    "m_reward_pairs",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rt,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars ASC, doc_id ASC) AS rb
  FROM documents
)
SELECT t.lang, t.rt AS pair_rank,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       CAST(t.n_chars - b.n_chars AS BIGINT) AS margin
FROM ranked t
JOIN ranked b ON b.lang = t.lang AND b.rb = t.rt
WHERE t.rt <= 5 AND t.n_chars > b.n_chars
""",
)
def m_reward_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for reward-model training: per language
    stratum, the top-5 documents by score are paired rank-for-rank
    with the bottom-5 (best vs worst, 2nd-best vs 2nd-worst, ...),
    emitting (chosen, rejected, margin) rows — the maximal-margin
    pairing that makes early RLHF reward batches informative.  The
    score here is the n_chars length proxy (the plug-in point: any
    integer scorer — m_quality_score's components, m_lm_cross_entropy
    — substitutes without changing the pairing plan); doc_id breaks
    score ties so both rankings are total orders, and the
    ``chosen > rejected`` guard drops degenerate pairs in strata
    smaller than 2k.  Scale: two ranks over the same partition (one
    shuffle, both windows share the lang partitioning) and a
    per-stratum k-row self-join — |langs| x 5 rows ever reach the
    join."""
    d = load_table(spark, sf_dir, "documents")
    wt = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wb = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), F.col("doc_id"))
    ranked = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.row_number().over(wt).alias("rt"),
        F.row_number().over(wb).alias("rb"),
    )
    top = ranked.where(F.col("rt") <= 5).select(
        "lang", F.col("rt").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"), F.col("n_chars").alias("cs"),
    )
    bot = ranked.where(F.col("rb") <= 5).select(
        F.col("lang").alias("b_lang"), F.col("rb").alias("b_rank"),
        F.col("doc_id").alias("rejected_id"), F.col("n_chars").alias("rs"),
    )
    return (
        top.join(
            F.broadcast(bot),
            (F.col("lang") == F.col("b_lang")) & (F.col("pair_rank") == F.col("b_rank")),
        )
        .where(F.col("cs") > F.col("rs"))
        .select(
            "lang",
            "pair_rank",
            "chosen_id",
            "rejected_id",
            (F.col("cs") - F.col("rs")).cast("bigint").alias("margin"),
        )
    )


def _fertility_oracle() -> str:
    return _bpe_cte_chain() + f"""
, wordlen AS (
  SELECT w, len(string_split(s, ' ')) AS n_sym FROM words{_BPE_ROUNDS}
)
SELECT d.lang,
       count(*) AS n_words,
       CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(CAST(SUM(wl.n_sym) AS BIGINT) * 1000 // count(*) AS BIGINT)
         AS fertility_permille
FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM documents) d
JOIN wordlen wl ON wl.w = d.tok
GROUP BY d.lang
"""


@query("m_tok_fertility", oracle=_fertility_oracle())
def m_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — BPE tokens emitted per
    whitespace word, the metric that reveals when a tokenizer trained
    on one language taxes another (fertility >> 1000 permille means
    that language pays more sequence length for the same text, the
    classic multilingual-budget skew).  Reuses the m_bpe_merges
    training chain and m_bpe_apply's scale shape: merges apply to the
    DISTINCT-word table once, the corpus word stream joins the tiny
    broadcast word->symbol-count map, and the ratio is integer
    permille (exact div, no rounded quotients)."""
    words, _ = _bpe_train(spark, sf_dir)
    wordlen = words.select("w", F.size(F.split("s", " ")).alias("n_sym"))
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.join(F.broadcast(wordlen), toks.tok == wordlen.w)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            F.expr("n_bpe_tokens * 1000 div n_words").alias("fertility_permille"),
        )
    )


@query(
    "m_scaling_fit",
    oracle="""
WITH base AS (
  SELECT lang,
         round(ln(n_chars), 6) AS x,
         round(ln(len(string_split(text, ' '))), 6) AS y
  FROM documents
), terms AS (
  SELECT lang,
         CAST(x AS DECIMAL(28,10)) AS xd,
         CAST(y AS DECIMAL(28,10)) AS yd,
         CAST(round(x * y, 12) AS DECIMAL(28,14)) AS xyd,
         CAST(round(x * x, 12) AS DECIMAL(28,14)) AS xxd
  FROM base
)
SELECT lang,
       count(*) AS n,
       CAST(SUM(xd) * 1000000 AS BIGINT) AS sx_micro,
       CAST(SUM(yd) * 1000000 AS BIGINT) AS sy_micro,
       CAST(SUM(xyd) * 1000000000000 AS BIGINT) AS sxy_pico,
       CAST(SUM(xxd) * 1000000000000 AS BIGINT) AS sxx_pico
FROM terms
GROUP BY lang
""",
)
def m_scaling_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (scaling-law) fit sufficient statistics: per
    language, the exact integer sums (n, Σx, Σy, Σxy, Σx²) of the
    log-log regression ``ln(tokens) ~ b·ln(chars) + a`` — the
    Chinchilla-style fit shape, whose slope/intercept are
    ``(nΣxy-ΣxΣy)/(nΣxx-(Σx)²)`` on the emitted columns.  The engine
    emits SUFFICIENT STATISTICS, not the fitted slope, for the same
    reason q_parallel_variance does: they merge associatively across
    partitions/shards (the 100 TB form is per-shard partials + one
    tiny combine), and they stay in exact integers — each ln() term
    is rounded to the 6 dp grid per the transcendental rule, products
    are re-rounded to their exact 12 dp lattice (round(·,12) puts
    both engines on the identical representable double), and every
    term then rides a DECIMAL sum that is scaled to integer units
    INSIDE decimal arithmetic — a double→BIGINT cast of the scaled
    term would round in DuckDB but truncate in Spark (measured: 4 of
    5 groups off by a few units).  Magnitude audit: |ln| < 8 → xy_pico < 6.4e13/doc —
    5e17 at a billion docs, inside int64."""
    d = load_table(spark, sf_dir, "documents")
    x = F.round(F.log(F.col("n_chars")), 6)
    y = F.round(F.log(F.size(F.split("text", " "))), 6)
    terms = d.select(
        "lang",
        x.cast("decimal(28,10)").alias("xd"),
        y.cast("decimal(28,10)").alias("yd"),
        F.round(x * y, 12).cast("decimal(28,14)").alias("xyd"),
        F.round(x * x, 12).cast("decimal(28,14)").alias("xxd"),
    )
    return terms.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("xd") * 1000000).cast("bigint").alias("sx_micro"),
        (F.sum("yd") * 1000000).cast("bigint").alias("sy_micro"),
        (F.sum("xyd") * 1000000000000).cast("bigint").alias("sxy_pico"),
        (F.sum("xxd") * 1000000000000).cast("bigint").alias("sxx_pico"),
    )


@query(
    "m_rater_kappa",
    oracle="""
WITH flags AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(list_distinct(string_split(text, ' '))) >= 26
              THEN 1 ELSE 0 END AS b
  FROM documents
), cells AS (
  SELECT count(*) AS n,
         COUNT(CASE WHEN a = 1 AND b = 1 THEN 1 END) AS n11,
         COUNT(CASE WHEN a = 1 AND b = 0 THEN 1 END) AS n10,
         COUNT(CASE WHEN a = 0 AND b = 1 THEN 1 END) AS n01,
         COUNT(CASE WHEN a = 0 AND b = 0 THEN 1 END) AS n00
  FROM flags
)
, nd AS (
  SELECT n, n11, n10, n01, n00,
         n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS num,
         n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS den
  FROM cells
)
SELECT n, n11, n10, n01, n00,
       CAST(CASE WHEN num >= 0 THEN 1000 * num // den
                 ELSE -(1000 * (-num) // den) END AS BIGINT) AS kappa_permille
FROM nd
""",
)
def m_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two heuristic quality raters (a length
    rule and a lexical-richness rule; the original punctuation rule
    counted periods, which this corpus never contains — a permanently
    degenerate rater the round-5 dead-column audit caught: all four
    confusion cells now fire at every scale, kappa ~0.8) — the
    agreement statistic a
    curation pipeline reports before trusting cheap labelers / weak
    supervision sources.  Kappa = (p_o - p_e)/(1 - p_e) is a ratio of
    rationals over the SAME denominator n², so it reduces to exact
    integer arithmetic: ``1000·(n·agree − Σ row·col) div (n² − Σ
    row·col)`` on the 2x2 confusion counts — no float probabilities
    anywhere, and the division factors the sign out first (Spark
    truncates signed div, DuckDB floors — the m_pca_power trap).
    Magnitude: n² ≤ 2.5e9 at sf0.1, ×1000 ≤ 2.5e12 « 2^63; at a
    billion docs switch the permille scaling to DECIMAL(38,0).
    Scale: one scan to a 1-row confusion aggregate."""
    d = load_table(spark, sf_dir, "documents")
    flags = d.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(F.size(F.array_distinct(F.split(F.col("text"), " "))) >= 26, 1)
        .otherwise(0)
        .alias("b"),
    )
    cells = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1)).alias("n11"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1)).alias("n10"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1)).alias("n01"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1)).alias("n00"),
    )
    nd = cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "n * (n11 + n00) - ((n11 + n10) * (n11 + n01)"
            " + (n01 + n00) * (n10 + n00))"
        ).alias("num"),
        F.expr(
            "n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
        ).alias("den"),
    )
    return nd.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN 1000 * num div den"
            " ELSE -(1000 * (-num) div den) END AS BIGINT)"
        ).alias("kappa_permille"),
    )


@query(
    "m_langid_confusion",
    oracle="""
WITH pred AS (
  SELECT lang,
         CASE WHEN contains(text, 'stream') OR contains(text, 'window') THEN 'en'
              WHEN contains(text, 'join') THEN 'de'
              WHEN len(string_split(text, ' ')) % 2 = 0 THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM documents
)
SELECT lang AS true_lang, lang_pred,
       count(*) AS n,
       COUNT(CASE WHEN lang = lang_pred THEN 1 END) AS n_correct
FROM pred
GROUP BY lang, lang_pred
""",
)
def m_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the m_lang_id heuristic against the
    corpus's TRUE language labels — the eval every classifier-driven
    curation filter owes before it gates data (per-cell counts feed
    precision/recall per language; the diagonal is exact agreement).
    Reuses m_lang_id's classification expression verbatim so the
    matrix audits the deployed rule, not a copy that can drift.
    Scale: per-row classify folded into a |langs|² cell aggregate —
    one shuffle of 25 cells."""
    from ..registry import QUERIES

    pred = QUERIES["m_lang_id"](spark, sf_dir)
    return pred.groupBy(
        F.col("lang").alias("true_lang"), "lang_pred"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("lang") == F.col("lang_pred"), 1)).alias("n_correct"),
    )


@query(
    "m_filter_venn",
    oracle="""
SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS pass_len,
       CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS pass_tok,
       CASE WHEN contains(text, 'spark') OR contains(text, 'filter')
            THEN 1 ELSE 0 END AS pass_kw,
       count(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY 1, 2, 3
""",
)
def m_filter_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-interaction Venn table: three curation rules (length,
    token count, keyword) evaluated simultaneously, with one row per
    pass/fail combination — the inclusion-exclusion view that shows
    whether stacked filters remove DISTINCT low-quality populations
    or keep re-rejecting the same documents (if cell 000+001+010+100
    dominates removals, the filters are redundant; m_filter_sweep
    tunes one rule's threshold, this table audits their composition).
    One scan, one 8-cell aggregate — adding a rule doubles cells, not
    passes."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.groupBy(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("pass_len"),
        F.when(F.size(F.split(t, " ")) >= 30, 1).otherwise(0).alias("pass_tok"),
        F.when(t.contains("spark") | t.contains("filter"), 1)
        .otherwise(0)
        .alias("pass_kw"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


_STEM_CASE = """
CASE WHEN length(tok) > 5 AND tok LIKE '%ing'
       THEN substring(tok, 1, length(tok) - 3)
     WHEN length(tok) > 4 AND tok LIKE '%ed'
       THEN substring(tok, 1, length(tok) - 2)
     WHEN length(tok) > 4 AND tok LIKE '%er'
       THEN substring(tok, 1, length(tok) - 2)
     WHEN length(tok) > 4 AND tok LIKE '%es'
       THEN substring(tok, 1, length(tok) - 2)
     WHEN length(tok) > 3 AND tok LIKE '%s'
       THEN substring(tok, 1, length(tok) - 1)
     ELSE tok END
"""


@query(
    "m_stem_counts",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), stemmed AS (
  SELECT tok, {_STEM_CASE} AS stem FROM toks
)
SELECT stem,
       count(*) AS n_occ,
       count(DISTINCT tok) AS n_forms,
       COUNT(CASE WHEN stem <> tok THEN 1 END) AS n_stripped
FROM stemmed
GROUP BY stem
""",
)
def m_stem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemming (Porter-step-1 shape: -ing/-ed/
    -es/-s, longest match first, length guards against over-stripping
    short tokens) and the vocabulary folding it buys — one row per
    stem that actually MERGED ≥2 surface forms, with occurrence and
    form counts.  The morphological complement of m_text_normalize's
    case/punct folding; on real corpora this is the cheap recall
    boost for m_term_freq/m_tfidf matching.  The CASE chain is shared
    verbatim with the oracle (pure string builtins, whole-stage
    codegen).  The synthetic vocabulary carries no inflectional
    PAIRS (n_forms stays 1 — an honest property of the fixture,
    surfaced rather than filtered away), so the table reports the
    strip activity itself (n_stripped) alongside the fold counts a
    real corpus would show.  Scale: explode → one hash aggregate
    over |stems| rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    stemmed = toks.select("tok", F.expr(_STEM_CASE).alias("stem"))
    return stemmed.groupBy("stem").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_distinct("tok").alias("n_forms"),
        F.count(F.when(F.col("stem") != F.col("tok"), 1)).alias("n_stripped"),
    )


@query(
    "m_minmax_scale",
    oracle="""
WITH c AS (
  SELECT event_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         CAST(floor(value * 100) AS BIGINT) AS vc
  FROM events
), ext AS (
  SELECT event_id, day_start, vc,
         CAST(MIN(vc) OVER (PARTITION BY day_start) AS BIGINT) AS lo,
         CAST(MAX(vc) OVER (PARTITION BY day_start) AS BIGINT) AS hi
  FROM c
)
SELECT event_id, day_start,
       CAST(CASE WHEN hi = lo THEN 500
                 ELSE (vc - lo) * 1000 // (hi - lo) END AS BIGINT)
         AS scaled_permille
FROM ext
""",
)
def m_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day min-max feature scaling to an integer permille grid —
    the normalization step feature pipelines run per partition-of-
    interest (here: per day, so drift in daily ranges doesn't leak
    across folds).  Exact integers end-to-end: centi-unit values,
    integer permille quotient (numerator ≥ 0, so truncation ==
    floor in both engines), degenerate single-value days pinned to
    the midpoint instead of dividing by zero (the dt=0 guard class
    from the working notes).  Scale: one window pair per partition
    key — min/max fold into a single shuffle."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        F.floor(F.col("value") * 100).cast("long").alias("vc"),
    )
    wd = Window.partitionBy("day_start")
    ext = c.select(
        "event_id",
        "day_start",
        "vc",
        F.min("vc").over(wd).alias("lo"),
        F.max("vc").over(wd).alias("hi"),
    )
    return ext.select(
        "event_id",
        "day_start",
        F.expr(
            "CAST(CASE WHEN hi = lo THEN 500"
            " ELSE (vc - lo) * 1000 div (hi - lo) END AS BIGINT)"
        ).alias("scaled_permille"),
    )


@query(
    "m_quantile_bins",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang,
       CAST(4 * (rk - 1) // n AS BIGINT) AS length_bucket
FROM ranked
""",
)
def m_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (equal-frequency) discretization: each document gets
    its per-language length QUARTILE — the rank-based feature binning
    that is robust to skewed distributions where equal-width bins
    (q_hist2d) collapse.  Rank-based means NO threshold values are
    computed at all: bucket = 4·(rank−1) div n, exact integers, ties
    broken by doc_id so both engines agree on a total order.  Scale:
    one rank window per stratum — same shuffle as any per-group
    ranking; for streaming/unbounded data the thresholds would come
    from m_embed_dim_quantiles-style discrete quantile SELECTIONS
    broadcast to a stateless map."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.expr("CAST(4 * (rk - 1) div n AS BIGINT)").alias("length_bucket"),
    )


@query(
    "m_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), tri AS (
  SELECT doc_id,
         ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) p
  WHERE len(ts) >= 3
), dedup AS (
  SELECT DISTINCT doc_id, g FROM tri
), firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM dedup GROUP BY g
)
SELECT d.doc_id,
       count(*) AS n_trigrams,
       COUNT(CASE WHEN f.first_doc = d.doc_id THEN 1 END) AS n_novel,
       CAST(COUNT(CASE WHEN f.first_doc = d.doc_id THEN 1 END) * 1000
            // count(*) AS BIGINT) AS novelty_permille
FROM dedup d JOIN firsts f ON f.g = d.g
GROUP BY d.doc_id
""",
)
def m_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram NOVELTY against everything ingested before
    it (doc_id order = arrival order): the fraction of a document's
    distinct trigrams whose FIRST occurrence in the corpus is this
    document — the marginal-contribution signal dedup-aware curation
    ranks by (a doc with novelty → 0 adds nothing even if no single
    pairwise match fires, the long-tail case m_near_dedup's pairwise
    threshold misses).  Same first-seen trick as
    q_cumulative_distinct, lifted from users to n-grams.  Scale: the
    distinct (doc, gram) table shuffles once on the gram to find
    first owners and joins back on the gram — both stages are the
    inverted-index dataflow (m_inverted_index) with a min instead of
    a postings list.  Exact integer permille."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).where(
        F.size("ts") >= 3
    )
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 2),"
                " i -> concat_ws(' ', ts[i - 1], ts[i], ts[i + 1]))"
            )
        ).alias("g"),
    )
    # r11: lazy pin — dedup feeds the first-owner agg AND the join
    # back; the pin compiles the explode+distinct once (lazy: the
    # final job materializes it, A/B showed eager's staging barrier
    # costs ~0.3 s here for nothing)
    dedup = tri.distinct().transform(lambda df: checkpoint_df(df, eager=False))
    firsts = dedup.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        dedup.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_novel",
            F.expr("CAST(n_novel * 1000 div n_trigrams AS BIGINT)").alias(
                "novelty_permille"
            ),
        )
    )


def _set_cover_sql() -> str:
    """3 unrolled greedy set-cover rounds, shared verbatim by both
    engines (pure ANSI constructs).  Each round's winner is an
    ``ORDER BY ... LIMIT 1`` argmax — Spark plans it as
    TakeOrderedAndProject (per-partition heads, one tiny merge), never
    a partition-less rank window over the doc-grain gains table."""
    return """
WITH dt AS (
  {incidence}
), r1 AS (
  SELECT doc_id, count(*) AS gain FROM dt GROUP BY doc_id
), w1 AS (
  SELECT doc_id AS wd, CAST(gain AS BIGINT) AS gain
  FROM r1 ORDER BY gain DESC, wd ASC LIMIT 1
),
cov1 AS (SELECT DISTINCT tok FROM dt JOIN w1 ON dt.doc_id = w1.wd),
r2 AS (
  SELECT dt.doc_id, count(*) AS gain
  FROM dt
  WHERE dt.tok NOT IN (SELECT tok FROM cov1)
    AND dt.doc_id NOT IN (SELECT wd FROM w1)
  GROUP BY dt.doc_id
), w2 AS (
  SELECT doc_id AS wd, CAST(gain AS BIGINT) AS gain
  FROM r2 ORDER BY gain DESC, wd ASC LIMIT 1
),
cov2 AS (
  SELECT tok FROM cov1
  UNION
  SELECT DISTINCT tok FROM dt JOIN w2 ON dt.doc_id = w2.wd
),
r3 AS (
  SELECT dt.doc_id, count(*) AS gain
  FROM dt
  WHERE dt.tok NOT IN (SELECT tok FROM cov2)
    AND dt.doc_id NOT IN (SELECT wd FROM w1 UNION SELECT wd FROM w2)
  GROUP BY dt.doc_id
), w3 AS (
  SELECT doc_id AS wd, CAST(gain AS BIGINT) AS gain
  FROM r3 ORDER BY gain DESC, wd ASC LIMIT 1
)
SELECT CAST(1 AS BIGINT) AS round, CAST(wd AS BIGINT) AS doc_id, gain FROM w1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(wd AS BIGINT), gain FROM w2
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(wd AS BIGINT), gain FROM w3
"""


@query(
    "m_set_cover_greedy",
    oracle=_set_cover_sql().format(
        incidence="""SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(ts))) AS i) p
  WHERE len(ts) >= 2"""
    ),
)
def m_set_cover_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection (3 unrolled rounds): each
    round picks the document covering the most corpus BIGRAMS not
    yet covered (the unigram vocabulary is 31 tokens and one doc
    covers it — bigrams give the selection a real frontier) — the submodular corpus-subset selection that
    guarantees (1−1/e)-optimal coverage, the token-driven complement
    of m_mmr_select's embedding-diversity greedy and the selection
    logic behind "smallest eval set that exercises the vocabulary".
    Data-dependent iteration made hash-checkable the m_kmeans_step
    way: a FIXED number of rounds unrolled into one plan, winners
    tiebroken by doc_id, marginal gains exact integers.  Scale: each
    round is one aggregate over the (doc, token) incidence table with
    the (tiny, broadcast) covered-set anti-joined away — coverage
    state never exceeds |bigram vocab|.

    r11 re-plan (guide §2.4, CTE-inlining trap): the unrolled SQL
    referenced the ``dt`` incidence CTE five times and each round's
    winner subtree re-inlined every earlier round's (52 Exchanges
    measured) — the m_epoch_cap_mix plan-blowup class.  Now a
    checkpointed DataFrame loop: the incidence table is built once and
    pinned, each round is one aggregate + TakeOrdered over the pin
    with the covered set / chosen winners anti-joined away (tiny,
    broadcast), and each round's 1-row winner and ≤|vocab|² covered
    set are eagerly checkpointed so lineage stays O(1).  The unrolled
    SQL remains the DuckDB oracle; results identical."""
    d = load_table(spark, sf_dir, "documents")
    # split staged as a column BEFORE the lambda references it (an
    # inline split inside transform re-evaluates per element - 10x)
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("ts"))
    ts = F.col("ts")
    dt = checkpoint_df(
        toked.where(F.size(ts) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(ts, i), F.element_at(ts, i + 1)
                    ),
                )
            ).alias("tok"),
        )
        .distinct(),
        eager=False,
    )
    covered = None  # (tok) — bounded by the bigram vocabulary
    chosen = None  # (wd) — one row per completed round
    outs = []
    for rnd in (1, 2, 3):
        g = dt
        if covered is not None:
            g = g.join(F.broadcast(covered), "tok", "left_anti")
        if chosen is not None:
            g = g.join(
                F.broadcast(chosen), g.doc_id == chosen.wd, "left_anti"
            )
        w = checkpoint_df(
            g.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
            .limit(1)
            .select(F.col("doc_id").alias("wd"), F.col("gain")),
            eager=False,
        )
        outs.append(
            w.select(
                F.lit(rnd).cast("bigint").alias("round"),
                F.col("wd").cast("bigint").alias("doc_id"),
                F.col("gain").cast("bigint").alias("gain"),
            )
        )
        new_cov = (
            dt.join(F.broadcast(w.select("wd")), dt.doc_id == F.col("wd"))
            .select("tok")
            .distinct()
        )
        covered = checkpoint_df(
            new_cov if covered is None else covered.unionByName(new_cov).distinct(),
            eager=False,
        )
        chosen = (
            w.select("wd") if chosen is None else chosen.unionByName(w.select("wd"))
        )
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


@query(
    "m_position_bias",
    oracle="""
WITH toks AS (
  SELECT doc_id, ts,
         len(ts) AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
  WHERE len(ts) >= 10
), pos AS (
  SELECT doc_id, ts[i] AS tok,
         CAST(10 * (i - 1) // n AS BIGINT) AS pos_decile
  FROM toks, LATERAL (SELECT unnest(range(1, n + 1)) AS i) p
), rarity AS (
  SELECT tok, CASE WHEN count(*) >= 500 THEN 'common' ELSE 'rare' END AS klass
  FROM pos GROUP BY tok
)
SELECT p.pos_decile, r.klass,
       count(*) AS n,
       count(DISTINCT p.tok) AS n_types
FROM pos p JOIN rarity r ON r.tok = p.tok
GROUP BY p.pos_decile, r.klass
""",
)
def m_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-bias audit: token occurrences bucketed by their
    POSITION DECILE inside the document, split by corpus-frequency
    class — the table that reveals templated corpora (boilerplate
    heads/tails concentrate specific tokens at fixed deciles), which
    inflates early-position loss and biases LM training; pairs with
    m_boilerplate (which strips what this detects).  Position decile
    is exact integer arithmetic on the token index; the rarity class
    comes from one corpus-wide aggregate joined back (broadcast —
    the vocabulary is bounded).  Scale: posexplode → two hash
    aggregates; 20 output cells."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).where(
        F.size("ts") >= 10
    )
    pos = toks.select(
        "doc_id",
        F.size("ts").alias("n"),
        F.posexplode("ts").alias("i0", "tok"),
    ).select(
        "doc_id",
        "tok",
        F.expr("CAST(10 * i0 div n AS BIGINT)").alias("pos_decile"),
    )
    rarity = pos.groupBy("tok").agg(
        F.when(F.count(F.lit(1)) >= 500, "common").otherwise("rare").alias("klass")
    )
    return (
        pos.join(F.broadcast(rarity), "tok")
        .groupBy("pos_decile", "klass")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("tok").alias("n_types"),
        )
    )


# 1 day (measured: a 1 h gap is EMPTY at sf0.001 — ~1.4 events/h —
# which would make the purge vacuous at smoke scale; 1 day catches
# 33 / 345 / 3365 events at sf0.001/0.01/0.1)
_EMBARGO_S = 86400
_TRAIN_FRAC_PCT = 80   # temporal split point at 80% of the span


@query(
    "m_train_val_embargo",
    oracle=f"""
WITH es AS (
  SELECT user_id,
         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS s
  FROM events
),
bounds AS (
  SELECT min(s) AS mn,
         min(s) + (max(s) - min(s)) * {_TRAIN_FRAC_PCT} // 100 AS t_split
  FROM es
),
tagged AS (
  SELECT user_id,
         CASE WHEN s <= t_split THEN 'train'
              WHEN s > t_split + {_EMBARGO_S} THEN 'val'
              ELSE 'embargo' END AS split
  FROM es CROSS JOIN bounds
),
per_user AS (
  SELECT user_id,
         max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
         max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val
  FROM tagged GROUP BY user_id
)
SELECT
  (SELECT COUNT(CASE WHEN split = 'train' THEN 1 END) FROM tagged) AS n_train,
  (SELECT COUNT(CASE WHEN split = 'val' THEN 1 END) FROM tagged) AS n_val,
  (SELECT COUNT(CASE WHEN split = 'embargo' THEN 1 END) FROM tagged) AS n_embargoed,
  (SELECT COUNT(CASE WHEN in_train = 1 AND in_val = 1 THEN 1 END) FROM per_user)
    AS n_users_both,
  (SELECT COUNT(CASE WHEN split = 'train' THEN 1 END) * 1000000 // COUNT(*)
   FROM tagged) AS train_frac_ppm
""",
)
def m_train_val_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/validation split with a PURGE EMBARGO: the split
    point is {80}% through the corpus time span and a {86400}-second
    gap after it belongs to NEITHER side — the leakage guard
    backtesting pipelines apply so that forward-looking features
    computed at train time cannot peek across the boundary (purged
    splits, López de Prado's rule).  The report also counts users
    active on BOTH sides — the entity-overlap statistic that decides
    whether a user-level split is needed instead.  Hash-safety: the
    boundary is exact BIGINT second arithmetic on truncated-to-second
    epochs (never raw ns timestamps), fractions are integer ppm.
    Scale: one bounds aggregate broadcast back over one scan, plus a
    user-grain aggregate for the overlap — two shuffles total."""
    e = load_table(spark, sf_dir, "events")
    s = F.expr("CAST(unix_timestamp(date_trunc('second', ts)) AS BIGINT)")
    es = e.select("user_id", s.alias("s"))
    bounds = es.agg(
        F.min("s").alias("mn"),
        F.expr(f"min(s) + (max(s) - min(s)) * {_TRAIN_FRAC_PCT} div 100").alias(
            "t_split"
        ),
    )
    tagged = es.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("s") <= F.col("t_split"), "train")
        .when(F.col("s") > F.col("t_split") + _EMBARGO_S, "val")
        .otherwise("embargo")
        .alias("split"),
    )
    per_user = tagged.groupBy("user_id").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("split") == "val", 1).otherwise(0)).alias("in_val"),
    )
    overlap = per_user.agg(
        F.count(
            F.when((F.col("in_train") == 1) & (F.col("in_val") == 1), 1)
        ).alias("n_users_both")
    )
    return (
        tagged.agg(
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
            F.count(F.when(F.col("split") == "embargo", 1)).alias("n_embargoed"),
            F.expr(
                "count(CASE WHEN split = 'train' THEN 1 END) * 1000000"
                " div count(*)"
            ).alias("train_frac_ppm"),
        )
        .crossJoin(F.broadcast(overlap))
        .select("n_train", "n_val", "n_embargoed", "n_users_both", "train_frac_ppm")
    )


@query(
    "m_churn_labels",
    oracle="""
WITH weeks AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 604800 AS wk,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), purch AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 604800 AS wk
  FROM events WHERE event_type = 'purchase'
), horizon AS (
  SELECT CAST(max(epoch(date_trunc('day', ts))) AS BIGINT) // 604800 AS max_wk
  FROM events
)
SELECT w.user_id, w.wk, w.n_events,
       CASE WHEN nxt.user_id IS NULL THEN 1 ELSE 0 END AS churned_next_week
FROM weeks w
LEFT JOIN purch nxt
  ON nxt.user_id = w.user_id AND nxt.wk = w.wk + 1
CROSS JOIN horizon h
WHERE w.wk < h.max_wk
""",
)
def m_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised LABEL CONSTRUCTION for churn modeling: one training
    row per active (user, week) with the forward-looking target
    "no PURCHASE in the following week" (revenue churn — the
    any-activity variant never fires on this corpus: every user has
    events every week, a permanently-zero label the round-5
    dead-column audit caught; purchase churn fires 1/38/307 times at
    sf0.001/0.01/0.1) — the label-engineering step
    that turns raw telemetry into a training table, where the subtle
    bugs live (peeking: rows in the final week have an UNKNOWABLE
    label and must be dropped, which the horizon filter does
    explicitly — mirrored in the oracle so the gate would catch a
    leak).  The label is a self anti-join on the shifted week key —
    one extra hash join, no window.  Pairs with m_crossval_folds /
    m_stratified_split downstream.  Exact integers throughout."""
    e = load_table(spark, sf_dir, "events")
    wk = (F.unix_timestamp(F.date_trunc("day", "ts")) / 604800).cast("bigint")
    weeks = e.groupBy("user_id", wk.alias("wk")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    horizon = weeks.agg(F.max("wk").alias("max_wk"))
    nxt = (
        e.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("nu"), (wk - 1).alias("prev_wk"))
        .distinct()
    )
    return (
        weeks.join(
            nxt,
            (F.col("user_id") == F.col("nu")) & (F.col("wk") == F.col("prev_wk")),
            "left",
        )
        .crossJoin(F.broadcast(horizon))
        .where(F.col("wk") < F.col("max_wk"))
        .select(
            "user_id",
            "wk",
            "n_events",
            F.when(F.col("nu").isNull(), 1).otherwise(0).alias("churned_next_week"),
        )
    )


@query(
    "m_shard_balance",
    oracle="""
WITH assigned AS (
  SELECT doc_id % 64 AS shard, n_chars FROM documents
), per_shard AS (
  SELECT shard, count(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM assigned GROUP BY shard
), stats AS (
  SELECT shard, docs, chars,
         CAST(SUM(chars) OVER () AS BIGINT) AS total_chars,
         count(*) OVER () AS n_shards
  FROM per_shard
)
SELECT shard, docs, chars,
       CAST(chars * n_shards * 1000 // total_chars AS BIGINT)
         AS load_vs_even_permille
FROM stats
""",
)
def m_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance audit: the corpus mapped onto 64
    output shards by key hash (modular here — swap in xxhash per
    deployment) with each shard's byte load expressed against the
    perfectly-even baseline (1000 permille = exactly fair) — the
    pre-write check that decides whether a training-data export needs
    size-aware bin packing (m_seq_pack's problem at file granularity)
    or whether hash sharding suffices.  Exact integers; the
    per-shard/total ratio uses the integer-permille rule.  Scale: one
    aggregate to 64 rows + one window."""
    d = load_table(spark, sf_dir, "documents")
    per_shard = d.groupBy((F.col("doc_id") % 64).alias("shard")).agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars")
    )
    wall = Window.partitionBy()
    stats = per_shard.select(
        "shard",
        "docs",
        "chars",
        F.sum("chars").over(wall).alias("total_chars"),
        F.count(F.lit(1)).over(wall).alias("n_shards"),
    )
    return stats.select(
        "shard",
        "docs",
        F.col("chars").cast("bigint").alias("chars"),
        F.expr(
            "CAST(chars * n_shards * 1000 div total_chars AS BIGINT)"
        ).alias("load_vs_even_permille"),
    )


@query(
    "m_sft_pairs",
    oracle="""
WITH cut AS (
  SELECT doc_id, lang, text,
         CASE WHEN instr(substring(text, 40), ' ') > 0
              THEN instr(substring(text, 40), ' ') + 39 ELSE 0 END AS dot
  FROM documents
)
SELECT doc_id, lang,
       CAST(CASE WHEN dot > 0 THEN dot ELSE 0 END AS BIGINT) AS prompt_chars,
       CAST(CASE WHEN dot > 0 THEN length(text) - dot ELSE 0 END AS BIGINT)
         AS response_chars,
       CASE WHEN dot > 0 AND length(text) - dot >= 120 THEN 1 ELSE 0 END
         AS usable
FROM cut
""",
)
def m_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-pair shaping: each document splits at its first
    word boundary at or after character 40 into (prompt, response) and
    reports the pair's length profile plus a usability flag (boundary
    found, response >= 120 chars) — the data-shaping step between a
    raw corpus and an SFT dataset, where the filters (too-short
    responses, missing boundaries) silently decide dataset size.  The
    boundary rule sits on the MEASURED corpus (round-4 rule): the
    original first-'.' rule NEVER fired (the corpus has no periods —
    a permanently vacuous gate this revision removes); the space-at-40
    rule leaves 396/390/3887 of 500/500/5000 usable at
    sf0.001/0.01/0.1 — non-trivial in both directions at every scale.
    Emits LENGTHS, not the split text (scalar-schema rule).  Scale:
    pure per-row projection."""
    d = load_table(spark, sf_dir, "documents")
    cut = d.select(
        "doc_id",
        "lang",
        "text",
        F.when(
            F.expr("instr(substring(text, 40), ' ')") > 0,
            F.expr("instr(substring(text, 40), ' ')") + 39,
        )
        .otherwise(0)
        .alias("dot"),
    )
    return cut.select(
        "doc_id",
        "lang",
        F.when(F.col("dot") > 0, F.col("dot"))
        .otherwise(0)
        .cast("bigint")
        .alias("prompt_chars"),
        F.when(F.col("dot") > 0, F.length("text") - F.col("dot"))
        .otherwise(0)
        .cast("bigint")
        .alias("response_chars"),
        F.when(
            (F.col("dot") > 0) & (F.length("text") - F.col("dot") >= 120), 1
        )
        .otherwise(0)
        .alias("usable"),
    )


@query(
    "m_upsample_plan",
    oracle="""
WITH per_src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS toks,
         CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0
              THEN 2 ELSE 1 END AS target_w
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(toks) AS BIGINT) AS total_toks,
         CAST(SUM(target_w) AS BIGINT) AS total_w
  FROM per_src
), planned AS (
  SELECT s.source, s.toks, s.target_w,
         CAST((s.target_w * t.total_toks + s.toks * t.total_w - 1)
              // (s.toks * t.total_w) AS BIGINT) AS repeats
  FROM per_src s, tot t
)
SELECT source, toks, repeats,
       CAST(repeats * toks AS BIGINT) AS planned_toks,
       CAST(repeats * toks * 1000
            // (SELECT CAST(SUM(repeats * toks) AS BIGINT) FROM planned)
            AS BIGINT) AS achieved_permille
FROM planned
""",
)
def m_upsample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-upsampling plan: given per-source target weights (the
    literal policy — here 2:1 favoring even-numbered sources), the
    integer repeat count each source needs so its share of planned
    tokens reaches its target share — ``repeats = ceil(target_share /
    natural_share)``, the whole-epoch constraint real pretraining
    mixes obey (you repeat a corpus an integer number of times;
    m_temperature_mix computes fractional TARGETS, this turns them
    into an executable plan and reports the achieved permille the
    integer rounding actually delivers).  Exact integer ceil via
    ``(a + b - 1) div b``; achieved shares by integer permille.
    Scale: one aggregate to |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.sum("n_chars").alias("toks")).select(
        "source",
        F.col("toks").cast("bigint").alias("toks"),
        F.expr(
            "CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0"
            " THEN 2 ELSE 1 END"
        ).alias("target_w"),
    )
    wall = Window.partitionBy()
    planned = per_src.select(
        "source",
        "toks",
        F.sum("toks").over(wall).alias("total_toks"),
        (F.sum("target_w").over(wall)).alias("total_w"),
        "target_w",
    ).select(
        "source",
        "toks",
        F.expr(
            "CAST((target_w * total_toks + toks * total_w - 1)"
            " div (toks * total_w) AS BIGINT)"
        ).alias("repeats"),
    )
    return planned.select(
        "source",
        "toks",
        "repeats",
        (F.col("repeats") * F.col("toks")).cast("bigint").alias("planned_toks"),
        F.expr(
            "CAST(repeats * toks * 1000 div"
            " (SUM(repeats * toks) OVER ()) AS BIGINT)"
        ).alias("achieved_permille"),
    )


@query(
    "m_pps_sample",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_centi
  FROM orders GROUP BY o_custkey
), cum AS (
  SELECT o_custkey, rev_centi,
         CAST(SUM(rev_centi) OVER (ORDER BY o_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c,
         CAST(SUM(rev_centi) OVER () AS BIGINT) AS total
  FROM per_cust
)
SELECT o_custkey, rev_centi,
       CAST(c // (total // 100) AS BIGINT) AS boundary_idx
FROM cum
WHERE c // (total // 100) > (c - rev_centi) // (total // 100)
""",
)
def m_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size (PPS) sampling:
    customers are selected wherever their cumulative revenue mass
    crosses one of ~100 equal-mass stride boundaries — every unit of
    revenue has equal selection probability, so big accounts are
    near-certain picks and the sample stays ~100 rows regardless of
    population size (the survey-sampling companion to
    m_neyman_allocation: Neyman sizes the strata, PPS picks within
    them).  Fully deterministic integer arithmetic — cumulative
    centi-unit mass, stride = total div 100, selection = "my interval
    contains a boundary" via two integer divisions — no RNG, no
    floats, reproducible across engines and runs by construction.
    Scale: one aggregate, then the cumulative mass runs
    RANGE-PARTITIONED with offset recombination
    (functions.ranks.with_global_order) over |customers| rows — the
    corpus-growing grain — and the scalar total rides a broadcast."""
    from ..functions.ranks import with_global_order

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_centi")
    )
    base = with_global_order(
        per_cust, [F.col("o_custkey").asc()], cumsum={"c": F.col("rev_centi")}
    )
    # the grand total IS the last cumulative value; computing it from
    # the helper output reuses the checkpoint (no second pass)
    cum = base.crossJoin(F.broadcast(base.agg(F.max("c").alias("total"))))
    return cum.where(
        F.expr("c div (total div 100) > (c - rev_centi) div (total div 100)")
    ).select(
        "o_custkey",
        "rev_centi",
        F.expr("CAST(c div (total div 100) AS BIGINT)").alias("boundary_idx"),
    )


@query(
    "m_gopher_rules",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN NOT ok_wc THEN 1 END) AS fail_wordcount,
       COUNT(CASE WHEN NOT ok_mwl THEN 1 END) AS fail_meanwordlen,
       COUNT(CASE WHEN NOT ok_stop THEN 1 END) AS fail_stopwords,
       COUNT(CASE WHEN NOT ok_ttr THEN 1 END) AS fail_ttr,
       COUNT(CASE WHEN ok_wc AND ok_mwl AND ok_stop AND ok_ttr THEN 1 END)
         AS pass_all
FROM (
  SELECT lang, source,
         n BETWEEN 20 AND 90 AS ok_wc,
         CAST(n_chars - (n - 1) AS DOUBLE) / n BETWEEN 4.2 AND 4.8 AS ok_mwl,
         stop >= 2 AS ok_stop,
         CAST(nd AS DOUBLE) / n >= 0.32 AS ok_ttr
  FROM (
    SELECT lang, source, n_chars,
           len(string_split(text, ' ')) AS n,
           len(list_distinct(string_split(text, ' '))) AS nd,
           len(list_filter(string_split(text, ' '),
               w -> w IN ('the', 'a', 'value', 'table'))) AS stop
    FROM documents)
) GROUP BY lang, source
""",
)
def m_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate report (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A — the public
    rule set most large-corpus curation pipelines start from): per
    (lang, source) stratum, how many docs fail each heuristic and how
    many clear all four.  Rules, with thresholds re-tuned to the
    measured synthetic-corpus distribution so every rule actually
    bites (~10-20% fail each at sf0.01 AND sf0.1 — a 0-fail rule is
    vacuous evidence, see the round-4 thresholding note):

    - word count in [20, 90]        (Gopher: [50, 100k])
    - mean word length in [4.2, 4.8] (Gopher: [3, 10])
    - >= 2 stop-word hits            (Gopher: >= 2 of 8 English stops)
    - type-token ratio >= 0.32       (Gopher's repetition family)

    Determinism: all rule inputs are exact integers; the two ratio
    comparisons divide small exact ints in double (one correctly
    rounded IEEE op, identical in both engines) against fixed literals
    — comparisons can tie but never diverge, and the emitted columns
    are pure BIGINT counts, so no rounding rule is ever exercised.
    Scale: split once per doc (CSE keeps one split despite three
    consumers — staged as columns per the when()-branch CSE note), no
    explode, one partial-aggregated groupBy on a low-cardinality key:
    I/O-bound at 100 TB.  COUNT(CASE ...) not SUM(CASE ...) in the
    oracle (DuckDB SUM returns HUGEINT, hash-mismatches BIGINT)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.size(
            F.filter(toks, lambda w: w.isin("the", "a", "value", "table"))
        ).alias("stop"),
    )
    mwl = (F.col("n_chars") - (F.col("n") - 1)).cast("double") / F.col("n")
    flags = base.select(
        "lang",
        "source",
        F.col("n").between(20, 90).alias("ok_wc"),
        mwl.between(4.2, 4.8).alias("ok_mwl"),
        (F.col("stop") >= 2).alias("ok_stop"),
        ((F.col("nd").cast("double") / F.col("n")) >= 0.32).alias("ok_ttr"),
    )
    return flags.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~F.col("ok_wc"), 1)).alias("fail_wordcount"),
        F.count(F.when(~F.col("ok_mwl"), 1)).alias("fail_meanwordlen"),
        F.count(F.when(~F.col("ok_stop"), 1)).alias("fail_stopwords"),
        F.count(F.when(~F.col("ok_ttr"), 1)).alias("fail_ttr"),
        F.count(
            F.when(
                F.col("ok_wc") & F.col("ok_mwl") & F.col("ok_stop") & F.col("ok_ttr"),
                1,
            )
        ).alias("pass_all"),
    )


@query(
    "m_ccnet_buckets",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), lm AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), n_corpus AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM lm
), scored AS (
  SELECT t.doc_id,
         round(log2(CAST(nc.n AS DOUBLE) / lm.c), 6) AS bits
  FROM toks t JOIN lm ON lm.tok = t.tok CROSS JOIN n_corpus nc
), per_doc AS (
  SELECT doc_id,
         count(*) AS n_tok,
         CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT) // count(*)
           AS microbits
  FROM scored GROUP BY doc_id
), bucketed AS (
  SELECT d.lang, p.n_tok, p.microbits,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY p.microbits, p.doc_id) AS bucket
  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
)
SELECT lang,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(microbits) AS BIGINT) // count(*) AS avg_microbits
FROM bucketed GROUP BY lang, bucket
""",
)
def m_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2019,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — the public recipe behind most CommonCrawl-derived training
    sets): score every document with a language-model quality signal,
    then cut each LANGUAGE into perplexity terciles; downstream
    pipelines keep "head", sample "middle", and drop "tail".  The score
    here is the corpus-unigram cross-entropy in fixed-point micro-bits
    (identical discipline to m_lm_cross_entropy: 6 dp-rounded
    surprisal terms, exact DECIMAL sum, integer div — see the CLAUDE.md
    midpoint-trap note), and the tercile cut is ntile(3) per lang
    ordered by (microbits, doc_id) — the doc_id tiebreak makes the
    window total-ordered, so ntile is deterministic across engines.
    Output per (lang, bucket): doc count, token mass, and the bucket's
    mean score in micro-bits (integer div of exact integers).
    Scale shape: the LM is vocabulary-sized and broadcasts into the
    scoring join (the exploded token stream never shuffles); the
    tercile window shuffles one ~20-byte row per DOCUMENT (not token)
    partitioned by lang — at 100 TB, per-language ranks would come
    from a quantile sketch + range partitioning instead of a single
    window sort, which is the documented evolution, not a rewrite."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_corpus = lm.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "doc_id",
            F.round(F.log2(F.col("n").cast("double") / F.col("c")), 6).alias("bits"),
        )
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.col("bits").cast("decimal(28,10)")).alias("s"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.expr("CAST(s * 1000000 AS BIGINT) div n_tok").alias("microbits"),
        )
    )
    w = Window.partitionBy("lang").orderBy("microbits", "doc_id")
    bucketed = per_doc.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang", "n_tok", "microbits", F.ntile(3).over(w).alias("b")
    )
    return bucketed.groupBy(
        "lang",
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.expr("CAST(sum(microbits) AS BIGINT) div count(*)").alias("avg_microbits"),
    )


_BT_SCALE = 1_000_000_000_000  # wins and games mass lifted to 1e12


def _bradley_terry_oracle() -> str:
    terms = """
  SELECT g.s1 AS s,
         CAST(SUM(CASE WHEN pa.p + pb.p = 0 THEN 0
                  ELSE (g.n * {S}) // (pa.p + pb.p) END) AS BIGINT) AS t
  FROM games g JOIN {R} pa ON pa.s = g.s1 JOIN {R} pb ON pb.s = g.s2
  GROUP BY g.s1
"""
    step = """
  SELECT p.s,
         CASE WHEN COALESCE(w.wins, 0) = 0 OR t.t = 0 THEN 0
              ELSE (w.wins * {S}) // t.t END AS p
  FROM players p LEFT JOIN wins w ON w.s = p.s JOIN {T} t ON t.s = p.s
"""
    return f"""
WITH norm AS (
  SELECT CASE WHEN a.n_chars > b.n_chars THEN a.source ELSE b.source END AS w,
         CASE WHEN a.n_chars > b.n_chars THEN b.source ELSE a.source END AS l
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source AND a.n_chars <> b.n_chars
),
wins AS (SELECT w AS s, count(*) AS wins FROM norm GROUP BY w),
games AS (
  SELECT s1, s2, count(*) AS n FROM (
    SELECT w AS s1, l AS s2 FROM norm UNION ALL SELECT l AS s1, w AS s2 FROM norm
  ) GROUP BY s1, s2
),
players AS (SELECT s1 AS s, CAST(SUM(n) AS BIGINT) AS games_tot FROM games GROUP BY s1),
r0 AS (SELECT s, CAST(1000000 AS BIGINT) AS p FROM players),
t1 AS ({terms.format(S=_BT_SCALE, R="r0")}),
r1 AS ({step.format(S=_BT_SCALE, T="t1")}),
t2 AS ({terms.format(S=_BT_SCALE, R="r1")}),
r2 AS ({step.format(S=_BT_SCALE, T="t2")})
SELECT p.s AS source, p.games_tot AS games,
       CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins,
       r2.p AS rating_micro
FROM players p LEFT JOIN wins w ON w.s = p.s JOIN r2 ON r2.s = p.s
"""


@query("m_bradley_terry", oracle=_bradley_terry_oracle())
def m_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise preferences — the
    model behind RLHF reward aggregation and chatbot-arena-style
    leaderboards (public formulation: Bradley & Terry 1952; the
    minorization-maximization update is Hunter 2004, eq. 2.1:
    p_i' = W_i / Σ_j N_ij/(p_i+p_j), two unrolled rounds from a
    uniform start).  Duels pair consecutive documents from different
    sources, winner = longer text (the plug-in point for any pairwise
    judge); sources are the players.

    Hash-safety: the iteration is division-heavy, so it runs entirely
    in fixed-point micro-units per the ml/graph.py discipline — every
    term N_ij*1e12 div (P_i+P_j) is an exact positive-integer
    truncating division (identical in both engines), summed exactly,
    and zero-win players pin to rating 0 (guarding the 0/0 that two
    zero-rated players would otherwise feed the next round).

    Scale: the O(|corpus|) half is the duel scan + two counting
    aggregates (one shuffle each on the tiny source key); the solve
    itself runs on the |players|² ≤ 400-row matrix with broadcast
    rating tables — at 100 TB the iteration cost is unchanged, only
    the duel scan grows.  Documents pair via a co-partitioned
    self-join on doc_id+1, not a global-order window."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("source").alias("b_source"),
        F.col("n_chars").alias("b_chars"),
    )
    norm = (
        d.join(b, "doc_id")
        .where((F.col("source") != F.col("b_source")) & (F.col("n_chars") != F.col("b_chars")))
        .select(
            F.when(F.col("n_chars") > F.col("b_chars"), F.col("source"))
            .otherwise(F.col("b_source"))
            .alias("w"),
            F.when(F.col("n_chars") > F.col("b_chars"), F.col("b_source"))
            .otherwise(F.col("source"))
            .alias("l"),
        )
    )
    # r11: lazy pins end to end — the duel scan (norm) is read by
    # three aggregates and the bounded wins/games/players tables are
    # re-read by every round's broadcast builds; unpinned, each
    # broadcast build re-executed the corpus-level duel join (59
    # Exchanges in the before-plan). Per-round rating pins stop the
    # round-over-round lineage nesting (m_epoch_cap_mix rule).
    lazy = lambda df: checkpoint_df(df, eager=False)  # noqa: E731
    norm = norm.transform(lazy)
    wins = norm.groupBy(F.col("w").alias("s")).agg(F.count(F.lit(1)).alias("wins")).transform(lazy)
    games = (
        norm.select(F.col("w").alias("s1"), F.col("l").alias("s2"))
        .unionAll(norm.select(F.col("l").alias("s1"), F.col("w").alias("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(lazy)
    )
    players = games.groupBy(F.col("s1").alias("s")).agg(
        F.sum("n").cast("bigint").alias("games_tot")
    ).transform(lazy)
    rating = players.select("s", F.lit(1_000_000).cast("bigint").alias("p"))
    for _ in range(2):
        t = (
            games.join(F.broadcast(rating.select(F.col("s").alias("s1"), F.col("p").alias("pa"))), "s1")
            .join(F.broadcast(rating.select(F.col("s").alias("s2"), F.col("p").alias("pb"))), "s2")
            .groupBy(F.col("s1").alias("s"))
            .agg(
                F.sum(
                    F.when(F.col("pa") + F.col("pb") == 0, F.lit(0)).otherwise(
                        F.expr(f"(n * {_BT_SCALE}) div (pa + pb)")
                    )
                )
                .cast("bigint")
                .alias("t")
            )
        )
        rating = (
            players.join(F.broadcast(wins), "s", "left")
            .join(F.broadcast(t), "s")
            .select(
                "s",
                F.when(
                    (F.coalesce(F.col("wins"), F.lit(0)) == 0) | (F.col("t") == 0),
                    F.lit(0),
                )
                .otherwise(F.expr(f"(wins * {_BT_SCALE}) div t"))
                .cast("bigint")
                .alias("p"),
            )
            .transform(lazy)
        )
    return (
        players.join(F.broadcast(wins), "s", "left")
        .join(F.broadcast(rating), "s")
        .select(
            F.col("s").alias("source"),
            F.col("games_tot").alias("games"),
            F.coalesce(F.col("wins"), F.lit(0)).cast("bigint").alias("wins"),
            F.col("p").alias("rating_micro"),
        )
    )


@query(
    "m_kanonymity",
    oracle="""
WITH fine AS (
  SELECT lang, count(*) AS n
  FROM documents GROUP BY lang, source, n_chars // 50
),
coarse AS (
  SELECT lang, count(*) AS n
  FROM documents GROUP BY lang, n_chars // 200
)
SELECT f.lang, f.n_docs, f.fine_groups, f.fine_singletons, f.fine_at_risk,
       c.coarse_groups, c.coarse_at_risk
FROM (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
         count(*) AS fine_groups,
         COUNT(CASE WHEN n = 1 THEN 1 END) AS fine_singletons,
         CAST(COALESCE(SUM(CASE WHEN n < 3 THEN n END), 0) AS BIGINT)
           AS fine_at_risk
  FROM fine GROUP BY lang) f
JOIN (
  SELECT lang, count(*) AS coarse_groups,
         CAST(COALESCE(SUM(CASE WHEN n < 3 THEN n END), 0) AS BIGINT)
           AS coarse_at_risk
  FROM coarse GROUP BY lang) c ON c.lang = f.lang
""",
)
def m_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002 — the standard privacy gate a
    training corpus passes before release): treat (lang, source,
    length bucket) as the quasi-identifier tuple, count equivalence
    classes below k=3, the singleton classes (unique rows — directly
    re-identifiable), and the documents at risk; then re-audit under
    one generalization step (drop ``source``, coarsen the length
    bucket 50→200) to show how much suppression generalization buys —
    the fine/coarse delta per language is the operator's point.
    All-integer counts, no rounding rule exercised.  Thresholds sit on
    the MEASURED group-size distribution (round-4 rule): at sf0.001 /
    0.01 / 0.1 the fine audit flags 371/332/252 of 390/359/1015 groups
    and the coarse audit drives the at-risk mass to ZERO at the gate
    scales — generalization ELIMINATING the risk is the measured
    outcome, and the fine/coarse delta is the operator's point.  Scale: two partial-aggregated groupBys (the
    second on a strictly coarser key) and a per-lang rollup — one
    shuffle each, I/O-bound at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    fine = d.groupBy(
        "lang", "source", (F.col("n_chars") / F.lit(50)).cast("bigint").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    coarse = d.groupBy(
        "lang", (F.col("n_chars") / F.lit(200)).cast("bigint").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    f_lang = fine.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("fine_groups"),
        F.count(F.when(F.col("n") == 1, 1)).alias("fine_singletons"),
        F.coalesce(F.sum(F.when(F.col("n") < 3, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("fine_at_risk"),
    )
    c_lang = coarse.groupBy("lang").agg(
        F.count(F.lit(1)).alias("coarse_groups"),
        F.coalesce(F.sum(F.when(F.col("n") < 3, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("coarse_at_risk"),
    )
    return f_lang.join(c_lang, "lang")


@query(
    "m_ldiversity",
    oracle="""
WITH cell AS (
  SELECT source, n_chars // 25 AS b, lang, count(*) AS cnt
  FROM documents GROUP BY source, n_chars // 25, lang
),
grp AS (
  SELECT source, b, count(*) AS l, CAST(SUM(cnt) AS BIGINT) AS n
  FROM cell GROUP BY source, b
)
SELECT source, count(*) AS n_groups,
       COUNT(CASE WHEN l < 3 THEN 1 END) AS viol_groups,
       CAST(COALESCE(SUM(CASE WHEN l < 3 THEN n END), 0) AS BIGINT)
         AS docs_at_risk,
       min(l) AS min_l, max(l) AS max_l
FROM grp GROUP BY source
""",
)
def m_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007 — the follow-up privacy
    gate to [m_kanonymity]'s k-anonymity): a k-anonymous equivalence
    class is still leaky if every member shares the sensitive value,
    so per quasi-identifier group (source, 25-char length bucket)
    count the DISTINCT sensitive values (``lang``) and flag groups
    with fewer than l=3.  Reported per source: group count, violating
    groups, documents inside violating groups (the re-identifiable
    mass), and the min/max diversity.  All-integer counts.  Thresholds
    sit on the MEASURED distribution (round-4 rule): l<3 flags
    253/286, 259/281 and 26/428 groups at sf0.001/0.01/0.1 — never
    vacuous, never total.  Scale: the distinct is computed as an
    explicit two-level aggregate — (source,b,lang)→cnt first (partial
    aggregation applies, no expand node), then (source,b)→(l,n), then
    the per-source rollup — three map-side-combinable shuffles of
    strictly shrinking width, the shape that survives 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy(
        "source", (F.col("n_chars") / F.lit(25)).cast("bigint").alias("b"), "lang"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grp = cell.groupBy("source", "b").agg(
        F.count(F.lit(1)).alias("l"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    return grp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("l") < 3, 1)).alias("viol_groups"),
        F.coalesce(F.sum(F.when(F.col("l") < 3, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("docs_at_risk"),
        F.min("l").alias("min_l"),
        F.max("l").alias("max_l"),
    )


@query(
    "m_rank_fusion",
    oracle="""
WITH scored AS (
  SELECT doc_id, n_chars,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
),
ra AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
       FROM scored),
rb AS (SELECT doc_id, row_number() OVER (ORDER BY n_uniq DESC, n_tok DESC, doc_id) AS r
       FROM scored),
fused AS (
  SELECT ra.doc_id, ra.r AS rank_len, rb.r AS rank_lex,
         round(1e0 / (60 + ra.r) + 1e0 / (60 + rb.r), 6) + 0.0 AS rrf
  FROM ra JOIN rb ON rb.doc_id = ra.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk,
       doc_id, rank_len, rank_lex, rrf
FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
""",
)
def m_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — THE standard way
    retrieval stacks combine rankers without score calibration): two
    deterministic document rankings (by length; by lexical richness —
    distinct words then BPE-ish token count) are fused as
    1/(60+r_a) + 1/(60+r_b) and the top-10 fused documents returned
    with both source ranks.  Ranks are exact integers with doc_id
    tiebreaks, so the fusion arithmetic is two divisions and one add
    on IDENTICAL doubles in both engines — the 6 dp round is stable by
    construction (and `1e0`, not `1.0`: the round-5 decimal-literal
    trap).  RRF's k=60 is the paper's constant.  Scale: two
    RANGE-PARTITIONED ranks over the scored corpus (doc grain grows
    with the corpus — no single-task window), a key join, and a
    TakeOrdered top-10 — no per-pair work anywhere; the final rank
    stamp rides 10 bounded rows."""
    from ..functions.ranks import with_global_order

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_ISH}', 0)")).alias("n_tok"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_uniq"),
    ).transform(checkpoint_df)  # both window ranks read it: tokenize once
    ra = with_global_order(
        scored.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        rank_col="rank_len",
    ).select("doc_id", "rank_len")
    rb = with_global_order(
        scored.select("doc_id", "n_uniq", "n_tok"),
        [F.desc("n_uniq"), F.desc("n_tok"), F.asc("doc_id")],
        rank_col="rank_lex",
    ).select("doc_id", "rank_lex")
    fused = ra.join(rb, "doc_id").select(
        "doc_id",
        "rank_len",
        "rank_lex",
        (
            F.round(
                F.lit(1.0) / (F.lit(60) + F.col("rank_len"))
                + F.lit(1.0) / (F.lit(60) + F.col("rank_lex")),
                6,
            )
            + 0.0
        ).alias("rrf"),
    )
    top = fused.orderBy(F.desc("rrf"), "doc_id").limit(10)
    return top.select(
        F.row_number().over(Window.orderBy(F.desc("rrf"), "doc_id")).alias("rnk"),
        "doc_id",
        "rank_len",
        "rank_lex",
        "rrf",
    )


_MI_TOPK = 20


@query(
    "m_feature_mi",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
), dfl AS (
  SELECT tok, lang, count(*) AS k FROM toks GROUP BY tok, lang
), dft AS (
  SELECT tok, CAST(SUM(k) AS BIGINT) AS df FROM dfl GROUP BY tok
), langs AS (
  SELECT lang, count(*) AS nl FROM documents GROUP BY lang
), tot AS (SELECT count(*) AS n FROM documents),
grid AS (
  SELECT t.tok, t.df, l.nl, COALESCE(d.k, 0) AS k, (SELECT n FROM tot) AS n
  FROM dft t CROSS JOIN langs l
  LEFT JOIN dfl d ON d.tok = t.tok AND d.lang = l.lang
), cells AS (
  SELECT tok, max(df) AS df_docs, SUM(
    CASE WHEN k = 0 THEN CAST(0 AS DECIMAL(28,10))
         ELSE CAST(round((CAST(k AS DOUBLE) / n)
              * log2(CAST(k * n AS DOUBLE) / (df * nl)), 6) AS DECIMAL(28,10)) END
    + CASE WHEN nl - k = 0 OR n - df = 0 THEN CAST(0 AS DECIMAL(28,10))
         ELSE CAST(round((CAST(nl - k AS DOUBLE) / n)
              * log2(CAST((nl - k) * n AS DOUBLE) / ((n - df) * nl)), 6) AS DECIMAL(28,10)) END
  ) AS mi
  FROM grid GROUP BY tok
)
SELECT tok, df_docs, CAST(mi * 1000000 AS BIGINT) AS mi_ubits
FROM cells ORDER BY mi DESC, tok ASC LIMIT {_MI_TOPK}
""",
)
def m_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(token-presence; lang) per vocabulary item —
    the classic filter-method feature selector (and the score behind
    'which tokens give away the language', the leakage audit a
    lang-balanced training split runs). For each token the full
    2×|langs| contingency grid is scored: present cells (k = per-lang
    doc frequency) AND absent cells (nl−k) both contribute, with the
    p=0 convention term=0 — on this corpus both cell kinds fire at
    every scale and top-MI values spread 8.3k→14.4k µbits at sf0.01
    (measured; vacuity-audited). Hash-safety: every log2 argument is a
    ratio of exact BIGINT products (≤1e12 at 100× — double-exact); each
    p·log2 term is rounded to 6 dp and summed in DECIMAL (order-free),
    and the output is exact integer µbits scaled INSIDE decimal (the
    round-4 double-scaling trap). Exact-integer cases (k·n = df·nl, or
    power-of-two ratios with N = 250·10^k) land ON the 6 dp grid, never
    midpoints. Scale shape: distinct-per-doc explode (array_distinct
    BEFORE explode), two hash aggs, a |vocab|×|langs| grid built by
    crossJoin against the BROADCAST lang dim (bounded-domain grouping
    key) and the scalar N — one shuffle per agg, top-k via
    TakeOrderedAndProject, no windows, no Python."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    dfl = toks.groupBy("tok", "lang").agg(F.count(F.lit(1)).alias("k"))
    dft = dfl.groupBy("tok").agg(F.sum("k").cast("bigint").alias("df"))
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        dft.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(tot))
        .join(dfl, ["tok", "lang"], "left")
        .select("tok", "df", "nl", "n", F.coalesce("k", F.lit(0)).alias("k"))
    )
    dec = "DECIMAL(28,10)"
    cell1 = (
        f"CASE WHEN k = 0 THEN CAST(0 AS {dec}) "
        f"ELSE CAST(round((CAST(k AS DOUBLE) / n) "
        f"* log2(CAST(k * n AS DOUBLE) / (df * nl)), 6) AS {dec}) END"
    )
    cell0 = (
        f"CASE WHEN nl - k = 0 OR n - df = 0 THEN CAST(0 AS {dec}) "
        f"ELSE CAST(round((CAST(nl - k AS DOUBLE) / n) "
        f"* log2(CAST((nl - k) * n AS DOUBLE) / ((n - df) * nl)), 6) AS {dec}) END"
    )
    cells = grid.groupBy("tok").agg(
        F.max("df").alias("df_docs"),
        F.sum(F.expr(f"{cell1} + {cell0}")).alias("mi"),
    )
    return (
        cells.orderBy(F.col("mi").desc(), F.col("tok").asc())
        .limit(_MI_TOPK)
        .select(
            "tok",
            "df_docs",
            F.expr("CAST(mi * 1000000 AS BIGINT)").alias("mi_ubits"),
        )
    )


_LR_TOKENS_PER_STEP = 2048
_LR_GRID = 64
_LR_PEAK_U = 1_000_000


@query(
    "m_lr_schedule",
    oracle=f"""
WITH tot AS (
  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t FROM documents
), p AS (
  SELECT (t + {_LR_TOKENS_PER_STEP - 1}) // {_LR_TOKENS_PER_STEP} AS steps,
         GREATEST((t + {_LR_TOKENS_PER_STEP - 1}) // {_LR_TOKENS_PER_STEP} // 20, 4) AS w
  FROM tot
), grid AS (
  SELECT DISTINCT GREATEST(1, (g.i * p.steps) // {_LR_GRID}) AS s, p.steps, p.w
  FROM p, generate_series(1, {_LR_GRID}) AS g(i)
)
SELECT s AS step,
       s * {_LR_TOKENS_PER_STEP} AS tokens_seen,
       CASE WHEN s < w THEN 1 ELSE 0 END AS in_warmup,
       CAST(floor({_LR_PEAK_U} * least(CAST(s AS DOUBLE) / w,
                                       sqrt(CAST(w AS DOUBLE) / s))) AS BIGINT) AS lr_u
FROM grid
""",
)
def m_lr_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training learning-rate schedule table derived from the measured
    corpus token mass: steps = ceil(total_tokens / {tokens_per_step}),
    linear warmup to peak over w = max(steps div 20, 4) steps, then
    inverse-sqrt (Noam) decay — the schedule artifact a pretraining
    run derives from its data budget, sampled at 64 evenly spaced
    checkpoints. The warmup floor of 4 is load-bearing: steps div 20
    is 0 at sf0.001/0.01 (14 steps measured; 133 at sf0.1), which
    would leave the warmup branch structurally dead — with the floor
    it fires at every scale (steps 1-3 / 1-3 / 1-5). Inverse-sqrt
    rather than cosine BY DESIGN: IEEE sqrt/division/multiplication
    are correctly rounded, so both engines compute bit-identical
    doubles and floor() agrees everywhere, whereas cos differs ~1 ULP
    between JVM and libm (the CLAUDE.md transcendental trap — there
    is no grid coarse enough to be PROVABLY midpoint-free for a
    schedule table). Non-integer rationals s/w sit >=1/w from any
    integer, so the warmup floor is also exact. Scale shape: ONE
    corpus scan to a scalar, then a 64-row literal grid exploded from
    it — the output is O(1) regardless of corpus size; no window, no
    Python, broadcast bounded by scalar agg."""
    d = load_table(spark, sf_dir, "documents")
    tot = d.agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("t")
    )
    p = tot.select(
        F.expr(f"(t + {_LR_TOKENS_PER_STEP - 1}) div {_LR_TOKENS_PER_STEP}").alias("steps")
    ).select(
        "steps", F.expr("greatest(steps div 20, 4)").alias("w")
    )
    grid = (
        p.select(F.explode(F.sequence(F.lit(1), F.lit(_LR_GRID))).alias("i"), "steps", "w")
        .select(F.expr(f"greatest(1, (i * steps) div {_LR_GRID})").alias("s"), "steps", "w")
        .distinct()
    )
    return grid.select(
        F.col("s").alias("step"),
        (F.col("s") * _LR_TOKENS_PER_STEP).alias("tokens_seen"),
        F.when(F.col("s") < F.col("w"), 1).otherwise(0).alias("in_warmup"),
        F.expr(
            f"CAST(floor({_LR_PEAK_U} * least(CAST(s AS DOUBLE) / w,"
            " sqrt(CAST(w AS DOUBLE) / s))) AS BIGINT)"
        ).alias("lr_u"),
    )


_MOE_EXPERTS = 4


def _moe_duck_h(e: int) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(tok || '#{e}'), {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15)
    )


@query(
    "m_moe_balance",
    oracle=f"""
WITH toks AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), asn AS MATERIALIZED (
  SELECT list_sort([
    ({_moe_duck_h(0)}) * 4 + 0, ({_moe_duck_h(1)}) * 4 + 1,
    ({_moe_duck_h(2)}) * 4 + 2, ({_moe_duck_h(3)}) * 4 + 3
  ]) AS l
  FROM toks
), picks AS (
  SELECT CAST(l[4] % 4 AS BIGINT) AS e1, CAST(l[3] % 4 AS BIGINT) AS e2 FROM asn
), tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM picks),
ex AS (SELECT CAST(range AS BIGINT) AS expert FROM range({_MOE_EXPERTS})),
n1 AS (SELECT e1 AS expert, CAST(count(*) AS BIGINT) AS n FROM picks GROUP BY e1),
n2 AS (SELECT e2 AS expert, CAST(count(*) AS BIGINT) AS n FROM picks GROUP BY e2)
SELECT ex.expert,
       COALESCE(n1.n, 0) AS n_top1,
       COALESCE(n2.n, 0) AS n_top2,
       (COALESCE(n1.n, 0) + COALESCE(n2.n, 0)) * 1000000 // (2 * t) AS load_ppm,
       CAST((CAST(COALESCE(n1.n, 0) AS HUGEINT) * COALESCE(n1.n, 0)
             * {_MOE_EXPERTS} * 1000000) // (CAST(t AS HUGEINT) * t) AS BIGINT)
         AS loss_contrib_micro
FROM ex LEFT JOIN n1 USING (expert) LEFT JOIN n2 USING (expert) CROSS JOIN tot
""",
)
def m_moe_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-of-experts router load-balance audit: every token
    instance routes to its top-2 of {E} experts by deterministic hash
    'logits' (md5(token#e) — the degenerate-but-reproducible router
    every MoE data-pipeline dry-run uses before a trained gate
    exists), and the output is the per-expert top-1/top-2 assignment
    counts, the load in ppm of total slots, and each expert's
    contribution E·f_e²·1e6 to the Switch-style auxiliary balance
    loss (p_e≈f_e under a hard router). On this corpus the routing is
    token-TYPE-level (31-word vocabulary), so loads are genuinely
    imbalanced — 183/250/233/334 permille measured, stable across all
    three scales — and every output value varies per expert (vacuity
    audit). Exact integer math: combined keys h·4+e stay under 2^62;
    the squared-count loss routes through DECIMAL/HUGEINT (n² ·4e6
    passes int64 at 100×, the q_chi_square rule). Scale shape: the
    top-2 selection happens INSIDE a transform on the token array
    BEFORE the explode (derived scalars only ride the shuffle —
    explode hygiene rule), then two bounded-key hash aggs joined onto
    a 4-row literal grid; one corpus scan, no windows, no Python."""
    d = load_table(spark, sf_dir, "documents")

    def combined(t, e: int):
        hv = F.conv(F.substring(F.md5(F.concat(t, F.lit(f"#{e}"))), 1, 15), 16, 10).cast(
            "long"
        )
        return hv * 4 + e

    def picks_struct(t):
        arr = F.array_sort(F.array(*[combined(t, e) for e in range(_MOE_EXPERTS)]))
        return F.struct(
            F.pmod(F.element_at(arr, -1), F.lit(4)).cast("long").alias("e1"),
            F.pmod(F.element_at(arr, -2), F.lit(4)).cast("long").alias("e2"),
        )

    # r11 re-plan: the router is token-TYPE-level (the hash reads only
    # the token string), so the 4 md5 'logits' + array_sort need to run
    # once per DISTINCT token (31 rows), not once per token INSTANCE
    # (~350k at sf0.1) inside an interpreted transform() lambda — count
    # instances per type first (map-side partial agg on a scalar
    # explode), then route the 31 types and sum the counts. Same exact
    # outputs: per-expert counts are sums of per-type counts.
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    picks = (
        cnt.select("n", picks_struct(F.col("tok")).alias("p"))
        .select("n", "p.e1", "p.e2")
        .transform(checkpoint_df)  # read by both count branches + total
    )
    tot = picks.agg(F.sum("n").cast("bigint").alias("t"))
    n1 = picks.groupBy(F.col("e1").alias("expert")).agg(
        F.sum("n").cast("bigint").alias("n1")
    )
    n2 = picks.groupBy(F.col("e2").alias("expert")).agg(
        F.sum("n").cast("bigint").alias("n2")
    )
    grid = spark.range(_MOE_EXPERTS).select(F.col("id").cast("bigint").alias("expert"))
    return (
        grid.join(F.broadcast(n1), "expert", "left")
        .join(F.broadcast(n2), "expert", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "expert",
            F.coalesce("n1", F.lit(0)).alias("n_top1"),
            F.coalesce("n2", F.lit(0)).alias("n_top2"),
            F.expr(
                "(coalesce(n1, 0) + coalesce(n2, 0)) * 1000000 div (2 * t)"
            ).alias("load_ppm"),
            F.expr(
                f"CAST((CAST(coalesce(n1, 0) AS DECIMAL(28,0)) * coalesce(n1, 0)"
                f" * {_MOE_EXPERTS} * 1000000) div (CAST(t AS DECIMAL(28,0)) * t) AS BIGINT)"
            ).alias("loss_contrib_micro"),
        )
    )


_TR_ITERS = 3
_TR_UNIT = 1_000_000
_TR_TOPK = 20


def _oracle_textrank() -> str:
    head = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), adj AS MATERIALIZED (
  SELECT least(tok, lead(tok, 1) OVER w) AS a,
         greatest(tok, lead(tok, 1) OVER w) AS b
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 1) OVER w IS NOT NULL AND lead(tok, 1) OVER w <> tok
), ew AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM adj GROUP BY a, b
), sym AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM ew UNION ALL SELECT b AS src, a AS dst, w FROM ew
), wsum AS MATERIALIZED (
  SELECT src AS node, CAST(SUM(w) AS BIGINT) AS ws FROM sym GROUP BY src
),
r0 AS MATERIALIZED (SELECT node, CAST({_TR_UNIT} AS BIGINT) AS rank_u FROM wsum)"""
    parts = [head]
    for k in range(1, _TR_ITERS + 1):
        parts.append(
            f""",
r{k} AS MATERIALIZED (
  SELECT s.dst AS node,
         CAST({_TR_UNIT} AS BIGINT) * 15 // 100
           + 850 * CAST(SUM((r.rank_u * s.w) // ws.ws) AS BIGINT) // 1000 AS rank_u
  FROM sym s
  JOIN r{k - 1} r ON r.node = s.src
  JOIN wsum ws ON ws.node = s.src
  GROUP BY s.dst
)"""
        )
    parts.append(
        f"""
SELECT r.node AS tok, ws.ws AS cooc_mass, r.rank_u
FROM r{_TR_ITERS} r JOIN wsum ws ON ws.node = r.node
ORDER BY r.rank_u DESC, r.node ASC LIMIT {_TR_TOPK}"""
    )
    return "".join(parts)


@query("m_textrank_keywords", oracle=_oracle_textrank())
def m_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): damped
    PageRank over the token ADJACENCY graph — undirected edges between
    consecutive tokens, weighted by corpus-wide co-occurrence count —
    then the top-20 ranked vocabulary items, the classic unsupervised
    keyword/keyphrase scorer a curation pipeline runs for topic
    tagging. Same fixed-point discipline as ml/graph.py's pagerank
    (micro-unit BIGINT ranks, damping as the exact rational 850/1000,
    per-edge contribution (rank·w) div strength) so all 3 iterations
    hash-check; the oracle unrolls them with MATERIALIZED CTEs.
    Products stay ≤ rank·w ≈ 1e6·1e7 at 100× — int64-safe. Scale
    shape: adjacency pairs are built INSIDE the row via
    arrays_zip(slice, slice) — consecutive-token structs exist before
    the explode, so only scalar pairs ride the shuffle (explode
    hygiene; the positional self-join alternative would shuffle the
    corpus twice); the graph is vocabulary-bounded (Heaps' law) while
    edge WEIGHTS carry the corpus mass, so the 3 iteration joins run
    over |V|-sized frames at any corpus size. Window-free on the
    Spark side (the oracle's per-doc lead() is DuckDB-only)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1).alias("x"),
                F.slice(toks, 2, F.size(toks) - 1).alias("y"),
            )
        ).alias("p")
    ).where(F.col("p.x") != F.col("p.y"))
    ew = (
        pairs.select(
            F.least("p.x", "p.y").alias("a"), F.greatest("p.x", "p.y").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    sym = ew.selectExpr("a AS src", "b AS dst", "w").unionByName(
        ew.selectExpr("b AS src", "a AS dst", "w")
    )
    wsum = sym.groupBy("src").agg(F.sum("w").cast("bigint").alias("ws")).withColumnRenamed(
        "src", "node"
    )
    # r11: all pins LAZY — the iteration count is data-independent (no
    # convergence probe ever reads a round), so nothing needs to
    # materialize before the final top-20 job; one cascade replaces the
    # former 4 staging jobs (the m_graph_closeness fixed-hop rule).
    lazy = lambda df: checkpoint_df(df, eager=False)  # noqa: E731
    sym_w = (
        sym.join(wsum.withColumnRenamed("node", "src"), "src")
        .select("src", "dst", "w", "ws")
        .transform(lazy)  # reused every iteration
    )
    ranks = wsum.select("node", F.lit(_TR_UNIT).cast("long").alias("rank_u"))
    for _ in range(_TR_ITERS):
        contrib = sym_w.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select("dst", F.expr("(rank_u * w) div ws").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(_TR_UNIT * 15 // 100).cast("long")
                    + F.expr("850 * sum(c) div 1000")
                ).alias("rank_u")
            )
            .withColumnRenamed("dst", "node")
            .transform(lazy)  # O(1) lineage per round
        )
    return (
        ranks.join(wsum, "node")
        .select(F.col("node").alias("tok"), F.col("ws").alias("cooc_mass"), "rank_u")
        .orderBy(F.col("rank_u").desc(), F.col("tok").asc())
        .limit(_TR_TOPK)
    )


@query(
    "m_simpson_diversity",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY lang, tok
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST((CAST(SUM(c * (c - 1)) AS HUGEINT) * 1000000000)
            // GREATEST(CAST(SUM(c) AS HUGEINT) * (SUM(c) - 1), 1)
            AS BIGINT) AS simpson_ppb
FROM counts
GROUP BY lang
""",
)
def m_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Simpson concentration index over unigram counts:
    D = Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two tokens drawn
    without replacement are the same type; high D = repetitive
    vocabulary (the diversity twin of m_token_entropy's per-doc
    signal, here at corpus/language grain — the mix-design audit for
    'is a language's slice degenerate'). EXACT arithmetic end to end:
    D is a ratio of integer sums emitted in ppb via the
    DECIMAL/HUGEINT integer-div route (Σnᵢ² passes 2^53 — and at
    100× int64 — so neither double division nor BIGINT products are
    safe; q_chi_square rule); the denominator is GREATEST(·,1)-guarded
    in both engines against a single-token language slice (N=1 →
    N(N−1)=0 — unreachable on this corpus, but ANSI Spark would throw
    and DuckDB would error on a degenerate slice; m_graph_hits/m_mcc
    pattern). Keyed by lang (measured SKEWED — the
    round-6 rule; per-lang unigram distributions differ, so the index
    genuinely varies). n_types is a DEADCOLS-reviewed by-design
    constant on this corpus: the synthetic 31-word vocabulary
    saturates in every language at every scale (measured 31/31/31) —
    the column carries signal only on corpora with unsaturated
    vocabularies, like m_ppl_buckets' n_docs precedent. Scale shape: explode → one (lang, tok) hash
    agg → one 5-row agg; both shuffles partial-aggregate map-side, no
    window, no Python."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return counts.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr(
            "CAST((CAST(SUM(c * (c - 1)) AS DECIMAL(28,0)) * 1000000000)"
            " div GREATEST(CAST(SUM(c) AS DECIMAL(28,0)) * (SUM(c) - 1), 1)"
            " AS BIGINT)"
        ).alias("simpson_ppb"),
    )


@query(
    "m_kneser_ney_lm",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text,
         (doc_id * {_MIX_A} % 2147483648) % 2 AS half
  FROM documents
), toks AS (
  SELECT doc_id, half, tok, i FROM (
    SELECT doc_id, half,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM d)
), bi AS (
  SELECT doc_id, half, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks
), c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi
  WHERE half = 0 AND w2 IS NOT NULL GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1w1
  FROM c12 GROUP BY w1
), cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS ncw2 FROM c12 GROUP BY w2
), bv AS (
  SELECT CAST((SELECT count(*) FROM c12)
            + (SELECT count(DISTINCT tok) FROM toks WHERE half = 0) AS BIGINT) AS bv
), scored AS (
  SELECT b.doc_id,
         CASE WHEN coalesce(c12.c12, 0) = 0 THEN 1 ELSE 0 END AS floored,
         round(log2(
           CASE WHEN coalesce(c1.c1, 0) > 0
                THEN CAST(4 * c1.c1 * bv.bv AS DOUBLE)
                     / (GREATEST(4 * coalesce(c12.c12, 0) - 3, 0) * bv.bv
                        + 3 * c1.n1w1 * (coalesce(cont.ncw2, 0) + 1))
                ELSE CAST(bv.bv AS DOUBLE) / (coalesce(cont.ncw2, 0) + 1)
           END), 6) AS bits
  FROM bi b
  LEFT JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
  LEFT JOIN c1 ON c1.w1 = b.w1
  LEFT JOIN cont ON cont.w2 = b.w2
  CROSS JOIN bv
  WHERE b.half = 1 AND b.w2 IS NOT NULL
)
SELECT doc_id,
       count(*) AS n_scored,
       COUNT(CASE WHEN floored = 1 THEN 1 END) AS n_discount_floors,
       CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)
         // count(*) AS avg_microbits
FROM scored GROUP BY doc_id
""",
)
def m_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 18) — the third member of the held-out
    smoothing family next to m_backoff_lm (switching) and
    m_jm_interp_lm (fixed-weight blending): absolute discounting
    max(c12−D, 0)/c1 plus the DISCOUNT MASS D·N1+(w1·)/c1 times the
    CONTINUATION probability (N1+(·w2)+1)/(B+V) — 'how many contexts
    does w2 complete' rather than raw frequency, the insight that
    made KN the strongest classical n-gram smoother.

    Hash-safety (the m_jm_interp_lm rule): with D = 3/4 (exact
    binary) the whole probability is ONE exact integer rational
    [max(4·c12−3,0)·BV + 3·N1w1·(Ncw2+1)] / (4·c1·BV), so both
    engines hand log2 a single identical double quotient — no float
    addition of partial terms. The numerator is never 0 when c1 > 0
    (N1w1 ≥ 1 by construction); the c1 = 0 fallback scores the
    smoothed continuation alone (unreachable on the closed 31-token
    vocab, guards a division not a gate). Per-position bits round to
    6 dp, DECIMAL-sum, fixed-point micro-bits per doc.
    n_discount_floors counts positions where the discount zeroes the
    bigram term (c12 = 0) — fires exactly where m_jm_interp_lm's
    novelty column fires (measured 6 docs at the sf0.01 audit scale,
    saturating to 0 at sf0.1, the documented coverage curve). Scale:
    two hash aggregates for counts, n-gram-keyed UNHINTED scoring
    joins (corpus-growing tables — the m_backoff_lm round-8 rule);
    4·c12·BV < 2^63 up to ~1e8 distinct bigram types, beyond which
    the ratio moves to micro-ppm integer scaling.  Count tables come
    from the shared _heldout_lm_cache spine (one explode+window pass
    serves all three smoothing scorers)."""
    cache = _heldout_lm_cache(spark, sf_dir)
    c12 = spark.read.parquet(os.path.join(cache, "c12_p")).select(
        "w1", "w2", F.col("c").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1w1"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("ncw2"))
    b_types = c12.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    v_types = (
        spark.read.parquet(os.path.join(cache, "cu_p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    bv = b_types.crossJoin(F.broadcast(v_types)).select(
        (F.col("b") + F.col("v")).alias("bv")
    )
    val = spark.read.parquet(os.path.join(cache, "bi_val_p"))
    scored = (
        val.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .crossJoin(F.broadcast(bv))
        .select(
            "doc_id",
            F.when(F.coalesce(F.col("c12"), F.lit(0)) == 0, 1)
            .otherwise(0)
            .alias("floored"),
            F.round(
                F.log2(
                    F.when(
                        F.coalesce(F.col("c1"), F.lit(0)) > 0,
                        (F.lit(4) * F.col("c1") * F.col("bv")).cast("double")
                        / (
                            F.greatest(
                                F.lit(4) * F.coalesce(F.col("c12"), F.lit(0)) - 3,
                                F.lit(0),
                            )
                            * F.col("bv")
                            + F.lit(3)
                            * F.col("n1w1")
                            * (F.coalesce(F.col("ncw2"), F.lit(0)) + 1)
                        ),
                    ).otherwise(
                        F.col("bv").cast("double")
                        / (F.coalesce(F.col("ncw2"), F.lit(0)) + 1)
                    )
                ),
                6,
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.count(F.when(F.col("floored") == 1, 1)).alias("n_discount_floors"),
        F.expr(
            "CAST(SUM(CAST(bits AS DECIMAL(28,10))) * 1000000 AS BIGINT)"
            " div count(*)"
        ).alias("avg_microbits"),
    )


# shared across engines VERBATIM: every step (integer ratio, sqrt,
# multiply, divide) is IEEE-correctly-rounded, so identical expression
# text yields bit-identical doubles in Spark and DuckDB.
_WILSON_LO = (
    "CAST(floor(1000000 * ((k + 2 - 2 * sqrt(CAST(k * (n - k) AS DOUBLE) / n + 1))"
    " / (n + 4))) AS BIGINT)"
)
_WILSON_HI = (
    "CAST(floor(1000000 * ((k + 2 + 2 * sqrt(CAST(k * (n - k) AS DOUBLE) / n + 1))"
    " / (n + 4))) AS BIGINT)"
)


@query(
    "m_wilson_bounds",
    oracle=f"""
WITH s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(count(CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 END)
              AS BIGINT) AS k
  FROM documents GROUP BY lang
)
SELECT lang, n, k,
       k * 1000000 // n AS p_hat_ppm,
       {_WILSON_LO} AS wilson_lo_ppm,
       {_WILSON_HI} AS wilson_hi_ppm
FROM s
""",
)
def m_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Wilson score interval for the acceptance rate of a
    length gate (docs with ≥50 tokens — fires at 50-65% in every lang
    at every scale, measured) — the confidence interval a curation
    pipeline attaches to per-slice filter pass-rates before deciding
    a slice is under-filtered (plain ±z·se misbehaves at small n and
    p near 0/1; Wilson is the standard fix). With z = 2 the interval
    reduces to [k+2 ∓ 2·√(k(n−k)/n + 1)] / (n+4) — shared VERBATIM
    as one SQL fragment between the engines, and every step in it
    (exact-integer ratio, sqrt, multiply, divide) is IEEE
    correctly-rounded, so both engines produce bit-identical doubles
    and the µ-ppm floor agrees by construction (the m_lr_schedule
    sqrt discipline — this is why z is 2, not 1.96: a z² that is not
    exactly representable would force a transcendental grid).
    k(n−k) < 2^53 to ~9e7 docs per lang; beyond that the ratio moves
    inside DECIMAL. Scale: one scan, one bounded-key hash agg, five
    rows out, no window, no Python."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.size(F.split("text", " ")) >= 50, 1))
        .cast("bigint")
        .alias("k"),
    )
    return s.select(
        "lang",
        "n",
        "k",
        F.expr("k * 1000000 div n").alias("p_hat_ppm"),
        F.expr(_WILSON_LO).alias("wilson_lo_ppm"),
        F.expr(_WILSON_HI).alias("wilson_hi_ppm"),
    )


@query(
    "m_jsd_matrix",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY lang, tok
), nl AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY lang
), vocab AS (SELECT DISTINCT tok FROM cnt),
grid AS (
  SELECT v.tok, l.lang, l.n, COALESCE(c.c, 0) AS c
  FROM vocab v CROSS JOIN nl l
  LEFT JOIN cnt c ON c.tok = v.tok AND c.lang = l.lang
), pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, a.tok,
         a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
  FROM grid a JOIN grid b ON a.tok = b.tok AND a.lang < b.lang
), terms AS (
  SELECT lang_a, lang_b,
    CASE WHEN ca = 0 THEN CAST(0 AS DECIMAL(28,10))
         ELSE CAST(round((CAST(ca AS DOUBLE) / na)
              * log2(CAST(2 * ca * nb AS DOUBLE) / (ca * nb + cb * na)), 6)
              AS DECIMAL(28,10)) END AS ta,
    CASE WHEN cb = 0 THEN CAST(0 AS DECIMAL(28,10))
         ELSE CAST(round((CAST(cb AS DOUBLE) / nb)
              * log2(CAST(2 * cb * na AS DOUBLE) / (ca * nb + cb * na)), 6)
              AS DECIMAL(28,10)) END AS tb
  FROM pairs
)
SELECT lang_a, lang_b,
       CAST(SUM(ta) * 1000000 AS BIGINT) AS kl_am_ubits,
       CAST(SUM(tb) * 1000000 AS BIGINT) AS kl_bm_ubits,
       CAST((SUM(ta) + SUM(tb)) * 1000000 AS BIGINT) AS jsd2x_ubits
FROM terms GROUP BY lang_a, lang_b
""",
)
def m_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-language unigram
    distributions — the bounded, symmetric distance a mixture designer
    uses to decide which domains are near-duplicates of each other and
    which add diversity (KL alone is asymmetric and unbounded; JSD =
    ½KL(A‖M)+½KL(B‖M) with M the midpoint). Emitted as the two
    one-sided KL(·‖M) components plus their sum = 2·JSD, all in exact
    µbits — the sum is emitted DOUBLED because halving a 6 dp decimal
    sum can land on a half-µbit (no exact integer); clients divide by
    2. Hash-safety: every log2 argument is a ratio of exact BIGINT
    products (2·c·n ≤ 1.8e13 at 100× — double-exact); each p·log2
    term rounds to 6 dp and sums in DECIMAL (m_feature_mi rules). The
    c=0 convention terms exist for open vocabularies but are
    UNREACHABLE here (the 31-token vocab saturates every lang —
    m_simpson_diversity's measured fact): they guard a log(0), not a
    gate. Scale shape: one (lang, tok) hash agg, the dense
    |vocab|×|langs| grid (crossJoin against the broadcast 5-row lang
    dim), then a vocab-keyed self-join producing |vocab|·C(5,2) rows
    — everything vocab-bounded (Heaps) after one corpus scan; no
    windows, no Python."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nl = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = cnt.select("tok").distinct()
    grid = (
        vocab.crossJoin(F.broadcast(nl))
        .join(cnt, ["tok", "lang"], "left")
        .select("tok", "lang", "n", F.coalesce("c", F.lit(0)).alias("c"))
        .transform(checkpoint_df)  # both sides of the pair join read it
    )
    a = grid.select(
        F.col("tok"), F.col("lang").alias("lang_a"), F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = grid.select(
        F.col("tok"), F.col("lang").alias("lang_b"), F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    pairs = a.join(b, "tok").where(F.col("lang_a") < F.col("lang_b"))
    dec = "DECIMAL(28,10)"
    ta = (
        f"CASE WHEN ca = 0 THEN CAST(0 AS {dec}) "
        f"ELSE CAST(round((CAST(ca AS DOUBLE) / na)"
        f" * log2(CAST(2 * ca * nb AS DOUBLE) / (ca * nb + cb * na)), 6) AS {dec}) END"
    )
    tb = (
        f"CASE WHEN cb = 0 THEN CAST(0 AS {dec}) "
        f"ELSE CAST(round((CAST(cb AS DOUBLE) / nb)"
        f" * log2(CAST(2 * cb * na AS DOUBLE) / (ca * nb + cb * na)), 6) AS {dec}) END"
    )
    return (
        pairs.groupBy("lang_a", "lang_b")
        .agg(
            F.sum(F.expr(ta)).alias("sa"),
            F.sum(F.expr(tb)).alias("sb"),
        )
        .select(
            "lang_a",
            "lang_b",
            F.expr("CAST(sa * 1000000 AS BIGINT)").alias("kl_am_ubits"),
            F.expr("CAST(sb * 1000000 AS BIGINT)").alias("kl_bm_ubits"),
            F.expr("CAST((sa + sb) * 1000000 AS BIGINT)").alias("jsd2x_ubits"),
        )
    )


@query(
    "m_cond_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, tok, i FROM (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents)
), bi AS (
  SELECT lang, tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks
), c12 AS (
  SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi
  WHERE w2 IS NOT NULL GROUP BY lang, w1, w2
), c1 AS (
  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY lang, w1
), terms AS (
  SELECT c12.lang, c12.c12,
         CAST(round(c12.c12 * log2(CAST(c1.c1 AS DOUBLE) / c12.c12), 6)
              AS DECIMAL(28,10)) AS t
  FROM c12 JOIN c1 ON c1.lang = c12.lang AND c1.w1 = c12.w1
)
SELECT lang,
       CAST(SUM(c12) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_bigram_types,
       CAST(SUM(t) * 1000000 AS BIGINT) AS sum_ubits,
       CAST(SUM(t) * 1000000 AS BIGINT) // CAST(SUM(c12) AS BIGINT)
         AS cond_entropy_ubits
FROM terms GROUP BY lang
""",
)
def m_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram conditional entropy H(W₂|W₁) =
    Σ c₁₂·log2(c₁/c₁₂) / N — the sequence-level redundancy statistic
    (how predictable is the next token given the current one): the
    gap H(W) − H(W₂|W₁) is the information the bigram structure
    carries, the classic signal for 'this slice is templated' that
    unigram entropy (m_token_entropy) cannot see. Hash-safety:
    c₁/c₁₂ is a ratio of exact BIGINTs; each c₁₂·log2 term rounds to
    6 dp and sums in DECIMAL (order-free); the per-token average is
    fixed-point integer division of exact µbit mass (the
    m_lm_cross_entropy rule — never round a quotient of decimals).
    Exact-integral cases (c₁ = c₁₂, ratios that are powers of two
    times integer c₁₂) land ON the grid. Keyed by lang (measured
    SKEWED — round-6 rule). Scale shape: per-doc lead window (bounded
    partitions), two hash aggs, one n-gram-keyed join, a 5-row
    output; no corpus-grown broadcast, no Python."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bi = toks.select(
        "lang", F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    c12 = bi.groupBy("lang", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1 = c12.groupBy("lang", "w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    terms = c12.join(c1, ["lang", "w1"]).select(
        "lang",
        "c12",
        F.round(
            F.col("c12") * F.log2(F.col("c1").cast("double") / F.col("c12")), 6
        )
        .cast("decimal(28,10)")
        .alias("t"),
    )
    return terms.groupBy("lang").agg(
        F.sum("c12").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigram_types"),
        F.expr("CAST(SUM(t) * 1000000 AS BIGINT)").alias("sum_ubits"),
        F.expr(
            "CAST(SUM(t) * 1000000 AS BIGINT) div CAST(SUM(c12) AS BIGINT)"
        ).alias("cond_entropy_ubits"),
    )


@query(
    "m_burstiness",
    oracle="""
WITH perdoc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
stats AS (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM perdoc GROUP BY tok
)
SELECT tok, n_docs, s AS total_count,
       CAST((CAST(n.n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * 1000000
         // (CAST(n.n - 1 AS HUGEINT) * s) AS BIGINT) AS vmr_ppm
FROM stats CROSS JOIN n
""",
)
def m_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token burstiness: the variance-to-mean ratio (Fano factor)
    of per-document counts over ALL N docs — VMR = 1 means Poisson
    scatter, VMR > 1 means the token clumps into few documents (the
    dispersion signal that separates topical content words from
    function words; Church & Gale 1995). Zero-count docs are counted
    through the sufficient statistics: variance·(N−1)·N =
    N·Σc² − (Σc)², with the sum over only the n_docs rows that have
    the token — zeros contribute nothing to Σc/Σc² but N carries
    them, so no dense doc×token grid is ever built. Exact fixed
    point: VMR_ppm = (N·Σc² − S²)·1e6 div ((N−1)·S) via
    DECIMAL/HUGEINT (N·Σc²·1e6 passes int64 at 100× — q_chi_square
    rule); every value is a ratio of exact integers, no rounding
    surface. Scale shape: one (doc, tok) hash agg, one (tok) hash
    agg, scalar N crossJoined broadcast; |vocab| rows out; no window,
    no Python."""
    d = load_table(spark, sf_dir, "documents")
    perdoc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stats = perdoc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    return stats.crossJoin(F.broadcast(n)).select(
        "tok",
        "n_docs",
        F.col("s").alias("total_count"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(28,0)) * q - CAST(s AS DECIMAL(28,0)) * s)"
            " * 1000000 div (CAST(n - 1 AS DECIMAL(28,0)) * s) AS BIGINT)"
        ).alias("vmr_ppm"),
    )


# engine-shared VERBATIM: c^(3/4) as sqrt(sqrt(c^3)) — multiplication and
# sqrt are IEEE correctly-rounded, so both engines floor the same double
# (pow(c, 0.75) is NOT guaranteed correctly rounded; never use it here).
_NEG_W = "CAST(floor(1000000 * sqrt(sqrt(CAST(c AS DOUBLE) * c * c))) AS BIGINT)"


@query(
    "m_neg_sampling",
    oracle=f"""
WITH cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), w AS (
  SELECT tok, c, {_NEG_W} AS w_micro FROM cnt
), tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS tw, CAST(SUM(c) AS BIGINT) AS tc FROM w
)
SELECT tok, c, w_micro,
       w_micro * 1000000 // tw AS share_ppm,
       c * 1000000 // tc AS raw_ppm
FROM w CROSS JOIN tot
""",
)
def m_neg_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling distribution: unigram counts raised
    to the 3/4 power (Mikolov et al. 2013 — the flattening that keeps
    frequent tokens from dominating the negative draws), emitted as
    the exact sampling table a skip-gram pipeline materializes:
    weight, smoothed share, and the raw unigram share it replaces
    (the audit column showing the flattening — head tokens lose
    share, tail tokens gain, every row differs between the two).
    Hash-safety: c^(3/4) = sqrt(sqrt(c³)) with the c³ product formed
    in double — every step IEEE correctly-rounded and the expression
    shared VERBATIM, so both engines floor identical doubles (the
    m_wilson_bounds discipline; pow(c, 0.75) is not correctly
    rounded and never appears). Shares are exact integer division of
    the floored weights — no quotient-of-decimals surface. Scale: one
    hash agg to |vocab| rows, a scalar crossJoin broadcast; at 100×
    c³ in double is no longer exact but remains deterministic (both
    engines round the same product the same way), which is the only
    property the hash check needs."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = cnt.select("tok", "c", F.expr(_NEG_W).alias("w_micro"))
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("tw"),
        F.sum("c").cast("bigint").alias("tc"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c",
        "w_micro",
        F.expr("w_micro * 1000000 div tw").alias("share_ppm"),
        F.expr("c * 1000000 div tc").alias("raw_ppm"),
    )


@query(
    "m_ldp_estimate",
    oracle="""
WITH d AS (
  SELECT lang,
         CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS truth,
         CASE WHEN (strpos('0123456789abcdef',
                    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 4
              THEN 1 ELSE 0 END AS flip
  FROM documents
), r AS (
  SELECT lang, truth,
         CASE WHEN flip = 1 THEN 1 - truth ELSE truth END AS reported
  FROM d
), s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(truth) AS BIGINT) AS k_true,
         CAST(SUM(reported) AS BIGINT) AS k_obs
  FROM r GROUP BY lang
)
SELECT lang, n, k_true, k_obs,
       CASE WHEN 4 * k_obs - n >= 0
            THEN (4 * k_obs - n) * 1000000 // (2 * n)
            ELSE -((-(4 * k_obs - n)) * 1000000 // (2 * n)) END AS est_ppm,
       k_true * 1000000 // n AS true_ppm,
       CASE WHEN 4 * k_obs - n >= 0
            THEN (4 * k_obs - n) * 1000000 // (2 * n)
            ELSE -((-(4 * k_obs - n)) * 1000000 // (2 * n)) END
         - k_true * 1000000 // n AS err_ppm
FROM s
""",
)
def m_ldp_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL differential privacy via randomized response + unbiased
    inversion — the client-side twin of m_dp_count's central
    mechanism: each document reports its quality bit (the ≥50-token
    gate m_wilson_bounds measures at 50-65% per lang) FLIPPED with
    probability 1/4, decided by the first md5 hex digit of doc_id
    (< 4 of 16 — exactly 1/4, deterministic test twin; production
    substitutes a client RNG). The aggregator inverts the known noise
    rate: p̂ = (p_obs − 1/4)/(1/2) = (4·k_obs − n)/(2n), emitted in
    exact ppm with SIGN-FACTORED integer division (the estimate CAN
    undershoot 0 on small slices and Spark div truncates where DuckDB
    floors — the m_pca_power rule), alongside the true rate and the
    signed estimation error the privacy/utility report needs.
    Measured: per-lang |error| ≤ 14.3% at sf0.001 (n = 64-218 docs),
    ≤ 13% at sf0.01, ≤ 3.2% at sf0.1 (n = 702-2059) — the ~0.87/√n
    randomized-response envelope the companion test pins at 4σ. Scale: one
    scan, one bounded-key agg, five rows; no window, no Python."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.when(F.size(F.split("text", " ")) >= 50, 1).otherwise(0).alias("truth"),
        F.when(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
            .cast("int") < 4,
            1,
        )
        .otherwise(0)
        .alias("flip"),
    )
    r = d.select(
        "lang",
        "truth",
        F.when(F.col("flip") == 1, 1 - F.col("truth")).otherwise(F.col("truth")).alias(
            "reported"
        ),
    )
    s = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("truth").cast("bigint").alias("k_true"),
        F.sum("reported").cast("bigint").alias("k_obs"),
    )
    est = (
        "CASE WHEN 4 * k_obs - n >= 0"
        " THEN (4 * k_obs - n) * 1000000 div (2 * n)"
        " ELSE -((-(4 * k_obs - n)) * 1000000 div (2 * n)) END"
    )
    return s.select(
        "lang",
        "n",
        "k_true",
        "k_obs",
        F.expr(est).alias("est_ppm"),
        F.expr("k_true * 1000000 div n").alias("true_ppm"),
        F.expr(f"{est} - k_true * 1000000 div n").alias("err_ppm"),
    )


@query(
    "m_ngram_gini",
    oracle="""
WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
b AS (
  SELECT lang, tk[i] || ' ' || tk[i + 1] AS bg
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
), f AS (
  SELECT lang, bg, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY lang, bg
), r AS (
  SELECT lang, cnt,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt, bg)
              AS BIGINT) AS rk
  FROM f
)
SELECT lang,
       count(*) AS n_types,
       CAST(SUM(cnt) AS BIGINT) AS ngram_total,
       ((2 * CAST(SUM(rk * cnt) AS BIGINT)
         - (count(*) + 1) * CAST(SUM(cnt) AS BIGINT)) * 1000000)
         // (count(*) * CAST(SUM(cnt) AS BIGINT)) AS gini_ppm
FROM r
GROUP BY lang
""",
)
def m_ngram_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of the token-BIGRAM frequency
    distribution — the inequality summary corpus-QA dashboards track
    (near 1: a few n-grams dominate; near 0: a flat distribution):
    with per-lang bigram frequencies sorted ascending (f_1..f_n,
    bigram tiebreak), G = (2*sum(i*f_i) - (n+1)*sum(f)) / (n*sum(f)),
    emitted in exact ppm via one integer division — the numerator is
    non-negative by the Chebyshev sum inequality, so Spark's
    truncating div and DuckDB's floor // agree.

    Bigram scope is load-bearing for non-vacuity: the synthetic
    vocabulary is 31 fixed words, so UNIGRAM type counts saturate at
    31 in every lang (the first cut's n_types was a constant column —
    the KMV round-8 class, caught by the dead-column audit); bigram
    type counts genuinely vary (measured 886-931 across langs at
    every scale) and the distribution is skewed enough for distinct
    per-lang Ginis.

    The rank window is PARTITIONED by lang (bounded domain) and its
    input is the per-(lang, bigram) aggregate — n-gram-type-sized
    rows (Heaps-law sublinear), never the token stream. The bigram
    derivation guards the empty-sequence trap (sequence(1, 0) is
    DESCENDING in Spark). Everything else is one explode + two hash
    aggregates, all-BIGINT."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("lang", F.split("text", " ").alias("tk"))
    b = tk.select(
        "lang",
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> array_join(slice(tk, i, 2), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    f = b.groupBy("lang", "bg").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.partitionBy("lang").orderBy("cnt", "bg")
    r = f.select(
        "lang", "cnt", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").cast("bigint").alias("ngram_total"),
        F.expr(
            "((2 * CAST(SUM(rk * cnt) AS BIGINT)"
            " - (count(1) + 1) * CAST(SUM(cnt) AS BIGINT)) * 1000000)"
            " div (count(1) * CAST(SUM(cnt) AS BIGINT))"
        ).alias("gini_ppm"),
    )
