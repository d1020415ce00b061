"""Training-data pipeline queries: dedup, similarity search, text analysis,
embeddings — registered with DuckDB oracles.

Everything hash-based uses the portable md5 convention (functions.text), so
even minhash/simhash/LSH are value-checked against DuckDB, not just
row-counted. Vector math is strict left-to-right double precision on both
engines, rounded to 6 decimals before any ranking.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kafka_stream_unify_order_messages_spark.registry import query
from kafka_stream_unify_order_messages_spark.sources.files import (
    cached,
    load_table,
)
from kafka_stream_unify_order_messages_spark.functions import text as T
from kafka_stream_unify_order_messages_spark.operators import dedup as D
from kafka_stream_unify_order_messages_spark.operators import multimodal as M
from kafka_stream_unify_order_messages_spark.operators import pipeline as P
from kafka_stream_unify_order_messages_spark.operators import similarity as S

# DuckDB fragment equivalents of functions.text tokenization.
_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Every query in this module does CPU-heavy per-row work (hashing,
    tokenization, vector math), so a scan that yields fewer partitions
    than cores serializes it. min_partitions only repartitions when the
    scan is under-split (single-row-group local files); on a many-file
    production dataset it is a no-op."""
    return load_table(
        spark, sf_dir, name,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
           AS n_bpe_tokens,
       length(text) AS n_chars,
       CASE WHEN len({_TOKS}) > 0
            THEN round(list_sum(list_transform({_TOKS}, t -> len(t)))
                       / CAST(len({_TOKS}) AS DOUBLE), 6)
            ELSE 0.0 END AS mean_token_len,
       CASE WHEN length(text) > 0
            THEN round(len(regexp_extract_all(text, '[^\\w\\s]'))
                       / CAST(length(text) AS DOUBLE), 6)
            ELSE 0.0 END AS punct_ratio
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        T.char_count("text").alias("n_chars"),
        T.mean_token_length("text").alias("mean_token_len"),
        T.punct_ratio("text").alias("punct_ratio"),
    )


_LANG_SCORES_SQL = ", ".join(
    f"len(list_filter({_TOKS}, t -> list_contains({words!r}, t))) AS s_{lang}"
    for lang, words in sorted(T.LANG_STOPWORDS.items())
).replace("'", "'")


def _lang_case_sql() -> str:
    langs = sorted(T.LANG_STOPWORDS)
    branches = []
    for lang in langs:
        conds = [f"s_{lang} >= s_{other}" for other in langs if other != lang]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


@query(
    "lang_id_heuristic",
    f"""
WITH scored AS (
    SELECT doc_id, lang,
           {', '.join(
               "len(list_filter(" + _TOKS + ", t -> list_contains("
               + str(words) + ", t))) AS s_" + lang
               for lang, words in sorted(T.LANG_STOPWORDS.items())
           )}
    FROM documents
)
SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred
FROM scored
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", T.lang_id("text").alias("lang_pred"))


def _lang_ngram_sql() -> str:
    profiles = T.lang_trigram_profiles()
    padded = "' ' || lower(trim(text)) || ' '"
    grams = (
        f"list_transform(generate_series(1, greatest(length({padded}) - 2, 0)),"
        f" i -> substr({padded}, CAST(i AS INTEGER), 3))"
    )
    scores = ", ".join(
        f"len(list_filter(grams, x -> list_contains({prof!r}, x))) AS s_{lang}"
        for lang, prof in profiles.items()
    )
    return f"""
WITH g AS (
    SELECT doc_id, lang, {grams} AS grams FROM documents
), scored AS (
    SELECT doc_id, lang, {scores} FROM g
)
SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred
FROM scored
"""


@query("lang_id_ngram", _lang_ngram_sql())
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based shape of functions.text.lang_id_ngram (same result):
    explode trigrams -> broadcast-join the literal profile table ->
    two-phase argmax. The pure-Column variant pays interpreted
    array_contains per (gram, language); the broadcast hash join keeps
    the whole vote inside codegen — 6.5s -> <1s at sf0.1 and the only
    shape that scales to petabyte corpora."""
    docs = _load(spark, sf_dir, "documents")
    profiles = T.lang_trigram_profiles()
    prof_rows = [
        (g, lang, -i)
        for i, (lang, prof) in enumerate(profiles.items())
        for g in prof
    ]
    prof_df = spark.createDataFrame(prof_rows, "gram string, plang string, nr int")

    grams = docs.select(
        "doc_id", F.explode(T.char_trigrams("text")).alias("gram")
    )
    votes = (
        grams.join(F.broadcast(prof_df), "gram")
        .groupBy("doc_id", "plang", "nr")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    best = votes.groupBy("doc_id").agg(
        F.max(F.struct("score", "nr", "plang")).alias("best")
    )
    return docs.select("doc_id", "lang").join(
        F.broadcast(best), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        F.coalesce(F.col("best.plang"), F.lit("und")).alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# Text normalization (the pipeline's stage zero): control-char strip ->
# ASCII-fold curly quotes/dashes -> whitespace collapse -> trim. The test
# corpus is already clean, so a deterministic messy variant of every 7th
# doc is injected on BOTH engines — the rules demonstrably fire and the
# cleaned output is value-checked.
# ---------------------------------------------------------------------------

_MESSY_SUFFIX_SQL = (
    "chr(32) || chr(8220) || 'q' || chr(8221) || chr(10) || chr(7)"
)
_NORM_CHAIN_SQL = (
    "trim(regexp_replace(translate(regexp_replace({col}, "
    "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
    "chr(8217) || chr(8216) || chr(8220) || chr(8221) || chr(8211) "
    "|| chr(8212), "
    "chr(39) || chr(39) || chr(34) || chr(34) || chr(45) || chr(45)), "
    "'\\s+', ' ', 'g'))"
)


@query(
    "text_normalize",
    f"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           chr(32) || chr(32) || chr(9) || replace(text, ' ', '  ')
               || {_MESSY_SUFFIX_SQL} AS text
    FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id,
       {_NORM_CHAIN_SQL.format(col='text')} AS norm_text,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length({_NORM_CHAIN_SQL.format(col='text')}) AS BIGINT)
           AS n_chars_after
FROM aug
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    messy = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("  \t"),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" “q”\n\x07"),
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(messy)
    return aug.select(
        "doc_id",
        T.normalize_text("text").alias("norm_text"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(T.normalize_text("text")).cast("long").alias(
            "n_chars_after"
        ),
    )


@query(
    "doc_fingerprints",
    f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
           AS fingerprint,
       len(list_distinct({_TOKS})) AS n_distinct_tokens
FROM documents
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.doc_fingerprint("text").alias("fingerprint"),
        F.size(F.array_distinct(T.tokens("text"))).cast("long").alias(
            "n_distinct_tokens"
        ),
    )


@query(
    "quality_scores",
    f"""
WITH parts AS (
    SELECT doc_id,
           least(length(text) / 500.0, 1.0) AS len_score,
           CASE WHEN length(text) > 0
                THEN round(len(regexp_extract_all(text, '[^\\w\\s]'))
                           / CAST(length(text) AS DOUBLE), 6)
                ELSE 0.0 END AS praw,
           len(list_filter({_TOKS}, t -> len(t) <= 1)) AS short_tok,
           len({_TOKS}) AS n_toks
    FROM documents
)
SELECT doc_id,
       round(len_score
             * (1 - 0.5 * least(praw * 4, 1.0))
             * (1 - 0.5 * least(short_tok / CAST(greatest(n_toks, 1) AS DOUBLE),
                                1.0)), 6) AS quality
FROM parts
""",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


# ---------------------------------------------------------------------------
# Quality-threshold yield curve: docs/tokens retained at each candidate
# filter threshold — the sweep that picks a quality cutoff for a corpus
# BEFORE committing to the (expensive) filtered rewrite. One corpus scan:
# docs collapse into 20 score bins, the curve is a reverse cumsum over
# that 20-row frame (threshold t keeps every bin >= t).
# ---------------------------------------------------------------------------


def _yield_curve_sql() -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    quality_sql = ORACLES["quality_scores"]
    return f"""
WITH q AS ({quality_sql}),
sized AS (
    SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
), binned AS (
    SELECT CAST(least(floor(qq.quality * 20), 19) AS BIGINT) AS bin,
           count(*) AS nd, sum(s.n_tokens) AS nt
    FROM q qq JOIN sized s USING (doc_id)
    GROUP BY 1
), grid AS (
    SELECT unnest(generate_series(0, 19)) AS bin
), filled AS (
    SELECT g.bin,
           coalesce(b.nd, 0) AS nd,
           coalesce(b.nt, 0) AS nt
    FROM grid g LEFT JOIN binned b ON g.bin = b.bin
)
SELECT round(bin * 0.05, 2) AS threshold,
       CAST(sum(nd) OVER w_keep AS BIGINT) AS docs_kept,
       CAST(sum(nt) OVER w_keep AS BIGINT) AS tokens_kept,
       CAST(round(CAST(sum(nd) OVER w_keep
                       / CAST(sum(nd) OVER () AS DOUBLE)
                  AS DECIMAL(38,10)), 6) AS DOUBLE) AS doc_frac,
       CAST(round(CAST(sum(nt) OVER w_keep
                       / CAST(sum(nt) OVER () AS DOUBLE)
                  AS DECIMAL(38,10)), 6) AS DOUBLE) AS token_frac
FROM filled
WINDOW w_keep AS (ORDER BY bin
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
"""


@query("quality_yield_curve", _yield_curve_sql())
def quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents")
    binned = (
        docs.select(
            F.least(F.floor(T.quality_score("text") * 20), F.lit(19))
            .cast("long")
            .alias("bin"),
            T.token_count("text").alias("n_tokens"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n_tokens").alias("nt"),
        )
    )
    grid = spark.range(20).select(F.col("id").alias("bin"))
    filled = grid.join(binned, "bin", "left").select(
        "bin",
        F.coalesce("nd", F.lit(0)).alias("nd"),
        F.coalesce("nt", F.lit(0)).alias("nt"),
    )
    # 20-row frame: the single-partition windows sort 20 rows, never docs
    w_keep = Window.orderBy("bin").rowsBetween(0, Window.unboundedFollowing)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def frac(kept, total):
        return (
            F.round((kept / total.cast("double")).cast("decimal(38,10)"), 6)
            .cast("double")
        )

    return filled.select(
        F.round(F.col("bin") * 0.05, 2).alias("threshold"),
        F.sum("nd").over(w_keep).alias("docs_kept"),
        F.sum("nt").over(w_keep).alias("tokens_kept"),
        frac(F.sum("nd").over(w_keep), F.sum("nd").over(w_all)).alias(
            "doc_frac"
        ),
        frac(F.sum("nt").over(w_keep), F.sum("nt").over(w_all)).alias(
            "token_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Per-source quality rank-normalization: raw heuristic scores are not
# comparable across sources (a news-wire source saturates len_score, a
# forum source never does), so cross-source selection uses the WITHIN-
# source percentile instead — the classifier-calibration step of
# DoReMi/DataComp-style mixing. ppm integers instead of a rounded ratio
# keep the boundary engine-stable (floor of an exact-int product/quotient).
# ---------------------------------------------------------------------------


def _rank_normalize_sql() -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    quality_sql = ORACLES["quality_scores"]
    return f"""
WITH q AS ({quality_sql}),
ranked AS (
    SELECT d.doc_id, d.source, qq.quality,
           row_number() OVER (
               PARTITION BY d.source ORDER BY qq.quality, d.doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY d.source) AS n
    FROM documents d JOIN q qq ON qq.doc_id = d.doc_id
)
SELECT doc_id, source, quality,
       CAST(CASE WHEN n > 1
                 THEN floor((rn - 1) * 1000000.0 / (n - 1))
                 ELSE 1000000 END AS BIGINT) AS pctile_ppm
FROM ranked
"""


@query("quality_rank_normalize", _rank_normalize_sql())
def quality_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", T.quality_score("text").alias("quality")
    )
    # both windows share the source partitioning -> ONE exchange; the
    # per-source sort is the unavoidable cost of an exact percentile and
    # stays distributed (sources partition the corpus)
    w_rank = Window.partitionBy("source").orderBy("quality", "doc_id")
    w_all = Window.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        "quality",
        F.when(
            F.count(F.lit(1)).over(w_all) > 1,
            F.floor(
                (F.row_number().over(w_rank) - 1)
                * F.lit(1000000.0)
                / (F.count(F.lit(1)).over(w_all) - 1)
            ),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("pctile_ppm"),
    )


# ---------------------------------------------------------------------------
# PSI drift per source vs the corpus-wide quality distribution — the
# standard "did this source's quality profile shift" monitor (PSI > 0.2
# conventionally = action). Fixed 10 bins + add-0.5 smoothing so empty
# bins are defined; all frames after the (source, bin) count are tiny.
# ---------------------------------------------------------------------------


def _quality_psi_sql() -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    quality_sql = ORACLES["quality_scores"]
    return f"""
WITH q AS ({quality_sql}),
binned AS (
    SELECT d.source,
           CAST(least(floor(qq.quality * 10), 9) AS BIGINT) AS bin
    FROM documents d JOIN q qq ON qq.doc_id = d.doc_id
), grid AS (
    SELECT s.source, g.bin
    FROM (SELECT DISTINCT source FROM documents) s,
         (SELECT unnest(generate_series(0, 9)) AS bin) g
), src_counts AS (
    SELECT g.source, g.bin, count(b.bin) AS c
    FROM grid g
    LEFT JOIN binned b ON b.source = g.source AND b.bin = g.bin
    GROUP BY g.source, g.bin
), corpus_counts AS (
    SELECT bin, count(*) AS ctot FROM binned GROUP BY bin
), fractions AS (
    SELECT s.source, s.bin,
           (s.c + 0.5) / (sum(s.c) OVER (PARTITION BY s.source) + 5.0) AS p,
           (coalesce(cc.ctot, 0) + 0.5)
               / (sum(coalesce(cc.ctot, 0)) OVER (PARTITION BY s.source)
                  + 5.0) AS qq
    FROM src_counts s LEFT JOIN corpus_counts cc ON cc.bin = s.bin
)
SELECT source,
       round(sum((p - qq) * ln(p / qq)), 6) AS psi
FROM fractions
GROUP BY source
"""


@query("quality_psi", _quality_psi_sql())
def quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    binned = docs.select(
        "source",
        F.least(F.floor(T.quality_score("text") * 10), F.lit(9))
        .cast("long")
        .alias("bin"),
    )
    # ONE map-side-combinable (source, bin) count; every later frame is
    # |sources| x 10 rows and broadcasts
    src_counts = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    sources = src_counts.select("source").distinct()
    grid = sources.crossJoin(
        F.broadcast(spark.range(10).select(F.col("id").alias("bin")))
    )
    filled = grid.join(src_counts, ["source", "bin"], "left").select(
        "source", "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    corpus = (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("ctot"))
    )
    joined = filled.join(F.broadcast(corpus), "bin", "left").select(
        "source",
        "bin",
        "c",
        F.coalesce("ctot", F.lit(0)).alias("ctot"),
    )
    from pyspark.sql import Window

    w_src = Window.partitionBy("source")
    p = (F.col("c") + 0.5) / (F.sum("c").over(w_src) + 5.0)
    qq = (F.col("ctot") + 0.5) / (F.sum("ctot").over(w_src) + 5.0)
    return (
        joined.select(
            "source", ((p - qq) * F.log(p / qq)).alias("term")
        )
        .groupBy("source")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


# ---------------------------------------------------------------------------
# Dedup — exact (on a corpus with synthesized duplicates so the operator has
# something to find; the augmentation is part of the query on both sides)
# ---------------------------------------------------------------------------

_AUG_DOCS = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, upper(text) AS text
FROM documents WHERE doc_id % 10 = 0
"""


@query(
    "dedup_exact",
    f"""
WITH aug AS ({_AUG_DOCS}),
hashed AS (
    SELECT doc_id, md5({_NORM}) AS content_hash FROM aug
)
SELECT content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS dup_ids_csv
FROM hashed
GROUP BY content_hash
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    return D.dedup_exact(aug)


# ---------------------------------------------------------------------------
# Dedup — minhash signatures, LSH candidate pairs
# ---------------------------------------------------------------------------

_SHINGLES = f"""
CASE WHEN len({_TOKS}) >= 3
     THEN list_distinct(list_transform(
              generate_series(1, len({_TOKS}) - 2),
              i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')))
     ELSE [array_to_string({_TOKS}, ' ')] END
"""

def _seed_values_sql(num_hashes: int = 16) -> str:
    coeffs = D.minhash_coefficients(num_hashes)
    return ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(coeffs)
    )


_SIGNATURE_SQL = f"""
WITH shingled AS (
    SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h
    FROM shingled
), seeds(seed, a, b) AS (
    VALUES {_seed_values_sql(16)}
)
SELECT doc_id, CAST(seed AS BIGINT) AS seed,
       min((a * h + b) % {D.MINHASH_PRIME}) AS minhash
FROM hashed CROSS JOIN seeds
GROUP BY doc_id, seed
"""


@query("minhash_signatures", _SIGNATURE_SQL)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, num_hashes=16, shingle_n=3)


# LSH candidate pairs in SQL form — shared by minhash_dedup_pairs,
# minhash_jaccard_estimate, dedup_cluster_labels, dedup_keep_best and
# lsh_recall_eval oracles.
_PAIRS_SQL = f"""
WITH sig AS ({_SIGNATURE_SQL}),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig
    GROUP BY doc_id, seed // 4
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


@query("minhash_dedup_pairs", _PAIRS_SQL)
def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.minhash_candidate_pairs(docs, num_hashes=16, bands=4, shingle_n=3)


# ---------------------------------------------------------------------------
# Dedup — exact n-gram Jaccard on a bounded subset (postings join)
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_subset",
    f"""
WITH subset AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
), sh AS (
    SELECT doc_id, unnest({_SHINGLES.replace('documents', 'subset')}) AS shingle
    FROM subset
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE),
             6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
""",
)
def ngram_jaccard_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return D.ngram_jaccard_pairs(docs, shingle_n=3)


# ---------------------------------------------------------------------------
# Dedup — minhash Jaccard ESTIMATE vs exact, per candidate pair: the Broder
# estimator (fraction of agreeing signature components) that a production
# pipeline thresholds on before paying for exact verification, joined with
# the exact shingle Jaccard so the estimator error is directly visible.
# k/16 estimates are exact in binary floating point (power-of-two divisor),
# so the strict comparator sees identical values from both engines.
# ---------------------------------------------------------------------------


@query(
    "minhash_jaccard_estimate",
    f"""
WITH cand AS ({_PAIRS_SQL}),
sig AS ({_SIGNATURE_SQL}),
est AS (
    SELECT c.id_a, c.id_b,
           round(sum(CASE WHEN sa.minhash = sb.minhash
                          THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
    GROUP BY c.id_a, c.id_b
), sh AS (
    SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT e.id_a, e.id_b, e.est_jaccard,
       coalesce(
           round(i.n_inter /
                 CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6),
           0.0) AS jaccard
FROM est e
LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN sizes sa ON sa.doc_id = e.id_a
JOIN sizes sb ON sb.doc_id = e.id_b
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = _load(spark, sf_dir, "documents")
    # ONE tokenize+shingle scan of the corpus, persisted within the
    # query, feeds BOTH the signature pass (hash -> 16 min-aggregates)
    # and the candidate-bounded exact verification (guide §2.3: the
    # estimator and the verifier used to re-tokenize the corpus
    # independently — the shingle explosion is the expensive half of
    # each pass)
    sh = D._exploded_shingles(docs, "doc_id", "text", 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    est = D.minhash_estimate_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, shingled=sh
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # exact verification is CANDIDATE-BOUNDED: only documents that appear
    # in some candidate pair enter the postings self-join (broadcast semi
    # join on the small candidate id set), so the quadratic piece scales
    # with the near-dup population, not the corpus
    cand_ids = (
        est.select(F.col("id_a").alias("doc_id"))
        .unionByName(est.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    exact = D.ngram_jaccard_pairs(docs, shingle_n=3, shingled=sh_cand)
    return est.join(exact, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_jaccard",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Dedup — simhash fingerprints
# ---------------------------------------------------------------------------


def _simhash_sql(bits: int = 32, source: str = "documents") -> str:
    # bits 0-31 come from the first 8 md5 hex digits, 32-63 from the
    # next 8 — the same two independent 32-bit words the Spark operator
    # uses (dedup.py simhash). Bit 63 is the long sign bit: 2^63
    # overflows BIGINT (and DuckDB rejects 1<<63), so its term is the
    # min-long literal — with disjoint bits, signed + IS bitwise OR.
    h_lo = "CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)"
    h_hi = "CAST('0x' || substr(md5(token), 9, 8) AS BIGINT)"
    votes = ", ".join(
        f"sum(((({h_lo if j < 32 else h_hi}) >> {j % 32}) & 1) * 2 - 1)"
        f" AS v{j}"
        for j in range(bits)
    )
    val = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST("
        + ("-9223372036854775808" if j == 63 else str(2**j))
        + " AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM {source}
), agg AS (
    SELECT doc_id, {votes} FROM tok GROUP BY doc_id
)
SELECT doc_id, {val} AS simhash FROM agg
"""


@query("simhash_fingerprints", _simhash_sql(32))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.simhash(docs, bits=32)


# ---------------------------------------------------------------------------
# Dedup — simhash near-dup PAIRS (Manku et al. pigeonhole blocking):
# hamming(simhash_a, simhash_b) <= 3 via 4 band slices — any pair within
# distance 3 agrees exactly on >= 1 of the 4 8-bit slices, so candidates
# come from an equi-join on (band, slice), never all pairs. Run on the
# duplicate-augmented corpus so the operator has hits to find (tokens()
# lowercases, so the upper() copies collapse to hamming 0; genuinely
# near — not identical — docs land in 1..3).
# ---------------------------------------------------------------------------


@query(
    "simhash_near_dup_pairs",
    f"""
WITH aug AS ({_AUG_DOCS}),
sims AS ({_simhash_sql(32, source="aug")}),
banded AS (
    SELECT doc_id, simhash, g.band,
           (simhash >> (g.band * 8)) & 255 AS band_val
    FROM sims,
         (SELECT unnest(generate_series(0, 3)) AS band) g
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM banded a
    JOIN banded b
      ON a.band = b.band AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    # explicit opt-in past the saturation guard: this oracle query pins
    # the exact 32-bit/4-band geometry (the fixture is small; at real
    # corpus sizes the operator raises and routes users to bits=64 —
    # the simhash64_near_dup_pairs query beside this one)
    return D.simhash_near_dup_pairs(
        aug, bits=32, bands=4, max_hamming=3, allow_saturated_bands=True
    )


# ---------------------------------------------------------------------------
# Dedup — 64-bit simhash near-dup pairs, the at-scale fingerprint width.
# Same Manku pigeonhole blocking, but 16-bit band slices (65,536 slots
# per band vs 256): the measured fix for the 32-bit variant's blocking
# saturation — with only 256 slots per band every bucket holds n/256
# docs around 10^5 rows and the candidate equi-join goes quadratic
# (SCALING.md: 341 s vs 14 s at the 500k-doc ramp tier). Width is the
# ONLY change; recall guarantee (hamming <= bands-1) is identical.
# ---------------------------------------------------------------------------


@query(
    "simhash64_near_dup_pairs",
    f"""
WITH aug AS ({_AUG_DOCS}),
sims AS ({_simhash_sql(64, source="aug")}),
banded AS (
    SELECT doc_id, simhash, g.band,
           (simhash >> (g.band * 16)) & 65535 AS band_val
    FROM sims,
         (SELECT unnest(generate_series(0, 3)) AS band) g
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM banded a
    JOIN banded b
      ON a.band = b.band AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
)
def simhash64_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    return D.simhash_near_dup_pairs(aug, bits=64, bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
# Dedup — winnowing (rolling k-gram hash) fingerprints
# ---------------------------------------------------------------------------


@query(
    "winnowing_fingerprints",
    """
WITH grams AS (
    SELECT doc_id,
           greatest(length(text) - 7, 1) AS n_grams,
           CAST(i AS BIGINT) AS pos,
           CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 7)
                AS BIGINT) AS h
    FROM documents,
         unnest(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)
), wmins AS (
    SELECT doc_id, n_grams, pos,
           min(h) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
           ) AS fingerprint
    FROM grams
)
SELECT DISTINCT doc_id, fingerprint
FROM wmins
WHERE pos <= greatest(n_grams - 3, 1)
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.winnowing_fingerprints(docs, k=8, window=4)


# ---------------------------------------------------------------------------
# Similarity search — exact brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------

_COS = (
    "round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)"
)


@query(
    "ann_cosine_topk",
    f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS} AS score
    FROM q JOIN embeddings c ON q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, score, rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
)
WHERE rnk <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.brute_force_topk(queries, emb, k=5)


# ---------------------------------------------------------------------------
# MMR diversified top-k (Carbonell & Goldstein, SIGIR'98): greedy
# redundancy-suppressing re-rank over the brute-force candidates — the
# standard RAG-context / diverse-few-shot selection step. The oracle
# unrolls the k greedy steps as CTEs (argmax of score - lam*max-sim-to-
# selected per step, ties to the smaller id), value-checking the whole
# selection order, not just the final set.
# ---------------------------------------------------------------------------


def _mmr_sql(
    k: int = 5,
    fetch_k: int = 10,
    lam: float = 0.5,
    cand_ctes: str | None = None,
) -> str:
    """Unrolled greedy-MMR oracle over any candidate generator:
    ``cand_ctes`` must define CTEs ending in
    ``cand(query_id, cid, score, cemb)``; default is the brute-force
    top-``fetch_k`` candidates (mmr_topk's stage 1)."""
    cos_cc = (
        "round(list_dot_product(a.cemb::DOUBLE[], b.cemb::DOUBLE[]) / "
        "(sqrt(list_dot_product(a.cemb::DOUBLE[], a.cemb::DOUBLE[])) * "
        "sqrt(list_dot_product(b.cemb::DOUBLE[], b.cemb::DOUBLE[]))), 6)"
    )
    if cand_ctes is None:
        cand_ctes = f"""
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cid, {_COS} AS score,
           c.embedding AS cemb
    FROM q JOIN embeddings c ON q.vec_id != c.vec_id
),
cand AS MATERIALIZED (
    SELECT query_id, cid, score, cemb FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, cid) AS rn
        FROM scored
    ) WHERE rn <= {fetch_k}
)"""
    parts = [
        cand_ctes,
        f"""
sims AS MATERIALIZED (
    SELECT a.query_id, a.cid AS ca, b.cid AS cb, {cos_cc} AS sim
    FROM cand a JOIN cand b
      ON a.query_id = b.query_id AND a.cid != b.cid
),
s1 AS MATERIALIZED (
    SELECT query_id, cid, score, 1 AS mmr_rank FROM (
        SELECT query_id, cid, score, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, cid) AS rn
        FROM cand
    ) WHERE rn = 1
),
sel1 AS MATERIALIZED (SELECT * FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""
s{i} AS MATERIALIZED (
    SELECT query_id, cid, score, {i} AS mmr_rank FROM (
        SELECT c.query_id, c.cid, c.score, row_number() OVER (
            PARTITION BY c.query_id
            ORDER BY c.score - {lam} * p.maxsim DESC, c.cid) AS rn
        FROM cand c
        JOIN (
            SELECT s.query_id, s.ca AS cid, max(s.sim) AS maxsim
            FROM sims s JOIN sel{i - 1} t
              ON s.query_id = t.query_id AND s.cb = t.cid
            GROUP BY 1, 2
        ) p ON p.query_id = c.query_id AND p.cid = c.cid
        WHERE NOT EXISTS (
            SELECT 1 FROM sel{i - 1} t
            WHERE t.query_id = c.query_id AND t.cid = c.cid
        )
    ) WHERE rn = 1
),
sel{i} AS MATERIALIZED (
    SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i}
)"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT query_id, cid AS neighbor_id, score, mmr_rank"
        f" FROM sel{k}\n"
    )


@query("mmr_diversified_topk", _mmr_sql())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.mmr_topk(queries, emb, k=5, fetch_k=10, lam=0.5)
# ---------------------------------------------------------------------------
# Similarity search — hyperplane-LSH bucket assignment (the scale path)
# ---------------------------------------------------------------------------


def _lsh_bucket_sql(n_planes: int = 8, dim: int = 64) -> str:
    terms = []
    for i in range(n_planes):
        plane = S.hyperplane(i, dim)
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
            f"THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        )
    return f"SELECT vec_id, {' + '.join(terms)} AS bucket FROM embeddings"


@query("ann_lsh_buckets", _lsh_bucket_sql(8, 64))
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return S.lsh_buckets(emb, n_planes=8, dim=64)


def _bucket_expr_sql(alias: str, n_planes: int = 8, dim: int = 64) -> str:
    terms = []
    for i in range(n_planes):
        plane = S.hyperplane(i, dim)
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({alias}.embedding::DOUBLE[], {lit}) > 0 "
            f"THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


# Shared by ann_lsh_topk (broadcast-query physical plan) and
# knn_join_topk (fully-distributed cogrouped-block plan): identical
# candidate semantics — same hyperplanes, buckets, ranking — so one
# oracle value-checks BOTH physical strategies.
_LSH_TOPK_SQL = f"""
WITH tagged AS (
    SELECT vec_id, embedding, {_bucket_expr_sql('embeddings')} AS bucket
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, embedding, bucket
    FROM tagged WHERE vec_id % 20 = 0
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                 6) AS score
    FROM q JOIN tagged c ON q.bucket = c.bucket AND q.query_id != c.vec_id
)
SELECT query_id, neighbor_id, score, rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""


@query("ann_lsh_topk", _LSH_TOPK_SQL)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.lsh_topk(queries, emb, k=5, n_planes=8, dim=64)


@query("knn_join_topk", _LSH_TOPK_SQL)
def knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-both-sides form of ann_lsh_topk: no driver-resident
    query matrix, so it stays correct when the query side is itself a
    data-sized table (crawl-vs-crawl linkage, corpus self-retrieval)."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.knn_join(queries, emb, k=5, n_planes=8, dim=64)


# Fully-distributed MMR: candidates come from knn_join (LSH-bucketed,
# NEITHER side collected — the corpus-vs-corpus form), then the same
# greedy re-rank runs per query with the candidate join left to AQE
# instead of a forced broadcast. Closes the "queries must be
# driver-sized" caveat for MMR the way knn_join closed it for ANN;
# the oracle swaps the candidate CTEs for the LSH-bucket logic and
# keeps the same unrolled greedy chain.
_MMR_LSH_CAND = f"""
tagged AS (
    SELECT vec_id, embedding, {_bucket_expr_sql('embeddings')} AS bucket
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, embedding, bucket
    FROM tagged WHERE vec_id % 20 = 0
), scored AS (
    SELECT q.query_id, c.vec_id AS cid,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                 6) AS score,
           c.embedding AS cemb
    FROM q JOIN tagged c ON q.bucket = c.bucket AND q.query_id != c.vec_id
),
cand AS MATERIALIZED (
    SELECT query_id, cid, score, cemb FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, cid) AS rn
        FROM scored
    ) WHERE rn <= 10
)"""


@query("mmr_knn_diversified_topk", _mmr_sql(cand_ctes=_MMR_LSH_CAND))
def mmr_knn_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    cand = S.knn_join(queries, emb, k=10, n_planes=8, dim=64)
    return S.mmr_rerank(
        cand, emb, k=5, lam=0.5, broadcast_candidates=False
    )


# ann_ivf_topk moved to queries_training.py in round 8, GRADUATED to a
# strict oracle: it now trains its 16-cell coarse quantizer with the
# exact-oracle Lloyd's (kmeans_train_exact) instead of the numpy batch
# path, so the full train -> assign -> probe -> rank chain is
# value-checked in SQL next to ann_ivf_trained.


@query(
    "embedding_near_dup",
    f"""
WITH tagged AS (
    SELECT vec_id, embedding, {_bucket_expr_sql('embeddings')} AS bucket
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS score
FROM tagged a
JOIN tagged b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
            6) >= 0.35
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=0.35, n_planes=8, dim=64)


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning: quality gate -> exact dedup -> minhash-LSH
# near-dup removal -> stats. The composition an LLM training-data pipeline
# actually runs, checked as one oracle query.
# ---------------------------------------------------------------------------


def _clean_corpus_sql(threshold: float = 0.4) -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    quality_sql = ORACLES["quality_scores"]
    return f"""
WITH RECURSIVE q AS (
    SELECT d.doc_id, d.text, qq.quality
    FROM documents d JOIN ({quality_sql}) qq USING (doc_id)
    WHERE qq.quality >= {threshold}
), hashed AS (
    SELECT doc_id, text, quality, md5({_NORM}) AS ch FROM q
), exact AS (
    SELECT doc_id, text, quality FROM (
        SELECT *, row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
        FROM hashed
    ) WHERE rn = 1
), shingled AS (
    SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM exact
), gram_hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h
    FROM shingled
), seeds(seed, a, b) AS (
    VALUES {_seed_values_sql(16)}
), sig AS (
    SELECT doc_id, CAST(seed AS BIGINT) AS seed,
           min((a * h + b) % {D.MINHASH_PRIME}) AS minhash
    FROM gram_hashed CROSS JOIN seeds
    GROUP BY doc_id, seed
), bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig GROUP BY doc_id, seed // 4
), pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), losers AS (
    -- cluster-based: every non-minimum member of a connected component
    -- (per-pair removal under-removes on transitive chains)
    SELECT src AS id_b FROM reach
    GROUP BY src
    HAVING least(src, min(dst)) <> src
)
SELECT e.doc_id, len({_TOKS}) AS n_tokens, e.quality
FROM exact e
WHERE e.doc_id NOT IN (SELECT id_b FROM losers)
"""


@query("clean_corpus", _clean_corpus_sql(0.4))
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        clean_corpus as _clean,
    )

    docs = _load(spark, sf_dir, "documents")
    return _clean(docs, quality_threshold=0.4)


# ---------------------------------------------------------------------------
# Multimodal columns: binary payload + typed metadata, decode / feature /
# frame-sample plumbing (operators.multimodal). The synthetic corpus is
# utf-8 payload bytes of `documents.text`; the corpus is pure ASCII, so
# DuckDB character functions replicate the byte-level ops exactly.
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
       END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return M.media_metadata(M.synthetic_media(docs))


@query(
    "multimodal_decode",
    """
SELECT doc_id,
       CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INTEGER) AS width,
       CAST(length(text) % 64 + 1 AS INTEGER) AS height,
       CASE WHEN length(text) % 2 = 0 THEN 'RGB' ELSE 'L' END AS mode
FROM documents
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return M.decode_media(M.synthetic_media(docs), fake_decode=True)


@query(
    "multimodal_real_decode",
    """
WITH geom AS (
    SELECT doc_id,
           CAST(doc_id % 31 + 2 AS INTEGER) AS width,
           CAST(doc_id % 17 + 2 AS INTEGER) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS nch
    FROM documents
), px AS (
    SELECT g.doc_id,
           CAST(sum((g.doc_id + x.i + 5 * y.j + 40 * c.k) % 256)
                AS BIGINT) AS px_sum
    FROM geom g,
         unnest(generate_series(0, g.width - 1)) AS x(i),
         unnest(generate_series(0, g.height - 1)) AS y(j),
         unnest(generate_series(0, g.nch - 1)) AS c(k)
    GROUP BY g.doc_id
)
SELECT g.doc_id, g.width, g.height,
       CASE WHEN g.nch = 3 THEN 'RGB' ELSE 'L' END AS mode,
       px.px_sum
FROM geom g JOIN px ON px.doc_id = g.doc_id
""",
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec through the engine, oracle-proven: build a valid PNG
    per document executor-side (closed-form geometry + content,
    ``synthetic_png_media``), decode it back with the tiered real
    decoder (Pillow if importable, else the stdlib zlib/filter codec —
    NEVER the fake stub), and emit dimensions, mode and the decoded
    pixel-byte sum. The oracle computes all five columns analytically
    from doc_id without touching a codec, so any bit the encoder or
    decoder drops anywhere in the loop shows up as a value mismatch."""
    docs = _load(spark, sf_dir, "documents")
    return M.decode_media(
        M.synthetic_png_media(docs), pixel_sum=True
    )


@query(
    "multimodal_byte_histogram",
    """
WITH bytes AS (
    SELECT doc_id, length(text) AS n,
           ascii(substr(text, CAST(i AS INTEGER), 1)) // 16 AS bin
    FROM documents, unnest(generate_series(1, length(text))) AS t(i)
), counts AS (
    SELECT doc_id, bin, count(*) AS c FROM bytes GROUP BY doc_id, bin
)
SELECT d.doc_id, CAST(b.bin AS INTEGER) AS bin,
       round(coalesce(c.c, 0) / CAST(greatest(length(d.text), 1) AS DOUBLE),
             6) AS share
FROM documents d
CROSS JOIN unnest(generate_series(0, 15)) AS b(bin)
LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.bin
""",
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    feats = M.byte_histogram_features(M.synthetic_media(docs), bins=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bin", "share")
    ).select("doc_id", "bin", F.round("share", 6).alias("share"))


@query(
    "multimodal_frame_sample",
    """
WITH framed AS (
    SELECT doc_id, text,
           CAST(greatest((length(text) + 63) // 64, 1) AS BIGINT) AS n_frames
    FROM documents
)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       CAST(octet_length(encode(substr(text, CAST(fi * 64 + 1 AS INTEGER), 64)))
            AS BIGINT) AS n_frame_bytes,
       md5(substr(text, CAST(fi * 64 + 1 AS INTEGER), 64)) AS frame_digest
FROM framed, unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 2)) AS t(fi)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    frames = M.frame_sample(
        M.synthetic_media(docs), frame_size=64, every_nth=2
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("n_frame_bytes"),
        "frame_digest",
    )


# ---------------------------------------------------------------------------
# Embedding stats: per-label norm aggregates (array math + groupBy)
# ---------------------------------------------------------------------------


@query(
    "embedding_stats",
    """
WITH norms AS (
    SELECT label,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
    FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(nrm), 4) AS avg_norm,
       round(min(nrm), 4) AS min_norm,
       round(max(nrm), 4) AS max_norm
FROM norms
GROUP BY label
""",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.vectors import norm

    emb = _load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm("embedding").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Chunk-embedding pooling: mean-pool consecutive chunk vectors into one
# document vector (the retrieval-index build step after long-doc
# chunking). Spark folds each group's vec_id-SORTED collected arrays with
# zip_with — ONE shuffle of array rows, no 64x dimension explode; the
# oracle averages per dimension. Dims round to 6dp BEFORE the norm so the
# derived outputs are computed from identical doubles on both engines.
# ---------------------------------------------------------------------------


@query(
    "embedding_pool",
    """
WITH g AS (
    SELECT vec_id // 5 AS group_id, vec_id, embedding::DOUBLE[] AS v
    FROM embeddings
), dims AS (
    SELECT group_id, i AS dim, v[i] AS val
    FROM g, unnest(generate_series(1, len(v))) AS t(i)
), pooled AS (
    SELECT group_id, dim, round(avg(val), 6) AS pval
    FROM dims GROUP BY group_id, dim
), arrs AS (
    SELECT group_id, list(pval ORDER BY dim) AS pv
    FROM pooled GROUP BY group_id
), counts AS (
    SELECT vec_id // 5 AS group_id, count(*) AS n_chunks
    FROM embeddings GROUP BY 1
)
SELECT a.group_id, c.n_chunks,
       round(sqrt(list_dot_product(pv, pv)), 6) AS pooled_norm,
       pv[1] AS dim1, pv[32] AS dim32
FROM arrs a JOIN counts c USING (group_id)
""",
)
def embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions import vectors as V

    emb = _load(spark, sf_dir, "embeddings")
    grouped = emb.select(
        F.expr("vec_id div 5").alias("group_id"),
        F.struct("vec_id", "embedding").alias("_sv"),
    )
    # sort_array makes the fold order vec_id-deterministic — summation
    # order is part of the operator contract, not an engine accident
    agged = grouped.groupBy("group_id").agg(
        F.sort_array(F.collect_list("_sv")).alias("_svs"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    n = F.col("n_chunks")
    summed = F.aggregate(
        F.col("_svs"),
        F.expr("array_repeat(cast(0.0 as double), 64)"),
        lambda acc, sv: F.zip_with(
            acc,
            sv["embedding"],
            lambda a, x: a + x.cast("double"),
        ),
    )
    pooled = F.transform(summed, lambda s: F.round(s / n, 6))
    out = agged.select(
        "group_id", "n_chunks", pooled.alias("_pv")
    )
    return out.select(
        "group_id",
        "n_chunks",
        F.round(F.sqrt(V.dot("_pv", "_pv")), 6).alias("pooled_norm"),
        F.element_at("_pv", 1).alias("dim1"),
        F.element_at("_pv", 32).alias("dim32"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval: keep the first 16 of 64 dims, re-rank by
# truncated cosine, measure recall@5 vs the full-dim truth — the MRL
# "how much cheaper can retrieval get" knob, same harness as the int8
# and PQ recall evals.
# ---------------------------------------------------------------------------

_COS_TRUNC = (
    "round(list_dot_product(q.tv, c.tv) / "
    "(sqrt(list_dot_product(q.tv, q.tv)) * "
    "sqrt(list_dot_product(c.tv, c.tv))), 6)"
)


@query(
    "ann_matryoshka_recall",
    f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           (embedding::DOUBLE[])[1:16] AS tv
    FROM embeddings
),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v) /
                                  (sqrt(list_dot_product(q.v, q.v)) *
                                   sqrt(list_dot_product(c.v, c.v))), 6)
                            DESC, c.vec_id
               ) AS rnk
        FROM cd q JOIN cd c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 5
), cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS_TRUNC} DESC, c.vec_id
               ) AS rnk
        FROM cd q JOIN cd c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 5
), hit AS (
    SELECT * FROM truth INTERSECT SELECT * FROM cand
)
SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM hit) AS n_hit,
    CAST(round(CAST((SELECT count(*) FROM hit)
         / CAST((SELECT count(*) FROM truth) AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS recall_at_5
""",
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    emb = _load(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    q_trunc = trunc.filter(F.col("vec_id") % 20 == 0)
    truth = (
        S.brute_force_topk(queries, emb, k=5, metric="cosine")
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        S.brute_force_topk(q_trunc, trunc, k=5, metric="cosine")
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hit = truth.join(cand, ["query_id", "neighbor_id"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return nt.crossJoin(nh).select(
        "n_truth",
        "n_hit",
        F.round(
            (F.col("n_hit") / F.col("n_truth")).cast("decimal(38,10)"), 6
        )
        .cast("double")
        .alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: token frequency top-k (the vocab-building scan).
# ---------------------------------------------------------------------------


@query(
    "top_tokens",
    f"""
WITH tok AS (
    SELECT unnest({_TOKS}) AS token FROM documents
), counts AS (
    SELECT token, count(*) AS n FROM tok GROUP BY token
)
SELECT token, n, rnk FROM (
    SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rnk
    FROM counts
) WHERE rnk <= 50
""",
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy+limit plans as TakeOrderedAndProject (distributed top-k,
    # per-partition heaps + driver merge) — no global single-partition
    # sort; the rank window then runs over only the 50 survivors
    top = counts.orderBy(F.col("n").desc(), "token").limit(50)
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rnk", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Exact frequency heavy hitters without a vocabulary-sized shuffle:
# Misra-Gries candidate pass + exact recount (operators/sketches.py,
# module-section comment there has the superset-guarantee argument).
# top_tokens above is the full-vocabulary scan this replaces when the
# key space is web-scale (n-grams): pass 1 folds each partition to a
# capacity-k summary, so the only data-sized work is two scans. The
# threshold is ceil(total/800) by INTEGER arithmetic — a float
# phi*total product could round either side of an integer count.
# ---------------------------------------------------------------------------


@query(
    "bigram_heavy_hitters",
    f"""
WITH t AS (
    SELECT {_TOKS} AS a FROM documents
), g AS (
    SELECT a[i] || ' ' || a[i + 1] AS gram
    FROM t, unnest(generate_series(1, len(a) - 1)) AS u(i)
), counts AS (
    SELECT gram, count(*) AS n_gram FROM g GROUP BY gram
), tot AS (
    SELECT sum(n_gram) AS total FROM counts
)
SELECT gram, n_gram FROM counts, tot
WHERE n_gram >= (total + 799) // 800
""",
)
def bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import (
        sketches as SK,
    )

    docs = _load(spark, sf_dir, "documents")
    toked = docs.select(T.tokens("text").alias("_toks"))
    grams = toked.select(
        F.explode(
            D.gram_instances_from_tokens(F.col("_toks"), 2)
        ).alias("gram")
    )
    return SK.heavy_hitters_exact(
        grams, den=800, item_col="gram"
    ).withColumnRenamed("n_item", "n_gram")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (training-mix construction): per-source
# rates via an md5 draw — reproducible on any engine/executor count, unlike
# rand()-based sampleBy.
# ---------------------------------------------------------------------------

# rates per mille, keyed by the testdata source taxonomy (src0..src19);
# unknown sources sample at 0 (drop) like a real mix allowlist
_SAMPLE_RATES = {f"src{i}": r for i, r in enumerate([1000, 900, 800, 700, 600, 500, 400, 300, 200, 100] * 2)}
_RATE_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(_SAMPLE_RATES.items())
)


@query(
    "stratified_sample",
    f"""
SELECT doc_id, source
FROM documents
WHERE CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 7)
           AS BIGINT) % 1000
      < coalesce(CASE source {_RATE_CASE} END, 0)
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    rate_map = F.create_map(
        *[F.lit(x) for kv in sorted(_SAMPLE_RATES.items()) for x in kv]
    )
    rate = F.coalesce(F.element_at(rate_map, F.col("source")), F.lit(0))
    return docs.filter(draw < rate).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement — priority sampling (Duffield,
# Lund & Thorup, "Priority sampling for estimation of arbitrary subset
# sums", JACM 2007): each document draws priority u_i / w_i with u_i
# uniform and w_i its weight, and the k SMALLEST priorities win — a
# length-proportional corpus subsample ("sample tokens, not documents"),
# the training-data counterpart of stratified_sample's per-source rates.
#
# Bit-exactness design (why u/w and not the classic A-ES u^(1/w)): the
# draw u is an exact integer (first 7 md5 hex digits + 1, <= 2^28) and
# the weight an exact integer token count, so the priority is ONE IEEE
# division of two exactly-representable integers — correctly rounded and
# therefore bit-identical on every engine. The A-ES exponential-keys
# form needs pow/ln, whose last-ulp behavior differs across libm
# implementations (the F.round gotcha, see check_oracle notes). Draw
# collisions DO occur at birthday rates (~6.6k docs over the 2^28 draw
# space — see priority_sample_estimates's docstring), so equal-weight
# rows can tie on priority; the doc_id tie-break is what makes the
# frontier deterministic, on both engines.
#
# Scale shape: weights are computed scan-side (no shuffle), and the k
# smallest priorities resolve via orderBy().limit(k) ->
# TakeOrderedAndProject — per-partition heaps of size k and a k-row
# driver merge, never a global sort. At 100 TB this is one scan.
# ---------------------------------------------------------------------------


@query(
    "priority_sample",
    f"""
WITH sized AS (
    SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
), keyed AS (
    SELECT doc_id, source, n_tokens,
           CAST(n_tokens * 268435456 AS DOUBLE) /
           CAST(CAST('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 7)
                     AS BIGINT) + 1 AS DOUBLE) AS p
    FROM sized WHERE n_tokens > 0
)
SELECT doc_id, source, n_tokens
FROM keyed ORDER BY p DESC, doc_id LIMIT 500
""",
)
def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        priority_sample as ps,
    )

    docs = _load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", T.token_count("text").alias("n_tokens")
    )
    return ps(sized, k=500, weight_col="n_tokens").select(
        "doc_id", "source", "n_tokens"
    )


@query(
    "priority_sample_estimate",
    f"""
WITH sized AS (
    SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
), keyed AS (
    SELECT doc_id, n_tokens,
           CAST(n_tokens * 268435456 AS DOUBLE) /
           CAST(CAST('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 7)
                     AS BIGINT) + 1 AS DOUBLE) AS p
    FROM sized WHERE n_tokens > 0
), top AS (
    SELECT doc_id, n_tokens, p
    FROM keyed ORDER BY p DESC, doc_id LIMIT 501
), thresh AS (
    SELECT doc_id, n_tokens, p,
           row_number() OVER (ORDER BY p DESC, doc_id) AS rn,
           min(p) OVER () AS tau
    FROM top
)
SELECT doc_id, n_tokens,
       greatest(CAST(n_tokens AS DOUBLE), tau) AS w_hat
FROM thresh WHERE rn <= 500
""",
)
def priority_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DLT estimator companion of ``priority_sample``: the same
    500-document token-weighted sample, each row carrying the unbiased
    subset-sum weight estimate ``w_hat = max(n_tokens, tau)`` — sum
    ``w_hat`` over any pre-specified slice of the sample to estimate
    that slice's true total token count without rescanning the corpus
    (see operators/pipeline.py:priority_sample_estimates)."""
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        priority_sample_estimates,
    )

    docs = _load(spark, sf_dir, "documents")
    sized = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    return priority_sample_estimates(
        sized, k=500, weight_col="n_tokens"
    ).select("doc_id", "n_tokens", "w_hat")


# ---------------------------------------------------------------------------
# Token-budget shard packing: assign documents to fixed-token training
# shards via a running token-count cumsum (deterministic id order).
# ---------------------------------------------------------------------------


@query(
    "shard_packing",
    f"""
WITH sized AS (
    SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 5000.0) AS BIGINT) AS shard
FROM sized
""",
)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable two-phase cumsum (operators.packing) — NOT a global
    Window.orderBy, which would single-partition-sort the corpus."""
    from kafka_stream_unify_order_messages_spark.operators.packing import (
        pack_shards,
    )

    docs = _load(spark, sf_dir, "documents")
    sized = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    return pack_shards(sized, shard_budget=5000, bucket_width=100)


# ---------------------------------------------------------------------------
# Concat-and-split sequence packing: documents (plus one EOS token each)
# laid out back-to-back in doc_id order, cut into fixed 64-token training
# sequences; one row per (sequence, document) span. The causal-LM batch
# layout with zero padding waste — documents split across context windows.
# ---------------------------------------------------------------------------


@query(
    "sequence_packing",
    f"""
WITH sized AS (
    SELECT doc_id, len({_TOKS}) + 1 AS n_tokens FROM documents
), pos AS (
    SELECT doc_id, n_tokens,
           coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS strt
    FROM sized
)
SELECT doc_id,
       CAST(s AS BIGINT) AS seq_id,
       CAST(greatest(strt, s * 64) - s * 64 AS BIGINT) AS seq_offset,
       CAST(greatest(strt, s * 64) - strt AS BIGINT) AS doc_offset,
       CAST(least(strt + n_tokens, (s + 1) * 64)
            - greatest(strt, s * 64) AS BIGINT) AS span_len
FROM pos, unnest(generate_series(CAST(strt // 64 AS BIGINT),
                                 CAST((strt + n_tokens - 1) // 64
                                      AS BIGINT))) AS t(s)
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed parallel prefix-sum + scan-local span explode
    (operators.packing.pack_sequences) — the oracle's global
    single-partition ORDER BY window is exactly the shape the operator
    exists to avoid."""
    from kafka_stream_unify_order_messages_spark.operators.packing import (
        pack_sequences,
    )

    docs = _load(spark, sf_dir, "documents")
    # +1: each document is followed by one EOS separator in the stream
    sized = docs.select(
        "doc_id", (T.token_count("text") + 1).alias("n_tokens")
    )
    return pack_sequences(sized, seq_len=64, bucket_width=100)


# ---------------------------------------------------------------------------
# TF-IDF top terms per document (the classic corpus-weighting scan):
# tf = in-doc count, idf = ln((N+1)/(df+1)) + 1, top-3 terms per doc.
# ---------------------------------------------------------------------------


@query(
    "tfidf_top_terms",
    f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.token,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, rnk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token
    ) AS rnk
    FROM scored
) WHERE rnk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf holds one row per distinct (doc, token), so document frequency
    # is a windowed count over tf — ONE corpus scan/tokenize feeding the
    # whole query (a df-by-separate-aggregate shape plans two scans:
    # ReuseExchange does not fire across the join's build/probe
    # subtrees), and no join. Shuffle budget: postings agg, window by
    # token, window by doc_id — all on the deduplicated postings list,
    # never on the raw corpus.
    n_docs = docs.count()  # one scalar; embedded as a literal like the CTE
    from pyspark.sql import Window as W

    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("token"))
    ).select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Repetition-ratio quality signal (Gopher-style): fraction of word-bigram
# instances that repeat an earlier bigram — scan-local, zero shuffles.
# ---------------------------------------------------------------------------


@query(
    "repetition_ratio",
    f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS tk FROM documents
)
SELECT doc_id,
       CASE WHEN len(tk) - 1 > 0
            THEN round(1.0 - len(list_distinct(list_transform(
                     generate_series(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1])))
                 / CAST(len(tk) - 1 AS DOUBLE), 6)
            ELSE 0.0 END AS repetition
FROM toks
""",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.bigram_repetition("text").alias("repetition")
    )


# ---------------------------------------------------------------------------
# PII scrubbing: mask emails/phones with typed placeholders. The corpus is
# synthetic word-salad, so deterministic PII spans are injected first
# (keyed on doc_id) — the scrub itself is the operator under test.
# ---------------------------------------------------------------------------

_PII_AUG_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0
            THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com now'
            WHEN doc_id % 11 = 0
            THEN text || ' call 555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
            ELSE text END AS text
FROM documents
"""


@query(
    "pii_scrub",
    f"""
WITH aug AS ({_PII_AUG_SQL})
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
       len(regexp_extract_all(text, '\\b555-[0-9]{{4}}\\b')) AS n_phones,
       md5(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>',
           'g'), '\\b555-[0-9]{{4}}\\b', '<PHONE>', 'g')) AS scrubbed_md5
FROM aug
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = T.pii_counts("text")
    return aug.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        F.md5(T.scrub_pii("text")).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: training docs sharing any word 4-gram with the
# (deterministic) benchmark subset. Benchmark gram set broadcasts; the
# corpus side is one scan + explode, shuffled only for the per-doc count.
# ---------------------------------------------------------------------------

_GRAMS4 = f"""
CASE WHEN len({_TOKS}) >= 4
     THEN list_distinct(list_transform(
              generate_series(1, len({_TOKS}) - 3),
              i -> array_to_string(list_slice({_TOKS}, i, i + 3), ' ')))
     ELSE [array_to_string({_TOKS}, ' ')] END
"""


@query(
    "decontaminate",
    f"""
WITH grams AS (
    SELECT doc_id, unnest({_GRAMS4}) AS shingle FROM documents
), bench AS (
    SELECT DISTINCT shingle FROM grams WHERE doc_id % 97 = 0
)
SELECT doc_id, count(DISTINCT shingle) AS n_hits
FROM grams JOIN bench USING (shingle)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
""",
)
def decontaminate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        decontaminate,
    )

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, ngram_n=4)


# ---------------------------------------------------------------------------
# Contamination profile: the decile histogram of per-doc benchmark-overlap
# fraction — what papers report and what picks the removal threshold
# (drop at >=30% overlap, flag at >=10%, ...). Integer decile arithmetic
# ((n_hits * 10) // n_grams), so no float boundary exists anywhere.
# ---------------------------------------------------------------------------


@query(
    "contamination_profile",
    f"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    -- fully-contaminated plants: verbatim bench copies (decile 9)
    SELECT doc_id + 3000000 AS doc_id, text FROM documents
    WHERE doc_id % 97 = 0
    UNION ALL
    -- partially-contaminated plants: bench text diluted with clean text
    SELECT b.doc_id + 4000000 AS doc_id,
           b.text || ' ' || c.text AS text
    FROM documents b JOIN documents c ON c.doc_id = b.doc_id + 1
    WHERE b.doc_id % 97 = 0
), grams AS (
    SELECT doc_id, unnest({_GRAMS4}) AS shingle FROM aug
), bench AS (
    SELECT DISTINCT shingle FROM grams WHERE doc_id % 97 = 0
), per_doc AS (
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(b.shingle) AS n_hits
    FROM grams g LEFT JOIN bench b ON g.shingle = b.shingle
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
)
SELECT CAST(least((n_hits * 10) // n_grams, 9) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS total_hits
FROM per_doc
GROUP BY 1
""",
)
def contamination_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.dedup import (
        _exploded_shingles,
    )

    docs = _load(spark, sf_dir, "documents")
    bench_src = docs.filter(F.col("doc_id") % 97 == 0)
    full = bench_src.select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    partial = (
        bench_src.alias("b")
        .join(
            docs.alias("c"),
            F.col("c.doc_id") == F.col("b.doc_id") + 1,
        )
        .select(
            (F.col("b.doc_id") + 4000000).alias("doc_id"),
            F.concat(F.col("b.text"), F.lit(" "), F.col("c.text")).alias(
                "text"
            ),
        )
    )
    aug = (
        docs.select("doc_id", "text")
        .unionByName(full)
        .unionByName(partial)
    )
    bench = aug.filter(F.col("doc_id") % 97 == 0)
    corpus = aug.filter(F.col("doc_id") % 97 != 0)
    corpus_grams = _exploded_shingles(corpus, "doc_id", "text", 4)
    bench_grams = F.broadcast(
        _exploded_shingles(bench, "doc_id", "text", 4)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        corpus_grams.join(bench_grams, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
    )
    # integer floor-division on both engines — no float boundary
    decile = F.least(
        F.expr("(n_hits * 10) div n_grams"), F.lit(9)
    ).cast("long")
    return per_doc.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_hits").cast("long").alias("total_hits"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the SKETCH path for bench-gram sets too
# large to broadcast as strings: k=3 md5-derived positions in an m=65536
# slot space; a gram is flagged when all 3 positions are occupied. No
# false negatives by construction; n_bloom_hits vs n_exact_hits is the
# per-doc false-positive audit. Deterministic hashing makes even the
# false-positive set identical across engines.
# ---------------------------------------------------------------------------

_BLOOM_M = 65536


def _bloom_pos_sql(src: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle),"
        f" 1, 7) AS BIGINT) % {_BLOOM_M}"
    )


@query(
    "bloom_decontaminate",
    f"""
WITH grams AS (
    SELECT doc_id, unnest({_GRAMS4}) AS shingle FROM documents
), bench AS (
    SELECT DISTINCT shingle FROM grams WHERE doc_id % 97 = 0
), hseq AS (
    SELECT unnest(generate_series(0, 2)) AS i
), bpos AS (
    SELECT DISTINCT {_bloom_pos_sql('bench')} AS pos
    FROM bench CROSS JOIN hseq
), cpos AS (
    SELECT doc_id, shingle, i, {_bloom_pos_sql('grams')} AS pos
    FROM grams CROSS JOIN hseq
    WHERE doc_id % 97 <> 0
), flagged AS (
    SELECT doc_id, shingle
    FROM cpos JOIN bpos USING (pos)
    GROUP BY doc_id, shingle
    HAVING count(DISTINCT i) = 3
), exact AS (
    SELECT g.doc_id, g.shingle
    FROM grams g JOIN bench b USING (shingle)
    WHERE g.doc_id % 97 <> 0
)
SELECT f.doc_id,
       count(*) AS n_bloom_hits,
       CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_hits
FROM flagged f
LEFT JOIN exact e ON e.doc_id = f.doc_id AND e.shingle = f.shingle
GROUP BY f.doc_id
""",
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return P.bloom_decontaminate(
        corpus, bench, ngram_n=4, m=_BLOOM_M, k=3
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization: symmetric per-vector scale, half-up
# rounding (floor(x/s + 0.5) — engine-portable, unlike round()'s x.5
# behavior on doubles). Output flattened to (vec_id, scale, pos, qv) for
# hash-stable oracle comparison. Scan-local; 4x byte reduction before
# embeddings ship to trainers.
# ---------------------------------------------------------------------------


@query(
    "embedding_quantize",
    """
WITH scaled AS (
    SELECT vec_id,
           round(list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale,
           list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS raw_scale,
           embedding
    FROM embeddings
)
SELECT vec_id, scale,
       CAST(i AS INTEGER) AS pos,
       CASE WHEN raw_scale > 0
            THEN CAST(floor(CAST(embedding[i] AS DOUBLE) / raw_scale + 0.5)
                 AS INTEGER)
            ELSE 0 END AS qv
FROM scaled, unnest(generate_series(1, len(embedding))) AS t(i)
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.vectors import (
        quantize_int8,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qz = emb.select("vec_id", quantize_int8("embedding").alias("_qz"))
    return qz.select(
        "vec_id",
        F.col("_qz.scale").alias("scale"),
        F.posexplode(F.col("_qz.q")).alias("pos", "qv"),
    ).withColumn("pos", F.col("pos") + 1)


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the minhash candidate
# pairs — the per-CLUSTER canonical-copy rule (A~B, B~C keeps one of
# {A,B,C}, which pairwise dedup alone cannot express). Spark side is
# min-label propagation (O(diameter) shuffle rounds); the oracle walks
# the transitive closure with a recursive CTE.
# ---------------------------------------------------------------------------

@query(
    "dedup_cluster_labels",
    f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach
GROUP BY src
""",
)
def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    # star edges: same components as the full pair set, linear output
    edges = D.minhash_candidate_edges(
        docs, num_hashes=16, bands=4, shingle_n=3
    )
    return D.dedup_clusters(edges)


# ---------------------------------------------------------------------------
# Near-dup dedup with a KEEP-BEST policy: per cluster keep the longest
# copy (tie -> lower id), not the minimum id — the selection rule real
# pipelines actually want. Singletons keep themselves (cluster of one).
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_best",
    f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach
    GROUP BY src
),
scored AS (
    SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           d.n_chars
    FROM documents d
    LEFT JOIN labels l ON l.doc_id = d.doc_id
),
ranked AS (
    SELECT doc_id, cluster_id,
           row_number() OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM scored
)
SELECT doc_id, cluster_id, cluster_size FROM ranked WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.dedup_keep_best(
        docs, score_col="n_chars", num_hashes=16, bands=4, shingle_n=3
    )


# ---------------------------------------------------------------------------
# Data selection — per-document n-gram NOVELTY: what fraction of this
# doc's distinct shingles first appear (lowest doc id) in this doc. The
# contribution signal selection pipelines rank on; near-1 docs add new
# content, near-0 docs restate the corpus.
# ---------------------------------------------------------------------------


@query(
    "ngram_novelty",
    f"""
WITH sh AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS gh
    FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
), firsts AS (
    SELECT gh, min(doc_id) AS first_doc FROM sh GROUP BY gh
), per_doc AS (
    SELECT s.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM sh s
    JOIN firsts f ON f.gh = s.gh
    GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       CAST(round(CAST(n_novel / CAST(n_shingles AS DOUBLE)
                       AS DECIMAL(38,10)), 6) AS DOUBLE) AS novelty
FROM per_doc
""",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return P.ngram_novelty(docs, shingle_n=3)


# ---------------------------------------------------------------------------
# Corpus report — the per-(source, lang) rollup a curation dashboard
# shows: volume, length, and share of corpus. One aggregation plus a
# broadcast of the single-row total.
# ---------------------------------------------------------------------------


@query(
    "corpus_report",
    """
WITH grp AS (
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
                AS BIGINT) AS total_tokens,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY source, lang
), tot AS (SELECT count(*) AS n_total FROM documents)
SELECT source, lang, n_docs, total_chars, total_tokens,
       min_chars, max_chars,
       CAST(round(CAST(n_docs / CAST(n_total AS DOUBLE)
                       AS DECIMAL(38,10)), 6) AS DOUBLE) AS corpus_share
FROM grp CROSS JOIN tot
""",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    grp = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(T.token_count("text")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return grp.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        "min_chars",
        "max_chars",
        F.round(
            (F.col("n_docs") / F.col("n_total")).cast("decimal(38,10)"), 6
        )
        .cast("double")
        .alias("corpus_share"),
    )


# ---------------------------------------------------------------------------
# Curation analytics — near-dup RATE per source: which ingest feeds are
# redundant. A doc counts as a dupe when it is a non-representative
# member of a near-dup cluster (label != own id, i.e. a lower-id copy
# exists). The rollup that decides which crawl/source to re-prioritize.
# ---------------------------------------------------------------------------


@query(
    "dup_rate_by_source",
    f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach
    GROUP BY src
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN l.cluster_id IS NOT NULL
                      AND l.cluster_id != d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
       CAST(round(CAST(
           sum(CASE WHEN l.cluster_id IS NOT NULL
                     AND l.cluster_id != d.doc_id
                    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS dup_rate
FROM documents d
LEFT JOIN labels l ON l.doc_id = d.doc_id
GROUP BY d.source
""",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    edges = D.minhash_candidate_edges(
        docs, num_hashes=16, bands=4, shingle_n=3
    )
    labels = D.dedup_clusters(edges)
    is_dupe = (
        F.col("cluster_id").isNotNull()
        & (F.col("cluster_id") != F.col("doc_id"))
    ).cast("long")
    return (
        docs.select("doc_id", "source")
        .join(labels, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dupe).alias("n_dupes"),
            F.round(
                (F.sum(is_dupe) / F.count(F.lit(1))).cast(
                    "decimal(38,10)"
                ),
                6,
            )
            .cast("double")
            .alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Line-level exact dedup (C4-style "remove repeated lines across docs"):
# fixed 12-word windows stand in for lines; each chunk survives only at
# its globally-first (doc_id, position) occurrence; docs reassembled.
# ---------------------------------------------------------------------------


@query(
    "line_dedup",
    """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(w, i * 12 + 1, i * 12 + 12), ' ')
               AS chunk
    FROM toks,
         unnest(generate_series(
             0, CAST(ceil(len(w) / 12.0) AS BIGINT) - 1)) AS t(i)
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx
    ) AS rn
    FROM chunks
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END,
                           ' ' ORDER BY chunk_idx), '') AS clean_text,
       count(*) FILTER (WHERE rn = 1) AS n_kept,
       count(*) FILTER (WHERE rn > 1) AS n_dropped
FROM ranked
GROUP BY doc_id
""",
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        dedup_lines,
    )

    docs = _load(spark, sf_dir, "documents")
    return dedup_lines(docs, "doc_id", "text", chunk_words=12)


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate removal (CCNet/RefinedWeb): a chunk in
# more than max_doc_freq distinct docs is dropped from EVERY doc (line
# dedup instead keeps the first copy — the two steps compose).
# ---------------------------------------------------------------------------


@query(
    "boilerplate_removal",
    """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(w, i * 12 + 1, i * 12 + 12), ' ')
               AS chunk
    FROM toks,
         unnest(generate_series(
             0, CAST(ceil(len(w) / 12.0) AS BIGINT) - 1)) AS t(i)
), freq AS (
    SELECT md5(chunk) AS ch, count(DISTINCT doc_id) AS docfreq
    FROM chunks GROUP BY 1
), flagged AS (
    SELECT c.doc_id, c.chunk_idx, c.chunk, (f.docfreq > 3) AS bp
    FROM chunks c JOIN freq f ON md5(c.chunk) = f.ch
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT bp THEN chunk END,
                           ' ' ORDER BY chunk_idx), '') AS clean_text,
       count(*) FILTER (WHERE NOT bp) AS n_kept,
       count(*) FILTER (WHERE bp) AS n_dropped
FROM flagged
GROUP BY doc_id
""",
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        remove_boilerplate,
    )

    docs = _load(spark, sf_dir, "documents")
    return remove_boilerplate(
        docs, "doc_id", "text", chunk_words=12, max_doc_freq=3
    )


# ---------------------------------------------------------------------------
# Bigram LM quality scoring (KenLM-style): train an add-0.5 smoothed
# bigram model on the corpus, score each doc by avg per-bigram negative
# log likelihood. Counts are vocabulary-sized -> broadcast-able joins.
# ---------------------------------------------------------------------------


_LM_PPL_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS w FROM documents
    WHERE len({_TOKS}) >= 2
), big AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
), cbg AS (
    SELECT w1, w2, count(*) AS c_bg FROM big GROUP BY w1, w2
), cctx AS (
    SELECT w1, count(*) AS c_w1 FROM big GROUP BY w1
), voc AS (
    SELECT count(DISTINCT w) AS v
    FROM (SELECT w1 AS w FROM big UNION ALL SELECT w2 FROM big)
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(-ln((c_bg + 0.5) / (c_w1 + 0.5 * v))), 6) AS avg_nll,
       round(exp(avg(-ln((c_bg + 0.5) / (c_w1 + 0.5 * v)))), 4) AS ppl
FROM big
JOIN cbg USING (w1, w2)
JOIN cctx USING (w1)
CROSS JOIN voc
GROUP BY doc_id
"""


# "Train once, score many": the smoothed-bigram LM scores feed both
# lm_perplexity and ppl_buckets. Cache the PERSISTED score frame per
# (session, dataset) — the counts build (two corpus passes) runs once and
# downstream consumers read the cached (id, n_bigrams, avg_nll, ppl)
# rows, which is exactly how a production pipeline shares a trained
# filter model across queries.
def _lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        bigram_lm_scores,
    )

    return cached(
        spark, [f"{sf_dir}/documents.parquet"], ("lm_scores", 0.5),
        lambda: bigram_lm_scores(
            _load(spark, sf_dir, "documents"), "doc_id", "text", alpha=0.5
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


@query("lm_perplexity", _LM_PPL_SQL)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lm_scores(spark, sf_dir)


# ---------------------------------------------------------------------------
# Temperature sampling: re-balance sources with weight n_s^alpha (the
# multilingual/domain training-mix step). Integer-threshold md5 draws so
# the keep boundary is engine-stable.
# ---------------------------------------------------------------------------


@query(
    "temperature_sample",
    """
WITH counts AS (
    SELECT source, count(*) AS n_s FROM documents GROUP BY source
), tot AS (
    SELECT CAST(sum(n_s) AS DOUBLE) AS n_total,
           sum(pow(CAST(n_s AS DOUBLE), 0.7)) AS z
    FROM counts
), probs AS (
    SELECT source,
           CAST(floor(least(1.0,
                    pow(CAST(n_s AS DOUBLE), 0.7) / z * 0.5 * n_total
                        / CAST(n_s AS DOUBLE))
                * 268435456.0) AS BIGINT) AS thr
    FROM counts CROSS JOIN tot
)
SELECT doc_id, source
FROM documents
JOIN probs USING (source)
WHERE CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 7)
           AS BIGINT) < thr
""",
)
def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        temperature_sample as _ts,
    )

    docs = _load(spark, sf_dir, "documents")
    return _ts(docs, "doc_id", "source", alpha=0.7, budget_frac=0.5)


# semantic_dedup moved to queries_training.py in round 8, GRADUATED to a
# strict oracle on the exact-trained 16-cell model: the oracle re-trains
# the model, re-assigns cells, scores within-cell pairs, and walks the
# transitive closure with a recursive CTE.


# ---------------------------------------------------------------------------
# Incremental ingest dedup: a new batch (doc_id >= 250) deduped against
# the already-ingested corpus (doc_id < 250) and against itself
# (first-id-wins). Only 32-byte digests shuffle.
# ---------------------------------------------------------------------------


@query(
    "incremental_dedup",
    f"""
WITH old_h AS (
    SELECT DISTINCT md5({_NORM}) AS ch FROM documents WHERE doc_id < 250
), new_h AS (
    SELECT doc_id, md5({_NORM}) AS ch FROM documents WHERE doc_id >= 250
), ranked AS (
    SELECT doc_id, ch,
           row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
    FROM new_h
)
SELECT doc_id
FROM ranked r
WHERE rn = 1
  AND NOT EXISTS (SELECT 1 FROM old_h o WHERE o.ch = r.ch)
""",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.dedup_incremental(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-cascade quality filter (Rae et al. 2021): per-rule
# audit flags + the composite keep decision, all scan-local codegen.
# ---------------------------------------------------------------------------


@query(
    "gopher_rules",
    f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS w,
           length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonspace
    FROM documents
), s AS (
    SELECT doc_id,
           len(w) AS n_words,
           CAST(round(CAST(nonspace / len(w) AS DECIMAL(38,10)), 4)
                AS DOUBLE) AS mean_word_len,
           CAST(round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                 / len(w) AS DECIMAL(38,10)), 4) AS DOUBLE) AS alpha_frac,
           len(list_filter(
               w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')
           )) AS stop_hits
    FROM t
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
       (n_words >= 20 AND n_words <= 100000) AS r_words,
       (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS r_mean_len,
       (alpha_frac >= 0.8) AS r_alpha,
       (stop_hits >= 2) AS r_stopwords,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
        AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
FROM s
""",
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        gopher_quality,
    )

    docs = _load(spark, sf_dir, "documents")
    return gopher_quality(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction: 64 -> 8 deterministic
# md5-derived directions (JL-style pre-step before clustering/ANN).
# ---------------------------------------------------------------------------


def _rp_proj_sql(out_dim: int = 8, dim: int = 64, seed_base: int = 100) -> str:
    cols = []
    for j in range(out_dim):
        plane = S.hyperplane(seed_base + j, dim)
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        cols.append(
            f"round(list_dot_product(embedding::DOUBLE[], {lit}), 6) AS p{j}"
        )
    return ",\n       ".join(cols)


@query(
    "random_projection",
    f"""
SELECT vec_id,
       {_rp_proj_sql()}
FROM embeddings
""",
)
def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return S.random_projection(emb, "vec_id", "embedding", out_dim=8, dim=64)


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing: fixed precomputed cutoffs split the
# corpus into head/middle/tail quality tiers (Wenzek et al. 2020). The
# thresholds are literals (from a reference-corpus calibration), so the
# bucketing composes scan-local on top of the LM scores.
# ---------------------------------------------------------------------------


@query(
    "ppl_buckets",
    f"""
WITH scores AS ({_LM_PPL_SQL})
SELECT doc_id, ppl,
       CASE WHEN ppl < 29.2 THEN 'head'
            WHEN ppl < 29.9 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores
""",
)
def ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _lm_scores(spark, sf_dir)
    return scores.select(
        "doc_id",
        "ppl",
        F.when(F.col("ppl") < 29.2, "head")
        .when(F.col("ppl") < 29.9, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# IVF with FIXED md5-derived centroids: unlike ann_ivf_topk (whose
# k-means centroids are data-trained, hence rows-only checked), the whole
# IVF mechanism — cell assignment, nprobe probe selection, cell-scoped
# scoring, ranking — is value-checked against DuckDB here.
# ---------------------------------------------------------------------------


def _ivf_fixed_centroids(n_centroids: int = 16, dim: int = 64):
    import numpy as np

    return np.asarray(
        [S.hyperplane(200 + c, dim) for c in range(n_centroids)],
        dtype=np.float64,
    )


def _ivf_fixed_sql(
    k: int = 5, n_centroids: int = 16, nprobe: int = 4, dim: int = 64
) -> str:
    import math

    cents = [S.hyperplane(200 + c, dim) for c in range(n_centroids)]
    ds = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        n2 = math.fsum(x * x for x in c)
        ds.append(f"-2 * list_dot_product(v, {lit}) + {n2!r}")
    dlist = "[" + ",\n        ".join(ds) + "]"
    return f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
        {dlist} AS ds
    FROM embeddings
), cell AS (
    SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell FROM cd
), qp AS (
    SELECT vec_id, cell FROM (
        SELECT q.vec_id, g.cell, ds[g.cell + 1] AS d,
               row_number() OVER (
                   PARTITION BY q.vec_id ORDER BY ds[g.cell + 1], g.cell
               ) AS rn
        FROM cd q,
             (SELECT unnest(generate_series(0, {n_centroids - 1})) AS cell) g
        WHERE q.vec_id % 20 = 0
    ) WHERE rn <= {nprobe}
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v) /
                 (sqrt(list_dot_product(q.v, q.v)) *
                  sqrt(list_dot_product(c.v, c.v))), 6) AS score
    FROM cell q
    JOIN qp ON qp.vec_id = q.vec_id
    JOIN cell c ON c.cell = qp.cell AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, score, rnk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
) WHERE rnk <= {k}
"""


# ---------------------------------------------------------------------------
# ANN — product quantization (ADC) with a fixed md5-derived codebook: the
# memory-compression axis of the ANN family (vs LSH bucketing / IVF cell
# pruning). Each corpus vector compresses to n_sub=8 codeword ids; each
# query scores candidates via an (8 x 16) lookup table of partial dots.
# The fixed codebook makes the whole path — encode, LUT, ADC sum, ranking
# — value-checkable in SQL, like ann_ivf_fixed.
# ---------------------------------------------------------------------------


def _pq_cb_values(
    n_sub: int = 8, n_codes: int = 16, sub_dim: int = 8
) -> str:
    import math

    rows = []
    for s in range(n_sub):
        for c in range(n_codes):
            w = S.hyperplane(S.PQ_SEED_BASE + s * n_codes + c, sub_dim)
            lit = "[" + ", ".join(repr(x) for x in w) + "]::DOUBLE[]"
            n2 = math.fsum(x * x for x in w)
            rows.append(f"({s}, {c}, {lit}, {n2!r})")
    return ",\n        ".join(rows)


def _pq_fixed_sql(
    k: int = 5, n_sub: int = 8, n_codes: int = 16, sub_dim: int = 8
) -> str:
    values = _pq_cb_values(n_sub, n_codes, sub_dim)
    return f"""
WITH cb(s, c, w, n2) AS (
    VALUES {values}
), cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dists AS (
    SELECT cd.vec_id, cb.s, cb.c,
           -2 * list_dot_product(
                    list_slice(cd.v, cb.s * {sub_dim} + 1,
                               cb.s * {sub_dim} + {sub_dim}), cb.w)
           + cb.n2 AS d
    FROM cd CROSS JOIN cb
), enc AS (
    SELECT vec_id, s, c AS code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, s ORDER BY d, c
        ) AS rn
        FROM dists
    ) WHERE rn = 1
), lut AS (
    SELECT q.vec_id, cb.s, cb.c,
           list_dot_product(
               list_slice(q.v, cb.s * {sub_dim} + 1,
                          cb.s * {sub_dim} + {sub_dim}), cb.w) AS pd
    FROM cd q CROSS JOIN cb
    WHERE q.vec_id % 20 = 0
), scored AS (
    SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
           round(sum(l.pd), 6) AS score
    FROM enc e
    JOIN lut l ON l.s = e.s AND l.c = e.code AND l.vec_id != e.vec_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, rnk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
) WHERE rnk <= {k}
"""


@query("ann_pq_fixed", _pq_fixed_sql())
def ann_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    # the exhaustive-scan guard stays ON, with the ceiling PINNED rather
    # than inherited: this query is the ADC compression-quality baseline
    # and |Q| = n/20 grows with the corpus, so a user lifting this call
    # onto a real corpus gets pq_topk's ValueError routing them to
    # ann_ivfpq_fixed / knn_join instead of a silent quadratic burn.
    # The SCALING.md ramp ceiling (x100 -> 200k vectors -> |Q| = 10,000)
    # sits EXACTLY at the guard; pinning max_query_batch=10_000 here (and
    # asserting the tier/guard relationship at config time in
    # scripts/scaling_ramp.py) means a future guard-default change or
    # ramp-tier bump fails loudly up front, not mid-benchmark. Only a
    # deliberate exhaustive baseline passes max_query_batch=None (the
    # SCALING.md negative-result row's license).
    return S.pq_topk(
        queries, emb, k=5, n_sub=8, n_codes=16, max_query_batch=10_000
    )


# ---------------------------------------------------------------------------
# ANN — PQ recall evaluation: recall@5 of the ADC scan against exact
# inner-product ground truth over the same query set — the measurement
# that drives (n_sub, n_codes) codebook sizing in a real deployment,
# fully value-checked because both sides are deterministic.
# ---------------------------------------------------------------------------


@query(
    "ann_pq_recall_eval",
    f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                            c.vec_id
               ) AS rnk
        FROM cd q JOIN cd c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 5
), cand AS (
    SELECT query_id, neighbor_id FROM ({_pq_fixed_sql()})
), hit AS (
    SELECT * FROM truth INTERSECT SELECT * FROM cand
)
SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM hit) AS n_hit,
    CAST(round(CAST((SELECT count(*) FROM hit)
         / CAST((SELECT count(*) FROM truth) AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS recall_at_5
""",
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    truth = (
        S.brute_force_topk(queries, emb, k=5, metric="dot")
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        S.pq_topk(queries, emb, k=5, n_sub=8, n_codes=16)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hit = truth.join(cand, ["query_id", "neighbor_id"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                (F.col("n_hit") / F.col("n_truth")).cast("decimal(38,10)"),
                6,
            )
            .cast("double")
            .alias("recall_at_5"),
        )
    )


# ---------------------------------------------------------------------------
# ANN — IVF cell-balance histogram: vectors per cell under the fixed
# centroids. THE skew diagnostic for an IVF deployment — a cell holding
# half the corpus means probe cost is unbounded no matter what nprobe
# says; at 100 TB this histogram decides when to re-train or split.
# ---------------------------------------------------------------------------


def _ivf_cells_sql(n_centroids: int = 16, dim: int = 64) -> str:
    import math

    cents = [S.hyperplane(200 + c, dim) for c in range(n_centroids)]
    ds = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        n2 = math.fsum(x * x for x in c)
        ds.append(f"-2 * list_dot_product(v, {lit}) + {n2!r}")
    dlist = "[" + ",\n        ".join(ds) + "]"
    return f"""
SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cell FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
        {dlist} AS ds
    FROM embeddings
)
"""


@query(
    "ivf_cell_histogram",
    f"""
WITH cells AS ({_ivf_cells_sql()})
SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_vecs
FROM cells
GROUP BY cell
""",
)
def ivf_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, _ivf_fixed_centroids())
    return assigned.groupBy(
        F.col("centroid_id").cast("long").alias("cell")
    ).agg(F.count(F.lit(1)).alias("n_vecs"))


# ---------------------------------------------------------------------------
# ANN — int8 scalar-quantization recall: top-k over symmetrically
# quantized (quantize_int8 -> dequantize) vectors vs exact inner-product
# ground truth. The sizing measurement for shipping embeddings at 1/4
# bandwidth: how much ranking fidelity does 8-bit storage cost? Fully
# value-checked — quantization is floor(x/s + 0.5) * round(s, 9) on both
# engines, identical IEEE-double ops.
# ---------------------------------------------------------------------------


_SQ_DEQ_SQL = """
SELECT vec_id,
       CASE WHEN sraw > 0
            THEN list_transform(v, x -> floor(x / sraw + 0.5)
                                        * round(sraw, 9))
            ELSE list_transform(v, x -> 0.0) END AS v
FROM (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS sraw
    FROM cd
)
"""


@query(
    "ann_sq_recall_eval",
    f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), deq AS ({_SQ_DEQ_SQL}),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                            c.vec_id
               ) AS rnk
        FROM cd q JOIN cd c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 5
), cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                            c.vec_id
               ) AS rnk
        FROM deq q JOIN deq c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 5
), hit AS (
    SELECT * FROM truth INTERSECT SELECT * FROM cand
)
SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM hit) AS n_hit,
    CAST(round(CAST((SELECT count(*) FROM hit)
         / CAST((SELECT count(*) FROM truth) AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS recall_at_5
""",
)
def ann_sq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from kafka_stream_unify_order_messages_spark.functions import (
        vectors as V,
    )

    emb = _load(spark, sf_dir, "embeddings")
    # bind the quantize struct once per row (scale + codes share work)
    deq = emb.select(
        "vec_id", V.quantize_int8("embedding").alias("_qz")
    ).select(
        "vec_id",
        V.dequantize(F.col("_qz.scale"), F.col("_qz.q")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    q_deq = deq.filter(F.col("vec_id") % 20 == 0)
    truth = (
        S.brute_force_topk(queries, emb, k=5, metric="dot")
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        S.brute_force_topk(q_deq, deq, k=5, metric="dot")
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hit = truth.join(cand, ["query_id", "neighbor_id"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                (F.col("n_hit") / F.col("n_truth")).cast("decimal(38,10)"),
                6,
            )
            .cast("double")
            .alias("recall_at_5"),
        )
    )


# ---------------------------------------------------------------------------
# ANN — two-stage retrieve-then-rerank funnel: a cheap int8-dequantized
# coarse pass keeps 20 candidates per query; only those survivors get the
# exact fp32 score. This is the production serving shape (quantized index
# in memory, exact rerank on the short list): the rerank stage's cost is
# O(queries x 20) regardless of corpus size, and only (query, candidate)
# id pairs cross the shuffle between stages.
# ---------------------------------------------------------------------------


@query(
    "ann_rerank_topk",
    f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), deq AS ({_SQ_DEQ_SQL}),
coarse AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                            c.vec_id
               ) AS rnk
        FROM deq q JOIN deq c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 20 = 0
    ) WHERE rnk <= 20
)
SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT co.query_id, co.neighbor_id,
           round(list_dot_product(q.v, c.v), 6) AS score,
           row_number() OVER (
               PARTITION BY co.query_id
               ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                        co.neighbor_id
           ) AS rnk
    FROM coarse co
    JOIN cd q ON q.vec_id = co.query_id
    JOIN cd c ON c.vec_id = co.neighbor_id
) WHERE rnk <= 5
""",
)
def ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_unify_order_messages_spark.functions import (
        vectors as V,
    )

    emb = _load(spark, sf_dir, "embeddings")
    deq = emb.select(
        "vec_id", V.quantize_int8("embedding").alias("_qz")
    ).select(
        "vec_id",
        V.dequantize(F.col("_qz.scale"), F.col("_qz.q")).alias("embedding"),
    )
    q_deq = deq.filter(F.col("vec_id") % 20 == 0)
    coarse = S.brute_force_topk(q_deq, deq, k=20, metric="dot").select(
        "query_id", "neighbor_id"
    )
    # exact rerank is candidate-bounded: 20 rows per query join their
    # fp32 vectors; interpreted-HOF dot is fine at this volume and the
    # query-vector side broadcasts
    qv = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), "neighbor_id"
    )
    return (
        coarse.join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.dot("_qv", "_nv"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# ANN — IVF x PQ (the FAISS "IVFx,PQy" index shape): IVF prunes COMPUTE
# (each query scans only nprobe of 16 cells), PQ prunes MEMORY (candidates
# score via 8 LUT gathers on 8-byte codes). Fixed centroids + codebook
# make the full composition value-checkable in SQL.
# ---------------------------------------------------------------------------


def _ivfpq_fixed_sql(
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
) -> str:
    import math

    cents = [S.hyperplane(200 + c, dim) for c in range(n_centroids)]
    ds = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        n2 = math.fsum(x * x for x in c)
        ds.append(f"-2 * list_dot_product(v, {lit}) + {n2!r}")
    dlist = "[" + ",\n        ".join(ds) + "]"
    values = _pq_cb_values(n_sub, n_codes, sub_dim)
    return f"""
WITH cb(s, c, w, n2) AS (
    VALUES {values}
), cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
        {dlist} AS ds
    FROM embeddings
), cell AS (
    SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell FROM cd
), qp AS (
    SELECT vec_id, cell FROM (
        SELECT q.vec_id, g.cell, ds[g.cell + 1] AS d,
               row_number() OVER (
                   PARTITION BY q.vec_id ORDER BY ds[g.cell + 1], g.cell
               ) AS rn
        FROM cd q,
             (SELECT unnest(generate_series(0, {n_centroids - 1})) AS cell) g
        WHERE q.vec_id % 20 = 0
    ) WHERE rn <= {nprobe}
), dists AS (
    SELECT cell.vec_id, cell.cell, cb.s, cb.c,
           -2 * list_dot_product(
                    list_slice(cell.v, cb.s * {sub_dim} + 1,
                               cb.s * {sub_dim} + {sub_dim}), cb.w)
           + cb.n2 AS d
    FROM cell CROSS JOIN cb
), enc AS (
    SELECT vec_id, cell, s, c AS code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, s ORDER BY d, c
        ) AS rn
        FROM dists
    ) WHERE rn = 1
), lut AS (
    SELECT q.vec_id, cb.s, cb.c,
           list_dot_product(
               list_slice(q.v, cb.s * {sub_dim} + 1,
                          cb.s * {sub_dim} + {sub_dim}), cb.w) AS pd
    FROM cd q CROSS JOIN cb
    WHERE q.vec_id % 20 = 0
), scored AS (
    SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
           round(sum(l.pd), 6) AS score
    FROM enc e
    JOIN qp ON qp.cell = e.cell
    JOIN lut l ON l.vec_id = qp.vec_id AND l.s = e.s AND l.c = e.code
    WHERE l.vec_id != e.vec_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, rnk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
) WHERE rnk <= {k}
"""


@query("ann_ivfpq_fixed", _ivfpq_fixed_sql())
def ann_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.ivfpq_topk(
        queries,
        emb,
        k=5,
        n_centroids=16,
        nprobe=4,
        centroids=_ivf_fixed_centroids(),
    )


@query("ann_ivf_fixed", _ivf_fixed_sql())
def ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.ivf_topk(
        queries,
        emb,
        k=5,
        n_centroids=16,
        nprobe=4,
        centroids=_ivf_fixed_centroids(),
    )


# Build-once/serve-many: the SAME fixed-centroid IVF search, but against
# a PERSISTED index (inverted lists written partitionBy(centroid_id)), so
# serving partition-prunes to the probed cells' directories and never
# re-scans or re-assigns the corpus — the production geometry SCALING.md
# measured sublinear (`ivf_trained_serve`). Identical semantics to
# ann_ivf_fixed, hence the shared oracle (same pattern as knn_join_topk /
# lsh_topk). The index builds at most once per (session, sf_dir) and is
# reused by later calls — that reuse IS the feature under test, not a
# timing leak.
def _served_index(spark: SparkSession, sf_dir: str, kind: str, save, marker):
    """(embeddings, persisted ``kind`` index path): built once per cache
    entry, and again if its ``marker`` dir was deleted from outside."""
    import hashlib
    import os
    import tempfile

    emb = _load(spark, sf_dir, "embeddings")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"sg_{kind}_index_{tag}")

    def build() -> str:
        save(emb, path, n_centroids=16, centroids=_ivf_fixed_centroids())
        return path

    cached(spark, [f"{sf_dir}/embeddings.parquet"], (kind, path), build)
    if not os.path.isdir(os.path.join(path, marker)):
        build()
    return emb, path


@query("ann_ivf_served", _ivf_fixed_sql())
def ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, path = _served_index(spark, sf_dir, "ivf", S.save_ivf_index, "cells")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.search_ivf_index(spark, path, queries, k=5, nprobe=4)


# The compressed-index sibling: same persisted build-once/serve-many
# contract for IVFPQ (save_ivfpq_index persists codes-only inverted
# lists — serving partition-prunes to probed cells and scores ADC LUT
# gathers on PRE-COMPUTED codes, never touching a raw vector). Identical
# semantics to ann_ivfpq_fixed, hence the shared oracle.
@query("ann_ivfpq_served", _ivfpq_fixed_sql())
def ann_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, path = _served_index(
        spark, sf_dir, "ivfpq", S.save_ivfpq_index, "codes"
    )
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.search_ivfpq_index(spark, path, queries, k=5, nprobe=4)


# ---------------------------------------------------------------------------
# LSH quality evaluation: recall/precision of the minhash-LSH candidate
# generator against exact n-gram-Jaccard ground truth — the measurement
# that drives (num_hashes, bands) tuning in a real dedup pipeline. The
# exact side is the postings self-join (quadratic only within shared
# shingles); run it on the full corpus at eval scales, on a sample at
# production scales.
# ---------------------------------------------------------------------------


@query(
    "lsh_recall_eval",
    f"""
WITH sh AS (
    SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), truth AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
          >= 0.5
), cand AS ({_PAIRS_SQL}),
hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM hit) AS n_hit,
    CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
        CAST(round(CAST((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE)
             AS DECIMAL(38,10)), 6) AS DOUBLE) END AS recall,
    CASE WHEN (SELECT count(*) FROM cand) > 0 THEN
        CAST(round(CAST((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM cand) AS DOUBLE)
             AS DECIMAL(38,10)), 6) AS DOUBLE) END AS candidate_precision
""",
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = _load(spark, sf_dir, "documents")
    # NOT worth fusing the two shingle scans here (measured, r14): unlike
    # minhash_jaccard_estimate the truth pass needs the FULL corpus, so a
    # shared persisted shingle frame saves one tokenize pass but pays an
    # InMemoryRelation materialization of the whole exploded frame —
    # steady-state CPU was flat (12.8 vs 14.4) with 6 extra jobs.
    # both pair sets feed two aggregates each (own count + the
    # intersection); persist the tiny pair frames so the expensive
    # shingle joins run once apiece
    truth = (
        D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = D.minhash_candidate_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hit = truth.join(cand, ["id_a", "id_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    out = nt.crossJoin(nc).crossJoin(nh)
    return out.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.when(
            F.col("n_truth") > 0,
            F.round(
                (F.col("n_hit") / F.col("n_truth")).cast("decimal(38,10)"),
                6,
            ).cast("double"),
        ).alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                (F.col("n_hit") / F.col("n_candidates")).cast(
                    "decimal(38,10)"
                ),
                6,
            ).cast("double"),
        ).alias("candidate_precision"),
    )


# ---------------------------------------------------------------------------
# SemDeDup agreement eval: the quality bound for the one approximate
# operator that had none (semantic_dedup is rows-only because its
# k-means centroids are data-trained). With FIXED md5-derived centroids
# the entire mechanism — cell assignment, cluster-scoped exact scoring —
# is deterministic, so this eval is fully value-checked in SQL, unlike
# lsh_recall_eval-style bounds that only the builder can verify.
# Truth = exact all-pairs cosine >= threshold (computed by the SAME
# block-decomposed GEMM operator with ONE centroid: every pair lands in
# one cluster, exercising the skew-chunking path as a bonus).
# Agreement = fraction of true near-dup pairs SemDeDup's cluster scoping
# retains (cluster-scoped pairs are a subset of all-pairs at the same
# threshold, so this IS recall; precision is 1 by construction).
# ---------------------------------------------------------------------------


def _semdedup_agreement_sql(
    n_centroids: int = 16, dim: int = 64, thr: float = 0.35
) -> str:
    import math

    cents = [S.hyperplane(200 + c, dim) for c in range(n_centroids)]
    ds = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        n2 = math.fsum(x * x for x in c)
        ds.append(f"-2 * list_dot_product(v, {lit}) + {n2!r}")
    dlist = "[" + ",\n        ".join(ds) + "]"
    return f"""
WITH cd AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
        {dlist} AS ds
    FROM embeddings
), cell AS (
    SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell,
           sqrt(list_dot_product(v, v)) AS nrm
    FROM cd
), truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM cell a JOIN cell b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
          >= {thr!r}
), cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM cell a JOIN cell b
      ON a.vec_id < b.vec_id AND a.cell = b.cell
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
          >= {thr!r}
), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand) AS n_semdedup,
    (SELECT count(*) FROM hit) AS n_hit,
    CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
        CAST(round(CAST((SELECT count(*) FROM hit)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE)
             AS DECIMAL(38,10)), 6) AS DOUBLE) END AS agreement
"""


@query("semdedup_agreement_eval", _semdedup_agreement_sql())
def semdedup_agreement_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    import numpy as np

    emb = _load(spark, sf_dir, "embeddings")
    # exact all-pairs truth: one zero centroid puts the whole corpus in
    # a single cluster, so the block-decomposed GEMM scores every pair
    truth = (
        S.semantic_dedup_pairs(
            emb,
            "vec_id",
            "embedding",
            threshold=0.35,
            centroids=np.zeros((1, 64), dtype=np.float64),
        )
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        S.semantic_dedup_pairs(
            emb,
            "vec_id",
            "embedding",
            threshold=0.35,
            centroids=_ivf_fixed_centroids(),
        )
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hit = truth.join(cand, ["id_a", "id_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_semdedup"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_semdedup",
            "n_hit",
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    (F.col("n_hit") / F.col("n_truth")).cast(
                        "decimal(38,10)"
                    ),
                    6,
                ).cast("double"),
            ).alias("agreement"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture: temperature re-balancing weighted by TOKENS per
# source (what production training mixes budget), integer-threshold md5
# draws for an engine-stable keep boundary.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Epoch/repetition plan: the per-source allocation table a training run is
# configured from. Temperature weights (alpha=0.5 -> sqrt) re-balance the
# mix; epochs_milli > 1000 means the source repeats (upsampled), < 1000
# means it is subsampled. sqrt terms are summed as DECIMAL so the
# normalizer is independent of summation order on both engines; every
# published number is a floor of an identically-computed double.
# ---------------------------------------------------------------------------


@query(
    "epoch_plan",
    f"""
WITH sized AS (
    SELECT source, len({_TOKS}) AS nt FROM documents
), per_src AS (
    SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM sized GROUP BY source
), keyed AS (
    SELECT source, n_tokens,
           CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,12)) AS sq
    FROM per_src
), tot AS (
    SELECT CAST(sum(sq) AS DOUBLE) AS z,
           CAST(sum(n_tokens) AS BIGINT) AS budget
    FROM keyed
)
SELECT source, n_tokens,
       CAST(floor(CAST(sq AS DOUBLE) / z * 1000000.0) AS BIGINT)
           AS weight_ppm,
       CAST(floor(CAST(sq AS DOUBLE) / z * budget) AS BIGINT)
           AS target_tokens,
       CAST(floor(CAST(sq AS DOUBLE) / z * budget / n_tokens * 1000.0)
            AS BIGINT) AS epochs_milli
FROM keyed CROSS JOIN tot
""",
)
def epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", T.token_count("text").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    keyed = per_src.withColumn(
        "sq", F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(38,12)")
    )
    tot = keyed.agg(
        F.sum("sq").cast("double").alias("z"),
        F.sum("n_tokens").cast("long").alias("budget"),
    )
    ratio = F.col("sq").cast("double") / F.col("z")
    return keyed.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.floor(ratio * 1000000.0).cast("long").alias("weight_ppm"),
        F.floor(ratio * F.col("budget")).cast("long").alias("target_tokens"),
        F.floor(ratio * F.col("budget") / F.col("n_tokens") * 1000.0)
        .cast("long")
        .alias("epochs_milli"),
    )


@query(
    "token_budget_mixture",
    f"""
WITH sized AS (
    SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
), sums AS (
    SELECT source, sum(n_tokens) AS t_s FROM sized GROUP BY source
), tot AS (
    SELECT CAST(sum(t_s) AS DOUBLE) AS t_total,
           sum(pow(CAST(t_s AS DOUBLE), 0.7)) AS z
    FROM sums
), probs AS (
    SELECT source,
           CAST(floor(least(1.0,
                pow(CAST(t_s AS DOUBLE), 0.7) / z * 0.5 * t_total
                / CAST(t_s AS DOUBLE)) * {float(1 << 28)!r}) AS BIGINT)
               AS thr
    FROM sums CROSS JOIN tot
)
SELECT d.doc_id, d.source, d.n_tokens
FROM sized d
JOIN probs p ON p.source = d.source
WHERE CAST('0x' || substr(md5('tokmix:' || CAST(d.doc_id AS VARCHAR)), 1, 7)
           AS BIGINT) < p.thr
""",
)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.pipeline import (
        token_budget_mixture as _tbm,
    )

    docs = _load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", T.token_count("text").alias("n_tokens")
    )
    return _tbm(sized, "doc_id", "source", "n_tokens")


# ---------------------------------------------------------------------------
# k-NN label transfer: classify each query document by majority vote of
# its 5 nearest embedding neighbors' labels — the standard NN-classifier
# pattern for propagating quality/domain labels from a labeled seed set.
# Deterministic tie-breaks: neighbor rank ties on id (inherited from
# ann_cosine_topk); vote ties on the lexicographically smaller label.
# ---------------------------------------------------------------------------


@query(
    "knn_label_transfer",
    f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
nn AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM q JOIN embeddings c ON q.vec_id != c.vec_id
    ) WHERE rnk <= 5
), votes AS (
    SELECT nn.query_id, d.lang, count(*) AS n_votes
    FROM nn JOIN documents d ON d.doc_id = nn.neighbor_id
    GROUP BY nn.query_id, d.lang
), best AS (
    SELECT query_id, lang AS lang_pred FROM (
        SELECT query_id, lang,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY n_votes DESC, lang
               ) AS rn
        FROM votes
    ) WHERE rn = 1
)
SELECT b.query_id AS vec_id, d.lang AS lang_true, b.lang_pred
FROM best b
JOIN documents d ON d.doc_id = b.query_id
""",
)
def knn_label_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    nn = S.brute_force_topk(queries, emb, k=5).select(
        "query_id", "neighbor_id"
    )
    votes = (
        nn.join(
            F.broadcast(docs.withColumnRenamed("doc_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    best = (
        votes.groupBy("query_id")
        .agg(F.min(F.struct(-F.col("n_votes"), F.col("lang"))).alias("b"))
        .select("query_id", F.col("b.lang").alias("lang_pred"))
    )
    return (
        best.join(
            F.broadcast(docs.withColumnRenamed("doc_id", "query_id")),
            "query_id",
        )
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("lang").alias("lang_true"),
            "lang_pred",
        )
    )


def _knn_accuracy_sql() -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    return f"""
WITH t AS ({ORACLES["knn_label_transfer"]})
SELECT count(*) AS n_queries,
       CAST(sum(CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(round(CAST(
           sum(CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE)
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS accuracy
FROM t
"""


@query("knn_accuracy", _knn_accuracy_sql())
def knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval companion to knn_label_transfer: overall accuracy
    of the 5-NN majority-vote label against the true label — the one-row
    metric that tells a curation pipeline whether NN label propagation is
    trustworthy enough to filter on."""
    t = knn_label_transfer(spark, sf_dir)
    correct = (F.col("lang_true") == F.col("lang_pred")).cast("long")
    return t.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(correct).alias("n_correct"),
        F.round(
            (F.sum(correct) / F.count(F.lit(1))).cast("decimal(38,10)"), 6
        )
        .cast("double")
        .alias("accuracy"),
    )


@query(
    "media_dedup",
    """
WITH media AS (
    SELECT doc_id, md5(text) AS digest FROM documents
)
SELECT digest, min(doc_id) AS keep_id, count(*) AS n_copies
FROM media GROUP BY digest
""",
)
def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the synthetic media corpus: the digest lives in
    the metadata struct, so the payload column is pruned before the
    shuffle (pinned by tests/test_plans.py metadata-pruning test)."""
    docs = _load(spark, sf_dir, "documents")
    return M.media_dedup(M.synthetic_media(docs))


# ---------------------------------------------------------------------------
# Perceptual-hash media near-dup: aHash over payload byte chunks (the
# media analogue of simhash; with a real codec the chunks are downscaled
# pixel means) + the shared pigeonhole Hamming blocking. The corpus is
# augmented with exact re-uploads so distance-0 pairs exist; the hash is
# pure integer math, so the whole composition is value-checkable (payload
# = utf-8 text bytes, ASCII-verified on both engines so codepoint == byte).
# ---------------------------------------------------------------------------


@query(
    "media_phash_pairs",
    """
WITH aug AS (
    SELECT doc_id, text FROM documents
    WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0 AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
), bytes AS (
    SELECT doc_id, (i - 1) AS pos, unicode(substr(text, i, 1)) AS b,
           length(text) AS n
    FROM aug, unnest(generate_series(1, length(text))) AS t(i)
), chunks AS (
    SELECT doc_id, (pos * 32) // n AS cj,
           sum(b) AS csum, count(*) AS clen
    FROM bytes GROUP BY doc_id, (pos * 32) // n
), totals AS (
    SELECT doc_id, sum(b) AS total, max(n) AS n
    FROM bytes GROUP BY doc_id
), hashes AS (
    SELECT c.doc_id,
           CAST(sum(CASE WHEN c.csum * t.n > t.total * c.clen
                         THEN CAST(pow(2, c.cj) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS phash
    FROM chunks c JOIN totals t USING (doc_id)
    GROUP BY c.doc_id
), banded AS (
    SELECT doc_id, phash, g.band, (phash >> (g.band * 8)) & 255 AS band_val
    FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) g
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.phash AS pa, b.phash AS pb
    FROM banded a
    JOIN banded b
      ON a.band = b.band AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(pa, pb)) <= 3
""",
)
def media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents").filter(
        ~F.col("text").rlike("[^\\x00-\\x7F]")
    )
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    media = M.synthetic_media(aug)
    fps = M.media_phash(media, "doc_id", bits=32)
    # opt past the saturation guard: probing fps would re-run the phash
    # aggregation, and this oracle fixture pins the 32-bit geometry
    return D.hamming_pairs(
        fps, "doc_id", "phash", bits=32, bands=4, max_hamming=3,
        allow_saturated_bands=True,
    )


# ---------------------------------------------------------------------------
# Sparse lexical retrieval — Okapi BM25 top-k. The lexical complement of
# the dense-ANN family: tf takes one shuffle, df/corpus stats broadcast,
# the query side is constant-sized, and top-k runs the two-phase prune
# (operators/retrieval.py). Scores round to 6 decimals BEFORE ranking so
# both engines rank identical values.
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import retrieval as RT
from kafka_stream_unify_order_messages_spark.operators import graph as G

BM25_QUERIES = [
    ("q1", "spark stream join window"),
    ("q2", "table scan fast filter"),
    ("q3", "customer order value"),
    ("q4", "hash merge sort batch"),
    ("q5", "row group agg column"),
]

_BM25_VALUES = ", ".join(f"('{qid}', '{q}')" for qid, q in BM25_QUERIES)
# constants interpolated from the same Python doubles the Spark side uses,
# so both engines parse bit-identical literals
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_SQL = f"""
WITH q(query_id, query) AS (VALUES {_BM25_VALUES}),
qt AS (
    SELECT query_id,
           unnest(list_distinct(regexp_split_to_array(trim(lower(query)),
                                                      '\\s+'))) AS token
    FROM q
), toks AS (
    SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS token
    FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS tf, min(dl) AS dl
    FROM toks GROUP BY doc_id, token
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len({_TOKS})) AS avgdl
    FROM documents
), df AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
), scored AS (
    SELECT qt.query_id, tf.doc_id,
           round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0!r})
               / (tf + {_BM25_K1!r}
                  * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))
           ), 6) AS score
    FROM tf
    JOIN qt ON qt.token = tf.token
    JOIN df ON df.token = tf.token
    CROSS JOIN stats
    GROUP BY qt.query_id, tf.doc_id
)
SELECT query_id, doc_id, rank, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS rank
    FROM scored
) WHERE rank <= 10
"""


@query("bm25_topk", _BM25_SQL)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(BM25_QUERIES, ["query_id", "query"])
    return RT.bm25_topk(docs, queries, k=10, k1=_BM25_K1, b=_BM25_B)


# ---------------------------------------------------------------------------
# Hashing-trick linear quality classifier (fastText-scorer shape): token
# -> md5 feature bucket -> deterministic weight -> mean logit -> sigmoid.
# Scan-local, zero shuffles, zero UDFs — the classifier every production
# corpus filter runs, with md5-derived weights standing in for trained
# ones so the whole mechanism is value-checked against DuckDB.
# ---------------------------------------------------------------------------

_QC_W = (
    "((CAST('0x' || substr(md5('qcw|' || CAST("
    "CAST('0x' || substr(md5('qc|' || t), 1, 15) AS BIGINT) % 1024"
    " AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000) / 1000.0"
)


@query(
    "quality_classifier",
    f"""
WITH scored AS (
    SELECT doc_id,
           CASE WHEN len({_TOKS}) > 0
                THEN list_sum(list_transform({_TOKS}, t -> {_QC_W}))
                     / CAST(len({_TOKS}) AS DOUBLE) * 4.0
                ELSE 0.0 END AS logit,
           length(trim(text)) > 0 AS nonblank
    FROM documents
), probs AS (
    SELECT doc_id,
           CASE WHEN nonblank
                THEN round(1.0 / (1.0 + exp(-logit)), 6)
                ELSE 0.5 END AS qc_score
    FROM scored
)
SELECT doc_id, qc_score,
       CAST(CASE WHEN qc_score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM probs
""",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.quality_classifier_score("text").alias("qc_score"),
    ).withColumn(
        "keep",
        F.when(F.col("qc_score") >= 0.5, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling weights (Xie et al. 2023): per-document
# log-likelihood ratio of a target-domain hashed-unigram LM vs the raw
# corpus LM. The model state is one BUCKET-sized count table (broadcast),
# so selection scales linearly in corpus size. Target domain here:
# sources src0-src4 (the "curated quarter" of the synthetic crawl).
# ---------------------------------------------------------------------------

_DSIR_TARGET_SQL = "source IN ('src0', 'src1', 'src2', 'src3', 'src4')"


@query(
    "dsir_weights",
    f"""
WITH toks AS (
    SELECT doc_id, {_DSIR_TARGET_SQL} AS tgt,
           CAST('0x' || substr(md5('dsir|' || token), 1, 15) AS BIGINT)
               % 512 AS bucket
    FROM (SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents)
), counts AS (
    SELECT bucket,
           sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
           count(*) AS cr
    FROM toks GROUP BY bucket
), totals AS (
    SELECT CAST(sum(ct) AS DOUBLE) AS tt, CAST(sum(cr) AS DOUBLE) AS tr
    FROM counts
), probs AS (
    SELECT bucket,
           ln((ct + 0.5) / (tt + 256.0)) - ln((cr + 0.5) / (tr + 256.0))
               AS llr
    FROM counts CROSS JOIN totals
)
SELECT doc_id, count(*) AS n_tokens, round(sum(llr), 6) AS log_weight
FROM toks JOIN probs USING (bucket)
GROUP BY doc_id
""",
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return P.dsir_log_weights(
        docs,
        is_target=F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup candidate graph: node importance on the
# minhash-LSH pair graph — the signal a curation pipeline uses to pick
# canonical cluster representatives or weight heavily-duplicated sources.
# Spark side is the Pregel-style loop (operators/graph.py, one join + one
# agg per iteration, localCheckpoint lineage truncation); the oracle
# unrolls the same 5 power iterations as chained CTEs.
# ---------------------------------------------------------------------------

def _pagerank_sql(iterations: int = 5) -> str:
    jump = repr(1.0 - 0.85)  # same Python double the Spark side uses
    parts = [
        f"WITH pairs AS ({_PAIRS_SQL})",
        """edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
)""",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "n AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS nn FROM edges)",
        """r0 AS (
    SELECT DISTINCT src AS node, 1.0 / nn AS r FROM edges CROSS JOIN n
)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
    SELECT e.dst AS node, {jump} / nn + 0.85 * sum(p.r / d.outdeg) AS r
    FROM edges e
    JOIN r{i - 1} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    CROSS JOIN n
    GROUP BY e.dst, nn
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node AS doc_id, round(r, 6) AS pagerank FROM r{iterations}"
    )


@query("pagerank_dup_graph", _pagerank_sql(5))
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(docs, num_hashes=16, bands=4, shingle_n=3)
    pr = G.pagerank(G.symmetrize(pairs), iterations=5, damping=0.85)
    return pr.select(F.col("node").alias("doc_id"), "pagerank")


# ---------------------------------------------------------------------------
# Substring-level dedup REWRITE: remove every token position covered by a
# 5-gram occurrence that is not the gram's canonical (minimum (doc, pos))
# corpus occurrence — the removal step of exact substring dedup, on top of
# the profiling that dup_ngram_spans reports. Canonical keys encode as
# doc*1e6+pos so both engines take the same window minimum.
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import sketches as SK


@query(
    "dup_span_removal",
    f"""
WITH toked AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), positions AS (
    SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos
    FROM toked WHERE len(toks) >= 5
), occs AS (
    SELECT doc_id, pos,
           CAST('0x' || substr(md5(array_to_string(toks[pos:pos+4], ' ')),
                               1, 15) AS BIGINT) AS gh
    FROM positions
), flagged AS (
    SELECT doc_id, pos,
           doc_id * 1000000 + pos AS okey,
           min(doc_id * 1000000 + pos) OVER (PARTITION BY gh) AS first_key,
           count(*) OVER (PARTITION BY gh) AS n_occ
    FROM occs
), rem AS (
    SELECT DISTINCT doc_id, rpos FROM (
        SELECT doc_id, unnest(range(pos, pos + 5)) AS rpos
        FROM flagged WHERE n_occ >= 2 AND okey <> first_key
    )
), rem_agg AS (
    SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id
), stream AS (
    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM toked
), kept AS (
    SELECT s.doc_id, s.i, s.toks[s.i] AS tok
    FROM stream s
    LEFT JOIN rem r ON r.doc_id = s.doc_id AND r.rpos = s.i
    WHERE r.doc_id IS NULL
), cleaned AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_removed,
       coalesce(c.cleaned_text, '') AS cleaned_text
FROM toked t
LEFT JOIN rem_agg ra ON ra.doc_id = t.doc_id
LEFT JOIN cleaned c ON c.doc_id = t.doc_id
""",
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(docs, n=5)


# ---------------------------------------------------------------------------
# Count-min sketch accuracy: every distinct token's CMS estimate next to
# its exact count, with the (always >= 0) overcount as a built-in audit.
# The sketch is md5-rowed so DuckDB reproduces every cell — the sketch
# path a 100 TB pipeline swaps in for exact counting, value-checked.
# ---------------------------------------------------------------------------


@query(
    "cms_token_error",
    f"""
WITH counts AS (
    SELECT token, count(*) AS exact_count
    FROM (SELECT unnest({_TOKS}) AS token FROM documents)
    GROUP BY token
), expand AS (
    SELECT token, exact_count, unnest(range(0, 4)) AS r FROM counts
), hashed AS (
    SELECT token, exact_count, r,
           CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '|'
                                   || token), 1, 15) AS BIGINT) % 256
               AS bucket
    FROM expand
), cells AS (
    SELECT r, bucket, CAST(sum(exact_count) AS BIGINT) AS cell
    FROM hashed GROUP BY r, bucket
)
SELECT h.token, h.exact_count,
       min(c.cell) AS cms_estimate,
       CAST(min(c.cell) - h.exact_count AS BIGINT) AS overcount
FROM hashed h
JOIN cells c ON c.r = h.r AND c.bucket = h.bucket
GROUP BY h.token, h.exact_count
""",
)
def cms_token_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return SK.cms_estimate_error(docs)


# ---------------------------------------------------------------------------
# HyperLogLog accuracy per source: the portable md5-rowed HLL estimate of
# distinct tokens next to the exact distinct count. The register table is
# at most 256 rows per source no matter how many tokens stream through —
# the sketch a 100 TB pipeline uses instead of count(DISTINCT).
# ---------------------------------------------------------------------------

_HLL_AM2 = repr(SK.HLL_ALPHA * SK.HLL_BUCKETS * SK.HLL_BUCKETS)


@query(
    "hll_source_distinct",
    f"""
WITH toks AS (
    SELECT source, unnest({_TOKS}) AS token FROM documents
), hashed AS (
    SELECT source, h % 256 AS bucket, h >> 8 AS w
    FROM (
        SELECT source,
               CAST('0x' || substr(md5('hll|' || token), 1, 15) AS BIGINT)
                   AS h
        FROM toks
    )
), regs AS (
    SELECT source, bucket,
           max(CASE WHEN w = 0 THEN 53
                    ELSE 53 - length(bin(w)) END) AS m
    FROM hashed GROUP BY source, bucket
), per AS (
    SELECT source, sum(pow(2.0, -m)) AS s_present, count(*) AS n_present
    FROM regs GROUP BY source
), est AS (
    SELECT source, n_present,
           CASE WHEN {_HLL_AM2}
                     / (s_present + CAST(256 - n_present AS DOUBLE))
                     <= 640.0
                     AND (256 - n_present) > 0
                THEN 256.0 * ln(256.0 / (256 - n_present))
                ELSE {_HLL_AM2}
                     / (s_present + CAST(256 - n_present AS DOUBLE)) END
               AS e
    FROM per
), ex AS (
    SELECT source, count(DISTINCT token) AS exact_distinct
    FROM toks GROUP BY source
)
SELECT ex.source, ex.exact_distinct,
       est.n_present AS n_registers,
       round(est.e, 6) AS hll_estimate,
       round((round(est.e, 6) - exact_distinct)
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
FROM ex JOIN est ON est.source = ex.source
""",
)
def hll_source_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(T.tokens("text")).alias("token"))
    exact = toks.groupBy("source").agg(
        F.count_distinct("token").alias("exact_distinct")
    )
    est = SK.hll_distinct_per_group(toks, "source", "token")
    return exact.join(est, "source").select(
        "source",
        "exact_distinct",
        "n_registers",
        "hll_estimate",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# KMV bottom-k sketch: pairwise cross-source 3-gram-shingle overlap
# (the content-duplication / contamination signal between corpus
# sources). Intersection is the one distinct-set question HLL cannot
# answer — here estimated from <= k retained hashes per source and
# audited against the exact pairwise Jaccard/union/intersection (the
# shingle-set-sized computation the sketch replaces at 100 TB). Shingles
# (~10k distinct per source here) rather than raw tokens, so the k=256
# sketch is a genuine approximation, not a disguised exact set.
# ---------------------------------------------------------------------------

_KMV_SCALE = repr((SK.KMV_K - 1) * SK.KMV_SPACE)


@query(
    "kmv_source_overlap",
    f"""
WITH sh AS (
    SELECT source, unnest({_SHINGLES}) AS item FROM documents
), hashed AS (
    SELECT DISTINCT source,
           CAST('0x' || substr(md5('kmv|' || item), 1, 15) AS BIGINT) AS h
    FROM sh
), sk AS (
    SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed
    ) WHERE rn <= {SK.KMV_K}
), grps AS (
    SELECT DISTINCT source FROM documents
), pairs AS (
    SELECT a.source AS ga, b.source AS gb
    FROM grps a JOIN grps b ON a.source < b.source
), member AS (
    SELECT p.ga, p.gb, s.h,
           max(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN sk s ON s.source = p.ga OR s.source = p.gb
    GROUP BY p.ga, p.gb, s.h
), u AS (
    SELECT ga, gb, h, in_a, in_b FROM (
        SELECT ga, gb, h, in_a, in_b,
               row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        FROM member
    ) WHERE rn <= {SK.KMV_K}
), est AS (
    SELECT ga, gb, count(*) AS n_u, max(h) AS h_max,
           CAST(sum(in_a * in_b) AS BIGINT) AS matches
    FROM u GROUP BY ga, gb
), sets AS (
    SELECT DISTINCT source AS g, item FROM sh
), sizes AS (
    SELECT g, count(*) AS n FROM sets GROUP BY g
), inter0 AS (
    SELECT a.g AS ga, b.g AS gb, count(*) AS n_inter
    FROM sets a JOIN sets b ON a.item = b.item AND a.g < b.g
    GROUP BY a.g, b.g
), inter AS (
    -- LEFT from the pair grid: zero-intersection pairs still report
    SELECT p.ga, p.gb, coalesce(i.n_inter, 0) AS exact_inter
    FROM pairs p LEFT JOIN inter0 i ON i.ga = p.ga AND i.gb = p.gb
)
SELECT e.ga AS group_a, e.gb AS group_b,
       round(e.matches / CAST(e.n_u AS DOUBLE), 6) AS kmv_jaccard,
       round(i.exact_inter
             / CAST(sa.n + sb.n - i.exact_inter AS DOUBLE), 6)
           AS exact_jaccard,
       round(CASE WHEN e.n_u < {SK.KMV_K} THEN CAST(e.n_u AS DOUBLE)
                  ELSE {_KMV_SCALE} / e.h_max END, 6) AS kmv_union_est,
       CAST(sa.n + sb.n - i.exact_inter AS BIGINT) AS exact_union,
       round((e.matches / CAST(e.n_u AS DOUBLE))
             * CASE WHEN e.n_u < {SK.KMV_K} THEN CAST(e.n_u AS DOUBLE)
                    ELSE {_KMV_SCALE} / e.h_max END, 6) AS kmv_inter_est,
       CAST(i.exact_inter AS BIGINT) AS exact_inter
FROM est e
JOIN inter i ON i.ga = e.ga AND i.gb = e.gb
JOIN sizes sa ON sa.g = e.ga
JOIN sizes sb ON sb.g = e.gb
""",
)
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    toked = docs.select("source", T.tokens("text").alias("_toks"))
    sh = toked.select(
        "source",
        F.explode(D.shingles_from_tokens(F.col("_toks"), 3)).alias("shingle"),
    )
    return SK.kmv_pair_overlap(sh, "source", "shingle")


# ---------------------------------------------------------------------------
# Deterministic masked-LM corruption (BERT-style): seeded md5 draw per
# (doc, position) decides each token's fate, so the augmentation is
# bit-reproducible across reruns/backfills — the property that makes
# corpus corruption auditable at scale. Scan-local; zero shuffles.
# ---------------------------------------------------------------------------


@query(
    "mlm_token_mask",
    f"""
WITH toked AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), paired AS (
    SELECT doc_id, len(toks) AS n_tokens,
           list_transform(
               generate_series(1, len(toks)),
               i -> struct_pack(
                   pos := i,
                   tok := toks[i],
                   masked := CAST('0x' || substr(
                       md5('mask42:' || CAST(doc_id AS VARCHAR)
                           || ':' || CAST(i AS VARCHAR)), 1, 7)
                       AS BIGINT) % 10000 < 1500)
           ) AS p
    FROM toked
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(list_filter(p, s -> s.masked)) AS BIGINT) AS n_masked,
       array_to_string(list_transform(
           p, s -> CASE WHEN s.masked THEN '[MASK]' ELSE s.tok END), ' ')
           AS masked_text,
       coalesce(array_to_string(list_transform(
           list_filter(p, s -> s.masked),
           s -> CAST(s.pos AS VARCHAR) || ':' || s.tok), ' '), '')
           AS targets
FROM paired
""",
)
def mlm_token_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import (
        curation as CU,
    )

    docs = _load(spark, sf_dir, "documents")
    return CU.deterministic_token_mask(docs, rate_bp=1500, seed="mask42")


# ---------------------------------------------------------------------------
# T5-style span corruption: seeded span starts, overlapping spans merge,
# each masked run collapses to one <extra_id_k> sentinel in the input
# while the target spells the hidden tokens — the denoising-objective
# (input, target) pair, bit-reproducible like mlm_token_mask. The Spark
# side is one scan-local fold; the oracle states the identical
# semantics relationally (explode -> windowed mask -> gaps-and-islands
# -> ordered string_agg), so the hash match proves the two
# formulations equivalent.
# ---------------------------------------------------------------------------


@query(
    "t5_span_corruption",
    f"""
WITH toked AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), pos AS (
    SELECT doc_id, len(toks) AS n_tokens, i, toks[i] AS tok,
           CAST('0x' || substr(
               md5('t5span:' || CAST(doc_id AS VARCHAR)
                   || ':' || CAST(i AS VARCHAR)), 1, 7)
               AS BIGINT) % 10000 < 500 AS is_seed
    FROM toked, unnest(generate_series(1, len(toks))) t(i)
), flags AS (
    SELECT *, bool_or(is_seed) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
    FROM pos
), runs AS (
    SELECT *, CASE WHEN m AND NOT coalesce(
                  lag(m) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
              THEN 1 ELSE 0 END AS run_start
    FROM flags
), ks AS (
    SELECT *, sum(run_start) OVER (
                  PARTITION BY doc_id ORDER BY i) - 1 AS k
    FROM runs
), pieces AS (
    SELECT doc_id, n_tokens, i, k,
           CASE WHEN m AND run_start = 1
                THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                WHEN m THEN NULL
                ELSE tok END AS src_piece,
           CASE WHEN run_start = 1
                THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' || ' ' || tok
                WHEN m THEN tok
                ELSE NULL END AS tgt_piece
    FROM ks
)
SELECT doc_id,
       CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(k) + 1 AS BIGINT) AS n_spans,
       coalesce(string_agg(src_piece, ' ' ORDER BY i), '')
           AS corrupted_text,
       coalesce(string_agg(tgt_piece, ' ' ORDER BY i), '')
           AS target_text
FROM pieces GROUP BY doc_id
""",
)
def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import (
        curation as CU,
    )

    docs = _load(spark, sf_dir, "documents")
    return CU.span_corruption(
        docs, rate_bp=500, span_len=3, seed="t5span"
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding standardization (whitening-lite before ANN):
# corpus-wide mean/std per dimension, z-scores back onto every vector.
# ---------------------------------------------------------------------------


@query(
    "embedding_standardize",
    """
WITH ex AS (
    SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS x
    FROM embeddings, unnest(generate_series(1, 64)) t(i)
), stats AS (
    SELECT dim, avg(x) AS mu,
           sqrt(avg(x * x) - avg(x) * avg(x)) AS sd
    FROM ex GROUP BY dim
)
SELECT e.vec_id, CAST(e.dim AS BIGINT) AS dim,
       round((e.x - s.mu) / s.sd, 6) AS z
FROM ex e JOIN stats s USING (dim)
""",
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return S.standardize_embeddings(emb, dim=64)


# ---------------------------------------------------------------------------
# Caption-embedding pair filter (the LAION-style multimodal pre-screen):
# each document joins its vector 1:1, and a pair survives only if the
# caption is long enough and the embedding norm sits inside the exact
# [p01, p99] corpus band (degenerate/exploded vectors out). The kept
# flag plus a drop reason per pair — the audit columns a curation run
# reports. One equi-join + a 1-row percentile frame broadcast back.
# ---------------------------------------------------------------------------


@query(
    "caption_pair_filter",
    f"""
WITH pairs AS (
    SELECT d.doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           round(sqrt(list_dot_product(
               e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS nrm
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), band AS (
    SELECT quantile_cont(nrm, 0.01) AS p01,
           quantile_cont(nrm, 0.99) AS p99
    FROM pairs
)
SELECT p.doc_id, p.n_tokens, p.nrm,
       CASE WHEN p.n_tokens < 5 THEN 'caption_too_short'
            WHEN p.nrm < b.p01 THEN 'norm_low'
            WHEN p.nrm > b.p99 THEN 'norm_high'
            END AS drop_reason,
       (p.n_tokens >= 5 AND p.nrm >= b.p01 AND p.nrm <= b.p99) AS keep
FROM pairs p, band b
""",
)
def caption_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.vectors import norm

    docs = _load(spark, sf_dir, "documents")
    emb = _load(spark, sf_dir, "embeddings")
    pairs = docs.join(
        emb, docs["doc_id"] == emb["vec_id"]
    ).select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.round(norm("embedding"), 6).alias("nrm"),
    )
    # feeds both the band aggregate and the output projection; persist so
    # the regex tokenization + norm fold run once, not once per consumer
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    band = pairs.agg(
        F.expr("percentile(nrm, 0.01)").alias("p01"),
        F.expr("percentile(nrm, 0.99)").alias("p99"),
    )
    out = pairs.crossJoin(F.broadcast(band))
    return out.select(
        "doc_id",
        "n_tokens",
        "nrm",
        F.when(F.col("n_tokens") < 5, F.lit("caption_too_short"))
        .when(F.col("nrm") < F.col("p01"), F.lit("norm_low"))
        .when(F.col("nrm") > F.col("p99"), F.lit("norm_high"))
        .alias("drop_reason"),
        (
            (F.col("n_tokens") >= 5)
            & (F.col("nrm") >= F.col("p01"))
            & (F.col("nrm") <= F.col("p99"))
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining: for every query vector, its top-3
# most-similar vectors with a DIFFERENT label — the negatives that sit
# closest to the decision boundary, which is exactly what contrastive /
# metric-learning training wants paired with each anchor. One
# brute-force pass per label stratum (10 labels -> 10 broadcast-sized
# query groups against label-pruned corpus slices, unioned); scores and
# ranking reuse the ann machinery, so every per-partition GEMM still
# prunes to batch-local top-k before the one ranking shuffle.
# ---------------------------------------------------------------------------


@query(
    "hard_negative_mining",
    f"""
WITH q AS (
    SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 = 0
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS} AS score
    FROM q JOIN embeddings c
      ON q.vec_id != c.vec_id AND q.label != c.label
)
SELECT query_id, neighbor_id, score, rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
)
WHERE rnk <= 3
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # ONE corpus pass: label-matched pairs are masked inside the GEMM
    # kernel exactly like self-pairs (exclude_same_col), instead of one
    # label-stratified pass per label (measured 4.6 s -> ~0.7 s)
    return S.brute_force_topk(
        queries, emb, k=3, exclude_same_col="label"
    )


# ---------------------------------------------------------------------------
# Power-law tail fit (Hill estimator) over shingle frequencies: alpha =
# 1 + n / sum(ln(c/xmin)) for counts >= xmin (the exact p90 of the
# count distribution). Token/shingle/degree distributions being heavy-
# tailed is WHY dedup banding, per-group caps, and skew salting exist;
# this measures the exponent those designs assume. Everything after the
# one (shingle -> count) shuffle is count-distribution-sized.
# ---------------------------------------------------------------------------


@query(
    "powerlaw_fit",
    f"""
WITH sh AS (
    SELECT unnest({_SHINGLES}) AS shingle FROM documents
), counts AS (
    SELECT shingle, count(*) AS c FROM sh GROUP BY shingle
), cut AS (
    SELECT quantile_cont(c, 0.9) AS xmin FROM counts
), tail AS (
    SELECT c, (SELECT xmin FROM cut) AS xmin
    FROM counts WHERE c >= (SELECT xmin FROM cut)
)
SELECT CAST(count(*) AS BIGINT) AS n_tail,
       round(any_value(xmin), 4) AS xmin,
       round(1.0 + count(*) / sum(ln(c / xmin)), 4) AS alpha,
       CAST((SELECT count(*) FROM counts) AS BIGINT) AS n_distinct
FROM tail
""",
)
def powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    toked = docs.select(T.tokens("text").alias("_toks"))
    sh = toked.select(
        F.explode(D.shingles_from_tokens(F.col("_toks"), 3)).alias("shingle")
    )
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    cut = counts.agg(F.expr("percentile(c, 0.9)").alias("xmin"))
    n_distinct = counts.agg(F.count(F.lit(1)).alias("n_distinct"))
    tail = counts.crossJoin(F.broadcast(cut)).filter(
        F.col("c") >= F.col("xmin")
    )
    return (
        tail.agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.round(F.first("xmin"), 4).alias("xmin"),
            F.round(
                1.0
                + F.count(F.lit(1))
                / F.sum(F.log(F.col("c") / F.col("xmin"))),
                4,
            ).alias("alpha"),
        )
        .crossJoin(F.broadcast(n_distinct))
        .select("n_tail", "xmin", "alpha", F.col("n_distinct").cast("long"))
    )
