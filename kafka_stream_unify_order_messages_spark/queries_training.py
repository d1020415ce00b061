"""Corpus-curation queries: deterministic shuffle-sharding, reproducible
sampling, context-window chunking, and substring-level duplication
profiling — the training-set-preparation layer over the `documents` table.

The reference has no batch corpus surface (SURVEY.md §2.6); these extend
the engine per the north star. Every query is value-checked against a
DuckDB oracle via the portable md5 hash convention (functions.text.hex_hash64).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kafka_stream_unify_order_messages_spark.registry import query
from kafka_stream_unify_order_messages_spark.sources.files import (
    cached,
    load_table,
)
from kafka_stream_unify_order_messages_spark.operators import curation as C
from kafka_stream_unify_order_messages_spark.operators import dedup as D

_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(
        spark, sf_dir, name,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle into shards (terasort shape: hash-bucket
# exchange + local sort; no global window anywhere)
# ---------------------------------------------------------------------------


@query(
    "training_shuffle",
    """
WITH keyed AS (
    SELECT doc_id, md5('seed42:' || CAST(doc_id AS VARCHAR)) AS rk
    FROM documents
), sharded AS (
    SELECT doc_id, rk,
           CAST('0x' || substr(rk, 1, 7) AS BIGINT) % 32 AS shard
    FROM keyed
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY rk) AS pos
FROM sharded
""",
)
def training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load: only doc_id is read and the hash is cheap — the CPU
    # rebalance repartition would be a pure extra exchange here
    docs = load_table(spark, sf_dir, "documents")
    return C.training_shuffle(docs, id_col="doc_id", n_shards=32, seed="seed42")


# ---------------------------------------------------------------------------
# Reproducible hash sampling (scan-local filter; per-source acceptance
# stats as the checkable aggregate)
# ---------------------------------------------------------------------------


@query(
    "hash_sample_stats",
    """
WITH keyed AS (
    SELECT source, n_chars,
           CAST('0x' || substr(md5('sample42:' || CAST(doc_id AS VARCHAR)), 1, 7)
                AS BIGINT) % 10000 AS bucket
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS chars_sampled
FROM keyed
WHERE bucket < 1500
GROUP BY source
""",
)
def hash_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = C.hash_sample(docs, id_col="doc_id", rate_bp=1500, seed="sample42")
    return sampled.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("chars_sampled"),
    )


# ---------------------------------------------------------------------------
# Per-group document cap (Common-Crawl "at most K pages per domain"):
# WindowGroupLimit prunes every group map-side to cap rows before the one
# group-key exchange — a hot domain never lands whole on one reducer.
# ---------------------------------------------------------------------------


@query(
    "per_source_cap",
    """
WITH ranked AS (
    SELECT doc_id, source, lang, n_chars,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap42:' || CAST(doc_id AS VARCHAR))
           ) AS grp_rank
    FROM documents
)
SELECT doc_id, source, lang, n_chars, CAST(grp_rank AS BIGINT) AS grp_rank
FROM ranked
WHERE grp_rank <= 20
""",
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    capped = C.cap_per_group(
        docs, ["source"], id_col="doc_id", cap=20, seed="cap42"
    )
    return capped.withColumn("grp_rank", F.col("grp_rank").cast("long"))


# ---------------------------------------------------------------------------
# Context-window chunking (scan-local: bound token array + slice windows)
# ---------------------------------------------------------------------------


@query(
    "doc_chunking",
    f"""
WITH toked AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), starts AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks), 48)) AS start_pos
    FROM toked
)
SELECT doc_id,
       CAST((start_pos - 1) // 48 AS BIGINT) AS chunk_idx,
       CAST(start_pos AS BIGINT) AS start_pos,
       CAST(len(list_slice(toks, start_pos, start_pos + 63)) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(list_slice(toks, start_pos, start_pos + 63), ' '))
           AS chunk_hash
FROM starts
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return C.chunk_documents(
        docs, id_col="doc_id", text_col="text", chunk_size=64, stride=48
    )


# ---------------------------------------------------------------------------
# Substring-level duplication profile (span dedup approximation)
# ---------------------------------------------------------------------------


@query(
    "dup_ngram_spans",
    f"""
WITH toked AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), grams AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - 4),
               i -> CAST('0x' || substr(
                        md5(array_to_string(list_slice(toks, i, i + 4), ' ')),
                        1, 15) AS BIGINT)
           )) AS gh
    FROM toked WHERE len(toks) >= 5
), per_doc AS (
    SELECT doc_id, gh, count(*) AS c FROM grams GROUP BY doc_id, gh
), totals AS (
    SELECT gh, sum(c) AS total FROM per_doc GROUP BY gh
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN total >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
       round(sum(CASE WHEN total >= 2 THEN c ELSE 0 END)
             / CAST(sum(c) AS DOUBLE), 6) AS dup_frac
FROM per_doc JOIN totals USING (gh)
GROUP BY doc_id
""",
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return D.duplicate_ngram_spans(docs, id_col="doc_id", text_col="text", n=5)


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/tokenizer.py)
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import tokenizer as TK  # noqa: E402


@query(
    "bpe_top_pairs",
    f"""
WITH words AS (
    SELECT unnest({_TOKS}) AS word FROM documents
), wf AS (
    SELECT word, count(*) AS freq FROM words WHERE len(word) >= 1
    GROUP BY word
), pairs AS (
    SELECT unnest(list_transform(
               generate_series(1, len(word) - 1),
               i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1)
           )) AS pair,
           freq
    FROM wf WHERE len(word) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 20
""",
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE round: frequency-weighted adjacent character-pair counts
    over the vocabulary table, top 20. The oracle-checkable core of the
    merge loop (later rounds differ only in merged symbols)."""
    docs = _load(spark, sf_dir, "documents")
    vocab = TK.word_freqs(docs).select(
        "word", F.split("word", "(?!$)").alias("symbols"), "freq"
    )
    return TK.pair_counts(vocab).orderBy(F.desc("cnt"), F.asc("pair")).limit(20)


# train once per dataset and session ("train once, apply many" is the real
# pipeline shape; the cached value is merges only — tiny)
def _learned_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    return cached(
        spark, [f"{sf_dir}/documents.parquet"], ("bpe_merges", 8),
        lambda: TK.learn_bpe(_load(spark, sf_dir, "documents"), n_merges=8)[0],
    )


def _bpe_train_ctes(n_merges: int = 8) -> str:
    """DuckDB CTE chain that LEARNS the BPE merges: n_merges unrolled
    rounds of (pair counts -> argmax -> greedy left-to-right merge apply).
    The greedy apply is a recursive CTE consuming one or two symbols per
    step (string replace on the joined word is NOT equivalent — adjacent
    repeats like [a,a,a,a,a] diverge), so the whole training loop is
    value-checked, not just replayed. MATERIALIZED hints stop DuckDB from
    re-inlining each round's vocab into every downstream reference (which
    re-scans the parquet exponentially). Tie-break matches the operator:
    count desc, then lexicographic on the space-joined pair."""
    parts = [
        f"""
wf AS MATERIALIZED (
    SELECT word, count(*)::BIGINT AS freq
    FROM (SELECT unnest({_TOKS}) AS word FROM documents)
    WHERE len(word) >= 1 GROUP BY word
),
v0 AS MATERIALIZED (
    SELECT word, regexp_extract_all(word, '.') AS s, freq FROM wf
)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
pc{i} AS (
    SELECT s[j] AS a, s[j+1] AS b, sum(freq) AS cnt
    FROM v{i}, unnest(generate_series(1, len(s) - 1)) AS t(j)
    GROUP BY 1, 2
),
top{i} AS MATERIALIZED (
    -- early-stop parity with learn_bpe: no pair with count >= 2 means
    -- training STOPS — emit a NULL sentinel (exactly one row, so the
    -- cross join below never empties the vocab) whose CASE branches are
    -- all false, making every later round a pass-through
    SELECT a, b FROM (
        SELECT a, b FROM pc{i} WHERE cnt >= 2
        ORDER BY cnt DESC, a || ' ' || b LIMIT 1
    )
    UNION ALL
    SELECT NULL::VARCHAR, NULL::VARCHAR
    WHERE NOT EXISTS (SELECT 1 FROM pc{i} WHERE cnt >= 2)
),
st{i} AS (
    SELECT word, freq, s, 1 AS pos, []::VARCHAR[] AS acc FROM v{i}
    UNION ALL
    SELECT word, freq, s,
        CASE WHEN pos < len(s) AND s[pos] = t.a AND s[pos+1] = t.b
             THEN pos + 2 ELSE pos + 1 END,
        CASE WHEN pos < len(s) AND s[pos] = t.a AND s[pos+1] = t.b
             THEN list_append(acc, t.a || t.b)
             ELSE list_append(acc, s[pos]) END
    FROM st{i}, top{i} t WHERE pos <= len(s)
),
v{i+1} AS MATERIALIZED (
    SELECT word, acc AS s, freq FROM st{i} WHERE pos = len(s) + 1
)"""
        )
    return ",".join(parts)


def _bpe_learn_sql(n_merges: int = 8) -> str:
    # sentinel rounds (merge-exhausted corpus) drop out here, matching
    # the operator's shorter merges list on early stop
    sel = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, (SELECT a FROM top{i}) AS sym_a,"
        f" (SELECT b FROM top{i}) AS sym_b"
        for i in range(n_merges)
    )
    return (
        f"WITH RECURSIVE {_bpe_train_ctes(n_merges)}\n"
        f"SELECT rank, sym_a, sym_b FROM ({sel})\n"
        f"WHERE sym_a IS NOT NULL"
    )


def _bpe_segment_sql(n_merges: int = 8) -> str:
    # the final vocab v{n} IS the segmentation of every corpus word
    # (rank-greedy inference == sequential merge replay, the equivalence
    # _replay_vocab relies on), so per-doc stats are a words->v{n} join
    return f"""
WITH RECURSIVE {_bpe_train_ctes(n_merges)},
dw AS (
    SELECT doc_id, unnest(ws) AS word,
           unnest(generate_series(1, len(ws))) AS ord
    FROM (SELECT doc_id, {_TOKS} AS ws FROM documents)
),
agg AS (
    SELECT dw.doc_id,
           count(*)::BIGINT AS n_words,
           sum(len(v{n_merges}.s))::BIGINT AS n_bpe_tokens,
           md5(string_agg(array_to_string(v{n_merges}.s, ' '), ' '
               ORDER BY dw.ord)) AS tokens_hash
    FROM dw JOIN v{n_merges} ON dw.word = v{n_merges}.word
    WHERE len(dw.word) >= 1
    GROUP BY dw.doc_id
)
SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       coalesce(a.tokens_hash, md5('')) AS tokens_hash
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


@query("bpe_learn_merges", _bpe_learn_sql())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight learned merges in training order, strict-oracled: the DuckDB
    side re-learns them from scratch (unrolled pair-count/argmax/greedy-
    apply rounds), so the distributed aggregation AND the merge-apply
    kernel are value-checked end-to-end. tests/test_tokenizer.py holds
    the additional pure-Python oracle."""
    merges = _learned_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank INT, sym_a STRING, sym_b STRING",
    )


@query("bpe_segment_stats", _bpe_segment_sql())
def bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-tokenized with the learned merges: per-doc word/BPE-token
    counts plus a deterministic hash of the segmentation. Strict-oracled
    against the SQL-trained tokenizer's final vocabulary."""
    docs = _load(spark, sf_dir, "documents")
    return TK.bpe_segment(docs, _learned_merges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Incremental near-dup screen: new batch (doc_id >= 250) vs ingested
# corpus (doc_id < 250) via MinHash-LSH band collision
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.queries_llm import _SIGNATURE_SQL  # noqa: E402


@query(
    "incremental_near_dup",
    f"""
WITH sig AS ({_SIGNATURE_SQL}),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig GROUP BY doc_id, seed // 4
),
old_b AS (SELECT DISTINCT band, band_key FROM bands WHERE doc_id < 250),
new_b AS (SELECT doc_id, band, band_key FROM bands WHERE doc_id >= 250)
SELECT DISTINCT n.doc_id FROM new_b n JOIN old_b o USING (band, band_key)
""",
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch ids held back because an LSH band collides with the
    already-ingested corpus (signatures are per-document, so computing
    per split is equivalent to the oracle's whole-corpus signature CTE)."""
    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") >= 250)
    old = docs.filter(F.col("doc_id") < 250)
    return D.near_dup_incremental(new, old, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Arrival-ordered first-wins near-dup verdicts: the BATCH TWIN of the
# streaming operator streaming/dedup_stream.py — per document, is it a
# near-dup of any EARLIER document (doc_id as the arrival sequence), and
# of whom. "Earlier" is resolved per LSH bucket by the bucket's first
# claimant (min doc_id), exactly the exemplar the streaming state keeps;
# tests/test_dedup_stream.py proves the stream emits bit-equal verdicts
# through a real file-source stream. Scale shape: band rows -> one
# groupBy for bucket firsts (AQE-broadcastable: bounded by bucket count)
# -> one join back -> per-doc min. Never pairs.
# ---------------------------------------------------------------------------


@query(
    "near_dup_first_wins",
    f"""
WITH sig AS ({_SIGNATURE_SQL}),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig GROUP BY doc_id, seed // 4
),
firsts AS (
    SELECT band, band_key, min(doc_id) AS first_id
    FROM bands GROUP BY band, band_key
),
j AS (
    SELECT b.doc_id, f.first_id
    FROM bands b JOIN firsts f USING (band, band_key)
)
SELECT doc_id,
       min(first_id) < doc_id AS is_dup,
       CASE WHEN min(first_id) < doc_id THEN min(first_id) END AS dup_of
FROM j GROUP BY doc_id
""",
)
def near_dup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-wins near-dup verdict under arrival order
    (doc_id as seq): is_dup iff some LSH bucket of the document was
    first claimed by an earlier document; dup_of = the smallest such
    exemplar. Semantics-pinning oracle for the streaming dedup operator
    (streaming/dedup_stream.py)."""
    from pyspark import StorageLevel

    docs = _load(spark, sf_dir, "documents")
    # persist the band rows: shingling + 16 minhash mins is the
    # expensive half, and both the bucket-firsts agg and the probe join
    # read it (without the persist the plan runs the scan twice)
    bands = D.minhash_band_keys(
        D.minhash_signatures_wide(docs, "doc_id", "text", 16, 3), "doc_id", 4
    ).persist(StorageLevel.MEMORY_AND_DISK)
    firsts = bands.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("first_id")
    )
    j = bands.join(firsts, ["band", "band_key"])
    mf = F.min("first_id")
    return j.groupBy("doc_id").agg(
        (mf < F.col("doc_id")).alias("is_dup"),
        F.when(mf < F.col("doc_id"), mf).alias("dup_of"),
    )


# ---------------------------------------------------------------------------
# Signature-VERIFIED first-wins near-dup verdicts: batch twin of the
# streaming verified mode (streaming/dedup_stream.py,
# verify_threshold=0.5). A band collision with a bucket's first claimant
# only counts when the estimated jaccard — fraction of equal minhash
# components, an exact k/16 double — clears the threshold, filtering the
# LSH false positives the unverified query admits. best_est reports the
# max estimate vs ANY earlier exemplar, qualifying or not. Scale shape:
# candidates are (doc, bucket-first) pairs — bounded by band rows, never
# all pairs — and the verify is one signature_agreement over the
# persisted signature arrays, not a shingle re-scan.
# ---------------------------------------------------------------------------


@query(
    "near_dup_verified",
    f"""
WITH sig AS ({_SIGNATURE_SQL}),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig GROUP BY doc_id, seed // 4
),
firsts AS (
    SELECT band, band_key, min(doc_id) AS first_id
    FROM bands GROUP BY band, band_key
),
cand AS (
    SELECT DISTINCT b.doc_id, f.first_id
    FROM bands b JOIN firsts f USING (band, band_key)
    WHERE f.first_id < b.doc_id
),
sim AS (
    SELECT c.doc_id, c.first_id,
           sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
               / 16.0 AS est
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_id
    JOIN sig sb ON sb.doc_id = c.first_id AND sb.seed = sa.seed
    GROUP BY c.doc_id, c.first_id
),
agg AS (
    SELECT doc_id,
           max(est) AS best_est,
           min(CASE WHEN est >= 0.5 THEN first_id END) AS dup_of
    FROM sim GROUP BY doc_id
)
SELECT d.doc_id,
       a.dup_of IS NOT NULL AS is_dup,
       a.dup_of,
       a.best_est
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
)
def near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verified near-dup verdict under arrival order: dup
    iff some LSH bucket's first claimant has estimated jaccard >= 0.5
    with the document. Semantics-pinning oracle for the streaming
    verified mode (tests/test_dedup_stream.py proves stream == batch)."""
    from pyspark import StorageLevel

    docs = _load(spark, sf_dir, "documents")
    wide = D.minhash_signatures_wide(docs, "doc_id", "text", 16, 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = D.minhash_band_keys(wide, "doc_id", 4)
    firsts = bands.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("first_id")
    )
    cand = (
        bands.join(firsts, ["band", "band_key"])
        .filter(F.col("first_id") < F.col("doc_id"))
        .select("doc_id", "first_id")
        .distinct()
    )
    a = wide.select("doc_id", F.col("sig").alias("sig_a"))
    b = wide.select(F.col("doc_id").alias("first_id"), F.col("sig").alias("sig_b"))
    sim = (
        cand.join(a, "doc_id")
        .join(b, "first_id")
        .select(
            "doc_id",
            "first_id",
            D.signature_agreement(F.col("sig_a"), F.col("sig_b")).alias("est"),
        )
    )
    agg = sim.groupBy("doc_id").agg(
        F.max("est").alias("best_est"),
        F.min(F.when(F.col("est") >= 0.5, F.col("first_id"))).alias("dup_of"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        "best_est",
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/eval split: reproducible hash split, then QUARANTINE
# every test doc whose LSH band collides with any train doc — the
# "no near-dups across the split boundary" guard an honest eval needs
# (a plain random split leaks every duplicated document's content into
# both sides). Composition of hash_sample's keying + the incremental
# near-dup screen; band keys collapse to distinct buckets before the
# semi join, so the guard costs band-rows, not pairs.
# ---------------------------------------------------------------------------


@query(
    "leakage_safe_split",
    f"""
WITH sig AS ({_SIGNATURE_SQL}),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed))
               AS band_key
    FROM sig GROUP BY doc_id, seed // 4
),
keyed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)),
                               1, 7) AS BIGINT) % 10000 AS bkt
    FROM documents
),
train_ids AS (SELECT doc_id FROM keyed WHERE bkt >= 1000),
test_ids AS (SELECT doc_id FROM keyed WHERE bkt < 1000),
train_b AS (
    SELECT DISTINCT band, band_key
    FROM bands JOIN train_ids USING (doc_id)
),
leaked AS (
    SELECT DISTINCT b.doc_id
    FROM bands b
    JOIN test_ids USING (doc_id)
    JOIN train_b o USING (band, band_key)
)
SELECT doc_id, 'train' AS split FROM train_ids
UNION ALL
SELECT t.doc_id,
       CASE WHEN l.doc_id IS NULL THEN 'test' ELSE 'quarantined' END
           AS split
FROM test_ids t LEFT JOIN leaked l USING (doc_id)
""",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    bkt = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("split42"),
                                  F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    keyed = docs.withColumn("_bkt", bkt)
    train = keyed.filter(F.col("_bkt") >= 1000)
    test = keyed.filter(F.col("_bkt") < 1000)
    leaked = D.near_dup_incremental(
        test, train, id_col="doc_id", text_col="text"
    ).withColumn("_leak", F.lit(1))
    train_out = train.select(
        "doc_id", F.lit("train").alias("split")
    )
    test_out = test.select("doc_id").join(
        F.broadcast(leaked), "doc_id", "left"
    ).select(
        "doc_id",
        F.when(F.col("_leak").isNull(), F.lit("test"))
        .otherwise(F.lit("quarantined"))
        .alias("split"),
    )
    return train_out.unionByName(test_out)


# ---------------------------------------------------------------------------
# Entity-resolution fuzzy join (operators/fuzzy.py): blocked Levenshtein
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators.fuzzy import (  # noqa: E402
    blocked_fuzzy_pairs,
)


@query(
    "fuzzy_customer_pairs",
    """
WITH subset AS (
    SELECT * FROM customer WHERE c_custkey % 3 = 0
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM subset a
JOIN subset b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
  AND levenshtein(a.c_name, b.c_name) <= 2
""",
)
def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical customer names within (nation, segment) blocks —
    the record-linkage candidate join, oracle-checked against DuckDB's
    levenshtein. Bounded to a third of customers (the per-block quadratic
    is the documented cost knob; same precedent as ngram_jaccard_subset)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    )
    return blocked_fuzzy_pairs(
        cust,
        id_col="c_custkey",
        str_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_dist=2,
    )


# ---------------------------------------------------------------------------
# Z-order layout keys (operators/layout.py)
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import layout as L  # noqa: E402

_Z_SQL = L.morton_code_sql("(o_custkey % 65536)", "(o_orderkey % 65536)")


@query(
    "zorder_codes",
    f"""
SELECT o_orderkey, CAST({_Z_SQL} AS BIGINT) AS zcode
FROM orders
""",
)
def zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton interleave of (custkey, orderkey) low bits — the clustering
    key zorder_write lays files out by; pure bit-twiddling codegen."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        L.morton_code(
            F.col("o_custkey") % 65536, F.col("o_orderkey") % 65536
        ).alias("zcode"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff — crawl-to-crawl change detection. The "new" snapshot is
# derived from the corpus inside the query on both sides (every 17th doc
# removed, every 13th changed, every 19th re-added under a new id), so the
# operator has all three statuses to find and the oracle sees the same
# input.
# ---------------------------------------------------------------------------

_NEW_SNAPSHOT = """
SELECT doc_id, text || ' [rev2]' AS text
FROM documents WHERE doc_id % 17 != 0 AND doc_id % 13 = 0
UNION ALL
SELECT doc_id, text FROM documents
WHERE doc_id % 17 != 0 AND doc_id % 13 != 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM documents
WHERE doc_id % 19 = 0
"""


def _derive_new_snapshot(docs: DataFrame) -> DataFrame:
    """The synthetic second crawl shared by snapshot_diff (row-level)
    and table_diff (column-level): every 17th doc removed, every 13th
    revised, every 19th re-added under a new id — matches _NEW_SNAPSHOT
    on the oracle side."""
    kept = docs.filter(F.col("doc_id") % 17 != 0)
    return (
        kept.filter(F.col("doc_id") % 13 == 0)
        .select(
            "doc_id", F.concat(F.col("text"), F.lit(" [rev2]")).alias("text")
        )
        .unionByName(kept.filter(F.col("doc_id") % 13 != 0))
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )


@query(
    "snapshot_diff",
    f"""
WITH new_snap AS ({_NEW_SNAPSHOT}),
o AS (SELECT doc_id, md5(text) AS h_old FROM documents),
n AS (SELECT doc_id, md5(text) AS h_new FROM new_snap),
j AS (
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, h_old, h_new
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT doc_id,
       CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old != h_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM j
WHERE (CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old != h_new THEN 'changed'
            ELSE 'unchanged' END) != 'unchanged'
""",
)

def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return C.snapshot_diff(docs, _derive_new_snapshot(docs))


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece's second algorithm) alongside BPE:
# the seed table is pure DataFrame algebra and fully value-checked; the
# EM-trained pieces and the segmentation are rows-only by design (float
# EM), with the strong checks in tests/test_tokenizer.py.
# ---------------------------------------------------------------------------


@query(
    "unigram_seed_pieces",
    f"""
WITH wf AS (
    SELECT word, count(*) AS freq
    FROM (SELECT unnest({_TOKS}) AS word FROM documents)
    GROUP BY word
), subs AS (
    SELECT word[i : i + L - 1] AS piece, freq
    FROM wf, range(1, 201) t(i), range(1, 5) u(L)
    WHERE i <= length(word) AND i + L - 1 <= length(word)
), counts AS (
    SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM subs GROUP BY piece
), chars AS (
    SELECT piece, cnt FROM counts WHERE length(piece) = 1
), multi AS (
    SELECT piece, cnt FROM counts WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT 64
)
SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM multi
""",
)
def unigram_seed_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate unigram vocabulary: substring counts with the coverage
    alphabet plus the top-64 multi-char pieces (count desc, piece asc)."""
    docs = _load(spark, sf_dir, "documents")
    return TK.seed_unigram_pieces(TK.word_freqs(docs))




# ---------------------------------------------------------------------------
# Unigram tokenizer ORACLE (round 7): the DuckDB side re-trains the full
# Viterbi-EM pipeline from scratch — seed substring counts -> seed
# log-probs -> per-word Viterbi DP (a recursive CTE carrying the best
# score AND segmentation for the last max_piece_len positions) -> piece
# counts -> re-estimated log-probs -> second EM round — and must match
# the distributed trainer bit-for-bit. Made possible by the same
# iteration-boundary rule as kmeans_train: log-probs round to 6 decimals
# at the seed and at every EM boundary (operators/tokenizer.learn_unigram),
# so DP scores are sums of identical quantized doubles in identical
# order on both engines; DP ties resolve (score, longest-last-piece) in
# both (the SQL argmax is list_max over (score, j) structs; the Python
# loop keeps the smallest start on equal score — same rule, proven in
# the prototype and pinned by the strict gate).
# ---------------------------------------------------------------------------


def _unigram_dp_cte(name: str, lp: str, src: str = "wf") -> str:
    """One Viterbi pass as a recursive CTE: state per (word, pos) is the
    last-4-positions history of (best score, best segmentation), so each
    recursion step only needs the previous iteration's row."""
    return f"""{name} AS (
    SELECT word, freq, 0 AS pos,
           [{{'score': CAST(0.0 AS DOUBLE),
              'pieces': CAST([] AS VARCHAR[])}}] AS hist
    FROM {src}
  UNION ALL
    SELECT word, freq, pos + 1,
           list_prepend(
               {{'score': best.score,
                 'pieces': list_append(hist[best.j].pieces, best.piece)}},
               hist[1:3]
           )
    FROM (
        SELECT d.*,
               list_sort(list_filter([
                   {{'score': d.hist[1].score
                              + coalesce(p1.lp, CAST(-100.0 AS DOUBLE)),
                     'j': 1, 'piece': substr(d.word, d.pos + 1, 1)}},
                   CASE WHEN d.pos >= 1 AND p2.lp IS NOT NULL THEN
                       {{'score': d.hist[2].score + p2.lp,
                         'j': 2, 'piece': substr(d.word, d.pos, 2)}} END,
                   CASE WHEN d.pos >= 2 AND p3.lp IS NOT NULL THEN
                       {{'score': d.hist[3].score + p3.lp,
                         'j': 3, 'piece': substr(d.word, d.pos - 1, 3)}} END,
                   CASE WHEN d.pos >= 3 AND p4.lp IS NOT NULL THEN
                       {{'score': d.hist[4].score + p4.lp,
                         'j': 4, 'piece': substr(d.word, d.pos - 2, 4)}} END
               ], x -> x IS NOT NULL))[-1] AS best
        FROM {name} d
        LEFT JOIN {lp} p1 ON p1.piece = substr(d.word, d.pos + 1, 1)
        LEFT JOIN {lp} p2 ON d.pos >= 1
                         AND p2.piece = substr(d.word, d.pos, 2)
        LEFT JOIN {lp} p3 ON d.pos >= 2
                         AND p3.piece = substr(d.word, d.pos - 1, 3)
        LEFT JOIN {lp} p4 ON d.pos >= 3
                         AND p4.piece = substr(d.word, d.pos - 2, 4)
        WHERE d.pos < length(d.word)
    )
)"""


def _unigram_ctes(em_iterations: int = 2) -> tuple[str, str]:
    """(cte_block, final_lp_name): seed counts/log-probs plus
    ``em_iterations`` chained (DP -> counts -> log-probs) rounds."""
    parts = [f"""WITH RECURSIVE
wf AS (
    SELECT word, count(*) AS freq
    FROM (SELECT unnest({_TOKS}) AS word FROM documents)
    GROUP BY word
),
subs AS (
    SELECT word[i : i + L - 1] AS piece, freq
    FROM wf, range(1, 201) t(i), range(1, 5) u(L)
    WHERE i <= length(word) AND i + L - 1 <= length(word)
),
scounts AS (
    SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM subs GROUP BY piece
),
seed AS MATERIALIZED (
    SELECT piece, cnt FROM scounts WHERE length(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM scounts WHERE length(piece) > 1
        ORDER BY cnt DESC, piece LIMIT 64
    )
),
lp0 AS MATERIALIZED (
    SELECT piece,
           round(ln(CAST(cnt AS DOUBLE)
                    / (SELECT CAST(sum(cnt) AS DOUBLE) FROM seed)), 6)
               AS lp
    FROM seed
)"""]
    lp = "lp0"
    for i in range(1, em_iterations + 1):
        parts.append(",\n" + _unigram_dp_cte(f"dp{i}", lp))
        parts.append(f""",
c{i} AS MATERIALIZED (
    SELECT piece, sum(freq) AS cnt
    FROM (SELECT unnest(hist[1].pieces) AS piece, freq
          FROM dp{i} WHERE pos = length(word))
    GROUP BY piece
),
lp{i} AS MATERIALIZED (
    SELECT piece,
           round(ln(CAST(cnt AS DOUBLE)
                    / (SELECT CAST(sum(cnt) AS DOUBLE) FROM c{i})), 6)
               AS lp
    FROM c{i} WHERE cnt > 0
)""")
        lp = f"lp{i}"
    return "".join(parts), lp


def _unigram_learn_sql(em_iterations: int = 2) -> str:
    ctes, lp = _unigram_ctes(em_iterations)
    return f"{ctes}\nSELECT piece, lp AS logp FROM {lp}"


def _unigram_segment_sql(em_iterations: int = 2) -> str:
    ctes, lp = _unigram_ctes(em_iterations)
    n = em_iterations + 1
    return f"""{ctes},
{_unigram_dp_cte(f'dp{n}', lp)},
seg AS MATERIALIZED (
    SELECT word, hist[1].pieces AS pieces
    FROM dp{n} WHERE pos = length(word)
),
dw AS (
    SELECT doc_id, unnest(ws) AS word,
           unnest(generate_series(1, len(ws))) AS ord
    FROM (SELECT doc_id, {_TOKS} AS ws FROM documents)
),
agg AS (
    SELECT dw.doc_id,
           count(*)::BIGINT AS n_words,
           sum(len(s.pieces))::BIGINT AS n_pieces,
           md5(string_agg(array_to_string(s.pieces, ' '), ' '
               ORDER BY dw.ord)) AS pieces_hash
    FROM dw JOIN seg s USING (word)
    WHERE length(dw.word) >= 1
    GROUP BY dw.doc_id
)
SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_pieces, 0) AS n_pieces,
       coalesce(a.pieces_hash, md5('')) AS pieces_hash
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def _learned_unigram(spark: SparkSession, sf_dir: str) -> dict:
    return cached(
        spark, [f"{sf_dir}/documents.parquet"], ("unigram",),
        lambda: TK.learn_unigram(_load(spark, sf_dir, "documents")),
    )


@query("unigram_learn_pieces", _unigram_learn_sql())
def unigram_learn_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained pieces with 6-decimal log-probs, STRICT-ORACLED (round
    7): the DuckDB side re-trains the Viterbi-EM model from scratch via
    recursive-CTE DP rounds — see _unigram_ctes. tests/test_tokenizer.py
    additionally holds the Viterbi optimality and determinism checks."""
    logp = _learned_unigram(spark, sf_dir)
    rows = sorted((p, round(lp, 6)) for p, lp in logp.items())
    return spark.createDataFrame(rows, "piece STRING, logp DOUBLE")


@query("unigram_segment_stats", _unigram_segment_sql())
def unigram_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-tokenized with the trained unigram LM: per-doc word and
    piece counts plus a deterministic segmentation hash — strict-oracled
    against the SQL-re-trained model's own Viterbi segmentation."""
    docs = _load(spark, sf_dir, "documents")
    return TK.unigram_segment(docs, _learned_unigram(spark, sf_dir))


def _independent_unigram(
    texts: list[str],
    max_piece_len: int = 4,
    max_pieces: int = 64,
    em_iterations: int = 2,
) -> tuple[dict, dict]:
    """Self-contained pure-Python re-implementation of the unigram
    trainer — NO shared code with operators/tokenizer.py (its own
    tokenization, substring seeding, and a backward-recursive Viterbi
    instead of the operator's forward DP) — so agreement between the two
    is evidence about the distributed passes, not a tautology. Returns
    ({piece: logp}, {word: segmentation}) under the trained model."""
    import math
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        for w in str(t).lower().split():
            if w:
                wf[w] += 1

    subs: Counter = Counter()
    for w, f in wf.items():
        n = len(w)
        for i in range(n):
            for L in range(1, min(max_piece_len, n - i) + 1):
                subs[w[i : i + L]] += f
    multi = sorted(
        ((p, c) for p, c in subs.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:max_pieces]
    seed = {p: c for p, c in subs.items() if len(p) == 1}
    seed.update(dict(multi))
    total = sum(seed.values())
    logp = {p: round(math.log(c / total), 6) for p, c in seed.items()}

    def viterbi(word: str, model: dict) -> list:
        # backward recursion with memo (vs the operator's forward loop);
        # same semantics: max score, exact-float ties -> longest last
        # piece, unknown single chars at -100.0
        max_len = max((len(p) for p in model), default=1)
        memo: dict = {0: (0.0, None)}

        def best(end: int):
            if end in memo:
                return memo[end]
            score, cut = float("-inf"), 0
            for start in range(max(0, end - max_len), end):
                piece = word[start:end]
                lp = model.get(piece)
                if lp is None:
                    if end - start != 1:
                        continue
                    lp = -100.0
                s = best(start)[0] + lp
                if s > score or (s == score and start < cut):
                    score, cut = s, start
            memo[end] = (score, cut)
            return memo[end]

        pieces, end = [], len(word)
        while end > 0:
            start = best(end)[1]
            pieces.append(word[start:end])
            end = start
        return list(reversed(pieces))

    for _ in range(em_iterations):
        counts: Counter = Counter()
        for w, f in wf.items():
            for piece in viterbi(w, logp):
                counts[piece] += f
        total = sum(counts.values())
        logp = {
            p: round(math.log(c / total), 6)
            for p, c in counts.items()
            if c > 0
        }

    return logp, {w: viterbi(w, logp) for w in wf}


def _unigram_agreement_sql(em_iterations: int = 2) -> str:
    """Strict oracle for the agreement eval: DuckDB re-trains the model a
    THIRD time (the recursive-CTE Viterbi-EM chain that already bit-
    matches the distributed trainer — unigram_learn_pieces) and asserts
    PERFECT agreement at that model's sizes: every piece's 6-decimal
    log-prob agrees, every vocab word's segmentation agrees, agreement =
    1.0. If either Python implementation (distributed trainer or the
    independent single-process one) drifts from the SQL-retrained model,
    the counts the eval reports fall below these maxima and the hash
    breaks — a stricter check than recording the eval's own numbers."""
    ctes, lp = _unigram_ctes(em_iterations)
    return f"""{ctes}
SELECT CAST(np AS INTEGER) AS n_pieces_dist,
       CAST(np AS INTEGER) AS n_pieces_indep,
       CAST(np AS INTEGER) AS n_logp_agree,
       CAST(nw AS INTEGER) AS n_vocab_words,
       CAST(nw AS INTEGER) AS n_seg_agree,
       1.0 AS agreement
FROM (SELECT count(*) AS np FROM {lp})
CROSS JOIN (SELECT count(*) AS nw FROM wf WHERE length(word) >= 1)
"""


@query("unigram_agreement_eval", _unigram_agreement_sql())
# bounds unigram training end-to-end the way semdedup_agreement_eval
# bounds SemDeDup: a from-scratch pure-Python trainer must reproduce the
# distributed trainer exactly, and the oracle pins both to the DuckDB
# re-trained model's theoretical maxima (see _unigram_agreement_sql)
def unigram_agreement_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement between the DISTRIBUTED unigram trainer (seed counts +
    Viterbi-EM passes over the cluster) and an independent single-process
    implementation with its own tokenizer, seeder, and Viterbi: piece
    sets, 6-decimal log-probs, and per-word segmentations must all agree.
    The corpus collect is the eval harness's prerogative (like the
    all-pairs truth in semdedup_agreement_eval) — the production path
    stays distributed."""
    docs = _load(spark, sf_dir, "documents")
    dist = _learned_unigram(spark, sf_dir)
    texts = [r["text"] for r in docs.select("text").collect()]
    indep_logp, indep_seg = _independent_unigram(texts)

    pieces_union = set(dist) | set(indep_logp)
    n_logp_agree = sum(
        1
        for p in pieces_union
        if p in dist
        and p in indep_logp
        and round(dist[p], 6) == round(indep_logp[p], 6)
    )
    n_words = len(indep_seg)
    # cross-implementation, cross-model: the operator's forward DP under
    # the DISTRIBUTED model vs the independent backward DP under the
    # INDEPENDENT model — end-to-end pipeline agreement per vocab word
    n_seg_agree = sum(
        1
        for w, seg in indep_seg.items()
        if TK.viterbi_segment(w, dist) == seg
    )
    agreement = (
        min(n_logp_agree / len(pieces_union), n_seg_agree / n_words)
        if pieces_union and n_words
        else 0.0
    )
    return spark.createDataFrame(
        [
            (
                len(dist),
                len(indep_logp),
                n_logp_agree,
                n_words,
                n_seg_agree,
                round(agreement, 6),
            )
        ],
        "n_pieces_dist INT, n_pieces_indep INT, n_logp_agree INT,"
        " n_vocab_words INT, n_seg_agree INT, agreement DOUBLE",
    )


# ---------------------------------------------------------------------------
# Warehouse modeling: SCD type-2 history intervals and Delta-style MERGE
# (operators/warehouse.py) — the change-data shapes that sit next to
# snapshot_diff in a lakehouse pipeline.
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import warehouse as W  # noqa: E402


@query(
    "scd2_event_type",
    """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS NULL
                     OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS changed
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), versioned AS (
    SELECT user_id, event_type, ts,
           CAST(sum(changed) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS version
    FROM ordered
), islands AS (
    SELECT user_id, version,
           min(event_type) AS event_type,
           min(ts) AS valid_from,
           count(*) AS n_events
    FROM versioned GROUP BY user_id, version
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER (
           PARTITION BY user_id ORDER BY version
       ) AS valid_to,
       n_events
FROM islands
""",
)
def scd2_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type attribute: consecutive
    equal values collapse into validity intervals, open-ended for the
    current value — the gaps-and-islands pattern in two windows that
    share one (user) exchange."""
    events = _load(spark, sf_dir, "events")
    return W.scd2_intervals(
        events, "user_id", "event_type", ts_col="ts", tiebreak_col="event_id"
    )


@query(
    "merge_upsert_snapshot",
    """
WITH changes AS (
    SELECT doc_id, text, 'D' AS op FROM documents WHERE doc_id % 13 = 0
    UNION ALL
    SELECT doc_id, upper(text), 'U' FROM documents
    WHERE doc_id % 10 = 0 AND doc_id % 13 <> 0
    UNION ALL
    SELECT doc_id + 1000000, text, 'I' FROM documents WHERE doc_id % 17 = 0
), survived AS (
    SELECT t.doc_id, t.text FROM documents t
    WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.doc_id = t.doc_id)
), merged AS (
    SELECT doc_id, text FROM survived
    UNION ALL
    SELECT doc_id, text FROM changes WHERE op <> 'D'
)
SELECT doc_id, md5(text) AS digest FROM merged
""",
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a deterministic I/U/D change set to the documents snapshot
    through the MERGE operator (one key anti join + union), then digest
    the result for value comparison."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    dels = docs.filter(did % 13 == 0).withColumn("op", F.lit("D"))
    ups = (
        docs.filter((did % 10 == 0) & (did % 13 != 0))
        .withColumn("text", F.upper("text"))
        .withColumn("op", F.lit("U"))
    )
    ins = docs.filter(did % 17 == 0).select(
        (did + 1_000_000).alias("doc_id"), "text"
    ).withColumn("op", F.lit("I"))
    changes = dels.unionByName(ups).unionByName(ins)
    merged = W.merge_upsert(docs, changes, ["doc_id"])
    return merged.select("doc_id", F.md5("text").alias("digest"))


# ---------------------------------------------------------------------------
# Curriculum ordering: exact global rank of every document by quality
# (easiest/cleanest last or first, trainer's choice) plus a 10-stage
# curriculum bucket. The Spark side computes the total order via
# range-repartition + per-partition rank + tiny offset join
# (operators.curation.global_rank) — the oracle's single ORDER BY window
# is exactly the single-partition sort that recipe replaces.
# ---------------------------------------------------------------------------


def _curriculum_sql() -> str:
    from kafka_stream_unify_order_messages_spark.registry import ORACLES

    quality_sql = ORACLES["quality_scores"]
    return f"""
WITH q AS ({quality_sql}),
ranked AS (
    SELECT doc_id, quality,
           row_number() OVER (ORDER BY quality, doc_id) AS rank,
           count(*) OVER () AS n
    FROM q
)
SELECT doc_id, quality, CAST(rank AS BIGINT) AS rank,
       CAST(((rank - 1) * 10) // n AS BIGINT) AS stage
FROM ranked
"""


@query("curriculum_order", _curriculum_sql())
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions import text as T

    docs = _load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", T.quality_score("text").alias("quality")
    )
    ranked = C.global_rank(scored, ["quality", "doc_id"], rank_col="rank")
    total = scored.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "quality",
            "rank",
            F.expr("((rank - 1) * 10) div _n").cast("long").alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve clustering codes — the locality-optimal alternative to
# zorder_codes (consecutive Hilbert positions are always spatially
# adjacent; Morton jumps at power-of-two seams). The oracle runs the
# identical 4-state FSM as machine-generated chained CTEs; the Spark
# side folds it with F.aggregate in codegen.
# ---------------------------------------------------------------------------

_HILBERT_BITS = 16


@query(
    "hilbert_codes",
    f"""
WITH h0 AS (
    SELECT o_orderkey,
           o_custkey % 65536 AS hx, o_orderkey % 65536 AS hy
    FROM orders
), {L.hilbert_code_sql('hx', 'hy', _HILBERT_BITS)}
SELECT o_orderkey, CAST(d{_HILBERT_BITS - 1} AS BIGINT) AS hcode
FROM h{_HILBERT_BITS}
""",
)
def hilbert_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert position of (custkey, orderkey) low bits — drop-in for
    the Morton key in zorder_write when tighter per-file bounding boxes
    are worth bits x table-lookup fold cost."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        L.hilbert_code(
            F.col("o_custkey") % 65536,
            F.col("o_orderkey") % 65536,
            bits=_HILBERT_BITS,
        ).alias("hcode"),
    )


# ---------------------------------------------------------------------------
# Column-level statistical table diff — the drift complement to
# snapshot_diff's row-level change detection: per column, how row count,
# null count, and distinct cardinality moved between two crawls. One
# aggregation pass per side (counts map-side combinable, distincts share
# one Expand), then a |columns|-row join — nothing data-sized after the
# scans. The "new" snapshot is the same derivation snapshot_diff uses.
# ---------------------------------------------------------------------------


@query(
    "table_diff",
    f"""
WITH new_snap AS ({_NEW_SNAPSHOT}),
o AS (
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_doc_id,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_text,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS d_doc_id,
           CAST(count(DISTINCT text) AS BIGINT) AS d_text
    FROM documents
), n AS (
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_doc_id,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_text,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS d_doc_id,
           CAST(count(DISTINCT text) AS BIGINT) AS d_text
    FROM new_snap
), sides AS (
    SELECT 'doc_id' AS col,
           o.n_rows AS rows_old, n.n_rows AS rows_new,
           o.null_doc_id AS nulls_old, n.null_doc_id AS nulls_new,
           o.d_doc_id AS distinct_old, n.d_doc_id AS distinct_new
    FROM o, n
    UNION ALL
    SELECT 'text',
           o.n_rows, n.n_rows,
           o.null_text, n.null_text,
           o.d_text, n.d_text
    FROM o, n
)
SELECT col, rows_old, rows_new, nulls_old, nulls_new,
       distinct_old, distinct_new,
       distinct_new - distinct_old AS distinct_delta
FROM sides
""",
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_snap = _derive_new_snapshot(docs)

    def profile(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("doc_id").isNull().cast("long")).alias(
                "null_doc_id"
            ),
            F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
            F.count_distinct("doc_id").alias("d_doc_id"),
            F.count_distinct("text").alias("d_text"),
        )

    o, n = profile(docs), profile(new_snap)
    sides = None
    for col in ("doc_id", "text"):
        row = (
            o.select(
                F.lit(col).alias("col"),
                F.col("n_rows").alias("rows_old"),
                F.col(f"null_{col}").alias("nulls_old"),
                F.col(f"d_{col}").alias("distinct_old"),
            )
            .crossJoin(
                n.select(
                    F.col("n_rows").alias("rows_new"),
                    F.col(f"null_{col}").alias("nulls_new"),
                    F.col(f"d_{col}").alias("distinct_new"),
                )
            )
        )
        sides = row if sides is None else sides.unionByName(row)
    return sides.select(
        "col",
        "rows_old",
        "rows_new",
        "nulls_old",
        "nulls_new",
        "distinct_old",
        "distinct_new",
        (F.col("distinct_new") - F.col("distinct_old")).alias(
            "distinct_delta"
        ),
    )


# ---------------------------------------------------------------------------
# 3-dimensional Z-order codes — the clustering key for tables filtered
# on three dimensions at once (the 2-D morton/hilbert forms above cover
# pairs). Same pure bit-twiddling codegen, 48 of 63 long bits used.
# ---------------------------------------------------------------------------

_Z3_SQL = L.morton_code3_sql(
    "(o_custkey % 65536)",
    "(o_orderkey % 65536)",
    "(CAST(floor(o_totalprice) AS BIGINT) % 65536)",
)


@query(
    "zorder3_codes",
    f"""
SELECT o_orderkey, CAST({_Z3_SQL} AS BIGINT) AS zcode3
FROM orders
""",
)
def zorder3_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        L.morton_code3(
            F.col("o_custkey") % 65536,
            F.col("o_orderkey") % 65536,
            F.floor("o_totalprice").cast("long") % 65536,
        ).alias("zcode3"),
    )


# ---------------------------------------------------------------------------
# Bit-exact TRAINED k-means: Lloyd's algorithm re-trained from scratch by
# the oracle (unrolled assign/update CTE rounds) and compared coordinate-
# for-coordinate. Determinism pins: md5-ranked seed vectors, (dist, cid)
# tie-broken argmin, centroid means rounded to 6dp at EVERY iteration
# boundary so cross-engine summation-order drift is killed per round
# instead of compounding. The correctness anchor for the data-trained
# clustering family (ann_ivf_topk's trainer is the same Lloyd's on the
# numpy batch path, quality-bounded by the recall evals).
# ---------------------------------------------------------------------------


def _kmeans_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    parts = [
        f"""WITH ex AS (
    SELECT vec_id AS vid, i AS dim, embedding[i]::DOUBLE AS x
    FROM embeddings, unnest(generate_series(1, {dim})) t(i)
),
seeds AS (
    SELECT vid, rn - 1 AS cid FROM (
        SELECT vid, row_number() OVER (
            ORDER BY md5('kminit:' || CAST(vid AS VARCHAR)), vid
        ) AS rn
        FROM (SELECT DISTINCT vec_id AS vid FROM embeddings)
    ) WHERE rn <= {k}
),
c0 AS (
    SELECT s.cid, e.dim, round(e.x, 6) AS c
    FROM seeds s JOIN ex e USING (vid)
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
d{i} AS (
    SELECT e.vid, c.cid, sum((e.x - c.c) * (e.x - c.c)) AS dist
    FROM ex e JOIN c{i - 1} c USING (dim)
    GROUP BY e.vid, c.cid
),
a{i} AS (
    SELECT vid, cid FROM (
        SELECT vid, cid,
               row_number() OVER (
                   PARTITION BY vid ORDER BY dist, cid
               ) AS rn
        FROM d{i}
    ) WHERE rn = 1
),
c{i} AS (
    SELECT a.cid, e.dim, round(avg(e.x), 6) AS c
    FROM a{i} a JOIN ex e USING (vid)
    GROUP BY a.cid, e.dim
)"""
        )
    parts.append(
        f"""
SELECT c.cid, CAST(c.dim AS BIGINT) AS dim, c.c AS coord, f.n_assigned
FROM c{iters} c
JOIN (
    SELECT cid, count(*) AS n_assigned FROM a{iters} GROUP BY cid
) f USING (cid)"""
    )
    return "".join(parts)


# train once per (dataset, session, k, iters), as _learned_merges:
# kmeans_train, ann_ivf_trained, ann_ivf_topk and semantic_dedup all
# share the exact-trained model instead of re-paying Lloyd's per query
def _exact_centroid_rows(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> list:
    from kafka_stream_unify_order_messages_spark.operators import (
        similarity as S,
    )

    return cached(
        spark, [f"{sf_dir}/embeddings.parquet"], ("kmeans_exact", k, iters),
        lambda: S.kmeans_train_exact(
            _load(spark, sf_dir, "embeddings"), "vec_id", "embedding", 64,
            k, iters,
        ).collect(),
    )


def _exact_centroid_matrix(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
):
    """Dense (k, 64) float64 matrix of the exact-trained centroids; the
    no-empty-cluster assert keeps the dense layout honest (an empty
    cluster would silently become the zero vector and split from the
    oracle, which just drops the cluster)."""
    import numpy as np

    rows = _exact_centroid_rows(spark, sf_dir, k, iters)
    assert len(rows) == k * 64, (
        f"empty cluster: {len(rows)} centroid rows for k={k}"
    )
    cents = np.zeros((k, 64), dtype=np.float64)
    for r in rows:
        cents[r["cid"], r["dim"] - 1] = r["coord"]
    return cents


@query("kmeans_train", _kmeans_sql())
def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means centroids (k=8, 3 Lloyd rounds) plus cluster
    sizes, strict-oracled: DuckDB re-trains the model from scratch and
    every centroid coordinate must match to the rounded digit."""
    rows = _exact_centroid_rows(spark, sf_dir)
    return spark.createDataFrame(
        [(r["cid"], r["dim"], r["coord"], r["n_assigned"]) for r in rows],
        "cid LONG, dim LONG, coord DOUBLE, n_assigned LONG",
    )


# ---------------------------------------------------------------------------
# End-to-end TRAINED IVF, strict-oracled: the oracle re-trains the same
# k-means (unrolled CTEs above), re-assigns the corpus to cells, probes
# each query's nprobe nearest cells, and ranks cosine top-k — the full
# train -> index -> serve pipeline value-checked in SQL. Closes the gap
# the rows-only ann_ivf_topk documents (data-trained centroids defeating
# a static oracle): the exact trainer's iteration-boundary rounding makes
# the trained model itself reproducible by the oracle. Search math
# mirrors ann_ivf_fixed (ds = -2*dot + |c|^2; first-min cell; (d, cid)
# probe ranking; (score desc, neighbor) top-k).
# ---------------------------------------------------------------------------


def _ivf_trained_sql(
    k: int = 5, n_centroids: int = 8, nprobe: int = 4,
    iters: int = 3, dim: int = 64,
) -> str:
    train = _kmeans_sql(n_centroids, iters, dim)
    # keep only the CTE chain (drop the trainer's final SELECT)
    ctes = train[: train.rindex("\nSELECT ")]
    return f"""{ctes},
cw AS (
    SELECT cid, sum(c * c) AS n2 FROM c{iters} GROUP BY cid
),
vd AS (
    SELECT m.vid, m.cid, m.m2 + w.n2 AS d
    FROM (
        SELECT e.vid, c.cid, -2 * sum(e.x * c.c) AS m2
        FROM ex e JOIN c{iters} c USING (dim)
        GROUP BY e.vid, c.cid
    ) m JOIN cw w USING (cid)
),
cell AS (
    SELECT vid, cid AS cell FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM vd
    ) WHERE rn = 1
),
qp AS (
    SELECT vid, cid AS cell FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM vd WHERE vid % 20 = 0
    ) WHERE rn <= {nprobe}
),
cd AS (
    SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
),
scored AS (
    SELECT q.vid AS query_id, t.vid AS neighbor_id,
           round(list_dot_product(q.v, t.v) /
                 (sqrt(list_dot_product(q.v, q.v)) *
                  sqrt(list_dot_product(t.v, t.v))), 6) AS score
    FROM qp
    JOIN cd q ON q.vid = qp.vid
    JOIN cell x ON x.cell = qp.cell
    JOIN cd t ON t.vid = x.vid AND t.vid != q.vid
)
SELECT query_id, neighbor_id, score, rnk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
    ) AS rnk
    FROM scored
) WHERE rnk <= {k}
"""


@query("ann_ivf_trained", _ivf_trained_sql())
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF top-k with the exact-oracle trainer's centroids (k=8,
    3 Lloyd rounds): strict-oracled end-to-end — the SQL side re-trains,
    re-assigns, probes, and ranks independently."""
    from kafka_stream_unify_order_messages_spark.operators import (
        similarity as S,
    )

    emb = _load(spark, sf_dir, "embeddings")
    cents = _exact_centroid_matrix(spark, sf_dir, 8, 3)
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.ivf_topk(
        queries, emb, k=5, n_centroids=8, nprobe=4, centroids=cents
    )


# ---------------------------------------------------------------------------
# ann_ivf_topk, GRADUATED to strict (round 8): formerly rows-only because
# its coarse quantizer was the numpy batch trainer (data-trained
# centroids a static oracle cannot replicate). Now it rides the same
# exact-trained Lloyd's as ann_ivf_trained at its own geometry (k=16
# cells, nprobe=4 -> a 4/16 corpus scan vs ann_ivf_trained's 4/8), so
# the oracle re-trains the 16-cell model from scratch and value-checks
# the full train -> assign -> probe -> rank chain.
# ---------------------------------------------------------------------------


@query("ann_ivf_topk", _ivf_trained_sql(k=5, n_centroids=16, nprobe=4))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import (
        similarity as S,
    )

    emb = _load(spark, sf_dir, "embeddings")
    cents = _exact_centroid_matrix(spark, sf_dir, 16, 3)
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return S.ivf_topk(
        queries, emb, k=5, n_centroids=16, nprobe=4, centroids=cents
    )


# ---------------------------------------------------------------------------
# semantic_dedup, GRADUATED to strict (round 8): SemDeDup composition —
# cluster-scoped exact cosine pairs -> connected components -> keep the
# min id of each component — on the SAME exact-trained 16-cell model.
# The oracle re-trains the model (unrolled Lloyd CTEs), re-assigns every
# vector to its cell with the identical -2·v·c + |c|² argmin, scores
# within-cell pairs with the 6dp-rounded cosine (numpy-GEMM vs SQL parity
# for exactly this scoring is already pinned strict by
# semdedup_agreement_eval), walks the transitive closure with a recursive
# CTE (the dedup_cluster_labels pattern), and keeps non-losers.
# ---------------------------------------------------------------------------


def _semantic_dedup_sql(
    n_centroids: int = 16, iters: int = 3, dim: int = 64,
    thr: float = 0.35,
) -> str:
    train = _kmeans_sql(n_centroids, iters, dim)
    ctes = train[: train.rindex("\nSELECT ")]
    # the reach CTE needs the RECURSIVE marker on the WITH that opens
    # the trainer chain
    ctes = ctes.replace("WITH ex AS (", "WITH RECURSIVE ex AS (", 1)
    return f"""{ctes},
cw AS (
    SELECT cid, sum(c * c) AS n2 FROM c{iters} GROUP BY cid
),
vd AS (
    SELECT m.vid, m.cid, m.m2 + w.n2 AS d
    FROM (
        SELECT e.vid, c.cid, -2 * sum(e.x * c.c) AS m2
        FROM ex e JOIN c{iters} c USING (dim)
        GROUP BY e.vid, c.cid
    ) m JOIN cw w USING (cid)
),
cell AS (
    SELECT vid, cell, v, sqrt(list_dot_product(v, v)) AS nrm
    FROM (
        SELECT vid, cid AS cell,
               row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM vd
    ) a JOIN (
        SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    ) e USING (vid)
    WHERE rn = 1
),
prs AS (
    SELECT a.vid AS id_a, b.vid AS id_b
    FROM cell a JOIN cell b
      ON a.cell = b.cell AND a.vid < b.vid
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
          >= {thr!r}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM prs
    UNION
    SELECT id_b AS src, id_a AS dst FROM prs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
losers AS (
    SELECT src AS vid
    FROM reach
    GROUP BY src
    HAVING least(src, min(dst)) != src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vid FROM losers)
"""


@query("semantic_dedup", _semantic_dedup_sql())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition on the exact-trained 16-cell model:
    cluster-scoped exact cosine pairs -> connected components -> keep
    the min id of each component."""
    from kafka_stream_unify_order_messages_spark.operators import (
        dedup as DD,
        similarity as S,
    )

    emb = _load(spark, sf_dir, "embeddings")
    pairs = S.semantic_dedup_pairs(
        emb,
        "vec_id",
        "embedding",
        n_centroids=16,
        threshold=0.35,
        centroids=_exact_centroid_matrix(spark, sf_dir, 16, 3),
    )
    clusters = DD.dedup_clusters(pairs.select("id_a", "id_b"))
    losers = F.broadcast(
        clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("vec_id")
        )
    )
    return emb.join(losers, "vec_id", "left_anti").select("vec_id")
