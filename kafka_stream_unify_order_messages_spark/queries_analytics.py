"""Event-sequence analytics + corpus-composition queries: funnels,
cohort retention, Markov transitions, robust outliers, weighted
sampling, containment dedup, triangle counting, and per-source
distribution drift.

The reference unifies per-key event streams (SURVEY.md §2.3); this
module is the question layer users run on top of that unified view,
plus the remaining corpus-curation screens from the north star. Every
query is value-checked against a DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kafka_stream_unify_order_messages_spark.registry import query
from kafka_stream_unify_order_messages_spark.sources.files import (
    cached,
    load_table,
)
from kafka_stream_unify_order_messages_spark.operators import analytics as A
from kafka_stream_unify_order_messages_spark.operators import curation as C
from kafka_stream_unify_order_messages_spark.operators import dedup as D
from kafka_stream_unify_order_messages_spark.operators import graph as G
from kafka_stream_unify_order_messages_spark.operators import pipeline as P
from kafka_stream_unify_order_messages_spark.queries_llm import (
    _PAIRS_SQL,
    _TOKS,
)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(
        spark, sf_dir, name,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# Funnel analysis: view -> click -> purchase, greedy earliest completion.
# The Spark side folds each key's sorted event array scan-locally after ONE
# shuffle; the oracle states the same semantics as chained correlated mins
# (stage k's timestamp = min ts of step k strictly after stage k-1's).
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


@query(
    "funnel_report",
    """
WITH t1 AS (
    SELECT user_id, min(ts) AS ts1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
    SELECT e.user_id, min(e.ts) AS ts2
    FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.ts1
    WHERE e.event_type = 'click' GROUP BY e.user_id
), t3 AS (
    SELECT e.user_id, min(e.ts) AS ts3
    FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.ts2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
), counts AS (
    SELECT 1 AS step, 'view' AS step_name,
           (SELECT count(*) FROM t1) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM t2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM t3)
)
SELECT step, step_name, users,
       round(users / CAST((SELECT users FROM counts WHERE step = 1)
                          AS DOUBLE), 4) AS conv_rate
FROM counts
""",
)
def funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.funnel_report(events, _FUNNEL_STEPS)


# ---------------------------------------------------------------------------
# Weekly cohort retention. Monday-truncated weeks on both engines; the
# offset division is exact (both endpoints week-truncated), so the BIGINT
# casts cannot disagree on rounding.
# ---------------------------------------------------------------------------


@query(
    "cohort_retention",
    """
WITH firsts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
    FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, active_week) // 7 AS BIGINT)
           AS week_offset,
       count(*) AS active_users
FROM activity JOIN firsts USING (user_id)
GROUP BY cohort_week, week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.cohort_retention(events)


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences.
# ---------------------------------------------------------------------------


@query(
    "event_transitions",
    """
WITH pairs AS (
    SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type,
           event_type AS next_type
    FROM events
)
SELECT prev_type, next_type, count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY prev_type)
                             AS DOUBLE), 4) AS p
FROM pairs WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.event_transitions(events)


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier screen on event values per type. Exact
# percentile on both engines (linear interpolation); the z-score rounds to
# 4 decimals so the single-division float path cannot drift.
# ---------------------------------------------------------------------------


@query(
    "robust_outliers",
    """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
), dev AS (
    SELECT e.event_type,
           quantile_cont(abs(e.value - m.med), 0.5) AS mad,
           any_value(m.med) AS med
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       round(abs(e.value - d.med) / (1.4826 * d.mad), 4) AS robust_z
FROM events e JOIN dev d USING (event_type)
WHERE round(abs(e.value - d.med) / (1.4826 * d.mad), 4) > 3.0
""",
)
def robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.robust_outliers(events, k=3.0)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis): top-20 docs
# per source by md5-uniform key u^(1/n_chars) — inclusion probability
# proportional to document length, sample size exactly k per stratum.
# ---------------------------------------------------------------------------


@query(
    "weighted_sample",
    """
WITH keyed AS (
    SELECT source, doc_id, n_chars AS weight,
           round(
               ln((CAST('0x' || substr(
                       md5('wsample42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) + 1.0) / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE), 9) AS es_key
    FROM documents
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY es_key DESC, doc_id
    ) AS rn FROM keyed
)
SELECT source, doc_id, weight, es_key FROM ranked WHERE rn <= 20
""",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return C.weighted_sample(
        docs, k=20, weight_col="n_chars", stratum_col="source",
        seed="wsample42",
    )


# ---------------------------------------------------------------------------
# Asymmetric n-gram containment on a bounded subset augmented with 40-token
# excerpts — the quote/excerpt case Jaccard misses: every excerpt scores
# containment 1.0 against its source document.
# ---------------------------------------------------------------------------

_CONT_SUBSET = f"""
SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
UNION ALL
SELECT doc_id + 3000000 AS doc_id,
       array_to_string(list_slice({_TOKS}, 1, 40), ' ') AS text
FROM documents WHERE doc_id % 25 = 0
"""


@query(
    "containment_pairs",
    f"""
WITH subset AS ({_CONT_SUBSET}),
toks AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
    FROM subset
), sh AS (
    SELECT doc_id, unnest(
        CASE WHEN len(tk) >= 3
             THEN list_distinct(list_transform(
                      generate_series(1, len(tk) - 2),
                      i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
             ELSE [array_to_string(tk, ' ')] END) AS shingle
    FROM toks
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), scored AS (
    SELECT id_a, id_b,
           round(n_inter / CAST(sa.n_shingles AS DOUBLE), 6) AS cont_a_in_b,
           round(n_inter / CAST(sb.n_shingles AS DOUBLE), 6) AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
)
SELECT * FROM scored WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5
""",
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.text import tokens

    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    excerpts = docs.select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.slice(tokens("text"), 1, 40), " ").alias("text"),
    )
    subset = docs.select("doc_id", "text").unionByName(excerpts)
    return D.ngram_containment_pairs(subset, shingle_n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Triangle counting on the near-dup candidate graph of a corpus with
# synthesized duplicate clusters (orig + 2 exact copies of every 5th doc
# -> each cluster is a 3-clique). Triangle density separates clique-like
# duplicate clusters from chain-like false-positive LSH paths.
# ---------------------------------------------------------------------------

_TRI_AUG = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""

def _aug_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair edges of the synthesized dup graph, persisted and
    shared by triangle_count and clustering_coefficient through the one
    session cache (sources/files.py:cached) — the minhash pipeline runs
    once per dataset, not once per graph query."""

    def build() -> DataFrame:
        docs = _load(spark, sf_dir, "documents")
        # The synthetic +1M/+2M copies carry the ORIGINAL text, so the
        # old 3-branch union tokenized+md5-hashed the doc_id%5 slice
        # three times for byte-identical results. Hash the real corpus
        # ONCE, then duplicate the (id, h) rows under the copies' ids —
        # same multiset of hash rows the union produced (r14, guide
        # §1.2 "don't compute things you throw away"; bit-exact by
        # construction and re-proven against the oracle).
        sh = D._exploded_shingles(
            docs.select("doc_id", "text"), "doc_id", "text", 3
        )
        hashed = sh.select("doc_id", D.shingle_hash(F.col("shingle")).alias("h"))
        offsets = F.when(
            F.col("doc_id") % 5 == 0,
            F.array(F.lit(0), F.lit(1000000), F.lit(2000000)),
        ).otherwise(F.array(F.lit(0)))
        hashed_aug = hashed.select(
            "doc_id", "h", F.explode(offsets).alias("_off")
        ).select(
            (F.col("doc_id") + F.col("_off")).cast("long").alias("doc_id"),
            "h",
        )
        return D.minhash_candidate_pairs(
            docs, num_hashes=16, bands=4, shingle_n=3, hashed=hashed_aug
        ).persist()

    # NOT re-persisted on later hand-outs (measured, r14): once the bench
    # drops cache blocks, re-arming the persist costs MORE than the
    # recompute — AQE exchange reuse already dedupes the duplicate
    # pipeline subtrees within each action, so the cache only adds
    # InMemoryRelation materialization (clustering_coefficient steady
    # 10.5 -> 17.0 JVM-CPU-s with re-arm; see OPTIMIZATION_r14.md)
    docs_path = f"{sf_dir}/documents.parquet"
    return cached(spark, [docs_path], ("aug_dup_pairs",), build)


def _aug_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the shared dup graph, persisted so
    the wedge join runs once per dataset — clustering_coefficient layers
    degrees on top of the same frame triangle_count returns."""
    return cached(
        spark, [f"{sf_dir}/documents.parquet"], ("aug_triangles",),
        lambda: G.triangle_count(_aug_dup_pairs(spark, sf_dir)).persist(),
    )


@query(
    "triangle_count",
    f"""
WITH aug AS ({_TRI_AUG}),
edges AS (
    SELECT id_a AS a, id_b AS b
    FROM ({_PAIRS_SQL.replace("FROM documents", "FROM aug")})
), nodes AS (
    SELECT node FROM (
        SELECT a AS node FROM edges UNION SELECT b AS node FROM edges
    )
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
), member AS (
    SELECT unnest([x, y, z]) AS node FROM tri
), per_node AS (
    SELECT node, count(*) AS n_triangles FROM member GROUP BY node
)
SELECT n.node, coalesce(p.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN per_node p USING (node)
""",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aug_triangles(spark, sf_dir)


# ---------------------------------------------------------------------------
# Per-source unigram-distribution drift vs the corpus: KL(p_source || q).
# ---------------------------------------------------------------------------


@query(
    "source_token_kl",
    f"""
WITH tok AS (
    SELECT source AS grp, unnest({_TOKS}) AS token FROM documents
), gt AS (
    SELECT grp, token, count(*) AS n_gt FROM tok GROUP BY grp, token
), g_tot AS (
    SELECT grp, CAST(sum(n_gt) AS BIGINT) AS n_g,
           count(*) AS vocab_g
    FROM gt GROUP BY grp
), corpus AS (
    SELECT token, CAST(sum(n_gt) AS BIGINT) AS n_t FROM gt GROUP BY token
), tot AS (
    SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM corpus
), contrib AS (
    SELECT gt.grp,
           (n_gt / CAST(n_g AS DOUBLE))
           * ln((n_gt / CAST(n_g AS DOUBLE))
                / (n_t / CAST(n_total AS DOUBLE))) AS term
    FROM gt
    JOIN corpus USING (token)
    JOIN g_tot USING (grp)
    CROSS JOIN tot
)
SELECT c.grp AS source,
       round(sum(c.term), 6) AS kl_vs_corpus,
       any_value(g.n_g) AS n_tokens,
       any_value(g.vocab_g) AS vocab_size
FROM contrib c JOIN g_tot g USING (grp)
GROUP BY c.grp
""",
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return P.source_token_divergence(docs, group_col="source")


# ---------------------------------------------------------------------------
# CDC log collapse (apply_changes): the multi-row generalization of MERGE —
# per key the highest-(ts, event_id) row wins, a trailing 'error' deletes
# the key. WindowGroupLimit prunes to one candidate per key map-side.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# GDPR delete-propagation audit: given a deletion list (every 50th
# customer), count the rows each dependent table sheds — the
# right-to-be-forgotten sweep plan. Delete keys broadcast; each table is
# one scan + broadcast semi join; counts are one-row aggregates.
# ---------------------------------------------------------------------------


@query(
    "gdpr_delete_audit",
    """
WITH del AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0
), o AS (
    SELECT o_orderkey FROM orders
    JOIN del ON o_custkey = c_custkey
)
SELECT 'customer' AS table_name,
       CAST((SELECT count(*) FROM del) AS BIGINT) AS n_deleted
UNION ALL
SELECT 'orders', CAST((SELECT count(*) FROM o) AS BIGINT)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT count(*) FROM lineitem
             JOIN o ON l_orderkey = o_orderkey) AS BIGINT)
""",
)
def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_keys = cust.filter(F.col("c_custkey") % 50 == 0).select("c_custkey")
    del_orders = orders.join(
        F.broadcast(del_keys),
        orders["o_custkey"] == del_keys["c_custkey"],
        "left_semi",
    ).select("o_orderkey")
    del_li = li.join(
        F.broadcast(del_orders),
        li["l_orderkey"] == del_orders["o_orderkey"],
        "left_semi",
    )
    n_c = del_keys.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    n_o = del_orders.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    n_l = del_li.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    return (
        n_c.select(F.lit("customer").alias("table_name"), "n_deleted")
        .unionByName(
            n_o.select(F.lit("orders").alias("table_name"), "n_deleted")
        )
        .unionByName(
            n_l.select(F.lit("lineitem").alias("table_name"), "n_deleted")
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity report: orphan foreign keys across the star
# schema in one audit frame (anti joins; dimensions broadcast).
# ---------------------------------------------------------------------------


@query(
    "integrity_report",
    """
SELECT 'orders->customer' AS relation,
       CAST((SELECT count(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
            AS BIGINT) AS n_orphans,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
            AS BIGINT),
       CAST((SELECT count(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       CAST((SELECT count(*) FROM customer
             WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
            AS BIGINT),
       CAST((SELECT count(*) FROM customer) AS BIGINT)
""",
)
def integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(fact, fk, dim, pk, name):
        # no broadcast hint: the referenced side may itself be a fact
        # table (lineitem->orders) — AQE broadcasts when it fits and
        # falls back to a shuffled anti join when it does not
        orphans = fact.join(
            dim.select(pk).distinct(),
            fact[fk] == dim[pk],
            "left_anti",
        )
        return orphans.agg(
            F.count(F.lit(1)).cast("long").alias("n_orphans")
        ).crossJoin(
            fact.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        ).select(F.lit(name).alias("relation"), "n_orphans", "n_rows")

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        audit(orders, "o_custkey", cust, "c_custkey", "orders->customer")
        .unionByName(
            audit(li, "l_orderkey", orders, "o_orderkey",
                  "lineitem->orders")
        )
        .unionByName(
            audit(cust, "c_nationkey", nation, "n_nationkey",
                  "customer->nation")
        )
    )


# ---------------------------------------------------------------------------
# Hot-key skew report: the diagnostic behind salting decisions. Integer
# arithmetic only (ppm floor-div, ceiling-div salt factor).
# ---------------------------------------------------------------------------


@query(
    "skew_report",
    """
WITH counts AS (
    SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
    FROM events GROUP BY user_id
), tot AS (
    SELECT CAST(sum(n_rows) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM counts
), ranked AS (
    SELECT key, n_rows, row_number() OVER (
        ORDER BY n_rows DESC, key
    ) AS rnk FROM counts
)
SELECT key, n_rows, n_keys,
       CAST((n_rows * 1000000) // total AS BIGINT) AS share_ppm,
       CAST((n_rows * n_keys + total - 1) // total AS BIGINT)
           AS salt_factor
FROM ranked CROSS JOIN tot
WHERE rnk <= 10
""",
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.skew import (
        skew_report as _sr,
    )

    events = _load(spark, sf_dir, "events")
    return _sr(events, ["user_id"], top_k=10)


# ---------------------------------------------------------------------------
# Compaction planner: the OPTIMIZE bin-pack work list over file metadata
# (documents stand in: source = table partition, n_chars = file size).
# ---------------------------------------------------------------------------


@query(
    "compaction_plan",
    """
WITH files AS (
    SELECT source AS part_key, doc_id AS file_id, n_chars AS size_bytes
    FROM documents
), cum AS (
    SELECT part_key, file_id, size_bytes,
           coalesce(sum(size_bytes) OVER (
               PARTITION BY part_key ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS before
    FROM files
)
SELECT part_key, CAST(before // 2000 AS BIGINT) AS compact_group,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS group_bytes
FROM cum
GROUP BY part_key, before // 2000
""",
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.warehouse import (
        compaction_plan as _cp,
    )

    files = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("part_key"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("size_bytes"),
    )
    return _cp(files, target_bytes=2000)


@query(
    "cdc_apply_changes",
    """
WITH log AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN event_type = 'error' THEN 'delete'
                ELSE 'upsert' END AS op
    FROM events
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rn FROM log
)
SELECT user_id, ts, event_id, value
FROM ranked WHERE rn = 1 AND op <> 'delete'
""",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import warehouse as W

    events = _load(spark, sf_dir, "events")
    log = events.select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    return W.apply_changes(
        log, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )


# ---------------------------------------------------------------------------
# Declarative expectation gate (deequ/dbt style): the whole constraint set
# costs ONE aggregation pass (conditional counters + a shared-Expand
# distinct count for uniqueness).
# ---------------------------------------------------------------------------


@query(
    "expectations_report",
    """
WITH v AS (
    SELECT 'not_null_o_custkey' AS expectation,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'unique_o_orderkey',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted_values_o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NULL
                         OR o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'range_o_totalprice',
           CAST(sum(CASE WHEN o_totalprice IS NULL
                         OR o_totalprice < 0 OR o_totalprice > 600000
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
)
SELECT expectation, n_violations, n_violations = 0 AS passed FROM v
""",
)
def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import quality as Q

    orders = _load(spark, sf_dir, "orders")
    return Q.check_expectations(
        orders,
        [
            Q.expect_not_null("o_custkey"),
            Q.expect_unique("o_orderkey"),
            Q.expect_in_set("o_orderstatus", ["O", "F", "P"]),
            Q.expect_between("o_totalprice", 0, 600000),
        ],
    )


# ---------------------------------------------------------------------------
# One-pass column profiler over the events table.
# ---------------------------------------------------------------------------


@query(
    "table_profile",
    """
WITH w AS (
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null0,
           count(DISTINCT event_id) AS dist0,
           CAST(min(event_id) AS VARCHAR) AS min0,
           CAST(max(event_id) AS VARCHAR) AS max0,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null1,
           count(DISTINCT user_id) AS dist1,
           CAST(min(user_id) AS VARCHAR) AS min1,
           CAST(max(user_id) AS VARCHAR) AS max1,
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null2,
           count(DISTINCT event_type) AS dist2,
           min(event_type) AS min2,
           max(event_type) AS max2,
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null3,
           count(DISTINCT props) AS dist3,
           min(props) AS min3,
           max(props) AS max3
    FROM events
)
SELECT 'event_id' AS column_name, n AS n_rows, null0 AS n_null,
       dist0 AS n_distinct, min0 AS min_value, max0 AS max_value FROM w
UNION ALL
SELECT 'user_id', n, null1, dist1, min1, max1 FROM w
UNION ALL
SELECT 'event_type', n, null2, dist2, min2, max2 FROM w
UNION ALL
SELECT 'props', n, null3, dist3, min3, max3 FROM w
""",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import quality as Q

    events = _load(spark, sf_dir, "events")
    return Q.profile_table(
        events, ["event_id", "user_id", "event_type", "props"]
    )


# ---------------------------------------------------------------------------
# Zone-map data-skipping eval: Z-order tiles vs natural insertion order,
# quantified as files scanned per point probe on o_custkey. Z-order tiles
# bound the custkey range per file; insertion-order files contain random
# custkeys so their min/max ranges span everything and prune nothing.
# ---------------------------------------------------------------------------

_ZPROBES = [7, 55, 123, 321, 555, 777, 901, 999]

from kafka_stream_unify_order_messages_spark.operators.layout import (  # noqa: E402
    morton_code_sql,
)

_ZTILE_SQL = (
    "((" + morton_code_sql("o_custkey", "(o_orderkey % 65536)") + ") >> 16)"
)


@query(
    "zonemap_skipping",
    f"""
WITH keyed AS (
    SELECT o_custkey AS x,
           {_ZTILE_SQL} AS zfile,
           o_orderkey // 256 AS nfile
    FROM orders
), zones AS (
    SELECT 'zorder' AS layout, zfile AS file, min(x) AS lo, max(x) AS hi
    FROM keyed GROUP BY zfile
    UNION ALL
    SELECT 'natural', nfile, min(x), max(x) FROM keyed GROUP BY nfile
), probes AS (
    SELECT unnest([{", ".join(str(v) for v in _ZPROBES)}]) AS probe_value
)
SELECT z.layout, p.probe_value,
       CAST(sum(CASE WHEN z.lo <= p.probe_value AND p.probe_value <= z.hi
                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       count(*) AS files_total,
       round(1.0 - sum(CASE WHEN z.lo <= p.probe_value
                            AND p.probe_value <= z.hi
                       THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
           AS skip_ratio
FROM zones z CROSS JOIN probes p
GROUP BY z.layout, p.probe_value
""",
)
def zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import layout as L

    orders = _load(spark, sf_dir, "orders")
    return L.zonemap_skipping_eval(
        orders,
        x_col="o_custkey",
        y_col="o_orderkey",
        probe_values=_ZPROBES,
        natural_col="o_orderkey",
        tile_shift=16,
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient on the same synthesized dup graph as
# triangle_count: clique-like duplicate clusters score ~1, chain-like LSH
# false-positive paths score ~0.
# ---------------------------------------------------------------------------


@query(
    "clustering_coefficient",
    f"""
WITH aug AS ({_TRI_AUG}),
edges AS (
    SELECT id_a AS a, id_b AS b
    FROM ({_PAIRS_SQL.replace("FROM documents", "FROM aug")})
), degrees AS (
    SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
    ) GROUP BY node
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
), member AS (
    SELECT unnest([x, y, z]) AS node FROM tri
), per_node AS (
    SELECT node, count(*) AS n_triangles FROM member GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(p.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(p.n_triangles, 0)
                       / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS clustering
FROM degrees d LEFT JOIN per_node p USING (node)
""",
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.clustering_coefficient(
        _aug_dup_pairs(spark, sf_dir),
        triangles=_aug_triangles(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# HLL sketch MERGE: the mergeability property itself, value-checked —
# per-source register sets combine with a bucket max and estimate the
# global distinct EXACTLY like a direct pass (identity, not approximation),
# while the sum of per-source estimates overcounts the overlap.
# ---------------------------------------------------------------------------

from kafka_stream_unify_order_messages_spark.operators import sketches as SK  # noqa: E402

_HLL_AM2_A = repr(SK.HLL_ALPHA * SK.HLL_BUCKETS * SK.HLL_BUCKETS)

_HLL_EST_CASE = (
    "CASE WHEN {am2} / (s_present + CAST(256 - n_present AS DOUBLE)) <= 640.0"
    "          AND (256 - n_present) > 0"
    "     THEN 256.0 * ln(256.0 / (256 - n_present))"
    "     ELSE {am2} / (s_present + CAST(256 - n_present AS DOUBLE)) END"
).format(am2=_HLL_AM2_A)


@query(
    "hll_merged_distinct",
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
), merged AS (
    SELECT round({_HLL_EST_CASE}, 6) AS merged_estimate
    FROM (
        SELECT sum(pow(2.0, -m)) AS s_present, count(*) AS n_present
        FROM (SELECT bucket, max(m) AS m FROM regs GROUP BY bucket)
    )
), direct AS (
    SELECT round({_HLL_EST_CASE}, 6) AS direct_estimate
    FROM (
        SELECT sum(pow(2.0, -m)) AS s_present, count(*) AS n_present
        FROM (
            SELECT bucket, max(CASE WHEN w = 0 THEN 53
                                    ELSE 53 - length(bin(w)) END) AS m
            FROM hashed GROUP BY bucket
        )
    )
), per_group AS (
    SELECT round(sum(est), 6) AS sum_group_estimates FROM (
        SELECT round({_HLL_EST_CASE}, 6) AS est
        FROM (
            SELECT source, sum(pow(2.0, -m)) AS s_present,
                   count(*) AS n_present
            FROM regs GROUP BY source
        )
    )
), ex AS (
    SELECT count(DISTINCT token) AS exact_distinct FROM toks
)
SELECT merged_estimate, direct_estimate, sum_group_estimates,
       exact_distinct,
       round((merged_estimate - exact_distinct)
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
FROM merged CROSS JOIN direct CROSS JOIN per_group CROSS JOIN ex
""",
)
def hll_merged_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions import text as T

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(T.tokens("text")).alias("token"))
    return SK.hll_merge_groups(toks, "source", "token")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 (sparse) and exact
# cosine (dense) top-50 lists for one query — only RANKS cross the fusion
# boundary, so the incomparable score scales never need calibration.
# ---------------------------------------------------------------------------

_RRF_BM25_Q = "customer order value"


@query(
    "hybrid_rrf_topk",
    f"""
WITH qt AS (
    SELECT unnest(list_distinct(regexp_split_to_array(
        trim(lower('{_RRF_BM25_Q}')), '\\s+'))) AS token
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
), bm25 AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM (
        SELECT tf.doc_id,
               round(sum(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               ), 6) AS score
        FROM tf
        JOIN qt ON qt.token = tf.token
        JOIN df ON df.token = tf.token
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
), qv AS (
    SELECT embedding FROM embeddings WHERE vec_id = 0
), dense AS (
    SELECT neighbor_id AS doc_id,
           row_number() OVER (ORDER BY score DESC, neighbor_id) AS rank
    FROM (
        SELECT c.vec_id AS neighbor_id,
               round(list_dot_product(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                                c.embedding::DOUBLE[]))),
                     6) AS score
        FROM qv q, embeddings c WHERE c.vec_id != 0
    )
), contribs AS (
    SELECT doc_id, 1.0 / (60 + rank) AS contrib
    FROM bm25 WHERE rank <= 50
    UNION ALL
    SELECT doc_id, 1.0 / (60 + rank) FROM dense WHERE rank <= 50
), fused AS (
    SELECT doc_id, round(sum(contrib), 6) AS rrf_score,
           count(*) AS n_lists
    FROM contribs GROUP BY doc_id
)
SELECT doc_id, rrf_score, n_lists,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
           AS fused_rank
FROM fused
QUALIFY fused_rank <= 20
""",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators import (
        retrieval as RT,
        similarity as S,
    )

    docs = _load(spark, sf_dir, "documents")
    emb = _load(spark, sf_dir, "embeddings")
    bm_queries = docs.sparkSession.createDataFrame(
        [("q", _RRF_BM25_Q)], ["query_id", "query"]
    )
    sparse = RT.bm25_topk(docs, bm_queries, k=50).select("doc_id", "rank")
    qv = emb.filter(F.col("vec_id") == 0)
    dense = S.brute_force_topk(qv, emb, k=50).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    fused = RT.rrf_fuse(
        [("bm25", sparse), ("dense", dense)], k=20, c=60
    )
    return fused.select(
        "doc_id", "rrf_score", "n_lists",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


# ---------------------------------------------------------------------------
# Readability (Flesch reading ease, vowel-group syllable heuristic):
# scan-local regexp arithmetic, identical on both engines.
# ---------------------------------------------------------------------------


@query(
    "readability_scores",
    f"""
WITH parts AS (
    SELECT doc_id,
           len({_TOKS}) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences,
           len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syllables
    FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835
             - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
             - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
           AS flesch
FROM parts WHERE n_words > 0
""",
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.text import tokens

    docs = _load(spark, sf_dir, "documents")
    n_words = F.size(tokens("text"))
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syl = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
    return (
        docs.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_sent.cast("long").alias("n_sentences"),
            n_syl.cast("long").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id", "n_words", "n_sentences", "n_syllables",
            F.round(
                F.lit(206.835)
                - 1.015 * (F.col("n_words") / F.col("n_sentences"))
                - 84.6 * (F.col("n_syllables") / F.col("n_words")),
                4,
            ).alias("flesch"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion-window funnel: same three steps, each within 2 days of the
# previous stage. Deadline semantics use the reachability DP (a later
# step-1 event can rescue an expired chain), which in SQL is the chain of
# EXISTS-style range joins below.
# ---------------------------------------------------------------------------

_FUNNEL_GAP_S = 2 * 24 * 3600


@query(
    "funnel_windowed",
    f"""
WITH v AS (
    SELECT user_id, ts FROM events WHERE event_type = 'view'
), c AS (
    SELECT DISTINCT e.user_id, e.ts
    FROM events e JOIN v ON e.user_id = v.user_id
         AND e.ts > v.ts AND e.ts <= v.ts + INTERVAL {_FUNNEL_GAP_S} SECOND
    WHERE e.event_type = 'click'
), p AS (
    SELECT DISTINCT e.user_id, e.ts
    FROM events e JOIN c ON e.user_id = c.user_id
         AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL {_FUNNEL_GAP_S} SECOND
    WHERE e.event_type = 'purchase'
), counts AS (
    SELECT 1 AS step, 'view' AS step_name,
           (SELECT count(DISTINCT user_id) FROM v) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(DISTINCT user_id) FROM c)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(DISTINCT user_id) FROM p)
)
SELECT step, step_name, users,
       round(users / CAST((SELECT users FROM counts WHERE step = 1)
                          AS DOUBLE), 4) AS conv_rate
FROM counts
""",
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.funnel_report(
        events, _FUNNEL_STEPS, max_gap_seconds=_FUNNEL_GAP_S
    )


# ---------------------------------------------------------------------------
# Rolling distinct actives (DAU/WAU/MAU): one range join against the tiny
# day dimension, every window a conditional distinct count in one agg.
# ---------------------------------------------------------------------------


@query(
    "dau_wau_mau",
    """
WITH activity AS (
    SELECT DISTINCT date_trunc('day', ts) AS aday, user_id FROM events
), days AS (
    SELECT DISTINCT aday AS day FROM activity
)
SELECT d.day,
       count(DISTINCT CASE WHEN a.aday > d.day - INTERVAL 1 DAY
                      THEN a.user_id END) AS dau,
       count(DISTINCT CASE WHEN a.aday > d.day - INTERVAL 7 DAY
                      THEN a.user_id END) AS wau,
       count(DISTINCT CASE WHEN a.aday > d.day - INTERVAL 30 DAY
                      THEN a.user_id END) AS mau
FROM days d
JOIN activity a ON a.aday <= d.day AND a.aday > d.day - INTERVAL 30 DAY
GROUP BY d.day
""",
)
def dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return A.rolling_active_users(events, windows=(1, 7, 30))


# ---------------------------------------------------------------------------
# Per-document token entropy (Shannon, natural log) — the "gibberish vs
# repetitive" quality axis: H = ln N - (1/N) Σ n·ln n over token counts.
# ---------------------------------------------------------------------------


@query(
    "token_entropy",
    f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM documents
), tc AS (
    SELECT doc_id, token, count(*) AS n FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       round(ln(CAST(sum(n) AS DOUBLE))
             - sum(n * ln(n)) / CAST(sum(n) AS DOUBLE), 6) AS entropy
FROM tc GROUP BY doc_id
""",
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions import text as T2

    docs = _load(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(T2.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.round(
            F.log(F.sum("n").cast("double"))
            - F.sum(F.col("n") * F.log("n")) / F.sum("n").cast("double"),
            6,
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Continuous-aggregate rollup reuse (the Timescale/Druid materialization
# pattern): the daily frame is derived by RE-AGGREGATING the hourly
# materialization — count/sum/min/max all compose — while the oracle
# computes daily DIRECTLY from raw events. Hash equality between the two
# is the correctness proof that lets a 100 TB pipeline maintain only the
# fine-grain aggregate and serve every coarser grain from it (one scan of
# hours per day instead of one scan of events per query). Sums go through
# DECIMAL so re-aggregation order cannot perturb the double result.
# ---------------------------------------------------------------------------


@query(
    "continuous_rollup",
    """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       count(*) AS n_events,
       CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours,
       round(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE), 2)
           AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY day_epoch
""",
)
def continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour")
            .cast("timestamp")
            .cast("long")
            .alias("day_epoch")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.round(F.sum("s").cast("double"), 2).alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# BFS shortest-hop distance — the WITH RECURSIVE surface. Spark has no
# recursive CTE; the engine provides the equivalent as frontier-
# expansion iteration (graph.bfs_hops), and the oracle IS a recursive
# CTE, so the parity check covers the translation a warehouse user
# needs most. The graph is the shared dup graph (3-cliques — hop 1)
# UNIONed with deterministic reference edges doc -> doc*2 (binary-tree
# chains — genuine multi-hop depth), modeling contamination spreading
# through both near-dup links and document references. Seeds = node id
# divisible by 100; hop capped at 6; min(hop) over the enumerated walk
# is the BFS distance.
# ---------------------------------------------------------------------------


@query(
    "graph_bfs_hops",
    f"""
WITH RECURSIVE aug AS ({_TRI_AUG}),
edges0 AS (
    SELECT id_a AS a, id_b AS b
    FROM ({_PAIRS_SQL.replace("FROM documents", "FROM aug")})
    UNION ALL
    SELECT da.doc_id AS a, db.doc_id AS b
    FROM documents da JOIN documents db ON db.doc_id = da.doc_id * 2
    WHERE da.doc_id >= 1
), edges AS (
    SELECT a AS src, b AS dst FROM edges0
    UNION ALL
    SELECT b AS src, a AS dst FROM edges0
), seeds AS (
    SELECT DISTINCT src AS node FROM edges WHERE src % 100 = 0
), walk(node, hop) AS (
    SELECT node, 0 FROM seeds
    UNION
    SELECT e.dst, w.hop + 1
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.hop < 6
)
SELECT node, CAST(min(hop) AS BIGINT) AS hop
FROM walk GROUP BY node
""",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _load(spark, sf_dir, "documents").select("doc_id")
    refs = (
        ids.filter(F.col("doc_id") >= 1)
        .alias("a")
        .join(
            ids.alias("b"),
            F.col("b.doc_id") == F.col("a.doc_id") * 2,
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    pairs = (
        _aug_dup_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .unionByName(refs)
    )
    edges = G.symmetrize(pairs)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % 100 == 0)
    )
    return G.bfs_hops(edges, seeds, max_hops=6)


# ---------------------------------------------------------------------------
# Seasonal anomaly screen: the time-of-day complement to robust_outliers'
# global median/MAD — each event is judged against the exact p01/p99
# band of its OWN (event_type, hour-of-day) stratum, so a value that is
# normal at peak hour but extreme at 3am is caught, and vice versa.
# Exact percentiles (not mean/std) keep the comparison float-sum-order-
# independent across engines. Scale shape: one (type, hour) aggregation
# — a 24 x |types| frame — broadcast back onto the scan.
# ---------------------------------------------------------------------------


@query(
    "seasonal_extremes",
    """
WITH strata AS (
    SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hr,
           quantile_cont(value, 0.01) AS p01,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type, hr
)
SELECT e.event_id, e.event_type,
       CAST(extract(hour FROM e.ts) AS INTEGER) AS hr,
       e.value, round(s.p01, 6) AS p01, round(s.p99, 6) AS p99,
       CASE WHEN e.value < s.p01 THEN 'low' ELSE 'high' END AS side
FROM events e
JOIN strata s
  ON s.event_type = e.event_type
 AND s.hr = CAST(extract(hour FROM e.ts) AS INTEGER)
WHERE e.value < s.p01 OR e.value > s.p99
""",
)
def seasonal_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    hr = F.hour("ts")
    strata = (
        events.groupBy(F.col("event_type"), hr.alias("hr"))
        .agg(
            F.expr("percentile(value, 0.01)").alias("p01_raw"),
            F.expr("percentile(value, 0.99)").alias("p99_raw"),
        )
    )
    joined = events.select(
        "event_id", "event_type", hr.alias("hr"), "value"
    ).join(F.broadcast(strata), ["event_type", "hr"])
    return (
        joined.filter(
            (F.col("value") < F.col("p01_raw"))
            | (F.col("value") > F.col("p99_raw"))
        )
        .select(
            "event_id",
            "event_type",
            "hr",
            "value",
            F.round("p01_raw", 6).alias("p01"),
            F.round("p99_raw", 6).alias("p99"),
            F.when(F.col("value") < F.col("p01_raw"), F.lit("low"))
            .otherwise(F.lit("high"))
            .alias("side"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion-latency distribution: for every user who completed the
# full view -> click -> purchase funnel (greedy earliest chain), the
# time from first qualifying view to the purchase that completed the
# chain — reported as exact percentiles per funnel cohort size. The
# latency question every funnel report begs next; reuses funnel_stages'
# fold (stage_ts = deepest stage's completion time).
# ---------------------------------------------------------------------------


@query(
    "conversion_latency",
    """
WITH t1 AS (
    SELECT user_id, min(ts) AS ts1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
    SELECT e.user_id, min(e.ts) AS ts2
    FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.ts1
    WHERE e.event_type = 'click' GROUP BY e.user_id
), t3 AS (
    SELECT e.user_id, min(e.ts) AS ts3
    FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.ts2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
), lat AS (
    SELECT t1.user_id,
           epoch_us(t3.ts3) // 1000000 - epoch_us(t1.ts1) // 1000000
               AS latency_s
    FROM t3 JOIN t1 ON t1.user_id = t3.user_id
)
SELECT count(*) AS n_converted,
       CAST(round(quantile_cont(latency_s, 0.5), 0) AS BIGINT) AS p50_s,
       CAST(round(quantile_cont(latency_s, 0.9), 0) AS BIGINT) AS p90_s,
       CAST(round(quantile_cont(latency_s, 0.99), 0) AS BIGINT) AS p99_s,
       CAST(min(latency_s) AS BIGINT) AS min_s,
       CAST(max(latency_s) AS BIGINT) AS max_s
FROM lat
""",
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    stages = A.funnel_stages(events, _FUNNEL_STEPS)
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    done = stages.filter(F.col("stage") == len(_FUNNEL_STEPS)).join(
        first_view, "user_id"
    )
    lat = done.select(
        (
            F.col("stage_ts").cast("timestamp").cast("long")
            - F.col("ts1").cast("timestamp").cast("long")
        ).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 0)
        .cast("long")
        .alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.9)"), 0)
        .cast("long")
        .alias("p90_s"),
        F.round(F.expr("percentile(latency_s, 0.99)"), 0)
        .cast("long")
        .alias("p99_s"),
        F.min("latency_s").alias("min_s"),
        F.max("latency_s").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Session-scoped funnel: a conversion only counts if view -> click ->
# purchase completes INSIDE one session (30-minute inactivity rule, the
# sessionize query's islands) — the product-analytics form, where
# cross-day wandering is not a funnel. Composition of the two existing
# cores: gaps-and-islands session ids feed funnel_stages keyed by
# (user, session), then the same one-row rollup as funnel_report.
# ---------------------------------------------------------------------------


@query(
    "session_funnel",
    """
WITH gaps AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > INTERVAL 30 MINUTE
                OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), sess AS (
    SELECT user_id, event_id, ts, event_type,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_no
    FROM gaps
), s1 AS (
    SELECT user_id, session_no, min(ts) AS ts1 FROM sess
    WHERE event_type = 'view' GROUP BY user_id, session_no
), s2 AS (
    SELECT e.user_id, e.session_no, min(e.ts) AS ts2
    FROM sess e JOIN s1 ON e.user_id = s1.user_id
        AND e.session_no = s1.session_no AND e.ts > s1.ts1
    WHERE e.event_type = 'click' GROUP BY e.user_id, e.session_no
), s3 AS (
    SELECT e.user_id, e.session_no, min(e.ts) AS ts3
    FROM sess e JOIN s2 ON e.user_id = s2.user_id
        AND e.session_no = s2.session_no AND e.ts > s2.ts2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id, e.session_no
), counts AS (
    SELECT 1 AS step, 'view' AS step_name,
           (SELECT count(*) FROM s1) AS sessions
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT step, step_name, sessions,
       round(sessions / CAST((SELECT sessions FROM counts WHERE step = 1)
                             AS DOUBLE), 4) AS conv_rate
FROM counts
""",
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_session).over(wsum).alias("session_no"),
    ).select(
        F.concat_ws(
            "#", F.col("user_id").cast("string"),
            F.col("session_no").cast("string"),
        ).alias("skey"),
        "event_id",
        "ts",
        "event_type",
    )
    report = A.funnel_report(keyed, _FUNNEL_STEPS, key="skey")
    return report.select(
        "step", "step_name",
        F.col("users").alias("sessions"), "conv_rate",
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: users hash deterministically into arms (the
# md5 convention — assignment is reproducible and audit-able, unlike
# RNG); the tested proportion is the purchase share of events per arm
# (user-level "ever purchased" saturates to 1.0 on this data, which
# would zero the pooled variance); the readout is the two-proportion
# z statistic. Everything after the one map-side-combinable count is a
# 2-row frame.
# ---------------------------------------------------------------------------


@query(
    "ab_test_readout",
    """
WITH tagged AS (
    SELECT CASE WHEN CAST('0x' || substr(
               md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 7)
               AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
    FROM events
), arms AS (
    SELECT arm, count(*) AS n_events,
           CAST(sum(is_conv) AS BIGINT) AS n_converted
    FROM tagged GROUP BY arm
), wide AS (
    SELECT
        (SELECT n_events FROM arms WHERE arm = 'A') AS na,
        (SELECT n_converted FROM arms WHERE arm = 'A') AS ca,
        (SELECT n_events FROM arms WHERE arm = 'B') AS nb,
        (SELECT n_converted FROM arms WHERE arm = 'B') AS cb
)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       round(ca / CAST(na AS DOUBLE), 6) AS rate_a,
       round(cb / CAST(nb AS DOUBLE), 6) AS rate_b,
       round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             / sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                    * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                    * (1.0 / na + 1.0 / nb)), 4) AS z_stat
FROM wide
""",
)
def ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    tagged = events.select(
        arm.alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("is_conv"),
    )
    arms = tagged.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("is_conv").cast("long").alias("n_conv"),
    )
    a = arms.filter("arm = 'A'").select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    b = arms.filter("arm = 'B'").select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    wide = a.crossJoin(b)
    ra = F.col("conv_a") / F.col("n_a").cast("double")
    rb = F.col("conv_b") / F.col("n_b").cast("double")
    pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (ra - rb) / F.sqrt(
        pool * (1 - pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline: predict each day's per-type total as
# the same weekday's total one week earlier (lag-7 over the daily
# frame), and score the forecast with MAE and sMAPE. The op every
# anomaly detector / capacity forecast gets compared against before
# anything fancier earns its keep. Daily totals go through DECIMAL so
# the evaluation is summation-order exact; everything after the one
# (type, day) aggregation is a |types| x |days| frame.
# ---------------------------------------------------------------------------


@query(
    "forecast_baseline",
    """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS actual
    FROM events GROUP BY event_type, day
), lagged AS (
    SELECT event_type, day, actual,
           lag(actual, 7) OVER (
               PARTITION BY event_type ORDER BY day) AS forecast
    FROM daily
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days_scored,
       round(avg(abs(actual - forecast)), 4) AS mae,
       round(avg(2 * abs(actual - forecast)
                 / (abs(actual) + abs(forecast))), 6) AS smape
FROM lagged WHERE forecast IS NOT NULL
GROUP BY event_type
""",
)
def forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("actual")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn("forecast", F.lag("actual", 7).over(w))
    scored = lagged.filter(F.col("forecast").isNotNull())
    err = F.abs(F.col("actual") - F.col("forecast"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.round(F.avg(err), 4).alias("mae"),
        F.round(
            F.avg(
                2 * err / (F.abs("actual") + F.abs("forecast"))
            ),
            6,
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch MERGE: per-event-type equi-width sketches over
# a shared global [min, max] combine by summing bin counts (the sketch's
# mergeability identity — same rows as a direct one-pass histogram), then
# answer p50/p90/p99 by in-bin interpolation. Deterministic, so the
# ESTIMATES are strict-oracled, and the one-bin-width error bound is
# value-checked against the engines' exact quantiles in the same row.
# ---------------------------------------------------------------------------


@query(
    "quantile_sketch_merged",
    """
WITH bounds AS (
    SELECT CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events
),
sk AS (
    -- CASE mirrors histogram_sketch's hi==lo degenerate branch (constant
    -- column -> everything in bin 0) so strict parity holds even on a
    -- constant-valued corpus
    SELECT event_type, lo, hi,
           CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                ELSE least(CAST(floor((CAST(value AS DOUBLE) - lo)
                                      / (hi - lo) * 64) AS BIGINT), 63)
           END AS bin,
           count(*) AS cnt
    FROM events CROSS JOIN bounds
    GROUP BY event_type, lo, hi, bin
),
merged AS (
    SELECT lo, hi, bin, CAST(sum(cnt) AS BIGINT) AS cnt
    FROM sk GROUP BY lo, hi, bin
),
cum AS (
    SELECT lo, hi, bin, cnt,
           CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
           CAST((SELECT sum(cnt) FROM merged) AS DOUBLE) AS n
    FROM merged
),
qs(q) AS (VALUES (0.5), (0.9), (0.99)),
est AS (
    SELECT q,
           lo + (bin + (q * n - (cum - cnt)) / cnt) * ((hi - lo) / 64)
               AS estimate
    FROM qs CROSS JOIN cum
    WHERE cum >= q * n AND (cum - cnt) < q * n
),
ex AS (
    SELECT * FROM (VALUES
        (0.5, (SELECT quantile_cont(value, 0.5) FROM events)),
        (0.9, (SELECT quantile_cont(value, 0.9) FROM events)),
        (0.99, (SELECT quantile_cont(value, 0.99) FROM events))
    ) t(q, exact_value)
),
bw AS (SELECT (hi - lo) / 64 AS err_bound FROM bounds)
SELECT est.q,
       round(estimate, 6) AS estimate,
       round(exact_value, 6) AS exact_value,
       round(abs(estimate - exact_value), 6) AS abs_err,
       round(err_bound, 6) AS err_bound,
       abs(estimate - exact_value) <= err_bound AS within_bound
FROM est JOIN ex ON est.q = ex.q CROSS JOIN bw
""",
)
def quantile_sketch_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    events = _load(spark, sf_dir, "events")
    sk = SK.histogram_sketch(events, "event_type", "value", 64)
    # the merged sketch (<= 64 rows) feeds the quantile read AND the
    # error bound: persist it so the two scan passes behind it (bounds +
    # binning) run exactly once
    merged = SK.merge_histogram_sketches(sk).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    est = SK.histogram_quantiles(merged, [0.5, 0.9, 0.99], 64)
    exact = _load(spark, sf_dir, "events").agg(
        F.expr("percentile(value, 0.5D)").alias("e50"),
        F.expr("percentile(value, 0.9D)").alias("e90"),
        F.expr("percentile(value, 0.99D)").alias("e99"),
    ).selectExpr(
        "stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) AS (q, exact_value)"
    )
    # bounds ride in the sketch rows — no third scan of events
    bound = merged.agg(
        ((F.max("hi") - F.max("lo")) / 64).alias("err_bound")
    )
    err = F.abs(F.col("estimate") - F.col("exact_value"))
    return (
        est.join(exact, "q")
        .crossJoin(F.broadcast(bound))
        .select(
            "q",
            F.round("estimate", 6).alias("estimate"),
            F.round("exact_value", 6).alias("exact_value"),
            F.round(err, 6).alias("abs_err"),
            F.round("err_bound", 6).alias("err_bound"),
            (err <= F.col("err_bound")).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped quantile serving from the SAME sketch pass: per-event-type
# p50/p95 interpolated from the per-group histogram (shared global
# binning), value-checked against the per-group exact quantiles. One
# shared scan serves every group's quantiles — the "per-tenant latency
# percentiles" shape — with windows partitioned by group over bin rows.
# ---------------------------------------------------------------------------


@query(
    "quantile_sketch_by_group",
    """
WITH bounds AS (
    SELECT CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events
),
sk AS (
    -- same hi==lo constant-column guard as quantile_sketch_merged's sk
    SELECT event_type, lo, hi,
           CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                ELSE least(CAST(floor((CAST(value AS DOUBLE) - lo)
                                      / (hi - lo) * 64) AS BIGINT), 63)
           END AS bin,
           count(*) AS cnt
    FROM events CROSS JOIN bounds
    GROUP BY event_type, lo, hi, bin
),
cum AS (
    SELECT event_type, lo, hi, bin, cnt,
           CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS n
    FROM sk
),
qs(q) AS (VALUES (0.5), (0.95)),
est AS (
    SELECT event_type, q,
           lo + (bin + (q * n - (cum - cnt)) / cnt) * ((hi - lo) / 64)
               AS estimate
    FROM qs CROSS JOIN cum
    WHERE cum >= q * n AND (cum - cnt) < q * n
),
ex AS (
    SELECT event_type, 0.5 AS q, quantile_cont(value, 0.5) AS exact_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.95 AS q, quantile_cont(value, 0.95) AS exact_value
    FROM events GROUP BY event_type
)
SELECT est.event_type, est.q,
       round(estimate, 6) AS estimate,
       round(exact_value, 6) AS exact_value,
       round(abs(estimate - exact_value), 6) AS abs_err
FROM est JOIN ex ON est.event_type = ex.event_type AND est.q = ex.q
""",
)
def quantile_sketch_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    sk = SK.histogram_sketch(events, "event_type", "value", 64)
    est = SK.histogram_quantiles(
        sk, [0.5, 0.95], 64, group_col="event_type"
    )
    exact = (
        _load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5D)").alias("e50"),
            F.expr("percentile(value, 0.95D)").alias("e95"),
        )
        .selectExpr(
            "event_type",
            "stack(2, 0.5D, e50, 0.95D, e95) AS (q, exact_value)",
        )
    )
    err = F.abs(F.col("estimate") - F.col("exact_value"))
    return est.join(exact, ["event_type", "q"]).select(
        "event_type",
        "q",
        F.round("estimate", 6).alias("estimate"),
        F.round("exact_value", 6).alias("exact_value"),
        F.round(err, 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Batch twin of the STREAMING windowed value histogram
# (streaming/windowed.py:windowed_value_histogram — same function, same
# code path batch or stream): per-day fixed-bounds histograms with
# out-of-range clamping into the edge bins. Value-checks the exact
# binning/windowing the streaming leg emits, the same way
# near_dup_first_wins pins the streaming dedup.
# ---------------------------------------------------------------------------


@query(
    "windowed_histogram",
    """
SELECT date_trunc('day', ts) AS window_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
       least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
                                 / 1000.0 * 16) AS BIGINT), 0), 15) AS bin,
       count(*) AS cnt
FROM events
GROUP BY 1, 2, 3
""",
)
def windowed_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.streaming.windowed import (
        windowed_value_histogram,
    )

    events = _load(spark, sf_dir, "events")
    wh = windowed_value_histogram(
        events, ts_col="ts", value_col="value",
        lo=0.0, hi=1000.0, n_bins=16, window="1 day",
    )
    return wh.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "bin",
        "cnt",
    )
