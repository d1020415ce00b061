"""Streaming training-data ingest: the streaming counterpart of
``operators/pipeline.py:clean_corpus`` — documents arrive continuously,
and each must pass the quality gate and content-hash dedup before landing
in the training corpus sink.

Pipeline: quality score (scan-local expressions) -> threshold filter ->
exact dedup on the normalized-content md5 within a watermark window ->
per-doc stats projection. All state is bounded: dedup state for a hash is
freed once the watermark passes (dropDuplicatesWithinWatermark), which is
the property that keeps a 100 TB/day ingest from accumulating unbounded
state. FULL near-dup (minhash-LSH) removal has two stream-expressible forms:
screening arrivals against a static snapshot of history's band keys
(screen_stream_near_dups, here — state-free) and first-wins dedup over
the stream itself (streaming/dedup_stream.py — per-bucket exemplar
state, bounded by the corpus's DISTINCT bucket count). The corpus-wide
retroactive variant (re-deciding which copy to keep after all copies
are seen) stays a batch compaction step over the landed corpus
(operators/pipeline.clean_corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from kafka_stream_unify_order_messages_spark.functions import text as T
from kafka_stream_unify_order_messages_spark.operators.dedup import (
    normalized_text,
)
from kafka_stream_unify_order_messages_spark.streaming.joins import (
    dedup_within_watermark,
)


def clean_corpus_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    quality_threshold: float = 0.4,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming corpus cleaning over a streaming DataFrame with columns
    (id, text, ingest timestamp). Returns the cleaned append-mode stream
    (id, text, content_hash, n_tokens, quality) — duplicates of a content
    hash arriving within ``watermark_delay`` are dropped, first-wins,
    matching batch ``clean_corpus``'s min-id canonical-copy rule under
    arrival order.
    """
    scored = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.col(ts_col),
        F.md5(normalized_text(text_col)).alias("content_hash"),
        T.quality_score(text_col).alias("quality"),
    ).filter(F.col("quality") >= quality_threshold)

    deduped = dedup_within_watermark(
        scored, ["content_hash"], ts_col=ts_col,
        watermark_delay=watermark_delay,
    )
    return deduped.select(
        id_col,
        text_col,
        "content_hash",
        T.token_count(text_col).alias("n_tokens"),
        "quality",
    )


def screen_stream_near_dups(
    docs: DataFrame,
    corpus_band_keys: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Screen a STREAM of documents against a static snapshot of the
    already-ingested corpus's MinHash band keys: forward only documents
    with no LSH band collision (i.e. not near-duplicates of history).

    The corpus-wide band join that full near-dup removal needs is not
    stream-expressible (unbounded state), but the incremental half IS:
    history is a static (band, band_key) table — refreshed per compaction
    cycle — and each arriving document carries its own keys.

    Shape: per-document band keys are pure scan-local expressions
    (``band_keys`` over minhash_signature_local's ``_sig``: no groupBy,
    legal in append mode), then one stream-static LEFT join per band
    against that band's distinct bucket set, keeping rows where every
    probe missed. No streaming aggregation, no watermark requirement,
    state-free.

    ``corpus_band_keys`` must be a static DataFrame with (band, band_key)
    — e.g. minhash_band_keys(minhash_signatures_wide(corpus)) or a
    persisted snapshot table.
    """
    from kafka_stream_unify_order_messages_spark.operators.dedup import (
        band_keys,
        minhash_signature_local,
    )

    out = minhash_signature_local(
        docs, text_col=text_col, num_hashes=num_hashes, shingle_n=shingle_n
    ).select(*docs.columns, band_keys(F.col("_sig"), bands).alias("_bks"))
    for b in range(bands):
        bucket = (
            corpus_band_keys.filter(F.col("band") == b)
            .select(F.col("band_key").alias(f"_cbk{b}"))
            .distinct()  # static side: safe, and prevents row fan-out
        )
        out = out.join(
            bucket, on=out["_bks"][b]["band_key"] == bucket[f"_cbk{b}"], how="left"
        )
    miss_all = None
    for b in range(bands):
        cond = F.col(f"_cbk{b}").isNull()
        miss_all = cond if miss_all is None else (miss_all & cond)
    return out.filter(miss_all).select(*docs.columns)


def cell_assign_expr(vec_col, centroids) -> F.Column:
    """Scan-local IVF cell assignment as a pure Column expression:
    argmin over the broadcast centroid list of ``-2*dot(v, c) + |c|^2``
    (the |v|^2 term is constant per row), ties to the lowest cell id —
    exactly `operators/similarity.ivf_assign`'s rule, but with no numpy
    batch and no aggregation, so it is legal in an append-mode STREAMING
    plan. Cost: k x dim multiply-adds per row as interpreted HOF ops —
    fine for per-arrival assignment, not for corpus-scale batch passes
    (those use the GEMM kernel).
    """
    import math

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cands = []
    for cid, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = -2.0 * F.aggregate(
            F.zip_with(v, lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) + F.lit(math.fsum(float(x) * float(x) for x in c))
        cands.append(
            F.struct(d.alias("d"), F.lit(cid).cast("int").alias("cid"))
        )
    return F.array_min(F.array(*cands))["cid"]


def screen_stream_semantic(
    docs: DataFrame,
    index_cells: DataFrame,
    centroids,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    index_vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style screen for a STREAM of embedded documents against a
    persisted IVF index of history: forward only arrivals whose cosine
    vs every indexed vector in their assigned cell stays below
    ``threshold``. The embedding analogue of `screen_stream_near_dups` —
    state-free (one scan-local cell assignment + one stream-static
    LEFT ANTI join on the cell), so it is append-legal with no watermark.

    Recall contract: nprobe=1 BY DESIGN — an arrival is only compared
    against its own cell. Near-dups that land across a cell boundary are
    caught by the periodic batch compaction (`semantic_dedup`), the same
    division of labor as the near-dup screen. ``index_cells`` must carry
    (index_vec_col, centroid_id) — the `<path>/cells` half
    of `save_ivf_index`; partition pruning applies when the anti join's
    cell filter reaches that layout. ``id_col`` rides through untouched
    with every other arrival column.
    """
    from kafka_stream_unify_order_messages_spark.functions.vectors import (
        cosine,
    )

    tagged = docs.withColumn("_cell", cell_assign_expr(vec_col, centroids))
    idx = index_cells.select(
        F.col("centroid_id").alias("_icell"),
        F.col(index_vec_col).alias("_ivec"),
    )
    hit = (F.col("_icell") == F.col("_cell")) & (
        cosine(F.col(vec_col), F.col("_ivec")) >= F.lit(threshold)
    )
    return tagged.join(idx, on=hit, how="left_anti").drop("_cell")
