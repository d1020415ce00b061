"""Streaming corpus ingest (streaming/ingest.py): quality gate + bounded
content-hash dedup, end-to-end through a file source and memory sink.
Event-time based (watermark dedup), so processAllAvailable settles.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_stream_unify_order_messages_spark.streaming import (
    clean_corpus_stream,
)

COLS = ["doc_id", "text", "ingest_ts"]
SCHEMA = "doc_id long, text string, ingest_ts string"

GOOD = (
    "the quick brown fox jumps over the lazy dog and keeps running through "
    "the quiet field while the morning light slowly fills the open sky with "
    "warm color and the day begins to take its familiar shape once more "
) * 3  # comfortably past the length-score knee


def write_batch(src_dir, rows, batch_no):
    table = pa.table({k: [r[i] for r in rows] for i, k in enumerate(COLS)})
    pq.write_table(table, f"{src_dir}/batch-{batch_no:04d}.parquet")


def test_stream_ingest_quality_gate_and_dedup(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    name = f"ingest_{uuid.uuid4().hex[:8]}"
    docs = spark.readStream.schema(SCHEMA).parquet(str(src))
    query = (
        clean_corpus_stream(docs, quality_threshold=0.4)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        write_batch(
            src,
            [
                (1, GOOD, "2026-01-01T00:00:00Z"),
                # exact duplicate modulo case/whitespace: dropped
                (2, GOOD.upper() + "  ", "2026-01-01T00:00:01Z"),
                # junk: too short, fails the quality gate
                (3, "x", "2026-01-01T00:00:02Z"),
                # distinct good doc: kept
                (4, GOOD + " with an extra distinct tail sentence here",
                 "2026-01-01T00:00:03Z"),
            ],
            0,
        )
        query.processAllAvailable()
        rows = {r["doc_id"]: r for r in spark.table(name).collect()}
        assert set(rows) == {1, 4}
        assert rows[1]["n_tokens"] > 50
        assert rows[1]["quality"] >= 0.4
        assert rows[1]["content_hash"] is not None

        # a re-send of doc 1's content within the watermark window is
        # still a duplicate (state not yet expired)
        write_batch(src, [(5, GOOD, "2026-01-01T00:00:04Z")], 1)
        query.processAllAvailable()
        assert 5 not in {r["doc_id"] for r in spark.table(name).collect()}
    finally:
        query.stop()


def test_screen_stream_near_dups_vs_static_history(spark, tmp_path):
    from kafka_stream_unify_order_messages_spark.operators import dedup as D
    from kafka_stream_unify_order_messages_spark.streaming import (
        screen_stream_near_dups,
    )

    history = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    corpus_bands = D.minhash_band_keys(
        D.minhash_signatures_wide(history, num_hashes=16, shingle_n=2),
        bands=8,
    )

    src = tmp_path / "in"
    src.mkdir()
    name = f"screen_{uuid.uuid4().hex[:8]}"
    docs = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    kept_stream = screen_stream_near_dups(
        docs, corpus_bands, num_hashes=16, bands=8, shingle_n=2
    )
    query = (
        kept_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        table = pa.table(
            {
                "doc_id": [10, 11, 12],
                "text": [
                    "the quick brown fox jumps over the lazy dog",  # exact dup
                    "the quick brown fox jumps over the lazy cat",  # near dup
                    "unrelated text with no overlap whatsoever here",  # novel
                ],
            }
        )
        pq.write_table(table, f"{src}/batch-0000.parquet")
        query.processAllAvailable()
        kept = {r["doc_id"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert kept == {12}
        # schema passthrough: only the input columns come out
        assert spark.table(name).columns == ["doc_id", "text"]
    finally:
        query.stop()


def test_screen_stream_semantic_vs_brute_force(spark, tmp_path):
    """Streaming semantic screen vs a persisted IVF index: arrivals that
    re-send an indexed vector are dropped (cos 1.0 in their own cell);
    the kept set equals the brute-force within-cell rule, and the
    scan-local cell assignment matches the batch GEMM assigner."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from kafka_stream_unify_order_messages_spark.operators import (
        similarity as S,
    )
    from kafka_stream_unify_order_messages_spark.streaming.ingest import (
        cell_assign_expr,
        screen_stream_semantic,
    )

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(200)
    cents = np.asarray(
        [S.hyperplane(900 + c, 64) for c in range(8)], dtype=np.float64
    )
    path = str(tmp_path / "ivf")
    S.save_ivf_index(corpus, path, n_centroids=8, centroids=cents)
    cells = spark.read.parquet(path + "/cells")
    cent_list = [list(map(float, c)) for c in cents]

    # scan-local assignment == batch GEMM assignment
    got_cells = {
        r["vec_id"]: r["c"]
        for r in corpus.withColumn(
            "c", cell_assign_expr("embedding", cent_list)
        ).collect()
    }
    want_cells = {
        r["vec_id"]: r["centroid_id"]
        for r in S.ivf_assign(corpus, cents).collect()
    }
    assert got_cells == want_cells

    # arrivals: 5 verbatim re-sends of indexed vectors + 5 fresh randoms
    rng = np.random.default_rng(7)
    indexed = corpus.limit(5).collect()
    arrivals = [
        (9000 + i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(indexed)
    ] + [
        (9100 + i, [float(x) for x in rng.normal(size=64)])
        for i in range(5)
    ]
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [a[0] for a in arrivals],
            "embedding": [a[1] for a in arrivals],
        }),
        f"{src}/b0.parquet",
    )
    name = f"sem_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(
        "doc_id long, embedding array<double>"
    ).parquet(str(src))
    q = (
        screen_stream_semantic(
            stream, cells, cent_list, threshold=0.99
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = {r["doc_id"] for r in spark.table(name).collect()}
    finally:
        q.stop()

    # brute-force expectation: drop iff some indexed vector in the
    # arrival's own cell has cosine >= threshold
    cell_rows = cells.collect()
    by_cell = {}
    for r in cell_rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        by_cell.setdefault(r["centroid_id"], []).append(v)
    want_kept = set()
    for doc_id, vec in arrivals:
        v = np.asarray(vec)
        d = ((cents - v) ** 2).sum(axis=1) - (v * v).sum()
        cell = int(np.argmin(d))
        hits = [
            float(v @ u / (np.linalg.norm(v) * np.linalg.norm(u)))
            for u in by_cell.get(cell, [])
        ]
        if not any(h >= 0.99 for h in hits):
            want_kept.add(doc_id)
    assert kept == want_kept
    assert all(9000 + i not in kept for i in range(5))  # re-sends dropped
