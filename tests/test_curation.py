"""Corpus-curation operator semantics: deterministic shuffle-sharding,
hash sampling, document chunking, duplicate n-gram spans."""

from __future__ import annotations

import hashlib

import pytest

from kafka_stream_unify_order_messages_spark.operators import curation as C
from kafka_stream_unify_order_messages_spark.operators import dedup as D


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "one two three"),
        (4, "solo"),
        (5, "x " * 100),  # 100 tokens, all identical
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _ref_shard(doc_id: int, seed: str = "seed42", n: int = 32) -> tuple[str, int]:
    rk = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()
    return rk, int(rk[:7], 16) % n


def test_training_shuffle_matches_independent_md5_oracle(docs):
    out = C.training_shuffle(docs, n_shards=32).collect()
    assert len(out) == 5
    ranks = {}
    for r in out:
        rk, shard = _ref_shard(r["doc_id"])
        assert r["shard"] == shard
        ranks.setdefault(shard, []).append((rk, r["pos"]))
    # positions within a shard enumerate 1..k in md5-rank order
    for shard, pairs in ranks.items():
        pairs.sort()
        assert [p for _, p in pairs] == list(range(1, len(pairs) + 1))


def test_training_shuffle_is_seed_sensitive_and_deterministic(docs):
    a = {(r["doc_id"], r["shard"]) for r in C.training_shuffle(docs).collect()}
    b = {(r["doc_id"], r["shard"]) for r in C.training_shuffle(docs).collect()}
    c = {
        (r["doc_id"], r["shard"])
        for r in C.training_shuffle(docs, seed="other").collect()
    }
    assert a == b
    assert a != c  # a different epoch seed permutes shard assignment


def test_hash_sample_is_a_pure_function_of_seed_and_id(docs):
    kept = {r["doc_id"] for r in C.hash_sample(docs, rate_bp=5000).collect()}
    again = {r["doc_id"] for r in C.hash_sample(docs, rate_bp=5000).collect()}
    assert kept == again
    for doc_id in [1, 2, 3, 4, 5]:
        rk = hashlib.md5(f"sample42:{doc_id}".encode()).hexdigest()
        expected = int(rk[:7], 16) % 10000 < 5000
        assert (doc_id in kept) == expected
    assert C.hash_sample(docs, rate_bp=10000).count() == 5
    assert C.hash_sample(docs, rate_bp=0).count() == 0


def test_chunk_documents_covers_all_tokens_with_overlap(docs):
    out = [
        r
        for r in C.chunk_documents(docs, chunk_size=4, stride=3).collect()
        if r["doc_id"] == 1
    ]
    out.sort(key=lambda r: r["chunk_idx"])
    # 8 tokens, stride 3 -> starts 1,4,7; sizes 4,4,2
    assert [(r["start_pos"], r["n_tokens"]) for r in out] == [
        (1, 4), (4, 4), (7, 2),
    ]
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]
    toks = "alpha beta gamma delta epsilon zeta eta theta".split()
    for r in out:
        piece = " ".join(toks[r["start_pos"] - 1 : r["start_pos"] - 1 + 4])
        assert r["chunk_hash"] == hashlib.md5(piece.encode()).hexdigest()


def test_chunk_documents_short_doc_is_one_chunk(docs):
    out = [
        r
        for r in C.chunk_documents(docs, chunk_size=64, stride=48).collect()
        if r["doc_id"] == 4
    ]
    assert len(out) == 1
    assert out[0]["n_tokens"] == 1 and out[0]["chunk_idx"] == 0


def test_duplicate_ngram_spans_flags_cross_doc_and_internal_repeats(docs):
    out = {r["doc_id"]: r for r in D.duplicate_ngram_spans(docs, n=5).collect()}
    # docs 1 and 2 are identical: every 5-gram duplicated across them
    assert out[1]["n_grams"] == 4 and out[1]["n_dup"] == 4
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["dup_frac"] == 1.0
    # doc 5 repeats "x x x x x" internally -> all positions duplicated
    assert out[5]["n_grams"] == 96 and out[5]["dup_frac"] == 1.0
    # docs with < 5 tokens produce no profile row
    assert 3 not in out and 4 not in out


def test_duplicate_ngram_spans_unique_doc_scores_zero(spark):
    rows = [
        (1, "a b c d e f g"),
        (2, "h i j k l m n"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.duplicate_ngram_spans(df, n=5).collect()}
    assert out[1]["n_dup"] == 0 and out[1]["dup_frac"] == 0.0
    assert out[2]["n_dup"] == 0


def test_near_dup_incremental_screens_by_band_collision(spark):
    old = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact
            (11, "the quick brown fox jumps over the lazy cat"),  # near
            (12, "unrelated text with no overlap whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    held = {
        r["doc_id"]
        for r in D.near_dup_incremental(new, old, num_hashes=16, bands=8, shingle_n=2).collect()
    }
    assert 10 in held  # identical -> every band collides
    assert 11 in held  # one-token change -> some band collides
    assert 12 not in held


def test_scan_local_band_keys_match_aggregated_path(spark):
    """The batch aggregate signature and the scan-local one are the same
    array, and so give the same band keys — on sf0.001 and on a frame of
    degenerate texts (null, empty, whitespace-only, 1- and 2-token docs,
    repeated shingles) that the shingler maps to one "" shingle or to
    duplicate shingles."""
    import pyspark.sql.functions as F

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "  \t \n "),
            (4, "solo"),
            (5, "two words"),
            (6, "a b c a b c a b c"),
            (7, "x " * 50),
        ],
        "doc_id long, text string",
    )
    sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for docs in (sf, edge):
        wide = D.minhash_signatures_wide(docs)
        local = D.minhash_signature_local(docs).select("doc_id", "_sig")
        sigs = {r["doc_id"]: list(r["sig"]) for r in wide.collect()}
        assert sigs == {r["doc_id"]: list(r["_sig"]) for r in local.collect()}
        assert len(sigs) == docs.count()
        batch_keys = set(map(tuple, D.minhash_band_keys(wide).collect()))
        local_bands = local.select(
            "doc_id", F.inline(D.band_keys(F.col("_sig"), 4))
        )
        # verified-mode stream checkpoints hold a non-nullable band_key
        # state key; Spark rejects a nullable one on restart
        assert not local_bands.schema["band_key"].nullable
        local_keys = set(map(tuple, local_bands.collect()))
        assert batch_keys == local_keys
        assert len(batch_keys) == 4 * len(sigs)


def test_blocked_fuzzy_pairs_semantics(spark):
    from kafka_stream_unify_order_messages_spark.operators.fuzzy import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (1, "jonathan smith", "us"),
        (2, "jonathon smith", "us"),   # 1 edit
        (3, "jonathan smythe", "us"),  # 2 edits
        (4, "jonathan smith", "de"),   # identical but different block
        (5, "entirely other name", "us"),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "country"])
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ["country"], max_dist=2
        ).collect()
    }
    # (2,3) is 3 edits -> beyond max_dist; (1,4) blocked by country
    assert out == {(1, 2): 1, (1, 3): 2}


def test_pack_shards_matches_python_cumsum_oracle_random_sizes(spark):
    import random

    from kafka_stream_unify_order_messages_spark.operators.packing import (
        pack_shards,
    )

    rng = random.Random(23)
    for trial, (budget, width) in enumerate([(500, 7), (1000, 100), (64, 1)]):
        rows = [
            (i, rng.randrange(1, 400))
            for i in sorted(rng.sample(range(10_000), 300))
        ]
        df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        got = {
            r["doc_id"]: r["shard"]
            for r in pack_shards(
                df, shard_budget=budget, bucket_width=width
            ).collect()
        }
        # oracle: plain running sum in id order
        acc, expect = 0, {}
        for i, n in rows:
            expect[i] = acc // budget
            acc += n
        assert got == expect, f"trial {trial}"


def test_pack_sequences_matches_python_concat_split_oracle(spark):
    import random

    from kafka_stream_unify_order_messages_spark.operators.packing import (
        pack_sequences,
    )

    rng = random.Random(31)
    for trial, (seq_len, width) in enumerate([(64, 7), (100, 100), (8, 1)]):
        rows = [
            (i, rng.randrange(1, 150))
            for i in sorted(rng.sample(range(5_000), 200))
        ]
        df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        got = {
            (r["doc_id"], r["seq_id"]): (
                r["seq_offset"],
                r["doc_offset"],
                r["span_len"],
            )
            for r in pack_sequences(
                df, seq_len=seq_len, bucket_width=width
            ).collect()
        }
        # oracle: concatenate in id order, cut every seq_len tokens
        acc, expect = 0, {}
        for i, n in rows:
            start, end = acc, acc + n
            for s in range(start // seq_len, (end - 1) // seq_len + 1):
                span_start = max(start, s * seq_len)
                span_end = min(end, (s + 1) * seq_len)
                expect[(i, s)] = (
                    span_start - s * seq_len,
                    span_start - start,
                    span_end - span_start,
                )
            acc = end
        assert got == expect, f"trial {trial}"
        # invariants: spans tile every sequence exactly (no gap, no
        # overlap, no padding except the tail) and cover every document
        per_doc: dict = {}
        per_seq: dict = {}
        for (i, s), (_, _, ln) in got.items():
            per_doc[i] = per_doc.get(i, 0) + ln
            per_seq[s] = per_seq.get(s, 0) + ln
        assert per_doc == dict(rows)
        total = sum(n for _, n in rows)
        for s, filled in per_seq.items():
            expected = min(seq_len, total - s * seq_len)
            assert filled == expected, (trial, s)


def test_remove_duplicate_spans_cuts_non_canonical_occurrences(spark):
    rows = [
        (1, "a b c d e f g"),          # canonical holder of "a b c d e"
        (2, "a b c d e x y"),          # loses positions 1-5
        (3, "p q r s t p q r s t"),    # internal repeat: loses 6-10
        (4, "one two"),                # < n tokens: untouched
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicate_spans(docs, n=5).collect()
    }
    assert out[1]["n_removed"] == 0
    assert out[1]["cleaned_text"] == "a b c d e f g"
    assert out[2]["n_removed"] == 5
    assert out[2]["cleaned_text"] == "x y"
    assert out[3]["n_removed"] == 5
    assert out[3]["cleaned_text"] == "p q r s t"
    assert out[4]["n_removed"] == 0
    assert out[4]["cleaned_text"] == "one two"
    assert out[3]["n_tokens"] == 10


def test_remove_duplicate_spans_exact_dup_doc_empties(spark):
    docs = spark.createDataFrame(
        [(1, "u v w x y z"), (2, "u v w x y z")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r for r in D.remove_duplicate_spans(docs, n=5).collect()
    }
    assert out[1]["cleaned_text"] == "u v w x y z"
    assert out[2]["cleaned_text"] == ""
    assert out[2]["n_removed"] == 6


def test_scd2_intervals_islands_and_open_interval(spark):
    from kafka_stream_unify_order_messages_spark.operators import warehouse as W

    rows = [
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "a"),
        (2, 10, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = sorted(
        W.scd2_intervals(df, "k", "v", ts_col="ts").collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    got = [
        (r["k"], r["version"], r["v"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in out
    ]
    assert got == [
        (1, 1, "a", 10, 30, 2),   # two consecutive a's collapse
        (1, 2, "b", 30, 40, 1),
        (1, 3, "a", 40, None, 2 - 1),  # re-appearing value = new version
        (2, 1, "x", 10, None, 1),
    ]


def test_merge_upsert_semantics(spark):
    from kafka_stream_unify_order_messages_spark.operators import warehouse as W

    target = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [(2, "TWO", "U"), (3, None, "D"), (4, "four", "I")],
        ["k", "v", "op"],
    )
    out = {r["k"]: r["v"] for r in W.merge_upsert(target, changes, ["k"]).collect()}
    assert out == {1: "one", 2: "TWO", 4: "four"}


def test_global_rank_matches_python_sort_any_partitioning(spark):
    import random

    from kafka_stream_unify_order_messages_spark.operators.curation import (
        global_rank,
    )

    rng = random.Random(47)
    rows = [
        (i, rng.choice([0.1, 0.25, 0.25, 0.5, 0.9]))  # heavy key ties
        for i in rng.sample(range(100_000), 500)
    ]
    expect = {
        i: r + 1
        for r, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    for n_parts in (1, 7, 32):
        df = spark.createDataFrame(rows, ["doc_id", "score"]).repartition(11)
        got = {
            r["doc_id"]: r["rank"]
            for r in global_rank(
                df, ["score", "doc_id"], n_partitions=n_parts
            ).collect()
        }
        assert got == expect, f"n_partitions={n_parts}"


def test_cap_per_group_bounds_and_determinism(spark):
    import hashlib

    from kafka_stream_unify_order_messages_spark.operators.curation import (
        cap_per_group,
    )

    # group "big" has 20 rows (capped to 5), "small" has 3 (kept whole)
    rows = [(i, "big") for i in range(20)] + [(100 + i, "small") for i in range(3)]
    expect_big = sorted(
        range(20),
        key=lambda i: hashlib.md5(f"cap42:{i}".encode()).hexdigest(),
    )[:5]
    for n_parts in (1, 8):
        df = spark.createDataFrame(rows, ["doc_id", "source"]).repartition(
            n_parts
        )
        out = cap_per_group(df, ["source"], cap=5).collect()
        by_group: dict = {}
        for r in out:
            by_group.setdefault(r["source"], []).append(r)
        assert sorted(r["doc_id"] for r in by_group["big"]) == sorted(
            expect_big
        ), f"n_parts={n_parts}"
        assert len(by_group["small"]) == 3
        # grp_rank enumerates the kept subset 1..k in md5 order
        assert sorted(r["grp_rank"] for r in by_group["big"]) == [1, 2, 3, 4, 5]


def test_span_corruption_reconstructs_original(spark):
    import re

    from kafka_stream_unify_order_messages_spark.operators import (
        curation as CU,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(30)],
        ["doc_id", "text"],
    )
    out = CU.span_corruption(docs, rate_bp=2000, span_len=3).collect()
    assert any(r.n_spans > 0 for r in out)
    for r in out:
        src, tgt = r.corrupted_text.split(), r.target_text.split()
        sent = re.compile(r"<extra_id_(\d+)>$")
        # sentinels appear once each, numbered 0..n_spans-1, same order
        # in input and target
        src_ids = [int(sent.match(t).group(1)) for t in src if sent.match(t)]
        tgt_ids = [int(sent.match(t).group(1)) for t in tgt if sent.match(t)]
        assert src_ids == tgt_ids == list(range(r.n_spans))
        # splicing each target span back over its sentinel reconstructs
        # the original document exactly
        spans = {}
        cur = None
        for t in tgt:
            m = sent.match(t)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in src:
            m = sent.match(t)
            rebuilt.extend(spans[int(m.group(1))] if m else [t])
        assert rebuilt == [f"w{r.doc_id}_{j}" for j in range(40)]
        # every masked run is >= span_len unless clipped by doc end
        for k, s in spans.items():
            assert len(s) >= 3 or rebuilt[-len(s):] == s
