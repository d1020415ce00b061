"""Deduplication operators for large-scale document corpora.

Four families, all shuffle-disciplined for the 100 TB design point:

- exact       — hash-groupBy on a content digest; one shuffle on a 32-byte
                key regardless of document size.
- minhash LSH — shingle → per-seed min-hash signature → banded bucket join;
                candidate generation never compares all pairs, only
                same-bucket ones. Signatures/bands are md5-based and
                portable to DuckDB for oracle checking.
- simhash     — sign-aggregated token-hash fingerprint (32 or 64 bit)
                computed as N independent aggregate expressions (no
                per-bit explode). Use 64-bit beyond ~10^4 docs: banding
                slices the fingerprint into equality keys, and 8-bit
                slices (256 buckets) saturate — measured quadratic at
                the 500k-doc ramp tier (SCALING.md).
- n-gram Jaccard — exact pairwise similarity on a *candidate subset*
                (LSH output or an explicit filter); the only quadratic
                piece, deliberately bounded.

No Python UDFs anywhere — everything is hash/explode/groupBy, which keeps
the hot path in whole-stage codegen and lets AQE coalesce the bucket join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from kafka_stream_unify_order_messages_spark.functions.text import tokens


def normalized_text(text: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts; keep the minimum id as canonical.

    Returns (content_hash, keep_id, n_copies, dup_ids_csv).
    """
    hashed = df.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(id_col)), lambda x: x.cast("string")
            ),
            ",",
        ).alias("dup_ids_csv"),
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a BOUND token-array column.

    ``toks`` must be an attribute reference (a materialized column), not a
    computed expression: interpreted higher-order functions re-evaluate
    free expressions on every access (no common-subexpression
    elimination), so passing ``tokens(text)`` directly would re-run the
    regexp split n times per shingle. With a bound column, ``element_at``
    per gram position is O(1) — vs ``slice``, which allocates an
    n-element array per shingle.
    """
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def gram_instances_from_tokens(toks: Column, n: int = 2) -> Column:
    """ALL word n-gram instances (multiplicity preserved) from a BOUND
    token-array column — the frequency-counting sibling of
    ``shingles_from_tokens`` (which deduplicates for set-similarity).
    Documents shorter than ``n`` tokens contribute nothing (empty
    array), mirroring the ``generate_series(1, len-n+1)`` oracle form.
    Same binding contract as ``shingles_from_tokens``: pass an
    attribute reference, not a computed expression."""
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array())


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the tokenized text (empty-safe).

    Self-contained variant (tokenizes inline); pipelines that explode
    shingles should materialize tokens first and use
    ``shingles_from_tokens`` — see ``_exploded_shingles``.
    """
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) rows: tokens materialized once, then shingled from
    the bound array (the fast path for every shingle consumer)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        id_col, F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle")
    )


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; a*h + b stays < 2^59, no overflow


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) universal-hash coefficients, md5-derived so
    any engine (DuckDB included) can embed the same literals.
    """
    import hashlib

    out = []
    for j in range(num_hashes):
        ha = hashlib.md5(f"mh-a:{j}".encode()).hexdigest()[:8]
        hb = hashlib.md5(f"mh-b:{j}".encode()).hexdigest()[:8]
        a = int(ha, 16) % (MINHASH_PRIME - 1) + 1  # a != 0
        b = int(hb, 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def shingle_hash(s: Column) -> Column:
    """28-bit base hash of a shingle: first 7 md5 hex digits as an integer.

    Kept small so ``a * h + b`` fits in int64 on every engine; per-seed
    hashes are derived arithmetically instead of re-hashing the shingle
    ``num_hashes`` times (one md5 per shingle total, not one per seed —
    the classic universal-hashing minhash construction).
    """
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")


def _seed_hash(a, b, h: Column) -> Column:
    """Seed (a, b)'s universal hash of a shingle hash ``h``; the MinHash
    signature component is its minimum over the document's shingles."""
    return (a * h + b) % MINHASH_PRIME


def signature(hashes: Column, num_hashes: int = 16) -> Column:
    """MinHash signature of an array of shingle hashes: ``array<long>``
    whose element j is the minimum of ``_seed_hash(a_j, b_j, h)`` over
    the hashes, seeds in ``minhash_coefficients`` order.

    ``hashes`` is let-bound through a one-element transform, so a
    computed array evaluates once per row, not once per seed.
    """
    coeffs = minhash_coefficients(num_hashes)
    seed_a = F.lit([a for a, _ in coeffs])
    seed_b = F.lit([b for _, b in coeffs])
    return F.element_at(
        F.transform(
            F.array(hashes),
            lambda hs: F.zip_with(
                seed_a,
                seed_b,
                lambda a, b: F.array_min(
                    F.transform(hs, lambda h: _seed_hash(a, b, h))
                ),
            ),
        ),
        1,
    )


def band_keys(sig: Column, bands: int = 4) -> Column:
    """``array<struct<band long, band_key string>>`` of a BOUND signature
    (an attribute or lambda variable: it is read once per band). Band
    b's key is the md5 of its ``size(sig) / bands`` components as
    decimal strings joined by ',' in seed order. Documents sharing any
    (band, band_key) are near-dup candidates.

    ``concat_ws`` over the cast slice joins like ``array_join`` but never
    returns null: Spark's state schema check would reject a nullable
    ``band_key`` against the non-nullable state key that verified-mode
    streaming dedup checkpoints recorded.
    """
    rows_per_band = (F.size(sig) / bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.slice(sig, b * rows_per_band + 1, rows_per_band).cast(
                        "array<string>"
                    ),
                )
            ).alias("band_key"),
        ),
    )


def signature_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Share of equal components of two signatures — the Broder estimate
    of the documents' Jaccard similarity (an exact k/num_hashes double)."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda e: e)
    ) / F.size(sig_a)


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) — one row per document, one shuffle total: explode
    shingles -> hash once -> groupBy(id) with one ``min`` per seed,
    gathered into ``sig`` (array<long>, the values of ``signature``).

    The per-seed mins are map-side combined and run in whole-stage
    codegen. On the x10 ramp tier (50k documents, local[4] on a 4-core
    VM, median of six runs) minhash_signatures took 2.5 s wall / 8.4
    CPU-s this way against 3.4 s / 12.0 CPU-s for
    ``signature(collect_list(h))``, whose per-seed lambdas run
    interpreted (near_dup_verified: 13.7 vs 17.5 CPU-s). Spark has no
    element-wise array-min aggregate, so this is the one place a
    signature is built per seed.

    ``shingled``: optionally a pre-built (id, shingle) frame — callers
    that also need the shingles for exact verification pass ONE persisted
    exploded-shingle frame here so tokenize+shingle runs a single time
    per corpus scan instead of once per consumer (guide §2.3/§6: one
    pass, project early).

    ``hashed``: optionally a pre-built (id, h) frame of 28-bit shingle
    hashes (``shingle_hash`` convention) — for callers that can derive
    hash rows cheaper than re-hashing text (e.g. an augmented corpus
    whose synthetic copies share the original's text: hash once,
    duplicate the hash rows under the copies' ids). Takes precedence
    over ``shingled``/``df``.
    """
    if hashed is None:
        if shingled is None:
            shingled = _exploded_shingles(df, id_col, text_col, shingle_n)
        hashed = shingled.select(id_col, shingle_hash(F.col("shingle")).alias("h"))
    h = F.col("h")
    return hashed.groupBy(id_col).agg(
        F.array(
            *[F.min(_seed_hash(a, b, h)) for a, b in minhash_coefficients(num_hashes)]
        ).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, seed, minhash) — the signature in long form (oracle-friendly)."""
    wide = minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    return wide.select(
        id_col, F.posexplode("sig").alias("seed", "minhash")
    ).withColumn("seed", F.col("seed").cast("long"))


def minhash_band_keys(
    signatures_wide: DataFrame, id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """(id, band, band_key) from (id, sig) signatures — a pure projection,
    no extra shuffle (see ``band_keys``)."""
    return signatures_wide.select(id_col, F.inline(band_keys(F.col("sig"), bands)))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (id_a < id_b) via LSH.

    Scale shape: shingle hashing costs one md5 per shingle; signatures and
    band keys take ONE shuffle (groupBy id); the self-join is an equi-join
    on (band, band_key) — high-cardinality, shuffle-partitioned, never
    all-pairs. AQE's skew handling covers pathological buckets (e.g. many
    near-empty documents). ``shingled``/``hashed``: optional pre-built
    (id, shingle) / (id, h) frames — see minhash_signatures_wide.
    """
    bands_df = minhash_band_keys(
        minhash_signatures_wide(
            df, id_col, text_col, num_hashes, shingle_n,
            shingled=shingled, hashed=hashed,
        ),
        id_col,
        bands,
    )
    a = bands_df.select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    b = bands_df.select(
        F.col(id_col).alias("id_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Spanning candidate edges (id_a < id_b): the CLUSTERING form of
    ``minhash_candidate_pairs``. Each LSH bucket contributes a star
    rooted at its minimum id instead of all pairs, which preserves the
    connected components exactly while emitting O(bucket) rows where the
    pair form emits O(bucket²) — the difference between surviving and
    dying on a web crawl where one boilerplate page has 10^6 copies
    (AQE can split a skewed bucket's COMPUTE, but nothing can absorb a
    quadratic OUTPUT). Use the pair form only when per-pair similarity
    is verified downstream; use this for connectivity consumers
    (``dedup_clusters``).
    """
    from pyspark.sql import Window

    bands_df = minhash_band_keys(
        minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_n),
        id_col,
        bands,
    )
    w = Window.partitionBy("band", "band_key")
    return (
        bands_df.withColumn("_root", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_root"))
        .select(
            F.col("_root").alias("id_a"), F.col(id_col).alias("id_b")
        )
        .distinct()
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) for LSH candidate pairs: the Broder
    estimator — fraction of signature components on which the two
    documents agree. This is the cheap per-pair similarity a production
    dedup pipeline thresholds on BEFORE paying for exact verification;
    ``ngram_jaccard_pairs`` is the exact refinement.

    Scale shape: the wide signature frame (1 shuffle) is persisted and
    feeds band keys AND both sides of the estimate join, so signatures
    are computed once; candidate generation is the banded equi-join
    (never all-pairs); the estimate itself is ``num_hashes`` equality
    checks in codegen on two joined signature rows.
    """
    from pyspark import StorageLevel

    sigw = minhash_signatures_wide(
        df, id_col, text_col, num_hashes, shingle_n, shingled=shingled
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands_df = minhash_band_keys(sigw, id_col, bands)
    a = bands_df.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    siga = sigw.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sigb = sigw.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(siga, "id_a")
        .join(sigb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(signature_agreement(F.col("sig_a"), F.col("sig_b")), 6).alias(
                "est_jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over shingle sets for all pairs in ``df``.

    Quadratic by nature — callers bound the input (LSH candidates or an
    explicit subset). Implemented as shingle-postings self-join (documents
    sharing no shingle never meet), not a cross join.

    ``shingled``: optionally the pre-built (id, shingle) frame — see
    minhash_signatures_wide; evaluation queries that compute signatures
    AND exact truth over the same corpus share one persisted scan.
    """
    sh = (
        shingled
        if shingled is not None
        else _exploded_shingles(df, id_col, text_col, shingle_n)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold else out


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (rolling character k-gram hashes).

    Every position's k-gram hashes to a 28-bit value (first 7 md5 hex
    digits); each window of ``window`` consecutive gram-hashes contributes
    its minimum; the distinct minima are the document's fingerprint set —
    robust to insertions/reordering in a way whole-document hashing is not.

    Returns (id, fingerprint) distinct rows. Scale shape: entirely
    scan-local — gram hashes and window minima are computed array-side on
    BOUND columns (two-step select so interpreted lambdas never re-
    evaluate upstream expressions), then distinct minima explode. No
    shuffle except the final global distinct; output is
    O(n_grams/window) rows per document in expectation.
    """
    n_grams = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
    grams_expr = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.col(text_col).substr(i, F.lit(k))), 1, 7),
            16,
            10,
        ).cast("long"),
    )

    def winnow(g):
        # g is a LAMBDA VARIABLE — evaluated once per row. A two-step
        # select would be collapsed by Catalyst (CollapseProject inlines
        # the gram array into every element_at -> O(n^2) re-evaluation,
        # measured 100x slower); wrapping the array in a one-element
        # array + transform is the expression-level let-binding.
        n_windows = F.greatest(F.size(g) - (window - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.least(
                    *[F.element_at(g, i + j) for j in range(window)]
                ),
            )
        )

    mins_expr = F.element_at(F.transform(F.array(grams_expr), winnow), 1)
    # array_distinct already dedups within the document (the fingerprint
    # scope) — no global shuffle needed at all
    return df.select(
        F.col(id_col), F.explode(mins_expr).alias("fingerprint")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) — sign-aggregated token-hash fingerprint, up to 64
    bits.

    Per token: bits 0-31 come from the first 8 md5 hex digits, bits
    32-63 from the next 8 — two independent 32-bit words of the same
    digest, so any engine reproduces them (the portable-md5 convention).
    Per bit j the corpus-side vote is sum(2*bit_j(h)-1) over tokens;
    simhash sets bit j iff the vote is positive. Computed as ``bits``
    independent aggregate expressions — one shuffle, no per-bit row
    explosion. The fingerprint assembles via bitwise OR of shifted bits
    so bit 63 (the long sign bit) is usable.

    SIZE THE FINGERPRINT TO THE CORPUS: pigeonhole blocking slices it
    into ``bands`` equality keys of bits/bands bits, and the slice space
    must stay large relative to the corpus or candidate generation goes
    quadratic. 32-bit/4-band = 8-bit slices (256 slots) saturates around
    10^5 docs — measured 341 s vs 14 s for 64-bit/16-bit bands at the
    500k-doc ramp tier (SCALING.md). Use ``bits=64`` beyond ~10^4 docs.
    """
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    h_lo = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    cols = [F.col(id_col), h_lo.alias("h_lo")]
    if bits > 32:
        cols.append(
            F.conv(F.substring(F.md5("token"), 9, 8), 16, 10)
            .cast("long")
            .alias("h_hi")
        )
    tok = tok.select(*cols)
    votes = [
        F.sum(
            (
                F.shiftright(
                    F.col("h_lo" if j < 32 else "h_hi"), j % 32
                ).bitwiseAND(F.lit(1))
                * 2
                - 1
            )
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        bit = F.when(
            F.col(f"v{j}") > 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        sim = sim.bitwiseOR(bit)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    allow_saturated_bands: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance:
    (id_a, id_b, hamming) with id_a < id_b and hamming <= ``max_hamming``.

    Blocking is the pigeonhole construction from Manku et al. (WWW'07,
    "Detecting near-duplicates for web crawling"): split the ``bits``-wide
    fingerprint into ``bands`` contiguous slices; any pair within Hamming
    distance ``bands - 1`` must agree exactly on at least one slice, so
    candidate generation is an equi-join on (band, slice value) — never
    all-pairs. Requires ``max_hamming < bands`` for exact recall.

    Scale shape: fingerprints take one shuffle (the simhash groupBy); the
    band explode is 4 rows per doc of three small ints; the self-join is
    shuffle-partitioned on (band, band_val) with AQE absorbing skewed
    slices. Verification (bit_count of xor) runs in codegen on the joined
    longs — no text ever crosses the candidate join.

    SATURATION GUARD: when the corpus outgrows the band-slice space
    (measured cliff: 32-bit/8-bit slices = 256 buckets went 438 s vs
    23 s for 64-bit at the 500k-doc ramp tier, SCALING.md) this raises
    instead of silently running a near-quadratic candidate join — pass
    ``bits=64`` (16-bit slices) or ``allow_saturated_bands=True`` to
    proceed anyway (e.g. an oracle fixture that needs the exact 32-bit
    geometry on a small corpus that sits just over the guard line).
    """
    from pyspark import StorageLevel

    # the fingerprint frame feeds both sides of the candidate self-join;
    # persist it (2 longs per doc) so the vote aggregation runs once
    sims = simhash(df, id_col, text_col, bits=bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return hamming_pairs(
        sims, id_col, "simhash", bits=bits, bands=bands,
        max_hamming=max_hamming,
        allow_saturated_bands=allow_saturated_bands,
        _probe=df.select(id_col),  # probe the INPUT, not the agg
    )


def hamming_pairs(
    fps: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    allow_saturated_bands: bool = False,
    _probe: DataFrame | None = None,
) -> DataFrame:
    """Pigeonhole-blocked Hamming near-neighbor pairs over ANY integer
    fingerprint column (simhash, perceptual aHash, ...): (id_a, id_b,
    hamming) with id_a < id_b and hamming <= ``max_hamming``. See
    :func:`simhash_near_dup_pairs` for the blocking argument; requires
    ``max_hamming < bands`` for exact recall.

    Unless ``allow_saturated_bands``, raises when the row count exceeds
    32 rows per blocking bucket on average (32 << slice_width): past
    that point every bucket pairs ~(n/buckets)^2 candidates and the
    equi-join is quadratic in practice — the measured 32-bit cliff in
    SCALING.md. The check is a bounded ``limit(threshold+1).count()``
    probe (id column only, stops scanning at the threshold), not a full
    count. ``_probe`` lets callers supply a cheaper frame to count than
    ``fps`` itself (simhash_near_dup_pairs probes its raw input so the
    guard fires BEFORE the vote aggregation runs).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got bands={bands}) for exact recall"
        )
    width = bits // bands
    if not allow_saturated_bands:
        threshold = 32 << width
        probe = _probe if _probe is not None else fps.select(id_col)
        n = probe.limit(threshold + 1).count()
        if n > threshold:
            raise ValueError(
                f"band slices of {width} bits give only {1 << width} "
                f"blocking buckets for >{threshold} rows — the candidate "
                f"equi-join is effectively quadratic (measured 19x "
                f"slowdown for 32-bit simhash at 500k docs, SCALING.md). "
                f"Use bits=64 (16-bit slices) or pass "
                f"allow_saturated_bands=True to proceed anyway."
            )
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.shiftright(F.col(hash_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = fps.select(
        F.col(id_col), F.col(hash_col), F.explode(slices).alias("s")
    ).select(
        id_col,
        hash_col,
        F.col("s.band").alias("band"),
        F.col("s.band_val").alias("band_val"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("sim_a"),
        "band",
        "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("sim_b"),
        "band",
        "band_val",
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _driver_union_find(spark, rows, id_type) -> DataFrame:
    """Exact connected components on a driver-resident edge list: DSU
    with path halving, then min-member labeling. Returns the same
    (doc_id, cluster_id = min id of component) contract as the
    distributed path, as a broadcast-sized DataFrame."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    root_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in root_min or v < root_min[r]:
            root_min[r] = v
    out = [(v, root_min[find(v)]) for v in parent]
    schema = StructType(
        [
            StructField("doc_id", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )
    return spark.createDataFrame(out, schema)


def dedup_clusters_star(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): same (doc_id, cluster_id = min of component) contract as
    ``dedup_clusters``, but converging in O(log²) rounds independent of
    component DIAMETER — the variant for adversarially deep graphs where
    min-label propagation's O(diameter) rounds would stall (a chain of
    10^6 near-dup shards). Each round is two shuffle+distinct phases on
    the (shrinking) edge list; every generation is localCheckpointed for
    the same lineage discipline as the propagation path.

    - large-star: every node links its LARGER neighbors to the minimum
      of its closed neighborhood (min over N(u) ∪ {u}).
    - small-star: edges oriented large→small; every center links its
      smaller neighbors (and itself) to their minimum.

    Converged when the canonical edge set is stable; edges then form
    stars rooted at component minima.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _edge_sum(e: DataFrame):
        # order-insensitive convergence fingerprint on the canonical
        # (min, max) edge set — one aggregate, no join
        return e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).distinct().agg(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    prev = _edge_sum(edges)
    for _ in range(max_iter):
        # large-star
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        gmin = sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        large = (
            sym.join(gmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star on large→small orientation
        oriented = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        smin = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            oriented.join(smin, "src")
            .select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
            .unionByName(
                smin.select(F.col("src"), F.col("m").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        edges = small
        cur = _edge_sum(edges)
        if (cur["s"], cur["n"]) == (prev["s"], prev["n"]):
            break
        prev = cur

    # converged edges are stars (node → component min); add the roots
    members = edges.select(
        F.greatest("src", "dst").alias("id"),
        F.least("src", "dst").alias("lbl"),
    ).groupBy("id").agg(F.min("lbl").alias("lbl"))
    roots = (
        edges.select(F.least("src", "dst").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    return (
        members.unionByName(roots)
        .groupBy("id")
        .agg(F.min("lbl").alias("cluster_id"))
        .select(F.col("id").alias("doc_id"), "cluster_id")
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    driver_edge_limit: int = 100_000,
) -> DataFrame:
    """Connected components over candidate pairs (id_a, id_b): returns
    (doc_id, cluster_id) where cluster_id = min doc id in the component —
    the canonical-copy rule real dedup pipelines apply per CLUSTER, not
    per pair (A~B, B~C must keep only one of {A,B,C}).

    Adaptive physical strategy, the same decision a broadcast join makes:
    candidate-pair graphs are minuscule relative to the corpus (dup PAIRS
    survive blocking + thresholds), so when at most ``driver_edge_limit``
    edges come back they are resolved with one exact driver-side
    union-find — replacing iterative Spark jobs whose fixed per-job
    scheduling cost dominates on small graphs (measured 3.7 s of overhead
    for a 163-edge graph at bench scale). Larger graphs take the
    distributed large-star/small-star path (``dedup_clusters_star``).

    The candidate-pair plan is persisted BEFORE the size probe, so the
    distributed path reuses the materialized edges instead of
    re-executing candidate generation (at 100 TB, candidate generation —
    shingling + the banded join — is the expensive half; the persisted
    frame is only the surviving (id_a, id_b) edges, tiny by
    construction). The cache is dropped as soon as the chosen path has
    consumed it: immediately on the driver path, and right after the
    star path's eager first localCheckpoint materializes on the
    distributed path. Set ``driver_edge_limit=0`` to force the
    distributed path (no probe, no persist).
    """
    if driver_edge_limit:
        from pyspark import StorageLevel

        edges = pairs.select("id_a", "id_b").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        head = edges.take(driver_edge_limit + 1)
        if len(head) <= driver_edge_limit:
            edges.unpersist()
            return _driver_union_find(
                pairs.sparkSession, head, pairs.schema["id_a"].dataType
            )
        # dedup_clusters_star localCheckpoints its input EAGERLY, so by
        # the time it returns the cached edges have been read exactly
        # once and the cache can go
        labels = dedup_clusters_star(edges, max_iter=max_iter)
        edges.unpersist()
        return labels
    return dedup_clusters_star(pairs, max_iter=max_iter)


def dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Cluster-canonical corpus: one kept document per near-dup cluster.

    The selection policy real pipelines want is rarely "keep the minimum
    id" — it is "keep the BEST copy" (longest / highest-quality). This
    operator clusters LSH candidates (star edges -> connected components)
    and keeps, per cluster, the document maximizing ``score_col`` with
    ties broken on the lower id; documents in no cluster keep themselves.
    Returns (doc_id, cluster_id, cluster_size) for the kept documents.

    Scale shape: candidate edges are O(bucket) star edges; clustering is
    the adaptive union-find / large-star path; the final pick is one
    window over (cluster_id) on an (id, cluster, score) projection —
    document text never enters the wide stages.
    """
    edges = minhash_candidate_edges(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    labels = dedup_clusters(edges)
    scored = (
        df.select(F.col(id_col), F.col(score_col))
        .join(
            labels.withColumnRenamed("doc_id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias(
                "cluster_id"
            ),
            F.col(score_col),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_id", "cluster_size")
    )


def dedup_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingest dedup (the re-crawl pattern): from a NEW batch,
    keep only documents that are neither exact duplicates of the already-
    ingested corpus nor later copies within the batch itself (first id
    wins intra-batch).

    Returns the kept (id) rows.

    Scale shape: both sides reduce to 32-byte content digests before any
    wide operation — the existing corpus contributes a distinct digest
    set, the new batch (digest, id) pairs — so the shuffles are
    O(rows · 40 bytes) regardless of document size, and Spark's runtime
    bloom-filter injection can prune the probe side under AQE. Document
    bodies never cross an exchange.
    """
    new_h = new_docs.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("_ch")
    )
    old_h = existing_docs.select(
        F.md5(normalized_text(text_col)).alias("_ch")
    ).distinct()
    # intra-batch first-wins as a map-side-combinable aggregate: the
    # min-id row per digest IS the kept set — no row_number window
    # (whose hot-digest partition AQE could never split) and no join
    fresh = new_h.groupBy("_ch").agg(F.min(id_col).alias(id_col))
    return fresh.join(old_h, "_ch", "left_anti").select(id_col)


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Substring-level duplication profile (the "Deduplicating Training
    Data Makes Language Models Better" shape): for each document, how much
    of its token stream lies on an n-gram that occurs more than once in
    the whole corpus (counting within-document repeats).

    Unlike whole/near-doc dedup this catches boilerplate buried inside
    otherwise-unique pages — the usual trigger for span-level removal. A
    full suffix-array dedup is O(corpus) suffixes; the n-gram profile is
    its bounded, shuffle-friendly approximation.

    Returns (id, n_grams, n_dup, dup_frac) for documents with >= n tokens.

    Scale shape: grams never leave the scan as strings — each position's
    gram is reduced to a 60-bit portable hash immediately, per-(doc, gram)
    multiplicities are combined map-side, and the corpus-wide occurrence
    count is a WINDOW sum over the gram hash rather than an aggregate +
    self-join. This choice is now MEASURED, not argued (round 9, x300
    ramp tier, event-log Executor CPU Time): the window plan costs
    ~730 CPU-s per run in 3 stages, while the aggregate+join rewrite
    costs ~1,800 CPU-s in 5 stages — the join's extra exchange of the
    75M-row per-(doc, gram) frame plus the 150M-row sort-merge join
    more than doubles the work the window expresses as one sort. (A
    round-9 wall-clock ramp flag of e=1.3-2.2 on this query was traced
    to external host load — the true-CPU profile above is linear, and
    WindowExec's per-group buffers are a non-issue at this group
    cardinality because groups are near-singletons.) Wire traffic is
    O(token positions) rows of three longs; document bodies cross no
    exchange.
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    k = F.size("_toks") - (n - 1)
    grams = toked.filter(k > 0).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ",
                                *[F.element_at(F.col("_toks"), i + j) for j in range(n)],
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("_gh"),
    )
    per_doc_gram = grams.groupBy(id_col, "_gh").agg(F.count("*").alias("_c"))
    joined = per_doc_gram.withColumn(
        "_total", F.sum("_c").over(Window.partitionBy("_gh"))
    )
    return joined.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("_total") >= 2, F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup"),
        F.round(
            F.sum(F.when(F.col("_total") >= 2, F.col("_c")).otherwise(F.lit(0)))
            / F.sum("_c"),
            6,
        ).alias("dup_frac"),
    )


def near_dup_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental NEAR-duplicate screen (the re-crawl companion to
    dedup_incremental): ids from the new batch whose MinHash-LSH band keys
    collide with ANY already-ingested document.

    Scale shape: both corpora reduce to (band, band_key, id) rows — one
    narrow shuffle each, never document bodies. The existing side further
    collapses to DISTINCT (band, band_key) before the probe join, so the
    join's build side is bounded by the ingested corpus's bucket count,
    not its row count, and AQE can broadcast it when the history is small
    relative to the batch. Returns distinct new-batch ids to hold back.
    """
    new_bands = minhash_band_keys(
        minhash_signatures_wide(new_docs, id_col, text_col, num_hashes, shingle_n),
        id_col, bands,
    )
    old_bands = minhash_band_keys(
        minhash_signatures_wide(existing_docs, id_col, text_col, num_hashes, shingle_n),
        id_col, bands,
    ).select("band", "band_key").distinct()
    return (
        new_bands.join(old_bands, ["band", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
    )


def minhash_signature_local(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """All input columns plus the signature ``_sig`` (array<long>, the
    values of minhash_signatures_wide's ``sig``) with ZERO shuffles: the
    signature is a per-row expression instead of explode + groupBy, which
    makes it legal in an append-mode STREAMING plan, where a groupBy
    would demand watermarked state. Callers derive band keys with
    ``band_keys(F.col("_sig"), bands)``.

    The token array is let-bound through a one-element transform, so the
    regexp split runs once per row and the md5 once per shingle. ``_sig``
    is bound through a one-element explode (a Generate boundary — the
    only projection-proof way to bind a computed column that is then read
    once per band; see the verify-recipe note on CollapseProject).
    """
    sig = F.element_at(
        F.transform(
            F.array(tokens(text_col)),
            lambda tk: signature(
                F.transform(shingles_from_tokens(tk, shingle_n), shingle_hash),
                num_hashes,
            ),
        ),
        1,
    )
    return df.select("*", F.explode(F.array(sig)).alias("_sig"))


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Substring-level dedup REWRITE (the removal step of "Deduplicating
    Training Data Makes Language Models Better"): every token position
    covered by an n-gram occurrence that is not that gram's canonical
    (first) corpus occurrence is cut; the canonical copy survives intact.

    Canonical occurrence = the corpus-wide minimum (doc, position) for the
    gram, encoded as one long (doc * 1e6 + pos) so the min is a plain
    window aggregate both engines order identically.

    Returns (id, n_tokens, n_removed, cleaned_text) for EVERY input row —
    untouched documents come back with n_removed = 0 and their normalized
    token stream (tokens() lowercases and collapses whitespace, so the
    rewrite is over the canonical token text on both engines).

    Scale shape: gram hashes + positions (three longs per token position)
    are the ONLY rows that cross the first exchange; canonical-occurrence
    detection is a window over the gram hash (one computation of the
    gram subtree, no self-join). Removed positions collapse to a per-doc
    array before the single corpus-sized join back to the token arrays.
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    k = F.size("_toks") - (n - 1)
    occs = toked.filter(k > 0).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ",
                                    *[
                                        F.element_at(F.col("_toks"), i + j)
                                        for j in range(n)
                                    ],
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    )
                    .cast("long")
                    .alias("gh"),
                ),
            )
        ).alias("_o"),
    ).select(id_col, F.col("_o.pos").alias("pos"), F.col("_o.gh").alias("gh"))

    key = (F.col(id_col) * F.lit(1_000_000) + F.col("pos")).alias("okey")
    w = Window.partitionBy("gh")
    flagged = occs.select(id_col, "pos", "gh", key).select(
        id_col,
        "pos",
        F.min("okey").over(w).alias("first_key"),
        F.count(F.lit(1)).over(w).alias("n_occ"),
        "okey",
    )
    dup_occ = flagged.filter(
        (F.col("n_occ") >= 2) & (F.col("okey") != F.col("first_key"))
    )

    removed = (
        dup_occ.select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("rpos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("rpos").alias("_rem"))
    )

    joined = toked.join(removed, id_col, "left").withColumn(
        "_rem", F.coalesce(F.col("_rem"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.array_contains(F.col("_rem"), (i + 1).cast("int")),
    )
    return joined.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size("_rem").cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT for document pairs:
    ``cont(A in B) = |grams(A) ∩ grams(B)| / |grams(A)|``.

    Jaccard misses the quote/excerpt case — a short document wholly
    contained in a long one scores low Jaccard (the union is dominated
    by the long side) but containment 1.0. Crawl dedup pipelines screen
    on max(containment) to catch exactly that.

    Returns (id_a, id_b, cont_a_in_b, cont_b_in_a) with id_a < id_b,
    thresholded on the max of the two directions. Scale shape: same
    postings self-join as ``ngram_jaccard_pairs`` — documents sharing no
    shingle never meet; callers bound the pair space (LSH candidates or
    a subset filter) exactly as for Jaccard.
    """
    sh = _exploded_shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("cont_a_in_b"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("cont_b_in_a"),
        )
    )
    if threshold:
        out = out.filter(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold
        )
    return out
