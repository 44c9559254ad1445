"""Deduplication operators.

* exact_dedup          — hash-groupBy (one shuffle on the digest)
* ngram_shingles       — token n-grams (pure Catalyst)
* minhash_signatures   — k permutation-free min-hashes per doc
* lsh_candidate_pairs  — banding → bucket self-join (candidates only
                         within equal band-hash buckets: the shuffle is
                         on (band, band_hash), never all-pairs)
* jaccard_pairs        — exact n-gram Jaccard for candidate verification
* simhash              — 64-bit sign-aggregated fingerprint + hamming
* near_dup_components  — iterative min-label propagation (joins only,
                         no driver-side union-find) → cluster ids

MinHash math: h_i(s) = (a_i·x + b_i) mod p over x = xxhash64(shingle),
p = 2^31-1 (Mersenne; a·x then fits int64 — the same prime Spark
MLlib's MinHashLSH uses), (a_i, b_i) seeded deterministically. All
hashing stays in Catalyst (xxhash64 + integer ops); no Python in the
hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE31 = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(digest, keep_id, n_dups): canonical row = min id per content hash."""
    return df.groupBy(F.sha2(F.col(text_col), 256).alias("digest")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def tokens_col(text_col: str) -> Column:
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")


def ngram_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct token n-grams — expressed with a sliding
    window over the token array (transform + slice), fully JVM-side."""
    toks = tokens_col(text_col)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh), lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def _hash_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, MERSENNE31 - 1, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE31 - 1, size=num_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 64, seed: int = 7
) -> DataFrame:
    """(id, sig: array<long>) — min over shingles of (a·x+b) mod p.

    One aggregation shuffle on id; the k hash lanes are computed as an
    array expression per shingle (column-parallel, not k passes).
    xxhash64 is mapped to [0, p) first; with p = 2^31-1 the product
    a·x < 2^62 stays inside int64 (ANSI-overflow-safe)."""
    a, b = _hash_params(num_hashes, seed)
    x = (F.abs(F.xxhash64("shingle")) % F.lit(MERSENNE31)).alias("x")
    base = shingled.select("id", x)

    def lane(ai: int, bi: int) -> Column:
        return F.pmod(F.lit(ai) * F.col("x") + F.lit(bi), F.lit(MERSENNE31))

    lanes = F.array(*[lane(ai, bi) for ai, bi in zip(a, b)])
    per_shingle = base.select("id", lanes.alias("lanes"))
    agg = per_shingle.groupBy("id").agg(
        *[F.min(F.element_at("lanes", i + 1)).alias(f"m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 16, max_bucket: int | None = None
) -> DataFrame:
    """(a, b) candidate pairs sharing ≥1 band. Shuffle key = (band,
    band_hash): Zipf-safe because identical docs share buckets but
    distinct docs spread across 2^64 hash space.

    ``max_bucket`` bounds the per-bucket pair blowup: a bucket of B ids
    normally emits B² /2 pairs — at web scale near-identical boilerplate
    makes B huge. Buckets larger than ``max_bucket`` are CHAIN-linked
    instead (id-sorted neighbors), emitting B-1 pairs while preserving
    the connectivity that the downstream component stage needs (any two
    true near-dups in the bucket stay transitively connected iff the
    chain links verify; exact duplicates should be pre-collapsed before
    MinHash — see minhash_dedup — so mega-buckets of identical docs
    never reach here)."""
    num_hashes_col = F.size("sig")
    rows_per_band = (num_hashes_col / F.lit(bands)).cast("int")
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band)
                    ).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))

    return _bucket_pairs(banded, max_bucket)


def _bucket_pairs(
    banded: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """(a, b) pairs co-bucketed in ≥1 (band, bh) — the shared candidate
    generator behind MinHash banding AND sign-bit embedding tables
    (any LSH family reduces to this join once codes are computed).
    ``max_bucket`` chain-links oversized buckets as documented in
    :func:`lsh_candidate_pairs`."""
    if max_bucket is None:
        left = banded.alias("l")
        right = banded.alias("r")
        return (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bh") == F.col("r.bh"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct()
        )

    w = Window.partitionBy("band", "bh")
    sized = banded.withColumn("rn", F.row_number().over(w.orderBy("id"))).withColumn(
        "n", F.count(F.lit(1)).over(w)
    )
    small = sized.filter(F.col("n") <= max_bucket)
    big = sized.filter(F.col("n") > max_bucket)
    small_pairs = (
        small.alias("l")
        .join(
            small.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    big_pairs = (
        big.alias("l")
        .join(
            big.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.rn") + 1 == F.col("r.rn")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    return small_pairs.unionByName(big_pairs).distinct()


def jaccard_pairs(
    shingled: DataFrame,
    pairs: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard.

    With ``pairs`` given, verifies ONLY the candidates and stays
    hot-key-bounded: intersections come from pairs⋈shingles(a) then an
    equi-join on (b, shingle) — a shingle shared by m docs never
    produces an m² group, only |pairs incident to it|.

    Without ``pairs``, candidates come from the inverted-index self-join
    on shingle (only co-shingled docs ever meet — never a cartesian),
    but a shingle shared by m docs still yields m² join rows.
    ``max_shingle_df`` bounds that: shingles with document frequency
    above it are dropped from CANDIDATE GENERATION only (a stopword
    shingle carries ~no Jaccard signal), then the surviving pairs are
    recounted exactly over ALL shingles via the bounded pair path — so
    reported Jaccard values stay exact; only pairs whose every shared
    shingle is hot can be missed."""
    counts = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    if pairs is None and max_shingle_df is not None:
        rare = shingled.join(
            shingled.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle"),
            "shingle",
        )
        pairs = (
            rare.alias("s1")
            .join(
                rare.alias("s2"),
                (F.col("s1.shingle") == F.col("s2.shingle"))
                & (F.col("s1.id") < F.col("s2.id")),
            )
            .select(F.col("s1.id").alias("a"), F.col("s2.id").alias("b"))
            .distinct()
        )

    if pairs is not None:
        a_sh = pairs.join(
            shingled.select(F.col("id").alias("a"), "shingle"), "a"
        ).select("a", "b", "shingle")
        inter = (
            a_sh.join(
                shingled.select(F.col("id").alias("b"), "shingle"), ["b", "shingle"]
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        s1 = shingled.alias("s1")
        s2 = shingled.alias("s2")
        inter = (
            s1.join(
                s2,
                (F.col("s1.shingle") == F.col("s2.shingle"))
                & (F.col("s1.id") < F.col("s2.id")),
            )
            .groupBy(F.col("s1.id").alias("a"), F.col("s2.id").alias("b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    ca = counts.select(F.col("id").alias("a"), F.col("n").alias("na"))
    cb = counts.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "a")
        .join(cb, "b")
        .select(
            "a", "b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, simhash: long) — 64-bit sign aggregate of token-hash bits
    weighted by tf. Bit lanes are an array expression; one shuffle.

    hash_fn="xxhash64" (default, fastest) takes bit i of the 64-bit term
    hash. hash_fn="md5" takes bit (i%4) of hex digit (i//4) of md5(term)
    — identical quality, and reproducible in ANSI SQL, which is what
    lets the driver's DuckDB oracle check every fingerprint value."""
    toks = tokens_col(text_col)
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if hash_fn == "xxhash64":
        tf = tf.withColumn("h", F.xxhash64("term"))
        bit = lambda i: F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
    elif hash_fn == "md5":
        tf = tf.withColumn("h", F.md5("term"))
        digit = lambda j: F.conv(F.substring("h", j + 1, 1), 16, 10).cast("int")
        bit = lambda i: F.shiftright(digit(i // 4), i % 4).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    contribs = F.array(
        *[
            F.when(bit(i) == 1, F.col("tf")).otherwise(-F.col("tf"))
            for i in range(64)
        ]
    )
    per_bit = tf.select("id", contribs.alias("c"))
    summed = per_bit.groupBy("id").agg(
        *[F.sum(F.element_at("c", i + 1)).alias(f"b{i}") for i in range(64)]
    )
    bits = [
        F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        * F.lit(1 << i).cast("long")
        for i in range(63)  # bit 63 kept clear: stay in positive long space
    ]
    acc = bits[0]
    for bcol in bits[1:]:
        acc = acc + bcol
    return summed.select("id", acc.alias("simhash"))


def near_dup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, component) via min-label propagation WITH star rewiring —
    pure joins, no driver-side union-find.

    After each propagation round the current star graph {id — label} is
    ADDED to the original edges as shortcut links: a node's label chases
    its parent's label (pointer jumping), so convergence is
    O(log diameter) instead of the naive O(diameter) — a 200-node chain
    (the shape the LSH bucket cap emits) converges in ~8 rounds, not
    200. Labels only copy ids from the same true component, so shortcuts
    never merge across components; the original edges stay in the set,
    so no connectivity is ever lost (replacing them outright CAN strand
    a local minimum whose neighbors all jumped elsewhere)."""
    # Materialize the graph once: the loop must not re-derive the (often
    # expensive) candidate lineage every round. localCheckpoint also caps
    # plan growth across iterations (else round k replans k nested joins).
    base_edges = (
        pairs.select("a", "b")
        .union(pairs.select(F.col("b"), F.col("a")))
        .distinct()
        .localCheckpoint()
    )
    edges = base_edges
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nc"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nc"), F.col("component"))).alias(
                    "component"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
        # star shortcuts: next round also propagates along id ↔ label
        # links (original edges kept — see docstring)
        star = new_labels.filter(F.col("id") != F.col("component"))
        edges = (
            base_edges.union(
                star.select(F.col("id").alias("a"), F.col("component").alias("b"))
            )
            .union(star.select(F.col("component").alias("a"), F.col("id").alias("b")))
            .distinct()
            .localCheckpoint()
        )
    return labels


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    seed: int = 7,
    max_bucket: int | None = None,
    max_shingle_df: int | None = None,
    preset: str | None = None,
) -> DataFrame:
    """Full near-dup pipeline: exact-dup pre-collapse → shingle →
    minhash → LSH bucket join → exact-Jaccard verify → connected
    components → (id, component, keep).

    Pre-collapse (exact, not approximate): byte-identical docs are
    reduced to their min-id representative BEFORE MinHash, then expanded
    back through the digest map afterwards. Identical docs have
    identical signatures → identical buckets → Jaccard 1 ≥ any
    threshold, so a cluster of C copies used to reach LSH as a C-sized
    bucket (C² candidate pairs); now it contributes one rep. Component
    labels match the uncollapsed pipeline (label = min id, reps are
    per-digest min ids) — with one deliberate improvement: byte-identical
    docs shorter than n tokens (zero shingles, invisible to MinHash) are
    still collapsed via the digest map, where the uncollapsed pipeline
    left them as singletons. At web scale this is the fix for
    boilerplate mega-buckets; ``max_bucket``/``max_shingle_df`` bound
    whatever near-identical (but not byte-identical) mass remains.

    ``preset="web"`` turns both bounds on (max_bucket=64,
    max_shingle_df=256) — the configuration to run on open-web-scale
    corpora, where the exact defaults' quadratic corners (mega-buckets
    of boilerplate, stopword shingles) are guaranteed to occur.
    Candidate generation then skips hot shingles and chain-links huge
    buckets, but the reported Jaccard of every surviving pair stays
    EXACT: verification always recounts over the unfiltered shingle
    set. Only pairs whose every shared shingle is hot can be missed."""
    if preset == "web":
        max_bucket = 64 if max_bucket is None else max_bucket
        max_shingle_df = 256 if max_shingle_df is None else max_shingle_df
    elif preset is not None:
        raise ValueError(f"unknown preset {preset!r} (expected 'web')")
    digest = df.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("digest")
    )
    rep_of_digest = digest.groupBy("digest").agg(F.min("id").alias("rep"))
    reps = df.join(
        rep_of_digest.select(F.col("rep").alias(id_col)).distinct(), id_col
    )

    sh = ngram_shingles(reps, text_col, id_col, n).cache()
    sh_sig = sh
    if max_shingle_df is not None:
        # Drop stopword shingles BEFORE signatures: they carry ~no
        # Jaccard signal but dominate both the signature aggregation and
        # any downstream shingle join. Candidate-generation-only: the
        # verify step below recounts over the UNFILTERED shingles, so
        # surviving pairs keep their exact Jaccard.
        sh_sig = sh.join(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle"),
            "shingle",
        ).cache()
    sigs = minhash_signatures(sh_sig, num_hashes, seed)
    cands = lsh_candidate_pairs(sigs, bands, max_bucket=max_bucket)
    verified = jaccard_pairs(sh, cands).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    comps = near_dup_components(verified)

    # Expand rep components back to every id through the digest map.
    rep_comp = rep_of_digest.join(
        comps.select(F.col("id").alias("rep"), "component"), "rep", "left"
    ).select("digest", F.coalesce("component", F.col("rep")).alias("component"))
    labeled = digest.join(rep_comp, "digest").select("id", "component")
    w = Window.partitionBy("component").orderBy("id")
    return labeled.withColumn("keep", F.row_number().over(w) == 1)


def embedding_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 17,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate clustering → (id, component,
    keep) — the semantic twin of :func:`minhash_dedup` (paraphrases and
    re-encodings that share no n-grams but embed nearby).

    Pipeline: random-hyperplane sign-bit codes per table (AND over
    ``n_planes`` bits within a table, OR over ``n_tables`` tables —
    p_miss = (1 − p_bit^planes)^tables; the 4×16 default puts a
    cos ≥ 0.9 pair's miss probability ≈ 4e-6) → co-bucket candidate
    pairs through the shared :func:`_bucket_pairs` join → EXACT cosine
    recomputed per candidate (the approximation only gates candidate
    generation, like MinHash verify) → ``threshold`` filter →
    :func:`near_dup_components` min-label clustering → keep = each
    component's min id.

    Scale shape mirrors lsh_topk's shuffle discipline: the ×n_tables
    explode carries (id, table, code) — 3 longs, never the vector;
    candidate ids join back to the vector table twice, narrowly, for
    the exact rescore. ``max_bucket`` chain-links boilerplate buckets
    exactly as in MinHash (connectivity preserved for the component
    stage, B−1 instead of B² pairs)."""
    from spcht_spark.functions.similarity import (
        _hyperplanes,
        cosine,
        lsh_code,
    )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    tbl = F.explode(
        F.array(*[
            F.struct(
                F.lit(t).cast("long").alias("band"),
                lsh_code(F.col("vec"), planes[t]).alias("bh"),
            )
            for t in range(n_tables)
        ])
    )
    banded = base.select("id", tbl.alias("tc")).select(
        "id", F.col("tc.band").alias("band"), F.col("tc.bh").alias("bh")
    )
    cands = _bucket_pairs(banded, max_bucket)
    verified = (
        cands.join(
            base.select(F.col("id").alias("a"), F.col("vec").alias("va")), "a"
        )
        .join(base.select(F.col("id").alias("b"), F.col("vec").alias("vb")), "b")
        .withColumn("cos", cosine("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b")
    )
    comps = near_dup_components(verified)
    labeled = base.select("id").join(comps, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    w = Window.partitionBy("component").orderBy("id")
    return labeled.withColumn("keep", F.row_number().over(w) == 1)
