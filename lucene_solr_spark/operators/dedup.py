"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a
``(doc_id, text)`` corpus — all expressed as declarative DataFrame plans
(Catalyst shuffles/prunes; zero Python in the hot path; the portable
md5-derived h60 hash keeps every result verifiable in ANSI SQL).

Scale notes (100 TB / 10^12 docs):
- exact dedup shuffles one 60-bit hash + id per doc, not the text; the
  winner-per-group is a partial-aggregable min → map-side combine.
- MinHash: per-doc signature is n_hashes longs computed in one pass over
  the exploded shingles (partial min aggregation — map-side combine per
  shingle partition); LSH banding turns all-pairs O(N^2) into a
  shuffle-by-bucket equi-join whose fan-out is bounded per bucket.
  Mega-buckets (degenerate near-identical content) are capped by
  ``max_bucket`` to bound reducer memory, mirroring AQE skew handling.
- SimHash: one 32-bit signature per doc from a conditional-sum aggregate;
  near-dup candidates via 4x 8-bit band join, verified by bit_count
  (hamming) — Lucene analog: none (the reference has no near-dup), this
  is the training-pipeline extension the engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import h60, h60_seeded

__all__ = [
    "chunk_duplication",
    "tokens_col",
    "shingles",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_near_duplicates",
    "simhash_signatures",
    "simhash_near_duplicates",
    "ngram_jaccard_pairs",
]


def tokens_col(text_col: str = "text") -> Column:
    """Lowercase-alnum tokens (the SQL-reproducible 'simple' analyzer)."""
    col = F.coalesce(F.col(text_col), F.lit(""))
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


def shingles(tokens: Column, k: int = 3) -> Column:
    """All k-token shingles (space-joined) of a token array, JVM-native.

    Guarded for short docs: Spark's sequence(1, 0) counts DOWN ([1, 0]),
    so fewer-than-k tokens must return an empty array explicitly."""
    return F.when(
        F.size(tokens) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
            lambda i: F.array_join(F.slice(tokens, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def chunk_duplication(
    df: DataFrame,
    chunk_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Copy-paste contamination: non-overlapping ``chunk_tokens``-token
    chunks h60-hashed; a chunk is SHARED when its hash occurs in more
    than one distinct document. Returns per-doc
    (doc_id, n_chunks, n_shared_chunks, shared_ratio).

    The LLM-pipeline "duplicated span" detector (doc-level exact dedup
    misses partial copies; this catches them at chunk granularity).
    Scale: explode moves each chunk hash once; the per-hash distinct-doc
    count is a map-side-combined hash agg on a 60-bit key; the join back
    rides the same hash — no all-pairs anything."""
    toks = tokens_col(text_col)
    nc = F.floor(F.size(toks) / chunk_tokens).cast("int")
    chunks = F.when(
        nc > 0,
        F.transform(
            F.sequence(F.lit(0), nc - 1),
            lambda i: h60(
                F.array_join(
                    F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    per_chunk = df.select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("chunk_h")
    ).distinct()
    shared = (
        per_chunk.groupBy("chunk_h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("chunk_h")
    )
    marked = per_chunk.join(
        shared.withColumn("is_shared", F.lit(1)), "chunk_h", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0)))
            .cast("long")
            .alias("n_shared_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(
                F.col("n_shared_chunks") / F.col("n_chunks").cast("double"), 4
            ).alias("shared_ratio"),
        )
    )


# ------------------------------------------------------------------ exact

def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one survivor (min id) per distinct
    text; returns (doc_id, n_copies, is_survivor) for every input row."""
    key = h60(text_col).alias("text_h60")
    grp = (
        df.select(F.col(id_col).alias("doc_id"), key)
        .groupBy("text_h60")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), key)
        .join(grp, "text_h60")
        .select(
            "doc_id",
            "n_copies",
            (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
        )
    )


# ---------------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): MinHash signature over k-token shingles.

    One explode + one partial-aggregable groupBy — the n_hashes mins are
    computed in the same aggregation pass (map-side combine applies).
    Docs with no shingle (fewer than k tokens) are dropped.
    """
    sh = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(tokens_col(text_col), shingle_k)).alias("shingle"),
        )
    )
    return sh.groupBy("doc_id").agg(
        *[F.min(h60_seeded(i, "shingle")).alias(f"mh{i}") for i in range(n_hashes)]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = 8,
    n_bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Band the signatures and emit candidate (doc_a < doc_b) pairs that
    collide in >=1 band. Buckets larger than ``max_bucket`` are dropped
    (skew guard — degenerate content would otherwise quadratically blow
    up a single reducer; at production scale those docs are handled by
    exact dedup first)."""
    r = n_hashes // n_bands
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        h60(
                            F.concat_ws(
                                ",", *[F.col(f"mh{b * r + j}") for j in range(r)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    small = (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select("band", "bucket")
    )
    b2 = bands.join(small, ["band", "bucket"])
    a, b = b2.alias("a"), b2.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _pair_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact Jaccard over distinct shingle sets."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(tokens_col(text_col), shingle_k)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded candidate
    pairs → exact-Jaccard verification >= threshold."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    pairs = lsh_candidate_pairs(sigs, n_hashes, n_bands)
    jac = _pair_jaccard(df, pairs, id_col, text_col, shingle_k)
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 32


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over token frequencies.

    bit b of the signature = sign of sum over distinct tokens of
    freq * (+1 if bit b of h60(token) else -1) — one groupBy with 32
    conditional-sum aggregates, fully partial-aggregable."""
    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("freq"))
        .withColumn("h", h60("term"))
    )
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, F.col("freq"))
                .otherwise(-F.col("freq"))
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc_id", sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within max_hamming bits, found via
    4x 8-bit band join (a pair within 3 bits of a 32-bit sig must agree
    exactly on >= 1 of the 4 bytes — pigeonhole, lossless for
    max_hamming <= 3)."""
    sigs = simhash_signatures(df, id_col, text_col)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright("simhash", 8 * j)
                        .bitwiseAND(F.lit(255))
                        .alias("bucket"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    small = (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select("band", "bucket")
    )
    b2 = bands.join(small, ["band", "bucket"])
    a, b = b2.alias("a"), b2.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given candidate pairs."""
    return _pair_jaccard(df, pairs, id_col, text_col, shingle_k)


# ------------------------------------------------- dedup cluster canon

def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate pairs → connected components → one canonical doc
    per cluster (the keep-one step of a training-data dedup pipeline:
    cluster the near-dup graph, keep min doc_id per cluster).

    Min-label propagation: every node starts labelled with itself; each
    round a node takes the min of its own label and its neighbours'.
    Each round is one shuffle (edge join + min-agg) and converges in
    O(cluster diameter) rounds — near-dup clusters are shallow, and
    ``max_iter`` bounds the worst case. Labels are localCheckpoint-ed
    per round so lineage stays flat at 10^9-edge scale; the edge list
    is never collected. Convergence is detected with a count of changed
    labels (a scalar per round, like TextLogitStream's gradient loop).

    Returns (doc_id, canonical, cluster_size), singleton nodes included
    only if they appear in ``pairs``.
    """
    edges = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).union(
        pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
    ).distinct()
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(edges.a.alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nlabel", F.col("label")) < F.col("label")
                ).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.agg(F.sum("chg")).first()[0]
        labels = new.select("id", "label")
        if not changed:
            break
    sizes = labels.groupBy(F.col("label").alias("canonical")).agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("canonical")
    ).join(sizes, "canonical").select("doc_id", "canonical", "cluster_size")


def benchmark_contamination(
    df: DataFrame,
    bench_df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    flag_threshold: float = 0.2,
) -> DataFrame:
    """Eval-set DECONTAMINATION (the GPT-3/Llama training-data hygiene
    stage): per document, the count and fraction of its distinct
    k-token shingles that appear anywhere in the benchmark corpus,
    plus a contamination flag at ``flag_threshold``.

    Scale shape: the benchmark side (eval suites) is tiny relative to
    a 100 TB train corpus — its distinct-shingle set BROADCASTS, so
    the whole operator is a narrow map + broadcast semi-join + one
    hash-agg per doc; no all-pairs, no corpus shuffle beyond the
    per-doc aggregation. Every input doc appears in the output
    (sub-k-token docs report 0 shingles, fraction 0).

    ``id_col`` must be unique per row: each row's shingles are then
    de-duplicated in place (``array_distinct`` before the explode), and
    the exploded (doc, shingle) pairs are distinct with no shuffle."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(tokens_col(text_col), k))).alias("sh"),
    )
    bench = (
        bench_df.select(
            F.explode(shingles(tokens_col(text_col), k)).alias("sh")
        )
        .distinct()
    )
    tot = sh.groupBy(id_col).agg(F.count("*").alias("n_ngrams"))
    hit = (
        sh.join(F.broadcast(bench), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contam"))
    )
    base = df.select(id_col)
    out = (
        base.join(tot, id_col, "left")
        .join(hit, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("long")
            .alias("n_ngrams"),
            F.coalesce("n_contam", F.lit(0)).cast("long")
            .alias("n_contam"),
        )
    )
    frac = F.when(F.col("n_ngrams") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.col("n_contam").cast("double")
            / F.col("n_ngrams").cast("double"),
            6,
        )
    )
    return out.select(
        id_col,
        "n_ngrams",
        "n_contam",
        frac.alias("contam_frac"),
        (frac >= flag_threshold).cast("int").alias("is_contaminated"),
    )
