"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no dedup of any kind — SURVEY.md
§2.9); these are the operators a 100 TB document pipeline needs:

- exact dedup            — hash-groupBy on a normalized-content digest
- MinHash + LSH          — shingle → minhash signature → band → bucket join
- SimHash                — 64-bit sign-of-weighted-bit-sums fingerprint
- n-gram Jaccard         — exact set similarity via shingle inverted index
- embedding near-dup     — cosine over `embeddings.embedding`

Cross-engine determinism: all hashing is md5 (identical in Spark and
DuckDB); minhash uses two 32-bit md5-derived integers per shingle and
Kirsch-Mitzenmacher double hashing (h1 + j*h2) for the signature rows;
cosine goes through integer-scaled components so dot products are
exact and order-independent.

Scale design:
- Everything up to the bucket/inverted-index join is per-row array math
  inside whole-stage codegen — embarrassingly parallel, zero shuffle.
- MinHash+LSH shuffles once on (band_id, band_hash): the candidate join
  touches only colliding docs, never the O(n²) pair space. Pathological
  buckets are capped at LSH_BUCKET_CAP lowest doc_ids before the
  self-join (deterministic; inactive at test SFs so the oracle is
  unaffected; bounds any hot bucket's pair blowup at cap² at 100 TB).
- Exact Jaccard's inverted-index join is the O(pairs-sharing-a-shingle)
  fallback — correct but quadratic in hot shingles; it exists as the
  ground-truth for MinHash recall tests (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arcon_spark.io import load_table, pin_groups, spread, table_rowcount, tile_grid_side
from arcon_spark.plans.compat import _sql_int_dot
from arcon_spark.plans.registry import REGISTRY, register

NUM_HASHES = 12
NUM_BANDS = 4
LSH_BUCKET_CAP = 64  # per-bucket candidate cap (see dedup_minhash_lsh_pairs)
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

# --- shared shingling (Spark; DuckDB mirror below) ------------------------
#
# Evaluation-structure note: Spark's higher-order functions
# (transform/filter/aggregate) are CodegenFallback — interpreted, with
# no common-subexpression elimination inside the lambda — so the
# tokenization must be hoisted into its own projection and referenced
# by name (see _shingle_rows). With that done, the in-row
# sequence→slice→concat_ws shingle build beats both the nested-HOF
# form (O(tokens²) re-splits) and the posexplode+window(lead) form
# (whole-token-stream shuffle).

_TOKS = "filter(split(lower(text), ' '), x -> x != '')"


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles as rows: (doc_id, s).

    Shingles are assembled INSIDE the row (sequence → slice →
    concat_ws) and de-duplicated per doc with array_distinct before
    exploding — a pure codegen projection with ZERO shuffle, vs the
    posexplode + window(lead) formulation whose per-doc sort shuffled
    the whole token stream (measured 1.5 s → 0.6 s on the minhash
    pipeline at sf0.1; at 100 TB it removes the widest exchange in the
    dedup path). The global .distinct() collapses to the in-row
    array_distinct because shingle rows are already unique per doc.

    Tokenization is hoisted into its own projection: HOF lambdas are
    interpreted (no CSE), so `slice({_TOKS}, i, 3)` inline would
    re-split the document once per shingle POSITION — O(tokens²) per
    doc. Hoisted, the split runs once per doc (measured 1.0 s →
    0.55 s warm, 7.7 s → 0.7 s cold at sf0.1)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return shingles_of(docs)


def shingles_of(docs: DataFrame) -> DataFrame:
    """_shingle_rows on an arbitrary (doc_id, text) frame — reused by
    the streaming incremental-dedup index on micro-batch frames."""
    toks = docs.select("doc_id", F.expr(_TOKS).alias("t"))
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(size(t) - 2, 0)),"
                " i -> concat_ws(' ', slice(t, i, 3))))"
            )
        ).alias("s"),
    )


# DuckDB mirrors (1-based lists)
_SQL_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
_SQL_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
)"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest of whitespace-normalized lowercased text,
    one shuffle on the digest, min-id canonical representative. At
    100 TB the digest (16 bytes) is all that shuffles — never the text."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        docs.select(digest.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Kirsch-Mitzenmacher double hashing: two 32-bit md5-derived hashes per
# shingle, NUM_HASHES derived as h1 + j*h2 — one order of magnitude fewer
# md5 evaluations than independent per-seed hashing, identical LSH
# guarantees (Kirsch & Mitzenmacher, ESA'06).
_SQL_HASH_PAIR_CTE = """
hp AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('mhA:' || shingle), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5('mhB:' || shingle), 1, 8) AS BIGINT) AS h2
  FROM sh
)"""


def _sql_mh_list() -> str:
    return ", ".join(
        f"MIN(h1 + {j} * h2) AS mh{j}" for j in range(NUM_HASHES)
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + NUM_HASHES bigint minhash columns mh0..mhN.

    Plan shape: shingle rows (codegen'd, see _shingle_rows) → one
    projection computing (h1, h2) → hash aggregate with 12 MIN exprs.
    The aggregate is map-side partial, so the final exchange carries
    one 12-long row per (partition, doc) — at 100 TB it is proportional
    to docs, not shingles."""
    return signatures_of_shingles(_shingle_rows(spark, sf_dir))


def signatures_of_shingles(sh: DataFrame) -> DataFrame:
    """K-M double-hashed minhash signature aggregation over a
    (doc_id, s) shingle frame — frame-parameterized for streaming
    micro-batch reuse."""
    hashed = sh.select(
        "doc_id",
        F.expr("cast(conv(substring(md5(concat('mhA:', s)), 1, 8), 16, 10) as bigint)").alias("h1"),
        F.expr("cast(conv(substring(md5(concat('mhB:', s)), 1, 8), 16, 10) as bigint)").alias("h2"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.col("h1") + F.lit(j) * F.col("h2")).alias(f"mh{j}")
            for j in range(NUM_HASHES)
        ]
    )


def lsh_bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) band rows from a signature frame —
    the LSH index record a streaming ingest appends per batch."""
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in _band_exprs()])).alias(
            "band_id", "band_hash"
        ),
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE}
    SELECT doc_id, {_sql_mh_list()}
    FROM hp GROUP BY doc_id
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash signature matrix itself (oracle-checkable midpoint of
    the LSH pipeline)."""
    return minhash_signatures(spark, sf_dir)


def _band_exprs() -> list[str]:
    bands = []
    for b in range(NUM_BANDS):
        parts = ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        bands.append(f"md5(concat_ws('_', {parts}))")
    return bands


@register(
    "dedup_minhash_lsh_pairs",
    oracle=(
        lambda: f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE},
    mh AS (
      SELECT doc_id, {_sql_mh_list()}
      FROM hp GROUP BY doc_id
    ),
    bands_raw AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('_', mh{b * ROWS_PER_BAND}, mh{b * ROWS_PER_BAND + 1}, mh{b * ROWS_PER_BAND + 2})) AS band_hash FROM mh"
        for b in range(NUM_BANDS)
      )}
    ),
    bands AS (
      SELECT * FROM bands_raw
      QUALIFY row_number() OVER (PARTITION BY band_id, band_hash
                                 ORDER BY doc_id) <= {LSH_BUCKET_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """
    )(),
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate duplicate pairs: NUM_BANDS bands of
    ROWS_PER_BAND rows; docs colliding in any band are candidates.
    Plan: signature computation → posexplode to (band_id, band_hash) →
    ONE shuffle on the band key → within-bucket self-join → distinct
    pairs. Pair space never materializes beyond collisions. The
    signature matrix is persisted before the self-join: both join sides
    reference the same tiny table (docs × 12 longs) instead of
    recomputing the full shingle pipeline twice (Spark's exchange reuse
    does not fire across self-join branches here) — at 100 TB this is
    the signatures-as-intermediate-table step every LSH pipeline
    materializes anyway."""
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in _band_exprs()])).alias(
            "band_id", "band_hash"
        ),
    )
    # Skew guard: a degenerate bucket (boilerplate/empty docs sharing one
    # band hash) turns the self-join quadratic. Cap each bucket to its
    # LSH_BUCKET_CAP lowest doc_ids — deterministic, and the window's
    # (band_id, band_hash) partitioning is the same key the join needs,
    # so the cap rides the one existing shuffle. The oracle encodes the
    # SAME cap (QUALIFY row_number ORDER BY doc_id) — the cap is part of
    # the operator's semantics, not a hidden approximation; at 100 TB it
    # bounds any bucket's pair blowup at cap² instead of letting one hot
    # hash dominate the stage.
    wcap = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
    bands = (
        bands.withColumn("_bn", F.row_number().over(wcap))
        .filter(F.col("_bn") <= LSH_BUCKET_CAP)
        .drop("_bn")
        # scan leaf AFTER the cap: both self-join sides read the banded
        # rows without re-running the signature pipeline per side
        .localCheckpoint(eager=True)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _bit_expr(k: int) -> str:
    """Bit k (0..63) of the token hash, read from the two 32-bit int
    halves `hi`/`lo` (decoded once per token with conv) — a single
    shift+mask per bit. The earlier per-bit substring+instr form gave
    identical values but a 64× larger codegen'd expression tree whose
    janino compile dominated cold-start (7.6s vs 1.2s first run at
    sf0.1; steady-state equal)."""
    src, sh = ("hi", 31 - k) if k < 32 else ("lo", 63 - k)
    return f"(shiftright({src}, {sh}) & 1)"


# DuckDB mirror of the simhash fingerprint (shared by dedup_simhash and
# the banded pair join below).
_SQL_SIMHASH_CTE = """
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
      FROM documents
    ),
    bits AS (
      SELECT doc_id, u.k,
             SUM(2 * (((strpos('0123456789abcdef',
                               substr(md5(t), (u.k // 4) + 1, 1)) - 1)
                       >> (3 - (u.k % 4))) & 1) - 1) AS s
      FROM toks, UNNEST(generate_series(0, 63)) AS u(k)
      GROUP BY doc_id, u.k
    ),
    sim AS (
      SELECT doc_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS simhash_bits
      FROM bits GROUP BY doc_id
    )"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTE}
    SELECT doc_id, simhash_bits FROM sim
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit fingerprint = sign of per-bit sums of (+1/-1)
    token-hash bits. Emitted as a 64-char bit string (portable across
    engines; callers hamming-compare via bit ops or substring bands).
    Spark plan: explode tokens → one md5 per token, decoded to two
    32-bit ints → hash aggregate over 32 PACKED lanes + one count
    (whole-stage codegen; the per-row higher-order fold is interpreted
    and ~5× slower) → concat the sign bits. Lane j sums bit j in its
    low 32 bits and bit j+32 in its high 32 bits as 0/1 counts — the
    ±1 form would let a negative low lane borrow into the high one,
    but 0/1 counts only grow, and a 32-bit lane cannot overflow for
    ANY document (2^31 tokens exceeds the 2 GiB string cap), so
    halving the aggregate buffer and SUM expr count is lossless:
    sign(2·cnt_k − n) ≡ the old SUM(2·bit−1) > 0 exactly (r11 probe
    1.54 → 1.32 s min; agg component ~0.97 → 0.75 s over the 0.57 s
    scan+md5 floor). Map-side partial aggregation means the shuffle
    carries one 33-long row per (partition, doc) — proportional to
    docs, not tokens, at any scale. No Python anywhere."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("t")).select(
        "doc_id",
        F.expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)").alias("hi"),
        F.expr("cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)").alias("lo"),
    )
    sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(f"({_bit_expr(j)}) + (({_bit_expr(j + 32)}) << 32)")
            ).alias(f"p{j}")
            for j in range(32)
        ],
    )

    def _bit_char(k: int):
        j = k - 32 if k >= 32 else k
        cnt = f"(p{j} >> 32)" if k >= 32 else f"(p{j} & 4294967295)"
        return F.when(F.expr(f"2 * {cnt} > n"), "1").otherwise("0")

    bits = F.concat(*[_bit_char(k) for k in range(64)])
    return sums.select("doc_id", bits.alias("simhash_bits"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common,
             MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.6
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.6) via a shingle
    inverted index: explode distinct shingles (carrying the per-doc set
    size so no size-lookup join is needed later) → self-join on shingle
    → |A∩B| per pair → Jaccard. Integer counts → the division is the
    only float op → deterministic. This is the ground truth the MinHash
    recall test compares against; at 100 TB run the LSH variant and
    reserve this for verifying candidate pairs only."""
    from pyspark.sql import Window as W

    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id",
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n"),
        F.col("s").alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("a.n").alias("na"),
            F.max("b.n").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return (
        inter.select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

# Block-matmul grids are sized per-corpus via io.tile_grid_side(n_rows)
# (floor 8 keeps small corpora parallel) — r8: the fixed B=8 this module
# used through r7 let per-tile memory grow with the corpus; the weighted
# minhash tile hit (n/8)² int64 accumulators at 10x data (root-caused in
# the sf1 scaling run, MEASURE.md r8) before the switch.


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH nrm AS (
      SELECT e.vec_id, {_sql_int_dot('e.embedding', 'e.embedding')} AS n2
      FROM embeddings e, UNNEST(generate_series(1, len(e.embedding))) AS u(i)
      GROUP BY e.vec_id
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_sql_int_dot('a.embedding', 'b.embedding')} AS d
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
           UNNEST(generate_series(1, len(a.embedding))) AS u(i)
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           CAST(d AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
    WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.3
    """,
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.3 for this synthetic
    corpus). Components are scaled to integers (float32 is exact at 1e7)
    so dot products are exact longs — bit-identical across engines and
    partition orders.

    Execution: fully distributed exact block-matmul — NO driver
    collect. Vectors are hashed into B = io.tile_grid_side(n) blocks
    by pmod(vec_id, B); every unordered block pair (i<=j) becomes one
    group, each vector is replicated to the B+1 groups it participates
    in (explode of a sequence — one shuffle on the (i,j) grid key), and
    each group does one int64 numpy matmul of (n/B × n/B). B grows
    with the corpus so task memory is bounded at any scale (r8: the
    fixed B=8 this used through r7 let tiles grow with the data);
    scaling to 100 TB means B rises, not the driver's RAM. The sub-O(n²) approximate
    paths are ann_lsh_bucketed / ann_ivf_topk / semdedup_embeddings in
    functions.similarity; this is the exact baseline they are recalled
    against."""
    import numpy as np
    import pandas as pd

    from arcon_spark.functions.similarity import _int_matrix
    from arcon_spark.io import spread as _spread

    emb = _spread(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    # grid sizing from parquet footer metadata — counting the spread()-ed
    # frame would eagerly execute its scan+exchange once just for sizing
    # and the real action would re-run it (ADVICE r8)
    B = tile_grid_side(table_rowcount(spark, sf_dir, "embeddings"))
    blk = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(B)).cast("int"))
    # A-side: vector in block i serves every pair (i, j>=i); B-side: every (i<=j, j).
    a_side = blk.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("pj"),
        F.lit("a").alias("side"),
        "vec_id",
        "embedding",
    )
    b_side = blk.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
        F.lit("b").alias("side"),
        "vec_id",
        "embedding",
    )
    tiles = a_side.unionByName(b_side)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj = int(key[0]), int(key[1])
        am = pdf["side"].to_numpy() == "a"
        ap, bp = pdf[am], pdf[~am]
        if ap.empty or bp.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        A = _int_matrix(ap["embedding"])
        Bm = _int_matrix(bp["embedding"])
        aids = ap["vec_id"].to_numpy(dtype=np.int64)
        bids = bp["vec_id"].to_numpy(dtype=np.int64)
        an = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        bn = np.sqrt((Bm * Bm).sum(axis=1).astype(np.float64))
        cos = (A @ Bm.T).astype(np.float64) / (an[:, None] * bn[None, :])
        # diagonal tile holds block i on both sides: strict < dedupes and
        # drops self-pairs; off-diagonal blocks are disjoint id sets, so
        # min/max canonicalisation emits each cross pair exactly once.
        ai, bi = np.nonzero((cos >= 0.3) & (aids[:, None] < bids[None, :]))
        out = [pd.DataFrame({"vec_a": aids[ai], "vec_b": bids[bi], "cosine": cos[ai, bi]})]
        if pi != pj:
            ai2, bi2 = np.nonzero((cos >= 0.3) & (aids[:, None] > bids[None, :]))
            out.append(
                pd.DataFrame({"vec_a": bids[bi2], "vec_b": aids[ai2], "cosine": cos[ai2, bi2]})
            )
        return pd.concat(out, ignore_index=True)

    return pin_groups(tiles, "pi", "pj").groupBy("pi", "pj").applyInPandas(
        tile, "vec_a long, vec_b long, cosine double"
    )


_JACCARD_T = 0.6
_CC_CHECKPOINT_EVERY = 3  # localCheckpoint cadence for iterative label loops


@register(
    "dedup_connected_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i, MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
    ),
    reach(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.doc_id = e.b
    )
    SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
    """,
    tags=("dedup", "clusters", "iterative"),
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster formation: connected components over the
    jaccard>=0.6 near-dup pair graph — the step that turns pairwise
    matches into canonical groups (keep min doc_id per cluster, drop
    the rest). An ITERATIVE algorithm (min-label propagation to
    fixpoint), not expressible as one SQL query on the Spark side; the
    oracle uses DuckDB's recursive CTE for the same closure.

    Scale: this is the standard large-graph CC loop — each iteration
    is one join + aggregate on (edges ⋈ labels); rounds ≈ component
    diameter (near-dup clusters are shallow). Lineage hygiene: the
    label frame is localCheckpoint()ed every _CC_CHECKPOINT_EVERY
    rounds so the plan (and recovery recompute) stays O(1) in round
    count instead of O(rounds) — without it downstream consumers
    (dedup_kept_corpus, corpus_curation_report) inherited 300+-shuffle
    plans and quadratic driver compile time. Deterministic: min-id
    labels converge to the same fixpoint in any execution order."""
    jac = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= _JACCARD_T)
    fwd = jac.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.union(jac.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    # the edge list is consumed once per round: materialize it ONCE and
    # cut its (shingle→hash→band→join) lineage so each round's plan —
    # and every downstream consumer's — starts from a flat RDD scan
    edges = edges.localCheckpoint(eager=True)

    labels = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id"), F.col("doc_id").alias("cluster_id"))
        .persist()
    )
    # convergence test (r10): labels are MONOTONE — every round sets
    # label(v) = least(old(v), min neighbor old(v)) <= old(v), so
    # "some label changed" <=> "sum of labels strictly decreased".
    # Comparing per-round sums is therefore an EXACT fixpoint test (no
    # hash, no collision risk) and costs one partial-agg job instead
    # of the old (new x old) join + count per round. decimal(38,0)
    # keeps the sum exact far past any int64-id corpus size.
    _lab_sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = _lab_sum(labels)
    for rnd in range(20):  # diameter bound; near-dup clusters are tiny
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left_outer")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            .persist()
        )
        new_sum = _lab_sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
        if (rnd + 1) % _CC_CHECKPOINT_EVERY == 0:
            # truncate lineage: the plan downstream of this point no
            # longer references the previous rounds' join chain
            chk = labels.localCheckpoint(eager=True)
            labels.unpersist()
            labels = chk
    # hand downstream consumers (dedup_kept_corpus, the curation report)
    # a flat checkpointed frame, not N rounds of join lineage
    out = labels.select("doc_id", "cluster_id").localCheckpoint(eager=True)
    labels.unpersist()
    return out


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node attaches its strictly-larger
    neighbors to the minimum of its closed neighborhood. Join-based (no
    collect_list), so a hot node's neighborhood is never materialized
    on one task — m(u) comes from a hash aggregate and flows back via a
    key join. Edges stored as (hi, lo) with hi > lo."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    # sym.filter(v > u) is exactly the original edge set re-keyed
    # (u = lo, v = hi) — join that directly instead of re-deriving it
    # through the union (one branch fewer in the plan; same rows).
    # No .distinct() here (r10): the consumer is _cc_small_star, whose
    # min-per-hi aggregate is duplicate-insensitive and whose own
    # final .distinct() dedups the attach output — dropping the
    # intermediate dedup removes one Exchange+Aggregate per round for
    # at most |edges| extra rows into the next aggregate (duplicates
    # only arise when two u's share an m).
    return (
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        .join(mins, "u")
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node attaches itself and all its smaller
    neighbors to the minimum of its smaller neighborhood."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    attached = (
        edges.join(mins, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
    )
    self_edges = mins.select(F.col("hi"), F.col("m").alias("lo"))
    return attached.union(self_edges).distinct()


@register(
    "dedup_cc_star_contraction",
    oracle=REGISTRY["dedup_connected_clusters"].oracle,
    tags=("dedup", "clusters", "iterative", "scale"),
)
def dedup_cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) of the
    same cluster-formation step as dedup_connected_clusters, and the
    100 TB-preferred one: round count scales with log(component size),
    not component diameter, so a pathological chain that costs the
    label-propagation loop hundreds of rounds converges here in ~10.

    Both star operations are join+aggregate only (min per neighborhood
    via hash agg, attached via key join) — no neighborhood is ever
    collected onto a single task, so hot nodes cost a shuffle skew
    (AQE-splittable) rather than task-OOM. Every round is
    localCheckpoint()ed: plan size and recovery recompute stay O(1) in
    round count. Converges to the star graph {(v, min_of_component)};
    the same recursive-CTE oracle as the label-propagation twin proves
    both return identical clusters."""
    jac = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= _JACCARD_T)
    edges = (
        jac.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    n_edges = edges.count()
    for _ in range(12):  # ~log2(max component size); test graphs take 2-3
        new_edges = _cc_small_star(_cc_large_star(edges)).localCheckpoint(eager=True)
        # set-equality check: both frames are distinct, so ⊆ + equal
        # cardinality ⇒ equal. The count is carried across rounds (one
        # count job per round, not two); the subtract job runs only in
        # the terminating round, when the counts already agree.
        n_new = new_edges.count()
        if n_new == n_edges and new_edges.subtract(edges).count() == 0:
            edges.unpersist()
            edges = new_edges
            converged = True
            break
        edges.unpersist()
        edges = new_edges
        n_edges = n_new
    if not converged:  # pragma: no cover - bound is generous
        raise RuntimeError("star-contraction CC did not converge in 12 rounds")
    # converged edge set is the star graph: each non-root points at its
    # component min. Isolated docs keep their own id.
    stars = edges.groupBy("hi").agg(F.min("lo").alias("root"))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(stars.withColumnRenamed("hi", "doc_id"), "doc_id", "left_outer")
        .select("doc_id", F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id"))
    )


_SPAN_L = 8  # seed gram length (tokens): spans shorter than this are noise
_SPAN_DF_CAP = 50  # max docs sharing a seed gram — bounds postings blowup


@register(
    "dedup_duplicated_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+{_SPAN_L - 1}], ' ') AS gram
      FROM t, unnest(generate_series(1, greatest(len(toks) - {_SPAN_L - 1}, 0))) u(i)
    ),
    ok AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_DF_CAP}
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
      FROM g a JOIN g b USING (gram)
      WHERE a.doc_id < b.doc_id AND gram IN (SELECT gram FROM ok)
    ),
    isl AS (
      SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
             ) AS island
      FROM p
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pos_a) AS BIGINT) AS start_a,
           CAST(MIN(pos_b) AS BIGINT) AS start_b,
           CAST(COUNT(*) + {_SPAN_L - 1} AS BIGINT) AS span_len
    FROM isl GROUP BY doc_a, doc_b, diag, island
    """,
    tags=("dedup", "substring", "spans", "pipeline"),
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans across document pairs — the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") re-expressed relationally:
    instead of a monolithic suffix array, seed matches are token
    L-grams (L = _SPAN_L = 8) joined through an inverted index, and
    maximal spans are recovered by merging consecutive seeds on each
    alignment diagonal (pos_a - pos_b) with the classic
    gaps-and-islands window — a span of k shared consecutive grams is
    a duplicated substring of k + L - 1 tokens. Output: one row per
    maximal span (doc_a < doc_b, 1-based token starts, length ≥ L).

    Scale shape: tokenization is one projection (split hoisted once per
    doc — MEASURE.md session-4 HOF lesson); the inverted index is ONE
    groupBy(gram) posting-list aggregate (r11, guide §2.2: the gram
    rows cross the network once, where the former ok-filter + gram
    self-join shuffled them three times), with the document-frequency
    cap [2, _SPAN_DF_CAP] bounding any hot gram's postings
    (boilerplate phrases would otherwise explode quadratically — same
    guard family as LSH_BUCKET_CAP) applied to the posting list before
    the a<b pairs explode JVM-side; the island window partitions by
    (doc_a, doc_b, diag) — millions of small partitions, no global
    sort. All JVM codegen, no Python."""
    L = _SPAN_L
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
        .select(
            "doc_id",
            F.when(
                F.size("toks") >= L, F.expr(f"sequence(1, size(toks) - {L - 1})")
            )
            .otherwise(F.array())
            .alias("positions"),
            "toks",
        )
    )
    g = toks.select(
        "doc_id",
        F.explode("positions").alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.expr(f"slice(toks, pos, {L})"), " ").alias("gram"),
    )
    # one exchange instead of three (r11): the former shape aggregated
    # g for the DF filter, then shuffled g TWICE more as the self-join
    # sides; the posting-list aggregate shuffles each (gram, doc, pos)
    # row once, the DF filter reads the collected list (no separate
    # distinct-agg plan), and the a<b pair explode is pure JVM HOFs —
    # the pair MULTISET is exactly the self-join's output. Probe at
    # sf0.1: 2.59 -> 1.60 s min (alternating same-process passes).
    posts = (
        g.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
        .filter(
            F.expr("size(array_distinct(transform(ps, p -> p.doc_id)))").between(
                2, _SPAN_DF_CAP
            )
        )
    )
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, a -> "
                "transform(filter(ps, b -> b.doc_id > a.doc_id), b -> "
                "struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
                "a.pos AS pos_a, b.pos AS pos_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.pos_a", "p.pos_b")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        pairs.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(L - 1)).cast("long").alias("span_len"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


_SPAN_CTES = f"""t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+{_SPAN_L - 1}], ' ') AS gram
      FROM t, unnest(generate_series(1, greatest(len(toks) - {_SPAN_L - 1}, 0))) u(i)
    ),
    ok AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_DF_CAP}
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
      FROM g a JOIN g b USING (gram)
      WHERE a.doc_id < b.doc_id AND gram IN (SELECT gram FROM ok)
    ),
    isl AS (
      SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
             ) AS island
      FROM p
    ),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(MIN(pos_a) AS BIGINT) AS start_a,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(COUNT(*) + {_SPAN_L - 1} AS BIGINT) AS span_len
      FROM isl GROUP BY doc_a, doc_b, diag, island
    )"""


@register(
    "dedup_span_removal",
    oracle=f"""
    WITH {_SPAN_CTES},
    iv AS (
      SELECT doc_b AS doc_id, start_b AS s, start_b + span_len - 1 AS e FROM spans
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS brk
      FROM iv
    ),
    grp AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS g
      FROM marked
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g
    ),
    tok AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM t, unnest(generate_series(1, len(toks))) u(i)
    ),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tok
      FROM tok LEFT JOIN merged
        ON merged.doc_id = tok.doc_id AND tok.pos BETWEEN merged.s AND merged.e
      WHERE merged.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    """,
    tags=("dedup", "substring", "curation", "pipeline"),
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVE step of exact-substring dedup (Lee et al. 2022 cut
    duplicated byte ranges out of the corpus): for every maximal
    duplicated span found by dedup_duplicated_spans, the LATER document
    (doc_b — higher id) loses the span; the earliest occurrence stays
    canonical. Per doc: overlapping remove-intervals are merged with
    the gaps-and-islands sweep (running-max end over a 1-PRECEDING
    frame marks interval breaks), surviving tokens are re-joined in
    position order. Output: (doc_id, n_removed, text_clean) for every
    document — zero removals included, so the result IS the cleaned
    corpus.

    Scale shape: interval merge windows partition by doc_id (no global
    sort); token retention is a doc_id-equi anti join with a range
    residual; text rebuild is a per-doc hash aggregate over
    (pos, token) structs sorted in-memory per group — group size =
    document length, bounded. All JVM."""
    spans = dedup_duplicated_spans(spark, sf_dir)
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len") - 1).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    marked = iv.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), F.lit(1)).otherwise(F.lit(0)),
    )
    merged = (
        marked.withColumn("g", F.sum("brk").over(w_run))
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .select("doc_id", "s", "e")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    tok = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok.join(
        merged,
        (tok.doc_id == merged.doc_id)
        & (tok.pos >= merged.s)
        & (tok.pos <= merged.e),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')"
        ).alias("text_clean"),
    )
    return (
        toks.join(rebuilt, "doc_id", "left_outer")
        .select(
            "doc_id",
            (F.size("toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


# ---------------------------------------------------------------------------
# LSH candidates → exact-Jaccard verification (the full pipeline stage)
# ---------------------------------------------------------------------------


def _sql_lsh_cand_cte() -> str:
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('_', mh{b * ROWS_PER_BAND}, mh{b * ROWS_PER_BAND + 1}, mh{b * ROWS_PER_BAND + 2})) AS band_hash FROM mh"
        for b in range(NUM_BANDS)
    )
    return f"""mh AS (
      SELECT doc_id, {_sql_mh_list()}
      FROM hp GROUP BY doc_id
    ),
    bands_raw AS ({bands_union}),
    bands AS (
      SELECT * FROM bands_raw
      QUALIFY row_number() OVER (PARTITION BY band_id, band_hash
                                 ORDER BY doc_id) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@register(
    "dedup_lsh_verified_pairs",
    oracle=(
        lambda: f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE},
    {_sql_lsh_cand_cte()},
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           COALESCE(m.n_common, 0) AS n_common,
           CAST(COALESCE(m.n_common, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(m.n_common, 0) AS DOUBLE) AS jaccard,
           CAST(COALESCE(m.n_common, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(m.n_common, 0) AS DOUBLE) >= {_JACCARD_T}
             AS is_dup
    FROM cand c
      LEFT JOIN com m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
      JOIN sz sa ON sa.doc_id = c.doc_a
      JOIN sz sb ON sb.doc_id = c.doc_b
    """
    )(),
    tags=("dedup", "minhash", "lsh", "jaccard"),
)
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete two-stage dedup pipeline in one query: MinHash+LSH
    candidate generation, then EXACT Jaccard verification restricted to
    the candidates — the production shape at 100 TB, where exact
    Jaccard over all pairs is unpayable but over LSH candidates is a
    sparse join (README 'Deploying'). Output: every candidate pair with
    its exact n_common / jaccard and the ≥{_JACCARD_T} verdict.

    The verification join touches |candidates| × shingles-per-doc rows,
    shuffled on doc id — independent of corpus pair count. Zero-overlap
    candidates (pure band-hash collisions) survive via the left join
    with jaccard 0, so the candidate set is preserved exactly.

    Both multi-consumer frames are persisted: the candidate pairs feed
    the verify join AND the final left join, and the shingle rows feed
    the size aggregate AND both sides of the intersection join —
    without materialization the tokenize/shingle HOF pipeline ran four
    times and the LSH candidate pipeline twice (plan audit)."""
    from pyspark.sql import Window as W

    # localCheckpoint (not persist): both frames feed 2+ plan branches,
    # and persist only dedupes execution — each branch still carries the
    # full lineage in the plan (22 audited shuffles); the checkpoint
    # makes them scan leaves (house plan-trim pattern)
    cands = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    sh = (
        _shingle_rows(spark, sf_dir)
        .select("doc_id", F.col("s").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    com = (
        cands.join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(
            sh.alias("b"),
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return (
        cands.join(com, ["doc_a", "doc_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)).cast("long"))
        .join(
            sizes.select(F.col("doc_id").alias("sa_id"), F.col("n").alias("na")),
            F.col("doc_a") == F.col("sa_id"),
        )
        .join(
            sizes.select(F.col("doc_id").alias("sb_id"), F.col("n").alias("nb")),
            F.col("doc_b") == F.col("sb_id"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            jac.alias("jaccard"),
            (jac >= _JACCARD_T).alias("is_dup"),
        )
    )


@register(
    "split_contamination_check",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS content_digest,
             CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                  THEN 'test'
                  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    ),
    per_digest AS (
      SELECT content_digest, COUNT(DISTINCT split) AS nsp
      FROM tagged GROUP BY content_digest
    )
    SELECT t.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT t.content_digest) AS BIGINT) AS n_distinct_digests,
           CAST(COUNT(CASE WHEN d.nsp > 1 THEN 1 END) AS BIGINT)
             AS n_contaminated_docs,
           MIN(CASE WHEN d.nsp > 1 THEN t.doc_id END) AS example_doc_id
    FROM tagged t JOIN per_digest d ON d.content_digest = t.content_digest
    GROUP BY t.split
    """,
    tags=("dedup", "contamination", "split", "pipeline"),
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: the release-gate leakage check
    every training-corpus build runs before shipping a dataset, as a
    per-split summary so the result is NEVER degenerate — a clean
    corpus still yields three fully-populated audit rows (docs,
    distinct digests, zero contaminated) instead of an empty frame
    whose value-hash proves nothing (the 0-rows-trivially-pass trap).
    A document counts as contaminated when its whitespace-normalized
    content digest appears in more than one split of the same
    deterministic hash-split rule as stratified_split; the min
    contaminated doc_id per split makes hits actionable. Plan (r11
    pivot pre-agg, guide §2.3/§2.4): the split domain is FIXED (test/
    val/train), so ONE groupBy(content_digest) hash aggregate computes
    per-split doc counts and min doc_ids, nsp>1 becomes a row-local
    flag over those counts, and the 3-row summary is a stack +
    groupBy(split) over the per-digest frame — replacing r10's
    countDistinct aggregate + digest-keyed join of the full tagged
    frame + final two-countDistinct expand (3 digest-width shuffles →
    1, and the join's second pass over every doc row is gone)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    digest = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2)
    split = F.when(h < "0d", "test").when(h < "1a", "val").otherwise("train")
    tagged = docs.select(
        "doc_id", digest.alias("content_digest"), split.alias("split")
    )
    splits = ("test", "val", "train")
    per_digest = tagged.groupBy("content_digest").agg(
        *[F.count(F.when(F.col("split") == s, 1)).alias(f"c_{s}") for s in splits],
        *[
            F.min(F.when(F.col("split") == s, F.col("doc_id"))).alias(f"m_{s}")
            for s in splits
        ],
    )
    nsp = sum((F.col(f"c_{s}") > 0).cast("int") for s in splits)
    stacked = per_digest.select(
        (nsp > 1).alias("contam"),
        F.expr(
            "stack(3, "
            + ", ".join(f"'{s}', c_{s}, m_{s}" for s in splits)
            + ") as (split, cnt, mdoc)"
        ),
    ).filter(F.col("cnt") > 0)
    return stacked.groupBy("split").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_digests"),
        F.sum(F.when(F.col("contam"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_contaminated_docs"),
        F.min(F.when(F.col("contam"), F.col("mdoc"))).alias("example_doc_id"),
    )


@register(
    "dedup_kept_corpus",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i, MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
    ),
    reach(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.doc_id = e.b
    ),
    clusters AS (SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id),
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
              FROM clusters GROUP BY cluster_id)
    SELECT c.doc_id, s.n_members, d.n_chars
    FROM clusters c
      JOIN sizes s ON s.cluster_id = c.cluster_id
      JOIN documents d ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
    tags=("dedup", "clusters", "pipeline"),
)
def dedup_kept_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT: the kept (deduplicated) corpus —
    one canonical doc (min doc_id) per near-dup cluster, singletons
    included, annotated with the cluster size it represents. This is
    the last stage of shingle → LSH → verify → cluster → keep: what a
    100 TB curation run actually writes back out. The cluster-size
    join and canonical filter ride the cluster_id hash partitioning;
    the doc-metadata join is on doc_id (the scan's natural key)."""
    clusters = dedup_connected_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    kept = clusters.filter(F.col("doc_id") == F.col("cluster_id")).join(sizes, "cluster_id")
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return kept.join(meta, "doc_id").select("doc_id", "n_members", "n_chars")


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common,
             MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= {_JACCARD_T}
    """,
    tags=("dedup", "jaccard", "prefix-filter"),
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard pairs (threshold {t}) via PPJoin-style prefix
    filtering — the sub-quadratic exact path between the inverted
    index (dedup_ngram_jaccard: every shared shingle generates a
    candidate, quadratic in hot shingles) and MinHash+LSH
    (probabilistic, can miss pairs). Under a global rarest-first
    shingle order, any pair with J ≥ t must share a shingle within
    each side's first n − ⌈t·n⌉ + 1 shingles, so ONLY prefix shingles
    enter the candidate self-join; hot (frequent) shingles sort last
    and fall OUT of prefixes — exactly the rows that blow up the
    inverted index. Candidates then get exact verification, so the
    result equals dedup_ngram_jaccard row-for-row (the oracle IS that
    query's formulation; no false negatives by the prefix theorem, no
    false positives past verification).

    Plan: doc-frequency agg (shingle key) → per-doc rarest-first rank
    (doc key) → prefix self-join (shingle key) → verify joins. Every
    exchange keys on bounded-cardinality values; the candidate set —
    the quadratic risk — is clamped by the filter."""
    from pyspark.sql import Window as W

    # sh feeds the frequency agg AND both verify branches; prefix feeds
    # both candidate branches — persisted so the shingle HOF pipeline
    # runs once, not six times (self-join branches don't share subtrees)
    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id",
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n"),
        F.col("s").alias("shingle"),
    ).localCheckpoint(eager=True)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(freq, "shingle").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
        ),
    )
    # prefix length: n - ceil(t*n) + 1, with ceil(3n/5) = floor((3n+4)/5)
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(3 * n + 4) div 5") + F.lit(1)
    ).select("doc_id", "shingle").localCheckpoint(eager=True)
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("a.n").alias("na"),
            F.max("b.n").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return inter.select("doc_a", "doc_b", "n_common", jac.alias("jaccard")).filter(
        F.col("jaccard") >= _JACCARD_T
    )


@register(
    "dedup_minhash_estimate_vs_exact",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE},
    mh AS (
      SELECT doc_id, {_sql_mh_list()}
      FROM hp GROUP BY doc_id
    ),
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i, MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
      FROM inter
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
    )
    SELECT e.doc_a, e.doc_b, e.jaccard,
           CAST(({" + ".join(
               f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
               for j in range(NUM_HASHES)
           )}) AS BIGINT) AS n_equal,
           CAST(({" + ".join(
               f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
               for j in range(NUM_HASHES)
           )}) AS DOUBLE) / {NUM_HASHES}.0 AS jaccard_est
    FROM exact e
    JOIN mh a ON a.doc_id = e.doc_a
    JOIN mh b ON b.doc_id = e.doc_b
    """,
    tags=("dedup", "minhash", "sketch-accuracy"),
)
def dedup_minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for MinHash: over every exact near-dup
    pair (J ≥ {t}), the signature-based estimate — the fraction of
    equal minhash components, whose expectation IS the Jaccard — next
    to the exact value. The measurement that justifies NUM_HASHES:
    raise it until |est − exact| is acceptable for the dedup
    threshold. Same audit shape as cms_token_counts (estimate vs
    exact on probed keys) and the ANN recall tests. Signature
    comparison is {h} integer equality checks per pair — done on the
    already-reduced pair set, never the corpus."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    sig = minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)  # scan leaf read by both pair sides
    a = sig.alias("a")
    b = sig.alias("b")
    n_equal = sum(
        F.when(F.col(f"a.mh{j}") == F.col(f"b.mh{j}"), 1).otherwise(0)
        for j in range(NUM_HASHES)
    )
    return (
        exact.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_equal.cast("long").alias("n_equal"),
            (n_equal.cast("double") / F.lit(float(NUM_HASHES))).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy-match join
# ---------------------------------------------------------------------------

_ER_MAX_EDIT = 1


@register(
    "fuzzy_match_customers",
    oracle=f"""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
     AND abs(length(a.c_name) - length(b.c_name)) <= {_ER_MAX_EDIT}
    WHERE levenshtein(a.c_name, b.c_name) <= {_ER_MAX_EDIT}
    """,
    tags=("dedup", "entity_resolution", "fuzzy", "blocking"),
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by BLOCKED fuzzy join: candidate pairs come
    only from within a blocking key (nation), are pre-filtered by the
    length-difference lower bound (|len(a)−len(b)| ≤ d implies nothing
    is lost for edit distance ≤ d), and only then pay the O(m·n)
    Levenshtein verify — the classic blocking→bound→verify funnel that
    turns an O(n²) corpus-wide match into Σ O(block²).

    Levenshtein is an integer metric, so the result is exactly
    portable. Scale: the blocking key alone has only |nations| distinct
    values — a plain equi-join on it runs at most 25 tasks no matter
    how many cores exist (measured 24 s at sf0.1 with 31 cores idle).
    Each block is therefore sub-tiled by the house block-grid
    (dedup_embedding_cosine's unordered-pair fan-out, here as a pure
    JVM equi-join on (nation, pi, pj)): every customer row is
    replicated to the B tiles its pmod block participates in, the join
    key gains two tile coordinates (|nations|·B(B+1)/2 keys), and the
    length-bound + Levenshtein verify run inside codegen exactly as
    before. Diagonal tiles dedupe with the a<b filter; off-diagonal
    tiles hold disjoint key sets and canonicalise with least/greatest.
    Same pair set, 900 parallel keys instead of 25 —
    dedup_prefix_filter_pairs is the token-set analog of this funnel."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    B = tile_grid_side(table_rowcount(spark, sf_dir, "customer"))
    cust = cust.withColumn("blk", F.pmod(F.col("c_custkey"), F.lit(B)).cast("int"))
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat"),
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("pj"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
    )
    return (
        pin_groups(a, "nat", "pi", "pj").join(pin_groups(b, "nat", "pi", "pj"), ["nat", "pi", "pj"])
        .filter(
            # diagonal tiles see each unordered pair twice (both rows sit
            # on both sides): keep the a<b orientation; off-diagonal tiles
            # hold disjoint block id sets, so every pairing is unique
            ((F.col("pi") != F.col("pj")) | (F.col("key_a") < F.col("key_b")))
            & (F.col("key_a") != F.col("key_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= _ER_MAX_EDIT)
            & (F.levenshtein(F.col("name_a"), F.col("name_b")) <= _ER_MAX_EDIT)
        )
        .select(
            F.least("key_a", "key_b").alias("key_a"),
            F.greatest("key_a", "key_b").alias("key_b"),
            F.levenshtein(F.col("name_a"), F.col("name_b"))
            .cast("long")
            .alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash banding: near-dup PAIRS from the fingerprint
# ---------------------------------------------------------------------------

_SIMHASH_MAX_HAMMING = 3
_SIMHASH_BANDS = 4  # 4 bands x 16 bits


@register(
    "dedup_simhash_band_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTE},
    bands AS (
      SELECT doc_id, b.band_id,
             substr(simhash_bits, b.band_id * 16 + 1, 16) AS band
      FROM sim, UNNEST([0, 1, 2, 3]) AS b(band_id)
      QUALIFY row_number() OVER (PARTITION BY b.band_id,
                 substr(simhash_bits, b.band_id * 16 + 1, 16)
                 ORDER BY doc_id) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band = b.band
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(generate_series(1, 64),
                    i -> substr(sa.simhash_bits, i, 1)
                      <> substr(sb.simhash_bits, i, 1))) AS BIGINT) AS hamming
    FROM cand c
    JOIN sim sa ON sa.doc_id = c.doc_a
    JOIN sim sb ON sb.doc_id = c.doc_b
    WHERE len(list_filter(generate_series(1, 64),
              i -> substr(sa.simhash_bits, i, 1)
                <> substr(sb.simhash_bits, i, 1))) <= {_SIMHASH_MAX_HAMMING}
    """,
    tags=("dedup", "simhash", "lsh", "pipeline"),
)
def dedup_simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4x16-bit
    pieces, bucket-join on any identical band, then verify exact hamming
    distance <= 3. By pigeonhole this banding has EXACT recall at the
    threshold BELOW THE BUCKET CAP: 3 differing bits can touch at most
    3 of the 4 bands, so every hamming<=3 pair shares at least one
    verbatim band — unlike MinHash LSH, no probabilistic recall loss.
    Hot buckets (> LSH_BUCKET_CAP docs sharing a 16-bit band —
    boilerplate that collapses to one fingerprint) truncate to the cap
    deterministically, and the oracle encodes the SAME cap: the r5
    sf0.1 sweep caught exactly this divergence (spark 300 vs duckdb
    312 pairs) when the cap engaged for real while the oracle still
    described uncapped banding.

    Plan shape: the fingerprint is packed ONCE per doc into four
    16-bit ints (conv is per doc-band, not per pair), the band VALUE
    is that int, and every band row carries all four ints — so the
    self-join keys are ints instead of 16-char strings and the hamming
    verify (4 xor/bit_count codegen ops) runs inline on the collision
    rows, eliminating the two verify join-backs to the fingerprint
    table (r11: 2 fewer joins; pair distinct moves after the hamming
    filter, so it deduplicates only surviving pairs). The candidate
    space is bounded by band collisions, never O(n^2). Hot bands
    (boilerplate corpora hash to identical fingerprints) are capped at
    the LSH_BUCKET_CAP lowest doc_ids exactly like the MinHash bucket
    guard — a WindowGroupLimit row pick, NOT a collect_list posting
    aggregate, because pre-cap bucket sizes are unbounded at 100 TB —
    inactive at test SFs (oracle unaffected), bounds the blowup at
    cap^2 per bucket.

    Reference parity note: the reference has no dedup operator of any
    kind (SURVEY.md §2.9); this is part of the beyond-reference
    training-data pipeline surface."""
    sig = dedup_simhash(spark, sf_dir).localCheckpoint(eager=True)
    packed = sig.select(
        "doc_id",
        *[
            F.expr(
                f"cast(conv(substring(simhash_bits, {b * 16 + 1}, 16), 2, 10) as int)"
            ).alias(f"i{b}")
            for b in range(_SIMHASH_BANDS)
        ],
    )
    bands = packed.select(
        "doc_id",
        *[f"i{b}" for b in range(_SIMHASH_BANDS)],
        F.posexplode(F.array(*[f"i{b}" for b in range(_SIMHASH_BANDS)])).alias(
            "band_id", "band"
        ),
    )
    wcap = Window.partitionBy("band_id", "band").orderBy("doc_id")
    bands = (
        bands.withColumn("_bn", F.row_number().over(wcap))
        .filter(F.col("_bn") <= LSH_BUCKET_CAP)
        .drop("_bn")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = sum(
        F.expr(f"bit_count(a.i{b} ^ b.i{b})") for b in range(_SIMHASH_BANDS)
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric near-dup: A mostly inside B)
# ---------------------------------------------------------------------------

_CONTAIN_THRESHOLD = 0.8


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common,
             MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / CAST(na AS DOUBLE) AS containment
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / CAST(na AS DOUBLE) >= {_CONTAIN_THRESHOLD}
    """,
    tags=("dedup", "containment", "jaccard"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(A→B) = |A∩B| / |A| ≥ 0.8 —
    doc_a's shingles are mostly inside doc_b. Jaccard misses exactly
    this case (a paragraph quoted inside a much larger page scores
    near-zero Jaccard but containment 1.0), which is why web-corpus
    pipelines (CCNet-style) dedup on containment for subset-copies.
    Ordered pairs (doc_a <> doc_b, both directions) because containment
    is directional. Same inverted-index plan as dedup_ngram_jaccard —
    one shuffle on the shingle, per-doc sizes carried on the index rows
    so no join-back; integer counts, one float division. At 100 TB the
    candidate generation runs through the MinHash/LSH or prefix-filter
    funnel first and this formula verifies candidates only."""
    from pyspark.sql import Window as W

    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id",
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n"),
        F.col("s").alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("a.n").alias("na"),
        )
    )
    cont = F.col("n_common").cast("double") / F.col("na").cast("double")
    return (
        inter.filter(cont >= _CONTAIN_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", cont.alias("containment"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (approximate set membership across splits)
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 16  # filter positions
_BLOOM_K = 4  # hashes per item

_SQL_SPLIT_TAG = """
    tagged AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS content_digest,
             CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                  THEN 'test'
                  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    )"""


@register(
    "bloom_split_membership",
    oracle=f"""
    WITH {_SQL_SPLIT_TAG},
    train_pos AS (
      SELECT DISTINCT
             CAST('0x' || substring(md5('bf' || j.j || ':' || content_digest), 1, 15)
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM tagged, UNNEST([0, 1, 2, 3]) AS j(j)
      WHERE split = 'train'
    ),
    train_digests AS (
      SELECT DISTINCT content_digest FROM tagged WHERE split = 'train'
    ),
    eval_pos AS (
      SELECT t.doc_id, t.content_digest,
             CAST('0x' || substring(md5('bf' || j.j || ':' || t.content_digest), 1, 15)
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM tagged t, UNNEST([0, 1, 2, 3]) AS j(j)
      WHERE t.split <> 'train'
    ),
    hits AS (
      SELECT e.doc_id, e.content_digest, COUNT(p.pos) AS n_hit
      FROM eval_pos e LEFT JOIN train_pos p ON p.pos = e.pos
      GROUP BY 1, 2
    )
    SELECT h.doc_id,
           CAST(n_hit = {_BLOOM_K} AS BOOLEAN) AS bloom_hit,
           CAST(td.content_digest IS NOT NULL AS BOOLEAN) AS exact_dup
    FROM hits h
    LEFT JOIN train_digests td ON td.content_digest = h.content_digest
    """,
    tags=("dedup", "sketch", "bloom", "split", "pipeline"),
)
def bloom_split_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership across corpus splits: the train split's
    content digests populate a {_BLOOM_K}-hash/{_BLOOM_M}-position
    filter; every holdout doc probes it — bloom_hit next to exact_dup
    exposes the filter's one-sided error exactly (no false negatives:
    every exact_dup row MUST be a bloom_hit, asserted in tests;
    bloom_hit without exact_dup is a measurable false positive).

    The filter is represented as its distinct set-bit positions —
    relational bits, ≤ m rows of one long — which the serving layer
    packs into the literal m/8-byte bitmask (8 KB here); at 100 TB the
    filter table broadcasts to every probe task, the membership test
    costs k hash+join-probe ops per doc, and train texts never move.
    Hashing is salted md5 → identical positions in both engines. This
    is the approximate counterpart of split_contamination_check's
    exact digest join — deliberately the SAME 3-way stratified split
    rule and whitespace-normalized digest, so the two queries audit
    the identical release split (curation.bloom_split_probe is the
    general-purpose Bloom primitive over a raw mod-10 split; this one
    slots into the release-gate family)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    digest = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2)
    split = F.when(h < "0d", "test").when(h < "1a", "val").otherwise("train")
    tagged = docs.select(
        "doc_id", digest.alias("content_digest"), split.alias("split")
    ).persist()

    def pos_col() -> F.Column:
        return F.expr(
            f"cast(conv(substring(md5(concat('bf', j, ':', content_digest)), 1, 15),"
            f" 16, 10) as bigint) % {_BLOOM_M}"
        )

    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")
    train_pos = (
        tagged.filter(F.col("split") == "train")
        .select("content_digest", js)
        .select(pos_col().alias("pos"))
        .distinct()
    )
    train_digests = (
        tagged.filter(F.col("split") == "train").select("content_digest").distinct()
    )
    eval_pos = (
        tagged.filter(F.col("split") != "train")
        .select("doc_id", "content_digest", js)
        .select("doc_id", "content_digest", pos_col().alias("pos"))
    )
    hits = (
        eval_pos.join(
            F.broadcast(train_pos.withColumn("present", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "content_digest")
        .agg(F.count("present").alias("n_hit"))
    )
    return (
        hits.join(
            F.broadcast(train_digests.withColumn("in_train", F.lit(1))),
            "content_digest",
            "left",
        )
        .select(
            "doc_id",
            (F.col("n_hit") == _BLOOM_K).alias("bloom_hit"),
            F.col("in_train").isNotNull().alias("exact_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel report
# ---------------------------------------------------------------------------

_GATE_MIN_WORDS = 50
_GATE_MAX_WORDS = 5000


@register(
    "corpus_curation_report",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    shn AS (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i, MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
    ),
    reach(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.doc_id = e.b
    ),
    clusters AS (SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id),
    kept AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id)
    SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    UNION ALL
    SELECT 'exact_unique',
           CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'near_dedup_kept', CAST(COUNT(*) AS BIGINT) FROM kept
    UNION ALL
    SELECT 'length_gate', CAST(COUNT(*) AS BIGINT)
    FROM kept k JOIN toks t ON t.doc_id = k.doc_id
    WHERE len(t.t) BETWEEN {_GATE_MIN_WORDS} AND {_GATE_MAX_WORDS}
    """,
    tags=("dedup", "pipeline", "reporting", "quality"),
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-funnel REPORT: one row per pipeline stage with the
    surviving document count — raw → exact-unique (digest) →
    near-dedup kept (connected-cluster canonicals) → length gate
    (50–5000 words). This is the per-run summary a 100 TB corpus
    build publishes next to its output (examples/corpus_pipeline.py
    runs the stages themselves); each count reuses the registered
    stage operators, so the report IS the pipeline's accounting, not
    a parallel re-implementation. The one heavy input (the cluster
    frame) is computed once by dedup_connected_clusters' persisted
    loop and reduced to two scalar counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    digest = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    kept = (
        dedup_connected_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .persist()
    )
    nwords = F.expr(f"size({_TOKS})")
    gated = kept.join(docs, "doc_id").filter(
        nwords.between(_GATE_MIN_WORDS, _GATE_MAX_WORDS)
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_docs")
        ).select("stage", "n_docs")

    exact = docs.agg(
        F.lit("exact_unique").alias("stage"),
        F.countDistinct(digest).alias("n_docs"),
    ).select("stage", "n_docs")
    return (
        stage("raw", docs)
        .unionByName(exact)
        .unionByName(stage("near_dedup_kept", kept))
        .unionByName(stage("length_gate", gated))
    )


# ---------------------------------------------------------------------------
# exact substring-span dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better" — span-level exact dedup, token K-grams)
# ---------------------------------------------------------------------------

_SPAN_K = 5  # tokens per exact-match span


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
      FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_K - 1})) AS u(i)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT grams.doc_id, grams.pos FROM grams JOIN dupg USING (g)),
    cov AS (
      SELECT doc_id, least({_SPAN_K}, coalesce(
                 lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                 {_SPAN_K})) AS cov
      FROM dup
    ),
    cover AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             CAST(SUM(cov) AS BIGINT) AS dup_token_coverage
      FROM cov GROUP BY doc_id
    )
    SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
           coalesce(cover.n_dup_spans, 0) AS n_dup_spans,
           coalesce(cover.dup_token_coverage, 0) AS dup_token_coverage,
           CAST(coalesce(cover.dup_token_coverage, 0) AS DOUBLE)
             / CAST(len(toks.t) AS DOUBLE) AS dup_ratio
    FROM toks LEFT JOIN cover ON toks.doc_id = cover.doc_id
    WHERE len(toks.t) >= {_SPAN_K}
    """,
    tags=("dedup", "substring", "pipeline"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2022 style): a position is
    'duplicated' when its exact {K}-token gram also occurs in another
    document; per-doc output is the count of duplicated spans and the
    number of TOKEN POSITIONS covered by at least one duplicated span
    (overlapping spans merged with a lead()-window interval union:
    each span contributes min(K, next_start - start) tokens). The
    coverage ratio is the 'what fraction of this doc is boilerplate /
    copied' signal that decides rewrite-vs-drop in a curation pipeline
    — strictly finer than the document-level n-gram Jaccard family
    above.

    Scale shape: positional grams are built in-row (sequence →
    slice → concat_ws, zero shuffle, tokenization hoisted — see
    _shingle_rows); the gram frame feeds both the duplicated-gram
    aggregation and the position rejoin, so it is persisted once.
    Two shuffles total at corpus scale: the gram-count aggregation
    and the join-back keyed on the gram; the interval-union window
    then works on the tiny duplicated-position set per doc."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {_SPAN_K - 1}, 0)),"
                f" i -> struct(bigint(i) AS pos, concat_ws(' ', slice(t, i, {_SPAN_K})) AS g))"
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.g")
    grams = grams.persist()
    dupg = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup = grams.join(dupg, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cover = (
        dup.withColumn(
            "cov",
            F.least(
                F.lit(_SPAN_K).cast("long"),
                F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(_SPAN_K).cast("long")),
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum("cov").alias("dup_token_coverage"),
        )
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") >= _SPAN_K
    )
    return base.join(cover, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias("n_dup_spans"),
        F.coalesce("dup_token_coverage", F.lit(0).cast("long")).alias("dup_token_coverage"),
        (
            F.coalesce("dup_token_coverage", F.lit(0).cast("long")).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (SNM) — the third blocking family next to
# LSH-banding (dedup_minhash_lsh_pairs) and prefix-filtering
# (dedup_prefix_filter_pairs)
# ---------------------------------------------------------------------------

_SNM_W = 3  # window: each doc pairs with its w-1 successors in key order


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    keyed AS (
      SELECT doc_id,
             substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 40)
               AS sort_key
      FROM documents
    ),
    nbr AS (
      SELECT doc_id, sort_key,
             lead(doc_id, 1) OVER w AS n1, lead(doc_id, 2) OVER w AS n2
      FROM keyed WINDOW w AS (ORDER BY sort_key, doc_id)
    ),
    cand AS (
      SELECT LEAST(doc_id, nb) AS doc_a, GREATEST(doc_id, nb) AS doc_b
      FROM nbr, UNNEST([n1, n2]) AS u(nb) WHERE nb IS NOT NULL
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST(i.n_common AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
            / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.6
    """,
    tags=("dedup", "blocking", "snm"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking: sort the corpus by a
    normalized prefix key (first 40 alphanumeric chars), pair each doc
    with its w-1=2 successors in key order, then exact-Jaccard-verify
    the candidates (threshold 0.6). Near-dups share prefixes, so they
    land adjacent after the sort — candidate count is O(w·n) versus
    LSH's bucket blowup on skewed keys, and there is NO quadratic
    bucket risk by construction.

    Scale shape — SHARDED sort, not a single global window: rows are
    range-bucketed on the first sort_key character (bucket order ≡ key
    order), lead() runs inside each bucket's partition, and the w-1
    rows of cross-bucket lookahead are supplied by a boundary stitch:
    each bucket's head/tail rows (≤ 2(w-1) per bucket, O(#buckets·w)
    total — independent of corpus size) are unioned into one tiny
    frame where a global lead() recovers every tail row's true
    successors. A tail row's k-th global successor (k < w) is always
    either a later tail row of its own bucket or a head row of a
    following bucket, so the stitch set is closed — the candidate set
    is exactly the one a true global sort would produce. The verify
    stage joins candidates to the shingle index on doc_id —
    pushdown-friendly semi-joins, integer counts, one float division
    at the end. The classic multi-pass SNM (several sort keys to catch
    prefix-divergent dups) is this operator unioned over key variants;
    pairs found here are a strict audit complement to
    dedup_minhash_lsh_pairs (prefix-local dups LSH can miss at low
    signature budgets)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""), 1, 40
        ).alias("sort_key"),
    ).withColumn("bkt", F.substring("sort_key", 1, 1))

    wb = Window.partitionBy("bkt").orderBy("sort_key", "doc_id")
    local = keyed.select(
        "doc_id",
        "sort_key",
        "bkt",
        F.lead("doc_id", 1).over(wb).alias("n1"),
        F.lead("doc_id", 2).over(wb).alias("n2"),
        F.row_number().over(wb).alias("rn"),
        F.row_number()
        .over(Window.partitionBy("bkt").orderBy(F.desc("sort_key"), F.desc("doc_id")))
        .alias("rn_desc"),
    ).localCheckpoint(eager=True)

    # boundary stitch: heads ∪ tails of every bucket, globally ordered —
    # a bounded O(#buckets·(w-1)) frame, NOT an O(n) single-partition sort
    small = local.filter((F.col("rn") <= _SNM_W - 1) | (F.col("rn_desc") <= _SNM_W - 1))
    ws = Window.orderBy("sort_key", "doc_id")
    stitch = (
        small.select(
            "doc_id",
            "sort_key",
            "rn_desc",
            F.lead("doc_id", 1).over(ws).alias("s1"),
            F.lead("doc_id", 2).over(ws).alias("s2"),
        )
        .filter(F.col("rn_desc") <= _SNM_W - 1)
        .select("doc_id", "s1", "s2")
    )
    nbr = (
        local.join(stitch, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n1", "s1").alias("n1"),
            F.coalesce("n2", "s2").alias("n2"),
        )
    )
    cand = (
        nbr.select("doc_id", F.explode(F.array("n1", "n2")).alias("nb"))
        .filter(F.col("nb").isNotNull())
        .select(
            F.least("doc_id", "nb").alias("doc_a"),
            F.greatest("doc_id", "nb").alias("doc_b"),
        )
    )
    sh = _shingle_rows(spark, sf_dir).persist()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# ---------------------------------------------------------------------------
# weighted MinHash via integer multiset expansion — tf-weighted near-dup
# detection with an exact weighted-Jaccard audit
# ---------------------------------------------------------------------------

_WMH_T = 0.5  # exact weighted-Jaccard pair threshold

_SQL_WMH = f"""
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents)
      WHERE token <> '' GROUP BY doc_id, token
    ),
    sz AS (SELECT doc_id, SUM(tf) AS n FROM tf GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(LEAST(a.tf, b.tf)) AS summin
      FROM tf a JOIN tf b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT p.doc_a, p.doc_b, p.summin,
             CAST(p.summin AS DOUBLE)
               / CAST(sa.n + sb.n - p.summin AS DOUBLE) AS wj_exact
      FROM pairs p
      JOIN sz sa ON sa.doc_id = p.doc_a
      JOIN sz sb ON sb.doc_id = p.doc_b
      WHERE CAST(p.summin AS DOUBLE)
              / CAST(sa.n + sb.n - p.summin AS DOUBLE) >= {_WMH_T}
    ),
    hp AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('wmhA:' || token || ':' || CAST(i AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h1,
             CAST('0x' || substr(md5('wmhB:' || token || ':' || CAST(i AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h2
      FROM tf, UNNEST(generate_series(1, tf)) AS u(i)
    ),
    sig AS (SELECT doc_id, {{mh_list}} FROM hp GROUP BY doc_id)"""


@register(
    "dedup_weighted_minhash",
    oracle=(
        lambda: f"""
    WITH {_SQL_WMH.format(mh_list=_sql_mh_list())}
    SELECT e.doc_a, e.doc_b, e.wj_exact,
           CAST({" + ".join(f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(NUM_HASHES))}
                AS BIGINT) AS n_match
    FROM exact e
    JOIN sig a ON a.doc_id = e.doc_a
    JOIN sig b ON b.doc_id = e.doc_b
    """
    )(),
    tags=("dedup", "minhash", "weighted"),
)
def dedup_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (tf-aware) MinHash: each token is expanded into tf
    integer replicas (token:1 … token:tf) before hashing, so signature
    agreement estimates the WEIGHTED Jaccard Σmin(tf_a,tf_b) /
    Σmax(tf_a,tf_b) — the similarity that distinguishes "same words,
    very different emphasis" documents plain set-Jaccard conflates.
    Integer expansion is the exactly-reproducible alternative to
    consistent-weighted-sampling (ICWS needs log/exp floats that would
    never hash-match across engines); it is exact for integer weights
    and costs O(Σtf) = O(document length) rows — the same order as
    tokenizing at all.

    Output: every exact-weighted-Jaccard ≥ 0.5 pair with its signature
    agreement count (n_match of 12) — the estimate-vs-truth audit in
    one frame, like dedup_minhash_estimate_vs_exact for the
    unweighted case. Plan: tf (one hash agg) feeds BOTH the exact
    pair computation and the expanded signature build — checkpointed,
    the multi-consumer rule (MEASURE.md session-5); signature
    aggregation is 12 MINs, map-side partial, rows ∝ docs not tokens.

    Exact side: the naive token self-join emits O(Σ_t df_t²) rows —
    on this corpus's 31-token vocabulary that is 4.5e8 shuffled rows
    (measured 197 s at sf0.1). Instead each doc collapses to its
    (token, tf) list and Σmin(tf_a, tf_b) runs as the house block-tile
    pattern (dedup_embedding_cosine's grid): B×B unordered block
    pairs, no pair ever leaves its task, the shuffle carries
    2·(B+1)·docs doc-vectors, task memory is one tile pair. Inside a
    tile the accumulation is SPARSE per token: only tokens present on
    BOTH sides contribute, and each contributes an nnz_a(t)×nnz_b(t)
    min-outer scattered into the summin accumulator — total work
    Σ_t nnz_a·nnz_b (the information-theoretic cost of exact weighted
    Jaccard), NOT rows_a·rows_b·|vocab|. The r7 form densified the
    tile's whole token union and looped every vocab column over the
    full rows×rows outer: at 10x corpus with 10x vocabulary that is a
    1000x blow-up — root-caused when the r8 sf1 scaling run put this
    query 60+ CPU-minutes into three straggler tiles (MEASURE.md r8).
    The grid side comes from io.tile_grid_side, so the summin tile
    (tile_rows² int64) is memory-bounded at any corpus size. At
    100 TB the exact side remains the test-scale audit path: compute
    only the signatures and band them (reuse the LSH machinery of
    dedup_minhash_lsh_pairs on mh0..mh11), then audit the estimator on
    a sampled pair set, never the full corpus."""
    import numpy as np
    import pandas as pd

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        # scan leaf: tf feeds the doc-vector build and the signature
        # expansion — checkpointed so the agg runs once
        .localCheckpoint(eager=True)
    )
    B = tile_grid_side(table_rowcount(spark, sf_dir, "documents"))
    docvec = tf.groupBy("doc_id").agg(
        F.collect_list(F.struct("token", "tf")).alias("items"),
        F.sum("tf").cast("long").alias("n"),
    )
    blk = docvec.withColumn("blk", F.pmod(F.col("doc_id"), F.lit(B)).cast("int"))
    a_side = blk.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("pj"),
        F.lit("a").alias("side"),
        "doc_id",
        "items",
        "n",
    )
    b_side = blk.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
        F.lit("b").alias("side"),
        "doc_id",
        "items",
        "n",
    )
    grid = a_side.unionByName(b_side)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": [], "doc_b": [], "wj_exact": []}).astype(
            {"doc_a": "int64", "doc_b": "int64", "wj_exact": "float64"}
        )
        pi, pj = int(key[0]), int(key[1])
        am = pdf["side"].to_numpy() == "a"
        ap, bp = pdf[am], pdf[~am]
        if ap.empty or bp.empty:
            return empty

        def triples(items: pd.Series):
            """(row, token, tf) triplet arrays, token-sorted so each
            token's rows form one contiguous slice."""
            rows, tok, tfs = [], [], []
            for r, lst in enumerate(items):
                for it in lst:
                    rows.append(r)
                    tok.append(it["token"])
                    tfs.append(it["tf"])
            rows = np.asarray(rows, dtype=np.int64)
            tok = np.asarray(tok, dtype=object)
            tfs = np.asarray(tfs, dtype=np.int64)
            order = np.argsort(tok, kind="stable")
            return rows[order], tok[order], tfs[order]

        ra, ta, fa = triples(ap["items"].reset_index(drop=True))
        rb, tb, fb = triples(bp["items"].reset_index(drop=True))
        aids = ap["doc_id"].to_numpy(dtype=np.int64)
        bids = bp["doc_id"].to_numpy(dtype=np.int64)
        na = ap["n"].to_numpy(dtype=np.int64)
        nb = bp["n"].to_numpy(dtype=np.int64)
        summin = np.zeros((len(aids), len(bids)), dtype=np.int64)
        # sparse accumulation: walk the two token-sorted triplet lists;
        # a token only present on one side contributes min(tf, 0) = 0,
        # so only the intersection's nnz_a x nnz_b outers are computed
        ua, sa_start, sa_cnt = np.unique(ta, return_index=True, return_counts=True)
        ub, sb_start, sb_cnt = np.unique(tb, return_index=True, return_counts=True)
        common, ia, ib = np.intersect1d(ua, ub, return_indices=True)
        for k in range(len(common)):
            s0, c0 = sa_start[ia[k]], sa_cnt[ia[k]]
            s1, c1 = sb_start[ib[k]], sb_cnt[ib[k]]
            summin[np.ix_(ra[s0 : s0 + c0], rb[s1 : s1 + c1])] += np.minimum(
                fa[s0 : s0 + c0][:, None], fb[s1 : s1 + c1][None, :]
            )
        # int64 → double conversions are exact (< 2^53); the division is
        # the same single IEEE op the oracle's CAST(... AS DOUBLE) does
        wj = summin.astype(np.float64) / (
            na[:, None] + nb[None, :] - summin
        ).astype(np.float64)
        keep = (wj >= _WMH_T) & (aids[:, None] < bids[None, :])
        ai, bi = np.nonzero(keep)
        out = [pd.DataFrame({"doc_a": aids[ai], "doc_b": bids[bi], "wj_exact": wj[ai, bi]})]
        if pi != pj:
            # off-diagonal tiles carry disjoint id sets on the two sides:
            # emit the flipped-order pairs too, canonicalised doc_a < doc_b
            ai2, bi2 = np.nonzero((wj >= _WMH_T) & (aids[:, None] > bids[None, :]))
            out.append(
                pd.DataFrame(
                    {"doc_a": bids[bi2], "doc_b": aids[ai2], "wj_exact": wj[ai2, bi2]}
                )
            )
        return pd.concat(out, ignore_index=True)

    exact = pin_groups(grid, "pi", "pj").groupBy("pi", "pj").applyInPandas(
        tile, "doc_a long, doc_b long, wj_exact double"
    )
    expanded = tf.select(
        "doc_id", "token", F.explode(F.expr("sequence(1, tf)")).alias("i")
    ).select(
        "doc_id",
        F.expr("cast(conv(substring(md5(concat('wmhA:', token, ':', cast(i as string))), 1, 8), 16, 10) as bigint)").alias("h1"),
        F.expr("cast(conv(substring(md5(concat('wmhB:', token, ':', cast(i as string))), 1, 8), 16, 10) as bigint)").alias("h2"),
    )
    sig = expanded.groupBy("doc_id").agg(
        *[
            F.min(F.col("h1") + F.lit(j) * F.col("h2")).alias(f"mh{j}")
            for j in range(NUM_HASHES)
        ]
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_HASHES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_HASHES)]
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(NUM_HASHES)
    )
    return (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "wj_exact", n_match.cast("long").alias("n_match"))
    )


# ---------------------------------------------------------------------------
# cross-document exact-substring dedup (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better": remove any span whose
# token window occurs verbatim in another document)
# ---------------------------------------------------------------------------

_XDOC_K = 8  # tokens per window (the paper uses 50 BPE tokens; scaled
# to the synthetic corpus' ~20-90-token documents so overlaps exist)


@register(
    "dedup_cross_doc_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ),
    w AS (
      SELECT doc_id,
             md5(array_to_string(t[i:i+{_XDOC_K}-1], ' ')) AS h
      FROM toks, UNNEST(generate_series(1, len(t) - {_XDOC_K} + 1)) AS u(i)
    ),
    dup AS (
      SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(dup.h) AS BIGINT) AS n_dup_windows,
           CAST(COUNT(dup.h) * 10000 // COUNT(*) AS BIGINT) AS dup_bp
    FROM w LEFT JOIN dup ON w.h = dup.h
    GROUP BY w.doc_id
    """,
    tags=("dedup", "substring", "pipeline"),
)
def dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring cross-document dedup: every K-token window is
    hashed; a window whose hash occurs in >= 2 DISTINCT documents is a
    duplicated span, and each document reports its duplicated-window
    fraction (basis points) — the published suffix-array criterion
    re-expressed as a window-hash join, which is the shuffle-friendly
    form (a distributed suffix array needs a global sort; window
    hashing needs one hash shuffle and finds the same >=K-token
    verbatim overlaps, discretized to window starts).

    Scale shape: one explode (tokens x 1 per stride-1 window; at
    100 TB use stride K/2 — detection of >=K-token overlaps is
    preserved by pigeonhole at the cost of boundary slop), one hash
    aggregate on the window hash (partial map-side combine handles
    hot spans), one join back on the same key, one per-doc rollup.
    No pairwise comparisons anywhere — the all-pairs structure lives
    inside the hash groups."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("t"))
    # ANSI guard: sequence(1, size-K+1) counts DOWN when size < K
    w = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"if(size(t) < {_XDOC_K}, array(),"
                f" transform(sequence(1, size(t) - {_XDOC_K} + 1),"
                f" i -> md5(array_join(slice(t, i, {_XDOC_K}), ' '))))"
            )
        ).alias("h"),
    )
    dup = (
        w.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        w.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.count("is_dup").cast("long").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr("cast(n_dup_windows * 10000 div n_windows as bigint)").alias(
                "dup_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# survivorship policy over the LSH candidate graph (keep-best dedup)
# ---------------------------------------------------------------------------


def _sql_bands_union() -> str:
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws('_', {parts})) AS band_hash FROM mh".format(
            b=b,
            parts=", ".join(
                f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )


@register(
    "dedup_survivorship",
    oracle=(
        lambda: f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE},
    mh AS (
      SELECT doc_id, {_sql_mh_list()}
      FROM hp GROUP BY doc_id
    ),
    bands_raw AS (
      {_sql_bands_union()}
    ),
    bands AS (
      SELECT * FROM bands_raw
      QUALIFY row_number() OVER (PARTITION BY band_id, band_hash
                                 ORDER BY doc_id) <= {LSH_BUCKET_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct(t)) * 10000 // len(t) AS BIGINT) AS qu
      FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)
      WHERE len(t) > 0
    ),
    e AS (
      SELECT doc_a AS doc_id, doc_b AS other FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS other FROM pairs
    ),
    j AS (
      SELECT e.doc_id, qd.qu AS q_doc,
             (qo.qu > qd.qu OR (qo.qu = qd.qu AND e.other < e.doc_id)) AS lose
      FROM e
      JOIN q qd ON qd.doc_id = e.doc_id
      JOIN q qo ON qo.doc_id = e.other
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_cands,
           CAST(ANY_VALUE(q_doc) AS BIGINT) AS quality_units,
           NOT bool_or(lose) AS keep
    FROM j GROUP BY doc_id
    """
    )(),
    tags=("dedup", "survivorship", "pipeline"),
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best survivorship over the LSH candidate graph — the
    policy step every production dedup pipeline runs after candidate
    generation: among near-duplicate candidates, keep the
    highest-quality copy (here distinct-token ratio in integer
    basis-points, ties to the lower doc_id) and drop every document
    that is strictly worse than ANY of its candidates. Output: each
    candidate-involved doc, its candidate degree, quality, and keep
    verdict. The greedy any-loss rule is deterministic, local to the
    candidate edge list, and needs no cluster materialization — at
    100 TB it runs as two docs-sized hash joins on the (capped) pair
    list, no iteration (contrast dedup_connected_clusters when true
    transitive closure is required)."""
    # the pair list feeds BOTH direction branches of the edge union —
    # checkpoint it (house pattern) so the full signature/band lineage
    # runs once and the final plan is flat
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = (
        docs.select("doc_id", F.expr(_TOKS).alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.expr(
                "cast(size(array_distinct(t)) * 10000 div size(t) as bigint)"
            ).alias("qu"),
        )
    )
    e = pairs.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("other")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("other"))
    )
    j = (
        e.join(q.select(F.col("doc_id"), F.col("qu").alias("q_doc")), "doc_id")
        .join(
            q.select(F.col("doc_id").alias("other"), F.col("qu").alias("q_other")),
            "other",
        )
        .select(
            "doc_id",
            "q_doc",
            (
                (F.col("q_other") > F.col("q_doc"))
                | ((F.col("q_other") == F.col("q_doc")) & (F.col("other") < F.col("doc_id")))
            ).alias("lose"),
        )
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cands"),
        F.first("q_doc").alias("quality_units"),
        (~F.expr("bool_or(lose)")).alias("keep"),
    )


_PURITY_CAP = 8  # members scored per cluster: <= 28 pairs each


@register(
    "dedup_cluster_purity",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    shn AS MATERIALIZED (
      SELECT sh.doc_id, sh.shingle, sz.n
      FROM sh JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id) sz
        ON sz.doc_id = sh.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i, MAX(a.n) AS na, MAX(b.n) AS nb
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {_JACCARD_T}
    ),
    reach(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.doc_id = e.b
    ),
    clu AS MATERIALIZED (
      SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
    ),
    sized AS MATERIALIZED (
      SELECT c.doc_id, c.cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_docs,
             row_number() OVER (PARTITION BY c.cluster_id ORDER BY c.doc_id)
               AS rn
      FROM clu c
    ),
    members AS (SELECT * FROM sized WHERE n_docs >= 2 AND rn <= {_PURITY_CAP}),
    cp AS (
      SELECT m1.cluster_id, MAX(m1.n_docs) AS n_docs,
             m1.doc_id AS doc_a, m2.doc_id AS doc_b,
             COALESCE(CAST(round(CAST(p.i AS DOUBLE)
                 / CAST(p.na + p.nb - p.i AS DOUBLE) * 1000000.0) AS BIGINT), 0)
               AS j_mu
      FROM members m1
      JOIN members m2 ON m2.cluster_id = m1.cluster_id
                     AND m1.doc_id < m2.doc_id
      LEFT JOIN pairs p ON p.doc_a = m1.doc_id AND p.doc_b = m2.doc_id
      GROUP BY m1.cluster_id, m1.doc_id, m2.doc_id, p.i, p.na, p.nb
    )
    SELECT cluster_id, MAX(n_docs) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_eval,
           CAST(MIN(j_mu) AS BIGINT) AS min_jaccard_mu,
           CAST(SUM(j_mu) // COUNT(*) AS BIGINT) AS mean_jaccard_mu
    FROM cp GROUP BY cluster_id
    """,
    tags=("dedup", "clusters", "quality", "audit"),
)
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster QA: connected components group docs through
    TRANSITIVE edges, so a cluster can chain a-b-c where a and c share
    nothing — exactly the over-merging a production dedup pass must
    audit before dropping non-canonical members. For every multi-doc
    cluster, score the pairwise EXACT Jaccard over its first
    {_PURITY_CAP} members (<= 28 pairs per cluster regardless of
    cluster size — the LSH_BUCKET_CAP discipline), INCLUDING
    zero-overlap pairs, and report min/mean in exact micro-units: a
    low min against a high mean is the chain-merge signature.

    Plan: the cluster labels and the capped member list are scan
    leaves; pair scoring joins the member pairs against the
    shingle-pair stats (bounded by cap^2/2 per cluster); one final
    per-cluster aggregate. Shares the shingle/pair machinery and the
    clustering verbatim with dedup_connected_clusters."""
    from pyspark.sql import Window as W

    clusters = dedup_connected_clusters(spark, sf_dir).localCheckpoint(eager=True)
    sized = clusters.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(W.partitionBy("cluster_id"))
        .cast("long")
        .alias("n_docs"),
        F.row_number()
        .over(W.partitionBy("cluster_id").orderBy("doc_id"))
        .alias("rn"),
    )
    members = sized.filter(
        (F.col("n_docs") >= 2) & (F.col("rn") <= _PURITY_CAP)
    ).localCheckpoint(eager=True)

    sh = (
        _shingle_rows(spark, sf_dir)
        .select("doc_id", F.col("s").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m1 = members.select("cluster_id", "n_docs", F.col("doc_id").alias("doc_a"))
    m2 = members.select(F.col("cluster_id").alias("c2"), F.col("doc_id").alias("doc_b"))
    mp = (
        m1.join(m2, (m1.cluster_id == m2.c2) & (F.col("doc_a") < F.col("doc_b")))
        .select("cluster_id", "n_docs", "doc_a", "doc_b")
        .localCheckpoint(eager=True)  # feeds the intersection join AND the left join
    )
    inter = (
        mp.join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(
            sh.alias("b"),
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    scored = (
        mp.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "cluster_id",
            "n_docs",
            F.coalesce(
                F.expr(
                    "CAST(round(CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE)"
                    " * 1000000.0) AS BIGINT)"
                ),
                F.lit(0),
            ).alias("j_mu"),
        )
    )
    return scored.groupBy("cluster_id").agg(
        F.max("n_docs").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_pairs_eval"),
        F.min("j_mu").cast("long").alias("min_jaccard_mu"),
        F.expr("CAST(sum(j_mu) div count(1) AS BIGINT)").alias("mean_jaccard_mu"),
    )
