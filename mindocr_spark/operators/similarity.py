"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

- ``cosine_topk``: brute-force exact top-k for a query set — the baseline.
  Dot products run JVM-side via ``aggregate(zip_with(...))`` in double
  precision with index-order folds, which both Spark and DuckDB evaluate in
  the same IEEE order; results rounded to 4dp before ranking so both
  engines rank identically.
- ``ann_lsh_topk``: the scale path — sign-LSH bucketing on ``nbits`` seeded
  random-projection hyperplanes (deterministic integer-hash sign vectors;
  nbits derived from corpus size so buckets stay ~TARGET_BUCKET rows), then
  exact rerank within the bucket. At 10^12 rows the bucket column is the
  shuffle/partition key and the query set is broadcast.

Every operator here and ``pretrain.semdedup`` builds on one set of
primitives: the :func:`l2` and :func:`cosine` distances, :func:`nearest`
(the nearest-centroid argmin) and :func:`top_k` (the per-key
``row_number`` tail); each caller passes its own distance expression, so
its rounding and ``(dist, id)`` tie rule stay its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import spread

N_QUERIES = 20
TOP_K = 3
# ann_lsh_topk / embedding_near_dup_lsh bucket width is DERIVED from corpus
# size: bits = clamp(ceil(log2(N / TARGET_BUCKET)), MIN, MAX), so
# the expected bucket size stays ~TARGET_BUCKET as the corpus grows and
# per-bucket work is bounded by a constant, never by corpus size. The same
# formula is evaluated from count(*) inside the oracle SQL, so Spark and
# DuckDB always agree on the bucket layout at any sf.
TARGET_BUCKET = 32
MIN_TABLE_BITS = 3
# Hyperplanes are SEEDED RANDOM-PROJECTION (Rademacher) planes — sign
# vectors from a deterministic integer hash — so the plane supply is
# unbounded and the bit ceiling is set by the bucket-key width alone (int32
# positive). At N = 10^12 the derived width is ceil(log2(N/32)) = 35 -> 30,
# i.e. ~10^9 buckets/table of ~1000 rows; per-bucket matmul work stays
# bounded by bucket size (chunked), never by corpus size.
MAX_TABLE_BITS = 30


def _derived_bits(n: int) -> int:
    """clamp(ceil(log2(n / TARGET_BUCKET)), MIN, MAX) — IEEE-double log2,
    matching the SQL's ceil(log2(count(*) / 32.0)) bit-for-bit."""
    import math

    if n <= 0:
        return MIN_TABLE_BITS
    raw = math.ceil(math.log2(n / float(TARGET_BUCKET)))
    return min(MAX_TABLE_BITS, max(MIN_TABLE_BITS, raw))


_DERIVED_BITS_DUCK = (
    "least({mx}, greatest({mn}, cast(ceil(log2(count(*) / {tb}.0)) as int)))"
).format(mx=MAX_TABLE_BITS, mn=MIN_TABLE_BITS, tb=TARGET_BUCKET)

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "norm", F.expr(f"sqrt({_DOT.format(a='embedding', b='embedding')})")
    )


def l2(a: str, b: str) -> Column:
    """Squared L2 distance of two array columns (SQL expressions): a raw
    double, folded in index order like ``_L2_DUCK``."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
    )


def cosine(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of array columns ``a``, ``b`` with norms ``na``, ``nb``,
    rounded to 4dp so Spark and DuckDB rank identically."""
    return F.round(F.expr(_DOT.format(a=a, b=b)) / (F.col(na) * F.col(nb)), 4)


def nearest(cands: DataFrame, by: list[str], cent: str, dist: Column) -> DataFrame:
    """Argmin per ``by`` key: its ``cent`` of least ``dist``, ties to the lower
    ``cent``; columns (by, cent, dist). ``min(struct(dist, cent))`` orders
    exactly like ``dist asc, cent asc`` and combines map-side, so only one
    partial row per key and partition crosses the exchange; value-identical
    duplicate candidates collapse to one row. ``dist`` must be non-null. A
    caller needing a payload joins it back once by key."""
    return (
        cands.groupBy(by)
        .agg(F.min(F.struct(dist.alias("dist"), cent)).alias("m"))
        .select(*by, f"m.{cent}", "m.dist")
    )


def top_k(scored: DataFrame, by: list[str], order: list[Column], k: int) -> DataFrame:
    """The first ``k`` rows per ``by`` key under ``order`` (which must end in a
    unique tie-break), numbered in int column ``rank`` from 1."""
    w = Window.partitionBy(*by).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for vec_id < 20 (brute force)."""
    emb = _with_norm(_emb(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
    )
    # broadcast the small query side; the corpus side streams
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine("qe", "ce", "qn", "cn").alias("sim"))
    )
    return _best_sims(sims, TOP_K).select("query_id", "neighbor_id", "sim", "rank")


def _best_sims(sims: DataFrame, k: int) -> DataFrame:
    """Top-k neighbors per query by rounded cosine, ties to the lower id."""
    return top_k(sims, ["query_id"], [F.col("sim").desc(), F.col("neighbor_id").asc()], k)


_DOT_DUCK = "list_sum([cast({a}[i] as double) * cast({b}[i] as double) for i in range(1, 65)])"

COSINE_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_DUCK.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_DUCK.format(a='q.embedding', b='c.embedding')} / (q.norm * c.norm), 4) AS sim
  FROM e q JOIN e c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# Table count is DERIVED from the bit count to hold the recall target at
# the operator's threshold (classic LSH cost model: collision prob per bit
# p = 1 - acos(thr)/pi; per-table p^bits; L tables give 1-(1-p^bits)^L).
# As bits grow with corpus size, tables must grow to keep recall — this is
# the textbook N^rho trade-off, made explicit instead of silently decaying;
# MAX_LSH_TABLES is the cost ceiling, past which recall decays by design
# (documented), not by accident. The mapping is materialized as an INTEGER
# lookup shared verbatim with the oracle SQL (a CASE over nb), so engine
# float/libm differences in acos/ln/pow can never desynchronize the sides.
NEAR_DUP_COS = 0.45
MIN_LSH_TABLES = 6
MAX_LSH_TABLES = 24
_LSH_RECALL_TARGET = 0.8


def _tables_for_bits(bits: int) -> int:
    import math

    p_bit = 1.0 - math.acos(NEAR_DUP_COS) / math.pi
    p_table = p_bit**bits
    ln_miss = math.log(1.0 - _LSH_RECALL_TARGET)
    tables = math.ceil(ln_miss / math.log(1.0 - p_table))
    return min(MAX_LSH_TABLES, max(MIN_LSH_TABLES, tables))


_TABLES_BY_BITS = {
    b: _tables_for_bits(b) for b in range(MIN_TABLE_BITS, MAX_TABLE_BITS + 1)
}  # {3: 6, 4: 9, 5: 14, 6: 21, 7+: 24} at threshold 0.45 / recall 0.8


# Deterministic Rademacher hyperplane family: the sign of plane (t, k) at
# dim d is a middle bit of a two-round multiplicative avalanche over
# idx = (t * MAX_TABLE_BITS + k) * 64 + d:
#     h1 = (idx * 2654435761) % 2^31
#     h2 = (h1 XOR (h1 >> 15)) * 2246822519          (< 2^62: ANSI-safe)
#     sign = 1 - 2 * ((h2 >> 27) % 2)
# Measured against true-random expectations over the full 750-plane
# namespace: max pairwise |corr| 0.625 / 99pct 0.31 (random-750 expectation
# ~0.55/0.31), max |sign sum| 24/64 (expectation ~27) — i.e. statistically
# indistinguishable from i.i.d. Rademacher planes, with unbounded supply.
# All arithmetic is exact int64 (products < 2^62) and the dot is a
# left-to-right double fold, so Spark, DuckDB and the numpy twin agree
# bit-for-bit on every sign (verified sum-exact in tests).
_HASH_A1 = 2654435761  # Knuth multiplicative constant
_HASH_A2 = 2246822519  # xxhash64 prime 2


def plane_signs(t: int, k: int):
    """Numpy twin of the engine plane-sign formula: float64 (64,) of +-1."""
    import numpy as np

    idx = ((t * MAX_TABLE_BITS + k) * 64 + np.arange(64)).astype(np.int64)
    h1 = (idx * _HASH_A1) % 2147483648
    h2 = np.bitwise_xor(h1, h1 >> 15) * _HASH_A2
    return 1.0 - 2.0 * ((h2 >> 27) % 2)


def _plane_mask(t: int, k: int) -> int:
    """Plane (t, k) packed as a 64-bit mask: bit d set iff the sign at
    dim d is -1. Computed driver-side FROM :func:`plane_signs`, so the
    engine-visible constants can never drift from the formula (the
    DuckDB oracle keeps evaluating the avalanche arithmetically)."""
    s = plane_signs(t, k)
    m = sum(1 << d for d in range(64) if s[d] < 0)
    # emit as a signed 64-bit literal (bigint has no unsigned range);
    # arithmetic shiftright still extracts bit d of the two's complement
    return m - (1 << 64) if m >= (1 << 63) else m


def _bucket_spark_expr(t_sql: str, nbits: int) -> str:
    """Spark SQL for a table's bucket id: ``nbits`` seeded-plane sign bits.
    ``t_sql`` is the table index expression (a lambda variable or literal)
    in [0, MAX_LSH_TABLES]. The inner fold adds +-embedding[d] in index
    order (exact IEEE parity with the DuckDB comprehension and the numpy
    twin). The signs are driver-baked from plane_signs into one
    constant-folded literal mask array indexed (t * nbits + k), so each
    element costs one shift+and instead of the ~10-op avalanche, same sign
    bit-for-bit by construction."""
    masks = ", ".join(
        f"{_plane_mask(t, k)}L"
        for t in range(MAX_LSH_TABLES + 1)
        for k in range(nbits)
    )
    mask = f"element_at(array({masks}), ({t_sql}) * {nbits} + k + 1)"
    sgn = f"(1 - 2 * cast(shiftright({mask}, d) & 1 as int))"
    dot = (
        f"aggregate(sequence(0, 63), 0D, (acc, d) -> acc + "
        f"cast({sgn} as double) * cast(element_at(embedding, d + 1) as double))"
    )
    return (
        f"aggregate(sequence(0, {nbits - 1}), 0, (acc, k) -> "
        f"acc + (case when {dot} >= 0D then shiftleft(1, k) else 0 end))"
    )


def _bucket_duck_expr(t_sql: str) -> str:
    """DuckDB twin of :func:`_bucket_spark_expr`, masked by the derived bit
    count ``nb`` (CTE ``params``); duck's 1-based k/d map to spark's k-1/d-1
    so plane (t, k, d) indexes identically. NOTE DuckDB ``^`` is power —
    bitwise xor is the ``xor()`` function."""
    idx = f"(({t_sql} * {MAX_TABLE_BITS} + k - 1) * 64 + d - 1)"
    h1 = f"(({idx} * {_HASH_A1}) % 2147483648)"
    h2 = f"(xor({h1}, {h1} >> 15) * {_HASH_A2})"
    sgn = f"(1 - 2 * (({h2} >> 27) % 2))"
    return (
        f"list_sum([CASE WHEN k <= nb AND list_sum([{sgn} * "
        f"cast(embedding[d] as double) for d in range(1, 65)]) >= 0 "
        f"THEN 1 << (k - 1) ELSE 0 END for k in range(1, {MAX_TABLE_BITS + 1})])"
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: one seeded-plane sign-LSH table (nbits derived from
    corpus size so buckets stay ~TARGET_BUCKET rows), exact top-1 within
    bucket. Planes come from the namespace one past the near-dup tables
    (t = MAX_LSH_TABLES) so the two operators never share planes.

    The driver-side ``count()`` is a parquet metadata read (row-group
    counts), not a scan; at warehouse scale substitute catalog statistics or
    a cached approximate count — only the derived integer enters the plan."""
    nbits = _derived_bits(_emb(spark, sf_dir).count())
    bucket = F.expr(_bucket_spark_expr(str(MAX_LSH_TABLES), nbits))
    # CPU-bound interpreted bucket projection over a single parquet split:
    # spread or it runs on one core (CLAUDE.md invariant)
    emb = spread(_with_norm(_emb(spark, sf_dir)), "vec_id").withColumn(
        "bucket", bucket
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
        "bucket",
    )
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine("qe", "ce", "qn", "cn").alias("sim"))
    )
    return _best_sims(sims, 1).select("query_id", "neighbor_id", "sim")


ANN_LSH_SQL = f"""
WITH params AS (SELECT {_DERIVED_BITS_DUCK} AS nb FROM embeddings),
e AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_DUCK.format(a='embedding', b='embedding')}) AS norm,
         {_bucket_duck_expr(str(MAX_LSH_TABLES))} AS bucket
  FROM embeddings CROSS JOIN params
),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_DUCK.format(a='q.embedding', b='c.embedding')} / (q.norm * c.norm), 4) AS sim
  FROM e q JOIN e c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim FROM ranked WHERE rank = 1
"""


N_IVF_CENTROIDS = 8


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic "trained" centroids (the first 8
    vectors), every embedding assigned to its nearest centroid (L2, rounded,
    ties to the lower centroid id), queries probe only their own cell and
    exact-rank top-1 by cosine inside it.

    At 10^12 rows the cell id is the partition key; centroids are broadcast
    (a ~KB table), so the distances are a map-side broadcast nested-loop,
    the argmin ships one narrow partial row per vector, the embedding
    joins back by id, and search shuffles only the probed cells.
    """
    emb = _with_norm(_emb(spark, sf_dir))
    assigned = _ivf_cells(_ivf_dists(emb)).join(emb, "vec_id")
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
        "cell",
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("norm").alias("nn"),
        "cell",
    )
    sims = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine("qe", "ne", "qn", "nn").alias("sim"))
    )
    return _best_sims(sims, 1).select("query_id", "neighbor_id", "sim")


def _ivf_dists(emb: DataFrame) -> DataFrame:
    """(vec_id, cent_id, dist): every vector against the broadcast
    N_IVF_CENTROIDS centroids (the first vectors), dist = round(L2, 4)."""
    cents = emb.filter(F.col("vec_id") < N_IVF_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    return emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cent_id", F.round(l2("embedding", "ce"), 4).alias("dist")
    )


def _ivf_cells(dists: DataFrame) -> DataFrame:
    """(vec_id, cell): the IVF cell of every vector in ``dists``."""
    return nearest(dists, ["vec_id"], "cent_id", F.col("dist")).select(
        "vec_id", F.col("cent_id").alias("cell")
    )


_L2_DUCK = (
    "list_sum([(cast({a}[i] as double) - cast({b}[i] as double)) * "
    "(cast({a}[i] as double) - cast({b}[i] as double)) for i in range(1, 65)])"
)

IVF_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_DUCK.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM e WHERE vec_id < {N_IVF_CENTROIDS}),
dists AS (
  SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
         round({_L2_DUCK.format(a='e.embedding', b='c.ce')}, 4) AS dist
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, norm, cent_id AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist ASC, cent_id ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
sims AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({_DOT_DUCK.format(a='q.embedding', b='n.embedding')} / (q.norm * n.norm), 4) AS sim
  FROM assigned q JOIN assigned n ON n.cell = q.cell AND n.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims)
WHERE rank = 1
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST ORACLE ONLY (not a registered query): exact all-pairs cosine
    via crossJoin — O(N^2), cannot survive scale. The production operator
    is :func:`embedding_near_dup_lsh`; this quadratic form remains as the
    recall ground truth in tests/."""
    emb = _with_norm(_emb(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("doc_b"), F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.withColumn("cos", cosine("ea", "eb", "na", "nb"))
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("doc_a", "doc_b", "cos")
    )


def _lsh_candidates(emb: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs sharing any (table, bucket), distinct.
    Split out of :func:`embedding_near_dup_lsh` so the volume test in
    tests/test_dedup_banded.py can assert candidate count scales ~linearly
    (x tables) with corpus size rather than quadratically."""
    nbits = _derived_bits(emb.count())
    ntables = _TABLES_BY_BITS[nbits]
    # one compact higher-order expression computes every (table, bucket)
    # pair (signs from the baked mask literals): unrolling ntables x nbits
    # dot products as flat terms would blow whole-stage codegen's 64KB
    # method limit — the HOF form stays small at any derived size.
    # The bucket projection is CPU-bound interpreted work (~nbits*64
    # multiply-adds per table per row), and the embeddings parquet is a
    # single split at bench scale — without an explicit repartition the
    # whole projection runs on ONE core (CLAUDE.md invariant; measured
    # 9.7s -> 0.6s at sf0.1 on local[32]).
    emb = spread(emb, "vec_id")
    tabs = emb.select(
        "vec_id",
        "embedding",
        "norm",
        F.expr(
            f"explode(transform(sequence(0, {ntables - 1}), t -> struct("
            f"t as t, {_bucket_spark_expr('t', nbits)} as bkt)))"
        ).alias("tb"),
    ).select("vec_id", "embedding", "norm", "tb.t", "tb.bkt")

    # per-bucket vectorized prefilter: one numpy matmul per (table, bucket)
    # group instead of a per-pair Catalyst fold over 64 elements (higher-
    # order functions are interpreted, ~us/pair — the matmul is ~100x
    # faster and is the shape a 100 TB job wants: work bounded by bucket
    # size, never by corpus size). The margin 5.1e-5 covers BOTH the final
    # round-to-4dp inclusion band (round(cos,4) >= thr admits cos >=
    # thr - 5e-5) and summation-order drift (~1e-10), so no qualifying pair
    # can be lost; false admits are removed by the exact engine-parity fold
    # in the caller, which alone determines the reported `cos`.
    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": []}).astype("int64")
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        v = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nrm = pdf["norm"].to_numpy()[order]
        # chunk the row dimension so peak memory is CHUNK x |bucket| doubles
        # even when a bucket is pathologically hot (skewed corpora)
        chunk = 2048
        out_a, out_b = [], []
        for s in range(0, len(ids), chunk):
            blk = (v[s : s + chunk] @ v.T) / np.outer(nrm[s : s + chunk], nrm)
            ia, ib = np.nonzero(blk >= NEAR_DUP_COS - 5.1e-5)
            ia = ia + s
            keep = ia < ib  # upper triangle only
            out_a.append(ids[ia[keep]])
            out_b.append(ids[ib[keep]])
        return pd.DataFrame(
            {"doc_a": np.concatenate(out_a), "doc_b": np.concatenate(out_b)}
        )

    return (
        tabs.groupBy("t", "bkt")
        .applyInPandas(_bucket_pairs, "doc_a long, doc_b long")
        .distinct()
    )


def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production embedding near-dup: multi-table sign-LSH candidate
    generation, exact cosine check on candidates only. No crossJoin.

    L hash tables x nbits (both derived, see below); bit k of table t is
    the sign of a SEEDED random-projection (Rademacher) hyperplane — sign
    vector from a deterministic integer hash, identical in both engines
    (see the plane-family comment above :func:`plane_signs`). Candidates =
    pairs sharing any table bucket (equi-join on (table, bucket),
    distinct), then the exact cosine >= threshold filter after a join-back
    by id — embeddings are never carried through the table explode.

    Bits-per-table is DERIVED from corpus size: bits =
    clamp(ceil(log2(N / 32)), 3, 30), so the expected bucket holds ~32
    rows and total candidate volume is ~N * 32/2 * L tables = O(N) — the
    volume test in tests/test_dedup_banded.py asserts ~linear growth
    between sfs, and the seeded plane supply is unbounded, so the width
    derives freely up to 30 bits (N ~ 3*10^10 before buckets regrow). The
    oracle SQL computes the identical formula from count(*), so both
    engines always agree on the layout. Recall is the LSH trade-off: inherently bounded
    here because the synthetic threshold 0.45 means ~63 deg angles
    (random-hyperplane collision prob 0.65/bit); at a real near-dup
    threshold (cos >= 0.9, ~26 deg) the same construction gives ~0.86/bit
    and recall >97% at 4-5 bits. The oracle SQL mirrors the same
    prefilter, so the gate checks the operator's actual contract, not the
    quadratic ideal (which tests/ compare against).
    """
    emb = _with_norm(_emb(spark, sf_dir))
    cand = _lsh_candidates(emb)
    ea = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("doc_b"), F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    return (
        cand.join(ea, "doc_a")
        .join(eb, "doc_b")
        .withColumn("cos", cosine("ea", "eb", "na", "nb"))
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("doc_a", "doc_b", "cos")
    )


_NTABLES_CASE_DUCK = "CASE nb " + " ".join(
    f"WHEN {b} THEN {_TABLES_BY_BITS[b]}"
    for b in range(MIN_TABLE_BITS, MAX_TABLE_BITS + 1)
) + " END"

EMBEDDING_NEAR_DUP_LSH_SQL = f"""
WITH params AS (
  SELECT nb, {_NTABLES_CASE_DUCK} AS ntab
  FROM (SELECT {_DERIVED_BITS_DUCK} AS nb FROM embeddings)
),
e AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_DUCK.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
),
tabs AS (
  SELECT vec_id, t, {_bucket_duck_expr('t')} AS bkt
  FROM e CROSS JOIN params
  CROSS JOIN (SELECT unnest(range({MAX_LSH_TABLES})) AS t)
  WHERE t < ntab
),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM tabs a JOIN tabs b ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT c.doc_a, c.doc_b,
       round({_DOT_DUCK.format(a='ea.embedding', b='eb.embedding')} / (ea.norm * eb.norm), 4) AS cos
FROM cand c
JOIN e ea ON ea.vec_id = c.doc_a
JOIN e eb ON eb.vec_id = c.doc_b
WHERE round({_DOT_DUCK.format(a='ea.embedding', b='eb.embedding')} / (ea.norm * eb.norm), 4) >= {NEAR_DUP_COS}
"""


# --- Scalar quantization -----------------------------------------------------
# The memory side of similarity search at 10^12 rows: 64 float32 dims
# (256 B) -> 64 uint8 codes (64 B), the standard int8 scalar quantization
# every large ANN deployment applies before/alongside IVF. Codes are
# floor((x - min_d) / ((max_d - min_d) / 255)) clamped to [0, 255] with
# per-dimension corpus min/max — every step is an IEEE operation on
# identical doubles (min/max pick values, never accumulate; one division;
# floor), so Spark and DuckDB produce bit-identical codes and the query
# is fully hash-oracled (code fingerprint + integer checksum).

EMB_DIM = 64


def _sq_quantizer(df: DataFrame, col: str) -> tuple[str, str, str]:
    """The int8 scalar quantizer of array column ``col``: SQL for its code
    array, and for dim ``i``'s minimum and code step. The per-dim min/max
    come from one map-side-combinable aggregate, baked driver-side into
    literal arrays (the LSH sign-mask pattern), so coding is a stateless
    map with no join."""
    stats = {
        int(r["d"]): (float(r["mn"]), float(r["mx"]))
        for r in df.select(F.posexplode(col).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    }
    mins, maxs = (
        "array(" + ", ".join(repr(stats[d][j]) + "D" for d in range(EMB_DIM)) + ")"
        for j in (0, 1)
    )
    mn, mx = f"element_at({mins}, i + 1)", f"element_at({maxs}, i + 1)"
    step = f"(({mx} - {mn}) / 255)"
    codes = (
        f"transform({col}, (x, i) -> case when {mx} > {mn} then "
        f"cast(least(255L, greatest(0L, cast(floor((cast(x as double) - {mn}) "
        f"/ {step}) as bigint))) as int) else 0 end)"
    )
    return codes, mn, step


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector uint8 code fingerprint + integer checksums.

    Plan shape: one map-side-combinable per-dim min/max aggregate (64
    groups) whose result is DRIVER-BAKED into the quantize expression
    (the LSH sign-mask pattern — broadcast-equivalent, and keeps the
    quantize pass a pure stateless map with zero joins); at 10^12 rows
    the stats pass is one scan and the code pass streams.
    """
    emb = _emb(spark, sf_dir)
    codes, _, _ = _sq_quantizer(emb, "embedding")
    return emb.select(
        "vec_id",
        F.md5(
            F.expr(f"array_join(transform({codes}, c -> cast(c as string)), ',')")
        ).alias("qcode_fp"),
        F.expr(f"aggregate({codes}, 0L, (a, c) -> a + c)").alias("q_sum"),
        F.expr(f"array_min({codes})").alias("q_min"),
        F.expr(f"array_max({codes})").alias("q_max"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH stats AS (
  SELECT i AS d,
         min(cast(embedding[i] as double)) AS mn,
         max(cast(embedding[i] as double)) AS mx
  FROM embeddings, unnest(range(1, {EMB_DIM} + 1)) AS u(i)
  GROUP BY i
),
codes AS (
  SELECT e.vec_id, u.i,
         (CASE WHEN s.mx > s.mn THEN
            least(255, greatest(0,
              floor((cast(e.embedding[u.i] as double) - s.mn) / ((s.mx - s.mn) / 255))))
          ELSE 0 END)::INT AS q
  FROM embeddings e, unnest(range(1, {EMB_DIM} + 1)) AS u(i)
  JOIN stats s ON s.d = u.i
)
SELECT vec_id,
       md5(string_agg(q::VARCHAR, ',' ORDER BY i)) AS qcode_fp,
       sum(q)::BIGINT AS q_sum,
       min(q)::INT AS q_min,
       max(q)::INT AS q_max
FROM codes
GROUP BY vec_id
"""


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the int8-quantized NORMALIZED corpus via
    symmetric DEQUANTIZED dot (the SQ serving kernel).  Vectors are
    L2-normalized, scalar-quantized per dimension, and ranked by the
    inner product of their RECONSTRUCTIONS ``mn_d + (q + 0.5) * sc_d``
    — plain code·code ranking was measured at 0/20 cosine-top-1 recall
    on this corpus (the per-dim affine offsets distort the inner
    product; normalizing alone does not fix it), while the dequantized
    dot differs from true cosine only by quantization error.  Queries
    are the first N_QUERIES vectors; ranking is recon-dot rounded to
    4dp (the cosine_topk engine contract: index-order IEEE fold,
    identical on both engines) DESC, neighbor-id tie-break, k = TOP_K.

    Plan: quantize + dequantize are stateless maps (driver-baked
    stats); the query set is broadcast and the corpus streams (same
    shape as cosine_topk); at scale the bucketed LSH/IVF variants
    prefilter and this kernel runs per bucket over the 64 B codes
    instead of the 256 B floats.
    """
    emb = _with_norm(_emb(spark, sf_dir)).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(x as double) / norm)"
        ).alias("ne"),
    )
    codes, mn, step = _sq_quantizer(emb, "ne")
    coded = emb.select("vec_id", F.expr(codes).alias("codes")).select(
        "vec_id",
        F.expr(
            f"transform(codes, (c, i) -> {mn} + (cast(c as double) + 0.5D) * {step})"
        ).alias("recon"),
    )
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("recon").alias("qr")
    )
    scored = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("qdot", F.round(F.expr(_DOT.format(a="recon", b="qr")), 4))
    )
    return top_k(
        scored, ["query_id"], [F.col("qdot").desc(), F.col("vec_id").asc()], TOP_K
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "qdot", "rank")


_QCODES_CTE = f"""
ne AS (
  SELECT vec_id,
         [cast(embedding[i] as double)
            / sqrt({_DOT_DUCK.format(a='embedding', b='embedding')})
          for i in range(1, {EMB_DIM} + 1)] AS nv
  FROM embeddings
),
stats AS (
  SELECT i AS d, min(nv[i]) AS mn, max(nv[i]) AS mx
  FROM ne, unnest(range(1, {EMB_DIM} + 1)) AS u(i)
  GROUP BY i
),
qrows AS (
  SELECT e.vec_id, u.i,
         s.mn + ((CASE WHEN s.mx > s.mn THEN
            least(255, greatest(0,
              floor((e.nv[u.i] - s.mn) / ((s.mx - s.mn) / 255))))
          ELSE 0 END) + 0.5) * ((s.mx - s.mn) / 255) AS r
  FROM ne e, unnest(range(1, {EMB_DIM} + 1)) AS u(i)
  JOIN stats s ON s.d = u.i
),
coded AS (SELECT vec_id, list(r ORDER BY i) AS recon FROM qrows GROUP BY vec_id)
"""

ANN_QUANTIZED_SQL = f"""
WITH {_QCODES_CTE.strip()},
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_sum([q.recon[i] * n.recon[i] for i in range(1, {EMB_DIM} + 1)]), 4) AS qdot
  FROM coded q JOIN coded n ON n.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, qdot, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY qdot DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


# --- Product quantization ----------------------------------------------------
# The next rung past int8 SQ on the ANN memory ladder: 64 float32 dims
# (256 B) -> PQ_M 4-bit codes (4 B) — the Jegou et al. 2011 PQ scheme
# every billion-scale ANN deployment (FAISS IVFPQ) runs.  The codebook
# is the deterministic stand-in rule the IVF/semdedup family already
# certifies (sub-slices of the first PQ_K vectors stand in for trained
# k-means centroids — declared, like model_quality_filter's weights);
# the SERVING arithmetic (nearest-centroid encode, ADC lookup-sum rank)
# is the real algorithm and is what the oracle certifies.

PQ_M = 8    # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB == EMB_DIM)
PQ_K = 16   # centroids per subspace -> 4-bit codes

_SUB = f"slice({{}}, s * {PQ_SUB} + 1, {PQ_SUB})"  # subspace s of an array
_L2SUB_DUCK = (
    "list_sum([(cast({a}[{o} + i] as double) - cast({b}[i] as double)) * "
    "(cast({a}[{o} + i] as double) - cast({b}[i] as double)) "
    "for i in range(1, {n} + 1)])"
)


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ_M x PQ_K codebook as a 128-row broadcastable frame
    (sub s, code_id k, carr = vector k's dims [s*8, s*8+8))."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    subs = spark.createDataFrame([(s,) for s in range(PQ_M)], "s int")
    return cents.crossJoin(F.broadcast(subs)).select(
        "s", "code_id", F.expr(_SUB.format("embedding")).alias("carr")
    )


def _pq_units(dist: Column) -> Column:
    """A PQ distance in exact integer 1e-4 units (floored)."""
    return F.floor(dist * 10000).cast("bigint")


def _pq_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, s, code, lunits): each query's PQ_M x PQ_K table of
    subspace distances to the codebook (raw query vs codebook, the
    asymmetric side of ADC)."""
    q = _emb(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES)
    return q.crossJoin(F.broadcast(_pq_codebook(spark, sf_dir))).select(
        F.col("vec_id").alias("query_id"),
        "s",
        F.col("code_id").alias("code"),
        _pq_units(l2(_SUB.format("embedding"), "carr")).alias("lunits"),
    )


def _pq_code_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, code, units): each vector's nearest codebook entry
    per subspace (raw-double L2 order — identical IEEE values on both
    engines, no rounding needed for the argmin — ties to the lower
    code_id) with the quantization distance in integer 1e-4 units."""
    exploded = _emb(spark, sf_dir).select(
        "vec_id",
        F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("s"),
        "embedding",
    ).select("vec_id", "s", F.expr(_SUB.format("embedding")).alias("varr"))
    d = exploded.join(F.broadcast(_pq_codebook(spark, sf_dir)), "s")
    return nearest(d, ["vec_id", "s"], "code_id", l2("varr", "carr")).select(
        "vec_id",
        "s",
        F.col("code_id").alias("code"),
        _pq_units(F.col("dist")).alias("units"),
    )


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector packed PQ code (PQ_M 4-bit nearest-centroid indices in
    one BIGINT) plus the total quantization distortion in integer 1e-4
    units — the 4-byte-per-vector memory representation.

    Plan: subspace explode (PQ_M rows/vector) -> broadcast 128-row
    codebook join -> per-(vector, subspace) :func:`nearest` -> one
    groupBy(vec_id) pack.  Stateless maps + map-side-combinable
    aggregation; at 10^12 vectors everything streams."""
    codes = _pq_code_table(spark, sf_dir)
    return codes.groupBy("vec_id").agg(
        F.sum(F.expr("shiftleft(cast(code as bigint), 4 * s)")).alias(
            "pq_code"
        ),
        F.sum("units").cast("long").alias("distortion_units"),
    )


PQ_CODES_SQL = f"""
WITH cb AS (
  SELECT u.s, e.vec_id AS code_id,
         [e.embedding[u.s * {PQ_SUB} + i] for i in range(1, {PQ_SUB} + 1)] AS carr
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  WHERE e.vec_id < {PQ_K}
),
d AS (
  SELECT e.vec_id, u.s, c.code_id,
         {_L2SUB_DUCK.format(a='e.embedding', b='c.carr', o='u.s * ' + str(PQ_SUB), n=PQ_SUB)} AS dval
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  JOIN cb c ON c.s = u.s
),
codes AS (
  SELECT vec_id, s, code_id AS code, floor(dval * 10000)::BIGINT AS units
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY dval ASC, code_id ASC) AS rn
        FROM d)
  WHERE rn = 1
)
SELECT vec_id,
       sum(code::BIGINT << (4 * s))::BIGINT AS pq_code,
       sum(units)::BIGINT AS distortion_units
FROM codes
GROUP BY vec_id
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over the PQ codes (the IVFPQ serving
    kernel minus the IVF prefilter, which ``ivf_topk``/``semdedup``
    already certify): each query precomputes its PQ_M x PQ_K lookup
    table of subspace distances (raw query vs codebook — asymmetric),
    and a candidate's ADC distance is the sum of PQ_M table lookups on
    its codes, in exact integer 1e-4 units (floor per entry, integer
    sum — no cross-engine float accumulation anywhere).

    Plan: the code table (PQ_M rows/vector) equi-joins the broadcast
    N_QUERIES x PQ_M x PQ_K lookup table on (s, code) and folds with a
    map-side-combinable groupBy(query, vec) sum — per vector the join
    fans out to PQ_M x N_QUERIES rows regardless of corpus size."""
    adc = (
        _pq_code_table(spark, sf_dir)
        .join(F.broadcast(_pq_lut(spark, sf_dir)), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lunits").cast("long").alias("adc_units"))
    )
    return _best_adc(adc)


def _best_adc(adc: DataFrame) -> DataFrame:
    """Top-k candidates per query by ADC units, ties to the lower id."""
    return top_k(
        adc, ["query_id"], [F.col("adc_units").asc(), F.col("vec_id").asc()], TOP_K
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_units", "rank")


N_IVF_PQ_PROBE = 2


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composed FAISS-style serving path (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", IVFPQ with
    by_residual off): the IVF coarse quantizer prefilters each query to
    its ``N_IVF_PQ_PROBE`` nearest cells, and PQ asymmetric distance
    (the ``pq_adc_topk`` kernel) ranks only those candidates, in exact
    integer 1e-4 units.

    This is the piece neither ``ivf_topk`` (exact rerank, 1 probed
    cell) nor ``pq_adc_topk`` (ADC over the FULL corpus) exercises: the
    candidate set is the union of probed cells, so the scanned fraction
    is nprobe/k and the per-candidate cost is PQ_M table lookups — the
    IVFADC cost model exactly.

    Plan: one broadcast nested-loop against the 8-row centroid table
    assigns cells map-side (same round-4dp / lower-id tie rule the
    certified ``ivf_topk``/``semdedup`` use); queries keep their nprobe
    best cells; candidates come from a cell equi-join (shuffle on the
    cell key, never all-pairs); the code table fans out PQ_M rows per
    candidate and equi-joins the broadcast query LUT on
    (query_id, s, code); the ADC fold is a map-side-combinable integer
    sum, then a bounded per-query top-k window. At 10^12 vectors every
    join is either broadcast or keyed on a high-cardinality column.
    """
    dists = _ivf_dists(_emb(spark, sf_dir))
    # only the <= N_QUERIES x N_IVF_CENTROIDS query rows rank by window
    q_probe = top_k(
        dists.filter(F.col("vec_id") < N_QUERIES),
        ["vec_id"],
        [F.col("dist").asc(), F.col("cent_id").asc()],
        N_IVF_PQ_PROBE,
    ).select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    cand = (
        _ivf_cells(dists)
        .join(F.broadcast(q_probe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    adc = (
        cand.join(_pq_code_table(spark, sf_dir), "vec_id")
        .join(F.broadcast(_pq_lut(spark, sf_dir)), ["query_id", "s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lunits").cast("long").alias("adc_units"))
    )
    return _best_adc(adc)


PQ_ADC_SQL = f"""
WITH cb AS (
  SELECT u.s, e.vec_id AS code_id,
         [e.embedding[u.s * {PQ_SUB} + i] for i in range(1, {PQ_SUB} + 1)] AS carr
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  WHERE e.vec_id < {PQ_K}
),
d AS (
  SELECT e.vec_id, u.s, c.code_id,
         {_L2SUB_DUCK.format(a='e.embedding', b='c.carr', o='u.s * ' + str(PQ_SUB), n=PQ_SUB)} AS dval
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  JOIN cb c ON c.s = u.s
),
codes AS (
  SELECT vec_id, s, code_id AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY dval ASC, code_id ASC) AS rn
        FROM d)
  WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.s, c.code_id AS code,
         floor({_L2SUB_DUCK.format(a='q.embedding', b='c.carr', o='c.s * ' + str(PQ_SUB), n=PQ_SUB)} * 10000)::BIGINT AS lunits
  FROM embeddings q JOIN cb c ON true
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, cd.vec_id, sum(l.lunits)::BIGINT AS adc_units
  FROM codes cd JOIN lut l ON l.s = cd.s AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY l.query_id, cd.vec_id
)
SELECT query_id, vec_id AS neighbor_id, adc_units, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_units ASC, vec_id ASC) AS rank
      FROM adc)
WHERE rank <= {TOP_K}
"""

ANN_RECALL_METHODS = (
    "ann_lsh_topk",
    "ivf_topk",
    "ann_quantized_topk",
    "pq_adc_topk",
    "ivf_pq_topk",
)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall scoreboard for the ANN family — "recall is a managed
    contract" as a measured artifact, not an assertion: for each
    approximate method, the fraction of queries whose top-1 answer lands
    in the EXACT cosine top-3 (``cosine_topk``), in integer basis points.

    A method can also return NO row for a query (an LSH bucket holding
    only the query itself); that counts as a miss — the denominator is
    always N_QUERIES. All five methods recompute end-to-end (this is a
    correctness surface, not a bench query) and the DuckDB oracle embeds
    each method's full certified SQL as a subquery, so the scoreboard is
    hash-certified against the same engine-exact constructions.

    At scale every input here is a per-query top-1 (N_QUERIES rows per
    method) against a broadcast exact set — the report costs whatever
    the underlying searches cost; the comparison itself is trivial.
    """
    exact = cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    top1 = {
        "ann_lsh_topk": ann_lsh_topk(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        "ivf_topk": ivf_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        "ann_quantized_topk": ann_quantized_topk(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", "neighbor_id"),
        "pq_adc_topk": pq_adc_topk(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", "neighbor_id"),
        "ivf_pq_topk": ivf_pq_topk(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", "neighbor_id"),
    }
    tagged = None
    for name in ANN_RECALL_METHODS:
        part = top1[name].withColumn("method", F.lit(name))
        tagged = part if tagged is None else tagged.unionByName(part)
    hits = (
        tagged.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("method")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    base = spark.createDataFrame(
        [(m,) for m in ANN_RECALL_METHODS], "method string"
    )
    return base.join(hits, "method", "left").select(
        "method",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.lit(N_QUERIES).cast("long").alias("n_queries"),
        F.expr(
            f"cast(coalesce(hits, 0L) * 10000 div {N_QUERIES} as bigint)"
        ).alias("recall_bp"),
    )


IVF_PQ_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
  WHERE vec_id < {N_IVF_CENTROIDS}
),
ranked AS (
  SELECT e.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({_L2_DUCK.format(a='e.embedding', b='c.ce')}, 4) ASC,
                    c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
probe AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM ranked
  WHERE vec_id < {N_QUERIES} AND rn <= {N_IVF_PQ_PROBE}
),
cb AS (
  SELECT u.s, e.vec_id AS code_id,
         [e.embedding[u.s * {PQ_SUB} + i] for i in range(1, {PQ_SUB} + 1)] AS carr
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  WHERE e.vec_id < {PQ_K}
),
d AS (
  SELECT e.vec_id, u.s, c.code_id,
         {_L2SUB_DUCK.format(a='e.embedding', b='c.carr', o='u.s * ' + str(PQ_SUB), n=PQ_SUB)} AS dval
  FROM embeddings e, unnest(range(0, {PQ_M})) AS u(s)
  JOIN cb c ON c.s = u.s
),
codes AS (
  SELECT vec_id, s, code_id AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY dval ASC, code_id ASC) AS rn
        FROM d)
  WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.s, c.code_id AS code,
         floor({_L2SUB_DUCK.format(a='q.embedding', b='c.carr', o='c.s * ' + str(PQ_SUB), n=PQ_SUB)} * 10000)::BIGINT AS lunits
  FROM embeddings q JOIN cb c ON true
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probe p ON p.cell = a.cell
  WHERE a.vec_id != p.query_id
),
adc AS (
  SELECT cd.query_id, cd.vec_id, sum(l.lunits)::BIGINT AS adc_units
  FROM cand cd
  JOIN codes co ON co.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = cd.query_id AND l.s = co.s AND l.code = co.code
  GROUP BY cd.query_id, cd.vec_id
)
SELECT query_id, vec_id AS neighbor_id, adc_units, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_units ASC, vec_id ASC) AS rank
      FROM adc)
WHERE rank <= {TOP_K}
"""

ANN_RECALL_SQL = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({COSINE_TOPK_SQL})),
lsh1 AS (SELECT query_id, neighbor_id FROM ({ANN_LSH_SQL})),
ivf1 AS (SELECT query_id, neighbor_id FROM ({IVF_TOPK_SQL})),
sq1 AS (SELECT query_id, neighbor_id FROM ({ANN_QUANTIZED_SQL}) WHERE rank = 1),
padc1 AS (SELECT query_id, neighbor_id FROM ({PQ_ADC_SQL}) WHERE rank = 1),
ivfpq1 AS (SELECT query_id, neighbor_id FROM ({IVF_PQ_SQL}) WHERE rank = 1),
tagged AS (
  SELECT 'ann_lsh_topk' AS method, query_id, neighbor_id FROM lsh1
  UNION ALL SELECT 'ivf_topk', query_id, neighbor_id FROM ivf1
  UNION ALL SELECT 'ann_quantized_topk', query_id, neighbor_id FROM sq1
  UNION ALL SELECT 'pq_adc_topk', query_id, neighbor_id FROM padc1
  UNION ALL SELECT 'ivf_pq_topk', query_id, neighbor_id FROM ivfpq1
),
hits AS (
  SELECT method, count(*)::BIGINT AS hits
  FROM tagged t
  WHERE EXISTS (SELECT 1 FROM exact e
                WHERE e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id)
  GROUP BY method
),
methods AS (SELECT * FROM (VALUES ('ann_lsh_topk'), ('ivf_topk'),
  ('ann_quantized_topk'), ('pq_adc_topk'), ('ivf_pq_topk')) v(method))
SELECT m.method, coalesce(h.hits, 0)::BIGINT AS hits,
       {N_QUERIES}::BIGINT AS n_queries,
       ((coalesce(h.hits, 0) * 10000) // {N_QUERIES})::BIGINT AS recall_bp
FROM methods m LEFT JOIN hits h ON h.method = m.method
"""
