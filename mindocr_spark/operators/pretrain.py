"""Training-corpus *preparation* operators — the steps that sit between a
filtered/deduplicated corpus and the tokenizer feeding a trainer.  The
reference repo stops at per-image OCR outputs (``predict_system.py`` writes
prediction files); a 100 TB training-data pipeline additionally needs the
operators here, so they are first-class ``queries()`` entries like the
dedup/quality suites:

- :func:`pii_redaction` — regex PII detection + redaction (emails, IPv4,
  phone numbers), the Dolma/FineWeb-style scrub pass.
- :func:`sequence_packing` — concat-and-chunk packing: the standard LLM
  pretraining step that concatenates the token stream in a canonical
  document order and cuts fixed-length training sequences; emits each
  document's token span and the sequence ids it lands in.
- :func:`mixture_weights` — per-(source, lang) token shares and
  temperature-adjusted sampling weights (T = 0.5, i.e. sqrt scaling — the
  multilingual-sampling recipe of Conneau & Lample), in exact basis-point
  integer arithmetic so the oracle is float-hazard-free.
- :func:`semdedup` — SemDeDup (Abbas et al. 2023): k-means-style cells
  (the deterministic IVF centroids shared with ``similarity.ivf_topk``),
  pairwise cosine INSIDE each cell only, keep the lowest ``vec_id`` of
  every duplicate group.
- :func:`boilerplate_line_removal` — RefinedWeb-style cross-document
  boilerplate strip: segment each doc into fixed 8-word "lines", drop any
  line whose exact text appears in >= BOILERPLATE_MIN_DOCS distinct
  documents, and re-assemble the cleaned text in order.

Scale notes (100 TB): every operator is a bucketed equi-join or a
map-side-combinable aggregate.  ``sequence_packing`` deliberately avoids
the naive global running-sum window (one partition = one task): it computes
per-bucket partial sums in parallel and folds only the tiny bucket-totals
table on a single partition, the classic two-phase scan pattern.
``semdedup``'s per-cell pairwise work is bounded by cell size (centroid
count grows with N, as in the paper).  ``boilerplate_line_removal``
shuffles the compact (doc_id, line) table by line text — the same shape as
``quality.duplicate_span_coverage``'s gram shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import spread
from .similarity import (
    _DOT_DUCK,
    _L2_DUCK,
    _emb,
    _with_norm,
    cosine,
    l2,
    nearest,
    top_k,
    NEAR_DUP_COS,
)

# --- PII redaction -----------------------------------------------------------
# The synthetic corpus carries no PII, so the query derives a deterministic
# "raw page" per document (the xfund_entities pattern: render, then run the
# real operator) — every fourth doc gets an email / IPv4 / phone span
# appended, one class of docs stays clean so the no-match path is under the
# oracle too.  The regexes are chosen to be Java-regex / RE2 compatible
# (no backreferences, no lookaround — the CLAUDE.md oracle invariant).

PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PII_PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

# Spark side: one SQL expression producing the derived raw text.
_PII_RAW_SPARK = (
    "concat(text, case cast(doc_id % 4 as int) "
    " when 0 then concat(' contact u', cast(doc_id as string), '@example.com now') "
    " when 1 then concat(' node at 10.', cast(doc_id % 256 as string), '.0.', "
    "                    cast((doc_id * 7) % 256 as string)) "
    " when 2 then concat(' call +1 555-', lpad(cast((doc_id * 37) % 10000 as string), 4, '0')) "
    " else '' end)"
)

# DuckDB mirror of the same derivation.
_PII_RAW_DUCK = (
    "concat(text, CASE (doc_id % 4)::INT "
    " WHEN 0 THEN concat(' contact u', doc_id::VARCHAR, '@example.com now') "
    " WHEN 1 THEN concat(' node at 10.', (doc_id % 256)::VARCHAR, '.0.', "
    "                    ((doc_id * 7) % 256)::VARCHAR) "
    " WHEN 2 THEN concat(' call +1 555-', lpad(((doc_id * 37) % 10000)::VARCHAR, 4, '0')) "
    " ELSE '' END)"
)


def redact_pii(df: DataFrame, col: str = "raw") -> DataFrame:
    """The actual operator: count + redact email/IPv4/phone spans in ``col``.

    Pure Catalyst (``regexp_count`` / ``regexp_replace`` are JVM
    intrinsics); redaction order is email -> ip -> phone, fixed so both
    engines rewrite identically (the email regex would otherwise eat an
    already-redacted ``<IP>`` token's dots — order is part of the
    contract).  At 100 TB this is a stateless map — no shuffle at all.
    """
    # Python-API regexp_* only: an F.expr SQL literal would re-parse the
    # pattern's backslashes ('\+' -> '+', an invalid regex).
    c = F.col(col)
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long"))
        .withColumn("n_ips", F.regexp_count(c, F.lit(PII_IPV4_RE)).cast("long"))
        .withColumn("n_phones", F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("long"))
        .withColumn(
            "redacted",
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
                    PII_IPV4_RE,
                    "<IP>",
                ),
                PII_PHONE_RE,
                "<PHONE>",
            ),
        )
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-page PII scrub: doc_id, per-class match counts, and the md5
    fingerprint of the redacted text (md5 is engine-exact, so the full
    rewritten string is under the hash oracle without shipping it)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = d.withColumn("raw", F.expr(_PII_RAW_SPARK))
    r = redact_pii(d, "raw")
    return r.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones"))
        .cast("long")
        .alias("pii_total"),
        F.md5(F.col("redacted")).alias("redacted_fp"),
    )


PII_REDACTION_SQL = f"""
WITH raw AS (
  SELECT doc_id, {_PII_RAW_DUCK} AS raw FROM documents
),
counted AS (
  SELECT doc_id, raw,
         len(regexp_extract_all(raw, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
         len(regexp_extract_all(raw, '{PII_IPV4_RE}'))::BIGINT AS n_ips,
         len(regexp_extract_all(raw, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
         regexp_replace(regexp_replace(regexp_replace(raw,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IPV4_RE}', '<IP>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM raw
)
SELECT doc_id, n_emails, n_ips, n_phones,
       (n_emails + n_ips + n_phones)::BIGINT AS pii_total,
       md5(redacted) AS redacted_fp
FROM counted
"""


# --- Sequence packing (concat-and-chunk) -------------------------------------

SEQ_LEN = 256  # tokens per training sequence
PACK_BUCKET_DOCS = 1024  # docs per partial-sum bucket (two-phase scan)


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing in canonical doc_id order.

    Every document's whitespace-token count is laid out on one global
    token axis (offset = sum of all earlier docs' counts); training
    sequence ``s`` owns tokens ``[s*SEQ_LEN, (s+1)*SEQ_LEN)``.  Emits per
    doc: token count, global start offset, first/last sequence id, and
    whether the doc crosses a sequence boundary (the attention-masking
    hot case).
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_token_layout(d)


def pack_token_layout(d: DataFrame) -> DataFrame:
    """Composable core of :func:`sequence_packing` over a
    ``(doc_id, n_tokens)`` frame (jobs/corpus_prep_job.py packs the
    CLEANED, FILTERED corpus through this).  Callers must drop
    zero-token docs first: ``last_seq = (start + n - 1) div SEQ_LEN``
    is meaningless at n=0 (and Spark's truncating ``div`` vs DuckDB's
    flooring ``//`` disagree on the negative numerator) — the registered
    query's ``split()`` always yields >= 1 token and the prep job
    filters empty documents.

    The global prefix sum is NOT a single-partition window: docs fold
    into ``doc_id div PACK_BUCKET_DOCS`` buckets, the within-bucket
    running sum is a window PARTITIONED by bucket (parallel), and only
    the bucket-totals table (N / 1024 rows) pays a one-partition ordered
    window before being broadcast back.  At 10^12 docs that inner table
    is ~10^9 rows — fold it once more with the same trick if needed; the
    pattern telescopes.
    """
    d = d.withColumn("bucket", F.expr(f"doc_id div {PACK_BUCKET_DOCS}"))
    w_in = Window.partitionBy("bucket").orderBy("doc_id")
    d = d.withColumn("local_end", F.sum("n_tokens").over(w_in))
    totals = d.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "boffset", F.coalesce(F.sum("btot").over(w_b), F.lit(0).cast("long"))
    ).select("bucket", "boffset")
    j = d.join(F.broadcast(offsets), "bucket")
    j = j.withColumn("tok_start", F.col("boffset") + F.col("local_end") - F.col("n_tokens"))
    return j.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        F.expr(f"tok_start div {SEQ_LEN}").alias("first_seq"),
        F.expr(f"(tok_start + n_tokens - 1) div {SEQ_LEN}").alias("last_seq"),
        F.expr(
            f"cast(((tok_start + n_tokens - 1) div {SEQ_LEN}) - (tok_start div {SEQ_LEN}) as int)"
        ).alias("n_boundaries_crossed"),
    )


SEQUENCE_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           - n_tokens AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start,
       (tok_start // {SEQ_LEN})::BIGINT AS first_seq,
       ((tok_start + n_tokens - 1) // {SEQ_LEN})::BIGINT AS last_seq,
       (((tok_start + n_tokens - 1) // {SEQ_LEN})
         - (tok_start // {SEQ_LEN}))::INT AS n_boundaries_crossed
FROM c
"""


def sequence_packing_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing WITHIN each (source, lang) group — the
    curriculum/mixture form: every group owns its own token axis and
    sequence numbering, so a dataloader can draw whole sequences from
    one group at the :func:`mixture_weights` rates without cross-group
    attention contamination (the grouped twin of
    :func:`sequence_packing`).

    Scale shape: the two-phase prefix sum runs PER GROUP — within-bucket
    windows partition by (source, lang, bucket) and the bucket-totals
    fold partitions by (source, lang), so the single-partition window
    that the ungrouped form pays once on N/1024 rows is paid per group
    on |group|/1024 rows, in parallel across groups."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source",
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    d = d.withColumn("bucket", F.expr(f"doc_id div {PACK_BUCKET_DOCS}"))
    w_in = Window.partitionBy("source", "lang", "bucket").orderBy("doc_id")
    d = d.withColumn("local_end", F.sum("n_tokens").over(w_in))
    totals = d.groupBy("source", "lang", "bucket").agg(
        F.sum("n_tokens").alias("btot")
    )
    w_b = (
        Window.partitionBy("source", "lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "boffset", F.coalesce(F.sum("btot").over(w_b), F.lit(0).cast("long"))
    ).select("source", "lang", "bucket", "boffset")
    j = d.join(F.broadcast(offsets), ["source", "lang", "bucket"])
    j = j.withColumn(
        "tok_start", F.col("boffset") + F.col("local_end") - F.col("n_tokens")
    )
    return j.select(
        "source",
        "lang",
        "doc_id",
        "n_tokens",
        "tok_start",
        F.expr(f"tok_start div {SEQ_LEN}").alias("first_seq"),
        F.expr(f"(tok_start + n_tokens - 1) div {SEQ_LEN}").alias("last_seq"),
        F.expr(
            f"cast(((tok_start + n_tokens - 1) div {SEQ_LEN}) - (tok_start div {SEQ_LEN}) as int)"
        ).alias("n_boundaries_crossed"),
    )


SEQUENCE_PACKING_GROUPED_SQL = f"""
WITH t AS (
  SELECT source, lang, doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT source, lang, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY source, lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           - n_tokens AS tok_start
  FROM t
)
SELECT source, lang, doc_id, n_tokens, tok_start,
       (tok_start // {SEQ_LEN})::BIGINT AS first_seq,
       ((tok_start + n_tokens - 1) // {SEQ_LEN})::BIGINT AS last_seq,
       (((tok_start + n_tokens - 1) // {SEQ_LEN})
         - (tok_start // {SEQ_LEN}))::INT AS n_boundaries_crossed
FROM c
"""


# --- Mixture weights (temperature sampling) ----------------------------------

_SQRT_SCALE = 100_000_000  # 1e8: fixed-point precision for sqrt(share)


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) token shares and T=0.5 sampling weights.

    Float hazards are engineered out: group token sums are exact BIGINTs;
    ``share`` enters floating point only as a single int/int division
    (identical correctly-rounded double on both engines); ``sqrt`` of that
    double is correctly rounded (IEEE 754) so also identical; the sqrt is
    then FLOORED to 1e-8 fixed point and every later step (normalizer sum,
    basis-point weights) is integer arithmetic — no cross-engine float
    summation order anywhere.  Output weights are basis points (BIGINT).

    At 100 TB the group table is ~|sources|x|langs| rows: the heavy part
    is one map-side-combinable sum over documents; everything after runs
    on a table that fits in the driver's coffee break.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    g = d.groupBy("source", "lang").agg(
        F.sum("n_tokens").alias("grp_tokens"), F.count("*").alias("n_docs")
    )
    w_all = Window.partitionBy()
    g = g.withColumn("total_tokens", F.sum("grp_tokens").over(w_all))
    g = g.withColumn(
        "sqrt_fp",
        F.expr(
            f"cast(floor(sqrt(cast(grp_tokens as double) / cast(total_tokens as double)) "
            f"* {_SQRT_SCALE}) as bigint)"
        ),
    )
    g = g.withColumn("sqrt_fp_total", F.sum("sqrt_fp").over(w_all))
    return g.select(
        "source",
        "lang",
        "grp_tokens",
        "n_docs",
        F.expr("(10000 * grp_tokens) div total_tokens").alias("share_bp"),
        F.expr("(10000 * sqrt_fp) div sqrt_fp_total").alias("weight_bp"),
    )


MIXTURE_WEIGHTS_SQL = f"""
WITH d AS (
  SELECT source, lang, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
g AS (
  SELECT source, lang, sum(n_tokens)::BIGINT AS grp_tokens,
         count(*)::BIGINT AS n_docs
  FROM d GROUP BY source, lang
),
t AS (
  SELECT *, (sum(grp_tokens) OVER ())::BIGINT AS total_tokens FROM g
),
s AS (
  SELECT *,
         floor(sqrt(grp_tokens::DOUBLE / total_tokens::DOUBLE)
               * {_SQRT_SCALE})::BIGINT AS sqrt_fp
  FROM t
),
n AS (
  SELECT *, (sum(sqrt_fp) OVER ())::BIGINT AS sqrt_fp_total FROM s
)
SELECT source, lang, grp_tokens, n_docs,
       ((10000 * grp_tokens) // total_tokens)::BIGINT AS share_bp,
       ((10000 * sqrt_fp) // sqrt_fp_total)::BIGINT AS weight_bp
FROM n
"""


# --- SemDeDup ----------------------------------------------------------------


SEMDEDUP_TARGET_CELL = 64  # expected embeddings per cell
SEMDEDUP_MIN_CELLS = 4
SEMDEDUP_MAX_CELLS = 1 << 20  # paper scale: ~50k clusters on LAION


def _derived_cells(n: int) -> int:
    """clamp(ceil(n / TARGET_CELL), MIN, MAX) in pure integer arithmetic
    (matching the SQL's ``(count(*) + 63) // 64`` bit-for-bit — no
    float ceil/log anywhere, so the two engines cannot disagree)."""
    raw = (n + SEMDEDUP_TARGET_CELL - 1) // SEMDEDUP_TARGET_CELL
    return min(SEMDEDUP_MAX_CELLS, max(SEMDEDUP_MIN_CELLS, raw))


_DERIVED_CELLS_DUCK = (
    "(SELECT least({mx}, greatest({mn}, (count(*) + {t} - 1) // {t}))"
    " FROM embeddings)"
).format(mx=SEMDEDUP_MAX_CELLS, mn=SEMDEDUP_MIN_CELLS, t=SEMDEDUP_TARGET_CELL)


SEMDEDUP_PROBES = 2  # super-cells probed per vector (IMI-style multi-probe)


def _ceil_sqrt(n: int) -> int:
    """Integer ceil(sqrt(n)) — isqrt-based, so it equals the oracle's
    ``ceil(sqrt(n))`` (IEEE sqrt is correctly rounded: exact on perfect
    squares, strictly non-integral otherwise, for every n < 2^52)."""
    import math

    s = math.isqrt(n)
    return s if s * s == n else s + 1


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via cluster-scoped
    cosine.  Embeddings are assigned to deterministic IVF-style
    centroids (the first k vectors, L2, ties to the lower id — the
    assignment rule ``similarity.ivf_topk`` is already hash-certified
    on), then pairs are compared ONLY inside a cell; a vector is dropped
    when a lower-id vector in its cell has cosine >= NEAR_DUP_COS, and
    ``dup_of`` records the smallest such keeper-side id.

    The cell count is DERIVED from corpus size (the scale-aware-LSH
    pattern): k = clamp(ceil(N / 64), 4, 2^20), so expected cell
    occupancy stays ~SEMDEDUP_TARGET_CELL and the per-cell pairwise cost
    is bounded by a constant as N grows (the paper scales cluster count
    the same way — ~50k on LAION).  The identical integer formula runs
    inside the oracle SQL from ``count(*)``, so both engines agree on the
    layout at any sf.  Assignment is two-level, not an N x k crossJoin —
    see :func:`semdedup_flags`.
    """
    return semdedup_flags(_with_norm(_emb(spark, sf_dir)))


def semdedup_flags(emb: DataFrame, n_cells: int | None = None) -> DataFrame:
    """Composable core of :func:`semdedup` over a ``(vec_id, embedding,
    norm)`` frame (jobs/corpus_prep_job.py feeds it the corpus
    embeddings directly).  ``n_cells`` defaults to the corpus-derived
    count (one count() action, the scale-aware-LSH precedent).

    Assignment is two-level: s = ceil(sqrt(k)) SUPER-centroids (the
    first s vectors — a prefix of the centroids, which are the first k)
    partition the centroid table once (k x s dots, the one-time coarse
    build); each vector then ranks only the s supers (N x s dots,
    broadcast ~s rows, never the full centroid table) and its candidate
    centroids are those in its SEMDEDUP_PROBES nearest super-cells PLUS
    the probed supers themselves.  That union is the totality guarantee:
    a probed super IS a centroid (prefix property), so every vector has
    >= SEMDEDUP_PROBES candidates and no fallback branch exists — even
    when duplicate super embeddings leave some super-cell empty.
    Expected assignment cost is N x (s + PROBES * k/s) ~ N x 3*sqrt(k)
    dots instead of N x k (~1000x less at the 2^20-cell clamp); the
    cell-candidate join is a sup_id equi-join, shuffle-able at any k.
    Every distance is a round(L2, 4) double with integer-id tie-breaks,
    and the oracle SQL mirrors the construction CTE-for-CTE, so the
    two-level layout is hash-certified, not approximated."""
    if n_cells is None:
        n_cells = _derived_cells(emb.count())
    n_super = _ceil_sqrt(n_cells)
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    sup = emb.filter(F.col("vec_id") < n_super).select(
        F.col("vec_id").alias("sup_id"), F.col("embedding").alias("se")
    )
    from ..config import persist_intermediate

    # (a) one-time coarse build: super-cell -> centroid table (k + s rows),
    # each centroid under its nearest super plus every super under itself
    cent2sup = nearest(
        cents.crossJoin(F.broadcast(sup)),
        ["cent_id"],
        "sup_id",
        F.round(l2("ce", "se"), 4),
    )
    cells = (
        cent2sup.select("sup_id", "cent_id")
        .unionByName(sup.select("sup_id", F.col("sup_id").alias("cent_id")))
        .join(cents, "cent_id")
    )
    # (b) vector -> PROBES nearest super-cells (N x s dots), ranked on the
    # narrow (vec_id, sup_id, dist) rows
    probes = top_k(
        emb.crossJoin(F.broadcast(sup)).select(
            "vec_id", "sup_id", F.round(l2("embedding", "se"), 4).alias("dist")
        ),
        ["vec_id"],
        [F.col("dist").asc(), F.col("sup_id").asc()],
        SEMDEDUP_PROBES,
    ).select("vec_id", "sup_id")
    # (c) nearest candidate centroid; a centroid reached twice (a probed
    # super is also in its own super-cell) gives value-identical rows.
    # Persisted: the assignment feeds both sides of the pair join and the
    # final keep/drop projection — at scale this is the materialized
    # cluster-assignment table of the SemDeDup recipe, not an optional
    # cache (persist_intermediate = the repo's explicit MEMORY_AND_DISK
    # policy, not a bare .persist()).
    cand = probes.join(cells, "sup_id").join(emb, "vec_id")
    assigned = persist_intermediate(
        nearest(cand, ["vec_id"], "cent_id", F.round(l2("embedding", "ce"), 4))
        .join(emb, "vec_id")
        .select("vec_id", "embedding", "norm", F.col("cent_id").alias("cell"))
    )
    lo = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("ke"),
        F.col("norm").alias("kn"),
    )
    dup_links = (
        assigned.join(lo, "cell")
        .filter(F.col("keep_id") < F.col("vec_id"))
        .withColumn("cos", cosine("embedding", "ke", "norm", "kn"))
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .groupBy("vec_id")
        .agg(F.min("keep_id").alias("dup_of"))
    )
    return (
        assigned.join(dup_links, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("dup_of").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_kept"),
            "dup_of",
        )
    )


SEMDEDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({_DOT_DUCK.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM e
          WHERE vec_id < {_DERIVED_CELLS_DUCK}),
sup AS (SELECT vec_id AS sup_id, embedding AS se FROM e
        WHERE vec_id < ceil(sqrt({_DERIVED_CELLS_DUCK}))::BIGINT),
cent2sup AS (
  SELECT cent_id, ce, sup_id
  FROM (SELECT c.cent_id, c.ce, s.sup_id,
               row_number() OVER (PARTITION BY c.cent_id
                                  ORDER BY round({_L2_DUCK.format(a='c.ce', b='s.se')}, 4) ASC,
                                           s.sup_id ASC) AS rn
        FROM cents c CROSS JOIN sup s)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id, embedding, norm, sup_id
  FROM (SELECT v.vec_id, v.embedding, v.norm, s.sup_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({_L2_DUCK.format(a='v.embedding', b='s.se')}, 4) ASC,
                                           s.sup_id ASC) AS rn
        FROM e v CROSS JOIN sup s)
  WHERE rn <= {SEMDEDUP_PROBES}
),
cand AS (
  SELECT p.vec_id, p.embedding, p.norm, c.cent_id, c.ce
  FROM probes p JOIN cent2sup c ON c.sup_id = p.sup_id
  UNION ALL
  SELECT p.vec_id, p.embedding, p.norm, c.cent_id, c.ce
  FROM probes p JOIN cents c ON c.cent_id = p.sup_id
),
dists AS (
  SELECT vec_id, embedding, norm, cent_id,
         round({_L2_DUCK.format(a='embedding', b='ce')}, 4) AS dist
  FROM cand
),
assigned AS (
  SELECT vec_id, embedding, norm, cent_id AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist ASC, cent_id ASC) AS rn
        FROM dists)
  WHERE rn = 1
),
dup_links AS (
  SELECT v.vec_id, min(k.vec_id)::BIGINT AS dup_of
  FROM assigned v JOIN assigned k ON k.cell = v.cell AND k.vec_id < v.vec_id
  WHERE round({_DOT_DUCK.format(a='v.embedding', b='k.embedding')}
              / (v.norm * k.norm), 4) >= {NEAR_DUP_COS}
  GROUP BY v.vec_id
)
SELECT a.vec_id, a.cell,
       (CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END)::INT AS is_kept,
       d.dup_of
FROM assigned a LEFT JOIN dup_links d ON d.vec_id = a.vec_id
"""


# --- Boilerplate line removal ------------------------------------------------

LINE_WORDS = 8  # words per synthetic "line"
BOILERPLATE_MIN_DOCS = 3  # a line in >= this many distinct docs is boilerplate


def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style cross-document boilerplate strip.

    The corpus has no newlines, so a "line" is a fixed window of
    LINE_WORDS consecutive words (last line may be short) — the same
    fixed-segmentation convention as the shingle operators.  Any line
    text occurring in >= BOILERPLATE_MIN_DOCS DISTINCT documents is
    dropped from every document; the cleaned text is re-assembled in
    original line order and fingerprinted (md5 — engine-exact).

    Plan shape at 100 TB: explode to the compact (doc_id, idx, line)
    table (repartitioned by doc_id so the explode parallelizes off
    single-split inputs), one groupBy(line) distinct-doc count — the same
    shuffle class as duplicate_span_coverage — an equi-join back, and a
    groupBy(doc_id) re-assembly.  No driver-side state.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return boilerplate_clean(d).select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("cleaned_text")).alias("cleaned_fp"),
    )


def boilerplate_clean(d: DataFrame) -> DataFrame:
    """Composable core of :func:`boilerplate_line_removal`: returns
    ``(doc_id, n_lines, n_removed, cleaned_text)`` — the actual cleaned
    text, which jobs/corpus_prep_job.py carries forward into packing; the
    registered query fingerprints it with md5 instead of shipping it."""
    from ..config import persist_intermediate

    d = spread(d, "doc_id")
    # tokenize ONCE into a projected column — referencing
    # split(text) inside the transform lambda made Catalyst re-split the
    # text for every line index, O(words x lines) string work per doc
    # (the _shingles lesson, dedup.py) — and persist the line table: it
    # feeds both the cross-doc frequency count and the join-back, which
    # otherwise re-ran the explode.
    lines = persist_intermediate(
        d.select("doc_id", F.split("text", " ").alias("toks")).select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, cast(ceil(size(toks) / {LINE_WORDS}.0) as int)), "
                    f"i -> array_join(slice(toks, (i - 1) * {LINE_WORDS} + 1, {LINE_WORDS}), ' '))"
                )
            ).alias("idx", "line"),
        )
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("line_docs")
    )
    tagged = lines.join(freq, "line").withColumn(
        "is_bp", (F.col("line_docs") >= BOILERPLATE_MIN_DOCS).cast("int")
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("is_bp").cast("long").alias("n_removed"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(if(is_bp = 0, struct(idx, line), null))), "
                    "s -> s.line)"
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .select("doc_id", "n_lines", "n_removed", "cleaned_text")
    )


BOILERPLATE_SQL = f"""
WITH lines AS (
  SELECT doc_id, i AS idx,
         array_to_string(string_split(text, ' ')
             [(i - 1) * {LINE_WORDS} + 1 : i * {LINE_WORDS}], ' ') AS line
  FROM documents,
       unnest(range(1, ceil(len(string_split(text, ' ')) / {LINE_WORDS}.0)::INT + 1)) AS u(i)
),
freq AS (
  SELECT line, count(DISTINCT doc_id)::BIGINT AS line_docs
  FROM lines GROUP BY line
),
tagged AS (
  SELECT l.doc_id, l.idx, l.line,
         (CASE WHEN f.line_docs >= {BOILERPLATE_MIN_DOCS} THEN 1 ELSE 0 END) AS is_bp
  FROM lines l JOIN freq f ON f.line = l.line
)
SELECT doc_id,
       count(*)::BIGINT AS n_lines,
       sum(is_bp)::BIGINT AS n_removed,
       -- coalesce: a doc whose EVERY line is boilerplate must fingerprint
       -- the empty string (Spark's array_join over an empty array), not
       -- NULL (DuckDB's filtered string_agg over zero rows) — hit at
       -- sf0.1, masked at sf0.01 where no doc is fully boilerplate
       md5(coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE is_bp = 0), '')) AS cleaned_fp
FROM tagged
GROUP BY doc_id
"""


# --- Sequence manifest (the dataloader's view) -------------------------------


def sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-sequence manifest: which documents land in sequence
    ``s`` and how many of its SEQ_LEN tokens they fill — the inverse view
    of :func:`sequence_packing` and the artifact a dataloader actually
    consumes (doc boundaries inside each fixed-length sample drive
    attention masking and loss masking).

    Each doc explodes into its [first_seq, last_seq] range (bounded:
    a doc spans ceil(n_tokens / SEQ_LEN) + 1 sequences), and the per-
    (seq, doc) token overlap is pure interval arithmetic — integer only,
    so the oracle is exact.  Output is one row per sequence: doc count,
    first/last doc id, and filled token count (== SEQ_LEN everywhere but
    the final partial sequence).
    """
    packed = sequence_packing(spark, sf_dir)
    per_seq = packed.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        F.explode(F.expr("sequence(first_seq, last_seq)")).alias("seq_id"),
    ).select(
        "seq_id",
        "doc_id",
        (
            F.least(
                F.col("tok_start") + F.col("n_tokens"),
                (F.col("seq_id") + 1) * F.lit(SEQ_LEN),
            )
            - F.greatest(F.col("tok_start"), F.col("seq_id") * F.lit(SEQ_LEN))
        ).alias("overlap"),
    )
    return (
        per_seq.groupBy("seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("overlap").cast("long").alias("filled_tokens"),
        )
        .select("seq_id", "n_docs", "first_doc", "last_doc", "filled_tokens")
    )


SEQUENCE_MANIFEST_SQL = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           - n_tokens AS tok_start
  FROM t
),
per_seq AS (
  SELECT unnest(range(tok_start // {SEQ_LEN},
                      (tok_start + n_tokens - 1) // {SEQ_LEN} + 1)) AS seq_id,
         doc_id, n_tokens, tok_start
  FROM c
)
SELECT seq_id::BIGINT AS seq_id,
       count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS first_doc,
       max(doc_id)::BIGINT AS last_doc,
       sum(least(tok_start + n_tokens, (seq_id + 1) * {SEQ_LEN})
           - greatest(tok_start, seq_id * {SEQ_LEN}))::BIGINT AS filled_tokens
FROM per_seq
GROUP BY seq_id
"""


# --- Epoch sampling (applying the mixture) -----------------------------------

EPOCH_TOKEN_BUDGET = 50_000  # tokens drawn per epoch at the bench scale


def epoch_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draw one epoch's documents according to :func:`mixture_weights`.

    Each (source, lang) group gets a token target ``budget * weight_bp /
    10000``; membership is decided by a per-group HASH RATE — keep doc
    iff ``pmod(xxhash64(doc_id), 1000) < frac_milli`` where
    ``frac_milli = min(1000, 1000 * target // grp_tokens)`` — rather than
    an exact per-group running-sum cut.  The rate form is the 100 TB
    design: the weights table is tiny and broadcast, the draw is a
    stateless per-row filter (no per-group global sort/window, which
    would put 10^10 docs of one group on one partition), the selection is
    deterministic and repeatable across runs/engines, and realized tokens
    concentrate tightly around the target (binomial).  Different epochs
    use different hash seeds; this query pins epoch 0 (seed 42 = Spark's
    default) under the oracle.

    Output: the drawn documents with their group and the group's
    ``frac_milli`` — realized-vs-target accounting is one aggregate away.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = mixture_weights(spark, sf_dir).select(
        "source",
        "lang",
        F.expr(
            f"least(1000, (1000 * (({EPOCH_TOKEN_BUDGET} * weight_bp) div 10000))"
            f" div grp_tokens)"
        ).alias("frac_milli"),
    )
    return (
        docs.join(F.broadcast(w), ["source", "lang"])
        .filter(F.expr("pmod(xxhash64(doc_id), 1000)") < F.col("frac_milli"))
        .select("doc_id", "source", "lang", "n_tokens", "frac_milli")
    )


def _epoch_sample_sql() -> str:
    from ..functions import xxh64_sql as X

    fold = X.SqlFold("ep")
    h = X.fold_long(fold, fold.unsign("doc_id"), X.SPARK_SEED)
    hs = fold.sign(h)
    hashed = fold.render(
        "SELECT doc_id, source, lang, len(string_split(text, ' '))::BIGINT AS n_tokens"
        " FROM documents",
        keep=[
            "doc_id", "source", "lang", "n_tokens",
            f"(({hs} % 1000) + 1000) % 1000 AS hmod",
        ],
    )
    return f"""
WITH weights AS ({MIXTURE_WEIGHTS_SQL.strip()}),
fr AS (
  SELECT source, lang,
         least(1000, (1000 * (({EPOCH_TOKEN_BUDGET} * weight_bp) // 10000))
               // grp_tokens)::BIGINT AS frac_milli
  FROM weights
),
hashed AS ({hashed})
SELECT h.doc_id, h.source, h.lang, h.n_tokens, f.frac_milli
FROM hashed h JOIN fr f ON f.source = h.source AND f.lang = h.lang
WHERE h.hmod < f.frac_milli
"""


EPOCH_SAMPLE_SQL = _epoch_sample_sql()


# --- Intra-document dedup ----------------------------------------------------


def intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style within-document repetition removal: using the same
    fixed 8-word line segmentation as :func:`boilerplate_line_removal`,
    keep only the FIRST occurrence of each line text inside a document
    and re-assemble in order (the complement of the cross-document strip:
    that drops corpus-wide boilerplate, this drops a page's self-repeats
    — headers repeated per section, scraper stutter).

    The corpus has no self-repeats, so the query derives a deterministic
    "stuttered page" (the pii_redaction pattern): every third doc gets
    its own first 8 words prepended, which reproduces line 1 exactly and
    puts the REMOVAL path — not just the no-op path — under the oracle.

    Plan shape: one compact-table repartition by doc_id, then the
    first-occurrence window runs exchange-free (HashPartitioning(doc_id)
    satisfies the (doc_id, line) clustering — the gopher trick), and the
    reassembly groupBy is likewise co-partitioned.  One shuffle total at
    any scale; no joins.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.expr(
            "case when doc_id % 3 = 0 then "
            "concat(array_join(slice(split(text, ' '), 1, 8), ' '), ' ', text) "
            "else text end"
        ).alias("text"),
    )
    # tokenize once into a projected column (the _shingles /
    # boilerplate lesson — split(text) inside the lambda re-splits per
    # line index, O(words x lines) per doc)
    lines = (
        spread(d, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, cast(ceil(size(toks) / {LINE_WORDS}.0) as int)), "
                    f"i -> array_join(slice(toks, (i - 1) * {LINE_WORDS} + 1, {LINE_WORDS}), ' '))"
                )
            ).alias("idx", "line"),
        )
    )
    w = Window.partitionBy("doc_id", "line").orderBy("idx")
    tagged = lines.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("is_dup").cast("long").alias("n_intra_removed"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list(if(is_dup = 0, struct(idx, line), null))), "
                        "s -> s.line)"
                    ),
                    " ",
                )
            ).alias("cleaned_fp"),
        )
        .select("doc_id", "n_lines", "n_intra_removed", "cleaned_fp")
    )


INTRA_DOC_DEDUP_SQL = f"""
WITH stuttered AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           concat(array_to_string(string_split(text, ' ')[1:8], ' '), ' ', text)
         ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i AS idx,
         array_to_string(string_split(text, ' ')
             [(i - 1) * {LINE_WORDS} + 1 : i * {LINE_WORDS}], ' ') AS line
  FROM stuttered,
       unnest(range(1, ceil(len(string_split(text, ' ')) / {LINE_WORDS}.0)::INT + 1)) AS u(i)
),
tagged AS (
  SELECT doc_id, idx, line,
         (CASE WHEN row_number() OVER (PARTITION BY doc_id, line ORDER BY idx) > 1
               THEN 1 ELSE 0 END) AS is_dup
  FROM lines
)
SELECT doc_id,
       count(*)::BIGINT AS n_lines,
       sum(is_dup)::BIGINT AS n_intra_removed,
       -- coalesce for the same NULL-vs-'' hazard as BOILERPLATE_SQL
       -- (unreachable here — a doc's first line is never a dup — but the
       -- semantics should not depend on that invariant)
       md5(coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE is_dup = 0), '')) AS cleaned_fp
FROM tagged
GROUP BY doc_id
"""
