"""Deduplication operators over the ``documents`` table.

Training-data-pipeline first-class ops (exact, prefix-key, MinHash+LSH,
SimHash, n-gram Jaccard). Each has a Spark DataFrame implementation and an
ANSI-SQL oracle (DuckDB) built from primitives verified to agree bit-for-bit
across engines: md5, substr, conv/0x-cast for hex->int64, split/slice,
lexicographic string min.

Scale notes: every op is a shuffle-on-key groupBy/self-join — at 10^12 docs
the shingle self-join (Jaccard) and band-bucket join (LSH) dominate; both
key on high-cardinality deterministic hashes, so they salt/AQE cleanly and
broadcast nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import persist_intermediate, spread

SIMHASH_BITS = 60  # 15 hex chars -> fits signed int64 in both engines
JACCARD_THRESHOLD = 0.12
# the threshold as an exact integer ratio: every >= filter is evaluated as
# T_DEN*inter >= T_NUM*union in pure int64 on BOTH engines, so a jaccard
# that lands exactly on the threshold (e.g. 3/25) can never split across
# float rounding (the round(...,4) jaccard OUTPUT columns are values, not
# predicates)
JACCARD_T_NUM, JACCARD_T_DEN = 12, 100
assert JACCARD_T_NUM / JACCARD_T_DEN == JACCARD_THRESHOLD
SHINGLE_N = 3
MAX_MINHASHES = 128  # hash budget (DataSketch-standard): bands*rows <= this


def _bands_rows_for_threshold(t: float) -> tuple[int, int]:
    """(bands, rows-per-band) DERIVED from the target jaccard threshold via
    the LSH S-curve: the banding's
    ~50%-collision point is s* = (1/bands)^(1/rows) (Mining of Massive
    Datasets, ch.3); pick the (bands, rows) inside the hash budget whose
    s* lands closest to the operator threshold, ties to fewer hashes.
    rows >= 2 is a precision floor: 1-row bands collide with probability
    equal to the jaccard itself — no S-curve knee, so the candidate set
    degenerates to a hash-family-dependent sample of every weakly-similar
    pair (measured: md5/xxhash64 family overlap collapses from ~1.0 to
    0.06). At t = 0.12 this derives 64 bands x 2 rows (s* = 0.125, the
    industry-standard 128-perm budget) — the managed recall contract; the
    previous 4x2 put s* at 0.50, so recall at the registered threshold was
    an accident of constants."""
    best: tuple[float, int, int, int] | None = None
    for rows in range(2, 7):
        for bands in range(1, MAX_MINHASHES + 1):
            if bands * rows > MAX_MINHASHES:
                continue
            s_star = (1.0 / bands) ** (1.0 / rows)
            key = (abs(s_star - t), bands * rows, bands, rows)
            if best is None or key < best:
                best = key
    assert best is not None
    return best[2], best[3]


N_BANDS, BAND_ROWS = _bands_rows_for_threshold(JACCARD_THRESHOLD)
N_MINHASH = N_BANDS * BAND_ROWS


def _band_cols(b: int) -> list[str]:
    """Minhash column names making up band ``b`` (rows-per-band slices)."""
    return [f"mh{b * BAND_ROWS + i}" for i in range(BAND_ROWS)]


def _verify_candidates(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-jaccard verification of LSH candidate pairs — the second half
    of the MMDS recipe: candidates whose true shingle jaccard clears
    JACCARD_THRESHOLD survive; banding false positives (probability mass
    below the S-curve knee) are removed, so the operator's output is
    hash-family-independent up to recall. Work is bounded by candidate
    volume x shingles-per-doc (each candidate joins only its own two
    shingle sets), never by corpus size.

    ``cand`` carries ``na``/``nb``, the per-doc shingle counts that ride
    the minhash aggregate (:func:`_minhash_bands`), so no corpus-wide
    sizes aggregate or doc-keyed size join is needed — at 10^12 docs
    those would be two corpus-scale shuffles."""
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
        .filter(
            F.lit(JACCARD_T_DEN) * F.col("inter")
            >= F.lit(JACCARD_T_NUM)
            * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("doc_a", "doc_b")
    )


_VERIFY_SQL_TAIL = f"""
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE {JACCARD_T_DEN} * i.inter >= {JACCARD_T_NUM} * (na.n + nb.n - i.inter)
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct word n-grams, n=3.

    Tokenize ONCE into a projected column: referencing ``split(text,' ')``
    inside the transform lambda makes Catalyst re-split the text for every
    gram index — O(tokens^2) string work per document (measured 3x the
    whole-stage cost at sf0.1)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {SHINGLE_N - 1}, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {SHINGLE_N})))"
    )
    # partition the COMPACT docs table by doc_id before the ~n_tokens-x
    # explode: HashPartitioning(doc_id) satisfies the distinct's
    # (doc_id, shingle) clustering AND every downstream per-doc grouping
    # (minhash agg, sizes), so the exploded shingle rows are never
    # shuffled — one small-table exchange replaces two big ones (and the
    # single-split parquet stops serializing tokenization on one core).
    return (
        spread(docs, "doc_id")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.explode(grams).alias("shingle"))
        .distinct()
    )


_SHINGLES_SQL = (
    "SELECT doc_id, unnest(["
    "array_to_string(string_split(text,' ')[i:i+{n1}], ' ') "
    "for i in range(1, greatest(len(string_split(text,' ')) - {n1}, 1) + 1)"
    "]) AS shingle FROM documents"
).format(n1=SHINGLE_N - 1)


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text (map-side combinable)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
    )


EXACT_DUP_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
"""


def prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on a normalized prefix key (first 5 words)."""
    key = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 5), " "))
    return (
        _docs(spark, sf_dir)
        .groupBy(key.alias("prefix_hash"))
        .agg(F.count("*").cast("long").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


PREFIX_DUP_SQL = """
SELECT md5(array_to_string(string_split(text,' ')[1:5],' ')) AS prefix_hash,
       count(*) AS n_docs, min(doc_id) AS keeper
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""


# Kirsch-Mitzenmacher double hashing: ONE md5 per shingle, split into two
# independent 60-bit halves (15 hex chars each — the engine-verified
# '0x'-cast / conv parity window), and permutation s is h1 + s*h2 mod 2^60:
# one md5 + 128 integer multiply-adds per shingle instead of 128 md5s. The
# hash family is a standard published minhash construction (Kirsch &
# Mitzenmacher 2006), and the arithmetic is written with a 30-bit split so
# no intermediate exceeds 2^62: safe under Spark ANSI overflow checks AND
# bit-identical in DuckDB BIGINT (no HUGEINT needed).
_KM_M30 = (1 << 30) - 1
_KM_M60 = (1 << 60) - 1


def _km_expr(s: int, h1: str = "h1", h2: str = "h2") -> str:
    """(h1 + s*h2) mod 2^60 without int64 overflow — identical text works
    as a Spark SQL expression and a DuckDB expression."""
    if s == 0:
        return h1
    return (
        f"({h1} + {s} * ({h2} & {_KM_M30}) + "
        f"((({s} * ({h2} >> 30)) & {_KM_M30}) << 30)) & {_KM_M60}"
    )


_KM_HALVES_SQL = (
    "('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1, "
    "('0x' || substr(md5(shingle), 17, 15))::BIGINT AS h2"
)


# A minhash family maps the (doc_id, shingle) table to per-shingle base
# hashes and names permutation s over them; :func:`_minhash_bands` is the
# one pipeline both families run.


def _md5_family(sh: DataFrame):
    """The md5 Kirsch-Mitzenmacher family: the two 60-bit halves (h1, h2)
    of one md5 per shingle, permutation s = :func:`_km_expr`. The md5 is
    projected on its own first, so it runs once per shingle, not once per
    half."""
    m = sh.select("doc_id", F.md5("shingle").alias("m"))
    halves = m.select(
        "doc_id",
        F.expr("cast(conv(substr(m,1,15),16,10) as bigint)").alias("h1"),
        F.expr("cast(conv(substr(m,17,15),16,10) as bigint)").alias("h2"),
    )
    return halves, lambda s: F.expr(_km_expr(s))


def _xxhash64_family(sh: DataFrame):
    """The xxhash64 family: permutation s is xxhash64(s, xxhash64(shingle))
    — the variable-length string is hashed ONCE into a 64-bit base
    fingerprint and each permutation rehashes only that fixed 8-byte long
    (a seed-chained long hash is a handful of multiplies). Rehashing a
    fingerprint is the standard minhash construction; base-fingerprint
    collisions (2^-64) are absorbed by the exact-jaccard verification."""
    based = sh.select("doc_id", F.xxhash64("shingle").alias("bh"))
    return based, lambda s: F.xxhash64(F.lit(s), F.col("bh"))


def _minhash_bands(sh: DataFrame, family) -> DataFrame:
    """(doc_id, n, band_no, band_key) from a (doc_id, shingle) table: the
    N_MINHASH minimum permutations of each doc's shingles under
    ``family`` (:func:`_md5_family` / :func:`_xxhash64_family`), cut into
    N_BANDS bands of BAND_ROWS, each keyed by the xxhash64 long of its
    minhash values. Persisted: it feeds both candidate-join sides.

    Band keys only ever ADD candidates (equal band values always collide;
    2^-64 key collisions add spurious ones), and the exact-jaccard
    verification removes them, so the verified output equals a string-keyed
    banding's. The per-doc shingle count ``n`` rides the SAME aggregate
    (zero extra shuffles), so the verify stage needs no sizes join."""
    base, perm = family(sh)
    mh = base.groupBy("doc_id").agg(
        *[F.min(perm(s)).alias(f"mh{s}") for s in range(N_MINHASH)],
        F.count("*").alias("n"),
    )
    keys = [
        F.xxhash64(*[F.col(c) for c in _band_cols(b)]) for b in range(N_BANDS)
    ]
    return persist_intermediate(
        mh.select(
            "doc_id",
            "n",
            F.posexplode(F.array(*keys)).alias("band_no", "band_key"),
        )
    )


def _lsh_candidates(probe: DataFrame, corpus: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b, na, nb) candidate pairs: a ``probe`` band
    row and a ``corpus`` band row sharing (band_no, band_key). The full
    operators pass one band table as both sides; an incremental probe
    passes its arriving rows, so a new-new pair counts once and old-old
    pairs never form."""
    a, b = F.col("a.doc_id"), F.col("b.doc_id")
    # a self-join meets every pair in both orders, so it keeps a < b; a
    # probe against another table keeps both and swaps the sides of a > b
    # (the constant swap folds away, leaving the self-join a plain select)
    pair, swap = (a < b, F.lit(False)) if probe is corpus else (a != b, a > b)

    def side(x, y):
        return F.when(swap, y).otherwise(x)

    return (
        probe.alias("a")
        .join(corpus.alias("b"), ["band_no", "band_key"])
        .filter(pair)
        .select(
            side(a, b).alias("doc_a"),
            side(b, a).alias("doc_b"),
            side(F.col("a.n"), F.col("b.n")).alias("na"),
            side(F.col("b.n"), F.col("a.n")).alias("nb"),
        )
        .distinct()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (md5-based permutations) + LSH banding + exact
    verification — near-dup pairs whose true shingle jaccard clears the
    threshold. The (bands, rows) split is derived from JACCARD_THRESHOLD
    via the S-curve (:func:`_bands_rows_for_threshold`; 64x2 at t=0.12),
    so the recall contract tracks the registered threshold instead of
    being an accident of constants, and banding false positives are
    removed by :func:`_verify_candidates` (the full MMDS recipe).

    shingle -> md5 -> two 60-bit halves -> 128 K-M permutations (one
    integer multiply-add each; see :func:`_km_expr`) -> elementwise min
    agg -> band -> bucket-join -> exact verify."""
    sh = persist_intermediate(_shingles(_docs(spark, sf_dir)))
    bands = _minhash_bands(sh, _md5_family)
    return _verify_candidates(sh, _lsh_candidates(bands, bands))


def minhash_lsh_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 production variant of :func:`minhash_lsh_pairs`: same
    MinHash+LSH algorithm, but the hash family is Spark's JVM-intrinsic
    xxhash64 chained over a per-shingle 64-bit base fingerprint
    (:func:`_xxhash64_family`) instead of md5 hex strings — no 32-char
    string materialization, so the minhash aggregation CPU drops.
    Hash-oracled via generated inline XXH64 DuckDB SQL
    (functions/xxh64_sql.py); this variant is what a 100 TB job runs.
    Different hash family => different (valid) minhash permutations, so
    CANDIDATES can differ from the md5 form on boundary cases — but both
    run the same exact-jaccard verification, so the verified outputs
    agree up to S-curve recall (pytest equivalence,
    tests/test_dedup_banded.py)."""
    sh = persist_intermediate(_shingles(_docs(spark, sf_dir)))
    bands = _minhash_bands(sh, _xxhash64_family)
    return _verify_candidates(sh, _lsh_candidates(bands, bands))


INCREMENT_MOD = 10  # doc_id % 10 == 0 plays the arriving daily batch


def minhash_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup — the daily-crawl-increment pattern a 100 TB
    corpus actually runs: near-dup pairs INVOLVING the arriving batch
    (here: doc_id % INCREMENT_MOD == 0 plays the increment), against the
    full corpus, without ever joining corpus x corpus. The increment's
    band rows probe the corpus band table on (band_no, band_key), so work
    is |increment| x bucket occupancy — at scale the corpus side is the
    STORED band table maintained across increments (append the new rows
    after each batch; this query recomputes it from documents because the
    driver contract is stateless), and the probe side is broadcast-sized.
    Same exact-jaccard verification as the full operator, so output = the
    full operator's pairs restricted to those touching the increment
    (pytest-asserted)."""
    sh = persist_intermediate(_shingles(_docs(spark, sf_dir)))
    bands = _minhash_bands(sh, _xxhash64_family)
    arriving = bands.filter(F.col("doc_id") % INCREMENT_MOD == 0)
    return _verify_candidates(sh, _lsh_candidates(arriving, bands))


MINHASH_LSH_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
halves AS (SELECT doc_id, {_KM_HALVES_SQL} FROM sh),
mh AS (
  SELECT doc_id,
         {", ".join(f"min({_km_expr(s)}) AS mh{s}" for s in range(N_MINHASH))}
  FROM halves GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([
    {", ".join("'b%d:' || " % b + " || '|' || ".join(f"{c}::VARCHAR" for c in _band_cols(b)) for b in range(N_BANDS))}
  ]) AS band FROM mh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
{_VERIFY_SQL_TAIL.lstrip()}
SELECT doc_a, doc_b FROM verified
"""


def _simhash(docs: DataFrame, token_hash, bits: int) -> DataFrame:
    """(doc_id, simhash): the ``bits``-bit SimHash of each document's
    space-split tokens, ``token_hash`` being a long Column over ``tok``.

    Folded JVM-side: one groupBy(doc_id) with ``bits`` bit-count
    aggregates plus a token count, instead of exploding every token into
    one row per bit (a ``bits``-x row blow-up, shuffled a second time).
    Identical integer math: the per-bit vote
    s = sum(2*bit - 1) = 2*cnt_b - n, bit set iff s >= 0 — all map-side
    combinable. At 64 bits, bit 63's addend is Long.MIN_VALUE; partial sums
    of the lower 63 bits stay < 2^63 so the fold never overflows
    (ANSI-safe)."""
    toks = (
        # compact-table repartition: the bit-vote aggregation below
        # groups by doc_id, so exploded token rows never shuffle
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .withColumn("h", token_hash)
    )
    aggs = [
        F.sum(F.expr(f"cast(shiftright(h, {b}) & 1 as bigint)")).alias(f"c{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n"), *aggs
    )
    sig_expr = " + ".join(
        f"(case when 2 * c{b} - n >= 0 then shiftleft(1L, {b}) else 0L end)"
        for b in range(bits)
    )
    return per_doc.select(
        "doc_id", F.expr(sig_expr).cast("bigint").alias("simhash")
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from md5-hashed tokens (the first 15
    hex chars of each token's md5)."""
    return _simhash(
        _docs(spark, sf_dir),
        F.expr("cast(conv(substr(md5(tok),1,15),16,10) as bigint)"),
        SIMHASH_BITS,
    )


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(string_split(text,' '))),1,15))::BIGINT AS h
  FROM documents
),
bits AS (
  SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
  FROM toks, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       sum((CASE WHEN s >= 0 THEN 1::BIGINT ELSE 0 END) << b)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


NGRAM_JACCARD_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       round(i.inter / (na.n + nb.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE {JACCARD_T_DEN} * i.inter >= {JACCARD_T_NUM} * (na.n + nb.n - i.inter)
"""


SIMHASH_HAMMING_MAX = 20


def hamming_pairs_quadratic(sig: DataFrame, hmax: int) -> DataFrame:
    """TEST ORACLE ONLY: every (doc_a < doc_b) pair of a (doc_id, simhash)
    table at ``bit_count(xor) <= hmax``, via crossJoin — O(N^2), cannot
    survive scale; the in-Spark ground truth the production near-dup
    forms are verified against in tests/."""
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("cast(bit_count(ha ^ hb) as int)"))
        .filter(F.col("hamming") <= hmax)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST ORACLE ONLY (not a registered production query): exact
    all-pairs 60-bit SimHash hamming <= 20. The production operator is
    :func:`simhash_near_dup_banded`; this quadratic form remains as the
    ground truth it is verified against."""
    return hamming_pairs_quadratic(
        simhash_signatures(spark, sf_dir), SIMHASH_HAMMING_MAX
    )


SIMHASH_BANDED_HAMMING_MAX = 3

# Block specs for exact hamming <= 3: (block sizes from the low bit up,
# blocks per key). <= 3 bit errors corrupt <= 3 blocks, so with
# len(sizes) - pick >= 3 clean blocks every qualifying pair agrees exactly
# on some pick-block combination key (pigeonhole: zero false negatives).
SIMHASH_BANDS = ((15,) * 4, 1)  # 60 bits: 4 bands, 15-bit keys
MANKU60_BLOCKS = ((10,) * 6, 3)  # 60 bits: C(6,3) = 20 tables, 30-bit keys
MANKU64_BLOCKS = ((10,) + (9,) * 6, 4)  # 64 bits: C(7,4) = 35, >= 36-bit keys


def block_keys(sig: DataFrame, sig_col: str, blocks: tuple) -> DataFrame:
    """``sig``'s rows, each repeated once per block combination of
    ``blocks`` = (sizes, pick), with ``combo_id`` (the combination's index
    in ``itertools.combinations`` order) and ``combo_key`` (its blocks of
    ``sig_col`` packed low to high) — the join keys of every exact-hamming
    near-dup form and of the stored image-dedup state."""
    from itertools import combinations

    sizes, pick = blocks
    starts = [sum(sizes[:i]) for i in range(len(sizes))]
    keys = []
    for combo in combinations(range(len(sizes)), pick):
        parts, shift = [], 0
        for b in combo:
            mask = (1 << sizes[b]) - 1
            parts.append(
                f"shiftleft(({sig_col} >> {starts[b]}) & {mask}, {shift})"
            )
            shift += sizes[b]
        keys.append(F.expr(" + ".join(parts)))
    return sig.select(
        *sig.columns, F.posexplode(F.array(*keys)).alias("combo_id", "combo_key")
    )


def exact_hamming_pairs(
    sig: DataFrame,
    blocks: tuple,
    hmax: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    a_name: str = "doc_a",
    b_name: str = "doc_b",
) -> DataFrame:
    """All (a < b) id pairs at ``bit_count(sig_a ^ sig_b) <= hmax``, with
    candidates from the pigeonhole-complete block spec ``blocks`` (see
    :func:`block_keys`) — the duplicate-cluster-safe exact-hamming join
    that simhash manku, simhash64 and image dHash near-dup all run.

    Why this shape (identical output to the naive signature-level
    self-join): mass-duplicated content collapses to ONE signature value,
    and the naive join paid each identical-signature cluster's quadratic
    once PER key table (x20 / x35 combos) before a distinct. Here

    1. the key tables enumerate DISTINCT signature values only, so the
       bucket join emits unique (h1, h2) SIGNATURE pairs at hamming
       1..hmax — cluster mass cannot multiply candidate volume;
    2. identical-signature pairs are the (h, h, hamming 0) rows unioned
       into the same signature-pair table (no separate self-join);
    3. member expansion joins the signature pairs back to their ids —
       output-proportional work, the only place cluster sizes multiply
       (as they must: the pairs ARE the output).

    ``sig``, its distinct signatures and their key tables are persisted
    (persist_intermediate) because each feeds two join sides.
    """
    sig = persist_intermediate(sig)
    distinct_sig = persist_intermediate(sig.select(sig_col).distinct())
    combos = persist_intermediate(block_keys(distinct_sig, sig_col, blocks))
    near = (
        combos.alias("a")
        .join(combos.alias("b"), ["combo_id", "combo_key"])
        .filter(F.col(f"a.{sig_col}") < F.col(f"b.{sig_col}"))
        .select(
            F.col(f"a.{sig_col}").alias("h1"),
            F.col(f"b.{sig_col}").alias("h2"),
            F.expr(
                f"cast(bit_count(a.{sig_col} ^ b.{sig_col}) as int)"
            ).alias("hamming"),
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= hmax))
        .distinct()
    )
    # identical-signature pairs ride the SAME expansion as (h, h, 0) rows
    # (no separate signature self-join): for h1 < h2 each unordered member
    # pair appears exactly once (sides drawn from different groups) and is
    # canonicalized by least/greatest; for h1 == h2 the expansion produces
    # both orders plus self-pairs, which the (h1 != h2) | (ida < idb)
    # filter cuts to exactly the a < b pairs.
    hpairs = near.unionByName(
        distinct_sig.select(
            F.col(sig_col).alias("h1"),
            F.col(sig_col).alias("h2"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return (
        hpairs.join(
            sig.select(F.col(sig_col).alias("h1"), F.col(id_col).alias("ida")),
            "h1",
        )
        .join(
            sig.select(F.col(sig_col).alias("h2"), F.col(id_col).alias("idb")),
            "h2",
        )
        .filter((F.col("h1") != F.col("h2")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias(a_name),
            F.greatest("ida", "idb").alias(b_name),
            "hamming",
        )
    )


def simhash_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash near-dup: banded bucket-join candidate generation,
    then the exact hamming check.

    The 60-bit signature splits into 4 disjoint 15-bit bands
    (``SIMHASH_BANDS``). Two signatures at hamming distance <= 3 differ in
    at most 3 bands (pigeonhole), so they MUST agree on at least one band —
    the band-equality equi-join generates every qualifying pair with zero
    false negatives, and the exact ``bit_count(xor)`` filter removes false
    positives. Result is therefore IDENTICAL to the quadratic all-pairs
    form at threshold 3 (the oracle SQL is exactly that form), but the plan
    is a shuffle-on-band-key equi-join: no crossJoin, candidate volume ~
    sum of per-bucket squares (bounded by near-dup cluster sizes, not
    corpus size).

    At 100 TB: band keys are 4 rows/doc, high-cardinality (2^15 values x 4
    band ids, widen bands to taste); a pathological bucket (mass-duplicated
    content) is exactly a giant duplicate cluster — AQE skew-join splits it,
    and the downstream distinct caps output. Reference semantics:
    near-duplicate detection per Charikar SimHash, the operator the
    reference's corpus tooling lacks but a training-data pipeline needs.
    """
    # the documented SMALL-CORPUS form (past the 2^15 keyspace ceiling the
    # Manku twins take over) keeps the direct signature-level join: through
    # exact_hamming_pairs it returns the same 496 pairs at sf0.1 but took
    # 1.89 s median against 1.16 s (local[4] on a 4-vCPU VM, noop sink)
    sig = simhash_signatures(spark, sf_dir)
    # both join sides reuse the band table; without a cache Catalyst
    # recomputes the full signature aggregation twice
    bands = persist_intermediate(block_keys(sig, "simhash", SIMHASH_BANDS))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["combo_id", "combo_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("cast(bit_count(ha ^ hb) as int)"))
        .filter(F.col("hamming") <= SIMHASH_BANDED_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# oracle = the exact quadratic form at the same threshold: the banded plan is
# provably equivalent (pigeonhole), so DuckDB may do the O(N^2) the engine
# must not.
SIMHASH_NEAR_DUP_BANDED_SQL = f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(string_split(text,' '))),1,15))::BIGINT AS h
  FROM documents
),
bits AS (
  SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
  FROM toks, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         sum((CASE WHEN s >= 0 THEN 1::BIGINT ELSE 0 END) << b)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_BANDED_HAMMING_MAX}
"""


def simhash_near_dup_manku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup via Manku-style block-combination tables — the
    construction that survives past the banded form's keyspace ceiling.

    The banded 4x15 split (:func:`simhash_near_dup_banded`) is forced to
    15-bit keys by the pigeonhole at hamming <= 3, so expected candidate
    volume is Theta(N^2 / 2^15) even on random signatures — a cliff around
    N ~ 10^7-10^8. This operator splits the 60-bit signature into 6 blocks
    of 10 bits (``MANKU60_BLOCKS``): <= 3 bit errors corrupt <= 3 blocks,
    so every qualifying pair agrees EXACTLY on some 3-block combination —
    enumerating all C(6,3) = 20 combinations as join tables gives zero
    false negatives with 30-bit keys, i.e. candidate volume
    Theta(20 * N^2 / 2^30): ~10^4x fewer spurious candidates per table
    pair, at 5x the explode width. This is the table construction of
    Manku/Jain/Sarma (WWW'07, "Detecting Near-Duplicates for Web
    Crawling"), expressed as a Spark equi-join instead of their
    sorted-list probes (same candidate set; a shuffle join IS the
    distributed sorted-neighborhood). The exact bit_count(xor) filter then
    removes false positives, so the result is IDENTICAL to the quadratic
    all-pairs form at threshold 3 — the oracle SQL is exactly that form,
    shared with the banded operator.

    Keep :func:`simhash_near_dup_banded` for small corpora (4 rows/doc vs
    20); switch to this one when N approaches the 2^15 ceiling.
    """
    return exact_hamming_pairs(
        simhash_signatures(spark, sf_dir),
        MANKU60_BLOCKS,
        SIMHASH_BANDED_HAMMING_MAX,
    )


# provably the same result set as the banded form (both are exact at
# hamming <= 3), so they share the quadratic oracle
SIMHASH_NEAR_DUP_MANKU_SQL = SIMHASH_NEAR_DUP_BANDED_SQL


# --- 64-bit xxhash64 production twin ---------------------------------------
# The 60-bit/md5 family above is the DuckDB-int64-parity ORACLE choice; its
# Manku keyspace tops out at 2^30 (heavy past N ~ 10^9-10^10). This twin is
# what a 10^12-doc job runs: JVM-intrinsic xxhash64 token hashes, the full
# 64 signature bits, and 7 Manku blocks (sizes 10+9*6) picked 4 at a time —
# C(7,4) = 35 tables on >= 2^36 combination keys, candidate volume
# Theta(35 * N^2 / 2^36): workable to N ~ 10^11-10^12. Hash-oracled:
# SIMHASH64_NEAR_DUP_SQL inlines a generated pure-SQL XXH64
# (functions/xxh64_sql.py) so DuckDB reproduces Spark's xxhash64 bit-for-bit;
# pytest additionally proves (a) pigeonhole exactness against the in-Spark
# 64-bit quadratic form and (b) pair-set equivalence with the 60-bit oracled
# operator on the corpus.
SIMHASH64_BITS = 64


def simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash from xxhash64 token hashes (:func:`_simhash`) — no
    md5 hex-string materialization."""
    return _simhash(_docs(spark, sf_dir), F.xxhash64("tok"), SIMHASH64_BITS)


def simhash64_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit Manku block-combination near-dup (production twin of
    :func:`simhash_near_dup_manku`; module comment above). Exact at
    hamming <= SIMHASH_BANDED_HAMMING_MAX by the same pigeonhole: <= 3 bit
    errors corrupt <= 3 of the 7 blocks (``MANKU64_BLOCKS``), so every
    qualifying pair agrees exactly on some 4-block combination key."""
    return exact_hamming_pairs(
        simhash64_signatures(spark, sf_dir),
        MANKU64_BLOCKS,
        SIMHASH_BANDED_HAMMING_MAX,
    )


def simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST ORACLE ONLY: 64-bit quadratic all-pairs form — the in-Spark
    exactness ground truth for :func:`simhash64_near_dup`."""
    return hamming_pairs_quadratic(
        simhash64_signatures(spark, sf_dir), SIMHASH_BANDED_HAMMING_MAX
    )


# --- DuckDB oracles for the xxhash64 family ----------------------------------
# DuckDB has no xxhash64, but Spark's xxhash64 is plain XXH64 with seed
# chaining — pure 64-bit integer arithmetic — so functions/xxh64_sql.py
# GENERATES it as inline HUGEINT SQL (layered nested projections; see that
# module's docstring for the lateral-alias-substitution trap). These
# mirrors make both xxhash64 operators fully hash-oracled: the oracle gate
# executes the generated SQL as one statement and compares value hashes.

def _minhash_fast_sql(
    cand_sql: str | None = None,
    pre_cte: str = "",
    docs_rel: str = "documents",
    final_sql: str | None = None,
) -> str:
    """DuckDB mirror of :func:`minhash_lsh_pairs_fast`: the per-shingle
    XXH64 byte fold runs ONCE at seed 42 (the base fingerprint, matching
    Spark's ``xxhash64(shingle)``), each permutation is a generated
    long-fold of that fingerprint under seed hashInt(s, 42) (matching
    ``xxhash64(s, bh)``), and the 2-long band-key chain, banding + exact
    jaccard verification are the same plan as the md5 oracle.
    ``cand_sql`` overrides the candidate CTE body (the incremental
    operator restricts candidates to pairs touching the arriving batch);
    ``pre_cte``/``docs_rel`` let a caller prepend CTEs and shingle a
    derived corpus instead of ``documents`` (the streaming-dedup facade
    augments the corpus with remapped arrivals); ``final_sql`` replaces
    the final SELECT over ``verified``."""
    from ..functions import xxh64_sql as X

    seeds = [X.xxh64_int_py(s, X.SPARK_SEED) for s in range(N_MINHASH)]
    fp = X.SqlFold("xp")
    prep = X.prep_cols(fp, "shingle")
    hbase = X.fold_bytes(fp, prep, str(X.SPARK_SEED))
    shw = fp.render(
        "SELECT doc_id, shingle FROM sh",
        keep=["doc_id", f"{hbase} AS bhu"],
    )
    fh = X.SqlFold("xf")
    h = X.fold_long(fh, "bhu", "seed")
    hsig = fh.sign(h)
    seed_list = ", ".join(f"{c}::HUGEINT" for c in seeds)
    hx = fh.render(
        f"SELECT * FROM shw, (SELECT unnest(range({N_MINHASH})) AS s, "
        f"unnest([{seed_list}]) AS seed)",
        keep=["doc_id", "s", f"{hsig} AS hsig"],
    )
    fb = X.SqlFold("xb")
    bh: str | int = X.SPARK_SEED
    for i in range(BAND_ROWS):
        bh = X.fold_long(fb, fb.unsign(f"m{i}"), bh)
    bk = fb.render(
        "SELECT * FROM mb", keep=["doc_id", "band_no", f"{bh} AS band_key"]
    )
    band_mins = ", ".join(
        f"min(CASE WHEN s % {BAND_ROWS} = {i} THEN mh END) AS m{i}"
        for i in range(BAND_ROWS)
    )
    if cand_sql is None:
        cand_sql = """
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id"""
    if final_sql is None:
        final_sql = "SELECT doc_a, doc_b FROM verified"
    shingles_sql = _SHINGLES_SQL.replace("FROM documents", f"FROM {docs_rel}")
    return f"""
WITH {pre_cte}shingles AS ({shingles_sql}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
shw AS MATERIALIZED ({shw}),
hx AS ({hx}),
mh AS (SELECT doc_id, s, min(hsig) AS mh FROM hx GROUP BY doc_id, s),
mb AS (
  SELECT doc_id, s // {BAND_ROWS} AS band_no, {band_mins}
  FROM mh GROUP BY 1, 2
),
bk AS ({bk}),
cand AS ({cand_sql}
),
{_VERIFY_SQL_TAIL.lstrip()}
{final_sql}
"""


def _simhash64_sql() -> str:
    """DuckDB mirror of :func:`simhash64_near_dup`: generated XXH64 token
    hashes (seed 42), 64 bit votes, unsigned signature folded to Spark's
    signed long, then the quadratic pair form — the oracle checks the
    RESULT, not the Manku join strategy (same contract as the 60-bit
    family, whose oracle is also the quadratic form)."""
    from ..functions import xxh64_sql as X

    ft = X.SqlFold("xt")
    prep = X.prep_cols(ft, "tok")
    h = X.fold_bytes(ft, prep, str(X.SPARK_SEED))
    th = ft.render(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok "
        "FROM documents",
        keep=["doc_id", f"{h} AS h"],
    )
    return f"""
WITH th AS MATERIALIZED ({th}),
bits AS (
  SELECT doc_id, b, sum(2 * ((h >> b) & 1)::BIGINT - 1) AS sv
  FROM th, (SELECT unnest(range({SIMHASH64_BITS})) AS b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN sv >= 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)
           AS hs
  FROM bits GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         (CASE WHEN hs >= {1 << 63} THEN hs - {1 << 64} ELSE hs END)::BIGINT
           AS simhash
  FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_BANDED_HAMMING_MAX}
"""


MINHASH_LSH_FAST_SQL = _minhash_fast_sql()
MINHASH_LSH_INCREMENTAL_SQL = _minhash_fast_sql(
    cand_sql=f"""
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM bk a JOIN bk b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id != b.doc_id
  WHERE a.doc_id % {INCREMENT_MOD} = 0"""
)
SIMHASH64_NEAR_DUP_SQL = _simhash64_sql()


MAX_SHINGLE_FREQ = 25  # FLOOR of the corpus-relative cap, see _shingle_cap


def _shingle_cap(n_docs: int) -> int:
    """Corpus-relative hot-shingle cap: max(25, ceil(N/20)) — all integer
    math so Spark and DuckDB agree exactly. An absolute cap of 25 would
    change the query's semantics with scale (at 100x corpus, every common
    phrase exceeds 25 docs and is dropped); a cap relative to corpus size
    keeps 'hot' meaning 'hot for this corpus'."""
    return max(MAX_SHINGLE_FREQ, (n_docs + 19) // 20)


# Below this threshold (in percent) the prefix filter stops paying for
# itself: the prefix keeps a (1 - t) fraction of every doc's shingles, so at
# t=0.12 it drops only ~12% of join rows while adding a collect_list shuffle,
# a distinct, and two array join-backs. Measured at sf0.1: direct 3.7 s vs
# prefix 4.7 s at t=0.12; the inequality flips near t≈0.5 where the prefix
# join shrinks superlinearly (candidate pairs scale with the square of the
# kept fraction).
PREFIX_FILTER_MIN_PCT = 50


def ngram_jaccard_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with hot-shingle removal — the production scale
    path: shingles occurring in more than _shingle_cap(N) docs are dropped
    BEFORE any join (they are stop-gram noise and the join-skew risk);
    pair Jaccard is computed over each doc's surviving shingle set.

    Threshold-adaptive plan: at high thresholds the candidate
    join runs over rare-first PREFIXES (SSJoin/All-Pairs prefix filtering)
    with exact array verification; at low thresholds (incl. the registered
    t=0.12) prefix filtering cannot drop enough rows to pay for its extra
    shuffles, so pairs are counted DIRECTLY from the kept-shingle
    self-join — one bounded join (per-key fan-out <= _shingle_cap) + a
    map-side-combinable count, the same shape as the oracle SQL. Both
    paths are lossless and compared against the oracle at sf0.001."""
    return _jaccard_near_dup(_docs(spark, sf_dir))


def _jaccard_near_dup(docs: DataFrame, t_pct: int = 12) -> DataFrame:
    """Exact Jaccard >= t_pct/100 over hot-capped 3-gram shingle sets.
    ceil(t*n) is computed as (t_pct*n + 99) div 100 — integer-exact in
    both engines."""
    cap = _shingle_cap(docs.count())
    sh = persist_intermediate(_shingles(docs))  # feeds freq AND kept
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # persisted: sizes + both self-join sides consume kept, and without
    # the cache each re-runs the freq groupBy shuffle
    kept = persist_intermediate(sh.join(freq.filter(F.col("df") <= cap), "shingle"))
    if t_pct >= PREFIX_FILTER_MIN_PCT:
        return _jaccard_prefix_verified(kept, t_pct)
    return _jaccard_direct(kept, t_pct)


def _jaccard_direct(kept: DataFrame, t_pct: int) -> DataFrame:
    """Self-join on shingle + count per pair. Candidate volume is
    sum_s df(s)^2 <= cap * |kept rows| (skew bounded by the hot cap); the
    per-doc size join is a plain equi-join — AQE broadcasts it at small N
    and shuffle-joins co-partitioned on doc id at cluster scale."""
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.select("doc_id", "shingle").alias("a")
    b = kept.select("doc_id", "shingle").alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(t_pct) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def _jaccard_prefix_verified(kept: DataFrame, t_pct: int) -> DataFrame:
    """PREFIX FILTERING (Chaudhuri/Ganti/Kaushik SSJoin, Bayardo et al.
    "Scaling Up All Pairs"): under a global rare-first total order (df
    asc, shingle asc), J(A,B) >= t implies the
    length-(|X| - ceil(t*|X|) + 1) prefixes of A and B intersect — so the
    candidate self-join runs only over per-doc prefixes, excluding
    precisely each doc's hottest shingles (the ones that generate the most
    pairs), and the exact Jaccard is then computed per candidate from the
    full kept sets via array_intersect (no third shuffle over shingle
    rows). Lossless by the prefix-filter theorem."""
    grouped = (
        kept.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("arr"))
        .select(
            "doc_id",
            F.expr("transform(arr, x -> x.shingle)").alias("shingles"),
            F.size("arr").alias("n"),
        )
    )
    # feeds the prefix explode and both candidate join-backs
    grouped = persist_intermediate(grouped)
    prefix = grouped.select(
        "doc_id",
        F.explode(
            F.expr(
                f"slice(shingles, 1, n - cast(({t_pct} * n + 99) div 100 as int) + 1)"
            )
        ).alias("shingle"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ga = grouped.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sa"),
        F.col("n").alias("na"),
    )
    gb = grouped.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sb"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(t_pct) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


NGRAM_JACCARD_FILTERED_SQL = f"""
WITH params AS (SELECT greatest({MAX_SHINGLE_FREQ}, (count(*) + 19) // 20) AS cap
                FROM documents),
shingles AS ({_SHINGLES_SQL}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
hot AS (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) > (SELECT cap FROM params)),
kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       round(i.inter / (na.n + nb.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE {JACCARD_T_DEN} * i.inter >= {JACCARD_T_NUM} * (na.n + nb.n - i.inter)
"""


MAX_CC_ITERS = 30


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): for every node u, connect each strictly-larger neighbor to
    the minimum of u's closed neighborhood. Preserves connectivity, never
    creates self-loops (m <= u < v)."""
    nbrs = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", "u").alias("m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge (big -> small); each big node and its
    smaller neighbors all attach to the minimum of the group."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    children = (
        d.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = m.select("u", F.col("m").alias("v"))
    return children.unionByName(centers).filter("u != v").distinct()


def _edge_fingerprint(e: DataFrame) -> tuple:
    """One cheap aggregate per round instead of a join-and-count: the edge
    set is fingerprinted by (count, xor of row hashes) — xor is
    order-independent and cannot overflow (sum-based fingerprints trip
    ANSI-mode long overflow). A (vanishingly unlikely) collision is caught
    by the exact set comparison the caller runs on fingerprint match."""
    row = e.agg(
        F.count("*").alias("c"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).collect()[0]
    return (row["c"], row["h"])


def _cc_hash_min(docs: DataFrame, pairs: DataFrame, max_iters: int) -> DataFrame:
    """Hash-Min label propagation — O(diameter) rounds. Kept as the
    documented FALLBACK for :func:`near_dup_clusters` if star contraction
    ever exceeds its round budget (it cannot on bounded-diameter duplicate
    graphs, but the budget must fail safe, not fail the job)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    edges = persist_intermediate(edges)
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    labels = labels.localCheckpoint()
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"CC did not converge in {max_iters} rounds")
    return labels.select("doc_id", "cluster_id")


def cc_star_labels(edges: DataFrame, max_rounds: int) -> DataFrame | None:
    """Alternating small-star/large-star contraction (Kiveris et al.):
    O(log n) rounds to collapse every component into a star rooted at its
    minimum node — same min-reachable-id fixpoint as Hash-Min, so the
    recursive-CTE oracle is unchanged, but a 10^12-doc graph needs ~40
    rounds instead of O(diameter). Convergence is detected by an edge-set
    fingerprint (one aggregate per round, no extra join), confirmed with
    one exact set comparison at the first fingerprint match.

    Returns (doc_id, cluster_id) for every node that appears in ``edges``
    (callers attach singletons), or None if ``max_rounds`` was exhausted.
    """
    e = edges.localCheckpoint()
    fp = _edge_fingerprint(e)
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        fp2 = _edge_fingerprint(e2)
        if fp2 == fp:
            # fingerprints are probabilistic — confirm exactly, once
            if e2.exceptAll(e).count() == 0 and e.exceptAll(e2).count() == 0:
                # fixpoint: every edge is (node, component-min)
                return e2.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
                    F.col("u").alias("doc_id"), "cluster_id"
                )
        e, fp = e2, fp2
    return None


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate-pair graph, each document labeled with the smallest doc_id
    reachable from it (the canonical "keeper" of its duplicate cluster —
    the dedup decision a training-data pipeline actually applies).

    Spark implementation: alternating small-star/large-star contraction —
    O(log n) rounds (chain-graph regression test:
    tests/test_dedup_banded.py), where Hash-Min takes O(diameter) rounds
    with a driver count per round. Same fixpoint (min reachable doc_id)
    as the oracle, a DuckDB recursive CTE computing min-reachable-id
    directly. If the round
    budget is ever exhausted (a pathology no duplicate graph exhibits),
    the operator falls back to Hash-Min rather than failing the job.
    """
    import math

    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter("u != v")
        .distinct()
    )
    n_docs = docs.count()
    budget = 4 * math.ceil(math.log2(max(n_docs, 2))) + 8
    labels = cc_star_labels(edges, budget)
    if labels is None:  # documented fallback, not a job failure
        return _cc_hash_min(docs, pairs, MAX_CC_ITERS)
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
mh AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{s}' || '|' || shingle)) AS mh{s}" for s in range(N_MINHASH))}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([
    {", ".join("'b%d:' || " % b + " || '|' || ".join(_band_cols(b)) for b in range(N_BANDS))}
  ]) AS band FROM mh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
{_VERIFY_SQL_TAIL.lstrip()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM verified
  UNION ALL SELECT doc_b, doc_a FROM verified
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM reach JOIN edges e ON e.d = reach.doc_id
)
SELECT doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY doc_id
"""
