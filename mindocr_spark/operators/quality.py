"""Text-analysis operators over ``documents``: quality scoring, token
counting, language-ID heuristic, document fingerprinting.

All expressible with built-in string/array functions — JVM-side, whole-stage
codegen, no Python in the hot path. Floats rounded to 4dp so the DuckDB
oracles hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import spread

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")
_SW_LIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / mean-token-length / stopword-ratio quality score per doc.

    All-integer arithmetic (floor division) so Spark and the DuckDB oracle
    are exact — float rounding at decimal boundaries is engine-dependent.
    Score in milli-units, 0..1000: 0.5*length + 0.3*token-shape +
    0.2*(1 - stopword density).
    """
    d = _docs(spark, sf_dir).withColumn("toks", F.split("text", " "))
    d = d.withColumn("n_tokens", F.size("toks").cast("long"))
    d = d.withColumn(
        "n_stop",
        F.expr(
            "cast(size(filter(toks, t -> t in (%s))) as bigint)" % _SW_LIST_SQL
        ),
    )
    # total token chars = chars minus separating spaces (exact integer)
    d = d.withColumn(
        "sum_tok_len", (F.length("text") - (F.col("n_tokens") - 1)).cast("long")
    )
    d = d.withColumn(
        "mean_tok_len_centi",
        F.expr("cast((sum_tok_len * 100) div n_tokens as bigint)"),
    )
    d = d.withColumn(
        "stop_ratio_bp", F.expr("cast((n_stop * 10000) div n_tokens as bigint)")
    )
    d = d.withColumn(
        "quality_milli",
        F.expr(
            "cast(least(n_tokens, 100) * 5 "
            "+ least((sum_tok_len * 75) div (n_tokens * 2), 300) "
            "+ 200 - least((n_stop * 400) div n_tokens, 200) as bigint)"
        ),
    )
    return d.select(
        "doc_id", "n_tokens", "mean_tok_len_centi", "stop_ratio_bp", "quality_milli"
    )


QUALITY_SQL = f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_tokens,
         len(list_filter(toks, t -> t IN ({_SW_LIST_SQL})))::BIGINT AS n_stop,
         (length(text) - (len(toks) - 1))::BIGINT AS sum_tok_len
  FROM d
)
SELECT doc_id, n_tokens,
       ((sum_tok_len * 100) // n_tokens)::BIGINT AS mean_tok_len_centi,
       ((n_stop * 10000) // n_tokens)::BIGINT AS stop_ratio_bp,
       (least(n_tokens, 100) * 5
        + least((sum_tok_len * 75) // (n_tokens * 2), 300)
        + 200 - least((n_stop * 400) // n_tokens, 200))::BIGINT AS quality_milli
FROM m
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + chars per doc."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.expr("cast(regexp_count(text, '[a-z]+|[0-9]+') as bigint)").alias(
            "bpe_tokens"
        ),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       len(string_split(text,' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS bpe_tokens,
       length(text)::BIGINT AS n_chars_actual
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-gram-flavored language heuristic (vowel ratio +
    mean token length buckets). Synthetic corpus vocab is shared across
    labels, so this checks the operator, not classifier accuracy."""
    d = _docs(spark, sf_dir)
    d = d.withColumn(
        "vowel_ratio",
        F.round(
            F.expr(
                "cast(length(regexp_replace(text, '[^aeiou]', '')) as double)"
                " / greatest(length(regexp_replace(text, ' ', '')), 1)"
            ),
            4,
        ),
    )
    d = d.withColumn(
        "pred_lang",
        F.expr(
            "case when vowel_ratio >= 0.5 then 'vowelic' "
            "when vowel_ratio >= 0.35 then 'balanced' else 'consonantic' end"
        ),
    )
    return d.select("doc_id", "vowel_ratio", "pred_lang", "lang")


LANG_ID_SQL = """
WITH v AS (
  SELECT doc_id, lang,
         round(length(regexp_replace(text, '[^aeiou]', '', 'g'))::DOUBLE
               / greatest(length(regexp_replace(text, ' ', '', 'g')), 1), 4) AS vowel_ratio
  FROM documents
)
SELECT doc_id, vowel_ratio,
       CASE WHEN vowel_ratio >= 0.5 THEN 'vowelic'
            WHEN vowel_ratio >= 0.35 THEN 'balanced'
            ELSE 'consonantic' END AS pred_lang,
       lang
FROM v
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over word-5-gram shingles."""
    # tokenize once into a projected column: split(text) inside the
    # lambda would re-split per gram index, O(tokens^2) string work per doc
    grams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 4, 1)), "
        "i -> md5(array_join(slice(toks, i, 5), ' ')))"
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.array_min(grams).alias("fingerprint"))
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       list_min([md5(array_to_string(string_split(text,' ')[i:i+4], ' '))
                 for i in range(1, greatest(len(string_split(text,' ')) - 4, 1) + 1)]) AS fingerprint
FROM documents
"""


def top_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinctive terms — the TF-IDF operator with an
    integer-exact ranking: order by (term frequency DESC, document frequency
    ASC, term ASC). A float idf (ln ratio) would rank identically on ties-
    free data but is NOT bit-stable across engines (libm ln differs), so the
    rank key stays integer (CLAUDE.md engine-exactness rule).

    Plan shape: explode -> (doc, term) count -> term df via a second
    aggregation on the SAME grouped output (no re-scan) -> window top-k.
    At 100 TB both aggregations are map-side combinable; the window
    partitions by doc_id (the natural key, no skew beyond doc length)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


STRATUM_SAMPLE_K = 5


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per ``lang`` stratum, the K
    documents with the smallest md5(doc_id) — a reproducible uniform draw
    (hash order is independent of document content/position) that needs no
    RNG state. At 100 TB: one window per stratum; for heavy strata switch
    the window to a TABLESAMPLE-style hash-range predicate
    (md5 < threshold), which is a pure filter — no shuffle at all."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy(F.col("h").asc())
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= STRATUM_SAMPLE_K)
        .select("doc_id", "lang", "rank")
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, md5(doc_id::VARCHAR) AS h FROM documents
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY h ASC) AS rank
  FROM h
)
SELECT doc_id, lang, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {STRATUM_SAMPLE_K}
"""


TRAINING_MIN_QUALITY = 500
TRAINING_LANGS = ("de", "en", "es", "fr")


def training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone data-prep pipeline query: the kept training corpus =
    documents that are (1) the canonical keeper of their near-dup cluster
    (``near_dup_clusters``: cluster_id == doc_id), (2) above the quality
    floor, and (3) in an allowed language — the three filters an LLM-data
    pipeline composes before tokenization.

    Plan shape at 100 TB: clusters come from the banded-LSH CC (bounded
    per-bucket work), quality is pure Catalyst; the final selection is two
    equi-joins on doc_id — co-partitioned if the corpus is bucketed by
    doc_id, so the compose adds no extra full shuffle."""
    from .dedup import near_dup_clusters

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    keepers = (
        near_dup_clusters(spark, sf_dir)
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
    )
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_milli")
    return (
        docs.join(keepers, "doc_id")
        .join(q, "doc_id")
        .filter(
            (F.col("quality_milli") >= TRAINING_MIN_QUALITY)
            & F.col("lang").isin(*TRAINING_LANGS)
        )
        .select("doc_id", "lang", "quality_milli")
    )


def _training_corpus_sql() -> str:
    from .dedup import N_BANDS, N_MINHASH, _SHINGLES_SQL, _VERIFY_SQL_TAIL

    mh_cols = ", ".join(
        f"min(md5('{s}' || '|' || shingle)) AS mh{s}" for s in range(N_MINHASH)
    )
    band_cols = ", ".join(
        f"'b{b}:' || mh{2*b} || '|' || mh{2*b+1}" for b in range(N_BANDS)
    )
    langs = ", ".join(f"'{g}'" for g in TRAINING_LANGS)
    return f"""
WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
mh AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, unnest([{band_cols}]) AS band FROM mh),
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
),
clusters AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
m AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         len(list_filter(toks, t -> t IN ({_SW_LIST_SQL})))::BIGINT AS n_stop,
         (length(text) - (len(toks) - 1))::BIGINT AS sum_tok_len
  FROM d
),
q AS (
  SELECT doc_id,
         (least(n_tokens, 100) * 5
          + least((sum_tok_len * 75) // (n_tokens * 2), 300)
          + 200 - least((n_stop * 400) // n_tokens, 200))::BIGINT AS quality_milli
  FROM m
)
SELECT doc.doc_id, doc.lang, q.quality_milli
FROM documents doc
JOIN clusters c ON c.doc_id = doc.doc_id AND c.cluster_id = doc.doc_id
JOIN q ON q.doc_id = doc.doc_id
WHERE q.quality_milli >= {TRAINING_MIN_QUALITY} AND doc.lang IN ({langs})
"""


TRAINING_CORPUS_SQL = _training_corpus_sql()


# --- Gopher-style repetition signals -----------------------------------------
# The repetition family from the Gopher data pipeline (Rae et al. 2021,
# arXiv:2112.11446, Appendix A1.1): documents dominated by repeated
# n-grams are low-quality for LM training. Per document and n in {2,3,4}:
#   dup{n}_bp = 10000 * (total n-grams - distinct n-grams) / total
#   top{n}_bp = 10000 * (count of the most frequent n-gram) / total
# Integer basis points (floor division) so Spark and DuckDB agree exactly.
# Gopher measures character-fractions with thresholds like top-2-gram
# <= 0.20; this synthetic corpus is far less repetitive (measured sf0.01
# medians: dup2 2.8%, top2 3.3%), so GOPHER_KEEP_BP below are calibrated
# to the corpus scale — the operator contract (score definitions,
# composition shape) is the Gopher recipe, the constants are data-scale
# choices a real pipeline tunes the same way.

GOPHER_NGRAMS = (2, 3, 4)
GOPHER_KEEP_BP = {  # keep docs with score <= threshold
    "dup2_bp": 800, "top2_bp": 900,
    "dup3_bp": 400, "top3_bp": 700,
    "dup4_bp": 300, "top4_bp": 700,
}


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gopher_repetition(_docs(spark, sf_dir))


def _gopher_repetition(docs: DataFrame) -> DataFrame:
    """Per-doc duplicate/top n-gram fractions in basis points.

    Plan shape: ONE explode emits (doc_id, n, gram) for all three n (a
    flattened array of structs — no self-union, the corpus is scanned
    once), then two map-side-combinable aggregations; the final pivot is
    conditional aggregation, not a shuffle. Documents shorter than n
    tokens contribute their single truncated gram (same `greatest(...,1)`
    convention as the dedup shingles), so total >= 1 and the floor-div
    never sees zero."""
    grams_expr = "flatten(array(" + ", ".join(
        f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
        f"i -> struct({n} as n, concat_ws(' ', slice(toks, i, {n})) as gram))"
        for n in GOPHER_NGRAMS
    ) + "))"
    # partition by doc_id BEFORE the gram explode: HashPartitioning on a
    # subset of every downstream grouping key ((doc,n,gram), (doc,n),
    # (doc)) satisfies their ClusteredDistributions, so all three
    # aggregations run exchange-free — one shuffle of the compact docs
    # table replaces two shuffles of the ~3x-exploded gram table (the
    # trade a 100 TB corpus wants; checked by tests/test_plan_quality.py::
    # test_gopher_repetition_single_preexplode_exchange).
    g = (
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(F.expr(grams_expr)).alias("g"))
        .select("doc_id", "g.n", "g.gram")
    )
    per_n = (
        g.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "n")
        .agg(
            F.sum("c").alias("total"),
            F.count("*").alias("distinct_g"),
            F.max("c").alias("maxc"),
        )
        .select(
            "doc_id",
            "n",
            F.expr("(10000 * (total - distinct_g)) div total").alias("dup_bp"),
            F.expr("(10000 * maxc) div total").alias("top_bp"),
        )
    )
    aggs = []
    for n in GOPHER_NGRAMS:
        aggs.append(
            F.max(F.when(F.col("n") == n, F.col("dup_bp"))).alias(f"dup{n}_bp")
        )
        aggs.append(
            F.max(F.when(F.col("n") == n, F.col("top_bp"))).alias(f"top{n}_bp")
        )
    return per_n.groupBy("doc_id").agg(*aggs)


def _gopher_grams_sql() -> str:
    per_n = []
    for n in GOPHER_NGRAMS:
        per_n.append(f"""
  SELECT doc_id, {n} AS n, unnest([
    array_to_string(string_split(text, ' ')[i:i+{n - 1}], ' ')
    for i in range(1, greatest(len(string_split(text, ' ')) - {n - 1}, 1) + 1)
  ]) AS gram FROM documents""")
    return " UNION ALL ".join(per_n)


def _gopher_rep_sql_core() -> str:
    pivots = ", ".join(
        f"max(CASE WHEN n = {n} THEN dup_bp END)::BIGINT AS dup{n}_bp, "
        f"max(CASE WHEN n = {n} THEN top_bp END)::BIGINT AS top{n}_bp"
        for n in GOPHER_NGRAMS
    )
    return f"""
grams AS ({_gopher_grams_sql()}),
cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
per_n AS (
  SELECT doc_id, n,
         (10000 * (sum(c) - count(*))) // sum(c) AS dup_bp,
         (10000 * max(c)) // sum(c) AS top_bp
  FROM cnt GROUP BY doc_id, n
),
rep AS (SELECT doc_id, {pivots} FROM per_n GROUP BY doc_id)"""


GOPHER_REPETITION_SQL = f"""
WITH {_gopher_rep_sql_core().lstrip()}
SELECT * FROM rep
"""


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving every repetition threshold (the Gopher
    composition: a doc is dropped on its FIRST failing signal). One
    equi-join on doc_id against the scores — co-partitioned under
    doc_id bucketing, same shape as training_corpus_filter."""
    rep = gopher_repetition(spark, sf_dir)
    cond = None
    for col, bp in GOPHER_KEEP_BP.items():
        c = F.col(col) <= bp
        cond = c if cond is None else (cond & c)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return docs.join(rep.filter(cond), "doc_id").select(
        "doc_id", "lang", *GOPHER_KEEP_BP.keys()
    )


def _gopher_filter_sql() -> str:
    conds = " AND ".join(
        f"rep.{col} <= {bp}" for col, bp in GOPHER_KEEP_BP.items()
    )
    cols = ", ".join(f"rep.{c}" for c in GOPHER_KEEP_BP)
    return f"""
WITH {_gopher_rep_sql_core().lstrip()}
SELECT d.doc_id, d.lang, {cols}
FROM documents d JOIN rep ON rep.doc_id = d.doc_id
WHERE {conds}
"""


GOPHER_FILTER_SQL = _gopher_filter_sql()


# --- Benchmark decontamination -----------------------------------------------
# The eval-set n-gram overlap check every serious LM data pipeline runs
# before training (e.g. GPT-3 appendix C / PaLM / Llama decontamination):
# a training document is contaminated if it shares any long n-gram with a
# benchmark document. The benchmark side here is the deterministic holdout
# doc_id % DECON_EVAL_MOD == 0 (standing in for an external eval suite —
# the driver contract is a single documents table). Real pipelines use
# 8-13-gram windows (GPT-3 used 13); this corpus draws from a ~30-word
# vocabulary, so per-gram specificity is far lower than natural text and
# the width is calibrated down to 4 to keep a non-trivial flagged set
# (8 docs at sf0.01; 6-grams and up never collide across docs here). The
# operator shape — small-side broadcast probe + per-doc fraction — is
# what the gate certifies; the width is a config knob.

DECON_NGRAM = 4
DECON_EVAL_MOD = 97  # doc_id % 97 == 0 plays the benchmark/eval suite


def _decon_grams(docs: DataFrame) -> DataFrame:
    grams = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {DECON_NGRAM - 1}, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {DECON_NGRAM})))"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )


def decontamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents sharing >= 1 {DECON_NGRAM}-gram with the eval
    holdout: (doc_id, n_hits, n_grams, hit_frac_bp), flagged rows only.

    Plan shape at 100 TB: the eval suite is small by nature (benchmarks),
    so its distinct gram set BROADCASTS and the training-side probe is a
    map-side hash join — one scan of the corpus, no shuffle of the
    training grams except the final per-doc count (clustered under the
    doc_id partitioning, exchange-free after the compact-table
    repartition)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    train = spread(docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0), "doc_id")
    eval_grams = (
        _decon_grams(docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0))
        .select("gram")
        .distinct()
    )
    # a left-probe of the broadcast eval set + one conditional aggregate
    # computes sizes and hits in a single pass over the train-gram explode
    # (eval_grams is distinct, so a gram matches at most once and
    # count(hit) is the inner-join count); the n_hits >= 1 filter drops
    # unflagged docs as an inner join would.
    tg = _decon_grams(train)
    per_doc = (
        tg.join(
            F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
        )
    )
    return per_doc.filter(F.col("n_hits") >= 1).select(
        "doc_id",
        "n_hits",
        "n_grams",
        F.expr("(10000 * n_hits) div n_grams").alias("hit_frac_bp"),
    )


DECONTAMINATION_SQL = f"""
WITH dg AS (
  SELECT DISTINCT doc_id, unnest([
    array_to_string(string_split(text, ' ')[i:i+{DECON_NGRAM - 1}], ' ')
    for i in range(1, greatest(len(string_split(text, ' ')) - {DECON_NGRAM - 1}, 1) + 1)
  ]) AS gram FROM documents
),
eg AS (
  SELECT DISTINCT gram FROM dg WHERE doc_id % {DECON_EVAL_MOD} = 0
),
tg AS (SELECT doc_id, gram FROM dg WHERE doc_id % {DECON_EVAL_MOD} != 0),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM tg GROUP BY doc_id),
hits AS (
  SELECT tg.doc_id, count(*)::BIGINT AS n_hits
  FROM tg JOIN eg ON tg.gram = eg.gram
  GROUP BY tg.doc_id
)
SELECT h.doc_id, h.n_hits, s.n_grams,
       ((10000 * h.n_hits) // s.n_grams)::BIGINT AS hit_frac_bp
FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
"""


# --- Cross-document duplicated-span coverage ---------------------------------
# The exact-substring dedup signal (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": docs dominated by spans
# that also appear verbatim in OTHER documents are memorization risks).
# The suffix-array construction of the paper is replaced by the
# distributed equivalent over fixed-width token windows: a span is
# "duplicated" when its SPAN_NGRAM-gram occurs in >= 2 documents; a doc's
# coverage is the fraction of its token positions lying under at least
# one duplicated gram. Complements the Gopher signals (those are
# WITHIN-doc repetition; this is cross-doc).

SPAN_NGRAM = 5  # distinctive at this corpus's vocab (71/500 docs flagged)


def duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, covered, coverage_bp) for docs with >= 1
    cross-document duplicated span.

    Plan shape at 100 TB: one compact-table repartition by doc_id, the
    (gram -> doc-count) aggregation is the only big shuffle (map-side
    combinable after the per-doc distinct), the join-back is a plain
    equi-join on gram, and the covered-position explode blows up ONLY the
    duplicated rows (bounded by dup density x SPAN_NGRAM). Coverage is a
    distinct-count of token positions, so overlapping spans never double
    count."""
    d = spread(
        _docs(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n_tokens", F.size("toks").cast("long")),
        "doc_id",
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {SPAN_NGRAM - 1}, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {SPAN_NGRAM})))"
    )
    g = d.select(
        "doc_id", "n_tokens", F.posexplode(grams).alias("pos0", "gram")
    )
    dup = (
        g.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") > 1)
        .select("gram")
    )
    cov = g.join(dup, "gram").select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.expr(f"sequence(pos0 + 1, least(pos0 + {SPAN_NGRAM}, n_tokens))")
        ).alias("tokpos"),
    )
    return (
        cov.groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.countDistinct("tokpos").cast("long").alias("covered"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "covered",
            F.expr("(10000 * covered) div n_tokens").alias("coverage_bp"),
        )
    )


DUPLICATE_SPAN_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
g AS (
  SELECT doc_id, n_tokens,
         unnest(range(1, greatest(len(toks) - {SPAN_NGRAM - 1}, 1) + 1)) AS pos,
         unnest([
           array_to_string(toks[i:i+{SPAN_NGRAM - 1}], ' ')
           for i in range(1, greatest(len(toks) - {SPAN_NGRAM - 1}, 1) + 1)
         ]) AS gram
  FROM d
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY gram
  ) WHERE ndocs > 1
),
cov AS (
  SELECT g.doc_id, g.n_tokens, unnest(range(g.pos, least(g.pos + {SPAN_NGRAM - 1}, g.n_tokens) + 1)) AS tokpos
  FROM g JOIN dup USING (gram)
)
SELECT doc_id, max(n_tokens)::BIGINT AS n_tokens,
       count(DISTINCT tokpos)::BIGINT AS covered,
       ((10000 * count(DISTINCT tokpos)) // max(n_tokens))::BIGINT AS coverage_bp
FROM cov GROUP BY doc_id
"""


# --- Model-based quality filtering -------------------------------------------
# The DCLM/FineWeb-Edu pipeline stage the rule-based filters above don't
# cover: a LEARNED classifier scoring each document. The model here is a
# fastText-style hashed linear scorer — tokenize, hash each token into a
# weight table, average — which is exactly the serving plumbing a real
# classifier needs (the hashing-trick feature map IS fastText's). The
# weights are a deterministic function of the token hash (a seeded stand-in
# for a trained artifact: the PLUMBING is real and hash-oracled; swap
# `pmod(xxhash64(tok), 2001) - 1000` for a broadcast weight-table join when
# a trained model exists). All arithmetic is integer (weights in [-1000, 1000], fixed-point
# milli threshold), so the oracle is float-free; the DuckDB mirror
# recomputes Spark's xxhash64 via the generated inline XXH64 SQL.

MODEL_WEIGHT_MOD = 2001  # weights = pmod(hash, 2001) - 1000 ∈ [-1000, 1000]
MODEL_KEEP_MILLI = 10  # keep iff mean token weight >= 10/1000


def model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc hashed-linear classifier score + keep flag.

    Plan shape at 100 TB: one compact-table repartition by doc_id before
    the token explode (the gopher pattern — the groupBy then runs
    exchange-free), a single map-side-combinable aggregate, zero joins.
    The threshold compare is integer cross-multiplication: no float mean,
    no negative floor-division (Spark `div` truncates toward zero while
    DuckDB `//` floors — signed sums never enter a division)."""
    docs = _docs(spark, sf_dir)
    toks = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    w = F.expr(f"pmod(xxhash64(tok), {MODEL_WEIGHT_MOD}) - {MODEL_WEIGHT_MOD // 2}")
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum(w).cast("long").alias("score_fp"),
        )
        .select(
            "doc_id",
            "n_toks",
            "score_fp",
            (
                F.lit(1000) * F.col("score_fp")
                >= F.lit(MODEL_KEEP_MILLI) * F.col("n_toks")
            )
            .cast("int")
            .alias("keep"),
        )
    )


def _model_quality_sql() -> str:
    from ..functions import xxh64_sql as X

    fold = X.SqlFold("mq")
    prep = X.prep_cols(fold, "tok", max_words=1)
    h = X.fold_bytes(fold, prep, str(X.SPARK_SEED))
    hsig = fold.sign(h)
    scored = fold.render(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents",
        keep=[
            "doc_id",
            f"((({hsig} % {MODEL_WEIGHT_MOD}) + {MODEL_WEIGHT_MOD})"
            f" % {MODEL_WEIGHT_MOD} - {MODEL_WEIGHT_MOD // 2} ) AS w",
        ],
    )
    return f"""
WITH scored AS ({scored}),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_toks, sum(w)::BIGINT AS score_fp
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_toks, score_fp,
       (CASE WHEN 1000 * score_fp >= {MODEL_KEEP_MILLI} * n_toks
             THEN 1 ELSE 0 END)::INT AS keep
FROM agg
"""


MODEL_QUALITY_SQL = _model_quality_sql()


# --- BPE merge-candidate statistics ------------------------------------------
# The inner statistic of BPE tokenizer training (Sennrich et al. 2016):
# corpus-weighted adjacent-symbol-pair counts. A full BPE train is this
# count -> merge -> recount loop (driver-coordinated like the CC rounds);
# the per-iteration heavy lifting is exactly this aggregation, so it is
# the operator a 100 TB tokenizer-induction job runs repeatedly.

BPE_TOP_K = 50


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K character-pair merge candidates over the corpus.

    Counts every adjacent character pair inside every word occurrence
    (pairs weighted by word frequency — the dedup-then-weight trick that
    makes BPE training corpus-size-independent per distinct word).
    Plan: word explode -> distinct-word count (map-side combinable) ->
    bounded pair explode over DISTINCT words only -> weighted sum ->
    top-K. The distinct-word table is tiny relative to the corpus (Heaps
    law), so the pair explode never touches corpus-scale rows.
    """
    docs = _docs(spark, sf_dir)
    words = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(w) - 1, 1)), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    ).filter(F.length("pair") == 2)
    from pyspark.sql.window import Window

    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("pair").asc())
            ),
        )
        .filter(F.col("rank") <= BPE_TOP_K)
        .select("pair", "n", F.col("rank").cast("int").alias("rank"))
    )
    return ranked


BPE_MERGE_SQL = f"""
WITH words AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
pairs AS (
  SELECT wc, p AS pair
  FROM words,
       unnest([w[i:i+1] for i in range(1, greatest(strlen(w) - 1, 1) + 1)]) AS u(p)
  WHERE strlen(p) = 2
)
SELECT pair, n, rank::INT AS rank
FROM (SELECT pair, sum(wc)::BIGINT AS n,
             row_number() OVER (ORDER BY sum(wc) DESC, pair ASC) AS rank
      FROM pairs GROUP BY pair)
WHERE rank <= {BPE_TOP_K}
"""


def bpe_train_merges(spark: SparkSession, sf_dir: str, n_merges: int = 12) -> DataFrame:
    """Iterative BPE training (Sennrich et al. 2016): ``n_merges`` rounds
    of count-best-pair -> greedy-merge over the distinct-word table.

    Each round is one :func:`bpe_merge_candidates`-shaped aggregation
    plus a 1-row argmax collect (the near_dup_clusters CC-round pattern),
    then the merge is applied corpus-wide as a PURE CATALYST fold:
    ``aggregate(syms, ..., (acc, x) -> if last(acc)=p1 and x=p2 then
    replace-last-with-merged else append)`` — exactly greedy
    left-to-right BPE ("a a a" + (a,a) -> ["aa", "a"]), no Python in the
    loop body.  The distinct-word table is persisted and re-folded each
    round; at 100 TB it is Heaps-law small relative to the corpus and
    the per-round shuffle is one map-side-combinable pair count.

    Registered rows-only: the merge SEQUENCE is data-dependent, so no
    static SQL can mirror it (unlike the CC fixpoint's recursive CTE);
    the exactness oracle is the pure-Python reference BPE in
    tests/test_pretrain.py, asserted merge-for-merge and count-for-count.

    Returns one row per merge: (step, left, right, merged, n).
    """
    from ..config import persist_intermediate

    docs = _docs(spark, sf_dir)
    words = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .select(F.expr("split(w, '')").alias("syms"), "wc")
    )
    words = persist_intermediate(words)
    out = []
    for step in range(n_merges):
        pairs = words.select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(syms) - 1, 1)), "
                    "i -> struct(try_element_at(syms, i) as l, try_element_at(syms, i + 1) as r))"
                )
            ).alias("p"),
        ).filter(F.col("p.r").isNotNull())
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        out.append((step, l, r, l + r, n))
        lq = l.replace("'", "\\'")
        rq = r.replace("'", "\\'")
        merged = (
            words.select(
                F.expr(
                    f"aggregate(syms, cast(array() as array<string>), (acc, x) -> "
                    f"if(size(acc) > 0 and element_at(acc, -1) = '{lq}' and x = '{rq}', "
                    f"concat(slice(acc, 1, size(acc) - 1), array('{lq}{rq}')), "
                    f"concat(acc, array(x))))"
                ).alias("syms"),
                "wc",
            )
        )
        new_words = persist_intermediate(merged)
        new_words.count()  # materialize before unpersisting the parent
        words.unpersist()
        words = new_words
    words.unpersist()
    return spark.createDataFrame(
        out, "step int, left string, right string, merged string, n long"
    )


def bpe_encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode a distinct-word table ``(w, wc)`` under an ordered merge
    list: one arrow-batched ``mapInPandas`` pass with the collected
    merges riding the task closure (a nested Catalyst ``aggregate()``
    fold, one level per merge, grows expression depth with n_merges and
    blows analysis/codegen far below a real 32k-merge vocabulary; a
    32k-merge table is ~1 MB of closure, constant plan depth).

    Semantics are EXACTLY the trainer's: each merge folds once, greedy
    left-to-right, in rank order.  Sequential-by-rank equals min-rank-
    priority encoding here because a rank-k merge can never create a
    pair of rank < k (both components of merge j are products of merges
    < j, and merging only introduces the new symbol, never a fresh
    adjacency of two pre-existing ones) — so applying ranks in order
    leaves no lower-rank pair behind.  The ``merged in w`` guard is the
    practical cost bound: symbols are contiguous substrings of the word,
    so a merge can only fire if its joined text occurs in the raw word —
    a C-level substring test skips ~all of a large vocab per word,
    making the pass ~O(n_merges) cheap checks + rare folds per word.
    Python-side cost is irrelevant regardless: the input is the
    Heaps-law-small distinct-word table, not the corpus."""
    triples = [(l, r, l + r) for l, r in merges]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            toks = []
            for w in pdf["w"]:
                syms = list(w)
                for l, r, m in triples:
                    if m not in w:
                        continue
                    acc = []
                    for x in syms:
                        if acc and acc[-1] == l and x == r:
                            acc[-1] = m
                        else:
                            acc.append(x)
                    syms = acc
                toks.append(len(syms))
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "wc": pdf["wc"],
                    "n_chars": pdf["w"].str.len().astype("int32"),
                    "n_bpe_tokens": pd.Series(toks, dtype="int32"),
                }
            )

    return spread(words, "w").mapInPandas(
        encode, "w string, wc long, n_chars int, n_bpe_tokens int"
    )


def bpe_apply(spark: SparkSession, sf_dir: str, n_merges: int = 12) -> DataFrame:
    """Encode the corpus with the merges :func:`bpe_train_merges` learned:
    per distinct word, the symbol count before/after applying the merge
    sequence — the token-count table a packing stage would consume under
    the learned vocabulary.

    The merges are collected once (<= n_merges rows) and broadcast into
    :func:`bpe_encode_words`' single vectorized pass over the
    Heaps-law-small distinct-word table — segmentation equals the
    trainer's final word table verbatim (pytest-pinned against the
    pure-Python reference, incl. a 200-merge depth-independence run).
    Rows-only (the merge sequence is data-dependent, like the trainer)."""
    merges = [
        (r["left"], r["right"])
        for r in bpe_train_merges(spark, sf_dir, n_merges).orderBy("step").collect()
    ]
    docs = _docs(spark, sf_dir)
    words = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
    )
    return bpe_encode_words(words, merges)
