"""Large-scale training-data pipeline operators (SURVEY §7.3 phase 7).

Beyond the reference's surface: the operations a 100 TB LLM-data pipeline
needs, each expressed as a Catalyst plan with an exact DuckDB oracle where the
semantics are deterministic:

- deduplication: exact (content hash), MinHash+LSH (shingle -> minhash ->
  band -> bucket pairs, with a hot-bucket cap), SimHash (bitwise majority
  sketch), n-gram Jaccard verification with size-ratio pruning, the
  composed LSH-then-verify pipeline, one-hop canonical assignment, and
  full connected-components grouping (iterative min-label propagation).
- similarity search: brute-force cosine top-k (baseline) and LSH-bucketed
  variants (the scale path: candidate set bounded per bucket).
- decontamination: exact fingerprint and shared-8-gram checks against a
  broadcast benchmark set.
- text analysis & quality: token stats, quality scoring, language-ID,
  fingerprinting, repetition ratio, PII redaction.
- corpus mechanics: deterministic hash splits, md5-ordered balanced
  subsampling, fixed-size chunking, running-total sequence packing.

Determinism strategy: every hash is md5 (identical hex in Spark and DuckDB);
every similarity is computed element-wise with an explicit left-to-right
double fold (bit-identical IEEE sequence in both engines); all counters are
integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import t, t_parallel
from .registry import register

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# stand-in benchmark set for decontamination: the low-id documents (a real
# pipeline would load the eval suites here); what matters is the plan shape
_BENCH_FILTER = "doc_id < 20"


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(string_split(text, ' ')) AS n_tokens,
           LENGTH(REPLACE(text, ' ', '')) AS n_nonspace,
           LEN(regexp_extract_all(text, '[0-9]+')) AS n_numbers
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics — all JVM-side string ops."""
    return stats_of(t(spark, sf_dir, "documents"))


def stats_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``text_stats`` (stateless map; streams as-is)."""
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.split("text", " ", -1)).alias("n_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_nonspace"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias("n_numbers"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS mean_token_span,
           CASE WHEN n_tokens >= 5 AND CAST(n_stop AS DOUBLE) / n_tokens > 0.05
                THEN 1 ELSE 0 END AS quality_pass
    FROM (
      SELECT doc_id, LENGTH(text) AS n_chars,
             LEN(string_split(lower(text), ' ')) AS n_tokens,
             LEN(list_filter(string_split(lower(text), ' '),
                             w -> w IN ({_SW_SQL}))) AS n_stop
      FROM documents) s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-density heuristics (the standard
    pretraining-corpus filters), pure column expressions."""
    return quality_score_of(t(spark, sf_dir, "documents"))


def quality_score_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``text_quality_score`` — a pure stateless map, so
    the same expressions run unchanged over a streaming DataFrame (append
    mode, no watermark; parity pinned in test_streaming)."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    s = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return s.select(
        "doc_id",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("mean_token_span"),
        F.when((F.col("n_tokens") >= 5) & (stop_ratio > 0.05), 1).otherwise(0).alias("quality_pass"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN en_hits >= 1 AND en_hits >= de_hits THEN 'en'
                WHEN de_hits >= 1 THEN 'de'
                ELSE 'unknown' END AS pred_lang,
           en_hits, de_hits
    FROM (
      SELECT doc_id,
             LEN(list_filter(string_split(lower(text), ' '),
                             w -> w IN ({_SW_SQL}))) AS en_hits,
             LEN(list_filter(string_split(lower(text), ' '),
                             w -> w IN ('der','die','das','und','ist','nicht'))) AS de_hits
      FROM documents) s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-hit voting (n-gram-free heuristic; the shape
    generalizes to char-n-gram profiles without changing the plan)."""
    return lang_id_of(t(spark, sf_dir, "documents"))


def lang_id_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``text_lang_id`` (stateless map; streams as-is)."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    en = F.array(*[F.lit(w) for w in STOPWORDS])
    de = F.array(*[F.lit(w) for w in ("der", "die", "das", "und", "ist", "nicht")])
    s = docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda w: F.array_contains(en, w))).alias("en_hits"),
        F.size(F.filter(toks, lambda w: F.array_contains(de, w))).alias("de_hits"),
    )
    return s.select(
        "doc_id",
        F.when((F.col("en_hits") >= 1) & (F.col("en_hits") >= F.col("de_hits")), "en")
        .when(F.col("de_hits") >= 1, "de")
        .otherwise("unknown")
        .alias("pred_lang"),
        "en_hits",
        "de_hits",
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text."""
    return fingerprint_of(t(spark, sf_dir, "documents"))


def fingerprint_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``text_fingerprint`` (stateless map; streams as-is)."""
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep the smallest doc_id per content hash.
    One shuffle on the hash — the 100 TB shape (hash first, never the text)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_exact_stream(
    df: DataFrame,
    text_col: str = "text",
    event_time_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``dedup_exact``: md5 content-hash dedup with
    watermark-bounded state.

    Keeps the FIRST arrival per content hash via
    ``dropDuplicatesWithinWatermark`` and evicts a hash's state once the
    watermark passes it + ``delay`` — state is bounded by the duplicate
    horizon (how late a copy may arrive), not the corpus, which is what
    makes exact dedup viable on an unbounded ingest. The batch
    ``dedup_exact`` answers the same question corpus-wide (min doc_id per
    hash); this form answers it incrementally for a pipeline ingesting
    documents continuously. Stream==batch parity:
    tests/test_streaming.py::test_stream_exact_dedup_content_hash_parity.
    """
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


# --- MinHash + LSH ---------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # 2 rows per band

_SPARK_SHINGLES = (
    "transform(sequence(1, size(toks) - 2), "
    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
)
_SQL_SHINGLES = (
    "list_transform(generate_series(1, LEN(toks) - 2), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
)


def _sql_minhash(j: int) -> str:
    # 8 x 32-bit minhashes carved out of TWO md5 digests (4 x 8-hex slices
    # each) — a quarter of the hash work of 8 independently-salted md5s, and
    # 32 bits is ample for a min-hash (collision odds 2^-32 per pair per row)
    return (
        f"list_min(list_transform(shingles, "
        f"s -> substring(md5('{j // 4}:' || s), {8 * (j % 4) + 1}, 8)))"
    )


def _minhash_prep_spark(d: DataFrame) -> DataFrame:
    """doc_id + minhash band keys (word-3-gram shingles, md5 min-hashing).

    Shape: explode shingles once, evaluate the 8 salted md5s per shingle row
    (each md5 computed exactly once), then one partial-aggregated
    groupBy(doc_id).agg(min x 8). Keeping the shingle array in a projection
    instead would let Catalyst's projection collapse inline the shingle
    transform into every minhash expression — 8x the string work — and would
    bound per-row memory by the longest document."""
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = toks.select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
    # two salted digests per shingle; each yields four 8-hex (32-bit)
    # minhash lanes — subexpression elimination evaluates each md5 once
    hashed = sh.select(
        "doc_id",
        *[
            F.substring(
                F.md5(F.concat(F.lit(f"{j // 4}:"), F.col("s"))),
                8 * (j % 4) + 1,
                8,
            ).alias(f"mh{j}")
            for j in range(N_HASHES)
        ],
    )
    mh = hashed.groupBy("doc_id").agg(
        *[F.min(f"mh{j}").alias(f"h{j}") for j in range(N_HASHES)]
    )
    bands = [
        F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    return mh.select("doc_id", *bands)


_SQL_MINHASH_PREP = f"""
  SELECT doc_id,
         {", ".join(f"{_sql_minhash(j)} AS h{j}" for j in range(N_HASHES))}
  FROM (SELECT doc_id, {_SQL_SHINGLES} AS shingles
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        WHERE LEN(toks) >= 3)
"""

_SQL_BANDS = f"""
  SELECT doc_id, {", ".join(f"h{2 * b} || h{2 * b + 1} AS band{b}" for b in range(N_BANDS))}
  FROM ({_SQL_MINHASH_PREP})
"""


@register(
    "dedup_minhash_signatures",
    oracle=f"SELECT * FROM ({_SQL_BANDS})",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH band keys per document.

    shingle (word 3-gram) -> 8 md5 min-hashes -> 4 bands of 2 rows. All inside
    whole-stage codegen (higher-order functions, no Python)."""
    return _minhash_prep_spark(t_parallel(spark, sf_dir, "documents"))


def _lsh_candidate_pairs(bands: DataFrame, cap: int | None = None) -> DataFrame:
    """Unpivot band keys -> bucket by (band_idx, key) -> combinatorial pairs
    inside each bucket -> distinct. ``cap`` drops buckets larger than the
    bound (the hot-bucket guard); the capped and uncapped queries share this
    one body so the tricky slice/transform pair generator cannot drift."""
    long = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_idx", "b.key")
    size_ok = F.size("ids") > 1
    if cap is not None:
        size_ok = size_ok & (F.size("ids") <= cap)
    buckets = (
        long.groupBy("band_idx", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(size_ok)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.distinct()


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH bands AS ({_SQL_BANDS}),
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
            ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id'''
        for b in range(N_BANDS)
      )}
    )
    SELECT DISTINCT doc_a, doc_b FROM pairs
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on any band.

    Scale shape: signatures are computed ONCE, unpivoted to (band_idx, key,
    doc_id), then a single groupBy(band_idx, key) forms buckets and pairs are
    generated combinatorially inside each bucket — one shuffle of the tiny
    signature table, no self-join, no recompute of the md5 work (a band-wise
    self-join would re-evaluate the minhash expressions once per branch and
    side: 8x). Candidate sets stay bounded by bucket size, never all-pairs;
    a hot bucket at 100 TB is capped/salted upstream."""
    bands = _minhash_prep_spark(t_parallel(spark, sf_dir, "documents"))
    return _lsh_candidate_pairs(bands)


# Document-frequency cap for the verify stage's inverted index: a shingle
# present in more than SHINGLE_DF_CAP documents is dropped BEFORE the
# shingle-equality join. A boilerplate shingle in 10^6 docs would otherwise
# create a 10^12-row join group (the same skew failure LSH_BUCKET_CAP guards
# one layer up) while carrying ~no Jaccard signal. The cap is part of the
# capped queries' semantics — the oracle applies the identical cut, and the
# Jaccard denominator uses the capped shingle sets on both sides, so the
# metric stays a true Jaccard over the filtered universe. 5 binds at test
# scale (max df is 7-9 there); production would size it ~10^3-10^4.
SHINGLE_DF_CAP = 5
JACCARD_THRESHOLD = 0.8
LSH_BUCKET_CAP = 8


def _df_capped_shingles(ex: DataFrame, cap: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap``.

    The hot set is tiny by construction (only shingles with df > cap), so it
    broadcasts; the corpus-sized index streams past in a left-anti join —
    no shuffle of the big side on `s`."""
    hot = (
        ex.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return ex.join(F.broadcast(hot), "s", "left_anti")


def _sql_jaccard_verify(df_cap: int | None) -> str:
    ex_ctes = "ex AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh)"
    if df_cap is not None:
        ex_ctes = f"""exd AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    keep AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM exd GROUP BY s)
             WHERE df <= {df_cap}),
    ex AS (SELECT exd.doc_id, exd.s FROM exd JOIN keep USING (s))"""
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
      WHERE LEN(toks) >= 3),
    {ex_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    j AS (
      SELECT doc_a, doc_b, n_common,
             CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, n_common, jaccard FROM j
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


def _distinct_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, s) — each document's DISTINCT word-3-gram shingles."""
    toks = d.select("doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("toks")).filter(
        F.size("toks") >= 3
    )
    return toks.select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s")).distinct()


def _jaccard_verify_spark(ex: DataFrame) -> DataFrame:
    """Inverted-index Jaccard over a (doc_id, s) shingle index — shared by
    the capped and uncapped queries so the join/pruning logic cannot drift."""
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    exs = ex.join(F.broadcast(sizes), "doc_id")
    a = exs.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = exs.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    inter = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") * 5 >= F.greatest("na", "nb") * 4)
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    j = inter.withColumn(
        "jaccard",
        F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common")),
    )
    return j.filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


@register("dedup_jaccard_verify_uncapped_baseline", oracle=_sql_jaccard_verify(None))
def dedup_jaccard_verify_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE (not the production entry): exact n-gram Jaccard with NO
    hot-shingle cap — lossless over all pairs sharing any shingle.

    Inverted-index join on distinct shingles (never all-pairs): intersection
    counts from the shingle join, union by inclusion-exclusion.

    Bound-based pruning: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so J >= 0.8
    requires 5*min >= 4*max — pairs failing the size-ratio test are cut at
    the join output, BEFORE the (doc_a, doc_b) aggregation shuffle, which is
    the expensive intermediate. Sizes ride along the join rows (the size
    table is one row per doc; broadcast here, a shuffle join at the scale
    where it stops fitting), so the final jaccard needs no further joins.

    SCALE WARNING: a single boilerplate shingle shared by 10^6 docs makes
    one join group produce 10^12 pairs. Registered only as the lossless
    reference; ``dedup_jaccard_verify`` (the primary name) applies the
    document-frequency cap and is what a 100 TB run uses."""
    ex = _distinct_shingles(t_parallel(spark, sf_dir, "documents"))
    return _jaccard_verify_spark(ex)


@register("dedup_jaccard_verify", oracle=_sql_jaccard_verify(SHINGLE_DF_CAP))
@register("dedup_jaccard_verify_capped", oracle=_sql_jaccard_verify(SHINGLE_DF_CAP))
def dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for near-dup pairs — the PRIMARY production
    entry, with the hot-shingle document-frequency cap engaged (the 100 TB
    shape). Shingles with df > SHINGLE_DF_CAP are dropped before the
    inverted-index join (bounding every join group at cap^2 pairs) and
    excluded from BOTH documents' shingle sets, so the reported jaccard is
    exact over the capped universe; the oracle applies the identical cut.
    Registered under both the primary name and ``_capped`` (the latter for
    continuity with earlier rounds); the lossless uncapped formulation is
    ``dedup_jaccard_verify_uncapped_baseline``."""
    ex = _distinct_shingles(t_parallel(spark, sf_dir, "documents"))
    return _jaccard_verify_spark(_df_capped_shingles(ex, SHINGLE_DF_CAP))


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 16


def _sql_simhash_bits() -> list[str]:
    """Per-bit token contributions for the DuckDB oracle — the same integer
    math the Spark plan computes (bit k of a token = bit (k%4) of hex digit
    k//4 of md5(token)), folded per bit over the token list."""
    out = []
    for k in range(SIMHASH_BITS):
        pos, shift = k // 4 + 1, k % 4
        digit = f"(strpos('0123456789abcdef', substring(md5(w), {pos}, 1)) - 1)"
        tok_sum = (
            f"list_sum(list_transform(toks, w -> "
            f"((CAST(FLOOR({digit} / {2 ** shift}) AS INT) % 2) * 2 - 1)))"
        )
        out.append(f"(CASE WHEN ({tok_sum}) > 0 THEN {2 ** k} ELSE 0 END)")
    return out


_SQL_SIMHASH = " + ".join(_sql_simhash_bits())


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, CAST({_SQL_SIMHASH} AS BIGINT) AS simhash
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketch: per-bit majority vote over token hashes.

    16-bit variant; near-dups are pairs within small Hamming distance
    (bucket on the sketch, compare within bucket). Shape: explode tokens,
    hash each token ONCE, derive the 16 bit contributions with integer ops,
    then one partial-aggregated groupBy(doc) of 16 sums — a per-bit
    ``aggregate()`` over the token array would recompute md5(token) 16x.
    Identical integer math to the SQL oracle."""
    d = t_parallel(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w")
    ).withColumn("h", F.md5("w"))
    contribs = []
    for k in range(SIMHASH_BITS):
        pos, shift = k // 4 + 1, k % 4
        digit = f"(instr('0123456789abcdef', substring(h, {pos}, 1)) - 1)"
        contribs.append(
            F.expr(f"(CAST(FLOOR({digit} / {2 ** shift}) AS INT) % 2) * 2 - 1").alias(
                f"c{k}"
            )
        )
    per_tok = tok.select("doc_id", *contribs)
    sums = per_tok.groupBy("doc_id").agg(
        *[F.sum(f"c{k}").alias(f"s{k}") for k in range(SIMHASH_BITS)]
    )
    simhash = None
    for k in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{k}") > 0, 2**k).otherwise(0)
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

# Explicit left-to-right double fold == bit-identical IEEE sequence in both
# engines (Spark `aggregate` and DuckDB `list_sum` both fold in index order).
_SPARK_DOT = (
    "aggregate(zip_with(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>), "
    "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, LEN(a)), "
    "i -> CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE)))"
)


_SQL_COSINE = (
    f"({_SQL_DOT}) / (sqrt({_SQL_DOT.replace('b[i]', 'a[i]')}) * "
    f"sqrt({_SQL_DOT.replace('a[i]', 'b[i]').replace('LEN(b)', 'LEN(a)')}))"
)


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS b FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND({_SQL_COSINE.replace("a[i]", "e.embedding[i]").replace("LEN(a)", "LEN(e.embedding)")}, 6) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id != 0)
    SELECT vec_id, label, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT 20
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector (vec_id=0).

    Baseline ANN: broadcast the 1-row query, score every vector with a
    codegen'd fold (no Python), TakeOrderedAndProject for the top-k. Scales
    linearly with the corpus and trivially with executors."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("b"))
    dot = "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    na = "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    nb = "aggregate(zip_with(CAST(b AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(20)
    )


_SPARK_BUCKET = (
    "aggregate(sequence(1, 4), 0, (acc, i) -> acc + "
    "CASE WHEN element_at(CAST(embedding AS ARRAY<DOUBLE>), i) > 0 "
    "THEN CAST(pow(2, i - 1) AS INT) ELSE 0 END)"
)
_SQL_BUCKET = (
    "list_sum(list_transform(generate_series(1, 4), i -> "
    "CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN CAST(2 ** (i - 1) AS INT) ELSE 0 END))"
)


@register(
    "similarity_topk_lsh",
    oracle=f"""
    WITH b AS (SELECT vec_id, label, embedding,
                      CAST({_SQL_BUCKET} AS BIGINT) AS bucket FROM embeddings),
    q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label, e.bucket,
             ROUND({_SQL_COSINE.replace("a[i]", "e.embedding[i]").replace("LEN(a)", "LEN(e.embedding)").replace("b[i]", "qe[i]")}, 6) AS cosine
      FROM b e, q
      WHERE e.vec_id != 0 AND e.bucket = q.qb)
    SELECT vec_id, label, bucket, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-pattern of the first 4 dims = 16 buckets
    (random-hyperplane LSH with axis planes); the query probes only its own
    bucket — the IVF scale path (candidate set ~N/16 instead of N)."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_SPARK_BUCKET).cast("bigint")
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    dot = "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    na = "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    nb = "aggregate(zip_with(CAST(qe AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qb"))
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --- embedding LSH knobs ---------------------------------------------------
# Random-hyperplane LSH for the near-dup/dedup-groups pipeline, MinHash-style
# multi-band: EMB_LSH_BANDS bands of EMB_LSH_BITS sign bits each (band b reads
# dims b*bits+1 .. (b+1)*bits — axis-aligned planes keep the key a pure
# column expression identical in both engines; production swaps in a seeded
# random projection matrix, same plan shape). 2^bits buckets per band, so
# bucket occupancy ~N/2^bits stays bounded by raising bits with N; a pair is
# nominated if ANY band agrees (multi-band recall, like the MinHash bands).
# EMB_BUCKET_CAP drops degenerate buckets (near-zero or boilerplate
# embeddings collapsing to one sign pattern) before pair generation — the
# oracle applies the identical HAVING cut. 8/2/5 bind at test scale (500
# 64-dim vectors; max bucket 6-7); at 100 TB: 16-32 bits, 4-8 bands.
EMB_LSH_BITS = 8
EMB_LSH_BANDS = 2
EMB_BUCKET_CAP = 5
EMB_COSINE_T = 0.25


def _emb_band_spark(b: int) -> str:
    lo = b * EMB_LSH_BITS + 1
    return (
        f"aggregate(sequence({lo}, {lo + EMB_LSH_BITS - 1}), 0, (acc, i) -> acc + "
        f"CASE WHEN element_at(CAST(embedding AS ARRAY<DOUBLE>), i) > 0 "
        f"THEN CAST(pow(2, i - {lo}) AS INT) ELSE 0 END)"
    )


def _emb_band_sql(b: int) -> str:
    lo = b * EMB_LSH_BITS + 1
    return (
        f"list_sum(list_transform(generate_series({lo}, {lo + EMB_LSH_BITS - 1}), "
        f"i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 "
        f"THEN CAST(2 ** (i - {lo}) AS INT) ELSE 0 END))"
    )


# shared oracle fragment: multi-band bucketed nomination (bucket-capped) +
# exact-cosine verify — interpolated into embedding_neardup_pairs AND
# embedding_dedup_groups so threshold/bucketing changes cannot fork them
_SQL_NEARDUP_CTES = f"""b AS (SELECT vec_id, embedding,
                      {", ".join(f"CAST({_emb_band_sql(b)} AS BIGINT) AS band{b}" for b in range(EMB_LSH_BANDS))},
                      1.0 / sqrt(list_sum(list_transform(generate_series(1, LEN(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                        AS inv_norm
               FROM embeddings),
    lsh_long AS (
      {" UNION ALL ".join(f"SELECT vec_id, {b} AS band_idx, band{b} AS key FROM b" for b in range(EMB_LSH_BANDS))}
    ),
    lsh_buckets AS (
      SELECT band_idx, key, list_sort(list(vec_id)) AS ids
      FROM lsh_long GROUP BY band_idx, key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {EMB_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT x.i AS vec_a, y.i AS vec_b
      FROM lsh_buckets, UNNEST(ids) AS x(i), UNNEST(ids) AS y(i)
      WHERE x.i < y.i),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             list_sum(list_transform(generate_series(1, LEN(x.embedding)),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
               * x.inv_norm * y.inv_norm AS cosine_raw
      FROM cand c
      JOIN b x ON x.vec_id = c.vec_a
      JOIN b y ON y.vec_id = c.vec_b),
    neardup_pairs AS (
      SELECT vec_a, vec_b, cosine_raw FROM scored
      WHERE cosine_raw >= {EMB_COSINE_T})"""


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH {_SQL_NEARDUP_CTES}
    SELECT vec_a, vec_b, ROUND(cosine_raw, 6) AS cosine FROM neardup_pairs
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: multi-band sign-LSH nomination + exact
    cosine verify — the MinHash-LSH shape applied to vectors.

    The all-pairs O(N^2) is avoided structurally: pairs only form inside a
    band bucket, bucket size is capped (EMB_BUCKET_CAP, oracle-matched), and
    bucket count scales as 2^EMB_LSH_BITS per band, so raising the bits knob
    holds occupancy ~constant as N grows. Candidates are distinct across
    bands BEFORE the verify join, so a pair agreeing on every band is scored
    once. Norms are precomputed per ROW before the join (cosine = dot *
    inv_norm_a * inv_norm_b), so per-pair work is one dot fold."""
    norm2 = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    e = (
        t(spark, sf_dir, "embeddings")
        .withColumn("inv_norm", F.lit(1.0) / F.sqrt(F.expr(norm2)))
        .select(
            "vec_id",
            "embedding",
            "inv_norm",
            *[
                F.expr(_emb_band_spark(b)).cast("bigint").alias(f"band{b}")
                for b in range(EMB_LSH_BANDS)
            ],
        )
    )
    long = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key"))
                    for b in range(EMB_LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "b.band_idx", "b.key")
    buckets = (
        long.groupBy("band_idx", "key")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= EMB_BUCKET_CAP))
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS vec_a, y AS vec_b))))"
                )
            ).alias("p")
        )
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    x = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("inv_norm").alias("ina"),
    )
    y = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("inv_norm").alias("inb"),
    )
    dot = (
        "aggregate(zip_with(CAST(ea AS ARRAY<DOUBLE>), CAST(eb AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .withColumn("cosine_raw", F.expr(dot) * F.col("ina") * F.col("inb"))
        .filter(F.col("cosine_raw") >= F.lit(EMB_COSINE_T))
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Multimodal + stateful-reducer surface (plumbing-real, codec-stubbed)
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) END AS width,
           CASE WHEN doc_id % 3 = 0
                THEN CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) END AS height,
           CASE WHEN doc_id % 3 = 2
                THEN CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT)
                WHEN doc_id % 3 = 1
                THEN CAST(octet_length(encode(text)) % 1000 + 1 AS BIGINT)
           END AS n_frames
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns -> typed features via Arrow-batched mapInPandas.

    The codec is the deterministic fake (real decoders are stubbed — see
    operators.multimodal); the Spark plumbing (binary payload column, Arrow
    batch transfer, feature schema) is the real path and is what this query
    checks end-to-end against the oracle."""
    from ..operators.multimodal import documents_as_media, extract_features

    # deliberately NOT t_parallel: fanning the Arrow/Python path out to
    # `cores` workers costs more in worker startup + per-batch transfer than
    # the fake codec's row work saves; the guard pays off only when per-row
    # Python work dominates (real decoders) — flip to t_parallel then
    media = documents_as_media(t(spark, sf_dir, "documents"))
    return extract_features(media, codec="fake")


@register(
    "multimodal_codec_roundtrip",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 <= 2 THEN 'image'
                  WHEN doc_id % 6 = 3 THEN 'video'
                  ELSE 'audio' END AS kind,
             CASE WHEN doc_id % 6 <= 3 THEN 2 + doc_id % 13 END AS w,
             CASE WHEN doc_id % 6 <= 3 THEN 2 + doc_id % 7 END AS h,
             CASE WHEN doc_id % 6 = 2 AND 1 + doc_id % 3 > 1 THEN 1 + doc_id % 3
                  WHEN doc_id % 6 = 3 THEN 1 + doc_id % 3
                  WHEN doc_id % 6 >= 4 THEN 100 + doc_id % 50 END AS nf
      FROM documents)
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(h) AS BIGINT) AS sum_height,
           CAST(SUM(COALESCE(nf, 1)) AS BIGINT) AS sum_frames
    FROM m GROUP BY kind
    """,
    doc="Real-codec round trip: encode PNG/JPEG/GIF/AVI/WAV/FLAC in "
    "executors, decode them back, oracle replays every feature "
    "arithmetically.",
)
def multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL codec lane, end to end and oracle-checked: every document
    becomes an actual media payload (PNG-or-WebP / JPEG / GIF-or-animated-
    WebP / MJPEG-AVI / PCM-or-IMA-ADPCM-WAV / FLAC, cycling on doc_id % 6
    with % 12 alternates) ENCODED by the in-repo codecs inside
    one Arrow-batched mapInPandas, then DECODED back by
    ``extract_features(codec="real")`` in a second one. Dimensions and
    frame counts are pure functions of doc_id (see
    ``operators.multimodal.synth_media_payload``), so the DuckDB oracle
    replays the decoded features arithmetically — a decoder that returned
    wrong dims, miscounted GIF/AVI frames, or dropped WAV samples breaks
    the hash match. t_parallel: per-row Python work (DCT, LZW, deflate)
    dominates here, the case the fake-codec query's guard note defers to.

    At 100 TB this is the shape that matters: both passes are
    embarrassingly parallel, media bytes never leave the partition that
    synthesized them, and the output is a 3-row aggregate."""
    from ..operators.multimodal import documents_as_encoded_media, extract_features

    media = documents_as_encoded_media(t_parallel(spark, sf_dir, "documents"))
    feats = extract_features(media, codec="real")
    return feats.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum(F.coalesce("n_frames", F.lit(1))).cast("bigint").alias("sum_frames"),
    )


@register(
    "multimodal_resample_roundtrip",
    oracle="""
    WITH pngs AS (
      SELECT doc_id, 2 + doc_id % 13 AS w, 2 + doc_id % 7 AS h
      FROM documents WHERE doc_id % 12 = 0),
    dims AS (
      SELECT doc_id, w, h,
        CASE WHEN w <= 8 AND h <= 8 THEN w
             WHEN w * 8 >= h * 8 THEN 8
             ELSE GREATEST(1, (w * 8) // h) END AS nw,
        CASE WHEN w <= 8 AND h <= 8 THEN h
             WHEN w * 8 >= h * 8 THEN GREATEST(1, (h * 8) // w)
             ELSE 8 END AS nh
      FROM pngs),
    px AS (
      SELECT doc_id, nw, nh,
             ((xx.x * w // nw) * 3 + cc.c + 3 * (yy.y * h // nh) + doc_id)
               % 256 AS v
      FROM dims,
           LATERAL (SELECT UNNEST(range(0, nh)) AS y) yy,
           LATERAL (SELECT UNNEST(range(0, nw)) AS x) xx,
           LATERAL (SELECT UNNEST(range(0, 3)) AS c) cc)
    SELECT doc_id AS media_id,
           CAST(nw AS BIGINT) AS new_width,
           CAST(nh AS BIGINT) AS new_height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, nw, nh
    """,
    doc="Real pixel resample round trip: encode PNG -> nearest-neighbor "
    "resample -> PNG re-encode -> decode back; the oracle replays every "
    "resized pixel byte arithmetically.",
)
def multimodal_resample_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image-resample path, end to end and oracle-checked: every
    PNG-lane document (doc_id % 12 == 0) becomes a real PNG payload
    (``synth_media_payload``), ``resample_images`` decodes it and
    nearest-neighbor-resamples into an 8x8 bounding box (integer floor
    mapping, PNG re-encode), and ``decode_png_byte_sums`` decodes the
    RESIZED payload back and sums its pixel bytes. The synth pixel bytes
    are ``(3*sx + c + 3*sy + doc_id) % 256``, so the DuckDB oracle
    replays the sum over every resized pixel arithmetically — a wrong
    floor mapping, a dropped row, a channel swap, or a corrupt re-encode
    breaks the hash match.

    At 100 TB: three Arrow map passes (encode, resample, verify-decode),
    all embarrassingly parallel and partition-local; output is one small
    typed row per image."""
    from ..operators.multimodal import (
        decode_png_byte_sums,
        documents_as_encoded_media,
        resample_images,
    )

    docs = t_parallel(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 12) == 0
    )
    media = documents_as_encoded_media(docs)
    resized = resample_images(media, max_w=8, max_h=8)
    return decode_png_byte_sums(resized)


AUDIO_SEG_WINDOW = 32  # samples per segment (synth clips are 100-149 samples)


@register(
    "multimodal_audio_segments",
    oracle=f"""
    WITH audio AS (
      SELECT doc_id, 100 + doc_id % 50 AS n
      FROM documents WHERE doc_id % 6 >= 4),
    vals AS (
      -- the IMA-ADPCM lane (doc_id % 12 = 10) carries a BLOCK-CONSTANT
      -- signal (9-sample blocks) so the lossy codec decodes it exactly;
      -- PCM-WAV (% 12 = 4) and FLAC (% 6 = 5) carry the per-sample ramp
      SELECT doc_id, u.i,
             ABS((doc_id * 31
                  + CASE WHEN doc_id % 12 = 10 THEN u.i // 9 ELSE u.i END
                    * 7) % 65536 - 32768) AS a
      FROM audio, LATERAL (SELECT UNNEST(range(0, n)) AS i) u)
    SELECT doc_id AS media_id,
           CAST(i // {AUDIO_SEG_WINDOW} AS BIGINT) AS seg_idx,
           CAST((i // {AUDIO_SEG_WINDOW}) * {AUDIO_SEG_WINDOW} AS BIGINT)
             AS start_sample,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(a) AS BIGINT) AS sum_abs,
           CAST(MAX(a) AS BIGINT) AS peak_abs
    FROM vals GROUP BY doc_id, i // {AUDIO_SEG_WINDOW}
    """,
    doc="Real per-segment audio sampling: WAV byte-slice / FLAC windowed "
    "decode, integer-exact stats the oracle replays per sample.",
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio analog of the real per-frame video lane, end to end and
    oracle-checked: every audio-lane document (doc_id % 6 in {4, 5})
    becomes a REAL PCM-WAV, IMA-ADPCM WAV (doc_id % 12 == 10), or FLAC
    payload encoded by the in-repo codecs in one Arrow-batched
    mapInPandas, then ``extract_segment_features(window=32)`` slices it
    into fixed 32-sample segments — PCM via data-chunk byte slices
    (random access), ADPCM via self-seeding-block decode of only the
    overlapping blocks, FLAC via one stream-order Rice/LPC decode
    windowed after — and reports integer-exact per-segment stats
    (count / sum|s| / max|s|). The synth samples are a pure function of
    doc_id (``(doc_id*31 + i*7) % 65536 - 32768``; the ADPCM lane is
    block-constant, ``i`` replaced by ``i // 9``, so the lossy codec is
    exact by construction), so the DuckDB oracle replays every
    per-segment sum and peak PER SAMPLE: a decoder that dropped,
    duplicated, or mis-scaled any sample anywhere in any segment breaks
    the hash match — including across ADPCM's 9-sample block boundaries,
    which interleave the 32-sample windows at every offset.

    At 100 TB: both passes are embarrassingly parallel and partition-local
    (the shape measured for the codec lane in BENCH_SF1.md); output rows
    are ~n_samples/32 per clip of small typed columns — JVM-side again."""
    from ..operators.multimodal import (
        documents_as_encoded_media,
        extract_segment_features,
    )

    docs = t_parallel(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 6) >= 4
    )
    media = documents_as_encoded_media(docs)
    return extract_segment_features(media, window=AUDIO_SEG_WINDOW)


@register(
    "multimodal_audio_resample_roundtrip",
    oracle="""
    WITH audio AS (
      SELECT doc_id, 100 + doc_id % 50 AS n
      FROM documents WHERE doc_id % 6 >= 4),
    vals AS (
      -- kept frames are 0, 2, 4, ...; the IMA-ADPCM lane (doc_id % 12 =
      -- 10) carries the 9-sample block-constant signal, PCM and FLAC the
      -- per-sample ramp — same formulas as multimodal_audio_segments
      SELECT doc_id, n,
             ABS((doc_id * 31
                  + CASE WHEN doc_id % 12 = 10 THEN (u.j * 2) // 9
                         ELSE u.j * 2 END
                    * 7) % 65536 - 32768) AS a
      FROM audio, LATERAL (SELECT UNNEST(range(0, (n + 1) // 2)) AS j) u)
    SELECT doc_id AS media_id,
           CAST((n + 1) // 2 AS BIGINT) AS new_n_frames,
           CAST(SUM(a) AS BIGINT) AS sum_abs,
           CAST(MAX(a) AS BIGINT) AS peak_abs
    FROM vals GROUP BY doc_id, n
    """,
    doc="Real audio downsample round trip: decode WAV/ADPCM/FLAC -> "
    "decimate by 2 -> re-encode PCM WAV -> verify-decode; the oracle "
    "replays every kept sample arithmetically.",
)
def multimodal_audio_resample_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REAL audio-downsample path, end to end and oracle-checked — the
    audio analog of ``multimodal_resample_roundtrip``: every audio-lane
    document (doc_id % 6 in {4, 5}: PCM-WAV, IMA-ADPCM WAV at % 12 == 10,
    FLAC) becomes a real payload (``synth_media_payload``),
    ``resample_audio(factor=2)`` decodes it and keeps every second frame
    (integer decimation — exact, no float filter), re-encodes as 16-bit
    PCM WAV, and ``decode_wav_sample_sums`` decodes the RESAMPLED payload
    back and aggregates every sample. The synth samples are pure
    functions of doc_id, so the DuckDB oracle replays the kept-sample
    sum and peak arithmetically — a wrong decimation stride, an
    off-by-one in the kept count, a dropped block, or a corrupt
    re-encode breaks the hash match.

    At 100 TB: three Arrow map passes (encode, resample, verify-decode),
    all embarrassingly parallel and partition-local — the measured codec
    lane shape (BENCH_SF1.md); output is one small typed row per clip."""
    from ..operators.multimodal import (
        decode_wav_sample_sums,
        documents_as_encoded_media,
        resample_audio,
    )

    docs = t_parallel(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 6) >= 4
    )
    media = documents_as_encoded_media(docs)
    resampled = resample_audio(media, factor=2)
    return decode_wav_sample_sums(resampled)


@register(
    "ingest_warc_documents",
    oracle="""
    WITH recs AS (
      SELECT doc_id, u.r,
             'doc ' || doc_id || ' rec ' || u.r || ' ' AS unit,
             1 + (doc_id + u.r) % 5 AS reps
      FROM documents,
           LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 3)) AS r) u)
    SELECT doc_id AS archive_id,
           CAST(r AS BIGINT) AS rec_idx,
           'response' AS rectype,
           'https://example.invalid/' || doc_id || '/' || r AS url,
           CAST(length(unit) * reps AS BIGINT) AS n_bytes,
           repeat(unit, reps) AS text
    FROM recs
    """,
    doc="WARC ingest round trip: real .warc.gz archives (per-record gzip "
    "members) built and parsed in executors; the oracle replays every "
    "record's url, byte count, and text with string arithmetic.",
)
def ingest_warc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl ingest path, end to end and oracle-checked: every
    document becomes a REAL ``.warc.gz`` archive (1 + doc_id % 3 response
    records, each its own gzip member — the random-access framing real
    crawls use) built by ``operators.warc.encode_warc`` in one
    Arrow-batched mapInPandas, then ``warc_to_documents`` parses the
    archives back into one validated row per record (version line,
    mandatory headers, Content-Length framing, CRLF trailers, gzip member
    boundaries — a malformed archive fails the job loudly). Record bodies
    are pure string functions of (doc_id, rec index), so the DuckDB
    oracle replays every url, byte count, AND full text with string
    arithmetic — a parser that dropped a record, misread a length, or
    split a member wrong breaks the hash match.

    At 100 TB this is the shape that matters: archives parse where they
    live (no shuffle, bytes partition-local), output rows are small typed
    columns that are JVM-side again for dedup/quality/language-ID
    downstream, and the per-record gzip framing means a CDX-style index
    turns the same archives into ranged single-record reads
    (``operators.warc.warc_record_at``)."""
    from ..operators.ingest import documents_as_warc, warc_to_documents

    docs = t_parallel(spark, sf_dir, "documents")
    return warc_to_documents(documents_as_warc(docs))


@register(
    "ingest_warc_html_text",
    oracle=r"""
    SELECT doc_id AS archive_id,
           'doc ' || doc_id AS title,
           'doc ' || doc_id || chr(10) || 'doc ' || doc_id || chr(10)
             || 'A & B <ok>' || chr(10)
             || trim(regexp_replace(regexp_replace(regexp_replace(
                  text, '[ \t\r\f]+', ' ', 'g'),
                  ' ?\n ?', chr(10), 'g'),
                  '\n+', chr(10), 'g'))
             AS body_text,
           CAST(length('doc ' || doc_id) * 2 + length('A & B <ok>') + 3
                + length(trim(regexp_replace(regexp_replace(regexp_replace(
                    text, '[ \t\r\f]+', ' ', 'g'),
                    ' ?\n ?', chr(10), 'g'),
                    '\n+', chr(10), 'g'))) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="WET-style extraction: HTML pages inside real .warc.gz archives "
    "-> visible text via a pure-Catalyst regexp chain; the oracle "
    "replays title, full extracted text, and length arithmetically.",
)
def ingest_warc_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl WET step, end to end and oracle-checked: every
    document becomes a one-record HTML ``.warc.gz`` archive (comment,
    style block, script block containing ``<`` and quotes, block tags,
    pre-escaped entities, and the HTML-escaped document text), the
    archives parse back through ``warc_to_documents``, and
    ``functions.html.html_to_text`` / ``html_title`` extract the visible
    text ENTIRELY in Catalyst (regexp_replace/replace chains —
    whole-stage codegen, no Python in the extraction). The visible text
    is a pure string function of (doc_id, text), so the DuckDB oracle
    replays the title, the FULL extracted body (script/style dropped,
    tags stripped, entities decoded — ``&amp;lt;`` correctly yielding a
    literal ``&lt;``), and its length — a chain that swallowed prose
    with markup, decoded entities before stripping tags, or collapsed
    whitespace wrong breaks the hash match.

    At 100 TB: one Arrow pass to parse archives where they live, then
    pure JVM string expressions — the extraction itself never leaves
    codegen, which is the whole point of doing it in Catalyst rather
    than a Python HTML library."""
    from ..functions.html import html_title, html_to_text
    from ..operators.ingest import documents_as_warc_html, warc_to_documents

    docs = t_parallel(spark, sf_dir, "documents")
    recs = warc_to_documents(documents_as_warc_html(docs))
    body = html_to_text(F.col("text"))
    return recs.select(
        "archive_id",
        html_title(F.col("text")).alias("title"),
        body.alias("body_text"),
        F.length(body).cast("bigint").alias("n_chars"),
    )


@register(
    "web_domain_profile",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 6
                    THEN 'page.sub' || (doc_id % 20) || '.wild.example'
                  WHEN doc_id % 17 = 8
                    THEN 'ok.wild.example'
                  WHEN doc_id % 11 = 4
                    THEN 'site' || (doc_id % 20) || '.co.example'
                  ELSE 'site' || (doc_id % 20) || '.example' END AS domain,
             -- a host with MORE labels than its registrable domain: the
             -- wildcard case (doc_id % 13 = 6) is its own registrable
             -- domain (4 labels each), so it does NOT count
             CASE WHEN doc_id % 13 != 6 AND (doc_id % 17 = 8
                    OR doc_id % 11 = 4 OR doc_id % 7 = 0)
                  THEN 1 ELSE 0 END AS is_sub,
             doc_id % 4 AS depth,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_q
      FROM documents)
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(depth) AS BIGINT) AS sum_depth,
           CAST(SUM(has_q) AS BIGINT) AS n_with_query,
           CAST(SUM(is_sub) AS BIGINT) AS n_subdomain_pages
    FROM urls GROUP BY domain
    """,
    doc="Domain-level curation profile grouped by TRUE registrable domain "
    "from a broadcast public-suffix-style rules dim (multi-label "
    "suffixes, wildcard, exception rules); the oracle replays the rule-"
    "table decision per URL from the host formulas.",
)
def web_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation profile over synthesized-but-real URLs — the
    URL-structure step of web-corpus curation (per-domain page budgets,
    depth heuristics, query-string prevalence), grouped by the TRUE
    registrable domain: ``psl_registrable_domain`` evaluates a broadcast
    public-suffix-style rules dim (``example`` single-label,
    ``co.example`` multi-label, ``*.wild.example`` wildcard,
    ``!ok.wild.example`` exception — the four publicsuffix.org rule
    forms) by the published algorithm, so ``www.siteN.example``
    collapses into its parent while ``siteN.co.example`` and the
    wildcard/exception hosts group at their REAL boundary — exactly what
    the old last-two-labels approximation got wrong on ``co.uk``-style
    suffixes. Hosts exercise ports (stripped by ``parse_url`` HOST),
    four-label wildcard subdomains, and the exception override on
    formulaic schedules; the DuckDB oracle replays every rule-table
    decision. Subdomain pages are counted FROM THE URL (more labels
    than the registrable domain), not a side flag.

    At 100 TB: the rules dim broadcasts (the real PSL is ~10k rows),
    the candidate explode is a bounded flat map, the winner pick is one
    map-side-combinable MAX aggregate per URL, and the profile is a
    hash aggregate into a tiny domain key space."""
    from ..functions.url import url_has_query, url_host, url_path_depth
    from .web import psl_registrable_domain

    docs = t(spark, sf_dir, "documents").select("doc_id")
    d = (F.col("doc_id") % 20).cast("string")
    host = (
        F.when(
            F.col("doc_id") % 13 == 6,
            F.concat(F.lit("page.sub"), d, F.lit(".wild.example")),
        )
        .when(F.col("doc_id") % 17 == 8, F.lit("go.ok.wild.example"))
        .when(
            F.col("doc_id") % 11 == 4,
            F.concat(F.lit("a.site"), d, F.lit(".co.example")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("www.site"), d, F.lit(".example")),
        )
        .otherwise(F.concat(F.lit("site"), d, F.lit(".example")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            host,
            F.when((F.col("doc_id") % 5) == 0, F.lit(":8443")).otherwise(
                F.lit("")
            ),
            F.expr("repeat('/seg', CAST(doc_id % 4 AS INT))"),
            F.when(
                (F.col("doc_id") % 2) == 0,
                F.concat(F.lit("?q="), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    rules = spark.createDataFrame(
        [
            (
                "// synthetic public-suffix rules\n"
                "example\n"
                "co.example\n"
                "*.wild.example\n"
                "!ok.wild.example\n"
            ,)
        ],
        "text string",
    )
    decided = psl_registrable_domain(
        urls, url_host("url"), rules, keys=["doc_id"], out="domain"
    )
    is_sub = (
        F.size(F.split(url_host("url"), r"\."))
        > F.size(F.split("domain", r"\."))
    ).cast("long")
    return decided.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum(url_path_depth("url")).cast("bigint").alias("sum_depth"),
        F.sum(url_has_query("url").cast("long"))
        .cast("bigint")
        .alias("n_with_query"),
        F.sum(is_sub).cast("bigint").alias("n_subdomain_pages"),
    )


@register(
    "reducer_funnel_batch",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t_view
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t_click
      GROUP BY e.user_id)
    SELECT u.user_id AS key,
           CASE WHEN s3.t_purchase IS NOT NULL THEN 3
                WHEN s2.t_click IS NOT NULL THEN 2
                WHEN s1.t_view IS NOT NULL THEN 1
                ELSE 0 END AS stage,
           s1.t_view AS t_view_us,
           s2.t_click AS t_click_us,
           s3.t_purchase AS t_purchase_us
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)
def reducer_funnel_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel through the stateful EventReducer API — an
    ORDER-SENSITIVE fold (first qualifying event per stage in block order),
    unlike the commutative netflow sum, so it exercises the API's sorted-
    delivery contract for real. The oracle is the equivalent min-cascade
    (first-in-order == min over qualifying), covering the Python fold with
    a driver value-hash. Production shape: event_funnel_stages (algebraic,
    JVM-only); this is the API-parity twin."""
    from ..streaming.reducer import FunnelReducer, reduce_events_batch

    ev = t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_type"),
        # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC
        # (session.py), so the cast is wall-clock identity and unix_micros
        # equals DuckDB's epoch_us over the same naive value
        F.unix_micros(F.col("ts").cast("timestamp")).alias("block_number"),
        F.col("event_id").alias("log_index"),
    )
    return reduce_events_batch(ev, FunnelReducer(), ["user_id"])


_SQL_REDUCER_NETFLOW = """
    SELECT user_id AS key,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN -CAST(ROUND_EVEN(value * 100, 0) AS BIGINT)
                         ELSE  CAST(ROUND_EVEN(value * 100, 0) AS BIGINT) END) AS BIGINT)
             AS net_cents,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """


def _netflow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("value"),
        F.when(F.col("event_type") == "purchase", -1).otherwise(1).alias("sign"),
        (F.unix_timestamp("ts")).alias("block_number"),
        F.col("event_id").alias("log_index"),
    )


@register(
    "reducer_netflow_batch",
    oracle=_SQL_REDUCER_NETFLOW,
    doc="The stateful EventReducer API (sink.rs:125-151) in batch form, "
    "lowered: CentsNetflowReducer's aggregate() compiles to a Catalyst "
    "groupBy().agg(), with no Python worker.",
)
def reducer_netflow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful EventReducer API (sink.rs:125-151) in batch form. The
    reducer is algebraic, so the runner compiles it to a Catalyst
    aggregate; state arithmetic is in integer cents, exact, so it matches
    the SQL oracle. Its Python fold is ``reducer_netflow_arrow``."""
    from ..streaming.reducer import CentsNetflowReducer, reduce_events_batch

    return reduce_events_batch(_netflow_events(spark, sf_dir), CentsNetflowReducer(), ["user_id"])


@register(
    "reducer_netflow_arrow",
    oracle=_SQL_REDUCER_NETFLOW,
    doc="reducer_netflow_batch's fold in Python: the generic EventReducer "
    "batch runner, applyInArrow folding block-sorted events per key.",
)
def reducer_netflow_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same netflow through the generic batch runner: a fold-only
    reducer, so ``applyInArrow`` folds each key's block-sorted events in
    Python. Same oracle as ``reducer_netflow_batch``."""
    from ..streaming.reducer import CentsNetflowFoldReducer, reduce_events_batch

    return reduce_events_batch(
        _netflow_events(spark, sf_dir), CentsNetflowFoldReducer(), ["user_id"]
    )


@register(
    "dedup_char_ngram_pairs",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, LENGTH(lower(text)) - 7),
                    i -> substring(lower(text), i, 8))) AS g
      FROM documents WHERE doc_id < 150 AND LENGTH(text) >= 8),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.05
    """,
)
def dedup_char_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 8-gram Jaccard near-dup (robust to word-boundary edits,
    complements the word-shingle MinHash path). Same inverted-index shape:
    distinct grams -> join -> inclusion-exclusion union."""
    # length guard: Spark's sequence(1, n) DESCENDS for n < 1 and would emit
    # phantom grams for sub-8-char texts (DuckDB's generate_series is empty)
    d = t_parallel(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 150) & (F.length("text") >= 8)
    )
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(lower(text)) - 7), "
                    "i -> substring(lower(text), i, 8))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "g")
    b = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    return j.filter(F.col("jaccard") >= 0.05).select("doc_a", "doc_b", "jaccard")


@register(
    "join_salted_equivalence",
    oracle="""
    SELECT o_orderkey, c_name FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 300000
    """,
)
def join_salted_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join under the correctness gate: its result must be
    EXACTLY the plain join's (the oracle is the unsalted SQL join)."""
    from ..operators.skew import salted_join

    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    customer = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return salted_join(orders, customer, "o_custkey", num_salts=6).select(
        "o_orderkey", "c_name"
    )


def _sql_lsh_then_verify(bucket_cap: int | None, df_cap: int | None) -> str:
    """Oracle SQL for the composed LSH->verify pipeline, parameterized by the
    two hot-key guards so the capped and uncapped oracles share one body."""
    if bucket_cap is None:
        cands = f"""
      SELECT DISTINCT doc_a, doc_b FROM (
        {" UNION ALL ".join(
          f'''SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
              ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id'''
          for b in range(N_BANDS)
        )}
      )"""
    else:
        cands = f"""
      WITH long AS (
        {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, band{b} AS key FROM bands"
          for b in range(N_BANDS)
        )}
      ), buckets AS (
        SELECT band_idx, key, list_sort(list(doc_id)) AS ids
        FROM long GROUP BY band_idx, key
        HAVING COUNT(*) > 1 AND COUNT(*) <= {bucket_cap})
      SELECT DISTINCT x.i AS doc_a, y.i AS doc_b
      FROM buckets, UNNEST(ids) AS x(i), UNNEST(ids) AS y(i)
      WHERE x.i < y.i"""
    ex_ctes = "ex AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh)"
    if df_cap is not None:
        ex_ctes = f"""exd AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    keep AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM exd GROUP BY s)
             WHERE df <= {df_cap}),
    ex AS (SELECT exd.doc_id, exd.s FROM exd JOIN keep USING (s))"""
    return f"""
    WITH bands AS ({_SQL_BANDS}),
    cands AS ({cands}),
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
      WHERE LEN(toks) >= 3),
    {ex_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN ex a ON a.doc_id = c.doc_a
      JOIN ex b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    """


_SQL_LSH_THEN_VERIFY = _sql_lsh_then_verify(None, None)
_SQL_LSH_THEN_VERIFY_CAPPED = _sql_lsh_then_verify(LSH_BUCKET_CAP, SHINGLE_DF_CAP)


def _lsh_then_verify_spark(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None,
    df_cap: int | None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Composed LSH->verify plan, shared by the capped and uncapped queries.
    ``docs`` overrides the corpus (must carry doc_id, text) — used by the
    collapse-then-near composition to run on exact-dup representatives."""
    d = docs if docs is not None else t_parallel(spark, sf_dir, "documents")
    bands = _minhash_prep_spark(d)
    cands = _lsh_candidate_pairs(bands, cap=bucket_cap)
    return _verify_candidates_spark(cands, d, df_cap)


def _verify_candidates_spark(
    cands: DataFrame,
    d: DataFrame,
    df_cap: int | None,
    ex: DataFrame | None = None,
) -> DataFrame:
    """The verify half of the LSH->verify composition over prebuilt
    candidate pairs — split out so the bench harness can time nominate and
    verify from materialized stage boundaries (the ivf_build/ivf_search
    pattern) while the composed queries keep one fused body. ``ex``
    overrides the (doc_id, s) shingle index when the caller already holds
    it materialized (the prefix-filter path, which needs the same index
    for its df ordering)."""
    if ex is None:
        ex = _distinct_shingles(d)
    if df_cap is not None:
        ex = _df_capped_shingles(ex, df_cap)
    # one consumer of the nominate tower instead of two (round 17): the
    # union of two selects planned the whole candidate pipeline twice;
    # exploding each pair into both ids reads it once — same distinct set.
    # A/B (alternating mins vs the r16 tree): lsh_capped 0.93-0.94,
    # collapse_then_lsh 0.89-1.01, collapse_then_prefix 0.70-0.80,
    # prefix_filter_pairs 0.90-0.94 at sf0.1 and the 10x rehearsal.
    cand_docs = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    ex_c = ex.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    # sizes stays on the FULL index, not the candidate-pruned ex_c
    # (measured and REJECTED, round 17): the inner joins below only read
    # candidate docs' sizes, so sizes-from-ex_c is equivalent and prunes
    # the aggregation — but it chains sizes BEHIND the candidate tower,
    # serializing work that runs as a parallel stage here (the r16
    # checkpoint-rejection mechanism): dedup_collapse_then_prefix_verify
    # read 1.30 at sf0.1 and dedup_collapse_then_lsh_verify 1.27 at 10x
    # with the pruned form, against 0.78/0.90 wins on the standalone
    # capped row — the standalone win survives via the explode cut alone.
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))

    a = ex_c.select(F.col("doc_id").alias("doc_a"), "s")
    b = ex_c.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        F.broadcast(cands)
        .join(a, "doc_a")
        .join(b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    return j.filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)).select(
        "doc_a", "doc_b", "jaccard"
    )


@register("dedup_lsh_then_verify_uncapped_baseline", oracle=_SQL_LSH_THEN_VERIFY)
def dedup_lsh_then_verify_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE (not the production entry): the composed two-stage near-dup
    pipeline with NO hot-key guards:

    1. LSH bands nominate candidate pairs (bounded by bucket size);
    2. exact Jaccard verifies ONLY the candidates: the shingle inverted
       index is semi-joined down to candidate docs before the intersection
       join, so verify cost scales with candidates, not the corpus.

    SCALE WARNING: without the bucket/df caps, one hot LSH bucket or one
    boilerplate shingle makes a join group quadratic. Registered only as
    the lossless reference; ``dedup_lsh_then_verify`` (the primary name)
    engages both caps and is what a production dedup job runs."""
    return _lsh_then_verify_spark(spark, sf_dir, None, None)


@register("dedup_lsh_then_verify", oracle=_SQL_LSH_THEN_VERIFY_CAPPED)
@register("dedup_lsh_then_verify_capped", oracle=_SQL_LSH_THEN_VERIFY_CAPPED)
def dedup_lsh_then_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed two-stage near-dup pipeline — the PRIMARY production
    entry, with BOTH hot-key guards engaged (the 100 TB shape):

    - LSH buckets larger than LSH_BUCKET_CAP are dropped at nomination
      (bounds candidate generation at cap^2 per bucket);
    - shingles with document frequency > SHINGLE_DF_CAP are dropped from the
      verify index (bounds every intersection join group — the candidate
      semi-join shields volume, but a single boilerplate shingle would still
      fan out quadratically inside the `s`-equality join without this).

    Both caps are query semantics: the oracle applies the identical cuts."""
    return _lsh_then_verify_spark(spark, sf_dir, LSH_BUCKET_CAP, SHINGLE_DF_CAP)


@register(
    "dedup_collapse_then_lsh_verify",
    oracle=f"""
    WITH documents AS (
      -- shadows the base view: main.documents is the pre-collapse corpus,
      -- every reference below (incl. the generated pipeline SQL) sees reps
      SELECT MIN(doc_id) AS doc_id, MIN(text) AS text, COUNT(*) AS n_copies
      FROM main.documents GROUP BY md5(text)),
    pairs AS (SELECT * FROM ({_SQL_LSH_THEN_VERIFY_CAPPED}))
    SELECT p.doc_a, p.doc_b, p.jaccard,
           ra.n_copies AS copies_a, rb.n_copies AS copies_b
    FROM pairs p
    JOIN documents ra ON ra.doc_id = p.doc_a
    JOIN documents rb ON rb.doc_id = p.doc_b
    """,
)
def dedup_collapse_then_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup composition: EXACT-collapse first, then the
    capped LSH->verify near-dup on unique texts only.

    Verbatim copies are the dominant duplicate class in web-scale corpora,
    and they are poison for near-dup machinery: k exact copies form a
    k-clique whose pair space grows k^2 inside every LSH bucket and shingle
    join group (measured in BENCH_SF1.md: a 10x-replicated corpus drove the
    standalone capped verify to 6.3x). Collapsing by content hash FIRST — one
    cheap shuffle — reduces every clique to one representative carrying its
    copy count, so the expensive stage sees each distinct text once. Output:
    near-dup pairs between representatives with both sides' copy counts
    (duplicate-weighted near-dup mass; expanding back to all doc_ids is the
    one-hop join on content_hash). The oracle shadows the corpus with the
    identical collapse CTE, so the driver hash-checks the composition."""
    d = t_parallel(spark, sf_dir, "documents")
    reps = d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
        F.count("*").alias("n_copies"),
    )
    pairs = _lsh_then_verify_spark(
        spark, sf_dir, LSH_BUCKET_CAP, SHINGLE_DF_CAP,
        docs=reps.select("doc_id", "text"),
    )
    ca = reps.select(F.col("doc_id").alias("doc_a"), F.col("n_copies").alias("copies_a"))
    cb = reps.select(F.col("doc_id").alias("doc_b"), F.col("n_copies").alias("copies_b"))
    return (
        pairs.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .select("doc_a", "doc_b", "jaccard", "copies_a", "copies_b")
    )


@register(
    "pipeline_prepare_corpus",
    oracle=f"""
    WITH documents AS (
      -- stage 1+2: drop the benchmark set, keep quality passes, collapse
      -- exact duplicates to their min-id representative (shadows the base
      -- view: the generated near-dup SQL below sees ONLY these reps)
      SELECT MIN(doc_id) AS doc_id, MIN(text) AS text, COUNT(*) AS n_copies
      FROM main.documents
      WHERE NOT ({_BENCH_FILTER})
        AND LEN(string_split(lower(text), ' ')) >= 5
        AND CAST(LEN(list_filter(string_split(lower(text), ' '),
                                 w -> w IN ({_SW_SQL}))) AS DOUBLE)
            / LEN(string_split(lower(text), ' ')) > 0.05
      GROUP BY md5(text)),
    pairs AS (SELECT doc_a, doc_b FROM ({_SQL_LSH_THEN_VERIFY_CAPPED})),
    nbr_min AS (
      SELECT doc_id, MIN(nbr) AS mn FROM (
        SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs) e
      GROUP BY doc_id),
    bench AS (
      SELECT DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
      FROM main.documents WHERE {_BENCH_FILTER})
    SELECT d.doc_id, d.n_copies,
           CASE WHEN substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1)
                     < 'd' THEN 'train' ELSE 'holdout' END AS split
    FROM documents d
    LEFT JOIN nbr_min nm ON nm.doc_id = d.doc_id
    LEFT JOIN bench b
      ON b.fp = md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))
    WHERE (nm.mn IS NULL OR nm.mn > d.doc_id)
      AND b.fp IS NULL
    """,
)
def pipeline_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data prep pipeline as one composed query — what a
    user of this engine actually runs, end to end:

    1. drop the benchmark/eval set (here the _BENCH_FILTER stand-in);
    2. quality filter (length + stopword-density, text_quality_score's
       exact predicate);
    3. exact-collapse verbatim copies by content hash (min-id rep carries
       its copy count) — one cheap shuffle that shields every later stage
       from duplicate cliques (BENCH_SF1.md);
    4. near-dup removal on the unique reps via the capped LSH->verify
       pipeline: a rep survives only if it has no verified near-dup with a
       smaller id (one-hop canonical keep);
    5. exact decontamination against the benchmark fingerprints (broadcast
       lookup, never text comparison);
    6. deterministic md5 train/holdout split of the survivors.

    Every stage is the registered operator's exact logic; the DuckDB oracle
    chains the same stage SQLs over a collapse CTE that shadows the corpus,
    so the driver hash-checks the full composition, not just the parts.
    Output: one row per surviving representative (doc_id, n_copies, split).
    """
    return prepare_corpus(spark, sf_dir)


def prepare_corpus(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """df-level core of ``pipeline_prepare_corpus`` with the materialization
    boundary selectable, the same two modes as PageRank's round boundary
    (ledger.py ``_round_boundary``):

    - ``checkpoint_dir=None`` (default, the registered query):
      ``localCheckpoint`` — executor-local blocks, fastest, NOT
      fault-tolerant (a lost executor fails the job, which retries from
      the start);
    - ``checkpoint_dir=<durable path>``: reliable ``checkpoint()`` —
      cluster mode; a lost executor recovers from the checkpoint files
      instead of killing the lineage-truncated run.

    Same plan shape and identical rows in both modes (asserted in
    tests/test_scale_ops.py). Measured at sf0.1 best-of-2 in one warm
    session: localCheckpoint 4.5 s, unmaterialized 6.2 s, persist() 12.3 s
    (the InMemoryRelation defeats AQE's stage planning downstream and the
    run devolves into a long chain of sequential shuffle stages); reliable
    checkpoint() premium measured in the same-session A/B recorded beside
    those numbers in BASELINE.md."""
    d = t_parallel(spark, sf_dir, "documents")
    # Materialize the collapse output ONCE: its subtree (scan + quality
    # filter + exact-collapse shuffle) has THREE consumers downstream
    # (minhash bands, the shingle index, and the finalize join) and an
    # unmaterialized plan re-executes it for each — at 100 TB that is
    # three redundant full corpus scans per run.
    reps_plan = (
        prepare_collapse_reps(prepare_quality_filter(d))
        # content_hash is dead past the collapse — drop it before the
        # materialization so the checkpoint doesn't store a second hash
        # column per row
        .select("doc_id", "text", "n_copies")
    )
    if checkpoint_dir is None:
        reps = reps_plan.localCheckpoint(eager=True)
    else:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        reps = reps_plan.checkpoint(eager=True)
    pairs = _lsh_then_verify_spark(
        spark, sf_dir, LSH_BUCKET_CAP, SHINGLE_DF_CAP,
        docs=reps.select("doc_id", "text"),
    ).select("doc_a", "doc_b")
    return prepare_finalize(reps, pairs, d)


def prepare_quality_filter(d: DataFrame) -> DataFrame:
    """Stages 1+2 of pipeline_prepare_corpus (benchmark drop + quality
    gate) — ONE definition shared with the bench stage harness
    (``bench.py::time_prepare_corpus_split``), so the per-stage timing rows
    can never drift from the composed query they decompose."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
    return d.filter(~F.expr(_BENCH_FILTER)).filter(
        (n_tokens >= 5) & (n_stop.cast("double") / n_tokens > 0.05)
    )


def prepare_collapse_reps(train: DataFrame) -> DataFrame:
    """Stage 3: exact-collapse to min-id representatives (shared with the
    bench stage harness)."""
    return train.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
        F.count("*").alias("n_copies"),
    )


def prepare_finalize(reps: DataFrame, pairs: DataFrame, d: DataFrame) -> DataFrame:
    """Stages 4b-6: one-hop canonical keep over verified pairs, exact
    decontamination, md5 split (shared with the bench stage harness).
    ``pairs`` needs columns (doc_a, doc_b); ``d`` is the RAW corpus (the
    benchmark fingerprints come from the pre-filter table)."""
    pairs = pairs.select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr")).union(
        pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("nbr"))
    )
    mins = edges.groupBy("doc_id").agg(F.min("nbr").alias("mn"))
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    bench = (
        d.filter(F.expr(_BENCH_FILTER))
        .select(fp.alias("fp"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    kept = (
        reps.join(mins, "doc_id", "left")
        .filter(F.col("mn").isNull() | (F.col("mn") > F.col("doc_id")))
        .withColumn("fp", fp)
        .join(F.broadcast(bench), "fp", "left")
        .filter(F.col("hit").isNull())
    )
    digit = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1
    )
    return kept.select(
        "doc_id",
        "n_copies",
        F.when(digit < "d", "train").otherwise("holdout").alias("split"),
    )


@register(
    "dedup_canonical_assign",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_SQL_LSH_THEN_VERIFY_CAPPED})),
    edges AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs),
    mins AS (SELECT doc_id, MIN(nbr) AS mn FROM edges GROUP BY doc_id)
    SELECT d.doc_id,
           LEAST(d.doc_id, mn) AS canonical_id,
           CAST(CASE WHEN mn IS NOT NULL AND mn < d.doc_id
                     THEN 1 ELSE 0 END AS INT) AS is_duplicate
    FROM documents d LEFT JOIN mins ON mins.doc_id = d.doc_id
    """,
)
def dedup_canonical_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final dedup step: assign each document a canonical id — the minimum
    over itself and its verified near-dup neighbors (one propagation step).

    Exact for the dominant real-world cluster shape (every member of a
    duplicate group pairs with the group minimum, since near-identical docs
    share bands pairwise); transitive chains of diameter > 2 need the
    iterated fixpoint — repeat the edges-min join until no canonical_id
    changes, each round one shuffle (the standard large-graph min-label
    propagation; rounds = graph diameter, 2-3 for dedup graphs in practice).
    Both engines ignore NULL in LEAST, so no-neighbor docs keep doc_id."""
    pairs = dedup_lsh_then_verify(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    edges = pairs.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr")).union(
        pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("nbr"))
    )
    mins = edges.groupBy("doc_id").agg(F.min("nbr").alias("mn"))
    return docs.join(mins, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("doc_id"), F.col("mn")).alias("canonical_id"),
        F.when(F.col("mn").isNotNull() & (F.col("mn") < F.col("doc_id")), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_duplicate"),
    )


@register(
    "dedup_groups_connected",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_SQL_LSH_THEN_VERIFY_CAPPED})),
    sym AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION ALL
      SELECT doc_b AS x, doc_a AS y FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS r FROM documents
      UNION
      SELECT s.y AS node, reach.r FROM sym s JOIN reach ON reach.node = s.x)
    SELECT node AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY node
    """,
)
def dedup_groups_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connected-components dedup grouping: every document labeled with
    the minimum doc_id of its near-dup cluster, via iterative min-label
    propagation (operators.graph) to the fixpoint — exact for ANY cluster
    shape, unlike the one-hop dedup_canonical_assign.

    The DuckDB oracle computes the same components with a recursive CTE, so
    the driver's value-hash check covers the distributed iteration."""
    from ..operators.graph import min_label_propagation

    pairs = dedup_lsh_then_verify(spark, sf_dir).select("doc_a", "doc_b")
    nodes = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = min_label_propagation(nodes, edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("canonical_id"))


def _sql_groups_connected() -> str:
    from .registry import QUERIES

    return QUERIES["dedup_groups_connected"].oracle


@register(
    "split_leakage_safe",
    oracle=f"""
    SELECT g.doc_id, g.canonical_id,
           CASE WHEN substring(md5('split:' || CAST(g.canonical_id AS VARCHAR)), 1, 1)
                     < 'd' THEN 'train' ELSE 'holdout' END AS split
    FROM ({_sql_groups_connected()}) g
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split: hash the near-dup GROUP's canonical
    id, not the document's own id, so no near-duplicate pair ever straddles
    the split boundary — the contamination mode a per-document hash split
    (split_hash_assign) cannot prevent: doc A in train and its 95%-identical
    twin B in holdout silently leaks training content into evaluation.

    Composition: connected-components grouping (min-label propagation to
    the fixpoint, one shuffle per round) -> the same md5 split rule applied
    to canonical_id. Group members agree on canonical_id by construction,
    so agreement on split needs no extra join or window. Oracle composed
    from dedup_groups_connected's own recursive-CTE SQL — one source of
    truth for the grouping."""
    groups = dedup_groups_connected(spark, sf_dir)
    digit = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("canonical_id").cast("string"))), 1, 1
    )
    return groups.select(
        "doc_id",
        "canonical_id",
        F.when(digit < "d", "train").otherwise("holdout").alias("split"),
    )


@register(
    "corpus_dup_stats",
    oracle=f"""
    WITH g AS (SELECT md5(text) AS ch, COUNT(*) AS c
               FROM documents GROUP BY md5(text)),
    p AS (SELECT COUNT(*) AS n_near_pairs
          FROM ({_SQL_LSH_THEN_VERIFY_CAPPED}))
    SELECT (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM g) AS n_docs,
           (SELECT COUNT(*) FROM g) AS n_unique_texts,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM g WHERE c > 1)
             AS n_docs_in_dup_groups,
           (SELECT MAX(c) FROM g) AS max_clique,
           p.n_near_pairs
    FROM p
    """,
)
def corpus_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile — the diagnostic a pipeline runs BEFORE
    choosing its dedup strategy (and the one that explains cross-round
    bench drift on the pair-generating funnels): document count, unique
    texts, docs living in exact-dup groups, the largest exact clique, and
    the capped near-dup pair count. One row of exact integers.

    100 TB shape: one hash-groupBy (same single shuffle as dedup_exact —
    the text never travels), three scalar aggregates over the group-size
    table, and the pair funnel count the production composition would run
    anyway. All 1-row frames combine via broadcast."""
    d = t(spark, sf_dir, "documents")
    g = (
        d.select(F.md5("text").alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("c"))
    )
    stats = g.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.count("*").alias("n_unique_texts"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("n_docs_in_dup_groups"),
        F.max("c").alias("max_clique"),
    )
    pairs = (
        dedup_lsh_then_verify(spark, sf_dir)
        .agg(F.count("*").alias("n_near_pairs"))
    )
    return stats.crossJoin(F.broadcast(pairs))


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_SQL_LSH_THEN_VERIFY_CAPPED})),
    lab AS (
      SELECT LEAST(sa.source, sb.source) AS src_lo,
             GREATEST(sa.source, sb.source) AS src_hi
      FROM pairs p
      JOIN documents sa ON sa.doc_id = p.doc_a
      JOIN documents sb ON sb.doc_id = p.doc_b)
    SELECT src_lo, src_hi, COUNT(*) AS n_pairs
    FROM lab GROUP BY src_lo, src_hi
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: verified near-dup pair counts per
    unordered source pair — the standard curation question ("is Common
    Crawl re-serving my books corpus?") answered from the pair list the
    dedup funnel already produces. Source pairs are canonicalized with
    least/greatest so the matrix is upper-triangular regardless of pair
    orientation.

    100 TB shape: the pair list is output of the capped funnel (bounded
    per hot key), orders of magnitude smaller than the corpus; the two
    source lookups are joins on doc_id against the pruned (doc_id, source)
    projection, and the final matrix aggregate is |sources|^2 rows at
    most. No new pair generation happens here."""
    pairs = dedup_lsh_then_verify(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "multimodal_resize_dims",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
             CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height
      FROM documents WHERE doc_id % 3 = 0)
    SELECT media_id, width, height,
           CAST(CASE WHEN width <= 320 AND height <= 240 THEN width
                     WHEN width * 240 >= height * 320 THEN 320
                     ELSE GREATEST(1, (width * 240) // height) END AS BIGINT)
             AS new_width,
           CAST(CASE WHEN width <= 320 AND height <= 240 THEN height
                     WHEN width * 240 >= height * 320
                       THEN GREATEST(1, (height * 320) // width)
                     ELSE 240 END AS BIGINT) AS new_height
    FROM img
    """,
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (operators.multimodal.resize_images): decode ->
    integer aspect-fit into 320x240 -> (stubbed) resample, one Arrow pass,
    no shuffle. The dimension math is integer-only so the oracle replays it
    exactly; a real codec changes only the resample body, not the plan."""
    from ..operators.multimodal import documents_as_media, resize_images

    media = documents_as_media(t(spark, sf_dir, "documents"))
    return resize_images(media, max_w=320, max_h=240)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH vid AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2)
    SELECT media_id, CAST(UNNEST(generate_series(0, n_frames - 1, 8)) AS BIGINT)
             AS frame_idx
    FROM vid
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (operators.multimodal.sample_frames): every 8th
    frame index per video, exploded to one row per sampled frame — the
    fan-out shape per-frame feature extraction runs over at scale."""
    from ..operators.multimodal import documents_as_media, sample_frames

    media = documents_as_media(t(spark, sf_dir, "documents"))
    return sample_frames(media, every_n=8)


@register(
    "reducer_sequence_batch",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS prev_type
      FROM events)
    SELECT user_id AS key,
           CAST(COUNT(*) FILTER (WHERE prev_type = 'view'
                                   AND event_type = 'purchase') AS BIGINT)
             AS n_matches,
           COUNT(*) AS n_events
    FROM o GROUP BY user_id
    """,
)
def reducer_sequence_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The suffix-anchored pattern reducer (sink.rs:139-148) in batch form:
    count view -> purchase transitions per user in (seconds, event_id)
    order. The oracle is the stateless LAG rewrite — valid in batch because
    the whole history is one 'batch'; the stateful reducer additionally
    counts patterns straddling micro-batch boundaries when streamed (see
    tests/test_streaming.py::test_sequence_reducer_stream_matches_batch)."""
    from ..streaming.reducer import SequenceCountReducer, reduce_events_batch

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("block_number"),
        F.col("event_id").alias("log_index"),
    )
    return reduce_events_batch(ev, SequenceCountReducer(), ["user_id"])


@register(
    "dedup_minhash_lsh_pairs_capped",
    oracle=f"""
    WITH bands AS ({_SQL_BANDS}),
    long AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS key FROM bands"
        for b in range(N_BANDS)
      )}
    ),
    buckets AS (
      SELECT band_idx, key, list_sort(list(doc_id)) AS ids
      FROM long GROUP BY band_idx, key
      HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}),
    pairs AS (
      SELECT x.i AS doc_a, y.i AS doc_b
      FROM buckets, UNNEST(ids) AS x(i), UNNEST(ids) AS y(i)
      WHERE x.i < y.i)
    SELECT DISTINCT doc_a, doc_b FROM pairs
    """,
)
def dedup_minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the HOT-BUCKET CAP applied — the guard the
    uncapped query's docstring promises for 100 TB. A degenerate band key
    (boilerplate text, empty-ish docs) can put millions of docs in one
    bucket, turning candidate generation into O(bucket^2); capping drops
    such buckets entirely (their members are then handled by the remaining
    bands or an upstream exact-hash pass). The cap is part of the query
    semantics, so the oracle applies the identical HAVING bound —
    deterministic and value-checked, not a silent truncation."""
    bands = _minhash_prep_spark(t_parallel(spark, sf_dir, "documents"))
    return _lsh_candidate_pairs(bands, cap=LSH_BUCKET_CAP)


@register(
    "split_hash_assign",
    oracle="""
    SELECT doc_id,
           CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
                     < 'd' THEN 'train' ELSE 'holdout' END AS split
    FROM documents
    """,
)
def split_hash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split by content-independent key hash —
    the reproducible alternative to RNG sampling (engine RNGs are not
    portable; md5 is). First hex digit < 'd' => train (13/16 ~ 81%).
    Stable across runs, engines, and cluster sizes; adding data never
    reassigns an existing id."""
    return split_assign(t(spark, sf_dir, "documents"))


def split_assign(df: DataFrame) -> DataFrame:
    """The split_hash_assign core as a DataFrame-in/DataFrame-out transform.

    STATELESS (the assignment depends only on the row's id), so the same
    expression runs unchanged as a streaming twin — new documents arriving
    on a stream get the identical split a batch re-run would give them
    (tested for parity in test_streaming.py)."""
    digit = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1
    )
    return df.select(
        "doc_id",
        F.when(digit < "d", "train").otherwise("holdout").alias("split"),
    )


@register(
    "sample_balanced_per_source",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def sample_balanced_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced subsample: up to 10 docs per source, chosen in
    md5-of-id order — a deterministic pseudo-random draw (uniform over ids,
    reproducible everywhere, no RNG state). The WindowGroupLimit rank
    filter keeps only ~10 rows per group flowing past the shuffle."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Decontamination (benchmark-leakage checks)
# ---------------------------------------------------------------------------

@register(
    "decontaminate_exact",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE {_BENCH_FILTER})
    SELECT d.doc_id,
           CAST(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS contaminated
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
          FROM documents WHERE NOT ({_BENCH_FILTER})) d
    LEFT JOIN bench b ON b.fp = d.fp
    """,
)
def decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decontamination: flag training docs whose normalized-content
    fingerprint appears in the benchmark set. The benchmark fingerprints
    are a broadcast build side (eval suites are tiny next to the corpus);
    the corpus is scanned once — the 100 TB shape is hash-then-broadcast-
    lookup, never text comparison."""
    d = t(spark, sf_dir, "documents")
    bench = bench_fingerprints(d)
    return decontaminate_against(d.filter(~F.expr(_BENCH_FILTER)), bench)


def _content_fp() -> Column:
    """Normalized-content fingerprint (whitespace-collapsed lowercase md5)."""
    return F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))


def bench_fingerprints(docs: DataFrame) -> DataFrame:
    """Distinct benchmark fingerprints — the tiny static broadcast side."""
    return (
        docs.filter(F.expr(_BENCH_FILTER))
        .select(_content_fp().alias("fp"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def decontaminate_against(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """The decontaminate_exact core as a transform over any docs frame —
    batch or STREAMING (a stream-static broadcast join is stateless: each
    micro-batch probes the fixed benchmark set; parity with the batch run
    is tested in test_streaming.py)."""
    probe = docs.select("doc_id", _content_fp().alias("fp"))
    return probe.join(F.broadcast(bench), "fp", "left").select(
        "doc_id",
        F.when(F.col("hit").isNotNull(), 1).otherwise(0).cast("int").alias("contaminated"),
    )


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH btoks AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                   FROM documents WHERE {_BENCH_FILTER}),
    bgrams AS (
      SELECT DISTINCT UNNEST(list_transform(generate_series(1, LEN(toks) - 7),
                      i -> list_aggregate(toks[i:i+7], 'string_agg', ' ')))
               AS g
      FROM btoks WHERE LEN(toks) >= 8),
    ttoks AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents WHERE NOT ({_BENCH_FILTER})),
    tgrams AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, LEN(toks) - 7),
                    i -> list_aggregate(toks[i:i+7], 'string_agg', ' '))) AS g
      FROM ttoks WHERE LEN(toks) >= 8)
    SELECT t.doc_id, COUNT(b.g) AS n_shared_8grams
    FROM tgrams t JOIN bgrams b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination: training docs sharing any word 8-gram with
    the benchmark set, with the shared-gram count (the standard leakage
    test for long verbatim overlaps that survive light edits). The
    benchmark gram set broadcasts; the corpus grams stream past it — no
    corpus-side self-join."""
    d = t_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ", -1)
    gram8 = (
        "transform(sequence(1, size(toks) - 7), "
        "i -> array_join(slice(toks, i, 8), ' '))"
    )
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 8)
    bgrams = (
        base.filter(F.expr(_BENCH_FILTER))
        .select(F.explode(F.expr(gram8)).alias("g"))
        .distinct()
    )
    tgrams = (
        base.filter(~F.expr(_BENCH_FILTER))
        .select("doc_id", F.explode(F.expr(gram8)).alias("g"))
        .distinct()
    )
    return (
        tgrams.join(F.broadcast(bgrams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_8grams"))
    )


# semantic-decontamination cosine threshold: flags the ~top-3% most
# benchmark-similar corpus vectors on the synthetic embeddings (p97 of
# the max-cosine distribution is ~0.36) — production tunes this per suite
SEMDECON_TAU = 0.35


@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH b AS (SELECT embedding AS be FROM embeddings WHERE {_BENCH_FILTER.replace("doc_id", "vec_id")}),
    c AS (SELECT vec_id, embedding AS e FROM embeddings
          WHERE NOT ({_BENCH_FILTER.replace("doc_id", "vec_id")})),
    s AS (
      SELECT c.vec_id,
             MAX(ROUND({_SQL_COSINE.replace("a[i]", "e[i]").replace("LEN(a)", "LEN(e)").replace("b[i]", "be[i]")}, 6))
               AS max_cosine
      FROM c, b GROUP BY c.vec_id)
    SELECT vec_id, max_cosine,
           CAST(CASE WHEN max_cosine >= {SEMDECON_TAU} THEN 1 ELSE 0 END AS INT)
             AS contaminated
    FROM s
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the third lane next to the exact and
    8-gram passes: flag training vectors whose embedding is too close
    (max cosine >= SEMDECON_TAU) to ANY benchmark vector, catching
    paraphrased or reformatted eval content that shares no fingerprint or
    8-gram with the original.

    Same benchmark convention as decontaminate_exact (ids < 20 play the
    eval suite). Per-pair cosines round to 6 places before the max, so
    both engines take the max of identical values.

    100 TB shape: the benchmark set is broadcast (eval suites are tiny
    next to the corpus) and the corpus is scanned ONCE — per vector it is
    a |bench|-wide codegen'd fold, embarrassingly parallel, no shuffle
    except the per-vector max (which partial-aggregates map-side). When
    the benchmark set itself is large, prune the comparison through the
    persisted IVF index first (``ann_probe``): probe each benchmark
    vector's N_PROBE cells and score only those candidates — the same
    composition the serving cycle uses.
    """
    e = t(spark, sf_dir, "embeddings")
    bench_pred = _BENCH_FILTER.replace("doc_id", "vec_id")
    bench = e.filter(F.expr(bench_pred)).select(F.col("embedding").alias("b"))
    return decontaminate_semantic_against(e.filter(~F.expr(bench_pred)), bench)


def decontaminate_semantic_against(vectors: DataFrame, bench: DataFrame) -> DataFrame:
    """The decontaminate_semantic core as a transform over any vectors
    frame (columns ``vec_id``, ``embedding``) against a STATIC benchmark
    frame (column ``b``) — batch or STREAMING: the broadcast cross join
    and the per-vector max are both within-row/within-key, so each
    micro-batch probes the frozen benchmark set independently and the
    union over micro-batches equals one batch run exactly (the
    ``decontaminate_against`` contract; parity-tested in
    test_streaming.py)."""
    dot = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = dot.replace("CAST(b AS ARRAY<DOUBLE>)", "CAST(embedding AS ARRAY<DOUBLE>)")
    nb = dot.replace("CAST(embedding AS ARRAY<DOUBLE>)", "CAST(b AS ARRAY<DOUBLE>)", 1)
    return (
        vectors.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_cosine"))
        .select(
            "vec_id",
            "max_cosine",
            F.when(F.col("max_cosine") >= SEMDECON_TAU, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
    )


@register(
    "embedding_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_SQL_NEARDUP_CTES},
    sym AS (SELECT vec_a AS x, vec_b AS y FROM neardup_pairs
            UNION ALL SELECT vec_b, vec_a FROM neardup_pairs),
    reach AS (
      SELECT vec_id AS node, vec_id AS r FROM embeddings
      UNION
      SELECT s.y, reach.r FROM sym s JOIN reach ON reach.node = s.x)
    SELECT node AS vec_id, MIN(r) AS canonical_id FROM reach GROUP BY node
    """,
)
def embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: LSH-bucketed cosine near-dup pairs
    (embedding_neardup_pairs' nomination + verify) fed into min-label
    propagation — each vector labeled with its cluster's minimum id, exact
    for any cluster shape via the iterated fixpoint; the oracle replays it
    with a recursive CTE."""
    from ..operators.graph import min_label_propagation

    pairs = embedding_neardup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    nodes = t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"))
    edges = pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")).union(
        pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    labels = min_label_propagation(nodes, edges)
    return labels.select(
        F.col("id").alias("vec_id"), F.col("label").alias("canonical_id")
    )


@register(
    "text_redact_pii",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           LEN(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+')) AS n_emails,
           LEN(regexp_extract_all(t, '\\+1-[0-9]{3}-[0-9]{4}')) AS n_phones,
           md5(regexp_replace(regexp_replace(t,
                 '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                 '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect-and-redact emails and phone numbers with pure
    JVM regexes (the pre-training privacy pass). The fixture corpus has no
    PII, so the query plants a deterministic email+phone per doc and the
    oracle verifies the exact redacted output via md5 — the operator under
    test is the regex pipeline, which is what runs at 100 TB."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = "[a-z0-9._]+@[a-z0-9.-]+"
    phone_re = "\\+1-[0-9]{3}-[0-9]{4}"
    t_aug = aug.alias("t")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t_aug, F.lit(email_re), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t_aug, F.lit(phone_re), 0)).alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace(t_aug, email_re, "<EMAIL>"), phone_re, "<PHONE>"
            )
        ).alias("redacted_md5"),
    )


@register(
    "text_repetition_ratio",
    oracle="""
    SELECT doc_id, n_grams, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS rep_ratio
    FROM (
      SELECT doc_id,
             LEN(grams) AS n_grams,
             LEN(list_distinct(grams)) AS n_distinct
      FROM (SELECT doc_id,
                   list_transform(generate_series(1, LEN(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents)
            WHERE LEN(toks) >= 3) g)
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher-style quality signal):
    duplicate word-3-gram fraction per doc. All array ops, no shuffle —
    a pure map over the corpus; integer counts -> one exact division."""
    return repetition_of(t(spark, sf_dir, "documents"))


def repetition_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``text_repetition_ratio`` (stateless; streams as-is)."""
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("toks")
    ).filter(F.size("toks") >= 3)
    g = toks.select("doc_id", F.expr(_SPARK_SHINGLES).alias("grams"))
    return g.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct"),
        (
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_grams")
        ).alias("rep_ratio"),
    )


CHUNK_TOKENS = 64
PACK_TOKENS = 2048


@register(
    "chunk_documents",
    oracle=f"""
    SELECT doc_id, i AS chunk_idx,
           list_aggregate(toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}],
                          'string_agg', ' ') AS chunk_text,
           LEN(toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}])
             AS n_chunk_tokens
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
          FROM documents WHERE doc_id < 300),
         UNNEST(generate_series(0,
             CAST(CEIL(LEN(toks) / {CHUNK_TOKENS}.0) AS INT) - 1)) AS u(i)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunking: split each document into 64-token pieces
    with positional ids — the fan-out every context-window pipeline runs
    before tokenization. Pure explode-over-sequence, no shuffle; chunk
    boundaries are deterministic functions of the token array."""
    return chunk_of(t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))


def chunk_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``chunk_documents`` — stateless per-row fan-out
    (explode over a sequence), so it runs unchanged over a stream (append
    mode, no watermark; parity pinned in test_streaming)."""
    # no empty-array guard: split() always yields >= 1 token (an empty text
    # tokenizes to ['']), so every doc emits at least one chunk
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(float(CHUNK_TOKENS))).cast("int")
    ex = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_TOKENS + 1, CHUNK_TOKENS
    )
    return ex.select(
        "doc_id",
        "chunk_idx",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


@register(
    "chunk_documents_cdc",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents WHERE doc_id < 300),
    pos AS (
      SELECT doc_id, i AS pos, toks[i] AS tok,
             CASE WHEN i > 1
                   AND substring(md5(toks[i - 1] || ' ' || toks[i]), 1, 1) = '0'
                  THEN 1 ELSE 0 END AS boundary
      FROM toks, UNNEST(generate_series(1, LEN(toks))) AS u(i)),
    c AS (
      SELECT doc_id, pos, tok,
             CAST(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS BIGINT) AS chunk_idx
      FROM pos)
    SELECT doc_id, chunk_idx,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
    FROM c GROUP BY doc_id, chunk_idx
    """,
)
def chunk_documents_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking (the dedup-friendly alternative to the
    fixed-size ``chunk_documents``): a chunk boundary opens before token i
    whenever md5 of the (token[i-1], token[i]) bigram starts with '0' —
    expected chunk length 16 tokens, boundaries anchored to CONTENT. The
    property fixed-size chunking lacks: inserting one sentence at the top
    of a document shifts every fixed chunk (all hashes change, dedup
    misses everything downstream), while CDC boundaries after the edit
    point are unchanged, so shared spans keep identical chunk hashes
    across document revisions — the rsync/LBFS trick applied to corpus
    boilerplate removal (the chunk_hash column joins directly against the
    scrub family's chunk indexes).

    Plan shape: ROW-LOCAL — boundary positions by a linear array filter,
    chunk texts by zip_with slices between consecutive boundaries, then
    one posexplode fan-out. ZERO shuffles, no window, no aggregate (gated
    in test_plan_quality); stateless per row, so the chunker streams in
    append mode (parity in test_streaming). See ``cdc_chunks_of`` for the
    measured comparison against the window form it replaced."""
    return cdc_chunks_of(
        t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ).select("doc_id", "chunk_idx", "n_tokens", "chunk_hash")


def cdc_chunks_of(docs: DataFrame) -> DataFrame:
    """df-level core of ``chunk_documents_cdc`` over any (doc_id, text)
    frame, with the chunk text included (the registered query projects it
    away; the CDC scrub consumes it for reassembly) — split out so the
    shift-resistance property and the plain-Python cross-check run on
    synthetic revisions.

    ROW-LOCAL plan: boundary positions come from one linear array filter
    over the token list, chunk texts from zip_with slices between
    consecutive boundaries — the whole chunker is a projection + explode
    with ZERO shuffles and no window (a token never leaves its document's
    row until the final fan-out), which also makes it stateless per row
    and therefore append-mode streamable like ``chunk_of`` (parity in
    test_streaming). Measured against the explode + doc-partitioned
    running-sum-window form it replaced: identical output, 0.48-0.52 s vs
    0.74-0.86 s at sf0.1 (~1.5x, and the shuffle it deletes is the part
    that grows at 100 TB)."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    d = docs.select("doc_id", toks.alias("toks"))
    # 1-based positions where a chunk opens: position 1 always, position
    # i > 1 whenever the (token[i-1], token[i]) bigram hash starts '0'.
    # The size guard matters: sequence(2, 1) is the DESCENDING array
    # [2, 1], so a one-token document would evaluate element_at(toks, 2)
    # and crash — short docs simply have no interior boundary.
    starts = F.expr(
        "concat(array(1), CASE WHEN size(toks) >= 2 THEN "
        "filter(sequence(2, size(toks)), i -> "
        "substring(md5(concat(element_at(toks, i - 1), ' ', "
        "element_at(toks, i))), 1, 1) = '0') ELSE array() END)"
    )
    d = d.select("doc_id", "toks", starts.alias("starts"))
    ends = F.expr(
        "concat(slice(starts, 2, size(starts) - 1), array(size(toks) + 1))"
    )
    d = d.select("doc_id", "toks", "starts", ends.alias("ends"))
    chunks = F.expr(
        "zip_with(starts, ends, (s, e) -> "
        "array_join(slice(toks, s, e - s), ' '))"
    )
    ex = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(F.split(F.col("chunk"), " ", -1)).cast("bigint").alias("n_tokens"),
        F.col("chunk").alias("chunk_text"),
        F.md5(F.col("chunk")).alias("chunk_hash"),
    )


_SQL_CDC_CTES = """
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    pos AS (
      SELECT doc_id, i AS pos, toks[i] AS tok,
             CASE WHEN i > 1
                   AND substring(md5(toks[i - 1] || ' ' || toks[i]), 1, 1) = '0'
                  THEN 1 ELSE 0 END AS boundary
      FROM toks, UNNEST(generate_series(1, LEN(toks))) AS u(i)),
    cpos AS (
      SELECT doc_id, pos, tok,
             CAST(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS BIGINT) AS chunk_idx
      FROM pos),
    ch AS (
      SELECT doc_id, chunk_idx, string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM cpos GROUP BY doc_id, chunk_idx)"""


@register(
    "dedup_chunk_scrub_cdc",
    oracle=f"""
    WITH {_SQL_CDC_CTES},
    kept AS (
      SELECT doc_id, chunk_idx, chunk FROM (
        SELECT doc_id, chunk_idx, chunk,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM ch) r
      WHERE rn = 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id),
    kg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY chunk_idx) AS scrubbed_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(kg.scrubbed_text, '') AS scrubbed_text,
           CAST(COALESCE(kg.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_chunks - COALESCE(kg.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot t LEFT JOIN kg USING (doc_id)
    """,
)
def dedup_chunk_scrub_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span scrub over CONTENT-DEFINED chunks: drop every repeated CDC
    chunk except its first occurrence (min (doc_id, chunk_idx)), then
    reassemble — ``dedup_chunk_scrub``'s exact contract with CDC
    boundaries instead of fixed 16-token windows.

    Why it matters: the fixed-window scrub only catches boilerplate that
    lands at the SAME chunk alignment in every document; a one-token
    prefix shift hides the repeat. CDC boundaries are functions of the
    content, so a shared span chunks identically wherever it sits
    (shift-resistance property-tested for the chunker), and the scrub
    catches the repeat at any offset. Same 100 TB shape as the fixed
    scrub: hash-keyed first-occurrence aggregate (DECIMAL-encoded min,
    map-side combine), same-key keep join, per-doc reassembly."""
    from .curation import _ENC_FIRST, _reassemble

    # lazy checkpoint (round 16): the CDC chunker (an md5-per-bigram
    # boundary filter — the expensive part of this row) is consumed three
    # times downstream (first-occurrence agg, keep join, reassembly total)
    # and re-ran per consumer; one cut runs it once
    chunks = cdc_chunks_of(t(spark, sf_dir, "documents")).select(
        "doc_id",
        "chunk_idx",
        F.col("chunk_text").alias("chunk"),
        F.col("chunk_hash").alias("h"),
    ).localCheckpoint(eager=False)
    enc = F.expr(_ENC_FIRST)
    firsts = chunks.groupBy("h").agg(F.min(enc).alias("first_key"))
    kept = (
        chunks.join(firsts, "h")
        .filter(enc == F.col("first_key"))
        .select("doc_id", "chunk_idx", "chunk")
    )
    return _reassemble(chunks, kept)


@register(
    "pack_sequences_unsharded_baseline",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_TOKENS} AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT doc_id, CAST(LEN(string_split(lower(text), ' ')) AS BIGINT)
                     AS n_tokens
            FROM documents) s) c
    """,
)
def pack_sequences_unsharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE (not the production entry): sequence packing with ONE global
    running token total in id order (a doc belongs to the pack its START
    offset falls in) — the deterministic streaming formulation of greedy
    packing, one window pass over exact integer counts.

    SCALE WARNING: the unpartitioned window funnels the whole corpus
    through one task — fine for a single shard, a scale-killer for a
    corpus. ``pack_sequences`` (the primary name) partitions the window by
    shard, since pack identity only needs local contiguity; this global
    formulation is kept solely as the single-shard reference."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ", -1)).cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = s.withColumn("cum", F.sum("n_tokens").over(w))
    # integer `div`, NOT `/`: the cumulative sum is unbounded at scale and
    # double promotion would round before the floor (conventions: cross-
    # engine exactness requires integer division on bigint lanes)
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {PACK_TOKENS}").cast("bigint").alias("pack_id"),
    )


# Documents per packing shard. Each shard packs independently (its own
# running sum from zero), so the window is partitioned and every task
# handles ~PACK_SHARD_DOCS docs regardless of corpus size. 100 binds at
# test scale (500 docs -> 5 shards); production sizes it so a shard's
# (doc_id, n_tokens) rows fit one task comfortably, e.g. 10^6.
PACK_SHARD_DOCS = 100


_SQL_PACK_SHARDED = f"""
    SELECT doc_id, n_tokens, shard_id,
           CAST((cum - n_tokens) // {PACK_TOKENS} AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, n_tokens, shard_id,
             SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT doc_id,
                   doc_id // {PACK_SHARD_DOCS} AS shard_id,
                   CAST(LEN(string_split(lower(text), ' ')) AS BIGINT)
                     AS n_tokens
            FROM documents) s) c
    """


@register("pack_sequences", oracle=_SQL_PACK_SHARDED)
@register("pack_sequences_sharded", oracle=_SQL_PACK_SHARDED)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the PRIMARY production entry, the 100 TB shape:
    documents are partitioned into fixed shards of PACK_SHARD_DOCS ids and
    each shard packs independently with its own running token total — the
    cumulative-sum window is PARTITIONED, so no single task ever sees more
    than one shard (pack_sequences_unsharded_baseline funnels the corpus
    through one task). Registered under both the primary name and
    ``_sharded`` (the latter for continuity with earlier rounds).

    A pack is identified by (shard_id, pack_id); packs never span shards —
    the only semantic difference from the global formulation is at most one
    underfull pack per shard boundary, which greedy packing tolerates by
    construction. Deterministic: shard assignment is integer division on
    doc_id, so results are stable across cluster sizes and engines."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.expr(f"doc_id div {PACK_SHARD_DOCS}").alias("shard_id"),
        F.size(F.split(F.lower(F.col("text")), " ", -1)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = s.withColumn("cum", F.sum("n_tokens").over(w))
    return c.select(
        "doc_id",
        "n_tokens",
        "shard_id",
        F.expr(f"(cum - n_tokens) div {PACK_TOKENS}").cast("bigint").alias("pack_id"),
    )


def _sql_keep_best() -> str:
    return f"""
    WITH comp AS ({_sql_groups_connected()}),
    q AS (
      SELECT doc_id,
             LEN(string_split(lower(text), ' ')) AS n_tokens,
             CASE WHEN LEN(string_split(lower(text), ' ')) >= 5
                       AND CAST(LEN(list_filter(string_split(lower(text), ' '),
                                w -> w IN ({_SW_SQL}))) AS DOUBLE)
                           / LEN(string_split(lower(text), ' ')) > 0.05
                  THEN 1 ELSE 0 END AS quality_pass
      FROM documents),
    sized AS (
      SELECT canonical_id, COUNT(*) AS n_members
      FROM comp GROUP BY canonical_id HAVING COUNT(*) > 1),
    ranked AS (
      SELECT c.canonical_id, c.doc_id, q.n_tokens, q.quality_pass,
             ROW_NUMBER() OVER (PARTITION BY c.canonical_id
                                ORDER BY q.quality_pass DESC,
                                         q.n_tokens DESC, c.doc_id) AS rnk
      FROM comp c JOIN q USING (doc_id)
      WHERE c.canonical_id IN (SELECT canonical_id FROM sized))
    SELECT r.canonical_id, r.doc_id AS keep_doc_id,
           CAST(s.n_members AS BIGINT) AS n_members,
           r.n_tokens AS kept_n_tokens, r.quality_pass AS kept_quality_pass
    FROM ranked r JOIN sized s USING (canonical_id)
    WHERE r.rnk = 1
    """


@register(
    "dedup_keep_best",
    oracle=_sql_keep_best(),
    doc="Quality-aware dedup representative: per near-dup cluster keep the "
    "highest-quality (then longest) member, not the smallest id.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative SELECTION POLICY for near-dup collapse: within each
    connected near-dup cluster keep the copy that passes the quality gate,
    longest first (ties by doc_id) — the policy real corpus dedup wants
    (drop the truncated/boilerplate copies, keep the clean one), where the
    min-id convention used by the collapse plumbing is only an arbitrary
    canonical LABEL.

    Plan: the cluster labels come from the iterated min-label propagation
    (one extra hash-join against the per-doc quality projection), cluster
    sizes are a map-side-combining count, and the per-cluster argmax is a
    rank window that executes as WindowGroupLimit — the scored members are
    heap-cut to one row per cluster before the shuffle, so the window never
    sorts whole clusters. Singleton clusters are excluded (nothing to
    choose); the integer ranking key (quality_pass, n_tokens, doc_id) keeps
    the choice bit-deterministic in both engines."""
    from pyspark.sql import Window

    groups = dedup_groups_connected(spark, sf_dir)
    q = quality_score_of(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality_pass"
    )
    sized = groups.groupBy("canonical_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    ).filter(F.col("n_members") > 1)
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("quality_pass"), F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        groups.join(sized, "canonical_id")
        .join(q, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("keep_doc_id"),
            "n_members",
            F.col("n_tokens").alias("kept_n_tokens"),
            F.col("quality_pass").alias("kept_quality_pass"),
        )
    )


@register(
    "split_kfold_grouped",
    oracle=f"""
    SELECT g.doc_id, g.canonical_id,
           CAST(CAST(('0x' || substring(
                 md5('fold:' || CAST(g.canonical_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 5 AS INT) AS fold
    FROM ({_sql_groups_connected()}) g
    """,
    doc="Grouped 5-fold cross-validation assignment: whole near-dup "
    "clusters land in one fold, so no fold's eval set leaks another's "
    "training content.",
)
def split_kfold_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold CV assignment with group integrity: the fold is a hash of the
    near-dup cluster's canonical id (15 md5 hex chars → BIGINT → mod K), so
    every member of a cluster shares a fold — the K-way generalization of
    ``split_leakage_safe``'s train/holdout rule, and the split scheme
    cross-validation needs when near-duplicates exist (otherwise each
    fold's holdout is contaminated by its siblings' training folds).
    Stateless given the labels: one md5 + mod per row on top of the
    grouping, no extra shuffle, and adding data never reassigns an
    existing cluster."""
    groups = dedup_groups_connected(spark, sf_dir)
    hexint = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fold:"), F.col("canonical_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return groups.select(
        "doc_id", "canonical_id", (hexint % 5).cast("int").alias("fold")
    )


@register(
    "dedup_groups_incremental",
    oracle=_sql_groups_connected(),
    doc="Incremental canonical grouping: half the near-dup pairs folded "
    "into converged labels via quotient-graph contraction — bit-identical "
    "to the full recompute.",
)
def dedup_groups_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-cycle form of ``dedup_groups_connected``: labels are
    built from HALF the verified near-dup pairs (md5-parity split — the
    'previous release' state), then the other half arrives as a batch and
    ``operators.graph.cc_merge_batch`` folds it in by label contraction —
    all iteration on the quotient graph of touched labels (O(batch)), one
    broadcast remap over the label table, never a re-propagation over the
    corpus graph. The oracle is dedup_groups_connected's own recursive
    CTE: the incremental path must land on the SAME fixpoint, which is
    exactly the claim that makes incremental maintenance trustworthy."""
    from ..operators.graph import cc_merge_batch, min_label_propagation

    pairs = dedup_lsh_then_verify(spark, sf_dir).select("doc_a", "doc_b")
    parity = (
        F.conv(F.substring(F.md5(F.concat_ws("|", "doc_a", "doc_b")), 1, 2), 16, 10)
        .cast("bigint") % 2
    )
    pairs = pairs.withColumn("par", parity).localCheckpoint(eager=True)
    first = pairs.filter(F.col("par") == 0)
    second = pairs.filter(F.col("par") == 1)

    nodes = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    e1 = first.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    e1 = e1.union(e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    base = min_label_propagation(nodes, e1)

    merged = cc_merge_batch(
        base, second.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return merged.select(F.col("id").alias("doc_id"), F.col("label").alias("canonical_id"))


def _decon_report_oracle() -> str:
    from .registry import QUERIES

    ex = QUERIES["decontaminate_exact"].oracle
    ng = QUERIES["decontaminate_ngram"].oracle
    se = QUERIES["decontaminate_semantic"].oracle
    per = " UNION ALL ".join(
        f"""
        SELECT '{lane}' AS lane,
               CAST(SUM({lane[:2]}) AS BIGINT) AS n_flagged,
               CAST(SUM(CASE WHEN {lane[:2]} = 1
                             AND ex + ng + se = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_unique
        FROM flags"""
        for lane in ("exact", "ngram", "semantic")
    )
    return f"""
    WITH exl AS ({ex}), ngl AS ({ng}), sel AS ({se}),
    flags AS (
      SELECT exl.doc_id,
             exl.contaminated AS ex,
             CASE WHEN ngl.n_shared_8grams >= 1 THEN 1 ELSE 0 END AS ng,
             COALESCE(sel.contaminated, 0) AS se
      FROM exl
      LEFT JOIN ngl ON ngl.doc_id = exl.doc_id
      LEFT JOIN sel ON sel.vec_id = exl.doc_id)
    {per}
    UNION ALL
    SELECT 'ANY' AS lane,
           CAST(SUM(CASE WHEN ex + ng + se >= 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN ex + ng + se >= 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    """


@register(
    "decontaminate_report",
    oracle=_decon_report_oracle(),
    doc="Decontamination ablation across the exact, 8-gram, and semantic "
    "lanes: per-lane flag counts, unique catches, and the union.",
)
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage audit a release publishes: how many training documents
    each decontamination lane flags, how many each catches UNIQUELY (the
    paraphrase the semantic lane alone sees, the verbatim block only the
    8-gram pass pins), and the union the release actually drops. A lane
    with zero unique catches is redundant for this corpus; a big
    semantic-only count means edited eval content is leaking past the
    textual passes — the same redundancy calculus as
    ``quality_ablation_report``, applied to leakage.

    Composition: the three lanes' own frames (each already one
    broadcast-probe corpus scan) joined on the shared id spine (vec i
    embeds doc i in this testbed — the serving cycle's convention), then
    conditional integer sums unpivoted via stack. Nothing rescans the
    corpus beyond the three lanes themselves."""
    ex = decontaminate_exact(spark, sf_dir).select(
        "doc_id", F.col("contaminated").alias("ex")
    )
    ng = decontaminate_ngram(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("n_shared_8grams") >= 1, 1).otherwise(0).alias("ng"),
    )
    se = decontaminate_semantic(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("contaminated").alias("se")
    )
    flags = (
        ex.join(ng, "doc_id", "left")
        .join(se, "doc_id", "left")
        .select(
            "doc_id",
            "ex",
            F.coalesce("ng", F.lit(0)).alias("ng"),
            F.coalesce("se", F.lit(0)).alias("se"),
        )
    )
    n_lanes = F.col("ex") + F.col("ng") + F.col("se")
    agg = flags.agg(
        *[
            x
            for lane in ("ex", "ng", "se")
            for x in (
                F.sum(lane).cast("bigint").alias(f"{lane}_flagged"),
                F.sum(
                    F.when((F.col(lane) == 1) & (n_lanes == 1), 1).otherwise(0)
                ).cast("bigint").alias(f"{lane}_uniq"),
            )
        ],
        F.sum(F.when(n_lanes >= 1, 1).otherwise(0)).cast("bigint").alias("any_flagged"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'exact', ex_flagged, ex_uniq, 'ngram', ng_flagged, ng_uniq, "
            "'semantic', se_flagged, se_uniq, 'ANY', any_flagged, any_flagged) "
            "AS (lane, n_flagged, n_unique)"
        )
    )


@register(
    "ingest_wet_roundtrip",
    oracle=r"""
    WITH body AS (
      SELECT doc_id,
             'doc ' || doc_id || chr(10) || 'doc ' || doc_id || chr(10)
               || 'A & B <ok>' || chr(10)
               || trim(regexp_replace(regexp_replace(regexp_replace(
                    text, '[ \t\r\f]+', ' ', 'g'),
                    ' ?\n ?', chr(10), 'g'),
                    '\n+', chr(10), 'g'))
               AS t
      FROM documents)
    SELECT doc_id AS archive_id,
           'conversion' AS rectype,
           'https://example.invalid/' || doc_id AS url,
           '<urn:uuid:wet-' || doc_id || '>' AS record_id,
           '<urn:uuid:' || printf('%032x', doc_id) || '>' AS refers_to,
           CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
           t AS text
    FROM body
    """,
    doc="WET publish round trip: extracted text re-emitted as REAL "
    "conversion-record .warc.gz archives (WARC-Refers-To back at the "
    "source response) and parsed back; the oracle replays text, UTF-8 "
    "byte counts, and record ids.",
)
def ingest_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the WET pipeline, end to end and
    oracle-checked: every document becomes an HTML ``.warc.gz``
    (``documents_as_warc_html``), parses back, extracts visible text in
    Catalyst (``html_to_text``), is RE-PUBLISHED as a real
    ``conversion``-record archive carrying a ``WARC-Refers-To`` pointer
    at the source response (``documents_to_wet`` — the structure real
    Common Crawl WET files have), and parses back AGAIN through the
    same reader. Output per document: the conversion record's type,
    url, record id (read back through the captures-style header
    surface), UTF-8 byte count, and FULL text — the DuckDB oracle
    replays all of it, so a lossy encode, a charset slip (the text
    carries multi-byte characters whenever the corpus does), or a
    dropped linkage header breaks the hash.

    At 100 TB: two Arrow passes per direction, bytes partition-local
    throughout — publishing a derived corpus costs the same shape as
    reading one."""
    from ..functions.html import html_to_text
    from ..operators.ingest import (
        documents_as_warc_html,
        documents_to_wet,
        warc_to_documents,
    )

    docs = t_parallel(spark, sf_dir, "documents")
    pages = warc_to_documents(documents_as_warc_html(docs))
    extracted = pages.select(
        F.col("archive_id"),
        F.col("url"),
        html_to_text(F.col("text")).alias("text"),
        F.concat(
            F.lit("<urn:uuid:"),
            F.lpad(
                F.lower(F.conv(F.col("archive_id").cast("string"), 10, 16)),
                32,
                "0",
            ),
            F.lit(">"),
        ).alias("src_record"),
    )
    wet = documents_to_wet(extracted, refers_col="src_record").localCheckpoint(
        eager=False
    )
    # parse back through BOTH read lanes: the documents lane carries the
    # text and byte count, the captures lane carries the record id and
    # the WARC-Refers-To linkage — all READ from the published bytes,
    # never recomputed, so the oracle's replay is a real round trip
    back = warc_to_documents(wet)
    from ..operators.ingest import warc_captures

    linkage = warc_captures(wet).select(
        "archive_id", "record_id", "refers_to"
    )
    return back.join(linkage, "archive_id").select(
        "archive_id",
        "rectype",
        "url",
        "record_id",
        "refers_to",
        "n_bytes",
        "text",
    )


def _published_wat_records(spark: SparkSession, sf_dir: str):
    """The shared WAT publish flow: linked pages in real response
    archives -> HTTP parse -> Catalyst link harvest -> metadata-record
    WAT archives -> parsed back. Returns the ``warc_metadata_records``
    read-back (everything downstream reads PUBLISHED bytes). Used by
    the round-trip row and the webgraph-from-WAT edge list.

    Round 16: the envelope publishes at CC shape — the FULL response
    header map (``http_header_pairs``), ``HTML-Metadata.Head`` (title +
    ``<meta name/content>`` pairs), and per-link ``path`` provenance —
    all harvested in Catalyst from the parsed pages, serialized by
    ``documents_to_wat``'s sorted-key byte-reproducible JSON."""
    from ..functions.html import (
        _strip_invisible,
        html_links,
        html_meta_pairs,
        html_title,
    )
    from ..functions.http import http_header_pairs
    from ..operators.ingest import (
        documents_as_warc_linked,
        documents_to_wat,
        warc_http_responses,
        warc_metadata_records,
    )

    docs = t_parallel(spark, sf_dir, "documents").select("doc_id")
    pages = warc_http_responses(documents_as_warc_linked(docs))
    # STAGE one script/comment-stripped copy of the body (round 16): the
    # three head/link harvests each began with their own _strip_invisible
    # pass — 9 full-text regex passes per page; a multiply-referenced
    # non-cheap alias keeps the projection boundary (CollapseProject), so
    # the strip runs once and each harvest scans the staged column
    staged = pages.select(
        "archive_id",
        "url",
        "http_headers",
        _strip_invisible(F.col("body_text")).alias("__body_stripped"),
    )
    harvested = staged.select(
        "archive_id",
        "url",
        F.concat(
            F.lit("<urn:uuid:"),
            F.lpad(
                F.lower(F.conv(F.col("archive_id").cast("string"), 10, 16)),
                32,
                "0",
            ),
            F.lit(">"),
        ).alias("refers_to"),
        http_header_pairs("http_headers").alias("resp_headers"),
        html_title("__body_stripped", stripped=True).alias("page_title"),
        html_meta_pairs("__body_stripped", stripped=True).alias("page_metas"),
        html_links("__body_stripped", stripped=True).alias("links"),
    )
    wat = documents_to_wat(
        harvested,
        headers_col="resp_headers",
        title_col="page_title",
        metas_col="page_metas",
    ).localCheckpoint(eager=False)
    return warc_metadata_records(wat)


@register(
    "ingest_wat_roundtrip",
    oracle=r"""
    WITH d AS (SELECT doc_id AS d, doc_id % 20 AS h FROM documents),
    base AS (
      SELECT d, h,
             'https://site' || h || '.example/dir/page' || d AS url,
             '{"path":"A@/href","url":"g' || d
               || '"},{"path":"A@/href","url":"/abs/' || d
               || '?b=2&a=1"},{"path":"A@/href","url":"https://cdn.example/x/'
               || d || '"}'
               || CASE WHEN d % 2 = 0
                       THEN ',{"path":"A@/href","url":"?q=' || d || '"}'
                       ELSE '' END
               AS links_json,
             '<html><head><title>page ' || d
               || '</title><meta name="description" content="synthetic page '
               || d || '"></head><body><h1>page ' || d || '</h1>'
               || '<a href="g' || d || '">r</a><a href="/abs/' || d
               || '?b=2&amp;a=1">a</a><a href="https://cdn.example/x/' || d
               || '">c</a>'
               || CASE WHEN d % 2 = 0
                       THEN '<a href="?q=' || d || '">q</a>' ELSE '' END
               || '</body></html>' AS html
      FROM d),
    env AS (
      SELECT d, url, octet_length(encode(html)) AS clen,
             '{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":'
               || '{"HTML-Metadata":{"Head":{"Metas":[{"content":'
               || '"synthetic page ' || d || '","name":"description"}],'
               || '"Title":"page ' || d || '"},"Links":[' || links_json
               || ']},"Headers":{"Content-Length":"'
               || CAST(octet_length(encode(html)) AS VARCHAR)
               || '","Content-Type":"text/html; charset=utf-8"}}},'
               || '"WARC-Header-Metadata":{"WARC-Target-URI":"' || url
               || '"}}}' AS wat_json
      FROM base)
    SELECT d AS archive_id,
           'metadata' AS rectype,
           url,
           '<urn:uuid:wat-' || d || '>' AS record_id,
           '<urn:uuid:' || printf('%032x', d) || '>' AS refers_to,
           'application/json' AS record_content_type,
           'text/html; charset=utf-8' AS content_type,
           CAST(3 + CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_links,
           'g' || d AS first_link,
           CASE WHEN d % 2 = 0 THEN '?q=' || d
                ELSE 'https://cdn.example/x/' || d END AS last_link,
           'page ' || d AS title,
           'synthetic page ' || d AS meta_description,
           CAST(clen AS BIGINT) AS content_length,
           CAST(octet_length(encode(wat_json)) AS BIGINT) AS n_bytes,
           wat_json
    FROM env
    """,
    doc="WAT publish round trip (completes the WARC/WAT/WET derived-"
    "format triple): linked HTML pages in real .warc.gz archives -> "
    "full-header + title/meta/link harvest -> metadata-record WAT "
    "archives at CC envelope shape (Headers map, HTML-Metadata.Head, "
    "per-link path provenance) -> parsed back; the oracle replays the "
    "FULL JSON envelope byte for byte plus every parsed field.",
)
def ingest_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the WAT pipeline, end to end and
    oracle-checked — the metadata member of Common Crawl's derived-
    format triple (the repo already publishes and re-reads WET;
    this is the same round-trip discipline for WAT). Every document
    becomes a linked HTML page in a real response ``.warc.gz``
    (``documents_as_warc_linked``), parses back through the HTTP lane
    (``warc_http_responses`` — header block + body text from the
    published bytes), the FULL response header map, page title,
    ``<meta name/content>`` pairs, and anchors are harvested in
    Catalyst (``http_header_pairs`` / ``html_title`` /
    ``html_meta_pairs`` / ``html_links``), and the page's metadata is
    RE-PUBLISHED as a real ``metadata``-record archive
    (``documents_to_wat`` at CC envelope shape, round 16: the Headers
    map with Content-Length AND Content-Type, ``HTML-Metadata.Head``
    with Title and Metas, per-link ``path`` provenance,
    ``WARC-Refers-To`` at the source record) and parsed back AGAIN
    (``warc_metadata_records``). Every output column is READ from the
    published WAT bytes — the record id, linkage, and content type
    from the WARC headers; the link count/first/last, title, meta
    description, and Content-Length from the JSON envelope — and the
    DuckDB oracle replays the FULL envelope string byte for byte, so
    a key-order drift, an escaping slip, a dropped header, or a Head
    field that failed to round-trip breaks the hash.

    At 100 TB: two Arrow passes per direction (synth+parse, publish+
    parse), bytes partition-local throughout; the JSON envelope parse
    is Catalyst ``from_json``/``get_json_object`` — deriving WAT from
    a crawl costs the same shape as reading it back."""
    back = _published_wat_records(spark, sf_dir)
    # ONE envelope parse (round 16): the five get_json_object calls each
    # re-parsed the full JSON envelope per record (plus a sixth parse for
    # the links array); a single typed from_json builds every field in one
    # Jackson pass. Same null semantics (missing path -> NULL both ways),
    # same unescaping; the byte-for-byte oracle holds the equivalence.
    env_schema = (
        "struct<Envelope:struct<`Payload-Metadata`:struct<"
        "`HTTP-Response-Metadata`:struct<"
        "Headers:struct<`Content-Length`:string,`Content-Type`:string>,"
        "`HTML-Metadata`:struct<Head:struct<"
        "Metas:array<struct<content:string>>,Title:string>,"
        "Links:array<struct<url:string>>>>>>>"
    )
    # the parse is STAGED as a real column (multiply-referenced non-cheap
    # alias, so CollapseProject keeps the projection boundary) — putting
    # the from_json expression inline in each output column hands the
    # optimizer five copies of the parse again (measured: the collapsed
    # single-select form printed five from_json nodes in the plan)
    env = back.select(
        "archive_id",
        "rectype",
        "url",
        "record_id",
        "refers_to",
        F.col("content_type").alias("record_content_type"),
        "n_bytes",
        "json_text",
        F.from_json("json_text", env_schema)["Envelope"][
            "Payload-Metadata"
        ]["HTTP-Response-Metadata"].alias("__meta"),
    )
    m = F.col("__meta")
    parsed = env.select(
        "archive_id",
        "rectype",
        "url",
        "record_id",
        "refers_to",
        "record_content_type",
        m["Headers"]["Content-Type"].alias("content_type"),
        m["HTML-Metadata"]["Head"]["Title"].alias("title"),
        # F.get (0-based, NULL on out-of-bounds) instead of [0]: under ANSI
        # mode GetArrayItem throws INVALID_ARRAY_INDEX on a present-but-empty
        # Metas array (real CC WAT has them; the synthetic generator always
        # emits one meta, so the oracle can't see the difference) — get()
        # restores the get_json_object NULL-on-missing semantics exactly.
        F.get(m["HTML-Metadata"]["Head"]["Metas"], 0)["content"].alias(
            "meta_description"
        ),
        m["Headers"]["Content-Length"].cast("bigint").alias("content_length"),
        "n_bytes",
        F.col("json_text").alias("wat_json"),
        m["HTML-Metadata"]["Links"].alias("__links"),
    )
    return parsed.select(
        "archive_id",
        "rectype",
        "url",
        "record_id",
        "refers_to",
        "record_content_type",
        "content_type",
        F.size("__links").cast("bigint").alias("n_links"),
        # same ANSI hardening for an empty Links array: get() and
        # try_element_at() yield NULL where [0] / element_at(-1) throw
        F.get(F.col("__links"), 0)["url"].alias("first_link"),
        F.try_element_at(F.col("__links"), F.lit(-1))["url"].alias("last_link"),
        "title",
        "meta_description",
        "content_length",
        "n_bytes",
        "wat_json",
    )


@register(
    "web_wat_outlink_edges",
    oracle="""
    WITH d AS (SELECT doc_id AS d, doc_id % 20 AS h FROM documents),
    base AS (
      SELECT d, h, 'https://site' || h || '.example' AS root FROM d),
    l AS (
      SELECT d, h, CAST(0 AS BIGINT) AS link_idx,
             root || '/dir/g' || d AS outlink,
             'site' || h || '.example' AS target_host FROM base
      UNION ALL
      SELECT d, h, 1, root || '/abs/' || d || '?b=2&a=1',
             'site' || h || '.example' FROM base
      UNION ALL
      SELECT d, h, 2, 'https://cdn.example/x/' || d, 'cdn.example'
      FROM base
      UNION ALL
      SELECT d, h, 3, root || '/dir/page' || d || '?q=' || d,
             'site' || h || '.example' FROM base WHERE d % 2 = 0)
    SELECT d AS archive_id, link_idx, outlink, target_host FROM l
    """,
    doc="Webgraph from WAT: the outlink edge list built from PUBLISHED "
    "WAT bytes only (page url from the record header, raw hrefs from "
    "the JSON envelope, resolved + canonicalized in Catalyst) — the "
    "Common Crawl workflow that avoids re-parsing HTML; the oracle "
    "replays every edge.",
)
def web_wat_outlink_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reason WAT exists, exercised end to end: build the link
    graph WITHOUT touching HTML. The published WAT archives
    (``_published_wat_records`` — same flow as the round-trip row) are
    the ONLY input past the publish: each record's page URL comes from
    the WARC header, its raw harvested hrefs from the JSON envelope
    (``from_json`` + ``posexplode``), and the edge targets resolve
    (RFC 3986 §5.2 against the page URL) and canonicalize in pure
    Catalyst — resolve staged as a real column before canonicalize,
    the measured expression-tree lesson. Output one row per edge:
    (archive_id, link_idx, outlink, target_host); the DuckDB oracle
    replays all of them, so a dropped link, an unresolved relative
    ref, or an unsorted query breaks the hash.

    At 100 TB: this is why a crawl publishes WAT at all — the graph
    build reads the metadata sidecar (a small fraction of the corpus
    bytes) instead of re-parsing every page; one Arrow parse pass,
    then codegen explode/resolve, no shuffle until the caller
    aggregates."""
    return _wat_outlink_frame(spark, sf_dir).select(
        "archive_id", "link_idx", "outlink", "target_host"
    )


def _wat_outlink_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared WAT edge build: (archive_id, src_host, link_idx, outlink,
    target_host) from published WAT bytes only. ``web_wat_outlink_edges``
    projects ``src_host`` away (Catalyst prunes its expression tree, so
    that row's plan is unchanged by the factoring); ``web_host_rank``
    keeps it as the edge source."""
    from ..functions.url import url_canonicalize, url_resolve

    back = _published_wat_records(spark, sf_dir)
    # ONE envelope parse (round 16, same cut as ingest_wat_roundtrip):
    # get_json_object re-parsed the whole envelope to cut out the Links
    # array string, then from_json parsed that string AGAIN; a typed
    # from_json straight to the array does it in one pass.
    links_path = (
        "struct<Envelope:struct<`Payload-Metadata`:struct<"
        "`HTTP-Response-Metadata`:struct<`HTML-Metadata`:struct<"
        "Links:array<struct<url:string>>>>>>>"
    )
    links = back.select(
        "archive_id",
        F.col("url").alias("page_url"),
        F.posexplode(
            F.from_json("json_text", links_path)["Envelope"][
                "Payload-Metadata"
            ]["HTTP-Response-Metadata"]["HTML-Metadata"]["Links"]
        ).alias("link_idx", "l"),
    )
    staged = links.select(
        "archive_id",
        F.regexp_extract("page_url", r"^[a-z]+://([^/]+)", 1).alias("src_host"),
        F.col("link_idx").cast("bigint"),
        url_resolve("page_url", F.col("l")["url"]).alias("__resolved"),
    )
    return staged.select(
        "archive_id",
        "src_host",
        "link_idx",
        url_canonicalize(F.col("__resolved")).alias("outlink"),
    ).withColumn(
        "target_host",
        F.regexp_extract("outlink", r"^[a-z]+://([^/]+)", 1),
    )


def _host_rank_oracle() -> str:
    """Unrolled directed-PageRank replay over the synthetic WAT host
    graph: host edges re-derived relationally from the documents table
    (every page links once to cdn.example; intra-host links are
    self-loops and excluded), then 5 fixed-point rounds with the
    dangling-mass redistribution ``pagerank_directed_of`` computes —
    each round one join+group-by, a scalar dangling CTE, and a left
    join keeping zero-in-degree hosts ranked. ``//`` floors on positive
    operands in both engines."""
    scale, base = 1_000_000_000_000, 150_000_000_000
    head = f"""
    WITH d AS (SELECT doc_id % 20 AS h FROM documents),
    hedges AS (
      SELECT 'site' || h || '.example' AS src, 'cdn.example' AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM d GROUP BY h),
    nodes AS (SELECT src AS node FROM hedges UNION SELECT dst FROM hedges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    wtot AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS wout
             FROM hedges GROUP BY src),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_scaled FROM nodes)"""
    rounds = []
    for i in range(1, 6):
        rounds.append(f"""
    d{i} AS (
      SELECT CAST(COALESCE(SUM(r.rank_scaled), 0) AS BIGINT) AS dmass
      FROM r{i - 1} r LEFT JOIN wtot t ON t.node = r.node
      WHERE t.node IS NULL),
    a{i} AS (
      SELECT e.dst AS node,
             CAST(SUM((r.rank_scaled * e.w) // t.wout) AS BIGINT) AS mass
      FROM hedges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN wtot t ON t.node = e.src
      GROUP BY e.dst),
    r{i} AS (
      SELECT n.node,
             CAST({base} + (85 * (COALESCE(a.mass, 0) + dd.dmass // nn.n))
                  // 100 AS BIGINT) AS rank_scaled
      FROM nodes n LEFT JOIN a{i} a ON a.node = n.node, d{i} dd, nn)""")
    return (
        head
        + ","
        + ",".join(rounds)
        + "\n    SELECT node AS host, rank_scaled FROM r5"
    )


@register(
    "web_host_rank",
    oracle=_host_rank_oracle(),
    doc="The canonical WAT consumer, composed end to end: published WAT "
    "bytes -> outlink edges -> host-level weighted edge list (self-loops "
    "excluded) -> directed PageRank with dangling-mass redistribution in "
    "BIGINT fixed-point; the oracle replays the host aggregation and all "
    "five rounds relationally.",
)
def web_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level rank from WAT — the workflow Common Crawl publishes WAT
    *for*, joined up: ``_wat_outlink_frame`` reads the page URL and the
    harvested hrefs from PUBLISHED metadata sidecars (never the HTML),
    edges aggregate to host pairs weighted by link count, intra-host
    links (self-loops) are EXCLUDED — host rank measures cross-host
    endorsement, and navigation links would otherwise dominate every
    weight — and ``pagerank_directed_of`` runs the same integer
    fixed-point contract as the ledger PageRank rows, extended with
    uniform dangling-mass redistribution (the synth graph's cdn host has
    in-links only; without redistribution its mass would vanish and
    every engine would disagree on the leak). Output one row per host:
    (host, rank_scaled); the DuckDB oracle replays the aggregation and
    all five rounds, so a dropped edge, a self-loop slip, or a dangling
    leak breaks the hash.

    At 100 TB: the edge list reads metadata sidecars (a small fraction
    of corpus bytes); host aggregation is one shuffle on (src, dst) —
    hosts are ~10^8 at web scale, far under the per-page fact table —
    and each rank round is one host-keyed join+agg, the same bounded
    iteration the ledger rows carry. Promote the fixed-point to
    DECIMAL(38,0) beyond ~10^5 hosts (overflow boundary documented at
    ``pagerank_directed_of``)."""
    from .ledger import pagerank_directed_of

    hedges = _wat_host_edges(spark, sf_dir)
    nodes = (
        hedges.select(F.col("src").alias("node"))
        .unionByName(hedges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = pagerank_directed_of(nodes, hedges)
    return ranks.select(F.col("node").alias("host"), "rank_scaled")


def _wat_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level weighted edge list from published WAT bytes, shared by
    the rank and harmonic rows. Two measured plan decisions (round 16,
    sf0.1, 32 cores): (1) the outlink frame passes through a LAZY
    ``localCheckpoint`` BEFORE the host aggregation — grouping directly
    on the resolve/canonicalize expression towers triggers the
    optimizer's constraint-propagation blowup (the same quadratic
    substitution class as the SURT batch join: ~8 s of planning per
    action vs ~0 with the lineage cut); (2) the aggregated edge list
    materializes EAGERLY before callers derive the node set from it —
    otherwise the node derivation and the rank loop's own edge
    checkpoint each re-execute the full publish+harvest (~10 s each at
    sf0.1, measured 18.8 s -> ~4 s for the composed row)."""
    raw = (
        _wat_outlink_frame(spark, sf_dir)
        .select("src_host", "target_host")
        .localCheckpoint(eager=False)
    )
    return (
        raw.filter(F.col("src_host") != F.col("target_host"))
        .groupBy(
            F.col("src_host").alias("src"), F.col("target_host").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        # EAGER re-measured and kept (round 17, VERDICT item 9): the lazy
        # form read 1.42x at sf0.1 / 2.31x at 10x on web_host_rank and
        # 1.15-1.16x on web_host_harmonic (alternating A/B mins; the
        # untouched graph_pagerank control drifted the OTHER way, 0.70,
        # so the signal is not ambiance) — consumers re-enter this edge
        # list through the rank loop's own lineage cuts, and only the
        # eager write guarantees exactly one publish+harvest execution.
        .localCheckpoint(eager=True)
    )


def _host_harmonic_oracle() -> str:
    """Unrolled KMV-HyperBall replay: sketches AS ROWS (the k smallest
    distinct node hashes per ball via row_number), the integer KMV
    estimate per round, and the fixed-point harmonic accumulation —
    the same md5-prefix hash contract as the Spark side
    (``ledger.kmv_node_hash``)."""
    k, m, fp = 8, 16 ** 13, 1_000_000
    head = """
    WITH d AS (SELECT doc_id % 20 AS h FROM documents),
    hedges AS (
      SELECT 'site' || h || '.example' AS src, 'cdn.example' AS dst
      FROM d GROUP BY h),
    nodes AS (SELECT src AS node FROM hedges UNION SELECT dst FROM hedges),
    s0 AS (SELECT node, ('0x' || substring(md5(node), 1, 13))::BIGINT AS hv
           FROM nodes)"""
    rounds = []
    for t in (1, 2, 3):
        rounds.append(f"""
    s{t} AS (
      SELECT node, hv FROM (
        SELECT node, hv,
               row_number() OVER (PARTITION BY node ORDER BY hv) AS rn
        FROM (SELECT DISTINCT node, hv FROM (
          SELECT node, hv FROM s{t - 1}
          UNION ALL
          SELECT e.dst AS node, s.hv
          FROM hedges e JOIN s{t - 1} s ON s.node = e.src) u1) u2
      ) u3 WHERE rn <= {k}),
    e{t} AS (
      SELECT node,
             CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS BIGINT)
                  ELSE CAST(({k - 1} * {m}) // MAX(hv) AS BIGINT)
             END AS est
      FROM s{t} GROUP BY node)""")
    return (
        head
        + ","
        + ",".join(rounds)
        + f"""
    SELECT n.node AS host,
           CAST(GREATEST(0, e1.est - 1) * {fp} // 1
                + GREATEST(0, e2.est - e1.est) * {fp} // 2
                + GREATEST(0, e3.est - e2.est) * {fp} // 3
                AS BIGINT) AS harmonic_fp,
           e3.est AS ball_est
    FROM nodes n
    JOIN e1 ON e1.node = n.node
    JOIN e2 ON e2.node = n.node
    JOIN e3 ON e3.node = n.node"""
    )


@register(
    "web_host_harmonic",
    oracle=_host_harmonic_oracle(),
    doc="Harmonic centrality over the WAT host graph via KMV neighborhood "
    "sketches (the integer-exact HyperBall analog Common Crawl-style "
    "host ranks are computed with): bounded sketch-merge rounds, "
    "integer KMV ball estimates, fixed-point 1/t accumulation; the "
    "oracle replays every sketch row and estimate.",
)
def web_host_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER canonical host-rank metric, beside ``web_host_rank``'s
    PageRank: harmonic centrality to radius 3, computed the way
    web-scale graphs actually compute it — bounded neighborhood-sketch
    rounds (HyperBall; Boldi & Vigna 2013), not all-pairs BFS. The
    host edge list derives from PUBLISHED WAT bytes exactly as
    ``web_host_rank``'s does (self-loops excluded); sketches are k=8
    KMV sets of md5-prefix hashes, so every merge, estimate, and the
    1/t fixed-point accumulation is pure integer arithmetic the DuckDB
    oracle replays bit for bit (sketches as rows, row_number k-min).

    At 100 TB: per round one src-keyed join + one dst-keyed k-min agg —
    the same bounded-iteration shuffle shape as PageRank, with k BIGINTs
    of state per host; the centrality of every host lands in
    ``rounds`` passes over the edge list where exact BFS would need one
    pass per SOURCE. See ``harmonic_centrality_of`` for the celebrity-
    in-degree two-level aggregation note."""
    from .ledger import harmonic_centrality_of

    hedges = _wat_host_edges(spark, sf_dir).select("src", "dst")
    nodes = (
        hedges.select(F.col("src").alias("node"))
        .unionByName(hedges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out = harmonic_centrality_of(nodes, hedges, rounds=3, k=8)
    return out.select(F.col("node").alias("host"), "harmonic_fp", "ball_est")
