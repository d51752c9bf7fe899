"""Corpus-scale text analytics over the `documents` / `events` /
TPC-H-ish tables — the training-data-pipeline operators (dedup,
fingerprinting, quality scoring, CER, rollups, windows, top-k).

Each function takes (spark, sf_dir) and returns a DataFrame; the
matching ANSI-SQL oracle strings live in `__spark_entry__.oracle_sql`.
Determinism rules for oracle hash-equality:

* money/quantity sums -> DECIMAL (associative, order-independent),
  never double sums (partial-aggregation order would change ulps);
* doubles only from integer/integer division (exact same IEEE result
  in both engines);
* every aggregate aliased identically in Spark and SQL.

Reference parity notes: category counts = A3 (`classify_quality_folder
.py:37-40`), weighted macro CER = A5 (`cer_utils.py:46-54`), filename
equi-join = J1 (`cer_utils.py:36-40`), page->doc rollup = A1
(`classificator_extended_paddleocr.py:424-443`), lag window = W1
(`:300-308`), grid argmax = A6 (`tune_extended_classifier.py:103-123`),
top-k = A8 (`tune:244-251`).  Dedup/fingerprint/minhash/simhash are the
north-rule extensions (no counterpart in the reference).

`connected_components` is the one graph connected-components operator:
both registered near-dup names and `dedup.neardup_cluster_winners` call
it, and below its edge bound it labels on the driver with
`imageops.min_label_roots`, the union-find the pixel labeler uses.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "load",
    "text_quality_stats",
    "doc_gopher_filter",
    "lang_rollup",
    "dataset_split",
    "stratified_sample",
    "pack_shards",
    "exact_dedup",
    "fingerprints",
    "winnow_fingerprints",
    "cer_per_lang",
    "trigram_jaccard_pairs",
    "substring_dup_spans",
    "substring_dedup_apply",
    "decontaminate",
    "temperature_resample",
    "temperature_resample_upsampled",
    "minhash_lsh_dup_pairs",
    "connected_components",
    "neardup_components",
    "simhash64",
    "event_gaps",
    "event_rollup",
    "event_sessions",
    "weighted_median_value",
    "lineitem_rollup",
    "top_customers",
    "discount_grid_argmax",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _words():
    """text -> words array Column (lazy: needs an active session)."""
    return F.split(F.trim(F.col("text")), r"\s+")


# ------------------------------------------------------- quality / langid

def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style counters, restricted to the SQL-exact subset."""
    docs = load(spark, sf_dir, "documents")
    nw = F.size(_words())
    compact = F.regexp_replace(F.col("text"), r"\s+", "")
    return docs.select(
        "doc_id",
        "lang",
        nw.alias("n_words"),
        F.length("text").alias("n_chars_obs"),
        F.length(compact).alias("n_letters"),
        (F.length(compact).cast("double") / nw.cast("double")).alias("mean_word_len"),
        F.size(F.array_distinct(_words())).alias("n_uniq_words"),
        (F.size(F.array_distinct(_words())).cast("double") / nw.cast("double")).alias(
            "uniq_word_frac"
        ),
    )


def doc_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style standalone document filter (the corpus-level analog
    of the caption rules inside the main cascade): ordered
    first-match-wins when-chain, pure Catalyst — the same shape as
    qfilter.cascade (SURVEY §2.9).  The counters come from
    text_quality_stats so there is exactly one definition of them."""
    stats = text_quality_stats(spark, sf_dir)
    reason = (
        F.when(F.col("n_words") < 25, F.lit("too_few_words"))
        .when(F.col("mean_word_len") < 4.0, F.lit("short_words"))
        .when(F.col("uniq_word_frac") < 0.4, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
    )
    return stats.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (A3/A4 analog: counts per label)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_words())).alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ----------------------------------------- deterministic splits/samples
#
# Reproducible dataset assignment is a first-class training-pipeline
# op: the SAME doc must land in the SAME split on every run, on any
# cluster, at any parallelism — so assignment must be a pure function
# of the key, never of sampling order.  The hash here is a two-round
# Lehmer/MINSTD multiplicative hash over the Mersenne prime 2^31-1:
# exact 64-bit-safe integer arithmetic expressible IDENTICALLY in
# Spark SQL and ANSI SQL, so the whole contract is oracle-checkable
# bit-for-bit (xxhash64 would be the engine-native choice but has no
# DuckDB twin).  Zero shuffle for the split; one shuffle (by stratum)
# for the exact stratified sample.

_SPLIT_M = 2147483647  # 2^31 - 1
_SPLIT_A = 48271  # MINSTD multiplier


def _split_hash(col):
    # (x % M) * A fits 64-bit: (M-1) * 48271 ~ 1.04e14 << 2^63
    h = F.pmod(F.pmod(col, F.lit(_SPLIT_M)) * _SPLIT_A, F.lit(_SPLIT_M))
    return F.pmod(h * _SPLIT_A, F.lit(_SPLIT_M))


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment, pure function of doc_id.
    Narrow (zero-shuffle) at any scale; thresholds are integer
    constants (floor of 0.8/0.9 * (2^31-1)) so no float crosses an
    engine boundary."""
    docs = load(spark, sf_dir, "documents")
    h = _split_hash(F.col("doc_id"))
    return docs.select(
        "doc_id",
        "lang",
        F.when(h < 1717986917, "train")
        .when(h < 1932735282, "val")
        .otherwise("test")
        .alias("split"),
    )


SAMPLE_NUM, SAMPLE_DEN = 1, 5  # stratified_sample keeps num/den per stratum


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language num/den (`SAMPLE_NUM`/`SAMPLE_DEN`) sample:
    rank docs inside each stratum by the deterministic hash and keep the
    first ceil(n * num / den).  Unlike fraction-threshold sampling this is
    EXACT per stratum (ceil, never ±binomial noise), at the cost of
    one shuffle by stratum + a window; the keep condition
    ``(rank-1) * den < n * num`` is pure integer math, identical in
    any SQL engine."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", _split_hash(F.col("doc_id")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("sample_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )
    return ranked.filter(
        (F.col("sample_rank") - 1) * SAMPLE_DEN < F.col("_n") * SAMPLE_NUM
    ).select("doc_id", "lang", "sample_rank")


def pack_shards(
    spark: SparkSession,
    sf_dir: str,
    budget_chars: int = 4000,
    sub_strata: int = 1,
) -> DataFrame:
    """Pack documents into fixed-budget training shards.

    LLM training wants shards of ~equal token mass, assembled
    DETERMINISTICALLY (re-runs must produce the same shard manifest, or
    downstream checkpoint/resume breaks).  Assignment rule: within each
    language, in doc_id order, a doc joins shard
    ``floor(chars_before_it / budget)`` — a pure window cumsum, so the
    whole packing is one shuffle (by stratum) + one sorted window pass,
    parallel across strata at any scale, and expressible identically
    in any SQL engine (unlike true next-fit packing, which is a
    sequential scan).  Shards fill to ~budget; a doc straddling a
    boundary belongs to the shard its first char falls in.

    A language stratum is one window partition — one task.  When one
    stratum dominates the corpus (English at web scale), pass
    ``sub_strata`` > 1: packing runs per ``(lang, pmod(doc_id, k))``
    — still deterministic, still valid fixed-budget shards, k-way
    parallel inside the hot stratum; shard ids are then unique per
    (lang, sub_stratum).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    part_keys = ["lang"]
    if sub_strata > 1:
        docs = docs.withColumn(
            "sub_stratum", F.pmod(F.col("doc_id"), F.lit(sub_strata)).cast("int")
        )
        part_keys.append("sub_stratum")
    w = Window.partitionBy(*part_keys).orderBy("doc_id")
    cum_before = F.coalesce(
        F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        *part_keys[1:],
        "lang",
        "n_chars",
        F.floor(cum_before / budget_chars).cast("long").alias("shard_id"),
        cum_before.alias("offset_chars"),
    )


# ---------------------------------------------------------------- dedup

def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents UNION a copy with offset ids — deterministic dup plant
    (the driver corpus has no natural dups)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    copy = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text", "lang"
    )
    return docs.unionByName(copy)


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5(text): (h, keep_id = min(doc_id), dup_count),
    through the salted two-phase winner aggregate of
    `dedup.phash_winners`."""
    from .dedup import phash_winners

    dup = _docs_with_planted_dups(spark, sf_dir)
    return phash_winners(
        dup.select(F.md5("text").alias("h"), "doc_id"), key="h", id_col="doc_id"
    ).withColumnRenamed("canonical_id", "keep_id")


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit-hex document fingerprint (md5 prefix of normalized text)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 16).alias("fingerprint"),
    )


WINNOW_K = 5     # k-gram length (characters, after normalization)
WINNOW_W = 4     # winnowing window (guarantee: any match >= k+w-1
                 # chars shares a selected fingerprint)
WINNOW_MOD = 1_000_000_007
WINNOW_BASE = 257


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): polynomial rolling hash over character k-grams of the
    normalized text, then per sliding window of w gram hashes select
    the minimum (ties -> rightmost), distinct selected (pos, hash)
    pairs per doc.  The training-data "document fingerprinting
    (rolling hash)" op: expected density 2/(w+1), and any substring
    match of length >= k+w-1 between two docs is GUARANTEED to share a
    fingerprint — the property md5-prefix `fingerprints` (exact only)
    and SimHash (similarity only) don't give.

    Everything is exact int64 arithmetic in Catalyst higher-order
    functions — (acc*257 + ascii) % 1e9+7 stays far below 2^63 — and
    the DuckDB oracle is an INDEPENDENT relational formulation of the
    same algorithm (grams exploded to rows, window membership as a
    lateral join, arg-min per window via struct-min aggregate), so
    parity is a real two-implementation check.

    Scale design: winnowing is doc-LOCAL, so the whole computation is
    a per-row projection — gram-hash array, then window arg-min
    selection, both inside one task.  The only shuffle is a doc-keyed
    repartition of the raw TEXT rows (bytes ~ corpus text size), vs
    the naive relational plan's (doc_id, wstart) groupBy shuffling a
    w-fold explode of every gram (measured 3.3x slower at sf0.1 and
    ~100x the shuffle volume).  The persist() between the two
    projections is load-bearing: without it CollapseProject inlines
    the FULL O(|t|*k) gram-array expression at every one of the
    O(|t|*w) hs[...] accesses in the selection lambda — turning a
    linear pass quadratic (measured: minutes instead of seconds at
    sf0.001)."""
    k, w = WINNOW_K, WINNOW_W
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_parts = spark.sparkContext.defaultParallelism * 2
    norm = (
        docs.select(
            "doc_id",
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("t"),
        )
        .where(F.length("t") >= k + w - 1)
        .repartition(n_parts, "doc_id")
    )
    hs = (
        f"transform(sequence(0, length(t) - {k}), p -> "
        f"aggregate(transform(sequence(1, {k}),"
        f" i -> cast(ascii(substring(t, p + i, 1)) as bigint)),"
        f" cast(0 as bigint),"
        f" (acc, x) -> (acc * {WINNOW_BASE} + x) % {WINNOW_MOD}))"
    )
    # arg-min over each w-window of (h, -pos) structs; ties -> larger
    # pos (smaller np), the robust-winnowing rightmost-min rule
    sel = (
        f"array_distinct(transform(sequence(0, size(hs) - {w}), ws -> "
        f"aggregate(sequence(ws + 1, ws + {w - 1}),"
        f" named_struct('h', hs[ws], 'np', -ws),"
        f" (acc, p) -> if(named_struct('h', hs[p], 'np', -p) < acc,"
        f" named_struct('h', hs[p], 'np', -p), acc))))"
    )
    # DISK_ONLY: the gram-hash arrays are ~8 bytes per text char —
    # larger than the corpus itself; any memory tier would thrash at
    # scale, and the persist only exists to break CollapseProject
    with_hs = norm.withColumn("hs", F.expr(hs)).persist(StorageLevel.DISK_ONLY)
    return (
        with_hs.withColumn("sel", F.expr(sel))
        .select("doc_id", F.explode("sel").alias("s"))
        .select(
            "doc_id",
            (-F.col("s.np")).alias("pos"),
            F.col("s.h").alias("fp"),
        )
    )


# ------------------------------------------------------------------ CER

def cer_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted macro CER (A5): hypothesis = vowel-stripped text vs
    reference text, joined by doc_id (J1 filename-join analog),
    aggregated per lang as sum(lev) / sum(ref_len) components."""
    docs = load(spark, sf_dir, "documents")
    hyp = docs.select(
        "doc_id", F.regexp_replace("text", "[aeiou]", "").alias("hyp_text")
    )
    ref = docs.select("doc_id", "lang", F.col("text").alias("ref_text"))
    joined = ref.join(hyp, "doc_id", "inner")
    return joined.groupBy("lang").agg(
        F.sum(F.levenshtein("hyp_text", "ref_text")).alias("sum_lev"),
        F.sum(F.length("ref_text")).alias("sum_ref_len"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# --------------------------------------------------------- near-dup ops

def _shingles(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h) for every k-word shingle of the (doc_id, ws)
    docs: pos = first word index, h = xxhash64 of the space-joined
    words, hashed inside one projection so the strings never leave the
    task.  Docs under k words are filtered out (``sequence(0, size(ws)
    - k)`` would count DOWN for them).  h stands in for the string on
    every join; the DuckDB twins join strings, so a collision would
    surface as an oracle mismatch."""
    return docs.filter(F.size("ws") >= k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(ws) - {k}), i -> "
                f"xxhash64(concat_ws(' ', slice(ws, i + 1, {k}))))"
            )
        ).alias("pos", "h"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "h")


def _df_capped(grams: DataFrame, df_cap: int) -> DataFrame:
    """The rows of `grams` (doc_id, h, ...) whose hash h occurs in at
    most `df_cap` distinct docs — stop-shingle removal before a
    self-join on h, where one corpus-common shingle ("one of the")
    would produce O(df^2) rows.  df is a groupBy(h) with map-side
    partial aggregation, joined back on h: a hot shingle reaches its
    reducer as one partial count per map task (a count() window over h
    has no partial step and funnels every row into one task)."""
    keep = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("h")
    )
    return grams.join(keep, "h")


def _with_truncated_copies(docs: DataFrame) -> DataFrame:
    """(doc_id, ws) word arrays of the (doc_id, text) docs UNION, per
    doc, a copy truncated to its first 80% of words (at least one),
    id + 1e6 — the deterministic near-dup plant (the driver corpus has
    no natural near-dups), mirrored in the DuckDB oracles."""
    n_keep = F.greatest(F.floor(F.size(_words()) * 0.8), F.lit(1)).cast("int")
    trunc = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(_words(), 1, n_keep)).alias("text"),
    )
    return docs.unionByName(trunc).select("doc_id", _words().alias("ws"))


TRIGRAM_DF_CAP = 64  # drop shingles present in more docs than this


def trigram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    df_cap: int = TRIGRAM_DF_CAP,
) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs over `_with_truncated_copies`
    (each doc vs its 80% prefix => known overlapping pairs): distinct
    shingle hashes per doc, the `_df_capped` stop-shingle cap, then a
    shingle equi-join and a filter on jaccard.  Jaccard is computed
    over the KEPT shingles on both sides (sizes included), mirrored
    exactly in the DuckDB oracle."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # per-doc distinct over the hashes, not the strings: the distinct
    # is the first shuffle of the job and moves 16-byte (doc_id, h)
    # rows.  Same sets unless two distinct shingles of one doc collide.
    shingles = _shingles(_with_truncated_copies(docs), 3).select("doc_id", "h").distinct()
    # persisted AFTER the cap: its three readers (sizes, both self-join
    # sides) scan the kept rows instead of each re-running the cap join
    # (measured faster than persisting `shingles`, sf0.01/sf0.1 on 4
    # cores).  DISK_ONLY, not memory: at 100 TB the kept-shingle set
    # dwarfs executor memory.
    tri = _df_capped(shingles, df_cap).persist(StorageLevel.DISK_ONLY)
    sizes = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = tri.alias("a")
    b = tri.alias("b")
    inter = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"))
    j = (
        inter.join(sa, "id1").join(sb, "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "n_inter", "n1", "n2", "jaccard")
    )
    return j


SUBSTR_K = 8        # shingle width, words (detection resolution)
SUBSTR_MIN_WORDS = 15  # report spans at least this many words long
SUBSTR_DF_CAP = 64  # drop shingles present in more docs than this


def _substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the planted substring-dup partners, as (doc_id, ws)
    word arrays.  Every doc with >= 51 words gets a partner
    (doc_id + 2e6) embedding its words 12..51 between unrelated
    sentinel words -> a known 40-word duplicated span per qualifying
    doc, mirrored verbatim in the DuckDB oracles."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", _words().alias("ws"))
    copy = base.filter(F.size("ws") >= 51).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.array(
                F.concat(F.lit("zq"), F.col("doc_id").cast("string")),
                F.lit("filler"), F.lit("alpha"), F.lit("beta"),
            ),
            F.slice("ws", 12, 40),
            F.array(F.lit("omega"), F.lit("filler"), F.lit("end")),
        ).alias("ws"),
    )
    return base.unionByName(copy)


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicated-SPAN detection — the
    suffix-array-style substring dedup of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (ACL '22), at word
    granularity.  Unlike doc-level exact/MinHash/winnowing dedup this
    reports WHICH span of which pair of documents is repeated, the
    primitive substring-removal dedup needs.

    Algorithm (all DataFrame ops, no UDF):
      1. `_shingles`: k-word (k = SUBSTR_K) shingle hashes at EVERY
         word position, with their positions.
      2. `_df_capped`: the document-frequency cap on the shingle hash
         shared with `trigram_jaccard_pairs` — a boilerplate k-gram
         shared by thousands of docs would otherwise explode the
         self-join O(df^2).  Capped shingles can split a reported
         span; semantics are "maximal runs of kept shingles",
         mirrored in the oracle.
      3. Self-join on the hash (id1 < id2) -> anti-diagonal runs:
         matches of one contiguous duplicated span share
         diag = pos_a - pos_b, and their pos_a values are consecutive.
         Gaps-and-islands (row_number window per (id1, id2, diag))
         merges each run into one maximal span: any common substring
         of >= k words is found, with exact start offsets on both
         sides and length max-min+k.
      4. Keep spans >= SUBSTR_MIN_WORDS.

    Dup plant: every doc with >= 51 words gets a partner
    (doc_id + 2e6) embedding its words 12..51 between unrelated
    sentinels -> a known 40-word duplicated span per qualifying doc.

    Shuffle budget: explode is map-side; the df agg, the cap join and
    the self-join all shuffle on `h` (co-partitioned); the window and
    the span groupBy share one (id1, id2, diag)-clustered exchange
    (groupBy keys are a superset, Catalyst reuses the partitioning).
    The gram table is corpus-sized -> DISK_ONLY persist, same policy
    as the trigram/minhash intermediates.
    """
    from pyspark.sql import Window

    grams = _shingles(_substring_corpus(spark, sf_dir), SUBSTR_K).persist(
        StorageLevel.DISK_ONLY
    )
    g = _df_capped(grams, SUBSTR_DF_CAP)
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    wspec = Window.partitionBy("id1", "id2", "diag").orderBy("pa")
    runs = pairs.withColumn(
        "grp", F.col("pa") - F.row_number().over(wspec)
    )
    return (
        runs.groupBy("id1", "id2", "diag", "grp")
        .agg(
            F.min("pa").alias("s1"),
            F.max("pa").alias("e1"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn("span_words", F.col("e1") - F.col("s1") + F.lit(SUBSTR_K))
        .filter(F.col("span_words") >= SUBSTR_MIN_WORDS)
        .select(
            "id1",
            "id2",
            F.col("s1").alias("start1"),
            (F.col("s1") - F.col("diag")).alias("start2"),
            "span_words",
            "n_grams",
        )
    )


def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of exact substring dedup (Lee et al. keep one
    occurrence and cut the rest): for every detected duplicated span,
    the lower-id document keeps its copy and the higher-id document's
    word range is cut.  Per doc: overlapping/adjacent cut ranges are
    union-merged (gaps-and-islands over the running max of range
    ends), then the surviving words are reassembled in one Catalyst
    projection (filter-with-index over the word array vs the
    collected cut ranges — no UDF, no extra shuffle beyond the span
    pipeline's own).

    Output: (doc_id, n_removed, text_dedup) for EVERY corpus doc
    (planted partners included); n_removed = words cut.  The cut-range
    array order is irrelevant (membership test), so collect_list's
    nondeterministic ordering cannot change the output."""
    from pyspark.sql import Window

    spans = substring_dup_spans(spark, sf_dir)
    # DISTINCT cut ranges (r6 flake fix): several id1 partners (e.g.
    # exact-duplicate sources) can report the IDENTICAL (doc_id, s, e)
    # cut.  Identical ranges always union-merge, so distinct is
    # value-neutral — but it removes ties from the (s, e) window
    # order.  With ties present, an engine that evaluates the
    # running-max window and the island running-sum window under two
    # independent sorts can interleave the tied rows differently and
    # split one island in two (observed once in DuckDB on the oracle
    # side: n_removed 80 vs 40 for a doc with three identical spans).
    # After distinct, (s, e) is unique per doc and both windows are
    # totally ordered in any engine.
    cuts = spans.select(
        F.col("id2").alias("doc_id"),
        F.col("start2").alias("s"),
        (F.col("start2") + F.col("span_words")).alias("e"),
    ).distinct()
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    merged = (
        cuts.withColumn(
            "pme",
            F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "flag",
            F.when(
                F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("cuts"))
    )
    all_docs = _substring_corpus(spark, sf_dir)
    return all_docs.join(merged, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.expr("aggregate(cuts, 0L, (a, r) -> a + r.e - r.s)"),
            F.lit(0).cast("long"),
        ).alias("n_removed"),
        F.when(F.col("cuts").isNull(), F.concat_ws(" ", "ws"))
        .otherwise(
            F.expr(
                "concat_ws(' ', filter(ws, (w, i) -> "
                "NOT exists(cuts, r -> i >= r.s AND i < r.e)))"
            )
        )
        .alias("text_dedup"),
    )


DECON_N = 13          # n-gram width: the GPT-3 / Llama-2 decontamination recipe
DECON_BENCH_MOD = 41  # doc_id % 41 == 0 -> held-out eval ("benchmark") doc


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every TRAINING document that
    shares any n-word gram with the held-out eval set — the n-gram
    overlap rule used to scrub eval benchmarks out of LLM pretraining
    corpora (GPT-3 appendix C / Llama-2 style, 13-grams).

    Eval set: docs with doc_id % DECON_BENCH_MOD == 0, over the same
    planted-span corpus as `substring_dup_spans` (so every qualifying
    benchmark doc has a training partner carrying a verbatim 40-word
    span of it -> 40 - n + 1 known matching gram positions).

    Plan (the 100 TB shape is the point):
      * both sides shingle map-side through `_shingles` (the
        strings never leave the task);
      * the eval side is tiny and FIXED-SIZE at any corpus scale (a
        benchmark suite, not a corpus sample), so its distinct gram
        hashes BROADCAST to the training scan — the corpus-sized
        training gram table is never shuffled;
      * the hit aggregate is a map-side-combinable groupBy on doc_id
        over only the matched rows;
      * the per-doc gram totals re-join broadcast (hits are few), so
        the corpus stays Exchange-free end to end.

    The synthetic fixture derives the eval slice from the corpus table
    itself, which plans as a second (filtered) scan; a production run
    reads the benchmark suite from its own tiny table, so the corpus
    is scanned exactly once.

    Output, contaminated training docs only: (doc_id, n_hits =
    matching gram positions, n_hit_grams = distinct matching grams,
    n_total = gram positions in the doc, contam_frac).  xxhash64 join
    keys vs the oracle's string join: same two-implementation strategy
    as `substring_dup_spans`."""
    n = DECON_N
    docs = (
        _substring_corpus(spark, sf_dir)
        .filter(F.size("ws") >= n)
        .select(
            "doc_id",
            "ws",
            (F.size("ws") - F.lit(n) + F.lit(1)).cast("long").alias("n_total"),
            (F.col("doc_id") % DECON_BENCH_MOD == 0).alias("is_bench"),
        )
    )
    bench = _shingles(docs.filter("is_bench"), n).select("h").distinct()
    hits = (
        _shingles(docs.filter(~F.col("is_bench")), n)
        .select("doc_id", "h")
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("h").alias("n_hit_grams"),
        )
    )
    return docs.select("doc_id", "n_total").join(
        F.broadcast(hits), "doc_id"
    ).select(
        "doc_id",
        "n_hits",
        "n_hit_grams",
        "n_total",
        (F.col("n_hits") / F.col("n_total")).alias("contam_frac"),
    )


def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (alpha = 0.5, the XLM-R /
    multilingual-BERT exponent): languages are re-weighted q_l
    proportional to sqrt(c_l) and the corpus is downsampled to the
    mixed distribution at unchanged total budget — the standard
    low-resource-upweighting step of a multilingual LLM data pipeline
    (subsample-only variant: head languages shrink toward their mixed
    share, tail languages cap at keep-rate 1 rather than replicate).

    Determinism is integer-exact end to end so the DuckDB twin agrees
    bit-for-bit: per-row uniform u = (doc_id * 2654435761) % 2^32
    (Knuth multiplicative hash), weights w_l = floor(sqrt(c_l))
    (IEEE sqrt of an exact-below-2^52 integer, correctly rounded in
    both engines), and the keep test is the cross-multiplied integer
    inequality  u * S * c_l < 2^32 * w_l * B  (B = sum c, S = sum w;
    min(keep_rate, 1) falls out because u < 2^32).  No float sums
    whose accumulation order could differ between engines.  Fixture
    magnitudes keep every product below 2^63; a 10^12-row run would
    hold the same inequality in decimal/128-bit.

    Plan: one tiny groupBy(lang) + its scalar rollup, both broadcast
    back to the corpus scan — the corpus itself is filtered map-side,
    zero corpus-sized shuffles."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "w", F.floor(F.sqrt(F.col("cnt").cast("double"))).cast("long")
        )
    )
    tot = cnt.agg(F.sum("cnt").alias("B"), F.sum("w").alias("S"))
    rates = cnt.crossJoin(F.broadcast(tot))
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(
            u * F.col("S") * F.col("cnt")
            < F.lit(4294967296) * F.col("w") * F.col("B")
        )
        .select("doc_id", "lang")
    )


def temperature_resample_upsampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full XLM-R temperature resample (alpha = 0.5) WITH tail
    replication: each language's target row count is
    n_l = round(sqrt(c_l)/S * B) (B = corpus size, S = sum of integer
    sqrt weights), head languages are downsampled and tail languages
    UPSAMPLED by emitting (doc_id, lang, copy_idx) replicas — the half
    `temperature_resample` deliberately omits.

    Everything stays in integer arithmetic so the DuckDB twin agrees
    bit-for-bit: n_l = (2*w_l*B + S) div (2*S) (round-half-up without
    floats), per-doc copies = n_l div c_l plus one extra when
    u*c_l < (n_l mod c_l)*2^32 (u = Knuth hash of doc_id) — realized
    per-lang totals are n_l in expectation with binomial noise only on
    the fractional part.  Replicas materialize as a map-side
    explode(sequence(0, copies-1)); the per-lang plan (a handful of
    rows) broadcasts, so the corpus is never shuffled."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "w", F.floor(F.sqrt(F.col("cnt").cast("double"))).cast("long")
        )
    )
    tot = cnt.agg(F.sum("cnt").alias("B"), F.sum("w").alias("S"))
    plan = cnt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.expr("(2 * w * B + S) div (2 * S)").alias("target"),
    )
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    return (
        docs.join(F.broadcast(plan), "lang")
        .withColumn(
            "copies",
            F.expr("target div cnt")
            + F.when(
                u * F.col("cnt")
                < (F.col("target") % F.col("cnt")) * F.lit(4294967296),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .filter(F.col("copies") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr("sequence(0L, copies - 1)")).alias("copy_idx"),
        )
    )


def _minhash_coeffs(n_perm: int):
    """Deterministic well-mixed 31-bit (a, b) pairs — weak multipliers
    (2i+1) correlate the per-permutation minima and bias the estimate."""
    import numpy as np

    rng = np.random.default_rng(np.random.PCG64(11))
    a = [int(x) | 1 for x in rng.integers(1, 2**31 - 1, size=n_perm)]
    b = [int(x) for x in rng.integers(0, 2**31 - 1, size=n_perm)]
    return a, b


MINHASH_PERMS = 32  # signature length
MINHASH_BANDS = 8   # LSH bands of MINHASH_PERMS // MINHASH_BANDS rows each


def minhash_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs: band the signature (bands x r),
    bucket-join on (band, banded-signature hash), estimate jaccard as
    matching-minhash fraction.  Dup plant: `_with_truncated_copies`,
    as in trigram_jaccard_pairs.

    h_i(s) = (a_i * x + b_i) mod p with x = xxhash64(s) mod p — all
    inside the JVM (xxhash64 + arithmetic), no UDF; deterministic
    coefficient table."""
    n_perm, bands = MINHASH_PERMS, MINHASH_BANDS
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # p = 2^31-1 keeps a_i * x + b_i well inside int64 (ANSI mode errors
    # on overflow rather than wrapping)
    p = 2147483647
    # r6: no per-doc distinct before the min-aggregation — min() over a
    # multiset equals min() over its support, so duplicate shingles
    # cannot change any signature (bit-identical output, verified by
    # exceptAll both ways), and dropping the distinct removes the
    # full-width (doc_id, shingle-string) shuffle that dominated this
    # stage; what remains shuffles only map-side-combined partial
    # minima (one 32-column row per doc per map partition).
    hashed = _shingles(_with_truncated_copies(docs), 3).select(
        "doc_id", F.pmod("h", F.lit(p)).alias("x")
    )
    a, b = _minhash_coeffs(n_perm)
    aggs = [
        F.min(F.pmod(F.lit(a[i]) * F.col("x") + F.lit(b[i]), F.lit(p))).alias(f"mh{i}")
        for i in range(n_perm)
    ]
    # one signature row per doc (n_perm longs) but still corpus-
    # cardinality: DISK_ONLY so the band fan-out re-reads from local
    # disk instead of pinning executor memory at 100 TB
    sig = hashed.groupBy("doc_id").agg(*aggs).persist(StorageLevel.DISK_ONLY)

    r = n_perm // bands
    banded = None
    for b in range(bands):
        cols = [F.col(f"mh{b * r + k}") for k in range(r)]
        part = sig.select(
            "doc_id", F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket")
        )
        banded = part if banded is None else banded.unionByName(part)
    a = banded.alias("a")
    c = banded.alias("b")
    cand = (
        a.join(c, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    s1 = sig.select(F.col("doc_id").alias("id1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_perm)])
    s2 = sig.select(F.col("doc_id").alias("id2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_perm)])
    match_frac = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n_perm)
    ) / F.lit(float(n_perm))
    return (
        cand.join(s1, "id1").join(s2, "id2")
        .select("id1", "id2", match_frac.alias("est_jaccard"))
    )


# Edge sets up to this many rows are labelled on the driver: collected
# once as Arrow and run through the NumPy union-find
# (`imageops.min_label_roots`).  At the bound that is 64 MiB of int64
# id pairs, well under Spark's default 1 GiB `spark.driver.
# maxResultSize`, and the kernel labels a randomly numbered 10^6-vertex
# path in ~1 s on one core; near-dup graphs are far smaller (591 edges
# at sf0.01, 5,869 at sf0.1).  Above it the labelling stays on the
# executors.
CC_DRIVER_EDGES = 1 << 22
# Large-star/small-star needs O(log n) rounds (Kiveris et al.; the
# 400-vertex chain test converges within 14), and no id space here
# exceeds 2^64 vertices: hitting this guard means a fault, not a big
# graph.
CC_MAX_ROUNDS = 64


def _label_on_driver(spark: SparkSession, edges, id_type: T.DataType) -> DataFrame:
    """Min-id labels for the vertices of a pyarrow ``(u, v)`` edge table:
    ids are factorized in sorted order, so the kernel's min index per
    component is the min id."""
    import numpy as np
    import pyarrow as pa

    from .imageops import min_label_roots

    ends = [edges.column(c).to_numpy() for c in ("u", "v")]
    ids, inv = np.unique(np.concatenate(ends), return_inverse=True)
    n = edges.num_rows
    roots = min_label_roots(len(ids), inv[:n], inv[n:])
    arrow_type = edges.schema.field("u").type
    labels = pa.table({
        "v": pa.array(ids, arrow_type),
        "comp": pa.array(ids[roots], arrow_type),
    })
    return spark.createDataFrame(labels, T.StructType(
        [T.StructField("v", id_type), T.StructField("comp", id_type)]
    ))


def _release(df: DataFrame) -> None:
    """Drop the blocks behind a `localCheckpoint` frame once no live
    frame reads them."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components: ``(v, comp)`` for every vertex of the
    undirected graph ``edges``, with comp = the min vertex id of v's
    component.  Ids may be any orderable type; both endpoint columns are
    read as the type their union takes.  A vertex seen only in a
    self-loop is its own component.

    Small graphs (at most `CC_DRIVER_EDGES` edges — every near-dup graph
    here) are collected once as Arrow and labelled on the driver by
    `imageops.min_label_roots`, the union-find the pixel labeler uses;
    the result is a local frame, nothing stays persisted, and the step
    costs one collect of the edge plan instead of Spark jobs per round.
    The bound keeps a hub-heavy graph from reaching the driver whole
    (DS2, ICDE 2021).

    Larger graphs run large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) on the
    executors.  large-star(u): every neighbour larger than u re-points
    to m = min(N(u) ∪ {u}), which halves long chains; small-star(u): u
    and its smaller neighbours all point to the min of those, which
    flattens local stars.  Rounds are O(log n) whatever the diameter;
    no round adds edges, so state never exceeds the input edge list.
    Each round ends in a checksum (edge count, sum of
    xxhash64(u, v)); a round that changes nothing is the fixpoint, a
    union of stars child -> min id, and the labels are read off it.  As
    soon as the edge set fits `CC_DRIVER_EDGES` the rest is finished
    on the driver instead.  Each round's frame is a `localCheckpoint`
    (the plan stays one round deep), released as soon as the next round
    is materialized; the returned frame keeps the vertex list's
    checkpoint, plus the final stars' if it ended at the fixpoint.
    Raises after `CC_MAX_ROUNDS` rounds rather than return unconverged
    labels."""
    spark = edges.sparkSession
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    id_type = (
        und.select("u").unionByName(und.select(F.col("v").alias("u"))).schema["u"].dataType
    )
    und = und.select(F.col("u").cast(id_type), F.col("v").cast(id_type))
    head = und.limit(CC_DRIVER_EDGES + 1).toArrow()
    if head.num_rows <= CC_DRIVER_EDGES:
        return _label_on_driver(spark, head, id_type)
    del head

    def _sym(df: DataFrame) -> DataFrame:
        return (
            df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _checksum(df: DataFrame):
        # decimal(38,0) accumulator: summing ~2^63-range hashes in a
        # long overflows under ANSI mode
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row.n, row.s)

    # checkpoint the raw edge list first: `verts` and `e` both read it,
    # and without it the caller's upstream plan (the MinHash pairs)
    # runs once per reader
    und = und.localCheckpoint()
    verts = (
        und.select("u").unionByName(und.select(F.col("v").alias("u"))).distinct()
        .localCheckpoint()
    )
    e = _sym(und).localCheckpoint(eager=False)
    cur = _checksum(e)
    _release(und)
    for _ in range(CC_MAX_ROUNDS):
        # e holds each undirected edge twice
        if cur[0] // 2 <= CC_DRIVER_EDGES:
            once = e.filter(F.col("u") < F.col("v")).toArrow()
            labels = _label_on_driver(spark, once, id_type)
            _release(e)
            break
        # large star: (u,v) with v > u  ->  (v, m_u)
        mins = e.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            e.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # lazy checkpoints: the round's checksum materializes e2 and,
        # through e2's plan, e1 — no separate materialization jobs
        e1 = _sym(ls).localCheckpoint(eager=False)
        # small star over edges oriented large -> small: (u,v), v <= u
        small = e1.filter(F.col("v") < F.col("u"))
        mins2 = small.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            small.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        e2 = _sym(ss).localCheckpoint(eager=False)
        prev, cur = cur, _checksum(e2)
        _release(e1)
        _release(e)
        e = e2
        if cur == prev:
            # the stable edge set is a union of stars child -> root
            labels = e.filter(F.col("v") < F.col("u")).select(
                F.col("u").alias("v"), F.col("v").alias("comp")
            )
            break
    else:
        _release(e)
        _release(verts)
        raise RuntimeError(
            f"connected_components: no fixpoint within {CC_MAX_ROUNDS} rounds"
        )
    return verts.select(F.col("u").alias("v")).join(labels, "v", "left").select(
        "v", F.coalesce("comp", F.col("v")).alias("comp")
    )


NEARDUP_MIN_JACCARD = 0.5  # the oracle's pair threshold


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster ids: MinHash-LSH candidate pairs thresholded at
    `NEARDUP_MIN_JACCARD`, then `connected_components` — the step
    between pair generation and "keep one doc per cluster" in a dedup
    pipeline.  Component id = min doc_id in the cluster (the canonical
    keeper).  Registered twice, as ``neardup_components`` and
    ``neardup_components_star``, with one DuckDB oracle."""
    pairs = minhash_lsh_dup_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_MIN_JACCARD
    )
    comp = connected_components(pairs, src="id1", dst="id2")
    return comp.select(F.col("v").alias("doc_id"), F.col("comp").alias("component"))


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document — one per-row fold, ZERO shuffles.

    The r01 version exploded every word hash into 64 (doc_id, bit) rows
    and shuffled them twice (64x row amplification on the hot path); at
    corpus scale that dominates the job.  Here the 64 bit-votes are
    accumulated inside a single aggregate() higher-order function per
    row: ones[b] = count of word hashes with bit b set, and bit b of
    the result is set iff 2*ones[b] > n_words (the +-1 vote sign).
    Bit-identical output (same xxhash64 word hashes, same sign rule),
    so the oracle sidecar is unchanged."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.size(_words()).alias("nw"),
        F.expr(
            "aggregate("
            "  transform(split(trim(text), '\\\\s+'), w -> xxhash64(w)),"
            "  array_repeat(0L, 64),"
            "  (acc, h) -> zip_with(acc, sequence(0, 63),"
            "                       (a, b) -> a + (shiftrightunsigned(h, b) & 1L)))"
        ).alias("ones"),
    )
    return base.select(
        "doc_id",
        F.expr(
            "aggregate("
            "  zip_with(ones, sequence(0, 63),"
            "           (o, b) -> if(2L * o > nw, shiftleft(1L, b), 0L)),"
            "  0L, (acc, x) -> acc + x)"
        ).alias("simhash"),
    )


# --------------------------------------------------------------- events

def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 analog: per-user lag over ts; positive gap stats per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond diffs are integer-exact and timezone-free on naive
    # timestamps (second-granularity functions disagree across engines
    # on sub-second rounding vs boundary counting)
    gaps = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "gap_us", F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    )
    return gaps.filter(F.col("gap_us").isNotNull()).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").alias("sum_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum((F.col("gap_us") > 3600 * 1000000).cast("int")).alias("n_gaps_gt_1h"),
    )


def event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# Inter-event gap that splits a session.  The batch op and both
# streaming sessionizers read it, so their outputs agree by design.
SESSION_GAP_MINUTES = 30


def event_sessions(
    spark: SparkSession, sf_dir: str, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Gap-based sessionization (W-class): per-user sessions split where
    the inter-event gap reaches `gap_minutes`.

    Classic lag -> boundary-flag -> cumulative-sum session index, all
    window ops partitioned by user_id — one shuffle on the session key,
    scale-safe (state per user is a running int, never materialized).
    The boundary rule (new session when gap >= g, i.e. merge only when
    gap < g) matches Spark's built-in `session_window` semantics, so
    `streaming.stream_event_sessions` over the same input yields the
    same sessions (parity-tested in tests/test_streaming.py); this
    batch form is SQL-expressible for the exact DuckDB oracle.
    Microsecond integer arithmetic throughout (see event_gaps)."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 60_000_000 * gap_minutes
    flagged = ev.withColumn(
        "gap_us", F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                         "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    ).withColumn(
        "new_sess",
        (F.col("gap_us").isNull() | (F.col("gap_us") >= gap_us)).cast("int"),
    )
    sess = flagged.withColumn("session_idx", F.sum("new_sess").over(w))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("duration_us"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def weighted_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (reference rotate_any_angle.py:96-104): weighted median —
    first value whose cumulative weight reaches half the group total.
    Two-pass: per-(group, value) weight sums (full hash parallelism),
    then the running-weight window over the distinct-value table only.
    Weights are small exact integers (event_id % 10 + 1) so cumulative
    float64 sums are order-independent and engine-exact."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").withColumn(
        "wt", (F.col("event_id") % 10 + 1).cast("double")
    )
    # Two-pass exact form.  A window partitioned on event_type (~5
    # distinct values) over the RAW table funnels every row into 5
    # sort partitions — a single-task bottleneck at corpus scale.
    # Pass 1 instead aggregates weight per (event_type, value): full
    # hash parallelism, map-side combine, output cardinality = number
    # of DISTINCT values per group (tiny vs the corpus).  Pass 2 runs
    # the cumulative-weight window over that aggregated table only.
    # Identical results to the one-window form: the RANGE-frame window
    # already gave peer rows (equal values) the same cumulative
    # weight, which is exactly the per-value sum; integer-valued
    # float64 weights keep every sum order-independent and
    # engine-exact.  tests/test_plans.py asserts the full-table sort
    # is gone.
    per_value = ev.groupBy("event_type", "value").agg(F.sum("wt").alias("w"))
    cum_w = Window.partitionBy("event_type").orderBy("value")
    tot_w = Window.partitionBy("event_type")
    t = per_value.select(
        "event_type",
        "value",
        F.sum("w").over(cum_w).alias("cum"),
        F.sum("w").over(tot_w).alias("tot"),
    )
    return (
        t.filter(F.col("cum") >= F.col("tot") / 2.0)
        .groupBy("event_type")
        .agg(F.min("value").alias("weighted_median"))
    )


# ---------------------------------------------------------- TPC-H-ish

def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 rollup analog (TPC-H Q1 shape) with decimal sums."""
    li = load(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + top-10 (J2/A8 analog): customers by decimal order total."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


def discount_grid_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 grid-search argmax analog: best (qty_max, disc_min) cell by
    decimal revenue over a small parameter grid (crossJoin eval)."""
    li = load(spark, sf_dir, "lineitem")
    grid = spark.createDataFrame(
        [(q, d_ / 100.0) for q in (10, 20, 30, 40) for d_ in (2, 4, 6, 8)],
        ["qty_max", "disc_min"],
    )
    revenue = (
        li.crossJoin(F.broadcast(grid))
        .filter((F.col("l_quantity") < F.col("qty_max")) & (F.col("l_discount") >= F.col("disc_min")))
        .groupBy("qty_max", "disc_min")
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,4)") * F.col("l_discount").cast("decimal(18,4)")).cast(
                    "decimal(28,8)"
                )
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return revenue.orderBy(F.desc("revenue"), "qty_max", "disc_min").limit(1)
