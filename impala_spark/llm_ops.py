"""LLM-training-data pipeline operators (beyond the reference surface).

Design rules for 100 TB (the whole point of these):
- NO all-pairs comparisons. Candidate generation is always a bucketed
  equi-join (LSH bands / simhash prefixes / ngram buckets) so the shuffle
  keys carry the pruning; verification runs only within buckets.
- NO .collect() in any query path; single-row "query vectors" travel via
  broadcast joins.
- Hashing is JVM-side (xxhash64 / crc32 / md5 via pyspark.sql.functions),
  not Python UDFs — stays inside whole-stage codegen.
- Deterministic everywhere (seeded hash mixes), so results are testable
  against an oracle and stable across retries — a requirement for
  exactly-once backfills at scale.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_WORD_SPLIT = r"\s+"
# BPE-ish token heuristic: word pieces, digits, punctuation runs.
_BPE_TOKEN = r"[A-Za-z]+(?:'[a-z]+)?|[0-9]+|[^\sA-Za-z0-9]"

_EN_STOPWORDS = r"(?i)\b(the|and|of|to|in|is|that|for|with|was|are)\b"
_ES_STOPWORDS = r"(?i)\b(el|la|los|las|de|que|en|es|por|con|una?)\b"
_FR_STOPWORDS = r"(?i)\b(le|la|les|des|de|que|est|une?|dans|pour|avec)\b"


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token counts, ratios.

    All built-ins — this runs at full codegen speed over 100 TB of text.
    """
    t = F.col(text_col)
    ws_tokens = F.split(F.trim(t), _WORD_SPLIT)
    return df.withColumns(
        {
            "char_len": F.length(t).cast("bigint"),
            "token_count": F.size(ws_tokens).cast("bigint"),
            "bpe_token_count": F.size(F.regexp_extract_all(t, F.lit(_BPE_TOKEN), 0)).cast("bigint"),
            "avg_token_len": F.round(
                F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(F.size(ws_tokens), F.lit(1)),
                4,
            ),
            "punct_ratio": F.round(
                F.length(F.regexp_replace(t, r"[^.!?,;:]", "")) / F.greatest(F.length(t), F.lit(1)),
                6,
            ),
            "upper_ratio": F.round(
                F.length(F.regexp_replace(t, r"[^A-Z]", "")) / F.greatest(F.length(t), F.lit(1)),
                6,
            ),
            "digit_ratio": F.round(
                F.length(F.regexp_replace(t, r"[^0-9]", "")) / F.greatest(F.length(t), F.lit(1)),
                6,
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length sweet-spot, low punctuation
    noise, stopword presence (fluency proxy). Deterministic arithmetic only."""
    d = text_stats(df, text_col)
    stop_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_EN_STOPWORDS), 0))
    stop_ratio = stop_hits / F.greatest(F.col("token_count"), F.lit(1))
    length_score = F.least(F.col("token_count") / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))
    fluency_score = F.least(stop_ratio * 3, F.lit(1.0))
    return d.withColumn(
        "quality_score",
        F.round(0.4 * length_score + 0.3 * punct_score + 0.3 * fluency_score, 6),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID from stopword-hit ratios (n-gram-free so the
    same logic is expressible in the SQL oracle). Real deployments swap in
    a pandas_udf over fasttext/cld3 — the plumbing stays identical."""
    t = F.col(text_col)
    en = F.size(F.regexp_extract_all(t, F.lit(_EN_STOPWORDS), 0))
    es = F.size(F.regexp_extract_all(t, F.lit(_ES_STOPWORDS), 0))
    fr = F.size(F.regexp_extract_all(t, F.lit(_FR_STOPWORDS), 0))
    return df.withColumn(
        "lang_pred",
        F.when((en >= es) & (en >= fr) & (en > 0), "en")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("unknown"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace/case-normalized text.
    The exact-dedup key — one shuffle on a 32-byte string at any scale."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fp", F.md5(norm))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer splits than the
    compute width (a single small file, a coalesced upstream). At 100 TB
    the scan already yields thousands of splits and this is a no-op — no
    full-data shuffle is ever added on the scale path."""
    n = _compute_partitions(df)
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _compute_partitions(df: DataFrame) -> int:
    """Partition count for exchanges that materialize EXPENSIVE derived
    columns (signatures, shingle sets). Must be a user-specified number:
    AQE's coalescer treats numberless repartition(col) as advisory and,
    tuned for small shuffles (parallelismFirst=false), would collapse the
    KB-sized exchange to one task — serializing the compute that sits ON
    TOP of it.

    The count is data-scaled and cluster-capped (r12): ceil(estimated
    input bytes / per-task budget), floored at 2, capped at
    defaultParallelism. A KB-sized corpus no longer fans every stage out
    to cluster-width task packs (at sf0.1 that was 32 tasks x ~7 stages
    of pure scheduling overhead — measured 0.87 -> 0.78 s median on
    minhash, identical rows); a 100 TB corpus still saturates the
    cluster (estimate >> budget * slots -> capped). The budget is the
    estimated bytes of input text one task shingles/hashes, NOT a
    shuffle-size target; parameterise per deployment via
    spark.graft.compute.bytesPerTask (default 64 KiB). Sizing comes from
    the optimizer's sizeInBytes estimate — driver-side, no job; any
    estimation failure falls back to cluster width."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    est = _estimated_bytes(df)
    if est is None:
        return slots
    per_task = int(spark.conf.get("spark.graft.compute.bytesPerTask", "65536"))
    need = -(-est // max(per_task, 1))
    return max(2, min(slots, need))


def _estimated_bytes(df: DataFrame) -> int | None:
    """Optimizer sizeInBytes estimate — driver-side, no job. None on any
    failure (callers fall back to their safe default). Estimates on text
    columns can be off (r12 verdict #6); every use here is clamped by a
    cluster-width cap or a coarse on/off gate, so a wild estimate costs
    at most the old fan-out, never correctness."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by normalized-text fingerprint, keep min id.
    One hash shuffle; partial aggregation makes the map side absorb the
    duplicates before the exchange."""
    fp = fingerprint(df, text_col)
    return fp.groupBy("fp").agg(
        F.min(id_col).cast("bigint").alias("keep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )


def shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Word k-shingles as a deduped array column (JVM-side).

    O(n*k) per document: each shingle is built from k positional
    element-gets. (An earlier version used slice()-per-index, which copies
    the whole words array per shingle — O(n^2) per doc, catastrophic on
    long documents.) The words array is bound to a real column first so
    CollapseProject cannot re-inline the split/regex per get()."""
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+")
    w = F.col("_words")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(k)]))
    # NULL/empty/whitespace-only text -> empty shingle set (not [""] or
    # NULL): otherwise every contentless doc hashes to the same degenerate
    # signature and they all report each other as sim-1.0 duplicates.
    clean = F.filter(F.array_distinct(sh), lambda x: x != "")
    return (
        df.withColumn("_words", words)
        .withColumn("shingles", F.coalesce(clean, F.array().cast("array<string>")))
        .drop("_words")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 32, k: int = 3,
) -> DataFrame:
    """MinHash signature per document: for each of num_hashes seeded hash
    functions, the min hash over the shingle set. All array ops are
    Catalyst expressions — no Python in the loop.

    Each shingle string is hashed ONCE (xxhash64 over the string); the
    num_hashes families then re-hash that 8-byte long, which is ~an order
    of magnitude cheaper than re-hashing the full string per family —
    at 100 TB the string bytes dominate, so this is the difference between
    reading the text 1× and 32×."""
    def seeded_min(seed: int):
        # NB: factory, not a default-arg lambda — pyspark's higher-order
        # wrappers treat every Python parameter (defaults included) as a
        # lambda variable, which silently changes semantics.
        return F.array_min(F.transform("sh_hash", lambda h: F.xxhash64(h, F.lit(seed))))

    sh = shingles(df, text_col, k).withColumn(
        "sh_hash", F.transform("shingles", lambda s: F.xxhash64(s))
    )
    sig = F.array(*[seeded_min(i) for i in range(num_hashes)])
    return sh.withColumn("minhash", sig).drop("shingles", "sh_hash")


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 32, bands: int = 8, k: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH.

    Scale path (the contract for 100 TB):
      1. signatures: narrow map, no shuffle
      2. band keys: explode to num_bands rows/doc  (linear blowup, bounded)
      3. candidate pairs: self-equi-join ON band hash — a *hash shuffle*,
         never a cartesian product
      4. verify: exact signature-overlap similarity within candidates only
    Returns (a_id, b_id, sim) with a_id < b_id, sim >= threshold.

    Known skew hazard (measured r11, 500k-doc fixture with ~100-way
    near-duplicate clusters): the OUTPUT contract is all qualifying
    pairs, which is inherently quadratic in a near-dup cluster's size —
    C(100,2) ≈ 5k pairs per cluster, ~25M total there, with multi-minute
    runtime and GiB-scale shuffle allocations. That is the contract, not
    a plan defect (the join is still bucket-hashed, never all-pairs
    global). Deployed posture for heavy-duplication corpora: run
    dedup_exact FIRST (the curation pipeline already does), and feed
    pairs to dedup_clusters, which only needs a connectivity-spanning
    subset — at extreme duplication rates, cap bands or pre-shard by
    band_hash rather than asking for the full pair enumeration.
    """
    rows_per_band = num_hashes // bands
    # The repartition is load-bearing twice over: (a) it breaks Catalyst
    # projection-collapse, so the (expensive) signature expression is
    # evaluated ONCE and its result shuffled as 32 longs/doc instead of
    # being re-inlined into all `bands` band-hash expressions on both join
    # sides (a 2*bands-fold recompute of the text hashing); (b) it spreads
    # signature work across the cluster even when the input has few splits.
    # Downstream, identical subtrees (band left/right, verify a/b) hit
    # Spark's ReuseExchange, so the signature job runs once total.
    sig = (
        minhash_signatures(_spread(df), id_col, text_col, num_hashes, k)
        .select(F.col(id_col).alias("id"), "minhash")
        .repartition(_compute_partitions(df), F.col("id"))
    )
    # Candidate generation carries only (id, band_hash) — 16 bytes/row —
    # never the signatures. Contentless docs (empty shingle set -> all-null
    # signature) must not pair with each other: gate the band array with a
    # `when` so explode emits no rows for them. NB: this must NOT be a
    # Filter on a signature-derived column — Catalyst pushes such filters
    # below the repartition exchange and inlines the whole signature
    # expression into an interpreted scan-stage filter (measured: minutes).
    band_arr = F.when(
        F.element_at("minhash", 1).isNotNull(),
        F.array(
            *[
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice("minhash", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    ),
                    F.lit(b),
                )
                for b in range(bands)
            ]
        ),
    )
    banded = sig.select("id", F.explode(band_arr).alias("band_hash"))
    cand = (
        banded.select(F.col("id").alias("a_id"), "band_hash")
        .join(banded.select(F.col("id").alias("b_id"), "band_hash"), "band_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # Verify: join the (reused-exchange) signature table back per side.
    verified = (
        cand.join(sig.select(F.col("id").alias("a_id"), F.col("minhash").alias("a_sig")), "a_id")
        .join(sig.select(F.col("id").alias("b_id"), F.col("minhash").alias("b_sig")), "b_id")
    )
    overlap = F.size(F.array_intersect(F.col("a_sig"), F.col("b_sig")))
    sim = overlap / F.lit(float(num_hashes))
    return (
        verified.withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", "sim")
    )


#: Per-call sequence for minhash_lsh_pairs_exact's temp view names —
#: guarantees two concurrent calls on one session never share a view.
_MINHASH_VIEW_SEQ = 0
_MINHASH_VIEW_LOCK = threading.Lock()


def minhash_lsh_pairs_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, bands: int = 8, k: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification.

    Same scale path as minhash_lsh_pairs (banded equi-join candidate
    generation — never all-pairs), but candidates are re-scored with the
    exact shingle-set Jaccard instead of the signature estimate, so the
    output is deterministic ground truth: every emitted pair really has
    Jaccard >= threshold.  With bands=8 (2 rows/band) a pair at s >= 0.9
    is missed with probability (1-s^2)^8 < 2e-6 — at near-dup
    thresholds recall is 1.0 for all practical purposes, which makes the
    result oracle-checkable against an exact all-candidate-pairs SQL.

    Precondition: `id_col` values must be UNIQUE. The signature stage
    aggregates GROUP BY id (the r12 codegen rewrite), so duplicated ids
    would be merged into one combined signature instead of getting one
    signature per row — and the downstream cand/scored joins already
    assume id uniqueness (a duplicated id would cross-join its own
    copies). All fixture corpora key docs by a unique doc_id.

    """
    rows_per_band = num_hashes // bands
    spark = df.sparkSession
    n = _compute_partitions(df)
    # _spread equivalent: round-robin the raw docs across the slots only
    # when the input has fewer splits than the cluster (hint sits on the
    # bare column projection, so the shingle compute lands AFTER the
    # exchange, parallelized — same placement as the DataFrame form).
    spread_hint = (
        f"/*+ REPARTITION({n}) */ "
        if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
        else ""
    )
    # The ENTIRE pipeline is one SQL text analyzed in a single pass:
    # the previous DataFrame-chained form re-ran Spark's eager
    # per-transformation analysis on a growing plan at every step
    # (~0.27 s/build measured r12 at sf0.1; this form is ~0.12 s, result
    # rows identical). Expressions are verbatim the same, so results and
    # physical shape are unchanged: `base` is still repartitioned by id
    # and reused via ReuseExchange for banding and both verify probes.
    # NB: seeds must stay INT literals — xxhash64 mixes the argument TYPE,
    # so a long seed changes every signature vs the original F.lit(int).
    # Unique view name per call (r12 verdict #4): a fixed name made two
    # concurrent calls on one session race (last registration wins). The
    # view is dropped right after spark.sql() — DataFrame analysis is
    # eager, so the analyzed plan has already inlined the view's subtree
    # and the returned DataFrame never re-resolves the name.
    global _MINHASH_VIEW_SEQ
    with _MINHASH_VIEW_LOCK:
        _MINHASH_VIEW_SEQ += 1
        view = f"__minhash_exact_input_{_MINHASH_VIEW_SEQ}"
    gets = ", ".join(f"get(_w, i + {j})" for j in range(k))
    # Signature minima as a CODEGEN'D hash aggregate over the exploded
    # shingle hashes (r12): transform()/array_min() are HigherOrderFunction
    # CodegenFallback expressions — 16 interpreted passes with per-element
    # boxing, plus 16 materialized intermediate arrays per doc. min() over
    # explode(sh_hash) runs the same 16*|shingles| xxhash64 calls inside
    # whole-stage codegen with long accumulators, and the GROUP BY id rides
    # the existing REPARTITION(n, id) exchange (ClusteredDistribution
    # satisfied — no new shuffle; explode never crosses a stage boundary).
    # Seeds stay INT literals, so every minimum is bit-identical to the
    # transform form (interleaved A/B at sf0.1: identical 256 pairs,
    # median 0.590 -> 0.562 s, 4/5 wins; the win grows with corpus size
    # as the interpreted fraction grows).
    min_cols = ", ".join(f"min(xxhash64(h, {s})) AS m{s}" for s in range(num_hashes))
    # Band keys straight from the min columns: concat_ws over the casts is
    # byte-identical to array_join(transform(slice(...))) and fully
    # codegen'd. Empty docs never reach `sig` (explode emits no rows), so
    # the old size(sh_hash) > 0 gate is structural here.
    band_items = ", ".join(
        "xxhash64(concat_ws(',', %s), %d)"
        % (
            ", ".join(
                f"cast(m{b * rows_per_band + i} AS string)"
                for i in range(rows_per_band)
            ),
            b,
        )
        for b in range(bands)
    )
    base_cte = f"""
    WITH docs AS (
      SELECT {spread_hint}`{id_col}` AS id, `{text_col}` AS _t FROM {view}
    ), w AS (
      SELECT id, split(trim(regexp_replace(lower(_t), '[^a-z0-9\\\\s]', '')), '\\\\s+') AS _w
      FROM docs
    ), sh AS (
      SELECT id, coalesce(filter(array_distinct(transform(
               sequence(0, greatest(size(_w) - {k}, 0)),
               i -> concat_ws(' ', {gets}))), x -> x != ''),
             cast(array() AS array<string>)) AS shingles
      FROM w
    ), base AS (
      SELECT /*+ REPARTITION({n}, id) */ id,
             array_sort(transform(shingles, s -> xxhash64(s))) AS sh_hash
      FROM sh
    )"""
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(base_cte + f""", sig AS (
      SELECT id, {min_cols}
      FROM (SELECT id, explode(sh_hash) AS h FROM base)
      GROUP BY id
    ), banded AS (
      SELECT id, explode(array({band_items})) AS band_hash FROM sig
    ), cand AS (
      SELECT DISTINCT a.id AS a_id, b.id AS b_id
      FROM banded a JOIN banded b ON a.band_hash = b.band_hash AND a.id < b.id
    ), scored AS (
      SELECT c.a_id, c.b_id,
             round(size(array_intersect(sa.sh_hash, sb.sh_hash))
                   / size(array_union(sa.sh_hash, sb.sh_hash)), 6) AS jaccard
      FROM cand c JOIN base sa ON sa.id = c.a_id JOIN base sb ON sb.id = c.b_id
    )
    SELECT a_id, b_id, jaccard FROM scored WHERE jaccard >= {threshold}
    """)
    finally:
        try:
            spark.catalog.dropTempView(view)
        except Exception:
            pass  # never let cleanup mask the query result


def minhash_lsh_pairs_bounded(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, bands: int = 8, k: int = 3,
    threshold: float = 0.5, neighbors_per_doc: int = 2,
) -> DataFrame:
    """Bounded-output near-dup pairs (r12, VERDICT r11 #5): the
    all-qualifying-pairs contract of minhash_lsh_pairs[_exact] is
    inherently quadratic per near-dup cluster (measured ~25M pairs from
    ~100-way clusters on the 500k-doc r11 probe). This variant bounds
    BOTH the candidate join and the output: within each band bucket,
    each doc pairs only with its next `neighbors_per_doc` bucket-mates
    in id order — window LEAD over the bucket, NO self-join — so
    candidates are <= bands * neighbors_per_doc per doc REGARDLESS of
    duplication skew, and a degenerate all-identical corpus costs one
    linear sort per bucket instead of |bucket|^2 join rows.

    Contract: a deterministic connectivity-spanning SUBSET of
    minhash_lsh_pairs_exact. Each doc links to (a) the bucket MINIMUM —
    a star, so a verified bucket has component diameter 2 — and (b) its
    next neighbors_per_doc - 1 bucket-mates in id order, chain links
    that keep members connected when the bucket min itself is an
    isolated false candidate (near-dup transitivity). dedup_clusters
    reconstructs the exact contract's components from this subset.
    Every emitted pair is exact-Jaccard rescored: precision 1.0 against
    the shingle sets. Safe to call blind on a skewed 100 TB corpus; the
    exact contract stays the oracle-checked default for pair
    enumeration."""
    from pyspark.sql.window import Window

    rows_per_band = num_hashes // bands
    base = (
        shingles(_spread(df), text_col, k)
        .select(
            F.col(id_col).alias("id"),
            F.array_sort(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("sh_hash"),
        )
        .repartition(_compute_partitions(df), F.col("id"))
    )
    sig_sql = "array(%s)" % ", ".join(
        f"array_min(transform(sh_hash, h -> xxhash64(h, {seed})))"
        for seed in range(num_hashes)
    )
    sig = base.withColumn("minhash", F.expr(sig_sql))
    band_sql = "CASE WHEN size(sh_hash) > 0 THEN array(%s) END" % ", ".join(
        "xxhash64(array_join(transform(slice(minhash, %d, %d), x -> cast(x AS string)), ','), %d)"
        % (b * rows_per_band + 1, rows_per_band, b)
        for b in range(bands)
    )
    banded = sig.select("id", F.explode(F.expr(band_sql)).alias("band_hash"))
    w = Window.partitionBy("band_hash").orderBy("id")
    links = [F.min("id").over(Window.partitionBy("band_hash"))]  # star
    links += [
        F.lead("id", j).over(w) for j in range(1, neighbors_per_doc)
    ]  # chain skips
    cand = (
        banded.select(F.col("id").alias("a_id"), F.array(*links).alias("_nbs"))
        .select("a_id", F.explode("_nbs").alias("b_id"))
        .filter(F.col("b_id").isNotNull() & (F.col("a_id") != F.col("b_id")))
        # star edges arrive as (member, min): normalize to a_id < b_id
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])  # same link via many bands
    )
    a_sets = base.select(F.col("id").alias("a_id"), F.col("sh_hash").alias("a_sh"))
    b_sets = base.select(F.col("id").alias("b_id"), F.col("sh_hash").alias("b_sh"))
    return (
        cand.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("a_sh", "b_sh"))
                / F.size(F.array_union("a_sh", "b_sh")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash over word shingles: per bit, sign of the sum of
    (+1/-1) votes from each shingle's hash. ONE fold with an array-of-
    counters accumulator — pure Catalyst expressions.

    (r12: was `bits` separate aggregate folds, one per bit. That made
    the expression tree O(bits) aggregates: ~2 s of driver-side build
    and a one-time multi-second codegen/JIT of the giant projection per
    fresh session, plus `bits` interpreted passes over every shingle
    array. The single zip_with accumulator is one pass, one small tree:
    build 2.2 -> 0.6 s, exec 0.36 -> 0.28 s at sf0.01, simhash values
    bit-identical — the vote for bit b is the same +/-1 sum, just
    accumulated in acc[b] instead of its own fold.)"""
    sh = shingles(df, text_col, k=2).withColumn(
        # hash each shingle string once; the bit-votes then read bits of
        # the precomputed long instead of re-hashing the string per bit.
        "sh_hash", F.transform("shingles", lambda s: F.xxhash64(s))
    )
    votes = (
        f"aggregate(sh_hash, array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + IF(((h >> b) & 1) = 1, 1, -1)))"
    )
    sim = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return sh.withColumn("simhash", F.expr(sim).cast("long")).drop("shingles", "sh_hash")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.4, max_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, bucketed by rare-shingle keys:
    explode shingles -> self-join on shingle (hash shuffle) -> exact Jaccard
    on the candidate pairs. Frequency cap on bucket size guards against
    stopword-shingle skew (the salting analog for text)."""
    # Materialize the shingle arrays behind an exchange: four consumers
    # (explode left/right, verify a/b) otherwise each re-run the regex
    # shingling; post-exchange they all hit ReuseExchange instead.
    # No size()>0 filter here: explode() of an empty shingle array emits no
    # rows, so contentless docs can't generate candidates — and a Filter on
    # the shingles column would be pushed below the exchange and inline the
    # shingle expression into the scan stage (see band_arr note above).
    # Work on hashed shingles throughout: candidate join keys are 8-byte
    # longs (cheaper shuffle than strings) and the verify intersects long
    # arrays instead of string arrays (~2x less CPU on the hot path).
    # Jaccard over xxhash64'd distinct shingles equals Jaccard over the
    # shingles themselves up to 64-bit collisions (negligible: p < 1e-7
    # even at 10^6 distinct shingles per doc pair).
    raw = (
        shingles(_spread(df), text_col, k)
        .select(
            F.col(id_col).alias("id"),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_raw"),
        )
        .repartition(_compute_partitions(df), F.col("id"))
    )
    # Canonical PPJoin global order: ascending DOCUMENT FREQUENCY (rarity),
    # hash as tiebreak. The prefix lemma holds for ANY one consistent
    # global order, and rare-first prefixes make candidate buckets small
    # BY CONSTRUCTION — the near-universal shingles that would generate
    # quadratic bucket joins land at the back of every document's array,
    # outside the prefix. Costs one extra explode+agg pass (the standard
    # PPJoin preprocessing); measured 12.2s -> ~2s at sf0.1 with zero
    # recall loss.
    all_exploded = raw.select("id", F.explode("sh_raw").alias("sh"))
    freq = all_exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    sh = (
        all_exploded.join(freq, "sh")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "sh"))), lambda x: x["sh"]
            ).alias("sh_hash")
        )
        .repartition(_compute_partitions(df), F.col("id"))
    )
    # Prefix filtering (PPJoin lemma): under one global element order, two
    # sets with Jaccard >= t MUST share an element among each one's first
    # floor((1-t)*|X|)+1 elements — so only the prefix enters candidate
    # generation. Exact (no recall loss), and at t=0.4 it cuts exploded
    # rows ~40% and candidate pairs superlinearly.
    pref_len = (F.floor(F.size("sh_hash") * (1.0 - threshold)) + 1).cast("int")
    exploded = sh.select("id", F.explode(F.slice("sh_hash", 1, pref_len)).alias("sh"))
    # Residual skew guard on top of rarity ordering: drop prefix shingles
    # appearing in more than max_df docs. With rare-first prefixes this
    # trips only in pathological corpora (thousands of near-identical
    # docs); max_df=None disables it, keeping the join fully exact — the
    # mode the oracle-checked query uses.
    if max_df is not None:
        exploded = exploded.join(
            F.broadcast(freq.filter(F.col("df") <= max_df).select("sh")), "sh"
        )
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    a_sets = sh.select(F.col("id").alias("a_id"), F.col("sh_hash").alias("a_sh"))
    b_sets = sh.select(F.col("id").alias("b_id"), F.col("sh_hash").alias("b_sh"))
    verified = (
        pairs.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("a_sh", "b_sh"))
                / F.size(F.array_union("a_sh", "b_sh")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# Similarity search over embeddings (array<float>)
# ---------------------------------------------------------------------------


# SQL-string vector folds (§1.2): every higher-order lambda built
# through the PySpark Column API costs a fan of py4j round-trips plus an
# eager re-analysis at plan-construction time — measured 6.4-9.7 s of pure
# build in llm_embedding_near_dup and ~1.9 s in llm_ann_lsh (r13 phase
# profile). The parsed trees are identical (0.0D is the same double
# literal as F.lit(0.0)), so results are bit-identical.


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (acc, v) -> acc + v))"


def _l2dist_sql(a: str, b: str) -> str:
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def _cos_sim_sql(a: str, b: str, digits: int = 6) -> str:
    return f"round(({_dot_sql(a, b)}) / (({_norm_sql(a)}) * ({_norm_sql(b)})), {digits})"


def cosine_topk_bruteforce(
    df: DataFrame, query: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Baseline exact top-k: broadcast the (single-row) query vector against
    the corpus — a BroadcastNestedLoopJoin over ONE row, i.e. a map-side
    scan, not a shuffle. TopN via TakeOrderedAndProject."""
    # The query vector's norm is a constant of the search: fold it on the
    # one-row side BEFORE the broadcast so each corpus row runs one fold
    # (the dot) + one fold (its own norm) instead of three — the per-row
    # cost of these interpreted array folds is what scales with corpus
    # size (r12; result bit-identical, same expression over the same
    # operands).
    #
    # Built from SQL expression STRINGS, not Column-lambda helpers: each
    # higher-order lambda built through the PySpark API costs a fan of
    # py4j round trips at plan-construction time — measured 0.108 s of
    # pure build per fresh call vs 0.041 s for the string form (r12;
    # identical expressions, identical results).
    dot = (
        "aggregate(zip_with(v, q_vec, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nv = (
        "sqrt(aggregate(transform(v, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    nq = (
        "sqrt(aggregate(transform(q_vec, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    q = F.broadcast(
        query.selectExpr(f"cast(`{vec_col}` as array<double>) AS q_vec")
        .selectExpr("q_vec", f"{nq} AS q_norm")
    )
    corpus = df.selectExpr(f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v")
    scored = corpus.crossJoin(q).selectExpr(
        f"`{id_col}`",
        f"round({dot} / ({nv} * q_norm), 6) AS cos_sim",
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _hyperplane_sig_sql(vec_sql: str, planes: int, seed: int | None = None) -> str:
    """SQL text of the random-hyperplane signature: sign of dot(v, h_p)
    for pseudo-random {-1,+1} hyperplane components hashed from
    (dim index, plane[, seed]), packed into a `planes`-bit long.

    ONE string instead of `planes` zip_with/aggregate Column objects:
    each higher-order lambda built through pyspark costs a py4j
    round-trip fan plus eager re-analysis, which made
    embedding_near_dup_pairs spend 6.4-9.7 s per call in pure Python
    DataFrame construction (r13 phase profile; execute was 1.2 s). The
    parsed expression tree — literal types included (1.0D doubles, INT
    hash args, BIGINT shifts) — is identical to the old Column form, so
    every signature bit is bit-identical (pinned by test)."""
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    seed_arg = f", {seed}" if seed is not None else ""
    bits = []
    for p in range(planes):
        comp = (
            f"(x, i) -> x * (CASE WHEN (xxhash64(CAST(i AS STRING), {p}{seed_arg}) & 1) = 1 "
            f"THEN 1.0D ELSE -1.0D END)"
        )
        proj = (
            f"aggregate(zip_with({v}, sequence(0, size({v}) - 1), {comp}), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        bits.append(
            f"(CASE WHEN {proj} > 0 THEN shiftleft(CAST(1 AS BIGINT), {p}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(bits) + ")"


def lsh_bucketed_ann(
    df: DataFrame, query: DataFrame, k: int = 10, planes: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding", probe_hamming: int = 1,
) -> DataFrame:
    """Scale path: random-hyperplane LSH (SimHash for vectors).

    Index side: each vector hashed to a `planes`-bit signature by the sign
    of dot(v, h_p) for deterministic pseudo-random hyperplanes h_p (seeded
    hash of (plane, dim) -> {-1,+1} components — no stored model needed).
    Query side: same signature; probe buckets within Hamming distance
    `probe_hamming` (multi-probe LSH), candidates re-ranked exactly.
    The join is bucket-key equality — at 100 TB each probe touches
    ~corpus/2^planes vectors instead of everything.
    """
    sig = F.expr(_hyperplane_sig_sql("v", planes))
    q_sig = F.expr(_hyperplane_sig_sql("q_vec", planes))
    corpus = df.select(id_col, F.col(vec_col).alias("v")).withColumn("bucket", sig)
    q = query.select(F.col(vec_col).alias("q_vec")).withColumn("q_bucket", q_sig)
    # multi-probe: query bucket plus all buckets within hamming distance 1
    probes = [F.col("q_bucket")]
    if probe_hamming >= 1:
        probes += [F.col("q_bucket").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), p)) for p in range(planes)]
    q_probes = q.select("q_vec", F.explode(F.array(*probes)).alias("bucket"))
    cand = corpus.join(F.broadcast(q_probes), "bucket")
    scored = cand.select(
        F.col(id_col),
        F.expr(
            _cos_sim_sql("CAST(v AS ARRAY<DOUBLE>)", "CAST(q_vec AS ARRAY<DOUBLE>)")
        ).alias("cos_sim"),
    ).dropDuplicates([id_col])
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def embedding_near_dup_pairs(
    df: DataFrame, threshold: float = 0.95, planes: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (never all-pairs).

    `tables` independent random-hyperplane signatures; vectors sharing a
    signature in ANY table become candidates (standard multi-table LSH:
    recall grows with tables while each join stays a bucket-key equi-join).
    Candidates are deduped then exactly re-scored with cosine; pairs below
    `threshold` are dropped. At 100 TB each table's join shuffles
    (id, 8-byte bucket) pairs — the vectors travel only for the final
    rescoring join, keyed by id.
    """

    def signature_sql(seed: int) -> str:
        # disambiguate tables so buckets from different tables never join
        return f"{_hyperplane_sig_sql('v', planes, seed=seed)} * {tables + 1} + {seed}"

    # materialize signatures once behind an exchange (same reasoning as
    # minhash_lsh_pairs: signature exprs must not re-inline per consumer)
    vecs = _spread(df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sigs = vecs.select(
        "id",
        F.explode(
            F.expr("array(" + ", ".join(signature_sql(t) for t in range(tables)) + ")")
        ).alias("bucket"),
    ).repartition(_compute_partitions(df), F.col("bucket"))
    cand = (
        sigs.select(F.col("id").alias("a_id"), "bucket")
        .join(sigs.select(F.col("id").alias("b_id"), "bucket"), "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    by_id = vecs.repartition(_compute_partitions(df), F.col("id"))
    scored = (
        cand.join(by_id.select(F.col("id").alias("a_id"), F.col("v").alias("a_v")), "a_id")
        .join(by_id.select(F.col("id").alias("b_id"), F.col("v").alias("b_v")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.expr(
                _cos_sim_sql("CAST(a_v AS ARRAY<DOUBLE>)", "CAST(b_v AS ARRAY<DOUBLE>)")
            ).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold).select("a_id", "b_id", "cos_sim")


# ---------------------------------------------------------------------------
# Multimodal columns: binary payloads + typed metadata. The decode step is
# stubbed (no image/audio libs in this container) but the Spark plumbing —
# schema, batch iteration, partition sizing — is real and tested.
# ---------------------------------------------------------------------------

MULTIMODAL_SCHEMA = (
    "doc_id bigint, modality string, payload binary, width int, height int, "
    "sample_rate int, duration_ms int"
)


def decode_image_batch(payload_bytes: bytes) -> dict:
    """STUB: image decode (PIL/cv2 not installed here). At deploy time this
    body becomes PIL.Image.open(io.BytesIO(payload)).size etc. Raises so
    callers can't silently ship the stub."""
    raise NotImplementedError("image decode requires PIL/cv2; plumbing is in extract_media_features")


def extract_media_features(df: DataFrame, deterministic_fake: bool = True) -> DataFrame:
    """mapInPandas over binary payloads: the real batch plumbing for
    decode/resize/frame-sample. With deterministic_fake=True the 'decode'
    derives features from the payload hash (testable end-to-end); with
    False it calls decode_image_batch (NotImplementedError until libs land).
    """
    import pandas as pd  # noqa: F401 — arrow batch path

    out_schema = "doc_id bigint, modality string, feat_hash bigint, feat_dim int"

    def batches(it):
        for pdf in it:
            if not deterministic_fake:
                pdf["payload"].map(decode_image_batch)  # pragma: no cover
            res = pdf[["doc_id", "modality"]].copy()
            import hashlib

            # NB: not Python hash() — that is salted per interpreter
            # (PYTHONHASHSEED) and would differ between runs/executors.
            res["feat_hash"] = pdf["payload"].map(
                lambda b: int.from_bytes(hashlib.md5(bytes(b)).digest()[:8], "big") & 0x7FFFFFFFFFFFFFFF
                if b is not None
                else 0
            )
            res["feat_dim"] = pdf["payload"].map(lambda b: len(b) % 512 if b is not None else 0)
            yield res

    return df.mapInPandas(batches, schema=out_schema)


def _coarse_centroids(
    corpus_v: DataFrame, k: int, seed: int, max_fit: int = 4096
) -> list[list[float]]:
    """Coarse-quantizer centroids: seeded k-means++ init + Lloyd's
    iterations run ON THE DRIVER over a BOUNDED sample (<= max_fit rows
    collected — a few MB at any corpus size, not a data-path collect).

    r12: this replaces the pyspark.ml KMeans fit, which scheduled ~2
    distributed jobs per iteration (~40 driver round-trips) to cluster
    <= 4096 vectors — the bounded sample means the fit is driver-scale
    work by construction, so doing it in-process removes every one of
    those jobs without changing what is fitted. Deterministic: seeded
    NumPy RandomState, fixed iteration cap, tolerance stop. Centroids
    differ from MLlib's (different init internals) — quality-equivalent;
    the IVF contracts are recall-tolerance (ivf_ann) or exhaustive-probe
    exact (persisted index), neither pins centroid values.

    `corpus_v` must expose the vector as array<double> column `v`."""
    import numpy as np

    n = corpus_v.count()
    if n > max_fit:
        frac = min(1.0, (max_fit * 1.5) / n)
        sample = corpus_v.sample(fraction=frac, seed=seed).limit(max_fit)
    else:
        sample = corpus_v
    rows = sample.select("v").collect()
    X = np.asarray([r.v for r in rows if r.v is not None], dtype=np.float64)
    if X.size == 0:
        return [[0.0]] * k
    pool = X if X.shape[0] >= k else np.tile(X, (-(-k // X.shape[0]), 1))
    rng = np.random.RandomState(seed)
    dim = X.shape[1]
    centers = np.empty((k, dim))
    centers[0] = pool[rng.randint(pool.shape[0])]
    d2 = ((pool - centers[0]) ** 2).sum(1)
    for j in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:
            centers[j] = pool[rng.randint(pool.shape[0])]
        else:
            centers[j] = pool[rng.choice(pool.shape[0], p=d2 / tot)]
        d2 = np.minimum(d2, ((pool - centers[j]) ** 2).sum(1))
    for _ in range(20):
        dist = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(2)
        lab = dist.argmin(1)
        new = centers.copy()
        for j in range(k):
            mask = lab == j
            if mask.any():
                new[j] = X[mask].mean(0)
        shift = float(((new - centers) ** 2).sum())
        centers = new
        if shift < 1e-8:
            break
    return [[float(x) for x in c] for c in centers]


def _assign_lists(corpus_v: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment as one narrow Catalyst expression over
    a centroid literal — no broadcast join, no shuffle, no ML model; ties
    go to the lowest list id (array_position finds the first minimum,
    matching the classic argmin convention). Adds `list_id` (int)."""
    arr = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c)
        for c in centroids
    )
    dists = (
        f"transform({arr}, c -> aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        corpus_v.withColumn("_dists", F.expr(dists))
        .withColumn(
            "list_id",
            F.expr("CAST(array_position(_dists, array_min(_dists)) - 1 AS INT)"),
        )
        .drop("_dists")
    )


def ivf_ann(
    df: DataFrame, query: DataFrame, k: int = 10, nlist: int = 16, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> assign each
    vector to its nearest centroid (the 'list') -> a query probes only the
    `nprobe` closest lists and exactly rescores those candidates.

    The index build is one ML fit over (a sample of) the corpus plus one
    narrow assignment pass; the query path touches ~nprobe/nlist of the
    data through a bucket equi-join — the IVF-flat layout every vector
    store uses, expressed as DataFrames. Deterministic via fixed seed.

    Spark-native pieces: driver-side bounded-sample k-means for the
    quantizer (_coarse_centroids — nlist centroids are estimated just as
    well from a few thousand vectors as from 100 TB, so the fit is
    driver-scale by construction), one narrow expression pass for the
    assignment (_assign_lists), TakeOrderedAndProject for the final
    top-k.
    """
    corpus = df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    cents = _coarse_centroids(corpus, nlist, seed)
    assigned = _assign_lists(corpus, cents).select(id_col, "v", "list_id")

    centroids = [(i, c) for i, c in enumerate(cents)]
    cent_df = df.sparkSession.createDataFrame(centroids, "list_id: int, centroid: array<double>")

    q = query.select(F.col(vec_col).cast("array<double>").alias("q_vec"))
    q_lists = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("dist", F.expr(_l2dist_sql("q_vec", "centroid")))
        .orderBy("dist")
        .limit(nprobe)
        # q_norm folded once per probe row (a handful) instead of per
        # candidate row — bit-identical, same expression/operands (r12)
        .select("q_vec", F.expr(_norm_sql("q_vec")).alias("q_norm"), "list_id")
    )
    cand = assigned.join(F.broadcast(q_lists), "list_id")
    scored = cand.select(
        F.col(id_col),
        F.expr(f"round(({_dot_sql('v', 'q_vec')}) / (({_norm_sql('v')}) * q_norm), 6)").alias(
            "cos_sim"
        ),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Dataset splitting — the train/eval/test partitioning a training-data
# pipeline needs. Hash-based, not random: the split is a PURE FUNCTION of
# the document id, so it is identical across runs, machines, and
# re-executions of failed partitions (exactly-once semantics at 100 TB
# require this), and adding documents never moves an existing one across
# splits.
# ---------------------------------------------------------------------------


def train_test_split(
    df: DataFrame, id_col: str = "doc_id", test_permille: int = 100, seed: int = 7,
) -> DataFrame:
    """Adds a 'split' column: 'test' for ~test_permille/1000 of rows,
    'train' for the rest, by seeded hash of the id — deterministic,
    disjoint, complete, and stable under corpus growth."""
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(1000))
    return df.withColumn(
        "split", F.when(bucket < test_permille, "test").otherwise("train")
    )


def pack_sequences(
    df: DataFrame, max_tokens: int = 512, id_col: str = "doc_id",
    text_col: str = "text", buckets: int | None = None,
) -> DataFrame:
    """Sequence packing: greedily combine short documents into packs of at
    most max_tokens whitespace tokens — the step that turns a deduped
    corpus into fixed-budget training sequences without padding waste.

    Distributed shape: documents hash into `buckets` independent packing
    groups (default: cluster parallelism); each group packs locally via
    one Arrow-batched applyInPandas (first-fit-decreasing on token
    count). No global coordination: pack ids are (bucket, local seq), so
    the operator scales linearly — the tradeoff is packing efficiency
    within a bucket rather than globally, which at corpus scale is
    statistically identical. Oversized docs (> max_tokens) get a pack of
    their own (truncation is a separate, explicit step).

    Returns (id, token_count, pack_id) — one row per document,
    every document in exactly one pack, per-pack totals <= max_tokens
    unless the pack is a single oversized doc. Deterministic: bucket
    assignment is hashed, in-bucket order is (token_count desc, id).
    """
    n_buckets = buckets or df.sparkSession.sparkContext.defaultParallelism
    toks = F.size(F.split(F.trim(F.col(text_col)), _WORD_SPLIT))
    base = df.select(
        F.col(id_col).alias("id").cast("long"),
        toks.cast("long").alias("token_count"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)).alias("_bucket"),
    )

    out_schema = "id long, token_count long, pack_id string"

    def pack_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["token_count", "id"], ascending=[False, True])
        bucket = int(pdf["_bucket"].iloc[0])
        packs: list[int] = []  # remaining budget per open pack
        assign: list[int] = []
        for t in pdf["token_count"]:
            t = int(t)
            placed = False
            for pi in range(len(packs)):  # first fit
                if packs[pi] >= t:
                    packs[pi] -= t
                    assign.append(pi)
                    placed = True
                    break
            if not placed:
                packs.append(max(0, max_tokens - t))
                assign.append(len(packs) - 1)
        return pd.DataFrame(
            {
                "id": pdf["id"].values,
                "token_count": pdf["token_count"].values,
                "pack_id": [f"{bucket}-{a}" for a in assign],
            }
        )

    return base.groupBy("_bucket").applyInPandas(pack_group, schema=out_schema)


def mix_sources(
    df: DataFrame, weights: dict[str, float], source_col: str = "source",
    id_col: str = "doc_id", default_weight: float = 0.0, seed: int = 11,
) -> DataFrame:
    """Weighted dataset mixing: downsample each source to its weight
    (keep fraction) via a seeded hash of the id — the deterministic
    sampler a training-mix config needs. weight 1.0 keeps a source
    completely, 0.0 drops it; re-runs, retries, and corpus growth never
    change which surviving rows are kept (pure function of id+seed).
    One narrow filter, no shuffle — at 100 TB this is scan-speed.
    """
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(1_000_000))
    rate = None
    for src, w in weights.items():
        cond = F.col(source_col) == src
        rate = F.when(cond, F.lit(float(w))) if rate is None else rate.when(cond, F.lit(float(w)))
    rate = (rate.otherwise(F.lit(float(default_weight)))
            if rate is not None else F.lit(float(default_weight)))
    return df.filter(bucket < rate * 1_000_000)


def token_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token-frequency table (vocabulary building): normalized
    whitespace tokens -> (token, n_docs, n_total). explode + one hash
    aggregation — partial aggregation absorbs the per-partition repeats
    before the exchange, so the shuffle carries ~|vocab| rows, not
    ~|corpus tokens|. n_docs (document frequency) is the df-filter input
    BPE/vocab training uses. The min_count filter applies to n_total."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-zA-Z0-9\s]", "")), _WORD_SPLIT
    )
    exploded = df.select(
        F.col(id_col).alias("_doc"), F.explode(toks).alias("token")
    ).filter(F.col("token") != "")
    return (
        exploded.groupBy("token")
        .agg(
            F.count_distinct("_doc").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .filter(F.col("n_total") >= min_count)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max(|x|)/127,
    q_i = round(x_i / scale). Quarters the storage of a float32 corpus
    (the standard serving-index trade), deterministically — pure
    Catalyst arithmetic, exactly reproducible by any engine, so the
    oracle checks values, not a tolerance. Zero vectors keep scale 0
    and quantize to all-zero."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax > 0, F.transform(v, lambda x: F.round(x / scale).cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        q.alias("q8"),
        F.round(scale, 9).alias("scale"),
    )


def dedup_clusters(pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id") -> DataFrame:
    """Connected components over near-duplicate pairs: every document in
    a duplicate cluster maps to the cluster's minimum id (the canonical
    survivor). Iterative min-label propagation to fixpoint — the
    alternating large-star/small-star pattern in its simple form: each
    round joins the current labels across pair edges and keeps the min;
    rounds needed = graph diameter (tiny for dup clusters, which are
    near-cliques). Each iteration is one shuffle join; the driver-side
    loop only checks a convergence COUNT (no data collected), which is
    how iterative algorithms look on Spark at any scale.
    """
    # Materialize the pair set once (r12): the symmetric union reads
    # `pairs` twice and the iteration DAGs hang off it — without the
    # checkpoint the full upstream pair computation (candidate join +
    # exact rescore) re-executed inside the loop's actions. Measured at
    # sf0.01: 7.0 -> 1.9 s median (5/5 interleaved wins), identical
    # labels. Eager and per-invocation — nothing survives across runs.
    # materialize_stage honors spark.graft.checkpoint.mode (r12 verdict
    # #3): localCheckpoint in local mode, reliable checkpoint on a
    # cluster where executor loss must stay recoverable.
    from impala_spark.operators import materialize_stage

    pairs = materialize_stage(pairs)
    edges = (
        pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .union(pairs.select(F.col(b_col).alias("x"), F.col(a_col).alias("y")))
        .distinct()
        .persist()
    )
    nodes = edges.select(F.col("x").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).persist()
    for i in range(1, 21):  # diameter bound; dup clusters converge in 2-3
        neighbor_min = (
            edges.join(labels, edges.y == labels.id)
            .groupBy("x")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.x, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
        )
        # pointer jumping (r12): label <- label_of(label). Neighbor-min
        # alone spreads one hop per round — fine for near-clique dup
        # clusters, but a PATH-shaped pair set (e.g. the bounded minhash
        # contract's bucket chains) has diameter >> 20 and would come
        # out split. The jump doubles propagation distance per round,
        # so 20 rounds cover any component diameter up to ~2^20.
        lab2 = new_labels.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            new_labels.join(lab2, new_labels.label == lab2._lid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_llabel"), F.col("label")),
                ).alias("label"),
            )
        )
        # Bound the lineage: each round's labels are persisted so the
        # convergence count and the next round's join reuse materialized
        # data instead of recomputing the whole chain from the raw pairs;
        # every 2nd round a localCheckpoint truncates the plan outright
        # (each round is 3 joins since the r12 pointer jump), so plan
        # depth (and recompute cost on executor loss) stays O(1) in the
        # iteration count — mandatory at real graph sizes.
        if i % 2 == 0:
            new_labels = materialize_stage(new_labels)
        else:
            new_labels = new_labels.persist()
        # explicit disjoint column names, not a USING join over aliases:
        # with the checkpoint-rooted lineage both sides share LogicalRDD
        # attributes and Spark 4.1's analyzer rejects the aliased self-
        # join with "conflicting references" (r12)
        changed = (
            new_labels.select(
                F.col("id").alias("_nid"), F.col("label").alias("_nlabel")
            )
            .join(
                labels.select(
                    F.col("id").alias("_oid"), F.col("label").alias("_olabel")
                ),
                F.col("_nid") == F.col("_oid"),
            )
            .filter(F.col("_nlabel") != F.col("_olabel"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def bm25_scores(
    df: DataFrame, query_terms: list[str], text_col: str = "text",
    id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75, topk: int = 10,
) -> DataFrame:
    """BM25 ranking of documents against a bag of query terms — the
    standard quality/retrieval scorer a training-data pipeline uses for
    corpus filtering and dedup-priority decisions.

    100 TB shape: one explode+partial-agg pass computes per-doc lengths;
    term frequencies are filtered to the query terms BEFORE the shuffle
    (the exchange carries |matching docs| x |terms| rows, not the
    corpus); document frequencies and the (N, avgdl) scalars are
    broadcast. No all-corpus join anywhere. ln() + doubles rounded to 4
    decimals for cross-engine determinism (same contract as the cosine
    queries)."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"
    )
    ex = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
    )
    dl = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        ex.filter(F.col("token").isin([t.lower() for t in query_terms]))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count_distinct("doc_id").alias("dfc"))
    idf = F.log((F.col("n_docs") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5) + 1.0)
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", idf * F.col("tf") * (k1 + 1.0) / norm)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(topk)
    )


def contamination_flags(
    train: DataFrame, bench: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram (default 8-gram, the common contamination criterion)
    with a benchmark/eval set. Returns (doc_id, n_shared_ngrams) for
    contaminated docs; anti-join the result to clean the corpus.

    100 TB shape: benchmark suites are MB-scale, so the bench n-gram
    hash set is BROADCAST and the training corpus is flagged in one
    shuffle-free scan+semi-join pass — decontaminating 100 TB costs one
    read of the corpus. n-grams are xxhash64'd so the broadcast carries
    8-byte hashes, not strings."""
    t = (
        shingles(train, text_col, n)
        .select(F.col(id_col).alias("doc_id"), F.explode("shingles").alias("g"))
        .select("doc_id", F.xxhash64("g").alias("g"))
        .distinct()
    )
    b = (
        shingles(bench, text_col, n)
        .select(F.explode("shingles").alias("g"))
        .select(F.xxhash64("g").alias("g"))
        .distinct()
    )
    return (
        t.join(F.broadcast(b), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_ngrams"))
    )


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM quality scoring (the CCNet-style perplexity filter): each
    document's mean log-probability under the corpus's own unigram
    distribution. Low scores = rare-token-heavy documents (boilerplate,
    gibberish, wrong-language) — the standard cheap quality gate before
    expensive model-based filtering.

    100 TB shape: one explode+partial-agg builds the unigram table
    (shuffle carries ~|vocab| rows); the per-token probability lookup
    BROADCASTS the vocab (bounded: real corpora plateau at a few million
    types — ~100 MB — while a token-keyed shuffle join would put every
    occurrence of 'the' in one partition, the worst skew in the corpus;
    if vocab outgrows broadcast, AQE skew-join on the token key is the
    fallback). Per-doc mean of ~1k log terms is order-stable to ~1e-12,
    so a 4-decimal rounding is a sound cross-engine contract."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"
    )
    ex = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
    )
    vocab = ex.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = ex.agg(F.count(F.lit(1)).alias("n_all"))
    return (
        ex.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            # tie-robust contract (r5 verdict #1): quantize each log term
            # to DECIMAL(28,12) so the per-doc sum is EXACT (run-to-run
            # deterministic on both engines), then one double division —
            # AVG(double) would inherit the engine's parallel accumulation
            # order and can flip a ROUND(...,4) tie cell between runs.
            F.round(
                F.sum(
                    F.log(F.col("n_tok") / F.col("n_all")).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_logprob"),
        )
    )


def chunk_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_words: int = 64, overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the
    context-window preprocessing step for training/RAG ingestion.
    Emits (doc_id, chunk_idx, chunk_text, n_words).

    Pure Catalyst: the word array is bound once, chunk starts come from
    sequence() with step (chunk_words - overlap), each chunk is a
    slice+join — no Python, no shuffle at all (posexplode is a narrow
    generate). At 100 TB this is scan-speed; output partitioning follows
    the input."""
    if overlap >= chunk_words:
        raise ValueError("overlap must be smaller than chunk_words")
    step = chunk_words - overlap
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"
    )
    w = F.col("_words")
    n = F.size(w)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    )
    chunked = (
        df.withColumn("_words", F.filter(words, lambda x: x != ""))
        .withColumn("_starts", starts)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode("_starts").alias("chunk_idx", "_start"),
            F.col("_words"),
        )
        .withColumn("_chunk", F.slice(w, F.col("_start") + 1, chunk_words))
        .filter(F.size("_chunk") > 0)
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
        F.size("_chunk").cast("bigint").alias("n_words"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
) -> DataFrame:
    """Intra-document repetition (the Gopher repetition rule): fraction of
    word k-gram occurrences that are repeats of an earlier k-gram in the
    same document. High ratio = looping/boilerplate text, a standard
    pre-training removal criterion. Narrow per-row arithmetic on the
    shingle array — no shuffle, scan-speed at any scale."""
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"
    )
    w = F.filter(words, lambda x: x != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(F.col("_w")) - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(F.col("_w"), i + j) for j in range(k)])
    )
    g = F.filter(grams, lambda x: x != "")
    total = F.size(F.col("_g"))
    distinct = F.size(F.array_distinct(F.col("_g")))
    return (
        df.withColumn("_w", w)
        .filter(F.size("_w") > 0)  # NULL/empty/whitespace docs excluded (oracle mirrors)
        .withColumn("_g", F.coalesce(g, F.array().cast("array<string>")))
        .select(
            F.col(id_col).alias("doc_id"),
            total.cast("bigint").alias("n_ngrams"),
            F.when(total > 0, F.round((total - distinct) / total, 6))
            .otherwise(F.lit(0.0)).alias("rep_ratio"),
        )
        .drop("_w", "_g")
    )


def stratified_sample(
    df: DataFrame, targets: dict[str, int], source_col: str = "source",
    id_col: str = "doc_id", seed: int = 13,
) -> DataFrame:
    """Deterministic per-source sampling to TARGET COUNTS (the dataset-
    curation companion to rate-based mix_sources): within each source,
    rows are ranked by a seeded hash of their id and the first N kept.
    Re-executions and retries pick the identical sample (pure function
    of id+seed) — the property that makes the curated mix reproducible.

    100 TB shape: one row_number window per source partition. Sources
    are few and large, so the window shuffle is source-keyed and skewed
    by design; Spark sorts each partition once — acceptable for curation
    jobs that run rarely. For rate-based (not count-exact) needs at
    extreme scale, mix_sources is the shuffle-free path."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(source_col).orderBy(
        F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col)
    )
    target = None
    for src, n in targets.items():
        cond = F.col(source_col) == src
        target = F.when(cond, F.lit(int(n))) if target is None else target.when(cond, F.lit(int(n)))
    target = target.otherwise(F.lit(0)) if target is not None else F.lit(0)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= target)
        .drop("_rk")
    )


def cross_near_dup_pairs(
    batch: DataFrame, history: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", threshold: float = 0.5, k: int = 3,
    candidates: str = "minhash", num_hashes: int = 36, bands: int = 12,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora (batch x history), exact
    Jaccard rescore on candidate pairs. The r5 verdict's naive
    shared-shingle equi-join default is gone — it was quadratic in the
    document frequency of common shingles (a shingle in 1% of batch and
    1% of history alone produced |B|*|H|/1e4 candidate pairs).

    Two candidate generators, both never-all-pairs:

    candidates='minhash' (DEFAULT — the 100 TB path): banded MinHash on
    both sides with shared seeds; a pair becomes a candidate iff some
    band agrees. With r=3 rows/band, b=12 bands: P(candidate) =
    1-(1-J^3)^12 — 0.993 at J=0.7, 0.80 at J=0.5, 0.04 at J=0.15. On
    natural corpora (random-pair J << t) candidate volume grows
    LINEARLY in corpus size; band buckets are 8-byte-key equi-join
    groups, no hot keys. Probabilistic: a pair sitting exactly at the
    threshold can be missed (recall 0.80 AT J=t, ~1 above it).
    Measured on the fixture batch-vs-history split (10x scale probe,
    r6): candidates 12 -> 156 from sf0.01 to sf0.1 while true pairs go
    12 -> 120 — linear growth tracking the output size; the r5 naive
    shared-shingle join measured 5,810 -> 565,032 (quadratic) and the
    exact prefix mode 478 -> 204,240 on the same split (the fixtures'
    31-word vocabulary saturates the shingle space, making noise-pair
    Jaccard ~0.15 — an adversarially dense regime for exact filters).

    candidates='prefix' (the EXACT oracle-parity mode): PPJoin prefix
    filter — every doc's hashed shingle set is ordered by ascending
    document frequency over the combined corpora (one consistent global
    order is all the lemma needs) and only each side's first
    floor((1-t)*|X|)+1 elements enter the equi-join. Two sets with
    Jaccard >= t MUST share a prefix element, so recall is exactly 1
    and the any-shared-shingle SQL oracle remains valid. Rare-first
    ordering keeps join buckets small (the frequent-shingle skew lands
    outside every prefix), but on vocabulary-saturated corpora where
    random-pair Jaccard approaches t (the sf fixtures: 31-word vocab,
    noise J~0.15) candidate volume still grows ~quadratically — an
    information-theoretic floor for ANY exact shared-element filter,
    which is why the probabilistic generator is the scale default.

    100 TB notes: the prefix mode's df table is a per-shingle count —
    maintain it incrementally across batches (correctness only needs
    SOME consistent order, so a stale table is still exact). The
    minhash mode needs no corpus-wide state at all: signatures are a
    narrow per-doc map with fixed seeds."""
    if candidates not in ("minhash", "prefix"):
        raise ValueError(f"unknown candidate generator: {candidates!r}")

    def prep(df: DataFrame, alias: str) -> DataFrame:
        return shingles(df, text_col, k).select(
            F.col(id_col).alias(f"{alias}_id"),
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias(f"{alias}_sh"),
        )

    # Materialize each side's shingle prep once (r13, guide §5): the
    # plan tree reads b/h in 3-4 places each (candidate generation, the
    # prefix mode's document-frequency union, the exact rescore), and
    # Catalyst specializes every consumer's copy — the registered
    # incremental_dedup plan held 16 parquet scans of `documents`,
    # recomputing the regex+shingle transforms per copy. Measured at
    # sf0.01 (interleaved, identical survivors): median 4.01 -> 2.98 s,
    # 4/5 wins. Unlike the r12-rejected no_exact checkpoint these rows
    # carry only (id, shingle-hash array), never text; eager and
    # per-invocation (materialize_stage: cluster-safe under
    # spark.graft.checkpoint.mode=reliable).
    from impala_spark.operators import materialize_stage

    b = materialize_stage(prep(batch, "b"))
    h = materialize_stage(prep(history, "h"))

    if candidates == "minhash":
        rows_per_band = num_hashes // bands
        sig_sql = "array(%s)" % ", ".join(
            f"array_min(transform({{col}}, h -> xxhash64(h, {seed})))"
            for seed in range(num_hashes)
        )
        band_sql = "CASE WHEN size({col}) > 0 THEN array(%s) END" % ", ".join(
            "xxhash64(array_join(transform(slice(minhash, %d, %d), x -> cast(x AS string)), ','), %d)"
            % (bd * rows_per_band + 1, rows_per_band, bd)
            for bd in range(bands)
        )

        def banded(df: DataFrame, idc: str, shc: str) -> DataFrame:
            return (
                df.withColumn("minhash", F.expr(sig_sql.format(col=shc)))
                .select(idc, F.explode(F.expr(band_sql.format(col=shc))).alias("band_hash"))
            )

        cand = (
            banded(b, "b_id", "b_sh")
            .join(banded(h, "h_id", "h_sh"), "band_hash")
            .select("b_id", "h_id")
            .distinct()
        )
    else:
        ex_b = b.select(F.col("b_id").alias("id"), F.explode("b_sh").alias("g"))
        ex_h = h.select(F.col("h_id").alias("id"), F.explode("h_sh").alias("g"))
        freq = ex_b.unionByName(ex_h).groupBy("g").agg(
            F.count(F.lit(1)).alias("df")
        )

        def prefix(ex: DataFrame, id_out: str) -> DataFrame:
            ordered = (
                ex.join(freq, "g")
                .groupBy("id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("df", "g"))),
                        lambda x: x["g"],
                    ).alias("osh")
                )
            )
            plen = (F.floor(F.size("osh") * (1.0 - threshold)) + 1).cast("int")
            return ordered.select(
                F.col("id").alias(id_out),
                F.explode(F.slice("osh", 1, plen)).alias("g"),
            )

        cand = (
            prefix(ex_b, "b_id")
            .join(prefix(ex_h, "h_id"), "g")
            .select("b_id", "h_id")
            .distinct()
        )

    inter = F.size(F.array_intersect("b_sh", "h_sh"))
    union = F.size(F.array_union("b_sh", "h_sh"))
    return (
        cand.join(b, "b_id")
        .join(h, "h_id")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("b_id", "h_id", "jaccard")
    )


def incremental_dedup(
    batch: DataFrame, history: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", threshold: float = 0.5,
    candidates: str = "minhash",
) -> DataFrame:
    """Continual-ingestion dedup: keep only batch documents that are
    neither exact nor near duplicates of the EXISTING corpus — the daily
    increment never re-deduplicates history (cost scales with the batch,
    not the corpus). Exact stage: fingerprint anti-join (one shuffle on
    32-byte keys). Near stage: cross_near_dup_pairs against history with
    banded-MinHash candidates by DEFAULT (sub-quadratic, the scale-safe
    path per the r5 verdict); pass candidates='prefix' for the exact
    PPJoin mode the sf0.01 oracle checks. Anti-join the flagged batch
    ids either way."""
    bf = fingerprint(batch, text_col)
    hf = fingerprint(history, text_col).select("fp").distinct()
    # NOT checkpointed although two consumers read it (r12 measured:
    # materializing the text-bearing batch costs MORE than re-running the
    # cheap fingerprint anti-join — 1.47 -> 1.65 s at sf0.01; contrast
    # clean_corpus, whose re-used set is ids-only and whose upstream is
    # the whole near-dup chain).
    no_exact = bf.join(hf, "fp", "left_anti").drop("fp")
    near = cross_near_dup_pairs(
        no_exact, history, id_col, text_col, threshold, candidates=candidates
    )
    flagged = near.select(F.col("b_id").alias(id_col)).distinct()
    return no_exact.join(flagged, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Privacy / filtering / selection (round-4 additions)
# ---------------------------------------------------------------------------

#: PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB
#: oracle) accept identically: no backreferences, no lookaround, ASCII \b.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_PII_LONGNUM = r"\b\d{13,16}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: count then mask emails, IPv4
    addresses, phone numbers, and long card-like digit runs.

    Counts are taken on the ORIGINAL text; masking applies in a fixed
    order (email -> ip -> phone -> id) so an earlier replacement cannot
    manufacture a later pattern's match. Pure regexp_replace chains —
    JVM-side, whole-stage codegen, zero shuffle: this runs at scan speed
    over 100 TB, which is exactly what a pre-training privacy pass needs.
    """
    t = F.col(text_col)
    red = F.regexp_replace(t, _PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, _PII_IPV4, "<IP>")
    red = F.regexp_replace(red, _PII_PHONE, "<PHONE>")
    red = F.regexp_replace(red, _PII_LONGNUM, "<ID>")
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), 0)).cast("bigint"),
            "n_ips": F.size(F.regexp_extract_all(t, F.lit(_PII_IPV4), 0)).cast("bigint"),
            "n_phones": F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), 0)).cast("bigint"),
            "n_ids": F.size(F.regexp_extract_all(t, F.lit(_PII_LONGNUM), 0)).cast("bigint"),
            "text_redacted": red,
        }
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 1000,
    min_avg_word_len: float = 2.0,
    max_avg_word_len: float = 12.0,
    max_digit_ratio: float = 0.2,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Composite document-quality filter (Gopher-rule shape): keep/drop
    verdict plus the sorted list of violated rules, so curation runs are
    auditable ("why was this dropped") — the form real pipelines need.

    All built-in expressions over one scan; the reasons array is built
    with concat_ws over fixed rule slots so both engines produce the
    identical string without array-order ambiguity."""
    t = F.col(text_col)
    words = F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    avg_wlen = alpha_chars / F.greatest(n_words, F.lit(1))
    digit_ratio = F.length(F.regexp_replace(t, r"[^0-9]", "")) / F.greatest(F.length(t), F.lit(1))
    stop_hits = F.size(F.regexp_extract_all(t, F.lit(_EN_STOPWORDS), 0))

    r_short = F.when(n_words < min_words, F.lit("too_short"))
    r_long = F.when(n_words > max_words, F.lit("too_long"))
    r_wlen = F.when(
        (avg_wlen < min_avg_word_len) | (avg_wlen > max_avg_word_len), F.lit("word_len")
    )
    r_digit = F.when(digit_ratio > max_digit_ratio, F.lit("digit_heavy"))
    r_stop = F.when(stop_hits < min_stop_hits, F.lit("no_stopwords"))
    reasons = F.concat_ws(",", r_short, r_long, r_wlen, r_digit, r_stop)
    return df.withColumns(
        {
            "n_words": n_words.cast("bigint"),
            "avg_word_len": F.round(avg_wlen, 4),
            "digit_ratio": F.round(digit_ratio, 6),
            "stop_hits": stop_hits.cast("bigint"),
            "drop_reasons": reasons,
            "keep": reasons == "",
        }
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 20,
) -> DataFrame:
    """Paragraph/block-level dedup (RefinedWeb-style): segment each
    document into word blocks, drop every block whose exact content
    appeared earlier in the corpus (first occurrence by (doc_id, block
    position) wins), and reassemble the surviving text per document.

    Fixed-width word blocks are the deterministic stand-in for paragraph
    boundaries (the fixture corpus has no newlines); the pipeline shape —
    explode -> first-occurrence window on the block hash -> re-aggregate
    in position order — is identical for any boundary rule.

    100 TB shape: two linear shuffles (block-hash window, then doc_id
    regroup). Block-hash groups are tiny (dup cardinality), so the window
    never skews; reassembly is a sorted-struct aggregation, not a
    nondeterministic collect."""
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-zA-Z0-9\s]", "")), r"\s+"),
        lambda x: x != "",
    )
    starts = F.sequence(F.lit(0), F.greatest(F.size(F.col("_w")) - 1, F.lit(0)), F.lit(block_words))
    blocks = (
        df.withColumn("_w", words)
        .filter(F.size("_w") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.transform(starts, lambda s: F.concat_ws(" ", F.slice(F.col("_w"), s + 1, block_words)))
            ).alias("block_idx", "block_text"),
        )
        .filter(F.col("block_text") != "")
    )
    w = Window.partitionBy("block_text").orderBy("doc_id", "block_idx")
    kept = blocks.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("block_idx", "block_text"))),
            lambda s: s["block_text"],
        ),
        " ",
    )
    per_doc = blocks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_blocks"))
    survivors = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"), rebuilt.alias("text_deduped")
    )
    return per_doc.join(survivors, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget selection: within each source, take documents in id
    order until the cumulative whitespace-token count would exceed the
    budget — the "fill N tokens per source" step of building a training
    mix with hard size targets.

    One source-keyed window cumsum (running total) — a single shuffle;
    the keep decision is a pure comparison so re-executions select the
    identical set. Emits every document with its running total and keep
    flag so downstream stages can either filter kept or audit the cut."""
    from pyspark.sql.window import Window

    toks = F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""))
    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tok", toks.cast("bigint"))
        .withColumn("cum_tok", F.sum("n_tok").over(w).cast("bigint"))
        .withColumn("kept", F.col("cum_tok") <= budget_tokens)
        .select(id_col, source_col, "n_tok", "cum_tok", "kept")
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_chars: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Cross-document repeated-substring detection — the scalable stand-in
    for suffix-array exact-substring dedup: strided character windows are
    hashed and any window whose hash occurs in more than one document
    marks shared content. Per document: window count, shared-window count,
    shared fraction.

    100 TB shape: windows/doc is length/stride (bounded blowup, not
    quadratic); the only wide op is one groupBy on the window hash whose
    groups are duplicate-cardinality (tiny), then one doc_id re-agg.
    Suffix automata find arbitrary-offset overlaps; strided windows find
    any overlap >= window+stride chars, which is the dedup-relevant kind
    (50+ char verbatim reuse), at a fraction of the cost."""
    positions = F.sequence(
        F.lit(1),
        F.greatest(F.length(F.col("_t")) - (window_chars - 1), F.lit(1)),
        F.lit(stride),
    )
    wins = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .select("doc_id", F.explode(positions.cast("array<int>")).alias("pos"), "_t")
        .select("doc_id", "pos", F.md5(F.col("_t").substr(F.col("pos"), F.lit(window_chars))).alias("h"))
    )
    counts = wins.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        wins.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("bigint").alias("n_shared"),
        )
        .withColumn("shared_frac", F.round(F.col("n_shared") / F.col("n_windows"), 6))
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document novelty: fraction of the document's distinct word
    k-grams that no earlier document (by id order) contains — the curve
    dataset-ordering and near-dup triage both read. First-seen owner per
    gram is a single min aggregation; no pairwise comparisons anywhere.

    100 TB shape: distinct (doc, gram) -> groupBy gram (min doc) ->
    equi-join back -> groupBy doc. Three linear shuffles on hashed grams;
    gram groups are frequency-bounded, and the heaviest grams can be
    capped the same way ngram_jaccard_pairs caps its prefix lists."""
    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"),
        lambda x: x != "",
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size(F.col("_w")) - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(F.col("_w"), i + j) for j in range(k)])
    )
    dg = (
        df.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
        .filter(F.size("_w") >= k)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
        .filter(F.col("gram") != "")
    )
    first = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        dg.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn("novelty", F.round(F.col("n_novel") / F.col("n_grams"), 6))
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding", ndims: int | None = None
) -> DataFrame:
    """Per-dimension distribution stats over an embedding column (the
    embedding-QA report: dead dimensions, scale drift, outliers).

    Sums run on DECIMAL so partial-aggregation order cannot perturb the
    mean/variance (the oracle recomputes them exactly); min/max are exact
    float comparisons. One explode + one 64-group aggregation — the
    explode is narrow (no shuffle) and the agg reduces 64*N rows to 64."""
    x = F.col("x").cast("double")
    xd = x.cast("decimal(28,12)")
    x2d = (x * x).cast("decimal(30,14)")
    return (
        df.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(xd).alias("_s"),
            F.sum(x2d).alias("_s2"),
            F.min(x).alias("dim_min"),
            F.max(x).alias("dim_max"),
        )
        .select(
            "dim",
            "n",
            F.round(F.col("_s").cast("double") / F.col("n"), 6).alias("dim_mean"),
            F.round(
                (F.col("_s2").cast("double") - F.col("_s").cast("double")
                 * F.col("_s").cast("double") / F.col("n")) / F.col("n"),
                6,
            ).alias("dim_var"),
            F.round("dim_min", 6).alias("dim_min"),
            F.round("dim_max", 6).alias("dim_max"),
        )
    )


def length_percentile_filter(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group adaptive length filter: keep documents whose word count
    falls inside the group's [lo, hi] exact interpolated percentiles —
    the language-aware form of a fixed length cutoff (CJK vs English
    lengths differ ~4x, so global thresholds misfire per language).

    Thresholds are one tiny per-group aggregate broadcast back onto the
    corpus — a map-side join at any scale; the percentile aggregation
    shuffles only (group, count) pairs."""
    toks = F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""))
    with_n = df.withColumn("n_words", toks.cast("bigint"))
    bounds = with_n.groupBy(group_col).agg(
        F.percentile("n_words", F.lit(lo)).alias("lo_words"),
        F.percentile("n_words", F.lit(hi)).alias("hi_words"),
    )
    return (
        with_n.join(F.broadcast(bounds), group_col)
        .withColumn(
            "kept",
            (F.col("n_words") >= F.col("lo_words")) & (F.col("n_words") <= F.col("hi_words")),
        )
        .select(
            "doc_id", F.col(group_col).alias("grp"), "n_words",
            F.round("lo_words", 4).alias("lo_words"),
            F.round("hi_words", 4).alias("hi_words"),
            "kept",
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a < b), how many exact-duplicate document pairs they share — the
    curation diagnostic that finds mirrored/scraped-twice feeds before
    mixing weights are chosen.

    Derived entirely from the exact-dedup fingerprint: fingerprints are
    grouped once, per-fingerprint source lists stay duplicate-sized
    (tiny), and the pair explosion happens only within those lists —
    never a corpus self-join."""
    fp = fingerprint(df, text_col).select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("src"), "fp"
    )
    per_fp = fp.groupBy("fp", "src").agg(F.count("*").cast("bigint").alias("n"))
    pairs = (
        per_fp.alias("a")
        .join(per_fp.alias("b"), "fp")
        .filter(F.col("a.src") < F.col("b.src"))
        .select(
            F.col("a.src").alias("src_a"),
            F.col("b.src").alias("src_b"),
            (F.col("a.n") * F.col("b.n")).alias("dup_pairs"),
        )
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.sum("dup_pairs").cast("bigint").alias("dup_pairs")
    )


def top_tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by TF-IDF
    (ln-smoothed IDF), deterministic tie-break on the term itself — the
    per-doc companion to bm25_scores' corpus ranking (topic tagging,
    cluster labeling, mix diagnostics).

    100 TB shape: one explode -> (doc, term) count agg, one term-keyed
    doc-frequency agg broadcast back (vocabulary-sized, bounded), one
    doc-keyed window for the top-k. All shuffles linear in token count;
    no corpus self-join."""
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"),
        lambda x: x != "",
    )
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(words).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    n_docs = df.select(F.count("*").cast("bigint").alias("n"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1)), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "tf", "df", "tfidf")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.97,
    bits: int | None = None,
    stride: int = 7,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into clusters, then
    inside each cluster drop every item whose cosine similarity to a
    lower-id cluster member reaches `threshold`.

    The paper clusters with k-means; the cluster key here is deterministic
    sign quantization — bit i of the key is sign(v[1 + i*stride]) — a
    coarse quantizer that (a) needs no ML fit, (b) is exactly reproducible
    in ANSI SQL so the DuckDB oracle verifies verdicts value-for-value,
    and (c) puts identical vectors in one cluster by construction.
    Drop-by-earlier-member (not by kept-representative) makes the verdict
    a pure pairwise predicate — no sequential dependence, so the whole
    stage parallelizes and stays oracle-exact.

    100 TB design: the cluster key is codegen arithmetic at scan (no
    shuffle, no fit); the only shuffle is the within-cluster equi-join.
    The within-cluster join is pairwise, so its cost is O(n^2 / 2^bits):
    a FIXED `bits` would go quadratic as the corpus grows. When `bits`
    is None (the default) it is derived from the corpus count so the
    EXPECTED cluster size stays at `target_cluster_size` regardless of
    n — `bits = ceil(log2(n / target))`, clamped to [4, dim-supported] —
    which keeps per-cluster pairwise work flat under scale-up (the r4
    verdict's SemDeDup sizing fix; `stride` shrinks automatically when
    the vector is too short for the derived bit count). The sizing reads
    one count + one first-row dim probe — metadata-scale driver work.
    Registered driver queries pin `bits` explicitly so their DuckDB
    oracles can mirror the cluster key bit-for-bit.

    Returns (id, cluster, kept, drop_sim) — drop_sim is the max cosine to
    an earlier cluster member at/above threshold (NULL when kept).
    """
    if bits is None:
        import math

        n = df.count()
        dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(dim_row.d) if dim_row and dim_row.d is not None else 1
        bits = max(4, math.ceil(math.log2(max(n, 1) / target_cluster_size)) if n > target_cluster_size else 4)
        # a bit i reads element 1 + i*stride: shrink stride to fit dim
        if bits > 1 and 1 + (bits - 1) * stride > dim:
            stride = max(1, (dim - 1) // (bits - 1))
            bits = min(bits, 1 + (dim - 1) // max(stride, 1))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + F.when(
            F.element_at(F.col("v"), 1 + i * stride) > 0, F.lit(2 ** i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    base = (
        _spread(df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("cluster", key)
    )
    a = base.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"), "cluster")
    b = base.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"), "cluster")
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos_sim", F.expr(_cos_sim_sql("a_v", "b_v")))
        .filter(F.col("cos_sim") >= threshold)
        .groupBy("b_id")
        .agg(F.max("cos_sim").alias("drop_sim"))
    )
    return (
        base.join(dropped, base.id == dropped.b_id, "left")
        .select(
            "id",
            "cluster",
            F.col("drop_sim").isNull().alias("kept"),
            "drop_sim",
        )
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    smoothing: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score each raw
    document by the mean log-likelihood ratio of its hashed unigram
    features under the TARGET domain's distribution vs the raw corpus's
    own — documents that look like the target score high; selection is
    top-k / threshold / Gumbel resampling downstream.

    Hashed features (the paper's trick): token -> int(md5[:8]) % buckets,
    so the feature space is `buckets` wide no matter how large the corpus
    vocabulary grows (md5 rather than xxhash64 keeps the bucketing
    reproducible in ANSI SQL for the oracle). Each distribution is one
    explode + partial agg whose shuffle carries <= buckets rows; scoring
    BROADCASTS both bucket tables (KBs) — at 100 TB the only full-data
    work is the token explode, and nothing ever shuffles on a token key
    (worst-skew key in any corpus).

    Returns (doc_id, n_tokens, logratio); logratio rounded to 4 decimals
    (mean of order-stable log terms), add-`smoothing` smoothed.
    """

    def toks(df: DataFrame, with_id: bool) -> DataFrame:
        words = F.split(
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")),
            r"\s+",
        )
        cols = [F.col(id_col).alias("doc_id")] if with_id else []
        return (
            df.select(*cols, F.explode(words).alias("token"))
            .filter(F.col("token") != "")
            .withColumn(
                "bucket",
                F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
                % buckets,
            )
        )

    def dist(tok: DataFrame, cnt: str, tot: str):
        counts = tok.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias(cnt))
        # NOT derived as SUM over `counts` although that looks like one
        # explode pass fewer (r13, measured NEGATIVE at sf0.01: median
        # 1.52 -> 2.11 s, 1/5 interleaved wins): the derived total's agg
        # serializes behind the counts shuffle, while this independent
        # count branch runs as a parallel job leg — and ReuseExchange
        # already dedups the underlying explode where it can.
        total = tok.agg(F.count(F.lit(1)).cast("bigint").alias(tot))
        return counts, total

    t_counts, t_total = dist(toks(target, with_id=False), "t_cnt", "t_all")
    r_counts, r_total = dist(toks(raw, with_id=False), "r_cnt", "r_all")
    per_tok = (
        toks(raw, with_id=True)
        .join(F.broadcast(t_counts), "bucket", "left")
        .join(F.broadcast(r_counts), "bucket", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .withColumn(
            "llr",
            F.log(
                (F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(smoothing))
                / (F.col("t_all") + F.lit(smoothing) * buckets)
            )
            - F.log(
                (F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(smoothing))
                / (F.col("r_all") + F.lit(smoothing) * buckets)
            ),
        )
    )
    return per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        # tie-robust contract (r5 verdict #1): exact decimal sum of the
        # quantized log-ratio terms, then one double division; see
        # unigram_logprob_scores for the rationale.
        F.round(
            F.sum(F.col("llr").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("logratio"),
    )


def build_ivf_index(
    df: DataFrame,
    prefix: str = "ann_idx",
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF-flat ANN index as two managed tables:
    `{prefix}_centroids` (list_id, centroid) and `{prefix}_assignments`
    (id, v, list_id) — the build-once / query-many layout every vector
    store uses (FAISS IVF, Milvus), expressed as parquet tables.

    Separating build from query is the 100 TB pattern: the bounded-
    sample driver-side k-means fit (_coarse_centroids, see ivf_ann) and
    the one narrow assignment pass happen once per corpus version; each
    query then reads only the tiny centroid table plus ~nprobe/nlist of
    the assignment table, with partition pruning doing the list
    selection (assignments are partitioned by list_id)."""
    from impala_spark import ddl as _ddl

    spark = df.sparkSession
    corpus = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = _coarse_centroids(corpus, nlist, seed)
    assigned = _assign_lists(corpus, cents).select("id", "v", "list_id")
    centroids = [(i, c) for i, c in enumerate(cents)]
    cent_df = spark.createDataFrame(centroids, "list_id: int, centroid: array<double>")
    _ddl.drop_table(spark, f"{prefix}_centroids")
    _ddl.drop_table(spark, f"{prefix}_assignments")
    _ddl.create_table_as_select(spark, f"{prefix}_centroids", cent_df)
    _ddl.create_table_as_select(
        spark, f"{prefix}_assignments", assigned, partition_cols=["list_id"]
    )


def query_ivf_index(
    spark: SparkSession,
    query: DataFrame,
    prefix: str = "ann_idx",
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index (build_ivf_index).
    Probes the `nprobe` nearest lists; with nprobe >= nlist the search is
    exhaustive and exactly equals brute force (the oracle contract). The
    list filter is an equi-join on the assignment table's PARTITION key,
    so Spark prunes unprobed list partitions at the scan."""
    cent = spark.table(f"{prefix}_centroids")
    assigned = spark.table(f"{prefix}_assignments")
    q = query.select(F.col(vec_col).cast("array<double>").alias("q_vec"))
    q_lists = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("dist", F.expr(_l2dist_sql("q_vec", "centroid")))
        .orderBy("dist")
        .limit(nprobe)
        # q_norm folded once per probe row (a handful) instead of per
        # candidate row — bit-identical, same expression/operands (r12)
        .select("q_vec", F.expr(_norm_sql("q_vec")).alias("q_norm"), "list_id")
    )
    cand = assigned.join(F.broadcast(q_lists), "list_id")
    scored = cand.select(
        F.col("id").alias("vec_id"),
        F.expr(f"({_dot_sql('v', 'q_vec')}) / (({_norm_sql('v')}) * q_norm)").alias("_raw"),
    )
    # order by the UNROUNDED cosine (ties at the rounded precision must
    # break the same way as the oracle's unrounded ORDER BY), emit rounded
    return (
        scored.orderBy(F.col("_raw").desc(), F.col("vec_id"))
        .limit(k)
        .select("vec_id", F.round("_raw", 4).alias("cos_sim"))
    )


def cluster_topics(
    docs: DataFrame,
    emb: DataFrame,
    topk: int = 5,
    bits: int = 4,
    stride: int = 7,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus topography: top terms per SEMANTIC cluster — the cross-modal
    join (embedding-space clusters x text-space term counts) that backs a
    corpus card's "what's in each region of embedding space" section.

    Clusters come from the same deterministic sign quantization as
    semantic_dedup (SQL-reproducible, no fit); each document's tokens then
    count toward its cluster, and a per-cluster window takes the top-k
    terms (count desc, term asc — total order, engine-independent).

    100 TB shape: the cluster key is scan-side arithmetic; the only wide
    ops are the doc_id equi-join (broadcast-able dimension: the embedding
    table carries just id + 8-byte key after projection) and one
    (cluster, term) partial agg. The per-cluster top-k window partitions
    by cluster — never a global sort."""
    from pyspark.sql.window import Window

    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + F.when(
            F.element_at(F.col("v"), 1 + i * stride) > 0, F.lit(2 ** i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    clusters = (
        emb.select(
            F.col(vec_id_col).alias("doc_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("cluster", key)
        .select("doc_id", "cluster")
    )
    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", "")), r"\s+"),
        lambda x: x != "",
    )
    toks = docs.select(F.col(doc_id_col).alias("doc_id"), F.explode(words).alias("term"))
    counts = (
        toks.join(clusters, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("cluster", F.col("rk").cast("int").alias("rk"), "term", "n")
    )


def sample_frames(
    df: DataFrame,
    fps: float = 0.5,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Frame sampling for video payloads: one row per sampled frame at
    `fps` across duration_ms — the video half of the multimodal plumbing
    (extract_media_features covers stills). The codec decode itself is
    stubbed exactly like decode_image_batch (no AV libs in this
    container); everything Spark-side is real: the frames-per-row
    explode is a narrow generate (no shuffle), per-frame identity is an
    md5 over (payload, frame_idx) — ANSI-portable so the oracle verifies
    the full fan-out value-for-value.

    100 TB shape: output partitioning follows the input scan; a 2-hour
    1 fps sample emits 7200 rows per video from one input row without any
    exchange — the pattern that feeds frame-level dedup/embedding stages.
    """
    step_ms = int(1000.0 / fps)
    n_frames = (F.col(duration_col) / F.lit(step_ms)).cast("long") + 1
    frames = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(payload_col).alias("payload"),
        F.posexplode(
            F.when(
                F.col(duration_col) > 0,
                F.sequence(F.lit(0).cast("long"), n_frames - 1),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("frame_idx", "_f"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("frame_idx") * step_ms).cast("bigint").alias("ts_ms"),
        F.md5(
            F.concat(F.col("payload"), F.encode(F.col("frame_idx").cast("string"), "UTF-8"))
        ).alias("frame_hash"),
    )
