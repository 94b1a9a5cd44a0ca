"""LLM-pipeline operator tests: semantics + scale-shape assertions
(no cartesian products, no Python UDFs in hash paths)."""

from pyspark.sql import functions as F

from impala_spark import llm_ops
from impala_spark.queries import SPARK_QUERIES as SPARK_QUERIES_ND
from impala_spark.session import table


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_exact_counts(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    total = d.count()
    deduped = llm_ops.dedup_exact(d)
    agg = deduped.agg(F.sum("n_copies").alias("s"), F.count("*").alias("groups")).first()
    assert agg.s == total
    assert agg.groups <= total


def test_dedup_detects_injected_duplicates(spark):
    rows = [(1, "the quick brown fox"), (2, "  THE QUICK   BROWN FOX "), (3, "other doc")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.keep_id: r.n_copies for r in llm_ops.dedup_exact(df).collect()}
    assert out[1] == 2 and out[3] == 1


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark engines and query optimizers at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id: long, text: string"
    )
    pairs = llm_ops.minhash_lsh_pairs(df, threshold=0.3).collect()
    ids = {(r.a_id, r.b_id) for r in pairs}
    assert (1, 2) in ids
    assert all(p in {(1, 2)} or 3 not in p for p in ids)


def test_minhash_no_cartesian(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    plan = physical_plan(llm_ops.minhash_lsh_pairs(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    plan = physical_plan(llm_ops.ngram_jaccard_pairs(d))
    assert "CartesianProduct" not in plan


def test_simhash_near_dup_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    near = base + " again"
    far = "totally unrelated text about database engines and columnar storage formats"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id: long, text: string")
    sh = {r.doc_id: r.simhash for r in llm_ops.simhash(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


def test_ann_bruteforce_self_is_top1(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 1)
    top = llm_ops.cosine_topk_bruteforce(e, q, k=5).collect()
    assert top[0].vec_id == 1 and abs(top[0].cos_sim - 1.0) < 1e-4


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 1)
    exact = {r.vec_id for r in llm_ops.cosine_topk_bruteforce(e, q, k=10).collect()}
    approx = {r.vec_id for r in llm_ops.lsh_bucketed_ann(e, q, k=10).collect()}
    # self-match must always survive; expect some overlap with exact top-k
    assert 1 in approx
    assert len(exact & approx) >= 1


def test_ann_no_python_udf_in_plan(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 1)
    plan = physical_plan(llm_ops.cosine_topk_bruteforce(e, q, k=10))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hyperplane_sig_sql_matches_column_form(spark, sf_dir):
    """The SQL-string hyperplane signature (_hyperplane_sig_sql) must be
    bit-identical to the Column-built reference it replaced (r13 §1.2:
    the per-plane higher-order-lambda fan through py4j dominated build
    time; the parsed expression tree must stay the same)."""
    e = table(spark, sf_dir, "embeddings").select(F.col("embedding").alias("v")).limit(200)

    def reference(vcol, planes, seed=None):
        v = vcol.cast("array<double>")
        dim_idx = F.sequence(F.lit(0), F.size(v) - 1)

        def plane_component(p):
            def comp(x, i):
                args = [i.cast("string"), F.lit(p)] + ([F.lit(seed)] if seed is not None else [])
                sign = F.when(F.xxhash64(*args).bitwiseAND(F.lit(1)) == 1, 1.0).otherwise(-1.0)
                return x * sign

            return F.zip_with(v, dim_idx, comp)

        bits = []
        for p in range(planes):
            proj = F.aggregate(plane_component(p), F.lit(0.0), lambda acc, x: acc + x)
            bits.append(
                F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
            )
        total = bits[0]
        for b in bits[1:]:
            total = total + b
        return total

    for planes, seed in [(4, None), (8, 2)]:
        sql_form = F.expr(llm_ops._hyperplane_sig_sql("v", planes, seed=seed))
        mismatches = (
            e.select(reference(F.col("v"), planes, seed).alias("a"), sql_form.alias("b"))
            .filter("a IS DISTINCT FROM b")
            .count()
        )
        assert mismatches == 0


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times.")], "doc_id: long, text: string")
    r = llm_ops.text_stats(df).first()
    assert r.char_len == 23
    assert r.token_count == 4
    assert r.digit_ratio > 0 and r.punct_ratio > 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog are in the house with food for everyone"),
            (2, "el gato y el perro en la casa de los abuelos con una manta"),
            (3, "le chat est dans la maison avec les enfants pour une fete"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.lang_pred for r in llm_ops.language_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "fr" and out[4] == "unknown"


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"\x89PNG fake bytes")), (2, "audio", bytearray(b"RIFF fake"))],
        "doc_id: long, modality: string, payload: binary",
    )
    out = llm_ops.extract_media_features(df).collect()
    assert {r.doc_id for r in out} == {1, 2}
    assert all(r.feat_dim >= 0 for r in out)


def test_decode_stub_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        llm_ops.decode_image_batch(b"bytes")


def test_embedding_near_dup_recall(spark, sf_dir):
    r = SPARK_QUERIES_ND["llm_embedding_near_dup"](spark, sf_dir).first()
    # 50 planted pairs at sf0.001; multi-table LSH must find nearly all
    assert r.planted_pairs_found >= 45
    assert r.min_sim > 0.98


def test_embedding_near_dup_no_cartesian(spark, sf_dir):
    from impala_spark import llm_ops as _ops
    from impala_spark.session import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    plan = _ops.embedding_near_dup_pairs(emb)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan


def test_ndv_incremental_sketch_merge(spark, sf_dir):
    r = SPARK_QUERIES_ND["agg_ndv_incremental"](spark, sf_dir).first()
    assert r.sketch_ok  # merged HLL estimate within 5% of exact


def test_ivf_ann_recall(spark, sf_dir):
    r = SPARK_QUERIES_ND["llm_ann_ivf"](spark, sf_dir).first()
    assert r.n_results == 10
    assert r.recall_ok  # overlap@10 vs brute force >= 5


def test_train_test_split_deterministic_and_stable(spark, sf_dir):
    from impala_spark import llm_ops
    from impala_spark.session import table
    from pyspark.sql import functions as F

    d = table(spark, sf_dir, "documents")
    s1 = llm_ops.train_test_split(d)
    s2 = llm_ops.train_test_split(d)
    # identical across runs
    assert s1.filter(F.col("split") == "test").agg(F.sum("doc_id")).first()[0] == \
           s2.filter(F.col("split") == "test").agg(F.sum("doc_id")).first()[0]
    # growing the corpus never moves an existing row's split
    half = d.filter(F.col("doc_id") < 250)
    sh = llm_ops.train_test_split(half)
    full_assign = {r.doc_id: r.split for r in s1.select("doc_id", "split").collect()}
    for r in sh.select("doc_id", "split").collect():
        assert full_assign[r.doc_id] == r.split


def test_pack_sequences_invariants(spark, sf_dir):
    from impala_spark import llm_ops
    from impala_spark.session import table
    from pyspark.sql import functions as F

    d = table(spark, sf_dir, "documents")
    packed = llm_ops.pack_sequences(d, max_tokens=256)
    assert packed.count() == d.count()  # every doc exactly once
    assert packed.select("id").distinct().count() == d.count()
    bad = (
        packed.groupBy("pack_id")
        .agg(F.sum("token_count").alias("t"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("t") > 256) & (F.col("n") > 1))
    )
    assert bad.count() == 0  # only single oversized docs may exceed budget


def test_mix_sources_weight_one_keeps_all_weight_zero_drops(spark, sf_dir):
    from impala_spark import llm_ops
    from impala_spark.session import table
    from pyspark.sql import functions as F

    d = table(spark, sf_dir, "documents")
    mixed = llm_ops.mix_sources(d, {"src0": 1.0}, default_weight=0.0)
    n_src0 = d.filter(F.col("source") == "src0").count()
    assert mixed.count() == n_src0
    assert mixed.filter(F.col("source") != "src0").count() == 0
    # deterministic: same result on re-run
    assert llm_ops.mix_sources(d, {"src0": 1.0}).count() == n_src0


def test_new_ops_degenerate_inputs(spark):
    """NULL / empty / whitespace-only text and NULL ids must not crash or
    corrupt the round-3 ops (same probes the older dedup ops pin)."""
    from impala_spark import llm_ops
    from pyspark.sql import functions as F

    rows = [
        (1, "normal document text here"),
        (2, ""),
        (3, "   "),
        (4, None),
        (5, "word"),
        (6, "normal document text here"),  # exact duplicate of 1
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    packed = llm_ops.pack_sequences(d, max_tokens=8)
    assert packed.count() == 6  # every row assigned, including degenerate ones

    tf = llm_ops.token_frequencies(d).collect()
    toks = {r.token: r.n_total for r in tf}
    assert toks.get("normal") == 2 and "" not in toks

    split = llm_ops.train_test_split(d)
    assert split.count() == 6
    assert split.filter(F.col("split").isNull()).count() == 0

    srcd = d.withColumn("source", F.when(F.col("doc_id") < 4, "a").otherwise(None))
    mixed = llm_ops.mix_sources(srcd, {"a": 1.0}, default_weight=0.0)
    assert mixed.count() == 3  # NULL source falls to default weight 0


def test_dedup_clusters_transitive(spark):
    """A-B and B-C pairs must land A, B, C in ONE cluster labeled min id —
    the transitivity single-pair dropping gets wrong."""
    from impala_spark import llm_ops

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a_id long, b_id long",
    )
    got = {r.id: r.cluster_id for r in llm_ops.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}

def test_dedup_clusters_plan_depth_bounded(spark):
    """The min-label-propagation loop persists each round and
    localCheckpoints every 3rd (llm_ops.dedup_clusters) so the result's
    plan depth is O(1) in iteration count — without it, every round
    re-derives the full lineage from the raw pairs and convergence
    checks recompute quadratically (r3 verdict: scale-killer at real
    graph sizes). A 9-node path graph needs ~4+ label rounds; the final
    plan must stay shallow (truncated at a checkpoint), not grow with
    rounds."""
    from impala_spark import llm_ops

    # path graph 0-1-2-...-8: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a_id long, b_id long"
    )
    out = llm_ops.dedup_clusters(pairs)
    assert {r.cluster_id for r in out.collect()} == {0}
    plan = out._jdf.queryExecution().toString()
    # a checkpointed lineage is a scan, not a 4+-round join tower
    assert plan.count("Join") <= 4, f"unbounded lineage ({plan.count('Join')} joins):\n{plan[:2000]}"


def test_bm25_scores_ranking_and_degenerates(spark):
    from impala_spark import llm_ops

    d = spark.createDataFrame(
        [
            (1, "hash join hash join hash"),   # high tf for both terms
            (2, "hash once in a long document " + "filler " * 50),
            (3, "no matching terms here"),
            (4, ""),            # empty -> excluded from N/avgdl
            (5, None),          # NULL text
            (6, "   "),         # whitespace-only
        ],
        "doc_id long, text string",
    )
    out = llm_ops.bm25_scores(d, ["hash", "join"], topk=10).collect()
    got = {r.doc_id: r.bm25 for r in out}
    assert set(got) == {1, 2}  # only matching docs ranked
    assert got[1] > got[2]     # tf + length normalization order
    assert all(r.bm25 > 0 for r in out)


def test_contamination_flags_broadcast_and_hits(spark):
    from impala_spark import llm_ops

    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),      # shares 8-grams with bench
            (2, "one two three four five six seven eight nine"),  # disjoint
            (3, None),
            (4, "short doc"),                 # <8 words, partial gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string"
    )
    out = llm_ops.contamination_flags(train, bench, n=8)
    got = {r.doc_id: r.n_shared_ngrams for r in out.collect()}
    assert got == {1: 3}  # 10 words -> 3 distinct 8-grams, all shared
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # bench set broadcast: corpus scanned once
    assert "CartesianProduct" not in plan


def test_unigram_logprob_scores_semantics(spark):
    from impala_spark import llm_ops

    d = spark.createDataFrame(
        [
            (1, "common common common"),    # frequent tokens -> high logprob
            (2, "rareword"),               # singleton token -> low logprob
            (3, ""),                       # no tokens -> excluded
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm_ops.unigram_logprob_scores(d).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_tokens == 3 and out[2].n_tokens == 1
    assert out[1].avg_logprob > out[2].avg_logprob  # rare docs score lower
    plan_df = llm_ops.unigram_logprob_scores(d)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # vocab broadcast, no token-skew shuffle


def test_chunk_documents_windows_and_degenerates(spark):
    from impala_spark import llm_ops

    words20 = " ".join(f"w{i}" for i in range(20))
    d = spark.createDataFrame(
        [(1, words20), (2, "short doc"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = llm_ops.chunk_documents(d, chunk_words=8, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}  # empty/NULL docs emit no chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # 20 words, window 8, step 6 -> starts 0,6,12,18
    assert [r.chunk_idx for r in c1] == [0, 1, 2, 3]
    assert c1[0].chunk_text.split() == [f"w{i}" for i in range(8)]
    assert c1[1].chunk_text.split()[0] == "w6"  # overlap of 2
    assert c1[3].n_words == 2  # tail chunk truncated
    assert by_doc[2][0].n_words == 2
    # no shuffle: chunking is a narrow generate
    plan = llm_ops.chunk_documents(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_ratio_gopher_rule(spark):
    from impala_spark import llm_ops

    d = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),   # one distinct 3-gram repeated
            (2, "all words here are fully unique"), # no repeats
            (3, ""),
            (4, None),
            (5, "a b"),                             # fewer words than k
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in llm_ops.repetition_ratio(d, k=3).collect()}
    assert set(got) == {1, 2, 5}
    assert got[1].n_ngrams == 4 and got[1].rep_ratio == 0.75  # 4 grams, 1 distinct
    assert got[2].rep_ratio == 0.0
    assert got[5].n_ngrams == 1 and got[5].rep_ratio == 0.0  # partial gram, no repeat


def test_stratified_sample_counts_and_determinism(spark):
    from impala_spark import llm_ops

    d = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "doc_id long, source string"
    )
    out = llm_ops.stratified_sample(d, {"s0": 3, "s1": 10, "s2": 0}, seed=7)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src.get("s0", ())) == 3
    assert len(by_src.get("s1", ())) == 10  # all available
    assert "s2" not in by_src               # target 0
    # deterministic: same seed -> identical set; different seed -> different rank order
    again = {r.doc_id for r in llm_ops.stratified_sample(d, {"s0": 3}, seed=7).collect()}
    assert again == by_src["s0"]
    other = {r.doc_id for r in llm_ops.stratified_sample(d, {"s0": 3}, seed=8).collect()}
    assert other != by_src["s0"]  # 3-of-10 under a new hash: collision odds ~1/120


def test_incremental_dedup_semantics(spark):
    from impala_spark import llm_ops

    history = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog today"),
            (4, "completely different historical content about spark engines"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),      # exact dup of 2
            (3, "the quick brown fox jumps over the lazy dog yesterday"),  # near dup of 2
            (5, "an entirely novel batch document with fresh words"),      # survivor
        ],
        "doc_id long, text string",
    )
    # both candidate generators agree on this corpus: the default banded
    # MinHash (scale path) and the exact PPJoin prefix mode (oracle path)
    for mode in ("minhash", "prefix"):
        surv = {
            r.doc_id
            for r in llm_ops.incremental_dedup(
                batch, history, candidates=mode
            ).collect()
        }
        assert surv == {5}, mode
        pairs = llm_ops.cross_near_dup_pairs(
            batch, history, candidates=mode
        ).collect()
        assert {(r.b_id, r.h_id) for r in pairs} >= {(1, 2), (3, 2)}, mode
        plan = (
            llm_ops.incremental_dedup(batch, history, candidates=mode)
            ._jdf.queryExecution()
            .toString()
        )
        assert "CartesianProduct" not in plan, mode


def test_cross_near_dup_minhash_recall_vs_exact(spark, sf_dir):
    """The banded-MinHash candidate generator (the scale default) must
    recover the exact prefix mode's pairs on the fixture corpus at
    clearly-above-threshold similarity: P(candidate) = 1-(1-J^3)^12 is
    0.993 at J=0.7, so any missing high-J pair means broken banding,
    not LSH chance (signatures are deterministic under fixed seeds)."""
    from pyspark.sql import functions as F

    from impala_spark import llm_ops
    from impala_spark.session import table

    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 2 == 1)
    history = d.filter(F.col("doc_id") % 2 == 0)
    exact = llm_ops.cross_near_dup_pairs(batch, history, candidates="prefix")
    lsh = llm_ops.cross_near_dup_pairs(batch, history, candidates="minhash")
    exact_hi = {(r.b_id, r.h_id) for r in exact.filter("jaccard >= 0.7").collect()}
    lsh_pairs = {(r.b_id, r.h_id) for r in lsh.collect()}
    assert exact_hi <= lsh_pairs
    # every emitted pair is exactly rescored in both modes: no false
    # positives anywhere
    exact_all = {(r.b_id, r.h_id) for r in exact.collect()}
    assert lsh_pairs <= exact_all


def test_redact_pii_masks_all_classes(spark):
    """Every PII class is counted on the original text and masked in the
    output; clean text passes through untouched."""
    rows = [
        (1, "reach me at a.b+c@mail.example.org or 555-123-4567 thanks"),
        (2, "server 192.168.1.254 card 4111222233334444"),
        (3, "no pii in this perfectly ordinary sentence"),
        (4, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in llm_ops.redact_pii(d).collect()}
    assert (got[1].n_emails, got[1].n_phones) == (1, 1)
    assert "<EMAIL>" in got[1].text_redacted and "<PHONE>" in got[1].text_redacted
    assert "a.b+c@mail.example.org" not in got[1].text_redacted
    assert (got[2].n_ips, got[2].n_ids) == (1, 1)
    assert "<IP>" in got[2].text_redacted and "<ID>" in got[2].text_redacted
    assert got[3].text_redacted == rows[2][1]
    assert got[3].n_emails == got[3].n_phones == got[3].n_ips == got[3].n_ids == 0
    assert got[4].text_redacted is None  # NULL propagates, no crash


def test_redact_pii_order_no_cross_matches(spark):
    """The mask order must not let one replacement manufacture another
    pattern's match (e.g. ip digits surviving inside an email host)."""
    d = spark.createDataFrame(
        [(1, "user123@10.0.0.1.example.com and bare ip 10.0.0.1")],
        "doc_id long, text string",
    )
    r = llm_ops.redact_pii(d).collect()[0]
    # email (greedy host match) consumes its embedded dotted-quad; the
    # bare ip is still masked independently.
    assert r.text_redacted == "<EMAIL> and bare ip <IP>"


def test_gopher_filter_rules_and_reasons(spark):
    long_ok = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, long_ok),                                   # keeps: stopwords, length ok
        (2, "tiny"),                                    # too_short + no_stopwords
        (3, "the " + "12345 " * 20),                    # digit_heavy
        (4, "the of " + "x " * 20),                     # word_len (avg < 2)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in llm_ops.gopher_filter(d).collect()}
    assert got[1].keep and got[1].drop_reasons == ""
    assert not got[2].keep
    assert set(got[2].drop_reasons.split(",")) == {"too_short", "no_stopwords"}
    assert "digit_heavy" in got[3].drop_reasons
    assert "word_len" in got[4].drop_reasons


def test_block_dedup_first_occurrence_wins_and_reassembles(spark):
    a = " ".join(f"w{i}" for i in range(40))          # blocks [w0..w19], [w20..w39]
    b = " ".join(f"w{i}" for i in range(20, 40))      # exact copy of a's 2nd block
    c = "completely different words only here"
    d = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in llm_ops.block_dedup(d, block_words=20).collect()}
    assert (got[1].n_blocks, got[1].n_kept) == (2, 2)
    assert got[1].text_deduped == a                    # original intact
    assert (got[2].n_blocks, got[2].n_kept) == (1, 0)  # lost to doc 1
    assert got[2].text_deduped == ""
    assert (got[3].n_blocks, got[3].n_kept) == (1, 1)
    assert got[3].text_deduped == c


def test_token_budget_select_boundary(spark):
    """Cumulative fill stops exactly at the budget; each source fills
    independently; doc order is ingestion (id) order."""
    rows = [
        (1, "a", "t " * 3),   # cum 3  kept
        (2, "a", "t " * 3),   # cum 6  kept
        (3, "a", "t " * 3),   # cum 9  > 8 -> dropped
        (4, "b", "t " * 8),   # cum 8  kept (exactly at budget)
        (5, "b", "t"),        # cum 9  dropped
    ]
    d = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string"
    )
    got = {r.doc_id: r for r in llm_ops.token_budget_select(d, budget_tokens=8).collect()}
    assert [got[i].kept for i in (1, 2, 3, 4, 5)] == [True, True, False, True, False]
    assert got[4].cum_tok == 8


def test_substring_dedup_flags_verbatim_reuse(spark):
    shared = "x" * 40 + "shared verbatim content here that is long enough " + "y" * 40
    rows = [
        (1, shared),
        (2, "prefix differs completely " + shared),   # contains doc 1's content shifted
        (3, "entirely different text " + "z" * 100),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in llm_ops.substring_dedup(d, window_chars=32, stride=16).collect()}
    # identical strided windows only align when the overlap is aligned to
    # the stride; doc1 vs its exact copy inside doc2 shares no aligned
    # window here (offset 26 not a multiple of 16), so instead check the
    # symmetric case with an exact duplicate:
    d2 = spark.createDataFrame([(1, shared), (2, shared), (3, "other " * 30)], "doc_id long, text string")
    g2 = {r.doc_id: r for r in llm_ops.substring_dedup(d2, window_chars=32, stride=16).collect()}
    assert g2[1].n_shared == g2[1].n_windows and g2[1].shared_frac == 1.0
    assert g2[2].n_shared == g2[2].n_windows
    assert g2[3].n_shared == 0 and g2[3].shared_frac == 0.0
    assert got[3].n_shared == 0


def test_ngram_novelty_ordering_semantics(spark):
    rows = [
        (1, "alpha beta gamma delta"),        # all grams novel (first doc)
        (2, "alpha beta gamma delta"),        # exact repeat: zero novelty
        (3, "alpha beta gamma epsilon zeta"), # mixes seen + new grams
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in llm_ops.ngram_novelty(d, k=3).collect()}
    assert got[1].novelty == 1.0 and got[1].n_grams == 2
    assert got[2].novelty == 0.0
    # doc3 grams: [alpha beta gamma](seen), [beta gamma epsilon](new), [gamma epsilon zeta](new)
    assert (got[3].n_grams, got[3].n_novel) == (3, 2)


def test_embedding_dim_stats_exact(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [2.0, 10.0]), (3, [3.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.dim: r for r in llm_ops.embedding_dim_stats(d).collect()}
    assert got[0].n == 3 and got[0].dim_mean == 2.0
    assert abs(got[0].dim_var - 2.0 / 3.0) < 1e-6
    assert (got[0].dim_min, got[0].dim_max) == (1.0, 3.0)
    assert got[1].dim_var == 0.0 and got[1].dim_mean == 10.0


def test_length_percentile_filter_group_local_thresholds(spark):
    rows = (
        [(i, "en", "w " * 10) for i in range(10)]
        + [(100, "en", "w " * 500)]            # outlier vs en's p95
        + [(200, "cjk", "w " * 500)] * 1       # normal for cjk
        + [(201, "cjk", "w " * 500), (202, "cjk", "w " * 500)]
    )
    d = spark.createDataFrame(
        [(i, g, t.strip()) for i, g, t in rows], "doc_id long, lang string, text string"
    )
    got = {r.doc_id: r for r in llm_ops.length_percentile_filter(d, group_col="lang").collect()}
    assert not got[100].kept          # 500 words is an outlier in 'en'
    assert got[200].kept              # but normal in 'cjk'
    assert got[1].kept


def test_source_overlap_matrix_counts_pairs(spark):
    rows = [
        (1, "a", "same text one"),
        (2, "a", "unique a text"),
        (3, "b", "same text one"),     # dup of 1 across a-b
        (4, "b", "same text one"),     # second copy in b -> 1*2 pairs
        (5, "c", "unique c text"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.src_a, r.src_b): r.dup_pairs for r in llm_ops.source_overlap_matrix(d).collect()}
    assert got == {("a", "b"): 2}


def test_top_tfidf_terms_ranking(spark):
    rows = [
        (1, "apple apple apple common common"),
        (2, "banana banana common common"),
        (3, "cherry common"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.rk): r for r in llm_ops.top_tfidf_terms(d, topk=2).collect()}
    # rare high-tf terms outrank the ubiquitous 'common' (df=3 -> idf=0)
    assert got[(1, 1)].term == "apple" and got[(1, 1)].tf == 3
    assert got[(2, 1)].term == "banana"
    assert got[(3, 1)].term == "cherry"
    # 'common' appears in every doc: ln(4/4)=0 -> score 0, ranked below
    assert got[(1, 2)].term == "common" and got[(1, 2)].tfidf == 0.0


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.withColumn("vec_id", F.col("vec_id") + 1000000)
    out = llm_ops.semantic_dedup(emb.unionByName(planted), threshold=0.97)
    rows = out.collect()
    n = emb.count()
    kept = [r.id for r in rows if r.kept]
    dropped = [r.id for r in rows if not r.kept]
    # every original survives, every planted exact copy is dropped at 1.0
    assert sorted(kept) == sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert len(dropped) == n and all(i >= 1000000 for i in dropped)
    assert all(r.drop_sim == 1.0 for r in rows if not r.kept)


def test_semantic_dedup_cluster_locality_and_threshold(spark):
    # orthogonal vectors share no cluster constraint but have cosine 0 —
    # never dropped; identical vectors always dropped (later id)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r.id: r for r in llm_ops.semantic_dedup(df, bits=2, stride=1).collect()}
    assert out[1].kept and not out[2].kept and out[3].kept
    assert out[1].cluster == out[2].cluster != out[3].cluster


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = physical_plan(llm_ops.semantic_dedup(emb))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan  # pure Catalyst arithmetic


def test_dsir_weights_prefer_target_lookalikes(spark):
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(4)],
        "doc_id: long, text: string",
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma beta"), (2, "zeta eta theta iota")],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in llm_ops.dsir_importance_weights(raw, target).collect()}
    # the target-lookalike document must out-score the out-of-domain one
    assert out[1].logratio > out[2].logratio
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4


def test_dsir_weights_broadcast_no_token_shuffle(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    raw = d.filter(F.col("source") != "src0")
    plan = physical_plan(llm_ops.dsir_importance_weights(raw, target))
    # bucket tables broadcast; no sort-merge join keyed on token/bucket
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_persisted_ivf_index_prunes_and_recalls(spark, sf_dir):
    """Build-once/query-many IVF index: nprobe<nlist reads a subset of
    list partitions (pruned scan), nprobe=nlist equals brute force."""
    e = table(spark, sf_dir, "embeddings")
    llm_ops.build_ivf_index(e, prefix="t_idx", nlist=8)
    query = e.filter(F.col("vec_id") == 1)
    full = llm_ops.query_ivf_index(spark, query, prefix="t_idx", k=10, nprobe=8)
    brute = llm_ops.cosine_topk_bruteforce(e, query, k=10)
    assert [r.vec_id for r in full.collect()] == [r.vec_id for r in brute.collect()]
    # partial probe: candidate set shrinks to the probed lists only
    part = llm_ops.query_ivf_index(spark, query, prefix="t_idx", k=10, nprobe=2)
    got = [r.vec_id for r in part.collect()]
    assert len(got) == 10
    # the nearest list contains the query vector itself -> top-1 stable
    assert got[0] == [r.vec_id for r in full.collect()][0]
    # assignments table is partitioned by list_id (prunable layout)
    from impala_spark import ddl

    assert ddl.table_info("t_idx_assignments").partition_cols == ["list_id"]
    ddl.drop_table(spark, "t_idx_centroids")
    ddl.drop_table(spark, "t_idx_assignments")


def test_cluster_topics_topk_and_determinism(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    out = llm_ops.cluster_topics(d, e, topk=3, bits=4)
    rows = out.collect()
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r.cluster, []).append((r.rk, r.n, r.term))
    for cl, items in per_cluster.items():
        items.sort()
        assert [i[0] for i in items] == list(range(1, len(items) + 1))
        ns = [i[1] for i in items]
        assert ns == sorted(ns, reverse=True)  # counts non-increasing
    # deterministic under re-execution
    again = llm_ops.cluster_topics(d, e, topk=3, bits=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_sample_frames_fanout_and_no_shuffle(spark):
    rows = [(1, b"abc", 5000), (2, b"xy", 0), (3, None, 3999), (4, b"z", None)]
    df = spark.createDataFrame(
        rows, "doc_id: long, payload: binary, duration_ms: long"
    )
    out = llm_ops.sample_frames(df, fps=0.5)  # frame every 2000 ms
    got = {(r.doc_id, r.frame_idx): r.ts_ms for r in out.collect()}
    # 5000ms at 0.5fps -> frames at 0,2000,4000; 3999ms -> 0,2000;
    # zero/NULL duration -> no frames
    assert sorted(k for k in got) == [(1, 0), (1, 1), (1, 2), (3, 0), (3, 1)]
    assert got[(1, 2)] == 4000
    plan = physical_plan(llm_ops.sample_frames(df))
    assert "Exchange" not in plan  # narrow generate only
    assert "Generate" in plan


def test_dsir_tokenization_handles_mixed_case(spark):
    # Tokenizer contract is lower-THEN-strip (matches the DuckDB oracle's
    # regexp_replace(lower(text),...)); stripping first would delete
    # uppercase letters ("Hello World!" -> "ello orld").
    raw = spark.createDataFrame(
        [(1, "Hello World!"), (2, "hello world")], "doc_id: long, text: string"
    )
    target = spark.createDataFrame([(10, "hello world")], "doc_id: long, text: string")
    rows = {r.doc_id: r for r in llm_ops.dsir_importance_weights(raw, target).collect()}
    assert rows[1].n_tokens == 2 == rows[2].n_tokens
    # identical token streams -> identical importance weights
    assert rows[1].logratio == rows[2].logratio


def test_semantic_dedup_autosizes_cluster_bits(spark):
    # bits=None derives the cluster count from the corpus size so the
    # expected cluster membership stays ~target_cluster_size (per-cluster
    # pairwise work flat as the corpus grows — r4 verdict task #3).
    import numpy as np

    rng = np.random.default_rng(7)

    def corpus(n, dim=64):
        rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    small = llm_ops.semantic_dedup(corpus(200), target_cluster_size=64)
    big = llm_ops.semantic_dedup(corpus(3200), target_cluster_size=64)
    n_small = small.select("cluster").distinct().count()
    n_big = big.select("cluster").distinct().count()
    # 200/64 -> 4 bits (floor), 3200/64 -> 6 bits: cluster count must grow
    assert n_big > n_small
    # expected cluster size stays bounded: n / clusters <= ~4x target
    assert 3200 / n_big <= 4 * 64
    # identical vectors still co-cluster and dedup under auto sizing
    v = [1.0] * 64
    dup = spark.createDataFrame(
        [(1, v), (2, v), (3, [(-1.0) ** i for i in range(64)])],
        "vec_id: long, embedding: array<double>",
    )
    out = {r.id: r.kept for r in llm_ops.semantic_dedup(dup).collect()}
    assert out[1] is True and out[2] is False and out[3] is True


def test_global_running_sum_exact_and_partitioned(spark):
    """operators.global_running_sum must equal the single-partition
    window bit-for-bit AND contain zero unpartitioned windowspecs in
    its executed plan (the r6 verdict's one scale-killer)."""
    import re

    from pyspark.sql.window import Window

    from impala_spark.operators import global_running_sum

    rows = [(i, (i * 37) % 101, (i * 13) % 7 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id: long, score: long, toks: long")
    order = [F.col("score").desc(), F.col("id")]
    got = {
        r.id: r.cum
        for r in global_running_sum(df, "toks", order, out_col="cum", num_partitions=8).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.id: r.cum for r in df.withColumn("cum", F.sum("toks").over(w)).collect()}
    assert got == want

    plan = (
        global_running_sum(df, "toks", order, out_col="cum", num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every windowspecdefinition's first argument must be a partition
    # column, never an ordering expression (ASC/DESC marker)
    for first_arg in re.findall(r"windowspecdefinition\(([^,]*),", plan):
        assert " ASC" not in first_arg and " DESC" not in first_arg, plan


def test_curation_pipeline_no_unpartitioned_window(spark, sf_dir):
    """The flagship curation pipeline's executed plan must contain no
    unpartitioned window (r6 verdict #1: the global token-budget cumsum
    previously moved every surviving document to one partition), and
    building the DataFrame must run ZERO Spark jobs (r7 verdict #3: the
    old eager d.count() cost a full corpus scan per invocation)."""
    import re

    sc = spark.sparkContext
    sc.setJobGroup("curation-build", "no full-corpus scans at build time")
    try:
        df = SPARK_QUERIES_ND["llm_curation_pipeline"](spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("curation-build")
        # 5 bounded sizing scalars (semantic_dedup auto-sizing + k-means
        # fit sample, DSIR vocab) are inherent to construction; the old
        # eager d.count() made it 6 with a REDUNDANT full documents scan.
        # r12 adds 4 more: the three deliberate stage localCheckpoints
        # (quality/exact/semantic) that dedupe the ~6x fanned-out funnel
        # subtrees — those jobs are the pipeline's own stage work moved
        # to build time (total 7.9 -> 4.6 s warm at sf0.01), not waste.
        # r13 adds the ranked-input checkpoint (kills the DSIR chain's
        # double-execution under repartitionByRange's bounds sampling;
        # interleaved build+exec A/B 4.97 -> 4.21 s median), which also
        # moves the DSIR broadcast builds to build time: 14 total.
        assert len(jobs) <= 14, f"construction job regression: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" in plan  # the cumsum window is present
    for first_arg in re.findall(r"windowspecdefinition\(([^,]*),", plan):
        assert " ASC" not in first_arg and " DESC" not in first_arg, first_arg


def test_minhash_bounded_linear_under_skew(spark):
    """r12 (VERDICT r11 #5): the bounded pair contract stays LINEAR on a
    corpus with a giant near-dup cluster — candidates/output are at most
    bands * neighbors_per_doc per doc — while remaining a subset of the
    exact contract and preserving its connected components."""
    import random

    random.seed(99)
    vocab = [f"w{i}" for i in range(400)]
    base_text = " ".join(random.choices(vocab, k=60))
    rows = []
    # a 300-way near-dup cluster (one token appended varies per copy)
    for i in range(300):
        rows.append((i, base_text + f" v{i % 7}"))
    # plus unrelated singletons
    for i in range(300, 1200):
        rows.append((i, " ".join(random.choices(vocab, k=40)) + f" u{i}"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    bounded = llm_ops.minhash_lsh_pairs_bounded(
        df, threshold=0.5, neighbors_per_doc=2
    ).collect()
    exact = llm_ops.minhash_lsh_pairs_exact(df, threshold=0.5).collect()

    # quadratic vs linear: the 300-clique alone is ~C(300,2) ≈ 44850
    # exact pairs; the bounded contract caps at bands*neighbors per doc
    assert len(exact) > 40000
    assert len(bounded) <= 8 * 2 * 1200, len(bounded)
    # precision: bounded ⊆ exact (same threshold, exact rescoring)
    exact_set = {(r.a_id, r.b_id) for r in exact}
    assert all((r.a_id, r.b_id) in exact_set for r in bounded)
    # connectivity: same components -> same canonical survivors
    b_df = spark.createDataFrame(bounded)
    e_df = spark.createDataFrame(exact)
    b_cl = {(r.id, r.cluster_id)
            for r in llm_ops.dedup_clusters(b_df).collect()}
    e_cl = {(r.id, r.cluster_id)
            for r in llm_ops.dedup_clusters(e_df).collect()}
    assert b_cl == e_cl


def test_minhash_bounded_no_self_join_blowup(spark):
    """The candidate stage is a WINDOW over band buckets, not a
    self-equi-join: the plan must contain no join below the shingle-set
    rescore joins (two BroadcastHashJoin/SortMergeJoin for a/b sides)."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = llm_ops.minhash_lsh_pairs_bounded(df)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1  # the LEAD chain is the candidate gen


def test_coarse_centroids_driver_fit(spark):
    """r12: the IVF coarse quantizer fit runs on the driver over the
    bounded sample (no per-iteration Spark jobs). Pins: determinism for
    a fixed seed, exact centroid count even when k exceeds the sample,
    and a complete in-range expression-based assignment."""
    from pyspark.sql import functions as F

    rows = [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    a = llm_ops._coarse_centroids(df, k=4, seed=42)
    b = llm_ops._coarse_centroids(df, k=4, seed=42)
    assert a == b and len(a) == 4 and all(len(c) == 8 for c in a)
    # k larger than the sample still yields k centroids
    tiny = spark.createDataFrame(rows[:2], "id bigint, v array<double>")
    c = llm_ops._coarse_centroids(tiny, k=5, seed=1)
    assert len(c) == 5
    # assignment: every row labeled, labels in [0, k)
    assigned = llm_ops._assign_lists(df, a)
    got = assigned.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.min("list_id").alias("lo"), F.max("list_id").alias("hi"),
    ).first()
    assert got.n == 40 and got.lo >= 0 and got.hi < 4
    # a vector equal to a centroid maps to that centroid's list
    one = spark.createDataFrame([(99, a[2])], "id bigint, v array<double>")
    assert llm_ops._assign_lists(one, a).first().list_id == 2


def test_minhash_exact_signature_aggregate_form(spark):
    """r12: the exact pipeline's 16 signature minima are codegen'd min()
    aggregates over the exploded shingle hashes, not interpreted
    array_min(transform(...)) projections. Pins (a) the output jaccard
    still equals the directly-computed exact shingle-set Jaccard (the
    signature form only selects candidates; scoring is exact), and
    (b) the interpreted form stays out of the plan."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep dark woods tonight without any rest")
    near = base.replace("lazy", "sleepy")
    far = "unrelated corpus text about engines optimizers and columnar io"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id: long, text: string"
    )
    out = {(r.a_id, r.b_id): r.jaccard
           for r in llm_ops.minhash_lsh_pairs_exact(df, threshold=0.1).collect()}

    def shingle_set(t: str, k: int = 3) -> set:
        w = t.lower().split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}

    a, b = shingle_set(base), shingle_set(near)
    expected = round(len(a & b) / len(a | b), 6)
    assert out[(1, 2)] == expected
    assert all(3 not in pair for pair in out)
    plan = physical_plan(llm_ops.minhash_lsh_pairs_exact(df))
    assert "array_min(transform" not in plan
    assert "HashAggregate" in plan


def test_minhash_exact_concurrent_builds_isolated(spark):
    """r13 (r12 verdict #4): each call registers a UNIQUE temp view and
    drops it after building, so interleaved/concurrent calls on one
    session cannot clobber each other's input (the old fixed name raced:
    last registration won), and no view leaks into the catalog."""
    import threading as _t

    df1 = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"), (2, "aa bb cc dd ee ff gg hh")],
        "doc_id: long, text: string",
    )
    df2 = spark.createDataFrame(
        [(7, "zz yy xx ww vv uu tt ss")], "doc_id: long, text: string"
    )
    out: dict[str, object] = {}

    def run(key, d):
        try:
            out[key] = sorted(
                (r.a_id, r.b_id)
                for r in llm_ops.minhash_lsh_pairs_exact(d, threshold=0.5).collect()
            )
        except Exception as exc:  # surface failures to the assert below
            out[key] = exc

    t1 = _t.Thread(target=run, args=("a", df1))
    t2 = _t.Thread(target=run, args=("b", df2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert out["a"] == [(1, 2)]
    assert out["b"] == []
    leaked = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__minhash_exact_input")
    ]
    assert leaked == []
