"""LSH/SimHash bucket-width caps (operators/dedup._cap_buckets).

The one way banded LSH degrades to O(N^2) at scale is a degenerate
mega-bucket (identical boilerplate docs all landing in one bucket).
The cap bounds every in-bucket self-join at cap^2 rows while leaving
normal-width buckets untouched.
"""

from __future__ import annotations

from pg_lake_spark.operators.dedup import lsh_candidate_pairs, simhash_pairs


def _adversarial(spark, n=2000):
    # n identical docs: every band bucket is one mega-bucket of width n
    return spark.createDataFrame(
        [(i, "the same boilerplate text repeated for every document here") for i in range(n)],
        "doc_id bigint, body string",
    ).repartition(8)


def test_lsh_mega_bucket_bounded(spark):
    df = _adversarial(spark)
    cap = 40
    pairs = lsh_candidate_pairs(
        df, "doc_id", "body", threshold=0.5, max_bucket_size=cap
    )
    n = pairs.count()
    # pairs only among the cap kept ids (identical docs agree in every
    # band, so all bands keep the SAME cap smallest ids)
    assert 0 < n <= cap * (cap - 1) // 2
    # uncapped on this corpus would be ~2M candidate pairs — ensure the
    # capped run keeps the kept ids fully linked (sample check)
    got = {(r.id_a, r.id_b) for r in pairs.limit(5).collect()}
    assert all(a < b for a, b in got)


def test_simhash_mega_bucket_bounded(spark):
    df = _adversarial(spark)
    cap = 40
    pairs = simhash_pairs(df, "doc_id", "body", max_bucket_size=cap)
    n = pairs.count()
    assert 0 < n <= cap * (cap - 1) // 2


def test_cap_leaves_normal_corpus_unchanged(spark):
    """On a corpus with bucket widths under the cap the output is
    bit-identical to the uncapped run (the oracle row's guarantee)."""
    rows = [(i, f"document number {i} with some shared words {i % 7}") for i in range(300)]
    rows += [(1000 + i, f"document number {i} with some shared words {i % 7} x") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, body string")
    capped = lsh_candidate_pairs(df, "doc_id", "body", threshold=0.5, max_bucket_size=5000)
    uncapped = lsh_candidate_pairs(df, "doc_id", "body", threshold=0.5, max_bucket_size=None)
    a = {(r.id_a, r.id_b) for r in capped.collect()}
    b = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert a == b and a


def test_dedupe_corpus_composition(spark):
    """The one-call pipeline drops exact copies, URL copies, and
    near-dup cluster members, keeping minimum-id survivors with all
    original columns."""
    from pg_lake_spark.operators.dedup import dedupe_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "http://a.com/x?utm_source=t"),
        (2, "the quick brown fox jumps over the lazy dog", "http://b.com/y"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dogs", "http://c.com/z"),  # near dup of 1
        (4, "completely different content about databases", "http://a.com/x"),  # url dup of 1
        (5, "another unrelated document entirely here now", "http://d.com/w"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, url string")
    clean, report = dedupe_corpus(
        df, "doc_id", "text", url_col="url", threshold=0.5
    )
    kept = sorted(r.doc_id for r in clean.collect())
    assert kept == [1, 5], (kept, report)
    assert report["input_rows"] == 5 and report["output_rows"] == 2
    assert report["exact_dropped"] == 1      # id 2
    assert report["url_dropped"] == 1        # id 4 (same canonical url as 1)
    assert report["neardup_dropped"] == 1    # id 3
    assert set(clean.columns) == {"doc_id", "text", "url"}


def test_dedupe_corpus_null_urls_pass_through(spark):
    from pg_lake_spark.operators.dedup import dedupe_corpus

    rows = [
        (i, f"unique document number {i} with words {i*7}", None)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, url string")
    clean, report = dedupe_corpus(df, "doc_id", "text", url_col="url", near_dup=False)
    assert report["output_rows"] == 20 and report["url_dropped"] == 0


def test_repeated_spans_hash_path_matches_string_path(spark):
    """The scale path (xxhash64 keys) must produce the same
    (n_docs, n_occ) multiset as the exact string-keyed path — xxhash64
    collisions across a corpus' distinct spans are ~|spans|^2/2^64."""
    from pg_lake_spark.operators.dedup import repeated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    by_str = repeated_spans(docs, "doc_id", "text", window=8, hash_only=False)
    by_hash = repeated_spans(docs, "doc_id", "text", window=8, hash_only=True)
    a = sorted((r.n_docs, r.n_occ) for r in by_str.collect())
    b = sorted((r.n_docs, r.n_occ) for r in by_hash.collect())
    assert a == b and len(a) > 0


def test_repeated_spans_short_doc_whole_text(spark):
    """Documents shorter than the window contribute their whole text
    as one span (same convention as word_shingles)."""
    from pg_lake_spark.operators.dedup import repeated_spans

    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other text")],
        "doc_id bigint, text string",
    )
    rows = repeated_spans(df, "doc_id", "text", window=8, hash_only=False).collect()
    assert [(r.span, r.n_docs, r.n_occ) for r in rows] == [("tiny doc", 2, 2)]


def test_word_shingles_quoted_identifier(spark):
    """word_shingles' expr-string fast path backtick-quotes the column
    name: non-bare identifiers (spaces, keywords) work like the F.col
    path did, and embedded backticks are rejected loudly."""
    import pytest
    from pg_lake_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [("a b c",)], ["weird name"]
    ).withColumnRenamed("weird name", "select")
    got = df.select(word_shingles("select", n=2).alias("s")).collect()[0].s
    assert sorted(got) == ["a b", "b c"]
    df2 = spark.createDataFrame([("x y z",)], ["my col"])
    got = df2.select(word_shingles("my col", n=2).alias("s")).collect()[0].s
    assert sorted(got) == ["x y", "y z"]
    with pytest.raises(ValueError, match="backtick"):
        word_shingles("bad`name", n=2)


def test_repeated_spans_trims_whitespace(spark):
    """Leading/trailing whitespace must not create empty tokens: a doc
    with padding yields the same spans as its trimmed twin (the DuckDB
    oracle trims before splitting)."""
    from pg_lake_spark.operators.dedup import repeated_spans

    clean = [(i, "alpha beta gamma delta") for i in range(3)]
    padded = [(i + 10, "  alpha beta gamma delta \n") for i in range(3)]
    df = spark.createDataFrame(clean + padded, ["doc_id", "text"])
    rows = repeated_spans(
        df, "doc_id", "text", window=4, min_docs=2, hash_only=False
    ).collect()
    assert len(rows) == 1
    assert rows[0].span == "alpha beta gamma delta"
    assert rows[0].n_docs == 6


def test_maximal_spans_merges_overlapping_windows(spark):
    """Two documents sharing a verbatim 12-token run produce ONE
    island each spanning exactly those 12 tokens (five overlapping
    8-token windows collapse), with correct 1-based positions and
    text rebuilt identically to the source slice; a doc without the
    run produces nothing."""
    from pg_lake_spark.operators.dedup import maximal_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    rows = [
        (1, "x1 y1 z1 " + shared + " tail1 tail2"),
        (2, shared + " completely different ending here"),
        (3, "no repeats in this document at all whatsoever ten eleven"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = maximal_repeated_spans(
        df, "doc_id", "text", window=8, min_docs=2, hash_only=False
    ).collect()
    assert len(out) == 2
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].start_tok == 4 and by_id[1].end_tok == 15
    assert by_id[2].start_tok == 1 and by_id[2].end_tok == 12
    for r in out:
        assert r.n_tokens == 12 and r.span == shared


def test_maximal_spans_hash_path_lossless(spark):
    """hash_only=True must produce IDENTICAL rows to the string path
    (unlike repeated_spans, the output text is rebuilt from tokens,
    so hashing the gate key is lossless)."""
    from pg_lake_spark.operators.dedup import maximal_repeated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = maximal_repeated_spans(docs, "doc_id", "text", hash_only=False).collect()
    b = maximal_repeated_spans(docs, "doc_id", "text", hash_only=True).collect()
    assert len(a) > 0 and a == b


def test_maximal_spans_distinct_islands_stay_separate(spark):
    """Two repeated runs separated by a non-repeated gap in the same
    document yield TWO islands, not one."""
    from pg_lake_spark.operators.dedup import maximal_repeated_spans

    run1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    run2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, run1 + " gapx gapy gapz " + run2),
        (2, run1 + " other words entirely unrelated " + run2),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = maximal_repeated_spans(
        df, "doc_id", "text", window=8, min_docs=2, hash_only=False
    ).collect()
    assert len(out) == 4  # 2 islands x 2 docs
    spans = sorted(set(r.span for r in out))
    assert spans == [run1, run2]
    for r in out:
        assert r.n_tokens == 8


def test_bm25_known_ranking(spark):
    """A document saturated with the query term must outrank one with
    a single mention; a rare term's idf must dominate a common one;
    docs without any query term never appear."""
    from pg_lake_spark.operators.textstats import bm25_topk

    rows = [
        (1, "spark spark spark spark filler words here"),
        (2, "spark appears once in this longer document full of filler"),
        (3, "no relevant words at all in here whatsoever"),
        (4, "rareword appears here once"),
        (5, "common common common common common common"),
        (6, "common rareword"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = bm25_topk(df, "doc_id", "text",
                    {"qa": ["spark"], "qb": ["rareword", "common"]}, k=5)
    rowsq = {(r.query_id, r.rnk): r.doc_id for r in out.collect()}
    assert rowsq[("qa", 1)] == 1 and rowsq[("qa", 2)] == 2
    assert ("qa", 3) not in rowsq  # doc 3 has no query term
    # rareword (df=2) out-idfs common (df=2)? both df=2 here; doc 6 has
    # BOTH terms so it must rank first for qb
    assert rowsq[("qb", 1)] == 6


def test_unigram_surprisal_orders_rarity(spark):
    """A document of corpus-rare tokens scores strictly higher mean
    surprisal than a document of corpus-common tokens; every doc gets
    exactly one row and a positive score."""
    from pg_lake_spark.operators.textstats import unigram_surprisal

    common = "the the the the the the the the"
    rare = "zyx qwv jkl pqr"
    filler = [(i, "the and of to in for " * 3) for i in range(10, 30)]
    rows = [(1, common), (2, rare)] + filler
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.surprisal for r in
           unigram_surprisal(df, "doc_id", "text").collect()}
    assert len(out) == 22 and all(v > 0 for v in out.values())
    assert out[2] > out[1]


def test_unigram_surprisal_null_text_adds_no_tokens(spark):
    """A NULL-text document contributes 0 tokens to the corpus total T,
    also under the legacy sizeOfNull (non-ANSI sessions, where
    size(NULL) is -1): the other documents score exactly as without it."""
    from pg_lake_spark.operators.textstats import unigram_surprisal

    rows = [(1, "a b c"), (2, "a a d"), (3, "b e")]
    schema = "doc_id bigint, text string"
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        def scores(data):
            df = spark.createDataFrame(data, schema)
            return {r.doc_id: r.surprisal
                    for r in unigram_surprisal(df, "doc_id", "text").collect()}

        with_null = scores(rows + [(4, None)])
        assert with_null == scores(rows)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_connected_components_long_chain_converges(spark):
    """A 60-node chain needs ~59 rounds under plain min-propagation —
    the r14 short-cutting (pointer doubling) closes it within the
    default 20 (O(log diameter))."""
    from pg_lake_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a bigint, id_b bigint"
    )
    out = connected_components(edges).collect()
    assert len(out) == 60
    assert all(r.component == 0 for r in out)


def test_connected_components_raises_on_nonconvergence(spark):
    """Labels still moving after max_iters must raise, not silently
    return a half-merged component assignment."""
    import pytest

    from pg_lake_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="still moving"):
        connected_components(edges, max_iters=1)


def test_connected_components_spares_concurrent_caches(spark):
    """Checkpoint cleanup must touch only the RDDs THIS call persisted
    — the old before/after diff of the session-global persistent-RDD
    map attributed anything another thread persisted during the window
    to this function and evicted it (r16 ADVICE). Simulate the
    concurrent thread by persisting an unrelated frame mid-setup."""
    from pyspark import StorageLevel

    from pg_lake_spark.operators.dedup import connected_components

    from pg_lake_spark.operators.dedup import _ckpt_ids

    def _live() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # the identification mechanism: a checkpoint's id set is read off
    # its OWN plan, so a frame persisted "concurrently" (here: right
    # after) can never be attributed to it
    cp = spark.range(50).localCheckpoint(eager=True)
    other = spark.range(100).persist(StorageLevel.MEMORY_ONLY)
    other.count()
    try:
        cp_ids = _ckpt_ids(cp)
        assert len(cp_ids) == 1, "must identify exactly the checkpoint RDD"
        live = _live()
        assert cp_ids <= live
        # the other frame's cache RDD is live but NOT attributed to cp
        assert len(live - cp_ids) >= 1
        # a non-checkpoint plan yields the safe empty set (leak, never
        # someone else's eviction)
        assert _ckpt_ids(spark.range(5)) == set()
        # end-to-end: caches THIS test owns survive a full CC run.
        # (Check only owned RDDs — unreferenced checkpoints from earlier
        # tests are unpersisted asynchronously by the ContextCleaner, so
        # a whole-map before/after compare is itself the flaky pattern
        # the fix removed.)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "id_a bigint, id_b bigint"
        )
        out = connected_components(edges).collect()
        assert len(out) == 21
        assert cp_ids <= _live(), "owned checkpoint evicted by CC cleanup"
        assert other.count() == 100  # still usable from cache
        assert other.storageLevel.useMemory
    finally:
        other.unpersist()
        cp.unpersist()


def test_connected_components_frees_its_own_checkpoints(spark):
    """After convergence only the final label checkpoint (plus nothing
    from the per-round history or the edge list) may stay persisted —
    max_iters live copies of the label frame was the sf10 heap
    exhaustion (r15)."""
    from pg_lake_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    connected_components(edges).collect()
    after = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert len(after - before) <= 1, (
        f"leaked checkpoints: {sorted(after - before)}"
    )


def test_gopher_signals_match_lambda_reference(spark):
    """gopher_signals' regexp_count spellings must be value-exact vs
    the definitional filter/aggregate-lambda forms (the r16 rewrite
    dropped the lambdas — CodegenFallback, interpreted per row). The
    800-case fuzz that motivated (?dm) caught plain (?m) counting
    \\r / NEL / LS as line breaks where split("\\n") does not; these
    cases pin the boundary inputs."""
    from pyspark.sql import functions as F

    from pg_lake_spark.operators.textstats import gopher_signals, words

    def reference(text):
        c = F.col(text)
        ws = words(c)
        n_words = F.size(ws)
        lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
        n_lines = F.greatest(F.size(lines), F.lit(1))
        nz = F.greatest(n_words, F.lit(1)).cast("double")
        return {
            "n_words": n_words,
            "mean_word_len": F.aggregate(
                ws, F.lit(0.0), lambda a, w: a + F.length(w)
            ) / nz,
            "symbol_word_ratio": (
                F.regexp_count(c, F.lit(r"#"))
                + F.regexp_count(c, F.lit(r"\.\.\."))
            ).cast("double") / nz,
            "bullet_line_frac": F.size(
                F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•‣▪])"))
            ).cast("double") / n_lines.cast("double"),
            "ellipsis_line_frac": F.size(
                F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$"))
            ).cast("double") / n_lines.cast("double"),
            "alpha_word_frac": F.size(
                F.filter(ws, lambda w: w.rlike(r"[A-Za-z]"))
            ).cast("double") / nz,
        }

    cases = [
        "", " ", "\n", "a\n", "a\nb", "  \n\t\n", "\r", "x\r\ny\r\n",
        "- bullet\n* two\n  • three\nplain", "\t- tabbed bullet",
        "ends...\nmid ... dots\n...\n....", "x... \ntrail spaces...  ",
        "Z-\nZ\r-\r\r•b",  # \r-as-line-break trap: (?m) overcounts
        "a-* nel", "b - ls",  # NEL / LINE SEPARATOR traps
        "word1 word2\tword3\nword4", "123 abc a1b ---",
        "one\n\n\ntwo", "#tag ### x...y...", "......", "... ...",
        "a\n \n\r\n\t\n", "solo", "-", "-x", " -x", "* ",
    ]
    df = spark.createDataFrame(list(enumerate(cases)), "id int, text string")
    ref, new = reference("text"), gopher_signals("text")
    sel = [F.col("id")]
    for k in ref:
        sel += [ref[k].alias(f"o_{k}"), new[k].alias(f"n_{k}")]
    for r in df.select(*sel).collect():
        for k in ref:
            assert r[f"o_{k}"] == r[f"n_{k}"], (
                f"{k} diverged on {cases[r.id]!r}: "
                f"{r[f'o_{k}']} vs {r[f'n_{k}']}"
            )


def test_kmv_ignores_nulls(spark):
    """A NULL input hashes to NULL, which Spark sorts FIRST ascending
    (DuckDB: last) — it must not occupy a bottom-k slot."""
    from pg_lake_spark.operators.dedup import kmv_distinct_estimate

    vals = spark.createDataFrame(
        [(i,) for i in range(500)], "v bigint"
    )
    with_nulls = vals.unionByName(
        spark.createDataFrame([(None,), (None,)], "v bigint")
    )
    a = kmv_distinct_estimate(vals, "v", k=64).collect()[0]
    b = kmv_distinct_estimate(with_nulls, "v", k=64).collect()[0]
    assert a.est_distinct == b.est_distinct


def test_lsh_rejects_nondivisible_banding(spark):
    """Leftover signature components silently excluded from banding
    change the recall curve — refused loudly (r14 review)."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id bigint, body string"
    )
    with pytest.raises(ValueError, match="divide evenly"):
        lsh_candidate_pairs(docs, "doc_id", "body", num_hashes=12, bands=5)


def test_bm25_and_surprisal_empty_corpus(spark):
    """sum() over no rows is NULL — the scalar reductions must not
    crash building literals on an empty corpus."""
    from pg_lake_spark.operators.textstats import bm25_topk, unigram_surprisal

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert bm25_topk(empty, "doc_id", "text", {"q": ["term"]}).count() == 0
    assert unigram_surprisal(empty, "doc_id", "text").count() == 0


def test_streaming_band_keys_rejects_nondivisible(spark):
    """Streaming twin of the batch guard: leftover signature components
    must refuse, keeping the batch-identical contract."""
    import pytest

    from pg_lake_spark.streaming.neardup import streaming_band_keys

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="divide evenly"):
        streaming_band_keys(docs, "doc_id", "text", num_hashes=12, bands=5)
