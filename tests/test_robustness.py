"""Edge-input robustness: operators must handle empty inputs and
degenerate documents (shorter than the shingle size) without crashing or
fabricating rows — guards the sequence(1,0)-counts-down pitfall."""

from pyspark.sql import functions as F

from dbt_schema_builder_spark.operators import dedup, similarity, text, timeseries


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_short_docs_produce_no_shingles(spark):
    docs = _docs(spark, [(1, "one two", "en", "s", 7), (2, "one", "en", "s", 3)])
    assert dedup.shingle_sets(docs, n=3).count() == 0
    assert dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).count() == 0


def test_winnowing_short_doc_empty(spark):
    docs = _docs(spark, [(1, "a b c", "en", "s", 5)])  # < k+window-1 tokens
    assert text.winnowing_fingerprints(docs, k=5, window=4).count() == 0


def test_winnowing_shared_substring_shares_fingerprint(spark, tables):
    base = tables["documents"].limit(1).collect()[0]
    # two docs sharing a long substring must share >= 1 fingerprint
    shared = " ".join(base.text.split()[:12])
    docs = _docs(
        spark,
        [
            (1, shared + " tail one two", "en", "s", 1),
            (2, "head zero " + shared, "en", "s", 1),
        ],
    )
    fp = text.winnowing_fingerprints(docs, k=5, window=4)
    a = {r.fingerprint for r in fp.where("doc_id = 1").collect()}
    b = {r.fingerprint for r in fp.where("doc_id = 2").collect()}
    assert a & b


def test_empty_input_through_operators(spark, tables):
    empty_docs = tables["documents"].where("doc_id < 0")
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.minhash_lsh_candidates(empty_docs).count() == 0
    assert dedup.simhash_near_dup(
        empty_docs, token_hash="portable", max_bucket=200
    ).count() == 0
    assert text.quality_score(empty_docs).count() == 0
    assert text.lang_id(empty_docs).count() == 0
    empty_events = tables["events"].where("event_id < 0")
    assert timeseries.sessionize(empty_events).count() == 0
    assert timeseries.tumbling_window_stats(empty_events).count() == 0
    from dbt_schema_builder_spark.operators import relational

    assert relational.heavy_hitters(empty_events, "event_type").count() == 0
    empty_emb = tables["embeddings"].where("vec_id < 0")
    assert similarity.quantize_embeddings(empty_emb).count() == 0
    assert similarity.lsh_quantized_topk(empty_emb).count() == 0
    assert similarity.centroid_outliers(empty_emb).count() == 0
    assert similarity.embedding_near_dup_ivf_sharded(empty_emb).count() == 0
    assert similarity.pq_topk(empty_emb).count() == 0
    assert similarity.ivfpq_topk(empty_emb).count() == 0
    assert dedup.shared_ngram_fraction(empty_docs).count() == 0
    assert dedup.jaccard_prefix_pairs(empty_docs).count() == 0
    assert dedup.tfidf_ngram_cosine_pairs(empty_docs).count() == 0
    # empty seen corpus: bloom has zero bits set, every batch doc is
    # definitely new and passes through untouched
    empty_seen = text.fingerprint(empty_docs)
    batch = tables["documents"]
    assert (
        dedup.incremental_dedup_bloom(batch, empty_seen).count()
        == batch.count()
    )
    assert dedup.incremental_dedup_bloom(empty_docs, empty_seen).count() == 0
    empty_pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert (
        dedup.cluster_safe_split(empty_docs, empty_pairs).count() == 0
    )
    assert dedup.keep_canonical(empty_docs, empty_pairs).count() == 0
    # empty pair graph over a NON-empty corpus: everyone is a singleton
    # and the safe split degenerates to exactly hash_split
    full = dedup.cluster_safe_split(tables["documents"], empty_pairs)
    plain = text.hash_split(tables["documents"])
    assert (
        full.select("doc_id", "split").exceptAll(
            plain.select("doc_id", "split")
        ).count() == 0
    )


def test_kmeans_converges_to_stable_assignment(spark, tables):
    emb = tables["embeddings"]
    out = similarity.kmeans(emb, k=4, iterations=2)
    assert out.count() == emb.count()  # every vector assigned
    assert out.select("centroid_id").distinct().count() <= 4
    # deterministic across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, similarity.kmeans(emb, k=4, iterations=2).collect()))
    assert a == b


def test_centroid_by_label_shape(spark, tables):
    emb = tables["embeddings"]
    dim = len(emb.first().embedding)
    n_labels = emb.select("label").distinct().count()
    out = similarity.centroid_by_label(emb)
    assert out.count() == dim * n_labels
    assert out.groupBy("label").count().select(F.min("count")).first()[0] == dim


def test_timestamp_nanos_truncation_agrees_with_duckdb(spark, tmp_path):
    """A TIMESTAMP(NANOS) column with real sub-microsecond components (the
    fixtures store micros, so only this tmp file has them). Spark (via
    read_table's nanos-as-long conversion) floors ns -> us; DuckDB keeps ns
    and floors at epoch_us/epoch_ms. Any query emitting a time value must
    rely only on granularities where both engines agree — this pins that us
    and ms truncation agree on adversarial values (x999 ns, x001 ns, exact
    boundaries), so epoch-ms emission (q_session_window, q_asof_join) is
    engine-independent."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_schema_builder_spark.session import (
        epoch_micros,
        epoch_millis,
        read_table,
    )

    ns_values = [
        1_700_000_000_123_456_789,  # sub-us tail ...789
        1_700_000_000_123_456_001,  # barely past the us
        1_700_000_000_123_456_999,  # just below the next us
        1_700_000_000_123_000_000,  # exact ms boundary
        1_700_000_000_000_000_000,  # exact second boundary
    ]
    path = str(tmp_path / "ts_nanos.parquet")
    pq.write_table(
        pa.table({"id": list(range(len(ns_values))),
                  "ts": pa.array(ns_values, type=pa.timestamp("ns"))}),
        path,
    )
    sdf = read_table(spark, path).select(
        "id",
        epoch_millis("ts").alias("ms"),
        epoch_micros("ts").alias("us"),
    )
    spark_rows = {r.id: (r.ms, r.us) for r in sdf.collect()}
    duck = duckdb.connect().execute(
        f"SELECT id, epoch_ms(ts) AS ms, epoch_us(ts) AS us FROM '{path}' ORDER BY id"
    ).fetchall()
    duck_rows = {r[0]: (r[1], r[2]) for r in duck}
    assert spark_rows == duck_rows
    # and the expected floor semantics hold
    assert spark_rows[0] == (1_700_000_000_123, 1_700_000_000_123_456)


def test_multimodal_oracles_survive_non_ascii_corpus(spark, tmp_path):
    """r5 hardening (verdict ask #6): the multimodal/audio oracles now
    extract PAYLOAD BYTES in DuckDB (hex(encode(s)) pairs) instead of
    assuming one byte per character, so they must replay the Spark
    mapInPandas results even on a corpus with multi-byte UTF-8 text —
    the case the retired ASCII corpus pin existed to guard. Runs both
    engines over a fixture containing 2-, 3- and 4-byte codepoints."""
    import duckdb

    import __spark_entry__ as entry
    from dbt_schema_builder_spark.multimodal import (
        attach_fake_image_bytes,
        audio_features,
        image_features,
    )

    rows = [
        (1, "plain ascii text only"),
        (2, "accents: café naïve résumé"),  # 2-byte
        (3, "cjk: 数据处理引擎"),  # 3-byte
        (4, "emoji: \U0001f680\U0001f9ea mixed in ascii"),  # 4-byte
        (5, "à" * 300),  # >256 bytes => multiple audio chunks
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    docs = spark.read.parquet(path)
    media = attach_fake_image_bytes(docs)

    img = {
        r["doc_id"]: (r["n_bytes"], r["header_ok"], r["byte_entropy"])
        for r in image_features(media).collect()
    }
    img_oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            entry.oracle_sql()["q_multimodal_features"]
        ).fetchall()
    }
    assert img == img_oracle
    # byte counts must exceed char counts on the non-ASCII rows
    assert img[2][0] > len("accents: café naïve résumé") + 8

    aud = {
        (r["doc_id"], r["chunk_idx"]): (r["rms"], r["peak"])
        for r in audio_features(media, chunk=256).collect()
    }
    aud_oracle = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(entry.oracle_sql()["q_audio_features"]).fetchall()
    }
    assert aud == aud_oracle
    assert (5, 1) in aud  # the 300-codepoint doc spans >1 byte chunk


def test_empty_input_through_round4c_operators(spark, tables):
    """Empty-input robustness for the round-4c analytics batch: every
    operator returns an empty (or correctly degenerate) frame, never
    raises."""
    from dbt_schema_builder_spark.operators import (
        graph,
        profiling,
        relational,
        temporal,
    )

    empty_events = tables["events"].where("event_id < 0")
    assert timeseries.gapfill_locf(empty_events).count() == 0
    assert timeseries.gapfill_interpolate(empty_events).count() == 0
    assert timeseries.funnel(empty_events).count() == 3  # 3 zero stages
    assert (
        timeseries.funnel(empty_events)
        .agg({"n_users": "sum"})
        .collect()[0][0]
        == 0
    )
    assert timeseries.cohort_retention(empty_events).count() == 0
    assert timeseries.rolling_active_users(empty_events).count() == 0
    assert timeseries.transition_matrix(empty_events).count() == 0
    assert timeseries.conversion_latency(empty_events).collect()[0][
        "n_converted"
    ] == 0
    assert timeseries.cumulative_users(empty_events).count() == 0
    assert temporal.interval_coverage(empty_events).count() == 0
    assert temporal.scd2_history(empty_events).count() == 0
    assert profiling.mad_outliers(empty_events).count() == 0
    assert profiling.trend_slope(empty_events).count() == 0
    # categorical_profile emits one row per requested column even when
    # the frame is empty (zero distinct, zero entropy)
    prof = profiling.categorical_profile(empty_events, ["event_type"])
    assert prof.count() == 1

    empty_docs = tables["documents"].where("doc_id < 0")
    from dbt_schema_builder_spark.operators import dedup, text

    assert text.bm25_search(empty_docs, ("dup",)).count() == 0
    assert text.pmi_pairs(empty_docs).count() == 0
    assert text.source_kl(empty_docs).count() == 0
    assert dedup.containment_pairs(empty_docs).count() == 0

    empty_emb = tables["embeddings"].where("vec_id < 0")
    assert similarity.knn_label_agreement(empty_emb).count() == 0

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty_edges).count() == 0
    assert graph.pagerank_topk(empty_edges).count() == 0

    empty_parts = tables["part"].where("p_partkey < 0")
    assert relational.fuzzy_match_names(empty_parts).count() == 0


def test_empty_input_through_round5_operators(spark, tables):
    """Empty-input robustness for the round-5 batch: aggregates return
    empty (or correctly degenerate) frames, never raise."""
    from dbt_schema_builder_spark.operators import dedup, skew, text
    from dbt_schema_builder_spark.operators import profiling as prof
    from dbt_schema_builder_spark.sources.io import snapshot_diff

    empty_events = tables["events"].where("event_id < 0")
    assert prof.value_histogram(empty_events).count() == 0
    assert prof.sigma_outliers(empty_events).count() == 0
    assert skew.skew_report(empty_events, key="event_type").count() == 0
    assert snapshot_diff(
        empty_events, empty_events, ["event_id"]
    ).count() == 0

    empty_docs = tables["documents"].where("doc_id < 0")
    assert text.gopher_quality_rules(empty_docs).count() == 0
    assert text.ccnet_buckets(empty_docs).count() == 0
    assert text.apply_bpe_merges(empty_docs, [("e", "r")]).count() == 0
    assert text.tokenizer_fertility(empty_docs, [("e", "r")]).count() == 0
    assert dedup.jaccard_pairs(empty_docs, threshold=0.9).count() == 0
    assert dedup.jaccard_pairs(empty_docs, threshold=0.2).count() == 0

    from dbt_schema_builder_spark.operators import relational, similarity

    empty_emb = tables["embeddings"].where("vec_id < 0")
    assert similarity.semantic_dedup(
        empty_emb, threshold=0.4, strategy="blocked"
    ).count() == 0
    empty_state = empty_events.selectExpr(
        "user_id", "CAST(0 AS BIGINT) AS v", "CAST(0 AS BIGINT) AS n"
    )
    empty_batch = empty_events.selectExpr("user_id", "CAST(0 AS BIGINT) AS v")
    assert relational.merge_partial_aggregates(
        empty_state, empty_batch, ["user_id"], ["v"]
    ).count() == 0


def test_documents_corpus_is_printable_ascii_across_sfs():
    """Corpus pin for the chr(31) BPE-separator identity: apply_bpe
    and its DuckDB oracle (`_bpe_seg_ctes`) join symbols with \\x1f and
    rely on tokens never containing it — a token with an embedded or
    trailing \\x1f would diverge (Spark counts size(split)-1, DuckDB
    rtrim strips ALL trailing separators, and the merge identity
    itself breaks). Pin the stronger invariant the oracles assume:
    every document is printable ASCII (no control chars at all) at
    every shipped scale factor."""
    import glob

    import duckdb

    dirs = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert dirs, "testdata documents missing"
    for path in dirs:
        bad = duckdb.sql(
            "SELECT COUNT(*) FROM read_parquet(?) "
            "WHERE NOT regexp_matches(text, '^[\\x20-\\x7e]*$')",
            params=[path],
        ).fetchone()[0]
        assert bad == 0, f"{path}: {bad} docs with non-printable-ASCII chars"


def test_hyperplane_dim_mismatch_raises_not_corrupts(spark):
    """r10 probe find: hyperplane kernels were built for a FIXED dim
    (default 64) and dim-mismatched data either died in a cryptic numpy
    gufunc error (Arrow path) or — worse — silently NULLed every dot
    and collapsed ALL rows into bucket 0 (Catalyst path: zip_with pads
    the shorter side with NULLs). Both paths must now raise with the
    remediation in the message."""
    import pytest

    from dbt_schema_builder_spark.operators import similarity

    emb8 = spark.createDataFrame(
        [(0, [1.0] * 8, 0), (1, [0.5] * 8, 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    qs = similarity.queries_from_corpus(emb8, 1)

    # Arrow GEMM path (vectorized=True default)
    with pytest.raises(Exception, match="dim 8 != configured dim 64"):
        similarity.lsh_bucketed_topk(emb8, qs, k=1).collect()

    # pure-Catalyst fallback: previously returned WRONG results silently
    with pytest.raises(Exception, match="!= plane dim 64"):
        similarity.lsh_bucketed_topk(
            emb8, qs, k=1, vectorized=False
        ).collect()

    # multi-table bucket kernel via the near-dup LSH branch
    with pytest.raises(Exception, match="dim 8 != configured dim 64"):
        similarity.embedding_near_dup(
            emb8, threshold=0.9, strategy="lsh"
        ).collect()

    # correct dim passes end-to-end on both paths
    assert (
        similarity.lsh_bucketed_topk(emb8, qs, k=1, dim=8).count() >= 0
    )
    assert (
        similarity.lsh_bucketed_topk(
            emb8, qs, k=1, dim=8, vectorized=False
        ).count() >= 0
    )


def test_embedding_near_dup_rejects_unknown_strategy(spark, tables):
    """r10 probe find: an unknown strategy fell through to the LSH
    branch silently (the validated-config r6 rule says raise at plan
    construction)."""
    import pytest

    from dbt_schema_builder_spark.operators import similarity

    with pytest.raises(ValueError, match="unknown strategy 'exact'"):
        similarity.embedding_near_dup(
            tables["embeddings"], threshold=0.9, strategy="exact"
        )


def test_tokenizer_fertility_zero_word_language_yields_null(spark):
    """r10 probe find: a language slice whose docs carry no words
    (whitespace/punctuation-only — real at corpus scale) made the milli
    ratio `div` raise under ANSI, while the oracle's DuckDB `//`
    yields NULL on a zero denominator. The operator now emits NULL on
    both ratios for that shape — same engine semantics, no oracle
    change (fixture values untouched: no zero-word language exists
    there)."""
    import duckdb

    from dbt_schema_builder_spark.operators import text

    docs = spark.createDataFrame(
        [
            (0, "   ", "xx", "web", 3),  # zero words in lang xx
            (1, "alpha beta", "en", "web", 10),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    rows = {
        r["lang"]: r
        for r in text.tokenizer_fertility(docs, [("t", "h")]).collect()
    }
    # the whitespace doc yields zero SUBWORDS (the div that crashed);
    # chars/subword is NULL, fertility is whatever the word count gives
    assert rows["xx"]["chars_per_subword_milli"] is None
    # en side still computes
    assert rows["en"]["fertility_milli"] is not None
    # pin the DuckDB semantics the NULL mirrors
    assert duckdb.sql("SELECT (1000 * 5) // 0").fetchone()[0] is None


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """r11 (was the staged r10 probe find): weight <= 0 or NULL rows
    are filtered BEFORE the A-Res draw — ln(u)/0 was an ANSI crash,
    Efraimidis-Spirakis gives zero-weight items inclusion probability
    0, and the engines disagree on NULL placement under DESC so the
    filter is the only replayable form (mirrored in the
    q_weighted_sample oracle's WHERE n_chars > 0)."""
    from dbt_schema_builder_spark.operators import text

    docs = spark.createDataFrame(
        [
            (0, "", "en", "web", 0),      # zero weight: excluded
            (1, "", "en", "web", 0),
            (2, "a", "en", "web", -3),    # negative weight: excluded
            (3, "ab", "en", "web", 2),    # the one sampleable doc
            (4, "ab", "fr", "web", None), # NULL weight: excluded
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got = text.weighted_sample_per_group(docs, k=5).collect()
    assert {(r.doc_id, r.lang) for r in got} == {(3, "en")}


def test_null_embedding_inputs_raise_clear_errors(spark):
    """r10 degenerate-probe find (NULL frames): the Arrow GEMM kernels
    and driver-side codebook/query sampling died in bare NoneType
    errors on a NULL embedding; they now raise ValueError with the
    filter-upstream remediation. (Pure-Catalyst paths keep SQL NULL
    propagation — nulls yield null similarity and fall out of top-k,
    same as the DuckDB oracle.)"""
    import pytest

    from dbt_schema_builder_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, None, 0), (1, [1.0, 0.0, 0.0, 0.0], 1),
         (2, [0.0, 1.0, 0.0, 0.0], 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    qs = similarity.queries_from_corpus(emb.where("vec_id > 0"), 1)
    with pytest.raises(Exception, match="NULL embedding"):
        similarity.lsh_bucketed_topk(emb, qs, k=1, dim=4).collect()
    # pure-Catalyst fallback keeps SQL NULL propagation (r11 ADVICE
    # fix: a NULL embedding previously fell through the dim guard's
    # otherwise-branch into raise_error with a NULL-concat message —
    # now it signs to a NULL bucket and drops from candidate gen)
    got = similarity.lsh_bucketed_topk(
        emb, qs, k=5, dim=4, vectorized=False
    ).collect()
    assert {r.vec_id for r in got} <= {1, 2}
    with pytest.raises(Exception, match="NULL embedding"):
        similarity.embedding_near_dup_blocked(
            emb, threshold=0.5, blocks=2
        ).collect()
    # driver-side sampling: the NULL row is vec_id 0, first in the
    # orderBy(vec_id) sample
    with pytest.raises(ValueError, match="NULL iv"):
        similarity.pq_topk(emb, n_queries=1, k=1, subspaces=2, codes=2)
    with pytest.raises(ValueError, match="NULL"):
        similarity.knn_label_agreement(emb, n_queries=2, k=1)
    # null LABEL with valid vectors
    emb2 = spark.createDataFrame(
        [(0, [1.0, 0.0], None), (1, [0.0, 1.0], 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="NULL label"):
        similarity.knn_label_agreement(emb2, n_queries=2, k=1)


def test_null_group_keys_raise_clear_errors(spark):
    """r10 degenerate-probe find (NULL frames): waterfill died in
    Python's None-vs-str tuple compare and sampleBy in
    DISALLOWED_TYPE_FOR_CONTAINER; both now raise with remediations,
    and the hash-path sampler genuinely handles NULL strata via
    default_fraction."""
    import pytest

    from dbt_schema_builder_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "alpha beta", None, None, 10), (1, "beta x", "en", "web", 6)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    with pytest.raises(ValueError, match="NULL source group"):
        text.source_mix_waterfill(docs, budget_tokens=10)
    with pytest.raises(ValueError, match="NULL values in strata column"):
        text.stratified_sample(docs, default_fraction=0.5)
    # the advertised remediation works: hash path samples null strata
    # at default_fraction without error
    out = text.stratified_sample(
        docs, fractions={"en": 1.0}, default_fraction=1.0
    )
    assert out.count() == 2
