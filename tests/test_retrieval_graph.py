"""Behavioral tests for BM25 retrieval, PMI collocations, and fixed-point
PageRank on tiny hand-built inputs (oracle parity at sf0.01 is pinned by
the differential suite; these pin the semantics)."""

import math

import pytest
from pyspark.sql import functions as F

from dbt_schema_builder_spark.operators import graph, text


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_bm25_rare_term_outranks_common(spark):
    # 'needle' appears once, in doc 0; 'common' is everywhere. The
    # needle doc must rank first for the query (needle, common).
    docs = _docs(
        spark,
        ["needle common word", "common word word", "common word", "common"],
    )
    out = text.bm25_search(docs, ("needle", "common"), topk=4).collect()
    assert out[0]["rnk"] == 1 and out[0]["doc_id"] == 0
    assert out[0]["n_hit_terms"] == 2
    # every other doc matched only 'common'
    assert all(r["n_hit_terms"] == 1 for r in out[1:])


def test_bm25_length_normalization(spark):
    # same tf for 'x', shorter doc scores higher (b=0.75 length penalty)
    docs = _docs(spark, ["x pad", "x pad pad pad pad pad pad pad"])
    out = text.bm25_search(docs, ("x",), topk=2).collect()
    assert [r["doc_id"] for r in out] == [0, 1]
    assert out[0]["score_micro"] > out[1]["score_micro"]


def test_bm25_topk_cuts_deterministically(spark):
    # ties on score broken by doc_id ascending at the k boundary
    docs = _docs(spark, ["t", "t", "t"])
    out = text.bm25_search(docs, ("t",), topk=2).collect()
    assert [r["doc_id"] for r in out] == [0, 1]


def test_pmi_positive_for_correlated_negative_for_anticorrelated(spark):
    # a & b always co-occur (4 docs of 8); a & c never do but both are
    # frequent enough alone -> no (a,c) row at min_count 2; (a,b) PMI =
    # ln(4*8/(4*4)) = ln 2 > 0
    docs = _docs(
        spark,
        ["a b", "a b", "a b", "a b", "c d", "c d", "c d", "c d"],
    )
    rows = {
        (r["w1"], r["w2"]): r
        for r in text.pmi_pairs(docs, min_count=2).collect()
    }
    assert set(rows) == {("a", "b"), ("c", "d")}
    assert abs(rows[("a", "b")]["pmi_r4"] - round(math.log(2), 4)) < 1e-9
    assert rows[("a", "b")]["c_ab"] == 4


def test_pmi_vocab_cap_excludes_tail(spark):
    # max_vocab=2 keeps only the two most frequent tokens; pairs with
    # the tail token never form
    docs = _docs(spark, ["a b z", "a b", "a b", "a z"])
    rows = text.pmi_pairs(docs, min_count=1, max_vocab=2).collect()
    assert {(r["w1"], r["w2"]) for r in rows} == {("a", "b")}


def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    rev = df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return df.unionByName(rev)


def test_pagerank_hub_ranks_first(spark):
    # star graph: node 0 connected to 1..4 -> 0 must rank first
    e = _edges(spark, [(0, i) for i in range(1, 5)])
    out = graph.pagerank(e, iterations=3).collect()
    ranks = {r["node"]: r["r"] for r in out}
    assert max(ranks, key=ranks.get) == 0
    # leaves are symmetric -> identical ranks
    assert len({ranks[i] for i in range(1, 5)}) == 1


def test_pagerank_mass_is_integer_and_stable(spark):
    # two disconnected symmetric pairs: every node keeps rank exactly
    # 150000 + 850000 = 1000000 micro-units at every iteration
    e = _edges(spark, [(0, 1), (2, 3)])
    out = {r["node"]: r["r"] for r in graph.pagerank(e, iterations=3).collect()}
    assert out == {0: 1_000_000, 1: 1_000_000, 2: 1_000_000, 3: 1_000_000}


def test_pagerank_topk_entity_unpack(spark, sf_dir):
    from dbt_schema_builder_spark.session import read_table

    spark_edges = graph.bipartite_edges(
        read_table(spark, f"{sf_dir}/orders.parquet"),
        read_table(spark, f"{sf_dir}/lineitem.parquet"),
    )
    top = graph.pagerank_topk(spark_edges, iterations=1, k=5).collect()
    assert len(top) == 5
    assert [r["rnk"] for r in top] == [1, 2, 3, 4, 5]
    for r in top:
        assert r["entity"] in ("customer", "supplier")
        assert r["node"] == r["entity_key"] * 2 + (r["entity"] == "supplier")


def test_source_kl_identical_sources_are_zero(spark):
    # two sources with identical token distributions -> KL exactly 0
    docs = spark.createDataFrame(
        [
            (0, "a a b", "en", "s1", 5),
            (1, "a a b", "en", "s2", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from dbt_schema_builder_spark.operators.text import source_kl

    rows = {r["source"]: r for r in source_kl(docs).collect()}
    assert rows["s1"]["kl_micro"] == 0 and rows["s2"]["kl_micro"] == 0
    assert rows["s1"]["n_tokens"] == 3 and rows["s1"]["vocab_used"] == 2


def test_source_kl_divergent_source_positive(spark):
    # s2 is all-'z' while the corpus is mostly a/b -> s2's KL > s1's
    docs = spark.createDataFrame(
        [
            (0, "a b a b", "en", "s1", 7),
            (1, "a b a b", "en", "s1", 7),
            (2, "z z z z", "en", "s2", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from dbt_schema_builder_spark.operators.text import source_kl

    rows = {r["source"]: r["kl_micro"] for r in source_kl(docs).collect()}
    assert rows["s2"] > rows["s1"] >= 0


def test_containment_catches_quote_jaccard_misses(spark):
    from dbt_schema_builder_spark.operators import dedup

    # short doc fully quoted in a much longer one: containment of the
    # small side = 1000 milli even though Jaccard is low
    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, quote, "en", "s", len(quote)),
            (1, filler + " " + quote + " " + filler, "en", "s", 99),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup.containment_pairs(docs, n=3, threshold_milli=900).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["containment_milli"] == 1000
    # and Jaccard would have rejected this pair at any usual threshold
    jac = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert jac == []


def test_containment_threshold_is_integer_exact(spark):
    from dbt_schema_builder_spark.operators import dedup

    # overlap of exactly half the smaller set: passes at 500, not 501
    a = "x1 x2 x3 x4 x5 x6"          # 4 shingles
    b = "x3 x4 x5 x6 y1 y2 y3 y4 y5"  # shares shingles (x3 x4 x5), (x4 x5 x6)
    docs = spark.createDataFrame(
        [(0, a, "en", "s", 1), (1, b, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    hit = dedup.containment_pairs(docs, n=3, threshold_milli=500).collect()
    assert len(hit) == 1 and hit[0]["containment_milli"] == 500
    assert dedup.containment_pairs(docs, n=3, threshold_milli=501).collect() == []


def test_knn_label_agreement_planted_clusters(spark):
    from dbt_schema_builder_spark.operators.similarity import (
        knn_label_agreement,
    )

    # two tight clusters with distinct labels + one mislabeled point
    # inside cluster 0 -> its agreement is 0, everyone else's is k
    rows = []
    for i in range(5):
        rows.append((i, [1.0 + i * 0.001, 0.0], 0))
        rows.append((10 + i, [0.0, 1.0 + i * 0.001], 1))
    rows.append((99, [1.0005, 0.0005], 1))  # mislabeled intruder
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["query_id"]: r
        for r in knn_label_agreement(emb, n_queries=11, k=3).collect()
    }
    assert out[99]["n_agree"] == 0  # all its neighbors are label 0
    assert out[0]["n_neighbors"] == 3
    # cluster-1 members agree fully (the intruder is far from them)
    assert all(out[10 + i]["n_agree"] == 3 for i in range(5))


def test_trend_slope_exact_line(spark):
    import datetime

    from dbt_schema_builder_spark.operators.profiling import trend_slope

    # daily sums 1, 2, 3 -> slope exactly 1e6 micro-units/day
    d0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, d0 + datetime.timedelta(days=i), 1, "a", float(i + 1))
        for i in range(3)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    r = trend_slope(ev).collect()[0]
    assert r["n_days"] == 3
    assert r["slope_micro_per_day"] == 1_000_000.0
    assert r["slope_num"] == r["slope_den"] * 1_000_000


def test_trend_slope_single_day_guard(spark):
    import datetime

    from dbt_schema_builder_spark.operators.profiling import trend_slope

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1, "a", 5.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    r = trend_slope(ev).collect()[0]
    assert r["slope_den"] == 0 and r["slope_micro_per_day"] == 0.0


def test_categorical_profile_uniform_vs_degenerate(spark):
    import datetime
    import math

    from dbt_schema_builder_spark.operators.profiling import (
        categorical_profile,
    )

    d0 = datetime.datetime(2024, 1, 1)
    rows = [(i, d0, i % 4, "t", 0.0) for i in range(8)]  # user uniform-4
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {
        r["column_name"]: r
        for r in categorical_profile(ev, ["event_type", "user_id"]).collect()
    }
    # constant column: zero entropy, modal share 1000 milli
    assert out["event_type"]["n_distinct"] == 1
    assert out["event_type"]["entropy_micro"] == 0
    assert out["event_type"]["top_fraction_milli"] == 1000
    # uniform over 4: entropy = ln 4, modal share 250
    assert out["user_id"]["n_distinct"] == 4
    assert out["user_id"]["entropy_micro"] == 4 * round(
        0.25 * math.log(4) * 1e6
    )
    assert out["user_id"]["top_fraction_milli"] == 250


def test_fuzzy_match_names_blocks_and_multiplicity(spark):
    from dbt_schema_builder_spark.operators.relational import (
        fuzzy_match_names,
    )

    df = spark.createDataFrame(
        [
            (1, "old gear"),
            (2, "old gear"),
            (3, "cold gear"),   # distance 1 from 'old gear'
            (4, "old ring"),    # different block, never compared
            (5, "brass gear"),  # distance > 2 from both
        ],
        "p_partkey long, p_name string",
    )
    rows = fuzzy_match_names(df, max_distance=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r["name_a"], r["name_b"]} == {"old gear", "cold gear"}
    assert r["edit_distance"] == 1
    assert r["n_pairs"] == 2  # 2 'old gear' records x 1 'cold gear'


def test_knn_agreement_equals_ivfpq_shortlist_swap(spark, sf_dir):
    """The documented billion-row path for knn_label_agreement — score
    with ivfpq_topk's shortlist instead of the brute-force scan — must
    produce the IDENTICAL agreement table when the ANN is run lossless
    (nprobe = cells, rerank >= corpus): the free exactness pin, no
    recall threshold needed. ivfpq ranks include the query itself at
    d2=0, so the swap takes k+1 and drops self."""
    from dbt_schema_builder_spark.operators.similarity import (
        ivfpq_topk,
        knn_label_agreement,
    )
    from dbt_schema_builder_spark.session import read_table

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    n_q, k = 8, 5
    exact = {
        (r["query_id"], r["qlabel"]): r["n_agree"]
        for r in knn_label_agreement(emb, n_queries=n_q, k=k).collect()
    }
    corpus_n = emb.count()
    ann = ivfpq_topk(
        emb, n_queries=n_q, k=k + 1, cells=4, nprobe=4, rerank=corpus_n
    )
    labels = emb.select("vec_id", "label")
    qlabels = {
        r["vec_id"]: r["label"]
        for r in emb.orderBy("vec_id").limit(n_q).collect()
    }
    got = {}
    rows = (
        ann.where(F.col("vec_id") != F.col("query_id"))
        .join(labels, "vec_id")
        .collect()
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        top = rs[:k]
        got[(qid, qlabels[qid])] = sum(
            1 for r in top if r["label"] == qlabels[qid]
        )
    assert got == exact


def test_semantic_dedup_action_list(spark):
    """SemDeDup composition: two planted duplicate groups + a singleton
    -> min vec_id kept per group, everything else dropped, singleton
    keeps itself."""
    from dbt_schema_builder_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.001, 0.0], 0),   # dup of 1
        (5, [0.998, 0.002, 0.0], 0),   # dup of 1
        (7, [0.0, 1.0, 0.0], 1),
        (9, [0.001, 0.999, 0.0], 1),   # dup of 7
        (11, [0.0, 0.0, 1.0], 2),      # singleton
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, threshold=0.99, strategy="blocked").collect()
    }
    assert len(out) == 6
    assert out[1]["action"] == "keep" and out[1]["keep_vec_id"] == 1
    assert out[2]["action"] == "drop" and out[2]["keep_vec_id"] == 1
    assert out[5]["action"] == "drop" and out[5]["keep_vec_id"] == 1
    assert out[7]["action"] == "keep"
    assert out[9]["action"] == "drop" and out[9]["keep_vec_id"] == 7
    assert out[11]["action"] == "keep" and out[11]["keep_vec_id"] == 11
    # exactly one keeper per cluster
    keepers = {r["cluster_id"] for r in out.values() if r["action"] == "keep"}
    assert keepers == {1, 7, 11}


def test_gopher_rules_per_rule_flags(spark):
    from dbt_schema_builder_spark.operators.text import gopher_quality_rules

    docs = _docs(
        spark,
        [
            "the quick brown fox jumps over dogs",      # clean -> passes
            "a b",                                      # too few tokens
            "!!! ### $$$ %%% ^^^ &&&",                  # symbols + non-alpha
            "word word word word word word",            # dup tokens
            "pneumonoultramicroscopicsilicovolcanoconiosis aa bb cc dd ee",  # avg len high? no - one long word avg ~8 ok
        ],
    )
    out = {r["doc_id"]: r for r in gopher_quality_rules(docs).collect()}
    assert out[0]["passes_all"] == 1
    assert out[1]["ok_n_tokens"] == 0 and out[1]["passes_all"] == 0
    assert out[2]["ok_symbol_ratio"] == 0
    assert out[2]["ok_alpha_ratio"] == 0
    assert out[3]["ok_dup_tokens"] == 0 and out[3]["passes_all"] == 0
    # each row emits every rule flag (dashboardable), not one boolean
    assert set(out[0].asDict()) == {
        "doc_id", "ok_n_tokens", "ok_avg_token_len", "ok_symbol_ratio",
        "ok_alpha_ratio", "ok_dup_tokens", "passes_all",
    }


def test_gopher_rules_map_only_plan(spark, sf_dir):
    from dbt_schema_builder_spark.operators.text import gopher_quality_rules
    from dbt_schema_builder_spark.session import read_table

    df = gopher_quality_rules(read_table(spark, f"{sf_dir}/documents.parquet"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # zero shuffle: pure map-side rules


# driver_vocab_max_words=0 forces the distributed (Catalyst fold) loop;
# the default runs the driver-side loop for these small vocabularies
BPE_PATHS = pytest.mark.parametrize(
    "vocab_bound", [{}, {"driver_vocab_max_words": 0}], ids=["driver", "distributed"]
)


@BPE_PATHS
def test_learn_bpe_merges_textbook_sequence(spark, vocab_bound):
    """Sennrich et al.'s worked example: corpus {low x5, lower x2,
    newest x6, widest x3} must learn (e,s) then (es,t) first — the
    classic BPE trace — and merged symbols must appear in the final
    symbol table."""
    from dbt_schema_builder_spark.operators.text import learn_bpe_merges

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = _docs(spark, [text])
    merges, syms = learn_bpe_merges(docs, n_merges=4, **vocab_bound)
    assert merges[0] == ("e", "s")       # es: 6+3=9, the max
    assert merges[1] == ("es", "t")      # est: 9
    assert ("l", "o") in merges          # lo: 5+2=7 next
    rows = {r["w"]: r["syms"] for r in syms.collect()}
    assert "est" in rows["newest"]
    assert rows["low"][0] in ("lo", "low")  # lo merged (maybe low too)


def test_learn_bpe_merges_nonoverlapping_left_to_right(spark):
    """'aaa' with pair (a,a): left-to-right non-overlapping merge gives
    [aa, a], never [a, aa] or [aa, aa]."""
    from dbt_schema_builder_spark.operators.text import learn_bpe_merges

    docs = _docs(spark, ["aaa aaa aaa"])
    merges, syms = learn_bpe_merges(docs, n_merges=1, min_pair_count=1)
    assert merges == [("a", "a")]
    assert syms.collect()[0]["syms"] == ["aa", "a"]


def test_learn_bpe_merges_stops_below_min_count(spark):
    from dbt_schema_builder_spark.operators.text import learn_bpe_merges

    docs = _docs(spark, ["ab cd"])  # every pair appears once
    merges, _ = learn_bpe_merges(docs, n_merges=5, min_pair_count=2)
    assert merges == []


def test_apply_bpe_merges_consistent_with_learned_table(spark):
    """Segmenting the corpus with the learned merges must give exactly
    the subword totals implied by the learner's final symbol table
    (sum over words of len(syms) * count)."""
    from dbt_schema_builder_spark.operators.text import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = _docs(spark, [text])
    merges, syms = learn_bpe_merges(docs, n_merges=4)
    expected = sum(
        len(r["syms"]) * r["n"] for r in syms.collect()
    )
    out = apply_bpe_merges(docs, merges).collect()[0]
    assert out["n_subwords"] == expected
    assert out["n_words"] == 16


def test_apply_bpe_merges_zero_shuffle_plan(spark, sf_dir):
    from dbt_schema_builder_spark.operators.text import apply_bpe_merges
    from dbt_schema_builder_spark.session import read_table

    df = apply_bpe_merges(
        read_table(spark, f"{sf_dir}/documents.parquet"),
        [("t", "h"), ("th", "e")],
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # segmentation is a pure scan


def test_ccnet_buckets_order_and_fractions(spark):
    """Best-scoring docs land in head, worst in tail, within each
    language independently; fractions are ~thirds."""
    from dbt_schema_builder_spark.operators.text import ccnet_buckets

    # 9 docs per lang: quality gradient via gibberish proportion
    rows = []
    i = 0
    for lang in ("en", "de"):
        for q in range(9):
            good = ["the", "of", "and"] * (9 - q)
            bad = [f"zz{lang}{q}x{j}" for j in range(q * 3)]
            rows.append((i, " ".join(good + bad), lang, "s", 1))
            i += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = ccnet_buckets(docs).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        buckets = {b: [r for r in rs if r["bucket"] == b] for b in ("head", "middle", "tail")}
        assert len(buckets["head"]) == 3 == len(buckets["tail"])
        # every head doc outscores every tail doc within the language
        assert min(r["avg_logprob"] for r in buckets["head"]) > max(
            r["avg_logprob"] for r in buckets["tail"]
        )


@BPE_PATHS
def test_learn_bpe_merges_counts_out(spark, vocab_bound):
    """counts_out receives the winning pair count per merge — the
    surface q_bpe_learn hashes (textbook corpus: es = 6+3 = 9, then
    est = 9)."""
    from dbt_schema_builder_spark.operators.text import learn_bpe_merges

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    counts: list = []
    merges, _ = learn_bpe_merges(
        _docs(spark, [text]), n_merges=3, counts_out=counts, **vocab_bound
    )
    assert len(counts) == len(merges) == 3
    assert merges[0] == ("e", "s") and counts[0] == 9
    assert merges[1] == ("es", "t") and counts[1] == 9


def test_learn_bpe_counts_out_tracks_early_stop(spark):
    """counts_out must stay parallel to merges when learning stops
    early (pairs exhausted before n_merges)."""
    from dbt_schema_builder_spark.operators.text import learn_bpe_merges

    counts: list = []
    merges, _ = learn_bpe_merges(
        _docs(spark, ["ab ab"]), n_merges=5, min_pair_count=2,
        counts_out=counts,
    )
    assert merges == [("a", "b")]
    assert counts == [2]


# ------------------------------------------------------- RRF fusion (r8)


def _ranking(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id long, rnk long")


def test_rrf_fuse_integer_exact_and_rank_order(spark):
    import pytest  # noqa: F401

    a = _ranking(spark, [(10, 1), (20, 2)])
    b = _ranking(spark, [(20, 1), (30, 2)])
    out = {r.doc_id: r for r in text.rrf_fuse([a, b], k=60).collect()}
    assert out[20].rrf_micro == 1000000 // 61 + 1000000 // 62
    assert out[10].rrf_micro == 1000000 // 61
    assert out[30].rrf_micro == 1000000 // 62
    assert out[20].fused_rank == 1 and out[20].n_lists == 2
    # tie between 10 (rank1 in a) and 30 (rank2 in b)? no: 61 < 62
    assert out[10].fused_rank == 2 and out[30].fused_rank == 3


def test_rrf_fuse_duplicate_doc_in_one_list_counts_once_best_rank(spark):
    """r7 ADVICE: a doc_id repeated WITHIN one ranking must not inflate
    n_lists or rrf_micro — it contributes once, at its best rank."""
    a = _ranking(spark, [(10, 1), (10, 3), (20, 2)])
    b = _ranking(spark, [(10, 2)])
    out = {r.doc_id: r for r in text.rrf_fuse([a, b], k=60).collect()}
    assert out[10].n_lists == 2
    assert out[10].rrf_micro == 1000000 // 61 + 1000000 // 62


def test_rrf_fuse_and_query_guards(spark):
    import pytest

    a = _ranking(spark, [(1, 1)])
    with pytest.raises(ValueError, match="k must be >= 1"):
        text.rrf_fuse([a], k=0)
    with pytest.raises(ValueError, match="at least one ranking"):
        text.rrf_fuse([])
    docs = _docs(spark, ["a b"])
    with pytest.raises(ValueError, match="query term"):
        text.hybrid_search(docs, ())
    with pytest.raises(ValueError, match="query term"):
        text.bm25_search(docs, ())


def test_hybrid_search_arbitrates_term_stuffing(spark):
    """The designed disagreement: the tf ranker loves the stuffed long
    doc, BM25 length-normalizes it down; RRF fuses both signals and
    every fused doc carries both ranks (n_lists == 2) on this corpus."""
    docs = _docs(
        spark,
        [
            "needle short doc",
            "needle " * 30 + "pad " * 200,  # stuffed + long
            "plain filler text",
        ],
    )
    out = text.hybrid_search(docs, ("needle",), topk=3).collect()
    by_doc = {r.doc_id: r for r in out}
    assert set(by_doc) == {0, 1}  # only needle-matching docs rank
    assert all(r.n_lists == 2 for r in out)
    # fused_rank is a permutation starting at 1
    assert sorted(r.fused_rank for r in out) == [1, 2]
