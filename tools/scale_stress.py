"""10x scale-up stress: times operators warm at sf0.1 and on a 10x replica.

Builds a pseudo-sf1 replica of the sf0.1 documents/embeddings/events
tables (10 copies, distinct ids, one perturbing token per document copy so
replicas are near- not exact-duplicates — deliberately inflating shingle
document frequency and bucket collision rates), then times each operator
at sf0.1 and at 10x and prints a JSON table of the scaling ratios. Each
time covers plan construction plus a noop write, after one warm-up run:
driver-looped operators (kmeans, label propagation, BPE training,
pagerank) run Spark jobs while their plan is built.

Run:  SPARK_GRAFT_DRIVER_MEM=24g python tools/scale_stress.py
Env:  STRESS_ONLY=kmeans,bpe  runs only ops whose name contains one of
      the comma-separated substrings; STRESS_FACTOR=100 replicates 100x;
      SPARK_GRAFT_CPUS=2|4 sets the cores, so a core-scaling run is two
      runs of the same STRESS_ONLY set.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbt_schema_builder_spark.session import get_spark, read_table, release_caches
from dbt_schema_builder_spark.operators import (
    classifier,
    dedup,
    relational,
    similarity,
    text,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# replication factor: 10 (default) or 100 for the extreme-scale pass
FACTOR = int(os.environ.get("STRESS_FACTOR", "10"))
STAGE = f"/tmp/scale{FACTOR}_r3"

spark = get_spark(app_name="scale-stress")
spark.sparkContext.setLogLevel("ERROR")


def stage_10x():
    docs = read_table(spark, f"{SF_DIR}/documents.parquet")
    emb = read_table(spark, f"{SF_DIR}/embeddings.parquet")
    if not os.path.exists(f"{STAGE}/documents.parquet/_SUCCESS"):
        rep = spark.range(FACTOR).select(F.col("id").alias("rep"))
        (
            docs.crossJoin(rep)
            .select(
                (F.col("doc_id") * FACTOR + F.col("rep")).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
                ).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + 5).alias("n_chars"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{STAGE}/documents.parquet")
        )
        (
            emb.crossJoin(rep)
            .select(
                (F.col("vec_id") * FACTOR + F.col("rep")).alias("vec_id"),
                "embedding",
                "label",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{STAGE}/embeddings.parquet")
        )
    return (
        read_table(spark, f"{STAGE}/documents.parquet"),
        read_table(spark, f"{STAGE}/embeddings.parquet"),
    )


def stage_events_10x():
    ev = read_table(spark, f"{SF_DIR}/events.parquet")
    if not os.path.exists(f"{STAGE}/events.parquet/_SUCCESS"):
        rep = spark.range(FACTOR).select(F.col("id").alias("rep"))
        (
            ev.crossJoin(rep)
            .select(
                (F.col("event_id") * FACTOR + F.col("rep")).alias("event_id"),
                "ts",
                # distinct user namespaces per replica: 10x the key
                # cardinality, same per-user event volume — the shape a
                # bigger deployment actually has
                (F.col("user_id") * FACTOR + F.col("rep")).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{STAGE}/events.parquet")
        )
    return read_table(spark, f"{STAGE}/events.parquet")


def _run(build):
    build().write.format("noop").mode("overwrite").save()


def _release():
    # the bench.py lesson applies here too: operators persist() subtrees,
    # and accumulated blocks tax later ops — measured pagerank 23.4 s
    # polluted vs 9.0 s isolated at 10x
    release_caches()
    spark.catalog.clearCache()


def timed(build):
    """Seconds to build ``build()``'s plan and write it to a noop sink,
    after one warm-up run; caches are released after each run."""
    _run(build)
    _release()
    t0 = time.perf_counter()
    _run(build)
    dt = round(time.perf_counter() - t0, 2)
    _release()
    return dt


table = {}


def record(name, build1, build10):
    t1, t10 = timed(build1), timed(build10)
    table[name] = {
        "sf0.1": t1, "x%d" % FACTOR: t10, "ratio": round(t10 / max(t1, 0.01), 1)
    }
    print(f"{name}: {t1}s -> {t10}s ({table[name]['ratio']}x)", file=sys.stderr)


docs1 = read_table(spark, f"{SF_DIR}/documents.parquet")
emb1 = read_table(spark, f"{SF_DIR}/embeddings.parquet")
docs10, emb10 = stage_10x()
print(
    "rows:",
    docs1.count(), "->", docs10.count(), "docs;",
    emb1.count(), "->", emb10.count(), "vecs",
    file=sys.stderr,
)

OPS = {
    # max_bucket=200 mirrors q_simhash_near_dup (the production skew
    # cap); the uncapped form re-measured 56.7 s at 10x (32x total, the
    # quadratic mega-bucket blow-up SCALE.md records) — keep tracking
    # the path queries actually run
    # max_dropped_mass=None: the replica corpus saturates the cell cap
    # by construction and this harness TIMES the degraded branch (the
    # r8 rule — scale harnesses opt out of the guards explicitly)
    "simhash_near_dup(h<=8,cap200)": lambda d, e: dedup.simhash_near_dup(
        d,
        max_hamming=8,
        token_hash="portable",
        max_bucket=200,
        max_dropped_mass=None,
    ),
    "lsh_quantized_topk": lambda d, e: similarity.lsh_quantized_topk(e),
    "source_overlap_matrix": lambda d, e: dedup.source_overlap_matrix(d),
    "kmeans(k=8,it=3)": lambda d, e: similarity.kmeans(e, k=8, iterations=3),
    "lang_id": lambda d, e: text.lang_id(d),
    "minhash_portable": lambda d, e: dedup.minhash_lsh_candidates(
        d, shingle_hash="portable"
    ),
    # round-4: Zipf-skew probe for the LM scorers — the exploded-token
    # join keys are Zipf-hot; this measures whether AQE skew-join keeps
    # the 10x per-row cost <= 2x (VERDICT r3 #4)
    "unigram_logprob": lambda d, e: text.unigram_logprob(d),
    "bigram_logprob": lambda d, e: text.bigram_logprob(d),
    # round-4: the bounded weak-threshold ANN path at its target regime
    "embedding_near_dup_ivf(thr.5)": lambda d, e: (
        similarity.embedding_near_dup_ivf_sharded(e, threshold=0.5)
    ),
    # round-4: leakage-safe split = pair gen + label propagation + md5
    # buckets; the dup-dense 10x corpus is its worst case (every doc in
    # a 10-member cluster)
    # max_dropped_mass=None: the dup-dense replica corpus saturates the
    # cap by construction (~89% of gram mass above df 64 at 10x); this
    # harness TIMES the degraded branch, the guard trip is unit-pinned
    "cluster_safe_split": lambda d, e: dedup.cluster_safe_split(
        d,
        dedup.ngram_jaccard_pairs(
            d, n=3, threshold=0.2, max_df=64, max_dropped_mass=None
        ),
    ),
    "centroid_outliers": lambda d, e: similarity.centroid_outliers(e),
    # round-4b: bloom prefilter (seen = src1 slice, batch = the rest;
    # the dup-dense 10x corpus makes the verify-join sliver fat — the
    # bloom's worst case)
    "incremental_dedup_bloom": lambda d, e: dedup.incremental_dedup_bloom(
        d.where(~F.col("source").rlike("^src1.*$")),
        text.fingerprint(d.where(F.col("source").rlike("^src1.*$"))),
    ),
    # round-4b: positions explode + gram-count join; same Zipf-join
    # shape as the LM scorers
    "shared_ngram_fraction": lambda d, e: dedup.shared_ngram_fraction(d),
    # round-4b: inverted-index self-join; the 10x replica multiplies
    # every gram's df by 10 so candidate volume (sum of df^2) grows
    # 100x — measured 10.3x runtime uncapped. max_df is the scale
    # lever (the ngram_jaccard lesson): 64 is a no-op at sf0.1
    # (max df 25) and holds the 10x ratio at 1.7x
    "tfidf_cosine_pairs(max_df=64)": lambda d, e: dedup.tfidf_ngram_cosine_pairs(
        d, n=3, threshold=0.3, max_df=64, max_dropped_mass=None
    ),
    # round-4b: PQ ADC + rerank; corpus pass must stay map-only
    "pq_topk(rerank=100)": lambda d, e: similarity.pq_topk(
        e, n_queries=5, k=10, subspaces=16, codes=16, rerank=100
    ),
    # round-4b: the two-level composite — cell pruning should keep the
    # ADC join input at ~nprobe/cells of the corpus
    "ivfpq_topk(3/8 probes)": lambda d, e: similarity.ivfpq_topk(
        e, n_queries=5, k=10, cells=8, nprobe=3, subspaces=16, rerank=100
    ),
    # round-4b: map-only chunking — must scale linearly with zero shuffle
    "sliding_chunks(64/16)": lambda d, e: text.sliding_chunks(
        d, size=64, overlap=16
    ),
    # round-4b: prefix filtering's winning regime — high threshold on
    # the dup-dense index (measured 2.7x over the full inverted index;
    # see SCALE.md for the full crossover table)
    "ppjoin_jaccard(thr.8)": lambda d, e: dedup.jaccard_prefix_pairs(
        d, n=3, threshold=0.8
    ),
    # round-4b: pair graph -> keep/drop action list (label propagation
    # is the cost; the corpus join is doc_id-narrow)
    "keep_canonical": lambda d, e: dedup.keep_canonical(
        d,
        dedup.ngram_jaccard_pairs(
            d, n=3, threshold=0.2, max_df=64, max_dropped_mass=None
        ),
    ),
    # round-4c: containment shares the jaccard index; the dup-dense
    # replica is its worst case too (same sum-of-df^2 candidate growth)
    "containment(max_df=64)": lambda d, e: dedup.containment_pairs(
        d, n=3, threshold_milli=500, max_df=64, max_dropped_mass=None
    ),
    # round-4c: doc-level pair mining — per-doc fan-out is C(vocab,2)
    # bounded, so 10x docs should be ~linear (pairs/doc constant)
    "pmi_pairs": lambda d, e: text.pmi_pairs(d, min_count=5),
    # round-4c: one count-table pass + broadcast rollups — must be linear
    "source_kl": lambda d, e: text.source_kl(d),
    # round-4c: term-filtered postings; only query-term rows shuffle
    "bm25_search": lambda d, e: text.bm25_search(
        d, ("dup", "join", "vector")
    ),
    # round-4c: exact kNN is brute-force by contract — 10x corpus should
    # be ~linear (broadcast queries, one scan, per-query top-k)
    "knn_label_agreement": lambda d, e: similarity.knn_label_agreement(
        e, n_queries=32, k=10
    ),
    # round-5: map-side rule battery — must be linear, zero shuffle
    "gopher_rules": lambda d, e: text.gopher_quality_rules(d),
    # round-5: unigram scorer + per-lang window; the window sort per
    # language partition is the scale cost
    "ccnet_buckets": lambda d, e: text.ccnet_buckets(d),
    # round-5: frozen-merge segmentation — map-only, must be linear
    "apply_bpe(8 merges)": lambda d, e: text.apply_bpe_merges(
        d, [("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
            ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u")]
    ),
    "tokenizer_fertility": lambda d, e: text.tokenizer_fertility(
        d, [("e", "r"), ("i", "n"), ("o", "w"), ("o", "r")]
    ),
    # round-5: SemDeDup on the scale path (LSH mining at thr 0.9 — the
    # dup-dense replica is the miner's worst case) + closure
    "semantic_dedup(lsh,thr.9)": lambda d, e: similarity.semantic_dedup(
        e, threshold=0.9, strategy="lsh"
    ),
    # round-6: the bounded SemDeDup branch (per-cell GEMM over probed
    # IVF cells); at 100x the dup-dense replica makes its OUTPUT
    # quadratic by construction (SCALE.md), so run it at 10x
    "semantic_dedup(ivf_sharded,thr.4)": lambda d, e: similarity.semantic_dedup(
        e, threshold=0.4, strategy="ivf_sharded", k_cells=32, nprobe=8
    ),
    # round-6: BPE training iterates over the word table, not the
    # corpus, so it is vocabulary-bounded and should stay flat; the
    # frame timed is the final symbol table
    "learn_bpe_merges(6)": lambda d, e: text.learn_bpe_merges(
        d, n_merges=6, min_pair_count=2
    )[1],
    # round-7: the substring modality's adversarial case IS the 10x
    # replica corpus — every replica shares its full >=20-token body
    # with 9 siblings, so nearly every position sits in a duplicated
    # gram and the island merge runs at maximal width (output ~1 span
    # per doc, i.e. corpus-sized — the op's worst legal output). The
    # gram agg stays map-side-combined on 8-byte keys; nothing
    # quadratic: candidate volume is positions, not pairs.
    "substring_spans(L=20)": lambda d, e: dedup.duplicate_substring_spans(
        d, min_len=20
    ),
    # round-7: the removal transform adds the pos-range anti-join +
    # per-doc rebuild — linear in tokens; on the replica corpus ~90%
    # of tokens get cut (only the min-doc_id replica keeps its body)
    "cut_duplicate_spans(L=20)": lambda d, e: dedup.cut_duplicate_spans(
        d, min_len=20
    ),
    # round-7b: NB quality filter — one tokenize pass + vocab-bounded
    # log-odds broadcast; the 10x replica adds only the 10 rep-marker
    # tokens to the vocabulary, so the lm table stays tiny
    "nb_classifier": lambda d, e: classifier.nb_scores(
        d, label="text LIKE '%dup%'"
    ),
    # round-8: the apply half — train on the md5 split's train slice,
    # score the held-out slice against the frozen broadcast model; must
    # stay scan-dominated (two tokenize passes, zero corpus shuffles on
    # the scoring side)
    "nb_apply(heldout)": lambda d, e: classifier.nb_apply_heldout(d),
    # round-8: per-doc substring-duplication rollup — the spans frame +
    # two doc-bounded window passes; same positions-not-pairs profile
    "span_stats(L=20)": lambda d, e: dedup.duplicate_span_stats(
        d, min_len=20
    ),
    # round-8: BM25 + raw-tf RRF fusion — both rankers prune to
    # query-term postings before any shuffle; fusion touches 2*topk rows
    "hybrid_search": lambda d, e: text.hybrid_search(
        d, ("data", "dup"), topk=20
    ),
    # round-7b: sources-bounded driver solve + broadcast fold-back —
    # must be scan-dominated (the waterfill profile)
    "source_mix_temperature": lambda d, e: text.source_mix_temperature(
        d, budget_tokens=1_000_000
    ),
    # round-7b: soft dedup's worst case IS the dup-dense replica corpus
    # (every doc in a 10-member cluster, rank windows at max width);
    # pair mining dominates, the per-cluster window adds one bounded
    # exchange on cluster_id
    # max_dropped_mass=None: at FACTOR=100 every gram's df exceeds the
    # cap and the r8 saturation guard (correctly) raises — this harness
    # opts out to TIME the blind branch; the guard trip itself is
    # unit-pinned in test_llm_ops.py
    "cluster_diversity(m=2)": lambda d, e: dedup.cluster_diversity_sample(
        d,
        dedup.ngram_jaccard_pairs(
            d, n=3, threshold=0.2, max_df=64, max_dropped_mass=None
        ),
        m=2,
    ),
    # round-12: the new tests-only families join the default gate (the
    # r10 rule — magnitude bugs live only in the 10x run). dedup_lines
    # is map-only O(L^2)-per-doc; l_diversity is one QI groupBy with a
    # distinct expansion; the urls pair runs the full regex chain + the
    # suffix-expansion blocklist over synthetic per-doc URLs whose host
    # cardinality grows with the replica's source_rep suffix.
    "dedup_lines": lambda d, e: _text_mod.dedup_lines(d),
    "dedup_lines_exploded": lambda d, e: _text_mod.dedup_lines(
        d, strategy="exploded"
    ),
    "l_diversity(lang,source)": lambda d, e: _privacy_mod.l_diversity_report(
        d, ["lang", "source"], "text", l=2
    ),
    "entropy_l(lang,source)": lambda d, e: _privacy_mod.entropy_l_diversity_report(
        d, ["lang", "source"], "text", l=2
    ),
    "url_host_report": lambda d, e: _urls_mod.host_report(_synth_urls(d)),
    "url_blocklist": lambda d, e: _urls_mod.blocklist_filter(
        _synth_urls(d),
        d.sparkSession.createDataFrame(
            [("src1.example.com",), ("src3_0.example.com",)],
            "domain string",
        ),
    ),
}

from dbt_schema_builder_spark.operators import privacy as _privacy_mod  # noqa: E402
from dbt_schema_builder_spark.operators import text as _text_mod  # noqa: E402
from dbt_schema_builder_spark.operators import urls as _urls_mod  # noqa: E402


def _synth_urls(d):
    """Deterministic per-doc URL frame: host derives from source (so
    the 10x replica's source_rep suffix grows host cardinality), with
    case/port/tracking/fragment noise exercising the whole chain."""
    return d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"),
            F.col("source"),
            F.lit(".Example.com:80/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&q=1#f"),
        ).alias("url"),
    )


_only = {s for s in os.environ.get("STRESS_ONLY", "").split(",") if s}


def _want(name: str) -> bool:
    return not _only or any(s in name for s in _only)


for name, fn in OPS.items():
    if _want(name):
        record(
            name,
            lambda fn=fn: fn(docs1, emb1),
            lambda fn=fn: fn(docs10, emb10),
        )


def _run_events_ops():
    """Event-table ops: 10x replica multiplies the user-key cardinality,
    not per-user volume — funnel/interval/rolling must scale ~linearly
    (shuffles on high-cardinality keys, no quadratic fan-out)."""
    from dbt_schema_builder_spark.operators import temporal, timeseries
    from dbt_schema_builder_spark.sources.io import zorder_layout_report

    ev1 = read_table(spark, f"{SF_DIR}/events.parquet")
    ev10 = stage_events_10x()
    ev_ops = {
        "funnel": lambda ev: timeseries.funnel(ev),
        "interval_coverage": lambda ev: temporal.interval_coverage(ev),
        "rolling_active_users": lambda ev: timeseries.rolling_active_users(ev),
        "gapfill_interpolate": lambda ev: timeseries.gapfill_interpolate(ev),
        "transition_matrix": lambda ev: timeseries.transition_matrix(ev),
        "conversion_latency": lambda ev: timeseries.conversion_latency(ev),
        "cumulative_users": lambda ev: timeseries.cumulative_users(ev),
        "scd2_history": lambda ev: temporal.scd2_history(ev),
        # round-6: the z-order layout's one non-distributed stage is the
        # cum-count window over the DISTINCT z values, so key
        # cardinality (which the replica multiplies) is its stress axis;
        # it writes the clustered copy and reports from the footers
        "zorder_layout_report(bits=4,files=8)": lambda ev: zorder_layout_report(
            spark, ev, ["user_id", "event_id"], f"{STAGE}/zorder_layout",
            bits=4, n_files=8,
        ),
    }
    # round-5 event-table ops: one-shuffle aggregates + join-backs —
    # the 10x key-cardinality replica must hold them ~linear
    from dbt_schema_builder_spark.operators import profiling as _prof
    from dbt_schema_builder_spark.operators import skew as _skew

    ev_ops["value_histogram"] = lambda ev: _prof.value_histogram(ev)
    ev_ops["sigma_outliers"] = lambda ev: _prof.sigma_outliers(ev)
    ev_ops["skew_report"] = lambda ev: _skew.skew_report(
        ev, key="event_type"
    )
    for name, fn in ev_ops.items():
        if _want(name):
            record(name, lambda fn=fn: fn(ev1), lambda fn=fn: fn(ev10))

    # the harness's own inputs are local checkpoints, which the cache
    # release between runs leaves in place
    rep = spark.range(FACTOR).select(F.col("id").alias("rep"))
    if _want("pagerank"):
        # pagerank: replicate the edge list into 10 disjoint copies (same
        # topology per copy, 10x nodes+edges — per-iteration joins must
        # be linear)
        from dbt_schema_builder_spark.operators import graph as graph_ops

        orders = read_table(spark, f"{SF_DIR}/orders.parquet")
        li = read_table(spark, f"{SF_DIR}/lineitem.parquet")
        e1 = graph_ops.bipartite_edges(orders, li).localCheckpoint(eager=True)
        e10 = (
            e1.crossJoin(rep)
            .select(
                (F.col("src") * 256 + F.col("rep")).alias("src"),
                (F.col("dst") * 256 + F.col("rep")).alias("dst"),
            )
            .localCheckpoint(eager=True)
        )
        record(
            "pagerank_topk(it=3)",
            lambda: graph_ops.pagerank_topk(e1, iterations=3, k=50),
            lambda: graph_ops.pagerank_topk(e10, iterations=3, k=50),
        )

    if _want("fuzzy"):
        # fuzzy matching: replicate parts 10x with the SAME names — the
        # signature table is unchanged, so the levenshtein join must be
        # volume-immune (only the distinct aggregate sees more rows)
        from dbt_schema_builder_spark.operators import relational as rel

        part1 = read_table(spark, f"{SF_DIR}/part.parquet")
        part10 = (
            part1.crossJoin(rep)
            .select(
                (F.col("p_partkey") * FACTOR + F.col("rep")).alias("p_partkey"),
                "p_name",
            )
            .localCheckpoint(eager=True)
        )
        record(
            "fuzzy_match_names",
            lambda: rel.fuzzy_match_names(part1),
            lambda: rel.fuzzy_match_names(part10),
        )


_run_events_ops()
print(json.dumps(table))
