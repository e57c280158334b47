"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <median pipeline sec>, "unit": "sec",
   "queries": {name: median_sec, ...}, "runs": {name: [raw..]}, "sf": ...,
   plus context keys}. Every query is the MEDIAN of >=3 runs (raw runs kept)
so driver-round comparisons don't reflect single-run neighbor noise.

The headline metric is the end-to-end parse→enrich→route→aggregate pipeline
(noop sink — measures compute, not local-disk writeback).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from lumbermill_spark import aggregate, classify, datagen, parse, pipeline, session
    from lumbermill_spark.extras import dedup, similarity, textstats

    sf = datagen.sf_from_dir(sf_dir)
    tpath = datagen.ensure_transcripts(sf)
    spark = session.get_spark("lumbermill-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    n_turns = spark.read.parquet(tpath).count()
    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}

    def timed(name, fn, runs=3):
        # MEDIAN of >=3 runs, raw runs kept in the JSON: single unpinned runs
        # on a shared host whipsawed round-over-round comparisons by +-35%
        # (round-3 verdict, wrong #2 / next #5)
        ts = []
        for _ in range(runs):
            t0 = time.time()
            fn()
            ts.append(round(time.time() - t0, 3))
        ts.sort()
        raw_runs[name] = ts
        timings[name] = ts[len(ts) // 2] if runs % 2 else round(sum(ts[len(ts) // 2 - 1 : len(ts) // 2 + 1]) / 2, 3)
        return timings[name]

    def run_pipeline():
        cfg = pipeline.PipelineConfig(sink_format="noop", write_metrics=False)
        return pipeline.run(spark, tpath, "/tmp/lm_bench_noop", cfg)

    # two JIT/codegen/python-worker warmup passes, then measured runs — one
    # is not enough when datagen just ran in-process (the first post-warmup
    # run still carries ~1.5x residue; same lesson as the scaling protocol)
    run_pipeline()
    run_pipeline()
    # the headline's runs are SPREAD across the whole bench (start / middle /
    # end) instead of back-to-back: host-noise phases are time-correlated
    # (minutes long), so three adjacent runs can all land in one — a spread
    # median survives any single noisy phase (round-5 lesson: an in-bench
    # 7.5 s headline vs 2.5 s dedicated, same code, minutes apart)
    headline_runs: list[float] = []

    def headline_once():
        t0 = time.time()
        run_pipeline()
        headline_runs.append(round(time.time() - t0, 3))

    headline_once()

    phase_timings: dict[str, float] = {}

    def run_full_sink():
        import shutil
        import tempfile

        out = tempfile.mkdtemp(prefix="lm_bench_full_")
        try:
            res = pipeline.run(spark, tpath, out, pipeline.PipelineConfig())
            for k, v in res.timings.items():
                phase_timings[k] = min(v, phase_timings.get(k, v))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    timed("pipeline_parquet_sink", run_full_sink)

    df = spark.read.parquet(tpath)

    def agg_counts():
        p = parse.with_parsed(classify.classify(df))
        aggregate.class_counts(p, p).collect()

    timed("class_counts", agg_counts)

    def rollup():
        p = parse.with_parsed(classify.classify(df))
        aggregate.router_rollup(parse.sink_router(p)).write.format("noop").mode("overwrite").save()

    timed("router_rollup", rollup)

    def noopw(df):
        df.write.format("noop").mode("overwrite").save()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embeds = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    headline_once()  # spread sample 2 (see above)
    timed("dedup_exact", lambda: noopw(dedup.exact_dedup(dedup.augmented_docs(docs))))
    timed("dedup_minhash_lsh", lambda: (noopw(dedup.minhash_lsh_pairs(dedup.augmented_docs(docs))), spark.catalog.clearCache()))
    timed("dedup_simhash", lambda: (noopw(dedup.simhash_pairs(dedup.augmented_docs(docs))), spark.catalog.clearCache()))
    timed("dedup_ngram_jaccard", lambda: (noopw(dedup.ngram_jaccard_pairs(dedup.augmented_docs(docs))), spark.catalog.clearCache()))
    timed("sim_topk_bruteforce", lambda: noopw(similarity.topk_bruteforce(embeds)))
    timed("dedup_semdedup", lambda: noopw(dedup.semdedup(embeds)))
    pq_books = spark.read.parquet(similarity.ensure_pq_codebooks(sf_dir)).select("m", "cid", "cv")
    timed("sim_pq_topk", lambda: noopw(similarity.topk_pq(embeds, pq_books)))
    ivfpq_cents = spark.read.parquet(similarity.ensure_trained_centroids(sf_dir)).select("cid", "cv")
    ivfpq_books = spark.read.parquet(similarity.ensure_pq_residual_codebooks(sf_dir)).select("m", "cid", "cv")
    timed("sim_ivfpq_topk", lambda: noopw(similarity.topk_ivfpq(embeds, ivfpq_cents, ivfpq_books)))
    timed("text_quality", lambda: noopw(textstats.with_quality(docs)))
    timed("text_repetition", lambda: noopw(textstats.with_repetition(docs)))
    timed("text_gopher", lambda: noopw(textstats.gopher_rules(textstats.augment_gopher(docs))))
    timed("text_c4", lambda: noopw(textstats.c4_clean(textstats.augment_c4(docs))))
    timed("text_redact_pii", lambda: noopw(textstats.redact_pii(textstats.augment_pii(docs))))
    timed("corpus_mixture", lambda: noopw(textstats.mixture_sample(docs)))
    timed("corpus_temperature", lambda: noopw(textstats.temperature_sample(docs)))
    timed("text_line_dedup", lambda: noopw(textstats.remove_frequent_lines(textstats.augment_lines(docs))))
    timed("text_unigram_logprob", lambda: noopw(textstats.unigram_logprob(docs, vocab_k=16)))

    def _inc():
        aug = dedup.augmented_docs(docs)
        from pyspark.sql import functions as FF
        batch = aug.filter(FF.col("doc_id") % dedup.INC_INDEX_MOD != 0)
        index = aug.filter(FF.col("doc_id") % dedup.INC_INDEX_MOD == 0).select(
            textstats.fingerprint(FF.col("text")).alias("fingerprint")
        )
        noopw(dedup.incremental_dedup(batch, index))

    timed("dedup_incremental", _inc)
    timed("dedup_substring", lambda: noopw(dedup.duplicate_spans(textstats.augment_lines(docs))))
    timed("dedup_substring_removal", lambda: noopw(dedup.remove_duplicate_spans(textstats.augment_lines(docs))))
    timed("text_pack_shards", lambda: noopw(textstats.pack_shards(docs)))
    timed("text_decontaminate", lambda: noopw(textstats.decontaminate(docs)))
    timed("corpus_canonical", lambda: (noopw(dedup.canonical_selection(dedup.augmented_docs(docs))), spark.catalog.clearCache()))
    timed("corpus_split", lambda: noopw(textstats.corpus_split(docs)))
    timed("corpus_stats", lambda: noopw(textstats.corpus_stats(docs)))
    timed("text_pack_shuffled", lambda: noopw(textstats.pack_shards_shuffled(docs)))
    timed("text_pack_sequences", lambda: noopw(textstats.pack_sequences(docs)))
    timed("corpus_take_stratified", lambda: noopw(textstats.take_per_stratum(docs)))
    timed("dedup_normalized", lambda: noopw(dedup.normalized_dedup(dedup.augmented_variants(docs))))
    timed("text_chunk_sliding", lambda: noopw(textstats.chunk_sliding(docs)))
    timed("text_bigram_logprob", lambda: noopw(textstats.bigram_logprob(docs, vocab_k=16)))
    timed("text_trigram_logprob", lambda: noopw(textstats.trigram_logprob(docs, vocab_k=30)))
    timed("text_blocklist", lambda: noopw(textstats.blocklist_filter(textstats.augment_urls(docs))))
    timed("corpus_curate", lambda: noopw(textstats.corpus_curate(docs)))
    timed("corpus_prepare", lambda: noopw(textstats.corpus_prepare(docs)))

    from lumbermill_spark.extras import convcorpus
    timed("conv_render", lambda: noopw(convcorpus.render_conversations(df)))
    timed("conv_stats", lambda: noopw(convcorpus.conv_stats(df)))
    timed("conv_boilerplate", lambda: noopw(convcorpus.boilerplate_turns(df)))
    timed("conv_curate", lambda: noopw(convcorpus.curate_conversations(df)))
    timed("conv_pack", lambda: noopw(convcorpus.pack_conversations(df)))
    timed("conv_prepare", lambda: noopw(convcorpus.prepare_conversations(df)))
    timed("conv_loss_mask", lambda: noopw(convcorpus.loss_mask_spans(df)))
    timed("conv_truncate", lambda: noopw(convcorpus.truncate_to_budget(df)))
    timed("conv_turn_taking", lambda: noopw(convcorpus.turn_taking(df)))
    timed("conv_tool_flow", lambda: noopw(convcorpus.tool_flow(df)))
    timed("conv_near_dup", lambda: noopw(convcorpus.near_dup_conversations(df)))
    timed("conv_sessions", lambda: noopw(convcorpus.session_split(df)))
    timed("conv_render_sessions", lambda: noopw(convcorpus.render_sessions(df)))
    timed("conv_pack_sessions", lambda: noopw(convcorpus.pack_sessions(df)))
    timed("conv_tool_pagerank", lambda: noopw(convcorpus.tool_pagerank(df)))
    timed("text_vocab_topk", lambda: noopw(textstats.vocab_topk(docs)))
    pca_model = spark.read.parquet(similarity.ensure_pca_model(sf_dir))
    timed("sim_pca_project", lambda: noopw(similarity.project_pca(embeds, pca_model)))
    timed("corpus_datacard", lambda: noopw(textstats.corpus_datacard(dedup.augmented_docs(docs))))
    timed("text_memorization", lambda: noopw(textstats.memorization_scan(dedup.augmented_docs(docs), weights=(0.8, 0.1, 0.1))))
    from lumbermill_spark.extras import sketch
    timed("text_cms_topk", lambda: noopw(sketch.cms_topk(docs)))
    timed("text_hll_distinct", lambda: noopw(sketch.hll_distinct(docs)))
    timed("corpus_zipf", lambda: noopw(textstats.zipf_fit(docs)))
    timed("corpus_len_histogram", lambda: noopw(textstats.length_histogram(docs)))
    timed("text_tfidf_topk", lambda: noopw(textstats.tfidf_keywords(docs)))
    timed("text_pmi_topk", lambda: noopw(textstats.pmi_collocations(docs)))
    timed("corpus_weighted_sample", lambda: noopw(textstats.weighted_sample(docs)))
    timed("text_kn_logprob", lambda: noopw(textstats.kn_logprob(docs, vocab_k=16)))
    timed("text_langid_confusion", lambda: noopw(textstats.langid_confusion(docs)))
    # tokenizer training is the one iterative op: 8 driver-coordinated
    # rounds — a single run is representative (each round is itself many
    # tasks), three would dominate the bench wall
    timed("text_bpe_merges", lambda: textstats.bpe_merges(docs).collect(), runs=1)

    from lumbermill_spark import frames as frames_mod

    raw_p = datagen.ensure_raw_bodies(sf)
    timed(
        "frames_scan",
        lambda: noopw(
            frames_mod.replay_class_counts(
                frames_mod.scan_frames(spark.read.parquet(raw_p))
            )
        ),
    )

    # sf1 (20M turns) noop: at the driver's sf0.1 the 32-core run is
    # fixed-cost-dominated (~1.8 s of scheduling/planning floor on 2M rows),
    # so parser/shuffle improvements are invisible in the headline; one
    # amortized measurement records where the throughput actually is. Skipped
    # when the bench SF is already ≥ 1 and capped to two runs (best-of).
    sf1_block = {}
    if sf < 1.0:
        tpath_sf1 = datagen.ensure_transcripts(1.0)
        cfg1 = pipeline.PipelineConfig(sink_format="noop", write_metrics=False)
        holder = {}

        def run_sf1():
            holder["r"] = pipeline.run(spark, tpath_sf1, "/tmp/lm_bench_noop_sf1", cfg1)

        med = timed("pipeline_noop_pandas_sf1", run_sf1)
        r1 = holder["r"]
        sf1_block = {"sf1_turns": r1.rows_in, "sf1_turns_per_sec": round(r1.rows_in / med, 1)}

    headline_once()  # spread sample 3
    headline_runs.sort()
    raw_runs["pipeline_noop_pandas"] = headline_runs
    timings["pipeline_noop_pandas"] = headline_runs[len(headline_runs) // 2]

    total = timings["pipeline_noop_pandas"]
    out = {
        **sf1_block,
        "metric": "end_to_end_parse_route_aggregate_pipeline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": raw_runs,
        "sink_phases": phase_timings,
        "sf": sf,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / total, 1) if total else None,
        "cpus": cpus,
        "parser": "pandas_udf(default)",
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
