"""Extra measurement harness for optimization work (guide §1.4): times any
subset of the bench queries in isolation with the noop sink, and captures
`.explain("formatted")` plans to plans/r06/.

NOT the driver's bench — bench.py stays frozen. Usage:

  python bench_extra.py [--sf-dir DIR] [--runs N] [--plans] [--tag TAG] q1 q2 ...
  python bench_extra.py --list

Prints one JSON line {"queries": {name: [runs...]}, "sf": ..., "tag": ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_registry(spark, sf_dir, sf):
    """name -> zero-arg fn returning the DataFrame to noop-write (or a
    callable tagged .action for queries that collect)."""
    from pyspark.sql import functions as FF

    from lumbermill_spark import aggregate, classify, datagen, frames as frames_mod, parse, pipeline
    from lumbermill_spark.extras import convcorpus, dedup, similarity, sketch, textstats

    tpath = datagen.ensure_transcripts(sf)
    df = spark.read.parquet(tpath)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embeds = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    reg = {}

    def q(name, fn):
        reg[name] = fn

    def _inc():
        aug = dedup.augmented_docs(docs)
        batch = aug.filter(FF.col("doc_id") % dedup.INC_INDEX_MOD != 0)
        index = aug.filter(FF.col("doc_id") % dedup.INC_INDEX_MOD == 0).select(
            textstats.fingerprint(FF.col("text")).alias("fingerprint")
        )
        return dedup.incremental_dedup(batch, index)

    q("pipeline_noop_pandas", lambda: pipeline.run(
        spark, tpath, "/tmp/lm_bx_noop",
        pipeline.PipelineConfig(sink_format="noop", write_metrics=False)))

    def run_full_sink():
        import shutil
        import tempfile
        out = tempfile.mkdtemp(prefix="lm_bx_full_")
        try:
            pipeline.run(spark, tpath, out, pipeline.PipelineConfig())
        finally:
            shutil.rmtree(out, ignore_errors=True)

    q("pipeline_parquet_sink", run_full_sink)

    def agg_counts():
        p = parse.with_parsed(classify.classify(df))
        aggregate.class_counts(p, p).collect()

    q("class_counts", agg_counts)
    q("router_rollup", lambda: aggregate.router_rollup(
        parse.sink_router(parse.with_parsed(classify.classify(df)))))

    q("dedup_exact", lambda: dedup.exact_dedup(dedup.augmented_docs(docs)))
    q("dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(dedup.augmented_docs(docs)))
    q("dedup_simhash", lambda: dedup.simhash_pairs(dedup.augmented_docs(docs)))
    q("dedup_ngram_jaccard", lambda: dedup.ngram_jaccard_pairs(dedup.augmented_docs(docs)))
    q("sim_topk_bruteforce", lambda: similarity.topk_bruteforce(embeds))
    q("dedup_semdedup", lambda: dedup.semdedup(embeds))
    q("sim_pq_topk", lambda: similarity.topk_pq(
        embeds, spark.read.parquet(similarity.ensure_pq_codebooks(sf_dir)).select("m", "cid", "cv")))
    q("sim_ivfpq_topk", lambda: similarity.topk_ivfpq(
        embeds,
        spark.read.parquet(similarity.ensure_trained_centroids(sf_dir)).select("cid", "cv"),
        spark.read.parquet(similarity.ensure_pq_residual_codebooks(sf_dir)).select("m", "cid", "cv")))
    q("text_quality", lambda: textstats.with_quality(docs))
    q("text_repetition", lambda: textstats.with_repetition(docs))
    q("text_gopher", lambda: textstats.gopher_rules(textstats.augment_gopher(docs)))
    q("text_c4", lambda: textstats.c4_clean(textstats.augment_c4(docs)))
    q("text_redact_pii", lambda: textstats.redact_pii(textstats.augment_pii(docs)))
    q("corpus_mixture", lambda: textstats.mixture_sample(docs))
    q("corpus_temperature", lambda: textstats.temperature_sample(docs))
    q("text_line_dedup", lambda: textstats.remove_frequent_lines(textstats.augment_lines(docs)))
    q("text_unigram_logprob", lambda: textstats.unigram_logprob(docs, vocab_k=16))
    q("dedup_incremental", _inc)
    q("dedup_substring", lambda: dedup.duplicate_spans(textstats.augment_lines(docs)))
    q("dedup_substring_removal", lambda: dedup.remove_duplicate_spans(textstats.augment_lines(docs)))
    q("text_pack_shards", lambda: textstats.pack_shards(docs))
    q("text_decontaminate", lambda: textstats.decontaminate(docs))
    q("corpus_canonical", lambda: dedup.canonical_selection(dedup.augmented_docs(docs)))
    q("corpus_split", lambda: textstats.corpus_split(docs))
    q("corpus_stats", lambda: textstats.corpus_stats(docs))
    q("text_pack_shuffled", lambda: textstats.pack_shards_shuffled(docs))
    q("text_pack_sequences", lambda: textstats.pack_sequences(docs))
    q("corpus_take_stratified", lambda: textstats.take_per_stratum(docs))
    q("dedup_normalized", lambda: dedup.normalized_dedup(dedup.augmented_variants(docs)))
    q("text_chunk_sliding", lambda: textstats.chunk_sliding(docs))
    q("text_bigram_logprob", lambda: textstats.bigram_logprob(docs, vocab_k=16))
    q("text_trigram_logprob", lambda: textstats.trigram_logprob(docs, vocab_k=30))
    q("text_blocklist", lambda: textstats.blocklist_filter(textstats.augment_urls(docs)))
    q("corpus_curate", lambda: textstats.corpus_curate(docs))
    q("corpus_prepare", lambda: textstats.corpus_prepare(docs))
    q("conv_render", lambda: convcorpus.render_conversations(df))
    q("conv_stats", lambda: convcorpus.conv_stats(df))
    q("conv_boilerplate", lambda: convcorpus.boilerplate_turns(df))
    q("conv_curate", lambda: convcorpus.curate_conversations(df))
    q("conv_pack", lambda: convcorpus.pack_conversations(df))
    q("conv_prepare", lambda: convcorpus.prepare_conversations(df))
    q("conv_loss_mask", lambda: convcorpus.loss_mask_spans(df))
    q("conv_truncate", lambda: convcorpus.truncate_to_budget(df))
    q("conv_turn_taking", lambda: convcorpus.turn_taking(df))
    q("conv_tool_flow", lambda: convcorpus.tool_flow(df))
    q("conv_near_dup", lambda: convcorpus.near_dup_conversations(df))
    q("conv_sessions", lambda: convcorpus.session_split(df))
    q("conv_render_sessions", lambda: convcorpus.render_sessions(df))
    q("conv_pack_sessions", lambda: convcorpus.pack_sessions(df))
    q("conv_tool_pagerank", lambda: convcorpus.tool_pagerank(df))
    q("text_vocab_topk", lambda: textstats.vocab_topk(docs))
    q("sim_pca_project", lambda: similarity.project_pca(
        embeds, spark.read.parquet(similarity.ensure_pca_model(sf_dir))))
    q("corpus_datacard", lambda: textstats.corpus_datacard(dedup.augmented_docs(docs)))
    q("text_memorization", lambda: textstats.memorization_scan(
        dedup.augmented_docs(docs), weights=(0.8, 0.1, 0.1)))
    q("text_cms_topk", lambda: sketch.cms_topk(docs))
    q("text_hll_distinct", lambda: sketch.hll_distinct(docs))
    q("corpus_zipf", lambda: textstats.zipf_fit(docs))
    q("corpus_len_histogram", lambda: textstats.length_histogram(docs))
    q("text_tfidf_topk", lambda: textstats.tfidf_keywords(docs))
    q("text_pmi_topk", lambda: textstats.pmi_collocations(docs))
    q("corpus_weighted_sample", lambda: textstats.weighted_sample(docs))
    q("text_kn_logprob", lambda: textstats.kn_logprob(docs, vocab_k=16))
    q("text_langid_confusion", lambda: textstats.langid_confusion(docs))
    q("text_bpe_merges", lambda: textstats.bpe_merges(docs).collect())
    q("frames_scan", lambda: frames_mod.replay_class_counts(
        frames_mod.scan_frames(spark.read.parquet(datagen.ensure_raw_bodies(sf)))))
    return reg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--plans", action="store_true", help="write explain(formatted) to plans/r06/<name>_<tag>.txt")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import DataFrame

    from lumbermill_spark import datagen, session

    sf = datagen.sf_from_dir(args.sf_dir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = session.get_spark("lumbermill-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    reg = build_registry(spark, args.sf_dir, sf)
    if args.list:
        print("\n".join(reg))
        return
    names = args.names or list(reg)
    out: dict[str, list[float]] = {}
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    for name in names:
        fn = reg[name]
        spark.sparkContext.setJobDescription(name)

        def execute():
            r = fn()
            if isinstance(r, DataFrame):
                r.write.format("noop").mode("overwrite").save()

        if args.plans:
            r = fn()
            if isinstance(r, DataFrame):
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    fh.write(r._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        for _ in range(args.warmup):
            execute()
        ts = []
        for _ in range(args.runs):
            t0 = time.time()
            execute()
            ts.append(round(time.time() - t0, 3))
        out[name] = ts
        print(f"# {name}: {ts}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out, "sf": sf, "cpus": cpus, "tag": args.tag}))


if __name__ == "__main__":
    main()
