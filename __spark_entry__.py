"""Driver contract for the spark-graft builder (PySpark target).

Spark side: lumbermill_spark (see SURVEY.md §7 architecture). Oracle side:
independent DuckDB SQL implementations of the same drain.go semantics
(lumbermill_spark/oracle_sql.py), sharing only the regex constants.

The lumbermill pipeline queries run over a deterministic synthetic transcripts
table (BASELINE.json input_hint shape) generated per-sf by
lumbermill_spark/datagen.py and cached under .data/ — both the Spark callable
and the oracle SQL read the SAME parquet file, so generation determinism is
not part of the comparison. Training-data queries (dedup_*, sim_*, text_*,
mm_*) run over the driver's documents/embeddings tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_ORACLE_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale
DATACARD_GATE_WEIGHTS = (0.8, 0.1, 0.1)  # flatter than prod so leakage fires


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lumbermill_spark import datagen

    return spark.read.parquet(datagen.ensure_transcripts(datagen.sf_from_dir(sf_dir)))


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lumbermill_spark import classify, parse

    return parse.with_parsed(classify.classify(_transcripts(spark, sf_dir)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full classify→parse→aggregate over sf0.001 transcripts —
    the per-class counter table that is lumbermill's aggregate contract
    (drain.go:27-47)."""
    from lumbermill_spark import aggregate

    p = _parsed(spark, "/root/testdata/sf0.001")
    return aggregate.class_counts(p, p)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_class_counts(spark, sf_dir):
    from lumbermill_spark import aggregate

    p = _parsed(spark, sf_dir)
    return aggregate.class_counts(p, p)


def _sink_query(name):
    def q(spark, sf_dir):
        from lumbermill_spark import parse

        return parse.SINK_BUILDERS[name](_parsed(spark, sf_dir))

    return q


def _q_router_error_codes(spark, sf_dir):
    from lumbermill_spark import aggregate

    return aggregate.router_error_code_counts(_parsed(spark, sf_dir))


def _q_router_rollup(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    return aggregate.router_rollup(parse.sink_router(_parsed(spark, sf_dir)))


def _q_enrich_counts(spark, sf_dir):
    from lumbermill_spark import classify, enrich

    df = classify.classify(_transcripts(spark, sf_dir))
    out = enrich.enrich(df, enrich.load_dims(spark))
    return out.groupBy("tool_kind", "role_class", "msg_class").agg(F.count("*").alias("n"))


def _q_route_buckets(spark, sf_dir):
    from lumbermill_spark import classify, route

    df = classify.classify(_transcripts(spark, sf_dir))
    return (
        df.filter(F.col("msg_class") != "token_missing")
        .groupBy("token")
        .agg(F.count("*").alias("_cnt"))
        .select("token", route.bucket_expr(F.col("token"), 16).alias("bucket"))
    )


def _q_sink_freshness(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    return aggregate.sink_freshness(parse.sink_router(_parsed(spark, sf_dir)))


def _q_turn_ordering(spark, sf_dir):
    from pyspark.sql import Window

    df = _transcripts(spark, sf_dir).filter(F.col("conv_id").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.select(
        "conv_id",
        "turn_idx",
        "text",
        F.lag("role").over(w).alias("prev_role"),
        F.row_number().over(w).alias("turn_seq"),
    )


def _q_lineage_counts(spark, sf_dir):
    """Per-source-file rows-in-per-class lineage frame (basename-keyed so the
    DuckDB oracle's filename column compares equal)."""
    from lumbermill_spark import classify, datagen

    tp = datagen.ensure_transcripts(datagen.sf_from_dir(sf_dir))
    df = spark.read.parquet(tp).withColumn(
        "source_file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    )
    return classify.classify(df).groupBy("source_file", "msg_class").agg(F.count("*").alias("rows"))


def _q_frames_replay(spark, sf_dir):
    from lumbermill_spark import datagen, frames

    fp = datagen.ensure_frames(datagen.sf_from_dir(sf_dir))
    return frames.replay_class_counts(frames.split_frames(spark.read.parquet(fp)))


def _q_sessions(spark, sf_dir):
    from lumbermill_spark import sessions

    return sessions.sessionize(_transcripts(spark, sf_dir))


def _q_rollup_windowed(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    return aggregate.router_rollup_windowed(parse.sink_router(_parsed(spark, sf_dir)))


def _q_dyno_rollup(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    return aggregate.dyno_type_rollup(parse.sink_dyno_load(_parsed(spark, sf_dir)))


def _q_top_tokens(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    return aggregate.top_tokens(parse.sink_router(_parsed(spark, sf_dir)))


def _q_dedup_clusters(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.dedup_clusters(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_corpus_canonical(spark, sf_dir):
    """Keep/drop curation plan: one surviving exemplar per near-dup cluster
    (highest quality, doc_id tiebreak), dropped members pointing at it."""
    from lumbermill_spark.extras import dedup

    return dedup.canonical_selection(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_stale_tokens(spark, sf_dir):
    from lumbermill_spark import aggregate, parse

    p = _parsed(spark, sf_dir)
    return aggregate.stale_tokens(parse.sink_dyno_load(p), parse.sink_dyno_mem(p))


def _q_delivery_sizes(spark, sf_dir):
    from lumbermill_spark import aggregate

    return aggregate.delivery_size_rollup(_parsed(spark, sf_dir))


def _q_batch_sizes(spark, sf_dir):
    from lumbermill_spark import aggregate, datagen, frames

    fp = datagen.ensure_frames(datagen.sf_from_dir(sf_dir))
    return aggregate.batch_size_rollup(frames.split_frames(spark.read.parquet(fp)))


def _q_frames_scan(spark, sf_dir):
    """TRUE lpx byte scan over concatenated drain bodies (lpx/reader.go
    octet counting); verified against the SAME DuckDB oracle as the
    one-frame-per-row replay — the two ingestion paths must agree."""
    from lumbermill_spark import datagen, frames

    rp = datagen.ensure_raw_bodies(datagen.sf_from_dir(sf_dir))
    return frames.replay_class_counts(frames.scan_frames(spark.read.parquet(rp)))


# ---------------------------------------------------------------------------
# training-data extras (documents / embeddings tables from sf_dir)
# ---------------------------------------------------------------------------


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeds(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_dedup_exact(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.exact_dedup(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_dedup_ngram(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.ngram_jaccard_pairs(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_dedup_minhash(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.minhash_lsh_pairs(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_dedup_simhash(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.simhash_pairs(dedup.augmented_docs(_docs(spark, sf_dir)))


def _q_dedup_embed_cosine(spark, sf_dir):
    from lumbermill_spark.extras import dedup

    return dedup.embedding_cosine_pairs(_embeds(spark, sf_dir))


def _q_dedup_semdedup(spark, sf_dir):
    """SemDeDup cluster-pruning (Abbas et al. 2023): keep/drop plan from
    within-cell cosine to earlier-ordered members."""
    from lumbermill_spark.extras import dedup

    return dedup.semdedup(_embeds(spark, sf_dir))


def _q_sim_topk(spark, sf_dir):
    from lumbermill_spark.extras import similarity

    return similarity.topk_bruteforce(_embeds(spark, sf_dir))


def _q_sim_lsh_topk(spark, sf_dir):
    from lumbermill_spark.extras import similarity

    return similarity.topk_lsh(_embeds(spark, sf_dir))


def _q_sim_ivf_topk(spark, sf_dir):
    from lumbermill_spark.extras import similarity

    return similarity.topk_ivf(_embeds(spark, sf_dir))


def _q_sim_pca_project(spark, sf_dir):
    """PCA dimensionality reduction from the persisted offline-trained
    model (mean + top-8 components): every embedding projected relationally
    via broadcast, zero shuffle; train→persist→project all under the
    value-exact gate."""
    from lumbermill_spark.extras import similarity

    model = spark.read.parquet(similarity.ensure_pca_model(sf_dir))
    return similarity.project_pca(_embeds(spark, sf_dir), model)


def _q_sim_ivf_cells(spark, sf_dir):
    """Quantizer-balance diagnostic: occupancy per trained IVF cell under
    nearest-1 assignment — the shuffle-skew early warning."""
    from lumbermill_spark.extras import similarity

    cents = spark.read.parquet(similarity.ensure_trained_centroids(sf_dir)).select("cid", "cv")
    return similarity.ivf_cell_stats(_embeds(spark, sf_dir), cents)


def _q_sim_ivf_trained(spark, sf_dir):
    """IVF ANN against the PERSISTED trained quantizer (offline spherical
    k-means, seeded): the artifact parquet is the contract both this query
    and the DuckDB oracle read, putting the production trained-quantizer
    path under the value-exact gate."""
    from lumbermill_spark.extras import similarity

    path = similarity.ensure_trained_centroids(sf_dir)
    cents = spark.read.parquet(path).select("cid", "cv")
    return similarity.topk_ivf(_embeds(spark, sf_dir), centroids=cents)


def _q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011) from the persisted
    offline-trained codebooks: encode + ADC LUT scan + top-k, all under the
    value-exact gate via the shared parquet artifact."""
    from lumbermill_spark.extras import similarity

    path = similarity.ensure_pq_codebooks(sf_dir)
    books = spark.read.parquet(path).select("m", "cid", "cv")
    return similarity.topk_pq(_embeds(spark, sf_dir), books)


def _q_sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ residual ANN (the FAISS IVFx,PQy layout): trained coarse
    quantizer + offline residual codebooks, both persisted artifacts under
    the value-exact gate."""
    from lumbermill_spark.extras import similarity

    cents = spark.read.parquet(similarity.ensure_trained_centroids(sf_dir)).select("cid", "cv")
    books = spark.read.parquet(similarity.ensure_pq_residual_codebooks(sf_dir)).select(
        "m", "cid", "cv"
    )
    return similarity.topk_ivfpq(_embeds(spark, sf_dir), cents, books)


def _q_text_tokens(spark, sf_dir):
    from lumbermill_spark.extras import textstats

    return textstats.with_token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


def _q_text_quality(spark, sf_dir):
    from lumbermill_spark.extras import textstats

    return textstats.with_quality(_docs(spark, sf_dir)).select(
        "doc_id", "alpha_ratio", "punct_ratio", "stopword_frac", "quality_score"
    )


def _q_text_langid(spark, sf_dir):
    from lumbermill_spark.extras import textstats

    df = textstats.with_langid(_docs(spark, sf_dir))
    return df.select("doc_id", *["score_" + lg for lg in textstats.LANG_ORDER], "pred_lang")


def _q_text_pack_shards(spark, sf_dir):
    """Token-budget shard packing (sequence packing) via the two-level
    distributed prefix sum — must equal the oracle's naive global scan."""
    from lumbermill_spark.extras import textstats

    return textstats.pack_shards(_docs(spark, sf_dir))


def _q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing >= threshold
    distinct 5-token shingles with the (synthetic) benchmark split."""
    from lumbermill_spark.extras import textstats

    return textstats.decontaminate(_docs(spark, sf_dir))


def _q_text_fingerprint(spark, sf_dir):
    from lumbermill_spark.extras import textstats

    d = _docs(spark, sf_dir)
    return d.select("doc_id", textstats.fingerprint(F.col("text")).alias("fingerprint"))


def _q_text_sample(spark, sf_dir):
    from lumbermill_spark.extras import textstats

    return textstats.sampled_lang_counts(_docs(spark, sf_dir))


def _q_text_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition signals + keep rule — a pure
    no-shuffle projection (plan-pinned)."""
    from lumbermill_spark.extras import textstats

    return textstats.with_repetition(_docs(spark, sf_dir)).select(
        "doc_id", "dup_word_frac", "dup_2gram_frac", "dup_3gram_frac",
        "top_word_frac", "rep_keep",
    )


def _q_text_redact_pii(spark, sf_dir):
    """PII scrub (emails/IPv4s/phones) over the deterministically augmented
    documents — counts + redacted text, value-verified against DuckDB."""
    from lumbermill_spark.extras import textstats

    return textstats.redact_pii(textstats.augment_pii(_docs(spark, sf_dir)))


def _q_corpus_mixture(spark, sf_dir):
    """Deterministic stratified downsampling to the default language
    mixture — the exact kept set is the contract (md5 cutoff per stratum)."""
    from lumbermill_spark.extras import textstats

    return textstats.mixture_sample(_docs(spark, sf_dir))


def _q_dedup_substring(spark, sf_dir):
    """Cross-document duplicated-span detection (ExactSubstr re-expressed
    as distributed shingle-merge) over the line-augmented docs, where the
    shared boilerplate lines are real ≥K-token cross-doc runs."""
    from lumbermill_spark.extras import dedup, textstats

    return dedup.duplicate_spans(textstats.augment_lines(_docs(spark, sf_dir)))


def _q_dedup_substring_removal(spark, sf_dir):
    """ExactSubstr removal: duplicated spans cut out of every doc, clean
    text rebuilt natively (higher-order filter/exists, no Python)."""
    from lumbermill_spark.extras import dedup, textstats

    return dedup.remove_duplicate_spans(textstats.augment_lines(_docs(spark, sf_dir)))


def _q_corpus_prepare(spark, sf_dir):
    """One-call corpus preparation: curation signals + verdict, normalized
    canonicality, split assignment — one scan, one shuffle."""
    from lumbermill_spark.extras import textstats

    return textstats.corpus_prepare(_docs(spark, sf_dir))


def _q_corpus_temperature(spark, sf_dir):
    """Exponent-α temperature rebalance (q_s ∝ n_s^α): keep fractions
    derived from observed stratum counts, md5 cutoff membership."""
    from lumbermill_spark.extras import textstats

    return textstats.temperature_sample(_docs(spark, sf_dir))


def _q_dedup_incremental(spark, sf_dir):
    """Cross-run exact dedup: the augmented docs split into a prior-corpus
    fingerprint index (doc_id % INC_INDEX_MOD == 0) and a new batch; every
    batch row flagged dup_of_index / dup_in_batch / keep."""
    from pyspark.sql import functions as F

    from lumbermill_spark.extras import dedup, textstats

    aug = dedup.augmented_docs(_docs(spark, sf_dir))
    batch = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD != 0)
    index = aug.filter(F.col("doc_id") % dedup.INC_INDEX_MOD == 0).select(
        textstats.fingerprint(F.col("text")).alias("fingerprint")
    )
    return dedup.incremental_dedup(batch, index)


UNIGRAM_GATE_K = 16  # small vocab cap so the sf0.01 gate exercises OOV scoring
BIGRAM_GATE_K = 16  # same idea: force real <unk> traffic through the bigram LM
TRIGRAM_GATE_K = 30  # at sf0.01 this K makes <unk> AND all three backoff
# levels fire in the heldout stream (measured: nu=6/tri=2843/bi=1977/uni=4)
# — smaller K starves the unigram floor, larger K starves OOV


def _q_text_line_dedup(spark, sf_dir):
    """CCNet-style frequent-line boilerplate removal over the
    deterministically line-augmented documents: lines in >= LINE_MIN_DOCS
    distinct docs are dropped, docs rebuilt in original line order."""
    from lumbermill_spark.extras import textstats

    return textstats.remove_frequent_lines(textstats.augment_lines(_docs(spark, sf_dir)))


def _q_text_unigram_logprob(spark, sf_dir):
    """Corpus unigram LM scoring (cheap perplexity proxy): top-K vocab with
    add-one smoothing, per-doc mean token log-prob + OOV count."""
    from lumbermill_spark.extras import textstats

    return textstats.unigram_logprob(_docs(spark, sf_dir), vocab_k=UNIGRAM_GATE_K)


def _q_corpus_split(spark, sf_dir):
    """Deterministic disjoint train/val/test assignment — zero-shuffle hash
    projection; the exact assignment is the contract."""
    from lumbermill_spark.extras import textstats

    return textstats.corpus_split(_docs(spark, sf_dir))


def _q_corpus_datacard(spark, sf_dir):
    """Per-(lang, split) data card: docs, tokens, exact percentiles, mean
    quality, duplicate docs, and cross-split leakage — one fused plan. Runs
    on the augmented corpus with a flatter 80/10/10 split (the dedup-query
    and gopher-grid precedent) so the duplicate AND leakage columns both
    carry non-zero values under the gate — at the production 98/1/1 weights
    a small corpus leaks with probability ~0.02 per duplicate pair."""
    from lumbermill_spark.extras import dedup, textstats

    return textstats.corpus_datacard(
        dedup.augmented_docs(_docs(spark, sf_dir)), weights=DATACARD_GATE_WEIGHTS
    )


def _q_corpus_stats(spark, sf_dir):
    """Per-(lang, source) corpus report card: counts, char/token totals,
    exact p50/p95 char lengths."""
    from lumbermill_spark.extras import textstats

    return textstats.corpus_stats(_docs(spark, sf_dir))


def _q_text_pack_shuffled(spark, sf_dir):
    """Shuffled shard packing: deterministic pseudorandom order, two-level
    prefix sum on hash-top-bit buckets — oracle replays the naive global
    cumsum over the same order."""
    from lumbermill_spark.extras import textstats

    return textstats.pack_shards_shuffled(_docs(spark, sf_dir))


def _q_text_pack_sequences(spark, sf_dir):
    """Materialized training shards: per-shard EOS-joined payloads in doc_id
    order — oracle replays the naive cumsum + ordered string_agg; the
    value hash pins the concatenated payload bytes."""
    from lumbermill_spark.extras import textstats

    return textstats.pack_sequences(_docs(spark, sf_dir))


def _q_corpus_take_stratified(spark, sf_dir):
    """Exact k-per-(lang,source) deterministic take: cutoff-prefiltered,
    verified-exact — oracle replays the naive full per-stratum row_number."""
    from lumbermill_spark.extras import textstats

    return textstats.take_per_stratum(_docs(spark, sf_dir))


def _q_dedup_normalized(spark, sf_dir):
    """Casefold/punct-fold exact dedup over deterministically mangled
    variants (uppercased + punctuation-noised copies)."""
    from lumbermill_spark.extras import dedup

    return dedup.normalized_dedup(dedup.augmented_variants(_docs(spark, sf_dir)))


def _q_text_bigram_logprob(spark, sf_dir):
    """Bigram LM scoring (perplexity-filter ladder, rung 2): per-doc mean
    conditional logprob under the corpus's own add-one-smoothed bigram model
    with <unk>-collapsed top-K vocab."""
    from lumbermill_spark.extras import textstats

    return textstats.bigram_logprob(_docs(spark, sf_dir), vocab_k=BIGRAM_GATE_K)


def _q_text_c4(spark, sf_dir):
    """C4 page cleaning (Raffel et al. 2020 §2.2): terminal-punctuation
    line retention + page rules over the sentence-augmented docs."""
    from lumbermill_spark.extras import textstats

    return textstats.c4_clean(textstats.augment_c4(_docs(spark, sf_dir)))


def _q_text_gopher(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 A1.1) over the structure-
    augmented docs: seven native signals, verdict, fixed-order reasons."""
    from lumbermill_spark.extras import textstats

    return textstats.gopher_rules(textstats.augment_gopher(_docs(spark, sf_dir)))


def _q_text_blocklist(spark, sf_dir):
    """URL/domain blocklist gate over deterministically augmented urls:
    exact hosts and registrable-domain subtrees via suffix-expansion
    broadcast join."""
    from lumbermill_spark.extras import textstats

    return textstats.blocklist_filter(textstats.augment_urls(_docs(spark, sf_dir)))


def _q_text_trigram_logprob(spark, sf_dir):
    """Trigram LM scoring with stupid backoff (perplexity-filter ladder,
    rung 3): counts from the hash-split TRAIN docs score the HELDOUT docs,
    so unseen n-grams are real and every backoff level fires."""
    from lumbermill_spark.extras import textstats

    return textstats.trigram_logprob(_docs(spark, sf_dir), vocab_k=TRIGRAM_GATE_K)


def _q_conv_render(spark, sf_dir):
    """Transcript->training-document rendering: one 'role: text' document
    per conversation in turn order."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.render_conversations(_transcripts(spark, sf_dir))


def _q_conv_stats(spark, sf_dir):
    """Per-conversation report card (turns, roles, tools, chars, exact
    microsecond duration)."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.conv_stats(_transcripts(spark, sf_dir))


def _q_conv_boilerplate(spark, sf_dir):
    """Cross-conversation boilerplate turn detection (the transcript twin
    of frequent-line removal)."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.boilerplate_turns(_transcripts(spark, sf_dir))


def _q_conv_prepare(spark, sf_dir):
    """Transcript-axis fused preparation: render -> curation verdict +
    normalized canonicality + split, two exchanges total."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.prepare_conversations(_transcripts(spark, sf_dir))


def _q_conv_curate(spark, sf_dir):
    """End-to-end transcript curation: render conversations then apply the
    corpus keep/drop verdict over the rendered documents - one lazy plan,
    one exchange."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.curate_conversations(_transcripts(spark, sf_dir))


def _q_conv_pack(spark, sf_dir):
    """Shuffled token-budget shard packing over rendered conversations -
    pretraining prep for the transcript corpus."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.pack_conversations(_transcripts(spark, sf_dir))


def _q_conv_loss_mask(spark, sf_dir):
    """SFT loss-mask spans: per-turn [start, end) char span inside the
    rendered conversation document plus the trainable flag (infrastructure
    roles masked) - one running-sum window on the conv_id shuffle."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.loss_mask_spans(_transcripts(spark, sf_dir))


def _q_conv_truncate(spark, sf_dir):
    """Context-budget truncation: longest suffix of turns within the
    ws-token budget plus the first-turn anchor; per-conversation kept/total
    report."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.truncate_to_budget(_transcripts(spark, sf_dir))


def _q_conv_sessions(spark, sf_dir):
    """Session re-keying: split conversations at >10-min idle gaps, with
    session ids and session-local turn indices."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.session_split(_transcripts(spark, sf_dir))


def _q_conv_render_sessions(spark, sf_dir):
    """Session-bounded training documents: idle-gap session assignment and
    per-session rendering in one exchange."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.render_sessions(_transcripts(spark, sf_dir))


def _q_conv_pack_sessions(spark, sf_dir):
    """Session-aware shard packing: idle-gap sessions rendered and packed
    into token-budget shards in deterministic shuffled order."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.pack_sessions(_transcripts(spark, sf_dir))


def _q_conv_dup_clusters(spark, sf_dir):
    """Conversation duplicate clusters: connected components over the
    near-dup pair graph with string conv_id labels."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.dup_clusters_conversations(_transcripts(spark, sf_dir))


def _q_conv_redact(spark, sf_dir):
    """Turn-level PII redaction (anonymization before release) over the
    PII-augmented transcripts — all three redaction paths fire."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.redact_turns(
        convcorpus.augment_turn_pii(_transcripts(spark, sf_dir))
    )


def _q_conv_tool_pagerank(spark, sf_dir):
    """PageRank over the tool-transition graph: damped power iteration on
    the bounded tool graph, dangling mass redistributed."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.tool_pagerank(_transcripts(spark, sf_dir))


def _q_conv_near_dup(spark, sf_dir):
    """Conversation-level near-dup: MinHash+LSH over prefix-capped rendered
    conversations (+ deterministic synthetic copies), verified pairs with
    exact shingle Jaccard."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.near_dup_conversations(_transcripts(spark, sf_dir))


def _q_conv_turn_taking(spark, sf_dir):
    """Turn-taking QA report: turn_idx uniqueness/contiguity, consecutive
    same-role runs, opener role — per conversation."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.turn_taking(_transcripts(spark, sf_dir))


def _q_conv_tool_flow(spark, sf_dir):
    """Tool transition matrix: (prev_tool -> tool) counts over each
    conversation's tool-bearing turns plus per-prev_tool share."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.tool_flow(_transcripts(spark, sf_dir))


def _q_text_memorization(spark, sf_dir):
    """Memorization-risk scan: per held-out doc, the fraction of its
    distinct 8-gram shingles already present in the train split (digest-
    keyed shuffle join — both sides corpus-sized). Gate runs the augmented
    corpus at the flatter 80/10/10 split so seen_frac is non-zero."""
    from lumbermill_spark.extras import dedup, textstats

    return textstats.memorization_scan(
        dedup.augmented_docs(_docs(spark, sf_dir)), weights=DATACARD_GATE_WEIGHTS
    )


def _q_conv_memorization(spark, sf_dir):
    """Transcript memorization audit: held-out rendered conversations'
    8-gram overlap with the train split (flatter gate split so hits fire)."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.memorization_conversations(
        _transcripts(spark, sf_dir), weights=DATACARD_GATE_WEIGHTS
    )


def _q_conv_len_histogram(spark, sf_dir):
    """Rendered-conversation length histogram per predicted language."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.length_histogram_conversations(_transcripts(spark, sf_dir))


def _q_conv_datacard(spark, sf_dir):
    """Transcript release report: per (pred_lang, split) data card over
    rendered conversations (flatter gate split so leakage can fire)."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.datacard_conversations(
        _transcripts(spark, sf_dir), weights=DATACARD_GATE_WEIGHTS
    )


def _q_conv_vocab_topk(spark, sf_dir):
    """Vocabulary coverage table over rendered conversations."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.vocab_conversations(_transcripts(spark, sf_dir))


def _q_conv_chunks(spark, sf_dir):
    """RAG-style overlapping token chunks over rendered conversations."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.chunk_conversations(_transcripts(spark, sf_dir))


def _q_conv_bpe(spark, sf_dir):
    """BPE tokenizer trained on rendered conversations (the transcript
    corpus's own tokenizer)."""
    from lumbermill_spark.extras import convcorpus

    return convcorpus.bpe_conversations(_transcripts(spark, sf_dir))


def _q_text_pmi_topk(spark, sf_dir):
    """PMI collocations: top-20 adjacent token pairs by pointwise mutual
    information with a count floor."""
    from lumbermill_spark.extras import textstats

    return textstats.pmi_collocations(_docs(spark, sf_dir))


def _q_text_langid_confusion(spark, sf_dir):
    """Langid accuracy report: confusion counts + per-true-language recall
    shares against the labeled lang column."""
    from lumbermill_spark.extras import textstats

    return textstats.langid_confusion(_docs(spark, sf_dir))


def _q_text_kn_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (KenLM's default smoothing):
    absolute discount + continuation-count backoff."""
    from lumbermill_spark.extras import textstats

    return textstats.kn_logprob(_docs(spark, sf_dir), vocab_k=16)


def _q_text_tfidf_topk(spark, sf_dir):
    """TF-IDF keyword extraction: top-3 tokens per document by tf·ln(N/df)."""
    from lumbermill_spark.extras import textstats

    return textstats.tfidf_keywords(_docs(spark, sf_dir))


def _q_corpus_len_histogram(spark, sf_dir):
    """Power-of-two document-length histogram per language with shares."""
    from lumbermill_spark.extras import textstats

    return textstats.length_histogram(_docs(spark, sf_dir))


def _q_corpus_zipf(spark, sf_dir):
    """Zipf power-law fit of the vocabulary: slope/intercept/r² of the
    log-log rank-frequency line over the top-100 tokens."""
    from lumbermill_spark.extras import textstats

    return textstats.zipf_fit(_docs(spark, sf_dir))


def _q_corpus_weighted_sample(spark, sf_dir):
    """Quality-weighted sampling without replacement (Efraimidis-Spirakis
    keys from deterministic hash uniforms), k per language."""
    from lumbermill_spark.extras import textstats

    return textstats.weighted_sample(_docs(spark, sf_dir))


def _q_text_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-token estimate with the exact count and error
    fraction alongside — explicit 256-register build, oracle-replayable."""
    from lumbermill_spark.extras import sketch

    return sketch.hll_distinct(_docs(spark, sf_dir))


def _q_dedup_bloom_prefilter(spark, sf_dir):
    """Bloom-filter membership pre-filter in front of incremental dedup:
    bloom verdict, exact verdict, and the measured false positives, on the
    augmented corpus with the incremental index split."""
    from pyspark.sql import functions as FF

    from lumbermill_spark.extras import dedup, sketch, textstats

    aug = dedup.augmented_docs(_docs(spark, sf_dir))
    batch = aug.filter(FF.col("doc_id") % sketch.BLOOM_INDEX_MOD != 0)
    index = aug.filter(FF.col("doc_id") % sketch.BLOOM_INDEX_MOD == 0).select(
        textstats.fingerprint(FF.col("text")).alias("fingerprint")
    )
    return sketch.bloom_prefilter(batch, index)


def _q_text_cms_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters: bounded 4x1024 sketch, min-over-rows
    estimates, top-K tokens with exact counts alongside."""
    from lumbermill_spark.extras import sketch

    return sketch.cms_topk(_docs(spark, sf_dir))


def _q_text_bpe_merges(spark, sf_dir):
    """BPE tokenizer TRAINING: the first 8 learned merges (Sennrich 2016)
    over the corpus word table — iterative pair-count rounds, greedy
    non-overlap merge application, one driver row per round."""
    from lumbermill_spark.extras import textstats

    return textstats.bpe_merges(_docs(spark, sf_dir))


def _q_text_vocab_topk(spark, sf_dir):
    """Tokenizer vocabulary induction: top-K token table with corpus
    coverage (rank, count, frac, cum_frac)."""
    from lumbermill_spark.extras import textstats

    return textstats.vocab_topk(_docs(spark, sf_dir))


def _q_corpus_curate(spark, sf_dir):
    """One-call curation verdict: token bounds + quality + repetition +
    lang-ID folded into keep + fixed-order reason string."""
    from lumbermill_spark.extras import textstats

    return textstats.corpus_curate(_docs(spark, sf_dir))


def _q_text_chunk_sliding(spark, sf_dir):
    """Sliding-window context chunking: overlapping token windows, pure
    explode projection, zero shuffle."""
    from lumbermill_spark.extras import textstats

    return textstats.chunk_sliding(_docs(spark, sf_dir))


def _q_mm_embed_topk(spark, sf_dir):
    """Payload → stub embedding → brute-force ANN, end-to-end: the decode/
    encode stage hands its vectors to the similarity suite unchanged."""
    from lumbermill_spark.extras import multimodal, similarity

    pay = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return similarity.topk_bruteforce(multimodal.embed_stub(pay))


def _q_mm_decode(spark, sf_dir):
    from lumbermill_spark.extras import multimodal

    return multimodal.decode_features(multimodal.with_binary_payload(_docs(spark, sf_dir)))


def _q_mm_frame_sample(spark, sf_dir):
    from lumbermill_spark.extras import multimodal

    return multimodal.frame_sample(multimodal.with_binary_payload(_docs(spark, sf_dir)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from lumbermill_spark import schemas as S

    q = {
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_embed_cosine": _q_dedup_embed_cosine,
        "dedup_semdedup": _q_dedup_semdedup,
        "dedup_clusters": _q_dedup_clusters,
        "corpus_canonical": _q_corpus_canonical,
        "sim_topk_bruteforce": _q_sim_topk,
        "sim_lsh_topk": _q_sim_lsh_topk,
        "sim_ivf_topk": _q_sim_ivf_topk,
        "sim_pca_project": _q_sim_pca_project,
        "sim_ivf_cells": _q_sim_ivf_cells,
        "sim_ivf_trained": _q_sim_ivf_trained,
        "sim_pq_topk": _q_sim_pq_topk,
        "sim_ivfpq_topk": _q_sim_ivfpq_topk,
        "text_tokens": _q_text_tokens,
        "text_quality": _q_text_quality,
        "text_langid": _q_text_langid,
        "text_fingerprint": _q_text_fingerprint,
        "text_pack_shards": _q_text_pack_shards,
        "text_decontaminate": _q_text_decontaminate,
        "text_sample": _q_text_sample,
        "text_repetition": _q_text_repetition,
        "text_redact_pii": _q_text_redact_pii,
        "corpus_mixture": _q_corpus_mixture,
        "corpus_temperature": _q_corpus_temperature,
        "corpus_prepare": _q_corpus_prepare,
        "dedup_substring": _q_dedup_substring,
        "dedup_substring_removal": _q_dedup_substring_removal,
        "dedup_incremental": _q_dedup_incremental,
        "text_line_dedup": _q_text_line_dedup,
        "text_unigram_logprob": _q_text_unigram_logprob,
        "corpus_split": _q_corpus_split,
        "corpus_stats": _q_corpus_stats,
        "corpus_datacard": _q_corpus_datacard,
        "text_pack_shuffled": _q_text_pack_shuffled,
        "text_pack_sequences": _q_text_pack_sequences,
        "corpus_take_stratified": _q_corpus_take_stratified,
        "dedup_normalized": _q_dedup_normalized,
        "text_chunk_sliding": _q_text_chunk_sliding,
        "text_bigram_logprob": _q_text_bigram_logprob,
        "text_trigram_logprob": _q_text_trigram_logprob,
        "text_blocklist": _q_text_blocklist,
        "text_gopher": _q_text_gopher,
        "text_c4": _q_text_c4,
        "corpus_curate": _q_corpus_curate,
        "conv_render": _q_conv_render,
        "conv_stats": _q_conv_stats,
        "conv_boilerplate": _q_conv_boilerplate,
        "conv_curate": _q_conv_curate,
        "conv_prepare": _q_conv_prepare,
        "conv_pack": _q_conv_pack,
        "conv_loss_mask": _q_conv_loss_mask,
        "conv_truncate": _q_conv_truncate,
        "conv_sessions": _q_conv_sessions,
        "conv_render_sessions": _q_conv_render_sessions,
        "conv_near_dup": _q_conv_near_dup,
        "conv_dup_clusters": _q_conv_dup_clusters,
        "conv_turn_taking": _q_conv_turn_taking,
        "conv_tool_flow": _q_conv_tool_flow,
        "conv_tool_pagerank": _q_conv_tool_pagerank,
        "conv_redact": _q_conv_redact,
        "conv_pack_sessions": _q_conv_pack_sessions,
        "text_vocab_topk": _q_text_vocab_topk,
        "text_bpe_merges": _q_text_bpe_merges,
        "text_cms_topk": _q_text_cms_topk,
        "dedup_bloom_prefilter": _q_dedup_bloom_prefilter,
        "text_hll_distinct": _q_text_hll_distinct,
        "corpus_weighted_sample": _q_corpus_weighted_sample,
        "corpus_zipf": _q_corpus_zipf,
        "corpus_len_histogram": _q_corpus_len_histogram,
        "text_tfidf_topk": _q_text_tfidf_topk,
        "text_pmi_topk": _q_text_pmi_topk,
        "text_kn_logprob": _q_text_kn_logprob,
        "text_langid_confusion": _q_text_langid_confusion,
        "text_memorization": _q_text_memorization,
        "conv_bpe": _q_conv_bpe,
        "conv_vocab_topk": _q_conv_vocab_topk,
        "conv_chunks": _q_conv_chunks,
        "conv_memorization": _q_conv_memorization,
        "conv_datacard": _q_conv_datacard,
        "conv_len_histogram": _q_conv_len_histogram,
        "mm_decode_stub": _q_mm_decode,
        "mm_embed_topk": _q_mm_embed_topk,
        "mm_frame_sample": _q_mm_frame_sample,
        "lm_class_counts": _q_class_counts,
        "lm_router_error_codes": _q_router_error_codes,
        "lm_router_rollup": _q_router_rollup,
        "lm_enrich_counts": _q_enrich_counts,
        "lm_route_buckets": _q_route_buckets,
        "lm_sink_freshness": _q_sink_freshness,
        "lm_stale_tokens": _q_stale_tokens,
        "lm_batch_sizes": _q_batch_sizes,
        "lm_delivery_sizes": _q_delivery_sizes,
        "lm_sessions": _q_sessions,
        "lm_top_tokens": _q_top_tokens,
        "lm_dyno_rollup": _q_dyno_rollup,
        "lm_rollup_windowed": _q_rollup_windowed,
        "lm_turn_ordering": _q_turn_ordering,
        "lm_frames_replay": _q_frames_replay,
        "lm_frames_scan": _q_frames_scan,
        "lm_lineage_counts": _q_lineage_counts,
    }
    for sink in S.ALL_SINKS:
        q["lm_sink_" + sink] = _sink_query(sink)
    return q


def oracle_sql() -> dict[str, str]:
    from lumbermill_spark import datagen
    from lumbermill_spark import oracle_sql as O

    from lumbermill_spark import oracle_extras as OX
    from lumbermill_spark.extras import similarity as _SIM
    from lumbermill_spark.extras import textstats as _TSX

    paths = datagen.ensure_for_sf_dir(SF_ORACLE_DIR)
    tp, fp = paths["transcripts"], paths["frames"]
    return {
        # training-data extras (documents/embeddings views)
        "dedup_exact": OX.dedup_exact(),
        "dedup_ngram_jaccard": OX.dedup_ngram_jaccard(),
        "dedup_minhash_lsh": OX.dedup_minhash_lsh(),
        "dedup_simhash": OX.dedup_simhash(),
        "dedup_embed_cosine": OX.dedup_embed_cosine(),
        "dedup_semdedup": OX.dedup_semdedup(),
        "dedup_clusters": OX.dedup_clusters(),
        "corpus_canonical": OX.corpus_canonical(),
        "sim_topk_bruteforce": OX.sim_topk_bruteforce(),
        "sim_lsh_topk": OX.sim_lsh_topk(),
        "sim_ivf_topk": OX.sim_ivf_topk(),
        # ensure_trained_centroids is sessionless (numpy) so the artifact
        # exists regardless of whether the oracle or the query runs first
        "sim_ivf_trained": OX.sim_ivf_trained(_SIM.ensure_trained_centroids(SF_ORACLE_DIR)),
        "sim_pca_project": OX.sim_pca_project(_SIM.ensure_pca_model(SF_ORACLE_DIR)),
        "sim_ivf_cells": OX.sim_ivf_cells(_SIM.ensure_trained_centroids(SF_ORACLE_DIR)),
        "sim_pq_topk": OX.sim_pq_topk(_SIM.ensure_pq_codebooks(SF_ORACLE_DIR)),
        "sim_ivfpq_topk": OX.sim_ivfpq_topk(
            _SIM.ensure_trained_centroids(SF_ORACLE_DIR),
            _SIM.ensure_pq_residual_codebooks(SF_ORACLE_DIR),
        ),
        "text_tokens": OX.text_tokens(),
        "text_quality": OX.text_quality(),
        "text_langid": OX.text_langid(),
        "text_fingerprint": OX.text_fingerprint(),
        "text_pack_shards": OX.text_pack_shards(),
        "text_decontaminate": OX.text_decontaminate(),
        "text_sample": OX.text_sample(),
        "text_repetition": OX.text_repetition(),
        "text_redact_pii": OX.text_redact_pii(),
        "corpus_mixture": OX.corpus_mixture(),
        "corpus_temperature": OX.corpus_temperature(),
        "corpus_prepare": OX.corpus_prepare(),
        "dedup_substring": OX.dedup_substring(),
        "dedup_substring_removal": OX.dedup_substring_removal(),
        "dedup_incremental": OX.dedup_incremental(),
        "text_line_dedup": OX.text_line_dedup(),
        "text_unigram_logprob": OX.text_unigram_logprob(UNIGRAM_GATE_K),
        "corpus_split": OX.corpus_split(),
        "corpus_stats": OX.corpus_stats(),
        "corpus_datacard": OX.corpus_datacard(weights=DATACARD_GATE_WEIGHTS),
        "text_pack_shuffled": OX.text_pack_shuffled(),
        "text_pack_sequences": OX.text_pack_sequences(),
        "corpus_take_stratified": OX.corpus_take_stratified(),
        "dedup_normalized": OX.dedup_normalized(),
        "text_chunk_sliding": OX.text_chunk_sliding(),
        "text_bigram_logprob": OX.text_bigram_logprob(BIGRAM_GATE_K),
        "text_trigram_logprob": OX.text_trigram_logprob(TRIGRAM_GATE_K),
        "text_blocklist": OX.text_blocklist(),
        "text_gopher": OX.text_gopher(),
        "text_c4": OX.text_c4(),
        "corpus_curate": OX.corpus_curate(),
        "conv_render": OX.conv_render(tp),
        "conv_stats": OX.conv_stats(tp),
        "conv_boilerplate": OX.conv_boilerplate(tp),
        "conv_curate": OX.conv_curate(tp),
        "conv_prepare": OX.conv_prepare(tp),
        "conv_pack": OX.conv_pack(tp),
        "conv_loss_mask": OX.conv_loss_mask(tp),
        "conv_truncate": OX.conv_truncate(tp),
        "conv_sessions": OX.conv_sessions(tp),
        "conv_render_sessions": OX.conv_render_sessions(tp),
        "conv_near_dup": OX.conv_near_dup(tp),
        "conv_dup_clusters": OX.conv_dup_clusters(tp),
        "conv_turn_taking": OX.conv_turn_taking(tp),
        "conv_tool_flow": OX.conv_tool_flow(tp),
        "conv_tool_pagerank": OX.conv_tool_pagerank(tp),
        "conv_redact": OX.conv_redact(tp),
        "conv_pack_sessions": OX.conv_pack_sessions(tp),
        "text_vocab_topk": OX.text_vocab_topk(_TSX.VOCAB_TOPK_K),
        "text_bpe_merges": OX.text_bpe_merges(),
        "text_cms_topk": OX.text_cms_topk(),
        "dedup_bloom_prefilter": OX.dedup_bloom_prefilter(),
        "text_hll_distinct": OX.text_hll_distinct(),
        "corpus_weighted_sample": OX.corpus_weighted_sample(),
        "corpus_zipf": OX.corpus_zipf(),
        "corpus_len_histogram": OX.corpus_len_histogram(),
        "text_tfidf_topk": OX.text_tfidf_topk(),
        "text_pmi_topk": OX.text_pmi_topk(),
        "text_kn_logprob": OX.text_kn_logprob(16),
        "text_langid_confusion": OX.text_langid_confusion(),
        "text_memorization": OX.text_memorization(weights=DATACARD_GATE_WEIGHTS),
        "conv_bpe": OX.conv_bpe(tp),
        "conv_vocab_topk": OX.conv_vocab_topk(tp, _TSX.VOCAB_TOPK_K),
        "conv_chunks": OX.conv_chunks(tp),
        "conv_memorization": OX.conv_memorization(tp, weights=DATACARD_GATE_WEIGHTS),
        "conv_datacard": OX.conv_datacard(tp, weights=DATACARD_GATE_WEIGHTS),
        "conv_len_histogram": OX.conv_len_histogram(tp),
        "mm_decode_stub": OX.mm_decode_stub(),
        "mm_embed_topk": OX.mm_embed_topk(),
        "mm_frame_sample": OX.mm_frame_sample(),
        "lm_class_counts": O.class_counts(tp),
        "lm_sink_router": O.sink_router(tp),
        "lm_sink_events_router": O.sink_events_router(tp),
        "lm_sink_dyno_mem": O.sink_dyno_mem(tp),
        "lm_sink_dyno_load": O.sink_dyno_load(tp),
        "lm_sink_events_dyno": O.sink_events_dyno(tp),
        "lm_router_error_codes": O.router_error_code_counts(tp),
        "lm_router_rollup": O.router_rollup(tp),
        "lm_enrich_counts": O.enrich_counts(tp, paths["tools"], paths["roles"]),
        "lm_route_buckets": O.route_buckets(tp, 16),
        "lm_sink_freshness": O.sink_freshness(tp),
        "lm_stale_tokens": O.stale_tokens(tp),
        "lm_batch_sizes": O.batch_size_rollup(fp),
        "lm_delivery_sizes": O.delivery_sizes(tp),
        "lm_sessions": O.sessions(tp, 300),
        "lm_top_tokens": O.top_tokens(tp, 10),
        "lm_dyno_rollup": O.dyno_type_rollup(tp),
        "lm_rollup_windowed": O.router_rollup_windowed(tp),
        "lm_turn_ordering": O.turn_ordering(tp),
        "lm_frames_replay": O.frames_replay_counts(fp),
        # the byte scanner must reproduce the regex-split replay exactly —
        # same oracle, independent ingestion path
        "lm_frames_scan": O.frames_replay_counts(fp),
        "lm_lineage_counts": O.lineage_counts(tp),
    }
