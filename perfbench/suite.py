"""The traced per-layer suite (``--trace 1``).

Three Spark sessions in one process, one after another:

1. untraced, local[4]: a warm-up iteration, then two baseline iterations
   of the workload (the second is the base of ``trace.overhead_share``);
2. traced, local[4], event log on: the cumulative noop-write drain ladder,
   the workload's own iteration, ``pipeline.run`` phases and resume, the
   noop-sink pipeline, the sink fan-out and lineage commit re-staged through
   their public calls, and the curation ladder;
3. local[1]: the noop-sink pipeline again, the single-thread baseline.

Every traced run reports every per-layer metric: both ladders run on the
workload's own input.
"""

from __future__ import annotations

import os
import time
import traceback

import tracing

LADDER = ["pipeline.scan", "classify", "enrich", "parse", "route"]
EVENT_SPANS = LADDER + ["pipeline.summary", "pipeline.fanout", "lineage.commit",
                        "convcorpus.render", "dedup.lsh_pairs", "textstats.curate"]
EVENT_METRICS = {"task_s": "s", "cpu_s": "s", "jobs": "count",
                 "shuffle_write_bytes": "B", "spill_bytes": "B"}
# JVM GC time per span only where the span allocates enough to collect
# every run; a time that is always exactly 0 carries no signal
GC_SPANS = ["pipeline.fanout", "dedup.lsh_pairs", "textstats.curate"]
PY_SPANS = ["parse", "dedup.lsh_pairs", "textstats.curate"]
PY_METRICS = {"python_s": "s", "python_bytes_sent": "B", "python_bytes_returned": "B"}
LADDER_PASSES = 2
ROUTE_PARTITIONS = 16  # pipeline.run's routing width at 4 shuffle partitions


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def drain_ladder(spark, tr: tracing.Tracer, path: str) -> dict[str, float]:
    """Cumulative prefixes scan → classify → enrich → parse → route, each
    written to the noop sink; wall per prefix is the fastest pass, and the
    last pass's spans carry the event-log numbers."""
    from pyspark.sql import functions as F

    from lumbermill_spark import classify, enrich, parse, route

    dims = enrich.load_dims(spark)
    builders = [
        lambda _: spark.read.parquet(path),
        classify.classify,
        lambda df: enrich.enrich(df, dims),
        parse.with_parsed,
        lambda df: route.salted_repartition(
            df.withColumn("salt", route.salt_expr(F.col("turn_idx"), 8)),
            ROUTE_PARTITIONS, salt=F.col("salt")),
    ]
    walls: dict[str, list[float]] = {n: [] for n in LADDER}
    for p in range(LADDER_PASSES):
        for k, name in enumerate(LADDER):
            with tr.span(name if p == LADDER_PASSES - 1 else "warmup." + name) as s:
                df = None
                for b in builders[: k + 1]:
                    df = b(df)
                _noop(df)
            walls[name].append(s["end"] - s["start"])
    return {n: min(w) for n, w in walls.items()}


def sink_fanout(spark, tr: tracing.Tracer, path: str, out: str) -> dict[str, float]:
    """The summary job and the five sink writes over a persisted
    ``pipeline.build_parsed`` frame, the router rollup over the written
    router sink, and one lineage commit — each through its public call."""
    from pyspark.sql import functions as F

    from lumbermill_spark import aggregate, lineage, parse, pipeline, route, sinks
    from lumbermill_spark import schemas as S

    m: dict[str, float] = {}
    cfg = pipeline.PipelineConfig()
    parsed = pipeline.build_parsed(spark.read.parquet(path), cfg, spark).persist(cfg.storage_level)
    try:
        with tr.span("pipeline.summary"):
            summary = parsed.groupBy("msg_class").count().collect()
        writer = sinks.ParquetSink()
        with tr.span("pipeline.fanout"):
            for name, builder in parse.SINK_BUILDERS.items():
                sdf = builder(parsed).withColumn("bucket", route.bucket_expr(F.col("token"), cfg.n_buckets))
                with tr.span("sinks.%s.write" % name) as s:
                    writer.write(sdf.repartition(cfg.n_buckets, "bucket"),
                                 os.path.join(out, "sinks", name), "c0", "bucket")
                m["sinks.%s.write_s" % name] = s["end"] - s["start"]
    finally:
        parsed.unpersist()
    import workloads

    m["sinks.bytes"], m["sinks.files"] = workloads.output_footprint(os.path.join(out, "sinks"))
    router = writer.read_chunk(spark, os.path.join(out, "sinks", S.SINK_ROUTER), "c0")
    with tr.span("aggregate.router_rollup") as s:
        _noop(aggregate.router_rollup(router))
    m["aggregate.router_rollup_s"] = s["end"] - s["start"]
    ldf = spark.createDataFrame([(path, r["msg_class"], r["count"]) for r in summary],
                                "source_file string, msg_class string, rows long")
    with tr.span("lineage.commit") as s:
        lineage.commit_chunk(spark, out, "bench", "bench_0000", ldf)
    m["lineage.commit_s"] = s["end"] - s["start"]
    return m


def curation_ladder(spark, tr: tracing.Tracer, path: str) -> dict[str, float]:
    """Each curation layer's public call written to the noop sink. The
    textstats steps read the rendered documents and the dedup steps the
    augmented documents, both persisted, so each step times its own layer."""
    from lumbermill_spark.extras import convcorpus, dedup, textstats

    df = spark.read.parquet(path)
    m: dict[str, float] = {}

    def timed(name, fn):
        with tr.span(name) as s:
            res = fn()
        m[name + "_s"] = s["end"] - s["start"]
        return res

    docs = convcorpus.render_conversations(df).selectExpr("conv_id AS doc_id", "rendered AS text").persist()
    aug = None
    try:
        timed("convcorpus.render", lambda: _noop(docs))
        aug = convcorpus.augmented_conversations(df).persist()
        timed("convcorpus.augment", lambda: _noop(aug))
        timed("dedup.signatures", lambda: _noop(dedup.minhash_signatures(aug)))

        def lsh():
            pairs = dedup.minhash_lsh_pairs(aug)  # eager checkpoints run here
            _noop(pairs)
            return pairs

        pairs = timed("dedup.lsh_pairs", lsh)
        m["dedup.pairs_out"] = pairs.count()
        timed("textstats.quality", lambda: _noop(textstats.with_quality(docs)))
        timed("textstats.repetition", lambda: _noop(textstats.with_repetition(docs)))
        timed("textstats.langid", lambda: _noop(textstats.with_langid(docs)))
        timed("textstats.curate", lambda: _noop(textstats.corpus_curate(docs)))
    finally:
        docs.unpersist()
        if aug is not None:
            aug.unpersist()
    return m


def _noop_pipeline(spark, path: str, out: str) -> float:
    from lumbermill_spark import pipeline

    t0 = time.time()
    res = pipeline.run(spark, path, out, pipeline.PipelineConfig(sink_format="noop"))
    return res.rows_in / (time.time() - t0)


def run_traced(h, start_spark, cores: int, log, trace_path: str) -> tuple[dict, int, int, list[str]]:
    """Returns (metrics, attempted, failed, problems); writes the spans and
    their event-log totals to ``trace_path``."""
    import procs
    import workloads

    problems: list[str] = []
    attempted = failed = 0

    def checked(spark, tag):
        nonlocal attempted, failed
        out = h.fresh_out()
        attempted += 1
        it = h.iterate(spark, out)
        bad = h.check(it, out)
        if bad:
            failed += 1
            problems.extend(tag + ": " + b for b in bad)
        return it, out

    # 1. untraced baseline: the second timed iteration, which is about as
    # far along JIT warm-up as the traced iteration will be
    spark = start_spark()
    checked(spark, "warm-up")
    checked(spark, "baseline")
    base, _ = checked(spark, "baseline")
    spark.stop()
    log("untraced baseline %.2fs" % base.wall_s)

    # 2. traced session
    ev_dir = os.path.join(h.runs, "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    spark = start_spark(event_log=ev_dir)
    tr = tracing.Tracer()
    tr.bind(spark)
    m: dict[str, float] = {}
    try:
        walls = drain_ladder(spark, tr, h.inp.path)
        log("drain ladder %s" % walls)
        m["pipeline.scan_s"] = walls["pipeline.scan"]
        for prev, name in zip(LADDER, LADDER[1:]):
            m[name + ".marginal_s"] = walls[name] - walls[prev]

        with tr.span("workload"):
            it, out = checked(spark, "traced")
        traced_wall = it.wall_s
        if h.spec["kind"] == "drain":
            pipe_span, pipe_res, pipe_out = "workload", it.result, out
        else:
            pipe_out = h.fresh_out()
            with tr.span("pipeline.run"):
                pipe_res = workloads.run_drain(spark, h.inp, pipe_out, None).result
            pipe_span = "pipeline.run"
        t = pipe_res.timings
        m["pipeline.summary_s"] = t.get("summary", 0.0)
        m["pipeline.fanout_s"] = t.get("fanout_writes", 0.0)
        m["pipeline.lineage_s"] = t.get("lineage", 0.0)
        pipe_wall = tr.wall(pipe_span)
        m["trace.accounted_share"] = (m["pipeline.summary_s"] + m["pipeline.fanout_s"]
                                      + m["pipeline.lineage_s"]) / pipe_wall
        with tr.span("lineage.resume") as s:
            res = workloads.pipeline.run(spark, h.inp.path, pipe_out,
                                         workloads.drain_config(h.spec["chunk_files"]), resume=True)
        m["lineage.resume_s"] = s["end"] - s["start"]
        if res.chunks != 0:
            problems.append("resume over a committed output redid %d chunks" % res.chunks)
        with tr.span("pipeline.noop"):
            m["pipeline.noop_turns_per_s"] = _noop_pipeline(spark, h.inp.path, h.fresh_out())

        m.update(sink_fanout(spark, tr, h.inp.path, h.fresh_out()))
        m.update(curation_ladder(spark, tr, h.inp.path))
        log("traced suite done")
    except Exception:
        problems.append("traced suite raised: " + traceback.format_exc())
        failed += 1
        procs.stop_spark(spark)
        return {}, max(attempted, 1), failed, problems
    spark.stop()

    # 3. single-thread baseline, with the event log on as in the local[4]
    # noop run it is compared with
    ev_local1 = os.path.join(h.runs, "eventlog-local1")
    os.makedirs(ev_local1, exist_ok=True)
    spark = start_spark(master="local[1]", event_log=ev_local1)
    try:
        _noop_pipeline(spark, h.inp.path, h.fresh_out())  # warm-up
        m["pipeline.local1_turns_per_s"] = _noop_pipeline(spark, h.inp.path, h.fresh_out())
    finally:
        procs.stop_spark(spark)
    m["pipeline.parallel_efficiency"] = m["pipeline.noop_turns_per_s"] / (
        cores * m["pipeline.local1_turns_per_s"])
    m["trace.overhead_share"] = traced_wall / base.wall_s - 1.0

    # event-log numbers per span (each span's subtree)
    per_id = tracing.attribute(ev_dir, tr.spans)
    tr.dump(trace_path, per_id)
    totals = {}
    for s in tr.spans:
        if s["name"].startswith("warmup."):
            continue
        acc = {}
        for sub in _subtree(tr.spans, s["id"]):
            for k, v in per_id.get(sub, {}).items():
                if k == "stage_reads":
                    acc.setdefault(k, {}).update(v)
                else:
                    acc[k] = acc.get(k, 0) + v
        totals[s["name"]] = acc
    chunks = max(pipe_res.chunks, 1)
    m["pipeline.jobs"] = totals[pipe_span].get("jobs", 0) / chunks
    m["pipeline.unlabeled_jobs"] = totals[pipe_span].get("unlabeled_jobs", 0) / chunks
    m["dedup.jobs"] = totals["dedup.lsh_pairs"].get("jobs", 0)
    m["trace.gc_s"] = sum(a.get("gc_s", 0) for a in per_id.values())
    m["route.partition_skew"] = tracing.partition_skew(totals["route"].get("stage_reads", {}))
    units = {}
    for name in EVENT_SPANS:
        cur = totals[name]
        # ladder prefixes are cumulative: report each step's own share
        k = LADDER.index(name) if name in LADDER else 0
        prev = totals[LADDER[k - 1]] if k > 0 else {}
        wanted = dict(EVENT_METRICS, **(PY_METRICS if name in PY_SPANS else {}))
        if name in GC_SPANS:
            wanted["gc_s"] = "s"
        for metric, unit in wanted.items():
            m["%s.%s" % (name, metric)] = cur.get(metric, 0) - prev.get(metric, 0)
            units["%s.%s" % (name, metric)] = unit
    return ({k: {"value": float(v), "unit": units.get(k) or unit_of(k)} for k, v in sorted(m.items())},
            attempted, failed, problems)


def _subtree(spans: list[dict], root: int) -> list[int]:
    ids, todo = [], [root]
    while todo:
        i = todo.pop()
        ids.append(i)
        todo.extend(s["id"] for s in spans if s["parent"] == i)
    return ids


def unit_of(name: str) -> str:
    if name.endswith("turns_per_s"):
        return "turns/s"
    if name.endswith("_s"):
        return "s"
    if name == "sinks.bytes":
        return "B"
    if name.endswith(("jobs", "files", "pairs_out")):
        return "count"
    return "ratio"
