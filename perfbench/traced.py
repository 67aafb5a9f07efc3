"""The traced run: per-layer metrics and the tracing overhead.

Both operation lists are generated and run, so every layer is measured
whichever workload is named:

1. one cold, untraced pass of each list (outputs checked, caches warm);
2. one warm, untraced pass of the named workload's list, each operation
   under its own job group: the ``spark.*`` counters and the untraced
   wall time;
3. one traced pass of each list, with every engine call listed in
   ``targets`` wrapped in a span (spans.py), then the column-function
   probes.

``trace.overhead_s`` is the named list's traced pass minus its warm
untraced pass. The spans are written to
``.bench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from harness import (
    REGISTRY_OPS, TWEET_OPS, WORKLOADS, Runner, check_registry, log, make_inputs, metric, set_up,
    stop_jvm,
)
from reference import check_cli_outputs
from spans import GroupCounters, Tracer, covered_seconds, read_event_log


def targets() -> dict[str, tuple[object, str]]:
    from tvbigdataproject_spark import session
    from tvbigdataproject_spark.operators import (
        components, dedup, graph, pagerank, similarity, trade_edges, traversal,
    )
    from tvbigdataproject_spark.plans import llm_prep, pipelines
    from tvbigdataproject_spark.sources import io

    # span name -> (module or class, attribute)
    pipe = pipelines.TweetGraphPipeline
    out = {
        "session.release_caches": (session, "release_session_caches"),
        "sources.read_tweets": (io, "read_tweets"),
        "sources.read_table": (io, "read_table"),
        "sources.write_single_csv": (io, "write_single_csv"),
        "sources.save_graph": (io, "save_graph"),
        "operators.graph.pair_candidates": (graph, "pair_candidates"),
        "operators.graph.k_hop_neighborhood": (graph, "k_hop_neighborhood"),
        "operators.dedup.exact_dedup_groups": (dedup, "exact_dedup_groups"),
        "operators.dedup.ngram_jaccard_pairs": (dedup, "ngram_jaccard_pairs"),
        "operators.dedup.minhash_lsh_pairs": (dedup, "minhash_lsh_pairs"),
        "operators.similarity.cosine_topk": (similarity, "cosine_topk"),
        "operators.similarity.cell_pruned_topk": (similarity, "cell_pruned_topk"),
        "plans.llm_prep.prepare_corpus": (llm_prep, "prepare_corpus"),
        "operators.trade_edges.trade_pairs": (trade_edges, "trade_pairs"),
        "operators.pagerank.pagerank": (pagerank, "pagerank"),
        "operators.components.label_propagation": (components, "label_propagation"),
        "operators.traversal.bfs_levels": (traversal, "bfs_levels"),
    }
    for method in ("retweet_edges", "user_hashtags", "hashtag_edges", "jaccard_edges",
                   "full_graph", "bi_report", "word_cloud_corpus", "neighborhood"):
        out[f"plans.pipelines.{method}"] = (pipe, method)
    return out


# layers whose calls run iterative rounds: report jobs per call
ITERATIVE = (
    "operators.trade_edges.trade_pairs",
    "operators.pagerank.pagerank",
    "operators.components.label_propagation",
    "operators.traversal.bfs_levels",
)


# column functions, in the order function_probes builds them
PROBES = (
    "functions.normalize_tags",
    "functions.simple_clean",
    "functions.jaccard",
    "functions.shingles",
    "functions.minhash_signature",
    "operators.textstats.quality_metrics",
)


def function_probes(spark, tracer: Tracer, inputs: dict) -> None:
    """Column functions build expressions, not plans: time each one as a
    projection over a cached input, so the span holds its evaluation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tvbigdataproject_spark.functions import jaccard, minhash_signature, normalize_tags
    from tvbigdataproject_spark.functions.text import shingles, simple_clean
    from tvbigdataproject_spark.operators.textstats import quality_metrics
    from tvbigdataproject_spark.plans import TweetGraphPipeline
    from tvbigdataproject_spark.sources.io import read_table, read_tweets

    tweets = read_tweets(spark, inputs["tweets"])
    docs = read_table(spark, inputs["tables"], "documents")
    tags = tweets.where(F.col("hashtagEntitiesArray").isNotNull()).select(
        F.col("hashtagEntitiesArray").alias("t")).cache()
    texts = tweets.select("text").cache()
    hts = TweetGraphPipeline(spark, tweets).user_hashtags()
    pairs = hts.select(
        F.col("hts").alias("a"),
        F.coalesce(F.lead("hts", 1).over(Window.orderBy("id")), F.col("hts")).alias("b"),
    ).cache()
    doc_text = docs.select("text").cache()
    doc_sh = doc_text.select(shingles(F.col("text"), 3).alias("sh")).cache()
    cached = (tags, texts, pairs, doc_text, doc_sh)
    for df in cached:
        df.write.format("noop").mode("overwrite").save()
    builds = (
        lambda: tags.select(normalize_tags(F.col("t"))),
        lambda: texts.select(simple_clean(F.col("text"))),
        lambda: pairs.select(jaccard(F.col("a"), F.col("b"))),
        lambda: doc_text.select(shingles(F.col("text"), 3)),
        lambda: doc_sh.select(minhash_signature(F.col("sh"), num_hashes=8)),
        lambda: doc_text.select(*quality_metrics(F.col("text")).values()),
    )
    tracer.noop_only |= set(PROBES)
    tracer.enabled = True
    tracer.base_group = "probes"
    for name, build in zip(PROBES, builds):
        tracer.call(name, build)
    tracer.enabled = False
    for df in cached:
        df.unpersist()


def _sum(counters: dict[str, GroupCounters], groups) -> GroupCounters:
    total = GroupCounters()
    for g in groups:
        if g in counters:
            total.add(counters[g])
    return total


def traced_run(args, spec: dict, work: str) -> dict:
    inputs = make_inputs(work, args.seed, spec, {"tweets", "tables"})
    event_log = os.path.join(work, "eventlog")
    spark, phases = set_up(work, event_log)
    tracer = Tracer(spark)
    runner = Runner(spark, inputs, tracer)
    problems: list[str] = []
    out = os.path.join(work, "out")
    out_bytes = 0

    def run_list(workload: str, group: str, **kw) -> dict[str, float]:
        nonlocal out_bytes
        if workload == "tweet_graph":
            times = runner.tweet_pass(out, group=group)
            if group == "cold":
                problems.extend(check_cli_outputs(
                    out, inputs["reference"], inputs["neighbourhood_seed"]))
                out_bytes = sum(os.path.getsize(os.path.join(d, f))
                                for d, _, fs in os.walk(out) for f in fs)
            return times
        times, results = runner.registry_pass(collect=group == "cold", group=group, **kw)
        if group == "cold":
            problems.extend(check_registry(results, inputs["tables"]))
        return times

    other = next(w for w in WORKLOADS if w != args.workload)
    try:
        run_list(args.workload, "cold")
        run_list(other, "cold")
        log("cold passes done")
        t0 = time.perf_counter()
        run_list(args.workload, "warm")
        untraced_wall = time.perf_counter() - t0
        log(f"warm pass {untraced_wall:.2f}s")

        tracer.patch(targets())
        tracer.noop_only = {"sources.read_tweets", "sources.read_table"}
        tracer.enabled = True
        walls = {}
        for workload in (args.workload, other):
            t0 = time.perf_counter()
            run_list(workload, "traced", **({} if workload == "tweet_graph"
                                             else {"split_plan": True}))
            walls[workload] = time.perf_counter() - t0
        tracer.enabled = False
        tracer.unpatch()
        log(f"traced passes {walls}")
        function_probes(spark, tracer, inputs)
    finally:
        stop_jvm(spark)
    tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
    counters = read_event_log(event_log)

    metrics: dict[str, dict] = {
        "session.get_spark_s": metric(phases["get_spark"], "s"),
        "session.first_query_s": metric(phases["first_query"], "s"),
    }
    self_s: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    rows: dict[str, int] = defaultdict(int)
    span_groups: dict[str, list[str]] = defaultdict(list)
    for s in tracer.spans:
        self_s[s.name] += s.duration - s.children_s
        calls[s.name] += 1
        rows[s.name] += s.rows or 0
        span_groups[s.name].append(s.group)
    for name in (*targets(), *PROBES):
        metrics[f"{name}_s"] = metric(self_s[name], "s")
    for name in ITERATIVE:
        jobs = _sum(counters, span_groups[name]).jobs
        metrics[f"{name}.jobs_per_call"] = metric(jobs / max(1, calls[name]), "count")

    pc = "operators.graph.pair_candidates"
    join_rows = _sum(counters, span_groups[pc]).join_rows / max(1, calls[pc])
    metrics["operators.graph.join_rows"] = metric(join_rows, "count")
    log(f"self-join rows per pair_candidates call: {join_rows:.0f} "
        f"(reference, every pair sharing a tag: {inputs['reference'].join_rows})")
    metrics["operators.graph.candidate_yield"] = metric(
        rows["plans.pipelines.jaccard_edges"] / max(1, rows["operators.graph.pair_candidates"]),
        "ratio")
    metrics["operators.dedup.pair_yield"] = metric(
        rows["operators.dedup.minhash_lsh_pairs"]
        / max(1, rows["operators.dedup.ngram_jaccard_pairs"]), "ratio")
    cli_groups = [f"cold/{op}" for op in TWEET_OPS]
    metrics["sources.scans_per_pass"] = metric(
        _sum(counters, cli_groups).input_bytes / inputs["tweet_bytes"], "ratio")
    metrics["sources.output_bytes_per_input_byte"] = metric(
        out_bytes / inputs["tweet_bytes"], "ratio")
    metrics["queries.plan_s"] = metric(sum(runner.plan_s.values()), "s")
    metrics["queries.exec_s"] = metric(sum(runner.exec_s.values()), "s")

    ops = TWEET_OPS if args.workload == "tweet_graph" else REGISTRY_OPS
    groups = [f"warm/{op}" for op in ops]
    w = _sum(counters, groups)
    driver_only = 0.0
    for g in groups:
        lo, hi = runner.intervals[g]
        driver_only += (hi - lo) - covered_seconds(
            counters[g].job_intervals if g in counters else [], lo, hi)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    metrics.update({
        "spark.jobs": metric(w.jobs, "count"),
        "spark.stages": metric(w.stages, "count"),
        "spark.tasks": metric(w.tasks, "count"),
        "spark.failed_tasks": metric(w.failed_tasks, "count"),
        "spark.scheduler_delay_s": metric(w.scheduler_delay_s, "s"),
        "spark.driver_only_s": metric(driver_only, "s"),
        "spark.shuffle_write_bytes": metric(w.shuffle_write_bytes, "bytes"),
        "spark.shuffle_read_bytes": metric(w.shuffle_read_bytes, "bytes"),
        "spark.executor_cpu_s": metric(w.executor_cpu_s, "s"),
        "spark.cpu_util": metric(w.executor_cpu_s / (untraced_wall * cpus), "ratio"),
        "spark.spill_bytes": metric(w.spill_bytes, "bytes"),
        "spark.gc_s": metric(w.gc_s, "s"),
        "trace.overhead_s": metric(walls[args.workload] - untraced_wall, "s"),
    })
    correct = not problems and runner.failed == 0
    for line in runner.errors + problems:
        log(line)
    return {"correct": correct, "attempted": runner.attempted, "failed": runner.failed,
            "metrics": metrics}
