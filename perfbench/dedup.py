"""``corpus_dedup``: the training-data near-duplicate pipeline.

A seeded corpus with planted near-duplicates runs through
``shingles_of`` → ``signature_table`` → ``minhash_lsh_pairs`` →
``dedup_clusters`` → ``sequence_pack``, one action per stage. A pass runs
all four stages. ``WARMUP_PASSES`` untimed passes follow set-up; then
passes repeat until ``--seconds`` are spent, at least ``MIN_PASSES``.
``throughput_per_cpu_s`` is documents over the median CPU seconds the
process tree spent on a pass (``throughput_per_s``, over wall time, is
reported by traced runs); ``latency_p50_ms`` is the median of the
stages' median times.
``recall`` and ``precision`` compare the pairs the clusters imply with
the planted pairs. A pass whose packed documents do not add up counts
as failed.
"""

from __future__ import annotations

import time

import common
import inputs

N_DOCS = 500
DUP_SHARE = 0.3
MIN_PASSES = 2
#: untimed passes before timing: the JIT keeps speeding passes up until
#: about the fourth (14, 5.3, 4.3, 3.8 s)
WARMUP_PASSES = 2


def _pass(ctx, docs):
    """One run of the pipeline. Returns the stage seconds, the cluster
    members as (doc, canonical doc), the documents dedup keeps, the
    documents packed, and the verified pair and cluster counts."""
    from pyspark.sql import functions as F

    from engine_spark.datapipe.cluster import dedup_clusters
    from engine_spark.datapipe.packing import sequence_pack
    from engine_spark.datapipe.queries import (
        minhash_lsh_pairs,
        shingles_of,
        signature_table,
    )

    spark = ctx.spark
    times = {}

    def stage(name):
        ctx.check_disk()
        times[name] = time.perf_counter()
        return ctx.span(f"datapipe.{name}")

    with stage("signatures"):
        sig = signature_table(shingles_of(docs))
    times["signatures"] = time.perf_counter() - times["signatures"]
    with stage("lsh_pairs"):
        pairs = minhash_lsh_pairs(sig).cache()
        n_pairs = pairs.count()
    times["lsh_pairs"] = time.perf_counter() - times["lsh_pairs"]
    with stage("clusters"):
        clusters = dedup_clusters(pairs).cache()
        n_clusters = clusters.filter("is_canonical").count()
    times["clusters"] = time.perf_counter() - times["clusters"]
    with stage("pack"):
        dropped = clusters.filter(~F.col("is_canonical")).select("doc_id")
        kept = docs.join(dropped, "doc_id", "left_anti").withColumn(
            "n_tokens", F.size(F.split("text", " "))
        )
        packed = sequence_pack(kept, "n_tokens").select("doc_id").count()
    times["pack"] = time.perf_counter() - times["pack"]
    members = [(r.doc_id, r.canonical_id) for r in clusters.collect()]
    n_kept = docs.count() - clusters.filter(~F.col("is_canonical")).count()
    spark.catalog.clearCache()
    return times, members, n_kept, packed, n_pairs, n_clusters


def _setup(ctx, docs_path: str):
    """Session and input staging."""
    docs = ctx.new_session().read.parquet(docs_path)
    docs.count()
    return docs


def run(ctx) -> dict:
    docs_path, truth_path = inputs.corpus(ctx.seed, N_DOCS, DUP_SHARE)
    truth = inputs.truth_pairs(truth_path)
    common.log("inputs ready")

    docs, setup_s = ctx.setups(lambda k: _setup(ctx, docs_path))
    warm = [sum(_pass(ctx, docs)[0].values()) for _ in range(WARMUP_PASSES)]
    common.log(f"warm-up passes: {[round(p, 2) for p in warm]}")

    attempted = failed = 0
    stage_times: dict[str, list[float]] = {}
    passes: list[float] = []
    cpu: list[float] = []
    end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < end:
        attempted += 1
        c0 = common.tree_cpu_s()
        times, members, n_kept, packed, n_pairs, n_clusters = _pass(ctx, docs)
        cpu.append(common.tree_cpu_s() - c0)
        if packed != n_kept:
            failed += 1
        for k, v in times.items():
            stage_times.setdefault(k, []).append(v)
        passes.append(sum(times.values()))
    common.log(f"{len(passes)} passes: {[round(p, 2) for p in passes]}")

    by_canon: dict[int, list[int]] = {}
    for doc, canon in members:
        by_canon.setdefault(canon, []).append(doc)
    found = set()
    for c in by_canon.values():
        c.sort()
        found.update((a, b) for i, a in enumerate(c) for b in c[i + 1 :])
    hit = len(found & truth)

    per_stage = {k: common.median(v) for k, v in stage_times.items()}
    common.log(f"per stage: { {k: round(v, 2) for k, v in per_stage.items()} }")
    for k, v in per_stage.items():
        ctx.layer[f"datapipe.{k}_s"] = v
    ctx.layer["datapipe.verified_pairs"] = float(n_pairs)
    ctx.layer["datapipe.clusters"] = float(n_clusters)
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": common.median(list(per_stage.values())) * 1e3,
            "throughput_per_s": N_DOCS / common.median(passes),
            "throughput_per_cpu_s": N_DOCS / common.median(cpu),
            "recall": hit / len(truth),
            "precision": hit / len(found) if found else 0.0,
        },
    }
