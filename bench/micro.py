#!/usr/bin/env python
"""Engine micro-benchmarks (fills the BASELINE.md §micro table).

Measures the four headline numbers the baseline reserves:
- degrees throughput (edges/sec, A1 on the sf edge union)
- incremental-CC batch latency (L1/L7: seconds per merge window on G5)
- exact triangle time (Q17 at the sf dir)
- streaming dedup throughput (edges/sec through watermarked
  dropDuplicatesWithinWatermark on a replayed stream)

Usage: python bench/micro.py [--sf-dir /root/testdata/sf0.1] [--cpus 32]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from gelly_streaming_spark.session import BUILD_CONFS, RUNTIME_CONFS  # noqa: E402
from gelly_streaming_spark.plans.memory import _staging_base  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    builder = SparkSession.builder.appName("gss-micro").master(f"local[{args.cpus}]")
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import pyspark.sql.functions as F

    from gelly_streaming_spark.algos.triangles import triangle_count
    from gelly_streaming_spark.operators.graphstream import GraphStream
    from gelly_streaming_spark.sources import edges as E
    from gelly_streaming_spark.sources.fixtures import g5_powerlaw
    from gelly_streaming_spark.streaming.cc import IncrementalConnectedComponents
    from gelly_streaming_spark.streaming.sources import replay
    from gelly_streaming_spark.streaming.stateful import streaming_distinct

    out: dict = {"sf_dir": args.sf_dir, "cpus": int(args.cpus)}

    # A1 degrees throughput ------------------------------------------------
    edges = (
        E.edges_cust_order(spark, args.sf_dir)
        .select("src", "dst")
        .unionByName(E.edges_order_part(spark, args.sf_dir).select("src", "dst"))
    )
    m = edges.count()  # also warms the scan
    t0 = time.time()
    GraphStream(edges).degrees().write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    out["degrees_edges_per_sec"] = int(m / dt)
    out["degrees_sec"] = round(dt, 3)
    out["degrees_edges"] = m

    # L1/L7 incremental CC merge-window latency ----------------------------
    g5 = g5_powerlaw(spark, n_vertices=20_000, n_edges=100_000)
    with tempfile.TemporaryDirectory(dir=_staging_base()) as tmp:
        stream = replay(g5, os.path.join(tmp, "g5"), num_batches=5)
        inc = IncrementalConnectedComponents()
        t0 = time.time()
        inc.run(stream)
        dt = time.time() - t0
        out["cc_batches"] = inc.batches
        out["cc_sec_per_merge_window"] = round(dt / max(inc.batches, 1), 3)

    # Q17 exact triangles ---------------------------------------------------
    copart = E.edges_copart(spark, args.sf_dir)
    copart.write.mode("overwrite").format("noop").save()  # warm the self-join input
    t0 = time.time()
    n_tri = triangle_count(GraphStream(copart)).collect()[0]["n_triangles"]
    out["triangles_sec"] = round(time.time() - t0, 3)
    out["triangles"] = int(n_tri)

    # streaming dedup throughput -------------------------------------------
    ev = E.edges_events(spark, args.sf_dir).select("src", "dst", "ts")
    n_ev = ev.count()
    with tempfile.TemporaryDirectory(dir=_staging_base()) as tmp:
        stream = replay(ev, os.path.join(tmp, "ev"), num_batches=4)
        dd = streaming_distinct(stream, "10 minutes")
        t0 = time.time()
        q = (
            dd.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        q.stop()
        dt = time.time() - t0
    out["stream_dedup_edges_per_sec"] = int(n_ev / dt)
    out["stream_dedup_sec"] = round(dt, 3)

    # text-pipeline throughput: corpus tokens/sec through the vocabulary
    # word-count plan (explode + one token-keyed partial-agg shuffle) ---
    from gelly_streaming_spark.ext.text import token_count, vocabulary
    from gelly_streaming_spark.sources.tables import load_table

    docs = load_table(spark, args.sf_dir, "documents")
    n_tok = docs.select(F.sum(token_count(F.col("text")))).collect()[0][0]
    vocabulary(docs, k=50).write.mode("overwrite").format("noop").save()  # warm
    t0 = time.time()
    vocabulary(docs, k=50).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    out["vocab_tokens_per_sec"] = int(n_tok / dt)
    out["vocab_sec"] = round(dt, 3)
    out["vocab_tokens"] = int(n_tok)

    # text-kernel scaling (q35/q36/q37 shapes at 1x and 10x corpus):
    # proves the shingle-window kernels scale ~linearly in corpus size —
    # a super-linear curve would implicate the per-doc window shuffle
    # (ext/text.py doc_shingles). The 10x corpus is 10 shifted copies of
    # the documents table staged to parquet so both sizes pay the same
    # scan shape. Reported: seconds at each size + the 10x/1x ratio
    # (on 32 cores a floor-dominated 1x run makes ratios < 10 expected;
    # ratios >> 10 are the regression signal).
    import statistics

    from gelly_streaming_spark.ext.text import (
        decontaminate,
        ngram_repetition,
        tfidf_keywords,
    )

    with tempfile.TemporaryDirectory(dir=_staging_base()) as tmp:
        big_path = os.path.join(tmp, "docs10x")
        others = [c for c in docs.columns if c != "doc_id"]
        big = None
        for i in range(10):
            c = docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"), *others
            )
            big = c if big is None else big.unionByName(c)
        big.write.mode("overwrite").parquet(big_path)
        big = spark.read.parquet(big_path)
        big.write.mode("overwrite").format("noop").save()  # warm the scan

        kernels = {
            "tfidf": lambda d: tfidf_keywords(d, k=3),
            "decon": lambda d: decontaminate(
                d.where(F.col("doc_id") % 97 != 0),
                d.where(F.col("doc_id") % 97 == 0),
                n=3,
            ),
            "ngram": lambda d: ngram_repetition(d, n=3),
        }
        def scale_pair(key, fn, one, ten):
            """Warm + min-of-3 at each size, record 1x/10x/ratio keys.
            MIN of 3: the scaling claim is about the PLAN, and
            host-steal noise is strictly additive — observed 4x swings
            between adjacent identical runs on this VM (ngram 10x:
            3.1 s and 11.1 s in back-to-back micro runs); the min is
            the defensible per-size estimate."""
            secs = {}
            for size, d in (("1x", one), ("10x", ten)):
                fn(d).write.mode("overwrite").format("noop").save()  # warm
                runs = []
                for _ in range(3):
                    t0 = time.time()
                    fn(d).write.mode("overwrite").format("noop").save()
                    runs.append(time.time() - t0)
                secs[size] = round(min(runs), 3)
            out[f"{key}_1x_sec"] = secs["1x"]
            out[f"{key}_10x_sec"] = secs["10x"]
            out[f"{key}_scaling_ratio"] = round(secs["10x"] / secs["1x"], 2)

        for label, fn in kernels.items():
            scale_pair(f"text_{label}", fn, docs, big)

        # dedup-kernel scaling (q43/q44 shapes at 1x and 10x): the 10x
        # corpus here is NOT plain doc_id-shifted clones — identical
        # texts across copies would form cross-copy near-dup cliques and
        # multiply PAIR work x100 by construction, drowning the linear
        # signal. Each copy instead suffixes every token with its copy
        # index, making the ten shards disjoint in token space: tokens,
        # signatures, buckets, and true pairs all scale exactly x10,
        # which is what a 10x-bigger real corpus (not a 10x-duplicated
        # one) looks like to these kernels.
        from gelly_streaming_spark.ext.dedup import simhash, simhash_near_pairs
        from gelly_streaming_spark.ext.similarity import minhash_lsh_pairs

        sample = docs.where(F.col("doc_id") % 10 == 0)
        ded_path = os.path.join(tmp, "docs10x_disjoint")
        big2 = None
        for i in range(10):
            c = sample.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.regexp_replace(F.col("text"), r"(\S+)", rf"$1x{i}").alias("text"),
            )
            big2 = c if big2 is None else big2.unionByName(c)
        big2.write.mode("overwrite").parquet(ded_path)
        big2 = spark.read.parquet(ded_path)
        big2.write.mode("overwrite").format("noop").save()  # warm the scan

        ded_kernels = {
            "minhash": lambda d: minhash_lsh_pairs(
                d, "doc_id", F.split(F.col("text"), " "), 0.8,
                num_hashes=16, bands=4,
            ),
            "simhash": lambda d: simhash_near_pairs(simhash(d), max_hamming=3),
        }
        for label, fn in ded_kernels.items():
            scale_pair(f"dedup_{label}", fn, sample.select("doc_id", "text"), big2)

        # LM-perplexity scaling (q53 shape) on the SAME disjoint-token
        # 10x corpus: disjointness matters here too — a duplicated
        # corpus would hold the bigram vocabulary constant (count
        # tables x1, only the scored stream x10) and flatter the count
        # shuffle; disjoint shards scale the bigram stream AND both
        # count tables exactly x10, which is what a genuinely bigger
        # corpus does to this kernel.
        from gelly_streaming_spark.ext.text import ngram_lm_scores

        scale_pair(
            "text_lm", ngram_lm_scores, sample.select("doc_id", "text"), big2
        )

        # semantic-dedup scaling (q52 shape): 10x vectors WITH 10x
        # clusters — the SemDeDup contract (cluster count grows with
        # the corpus so per-cluster quadratic work stays bounded).
        # Cluster SIZE is ~200 at both scales, so pair work scales
        # x10, not x100; a fixed cluster count would measure the
        # method's documented failure mode instead of its scaling.
        # Synthetic label-clustered vectors over 128 dims — dim >=
        # n_labels so every label gets its OWN spike dimension (a
        # 64-dim space would alias labels 64-99 onto labels 0-35 and
        # let jitter decide assignment between the aliased pairs).
        from gelly_streaming_spark.ext.embeddings import semantic_dedup

        def _synth_emb(n_vec_: int, n_labels: int):
            lbl = F.col("id") % n_labels
            return spark.range(n_vec_).select(
                F.col("id").alias("vec_id"),
                lbl.alias("label"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(127)),
                    lambda d: (
                        F.when(d == lbl, F.lit(4.0)).otherwise(F.lit(0.0))
                        + F.pmod(F.xxhash64(F.col("id") * 128 + d), F.lit(1000))
                        / 1000.0
                    ),
                ).cast("array<double>").alias("embedding"),
            ).localCheckpoint(eager=True)

        scale_pair(
            "semdedup",
            lambda d: semantic_dedup(d, threshold=0.95),
            _synth_emb(2_000, 10),
            _synth_emb(20_000, 100),
        )

    # ANN bucketing throughput: vectors/sec through the Arrow/BLAS
    # multi-table LSH kernel (4 tables x 8 planes over 64-dim vectors on
    # a 100k synthetic corpus — the q46/q47 signature stage at volume;
    # the interpreted HOF form this replaced ran ~30x slower/row) ------
    from gelly_streaming_spark.ext.embeddings import (
        _bucket_array_udf,
        rademacher_planes,
    )

    n_vec, vdim = 100_000, 64
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(vdim)),
            lambda i: F.pmod(F.xxhash64(F.col("id") * vdim + i), F.lit(1000)) / 500.0 - 1.0,
        ).cast("array<double>").alias("v"),
    )
    vecs = vecs.localCheckpoint(eager=True)  # pin: time the kernel, not the generator
    bank = [rademacher_planes(8, vdim, salt=f"t{t}") for t in range(4)]
    kernel = lambda: vecs.select(
        "vec_id", _bucket_array_udf(bank)(F.col("v")).alias("b")
    ).write.mode("overwrite").format("noop").save()
    kernel()  # warm
    runs = []
    for _ in range(3):
        t0 = time.time()
        kernel()
        runs.append(time.time() - t0)
    out["ann_bucket_vectors_per_sec"] = int(n_vec / min(runs))
    out["ann_bucket_sec"] = round(min(runs), 3)
    vecs.unpersist()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
