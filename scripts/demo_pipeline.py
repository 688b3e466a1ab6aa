#!/usr/bin/env python
"""End-to-end training-data pipeline demo: the composition a 100 TB
corpus-curation job runs, expressed entirely in this repo's operators.

    documents
      → PII scrub (email/IP/phone redaction)         (map-only)
      → text stats + quality scoring + language ID   (map-only)
      → quality/lang gate                            (filter, pushed down)
      → exact dedup (canonical id per fingerprint)   (1 shuffle)
      → MinHash-LSH near-dup edges → drop non-canonical duplicates
      → corpus-wide duplicate-segment removal + doc reassembly
      → token accounting + temperature-mixture allocation per language
      → deterministic train/val/test split + seeded epoch order
      → (lang, split)-partitioned parquet of the curated corpus

Usage: python scripts/demo_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def curate(spark, sf_dir: str, out_dir: str):
    from pyspark.sql import functions as F

    from fluvio_duck_spark.functions.text import (
        fingerprint,
        lang_id_ngram,
        quality_score,
        redact_pii,
        token_count,
    )
    from fluvio_duck_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from fluvio_duck_spark.sinks import copy_to_parquet
    from fluvio_duck_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. PII scrub + score + gate (all map-only; the filter reaches the
    #    scan).  Redaction runs FIRST so no contact info survives into
    #    fingerprints, shingles, or the curated output.
    docs = docs.withColumn("text", redact_pii("text"))
    scored = docs.select(
        "doc_id", "text",
        quality_score("text").alias("q"),
        lang_id_ngram("text").alias("lang"),
        token_count("text").alias("n_tokens"),
    )
    gated = scored.filter((F.col("q") >= 0.3) & (F.col("n_tokens") >= 8))
    n1 = gated.count()

    # 2. exact dedup: keep the canonical doc per content fingerprint
    canon = exact_dedup(gated)  # (fp, canonical_id, n_copies)
    exact_survivors = gated.join(
        canon.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    ).withColumn("fp", fingerprint("text"))
    n2 = exact_survivors.count()

    # 3. near-dup removal: LSH pairs above 0.8 Jaccard → connected
    #    components → keep one doc per transitive cluster (A~B and B~C
    #    collapse to one survivor even though A~C was never scored —
    #    the cluster-level convention corpus dedup uses)
    pairs = minhash_lsh_pairs(exact_survivors, threshold=0.8)
    comps = connected_components(pairs, src_col="doc_a", dst_col="doc_b")
    to_drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    survivors = exact_survivors.join(to_drop, "doc_id", "left_anti")
    n3 = survivors.count()

    # 4. corpus-wide duplicate-segment removal across the remaining docs
    #    (C4's duplicate-paragraph pass): each doc is reassembled from
    #    its globally-first segments; docs left with nothing drop out.
    #    Token counts are recomputed on the reassembled text so the
    #    accounting below reflects what would actually be trained on.
    from fluvio_duck_spark.operators.dedup import segment_dedup

    seg = segment_dedup(survivors, words_per_segment=10)
    survivors = (
        survivors.drop("text", "n_tokens")
        .join(seg.select("doc_id", F.col("dedup_text").alias("text")), "doc_id")
        .withColumn("n_tokens", token_count("text"))
    )
    n4 = survivors.count()

    # 5. token accounting + temperature-mixture allocation (alpha=0.5
    #    flattens the language distribution for a 10k-doc training draw)
    from fluvio_duck_spark.operators.sampling import temperature_mixture

    mix = temperature_mixture(survivors, "lang", alpha=0.5, budget=10_000)
    stats = survivors.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    ).join(mix.select("lang", "share", "alloc"), "lang")

    # 6. deterministic train/val/test split + seeded epoch order; output
    #    partitioned by (lang, split) for pruning.  shuffle_key rides
    #    along so any reader can reconstruct the epoch order.
    from fluvio_duck_spark.operators.sampling import split_assign, training_order

    final = training_order(split_assign(survivors), seed=1)
    copy_to_parquet(
        final.select(
            "doc_id", "text", "lang", "q", "n_tokens", "split", "shuffle_key"
        ),
        out_dir,
        partition_by=["lang", "split"],
    )

    # 7. model-ready chunk table: 64-token sliding windows (16 overlap),
    #    map-only explode of the curated corpus, written z-ordered on
    #    (q, n_chunk_tokens) so chunk-level quality/length range scans
    #    prune row groups on both columns.
    from fluvio_duck_spark.operators.chunking import chunk_documents
    from fluvio_duck_spark.operators.zorder import write_zordered

    chunks = chunk_documents(
        final, max_tokens=64, overlap=16, keep_cols=["lang", "split", "q"]
    )
    n5 = chunks.count()
    write_zordered(
        chunks, out_dir + "_chunks", cols=["q", "n_chunk_tokens"],
        num_files=8,
    )
    return n0, n1, n2, n3, n4, n5, stats


def main() -> None:
    from fluvio_duck_spark.session import get_spark

    spark = get_spark("fluvio-duck-spark-pipeline", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        n0, n1, n2, n3, n4, n5, stats = curate(spark, SF_DIR, f"{tmp}/curated")
        print(f"input docs:            {n0}")
        print(f"after quality gate:    {n1}")
        print(f"after exact dedup:     {n2}")
        print(f"after near-dup drop:   {n3}")
        print(f"after segment dedup:   {n4}")
        print(f"training chunks:       {n5}")
        print("token accounting + mixture allocation per language:")
        stats.show()
        back = spark.read.parquet(f"{tmp}/curated")
        assert back.count() == n4
        chunks_back = spark.read.parquet(f"{tmp}/curated_chunks")
        assert chunks_back.count() == n5
        print(f"curated corpus round-trip OK ({n4} docs -> {n5} z-ordered "
              "chunks, partitioned by lang/split, epoch order in shuffle_key)")


if __name__ == "__main__":
    main()
