"""Streaming near-duplicate gate — continuous corpus curation.

The reference's streaming surface is the bounded/continuous consume scan
(reference src/consume.rs:480-482); near-dup gating is part of the
brief-mandated training-pipeline extension: as new documents arrive, drop
(or flag) the ones that near-duplicate the existing corpus *before* they
land in training data.

Topology (everything per-arrival is stateless):

    doc stream ── row-wise MinHash (map-only HOFs, no agg state)
               ── band-bucket keys (in-row explode)
               ── stream-static join against the corpus band index
                  (broadcast — no stream state at the join)
               ── collapse multi-band hits per doc

Only the final per-doc collapse is stateful; at scale bound it with
``dropDuplicatesWithinWatermark`` on arrival time.  The corpus index is
the batch side's codegen MinHash (operators/dedup.py::minhash_signatures
→ band_buckets), refreshed on whatever cadence the corpus compaction job
runs; both sides share the exact same xxhash64 banding, asserted by the
batch-parity test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluvio_duck_spark.operators.dedup import band_buckets, rowwise_minhash


def stream_neardup_gate(
    stream_docs: DataFrame,
    index: DataFrame,
    k: int = 5,
    n_hashes: int = 32,
    n_bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Emit the ids of arriving docs that LSH-band-collide with a
    *different* doc already in the corpus index.

    ``index`` is ``band_buckets(minhash_signatures(corpus))`` — (id,
    band, bh) rows.  The join is stream-static on (band, bh) with the
    index broadcast, so no join state accumulates in the state store."""
    sig = rowwise_minhash(
        stream_docs.select(id_col, text_col), k=k, n_hashes=n_hashes,
        text_col=text_col,
    )
    bk = band_buckets(sig, n_hashes=n_hashes, n_bands=n_bands, id_col=id_col)
    idx = index.withColumnRenamed(id_col, "__idx_id")
    return (
        bk.join(F.broadcast(idx), ["band", "bh"])
        .filter(F.col(id_col) != F.col("__idx_id"))
        .select(id_col)
        .dropDuplicates([id_col])
    )
