"""Sketch operator: DataFrame[text] → DataFrame[signature].

Spark-first replacement for the reference's loader+hasher stages
(`/root/reference/CPPDeduper/ArrowLoaderThread.h:112-212`,
`HasherThread.h:60-91`): instead of per-row queue hops between threads, one
``mapInPandas`` pass computes every document's bottom-N sketch per Arrow
batch with the vectorized kernel (functions/sketch.py). The signature is
stored as ``array<bigint>`` — uint64 values as two's-complement longs,
ascending in *unsigned* order; all consumers view them back as uint64.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import DedupeConfig


def sketch_documents(df: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Project (id, text), compute sketches; → (id, sig_len, signature).

    Column pruning matters at scale: only ``id_col`` and ``text_col`` are
    read (Catalyst pushes the projection into the scan, so e.g. the `html`
    payload column of a pages table is never deserialized).
    """
    id_col, text_col = cfg.id_col, cfg.text_col
    k, n, seed, bits = cfg.shingle_k, cfg.num_hashes, cfg.seed, cfg.hash_bits

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.sketch import sketch_batch

        for pdf in batches:
            sigs = sketch_batch(
                pdf[text_col].tolist(), k=k, num_hashes=n, seed=seed, hash_bits=bits
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "sig_len": np.fromiter((s.size for s in sigs), dtype=np.int32, count=len(sigs)),
                    "signature": [s.view(np.int64) for s in sigs],
                }
            )

    projected = df.select(id_col, text_col)
    # Small-input guard: a scan can yield far fewer partitions than cores
    # (one parquet file ~= 1-2 splits), which would serialize the CPU-heavy
    # sketch kernel. Redistribute ONLY in that case — at 100 TB the scan
    # already yields thousands of splits and the gate never fires, so the
    # full (id, text) shuffle is strictly a small-data fixup; the at-scale
    # lever for split sizing is spark.sql.files.maxPartitionBytes.
    target = min(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    if projected.rdd.getNumPartitions() < target:
        projected = projected.repartition(target)
    return projected.mapInPandas(
        run, schema=f"{id_col} long, sig_len int, signature array<long>"
    )
