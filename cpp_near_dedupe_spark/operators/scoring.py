"""Pairwise Jaccard scoring of candidate pairs.

Replaces the reference's comparer stage (`/root/reference/CPPDeduper/
ComparerThread.h:271-414`): candidates' sketches are attached with two
equi-joins and scored in one Arrow-batched pass with the vectorized
group-sort-count Jaccard (functions/jaccard.py). We always report the exact
J1 score (`Jaccard.h:23-43`); the reference's early-out/SIMD variants are
decision-equivalent physical optimizations it needed for scalar C++ loops.

Scale notes: the pairs side is large, the signatures side is one row per
doc. Both joins shuffle on a doc id — co-partitioned by Catalyst; at
cluster scale the signatures table should be bucketed by id so the join
avoids re-shuffling the small side each run. The score UDF sees only
(signature_a, signature_b) columns — ~4KB per pair max — with Arrow batch
size bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in
``session.build_session``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig


def score_pairs(pairs: DataFrame, signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """(a, b) × (id, signature) → (a, b, jaccard)."""
    id_col = cfg.id_col
    sig_a = signatures.select(
        F.col(id_col).alias("a"), F.col("signature").alias("sig_a")
    )
    sig_b = signatures.select(
        F.col(id_col).alias("b"), F.col("signature").alias("sig_b")
    )
    joined = pairs.join(sig_a, "a").join(sig_b, "b")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jaccard import jaccard_batch

        for pdf in batches:
            la = [np.asarray(s, dtype=np.int64).view(np.uint64) for s in pdf["sig_a"]]
            lb = [np.asarray(s, dtype=np.int64).view(np.uint64) for s in pdf["sig_b"]]
            yield pd.DataFrame(
                {
                    "a": pdf["a"].values,
                    "b": pdf["b"].values,
                    "jaccard": jaccard_batch(la, lb),
                }
            )

    return joined.mapInPandas(run, schema="a long, b long, jaccard double")


def duplicate_edges(scored: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Threshold predicate (`ComparerThread.h:156-161`): J >= threshold."""
    return scored.filter(F.col("jaccard") >= F.lit(cfg.threshold)).select("a", "b")
