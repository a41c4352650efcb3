"""Output checks run on every timed operation, and the pairwise-F1 metric.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# generator kinds whose docs are byte-identical copies of a doc that has no
# near-duplicate anywhere in the corpus: such a group must keep exactly one
ISOLATED_COPY_KINDS = ("exact", "edge_same_text")
MIN_RECALL = 0.99


def identical_groups(labels: pd.DataFrame) -> pd.Series:
    """Row number → group number for texts of five or more words that occur
    more than once byte-identically; other rows are absent."""
    h = labels.text_hash[labels.words >= 5]
    h = h[h.duplicated(keep=False)]
    return h.groupby(h, sort=False).ngroup()


def _group_failures(labels: pd.DataFrame, kept: np.ndarray) -> list[str]:
    groups = identical_groups(labels)
    if groups.empty:
        return []
    kept_per = pd.Series(kept[groups.index], index=groups.index).groupby(groups).sum()
    bad = []
    over = kept_per[kept_per > 1]
    if len(over):
        bad.append(f"{len(over)} byte-identical groups keep more than one doc")
    isolated = labels.kind.iloc[groups.index].isin(ISOLATED_COPY_KINDS)
    iso_kept = kept_per.loc[groups[isolated.values].unique()]
    if (iso_kept != 1).any():
        bad.append(f"{int((iso_kept != 1).sum())} exact-copy groups do not keep exactly one doc")
    return bad


def check_batch(
    labels: pd.DataFrame,
    cluster: np.ndarray,
    kept: np.ndarray,
    n_output: int,
    n_resolved: int,
) -> list[str]:
    """``cluster``/``kept`` are aligned with ``labels`` rows (the corpus);
    ``n_output`` is the row count the program wrote or returned and
    ``n_resolved`` the number of rows in its resolved relation."""
    n = len(labels)
    bad = []
    if n_resolved != n:
        bad.append(f"resolved has {n_resolved} rows for {n} input docs")
    removed = int((~kept).sum())
    if n_output + removed != n:
        bad.append(f"kept {n_output} + removed {removed} != input {n}")
    per_cluster = pd.Series(kept).groupby(cluster).sum()
    if (per_cluster != 1).any():
        bad.append(f"{int((per_cluster != 1).sum())} clusters do not keep exactly one doc")
    groups = identical_groups(labels)
    split = pd.Series(cluster[groups.index]).groupby(groups.values).nunique()
    if (split > 1).any():
        bad.append(f"{int((split > 1).sum())} byte-identical groups span several clusters")
    return bad + _group_failures(labels, kept)


def check_increments(
    labels: pd.DataFrame, batch_rows: list[int], kept_rows: list[np.ndarray], state_rows: int
) -> list[str]:
    """``kept_rows[i]`` holds the corpus row numbers batch ``i`` kept;
    batch ``i`` covers the next ``batch_rows[i]`` corpus rows."""
    bad = []
    start = 0
    kept = np.zeros(len(labels), dtype=bool)
    for i, (n, rows) in enumerate(zip(batch_rows, kept_rows)):
        if len(np.unique(rows)) != len(rows):
            bad.append(f"batch {i} keeps a doc twice")
        if len(rows) and (rows.min() < start or rows.max() >= start + n):
            bad.append(f"batch {i} keeps a doc that is not in the batch")
        kept[rows] = True
        start += n
    n_kept = sum(len(r) for r in kept_rows)
    if state_rows != n_kept:
        bad.append(f"state holds {state_rows} signatures for {n_kept} kept docs")
    return bad + _group_failures(labels, kept)


def pair_quality(oracle: dict, same_pair) -> tuple[float, float]:
    """(F1, recall) over the oracle's labeled pairs of corpus rows;
    ``same_pair(i, j)`` is the program's verdict that rows i and j are
    duplicates."""
    from cpp_near_dedupe_spark.plans.quality import pairwise_f1

    q = pairwise_f1(oracle["rows"].tolist(), oracle["jaccard"].tolist(), same_pair)
    return q.f1, q.recall
