"""Self-tests of the benchmark; no Spark session, a few seconds in all.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import corpus  # noqa: E402


@pytest.mark.parametrize("kind", ["crawl", "dense"])
def test_same_seed_gives_identical_corpus_bytes(kind, tmp_path):
    paths = []
    for i, seed in enumerate((7, 7, 8)):
        p = tmp_path / f"{i}.parquet"
        corpus.write_pages(corpus.generate(kind, 400, seed), str(p))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_dense_corpus_shape():
    pdf = corpus.dense_pages(3000, seed=3)
    words = pdf.text.str.split().str.len()
    assert words.between(260, 400).all()
    share = pdf.kind.value_counts(normalize=True)
    assert share["near"] == pytest.approx(0.70, abs=0.01)
    assert share["chain"] == pytest.approx(0.15, abs=0.01)
    assert pdf.url.is_unique


def test_metric_names_are_valid_and_match_benchmark_json():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == workloads.END_TO_END_UNITS
    assert layer == workloads.per_layer_units()
    assert len(layer) <= 128
    for name in list(e2e) + list(layer):
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def _truth(labels: pd.DataFrame):
    """A correct resolved relation for a corpus whose only duplicates are
    its byte-identical groups: one cluster per group, first doc kept."""
    n = len(labels)
    cluster = np.arange(n, dtype=np.int64)
    groups = checks.identical_groups(labels)
    first = groups.index.to_series().groupby(groups.values).transform("min")
    cluster[groups.index] = first.values
    kept = cluster == np.arange(n)
    return cluster, kept


@pytest.fixture(scope="module")
def crawl_labels():
    return corpus.labels_of(corpus.generate("crawl", 600, 42))


def test_batch_check_flags_an_exact_duplicate_flipped_to_kept(crawl_labels):
    cluster, kept = _truth(crawl_labels)
    assert checks.check_batch(crawl_labels, cluster, kept, int(kept.sum()), len(kept)) == []
    dupe = np.flatnonzero(~kept)[0]
    assert crawl_labels.kind[dupe] in checks.ISOLATED_COPY_KINDS
    kept[dupe] = True
    failures = checks.check_batch(crawl_labels, cluster, kept, int(kept.sum()), len(kept))
    assert any("more than one" in f for f in failures)
    assert any("clusters do not keep exactly one" in f for f in failures)


def test_batch_check_flags_lost_rows_and_split_groups(crawl_labels):
    cluster, kept = _truth(crawl_labels)
    assert checks.check_batch(crawl_labels, cluster, kept, int(kept.sum()) - 1, len(kept))
    assert checks.check_batch(crawl_labels, cluster, kept, int(kept.sum()), len(kept) - 1)
    dupe = np.flatnonzero(~kept)[0]
    split = cluster.copy()
    split[dupe] = dupe
    failures = checks.check_batch(crawl_labels, split, kept | (split == dupe), int(kept.sum()) + 1, len(kept))
    assert any("span several clusters" in f for f in failures)


def test_increment_check_flags_an_exact_duplicate_kept_twice(crawl_labels):
    _, kept = _truth(crawl_labels)
    sizes = [300, 150, 150]
    bounds = np.cumsum([0] + sizes)
    rows = np.flatnonzero(kept)
    kept_rows = [rows[(rows >= a) & (rows < b)] for a, b in zip(bounds, bounds[1:])]
    n_kept = int(kept.sum())
    assert checks.check_increments(crawl_labels, sizes, kept_rows, n_kept) == []
    assert checks.check_increments(crawl_labels, sizes, kept_rows, n_kept - 1)
    dupe = np.flatnonzero(~kept)[-1]
    b = int(np.searchsorted(bounds, dupe, side="right")) - 1
    kept_rows[b] = np.sort(np.append(kept_rows[b], dupe))
    failures = checks.check_increments(crawl_labels, sizes, kept_rows, n_kept + 1)
    assert any("more than one" in f for f in failures)


def test_pair_quality_counts_against_the_oracle():
    oracle = {"rows": np.array([[0, 1], [0, 2], [1, 2]]), "jaccard": np.array([0.9, 0.8, 0.1])}
    f1, recall = checks.pair_quality(oracle, lambda i, j: True)
    assert recall == 1.0 and f1 == pytest.approx(0.8)
    f1, recall = checks.pair_quality(oracle, lambda i, j: (i, j) == (0, 1))
    assert recall == 0.5


def test_every_span_name_belongs_to_exactly_one_layer():
    import workloads

    names = [n for owned in workloads.LAYERS.values() for n in owned]
    assert len(names) == len(set(names))
    for cls in (workloads.CrawlBatch, workloads.DenseDupes, workloads.CrawlIncrements):
        assert cls.EXECUTED and set(cls.EXECUTED) <= set(workloads.LAYERS)


def test_layer_failures_flag_unowned_spans_and_layers_without_jobs():
    from spans import Tracer, layer_failures

    layers = {"A": ("a",), "B": ("b", "b.child")}
    t = Tracer("r")
    with t.span("root"):
        with t.span("a") as a:
            a["jobs"] = 2
            with t.span("b.child") as b:
                b["jobs"] = 1
    assert layer_failures(t, layers, ("A", "B")) == []
    t.spans[2]["jobs"] = 0
    assert layer_failures(t, layers, ("A", "B")) == ["layer B ran no Spark job inside its spans"]
    assert layer_failures(t, layers, ("A",)) == []
    with t.span("stray"):
        pass
    assert layer_failures(t, layers, ("A",)) == ["span 'stray' belongs to no layer"]
