"""End-to-end pipeline tests on the synthetic labeled pages corpus:
pairwise F1 at matched band keys (the BASELINE.json metric), exact-dupe
perfection, permutation invariance, idempotence, and resume-from-checkpoint.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.plans.pipeline import run_pipeline
from cpp_near_dedupe_spark.plans.quality import (
    oracle_labeled_pairs,
    pairwise_f1,
    union_find_clusters,
)
from cpp_near_dedupe_spark.sources.pages import with_doc_id

CFG = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts")


@pytest.fixture(scope="module")
def piped(spark, pages_600):
    docs = with_doc_id(
        spark.createDataFrame(pages_600[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res = run_pipeline(spark, docs, CFG)
    resolved = res.resolved.toPandas()
    docmap = docs.select("url", "doc_id").toPandas()
    resolved = resolved.merge(docmap, on="doc_id")
    url_cluster = dict(zip(resolved.url, resolved.cluster_id))
    return res, resolved, url_cluster


def test_pairwise_f1_at_matched_band_keys(pages_600, piped):
    _, _, url_cluster = piped
    urls = pages_600.url.tolist()
    pairs, jac, _ = oracle_labeled_pairs(pages_600.text.tolist(), CFG.threshold)
    stats = pairwise_f1(
        pairs, jac, lambda i, j: url_cluster[urls[i]] == url_cluster[urls[j]], CFG.threshold
    )
    assert stats.recall == pytest.approx(1.0), stats
    assert stats.f1 >= 0.99, stats


def test_exact_dupes_perfectly_clustered(pages_600, piped):
    _, resolved, url_cluster = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    exact = lab[lab.kind.isin(["exact", "edge_same_text"])]
    for gid, grp in exact.groupby("group_id"):
        assert grp.cluster_id.nunique() == 1, f"group {gid} split"
        assert grp.is_kept.sum() == 1, f"group {gid} kept != 1"


def test_empty_and_short_docs_are_singletons(pages_600, piped):
    _, resolved, _ = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    # <5-word docs and empty/null docs can never be duplicates
    shorts = lab[
        lab.text.isna() | (lab.text.fillna("").str.split().str.len() < 5)
    ]
    assert shorts.is_kept.all()
    for _, row in shorts.iterrows():
        assert (lab.cluster_id == row.cluster_id).sum() == 1


def test_kept_representative_is_first_seen(pages_600, piped):
    _, resolved, _ = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    for cid, grp in lab.groupby("cluster_id"):
        if len(grp) > 1:
            kept = grp[grp.is_kept]
            assert len(kept) == 1
            # the kept doc is the earliest-crawled (warc_ts ties broken by
            # doc_id inside the pipeline; don't assert on tie order here)
            assert kept.iloc[0].warc_ts == grp.warc_ts.min()


def test_clusters_match_union_find_over_pipeline_edges(spark, pages_600, piped):
    res, resolved, url_cluster = piped
    # the pipeline's own edges, re-clustered with an exact union-find oracle,
    # must produce the same partition (validates large-star/small-star).
    edges = res.edges.select("a", "b").toPandas()
    ids = resolved.doc_id.tolist()
    idx = {d: i for i, d in enumerate(ids)}
    uf = union_find_clusters(len(ids), [(idx[a], idx[b]) for a, b in zip(edges.a, edges.b)])
    got = dict(zip(resolved.doc_id, resolved.cluster_id))
    # same-partition relation must match
    clusters_by_root = {}
    for i, d in enumerate(ids):
        clusters_by_root.setdefault(uf[i], []).append(d)
    for members in clusters_by_root.values():
        assert len({got[d] for d in members}) == 1
    assert len(clusters_by_root) == len(set(got.values()))


def test_permutation_invariance(spark, pages_600):
    # shuffling input rows must not change cluster membership (stronger than
    # the reference's order-dependent greedy pass — documented divergence)
    sub = pages_600.head(150)
    shuffled = sub.sample(frac=1.0, random_state=99).reset_index(drop=True)
    outs = []
    for pdf in (sub, shuffled):
        docs = with_doc_id(
            spark.createDataFrame(pdf[["url", "warc_ts", "html", "text", "lang"]]), CFG
        )
        res = run_pipeline(spark, docs, CFG)
        r = res.resolved.toPandas().merge(
            docs.select("url", "doc_id").toPandas(), on="doc_id"
        )
        outs.append(dict(zip(r.url, r.cluster_id)))
    a, b = outs
    assert set(a) == set(b)
    # cluster ids are min-doc_id labels -> identical, not just isomorphic
    assert a == b


def test_idempotence(spark, pages_600):
    # dedupe(dedupe(X)) keeps everything: output has no remaining dupes
    sub = pages_600.head(200)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res1 = run_pipeline(spark, docs, CFG)
    from cpp_near_dedupe_spark.operators.resolve import dedupe_output

    kept = dedupe_output(docs, res1.resolved, CFG)
    res2 = run_pipeline(spark, kept, CFG)
    r2 = res2.resolved.toPandas()
    assert r2.is_kept.all()
    assert len(r2) == kept.count()


def test_resume_from_checkpoint(spark, pages_600, tmp_path):
    sub = pages_600.head(150)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    ckpt = str(tmp_path / "ckpt")
    # run a prefix, "crash", then resume to completion
    run_pipeline(spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1", stop_after="pairs")
    import json, os

    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert set(manifest) == {"signatures", "sig_reps", "bands", "pairs"}
    sig_mtime = os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS"))

    res = run_pipeline(spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1")
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert set(manifest) == {
        "signatures", "sig_reps", "bands", "pairs", "edges", "clusters", "resolved"
    }
    # completed stages were NOT recomputed
    assert os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS")) == sig_mtime

    # resumed result identical to a fresh run
    fresh = run_pipeline(spark, docs, CFG)
    a = res.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = fresh.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # metrics lineage recorded per stage
    metrics = spark.read.parquet(os.path.join(ckpt, "_metrics"))
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"signatures", "bands", "pairs", "edges", "clusters", "resolved"} <= stages

    # config change invalidates the cache
    cfg2 = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts", threshold=0.8)
    run_pipeline(spark, docs, cfg2, checkpoint_dir=ckpt, input_token="t1", stop_after="signatures")
    assert os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS")) != sig_mtime


def _pair_set(res):
    return {(r.a, r.b) for r in res.pairs.select("a", "b").collect()}


def test_checkpointed_and_in_memory_pairs_agree(spark, pages_600, tmp_path):
    """One hot-bucket detector with or without a store: a cap small enough
    that dupe-family buckets go over it must not make a checkpointed run
    salt differently from an in-memory one."""
    cfg = DedupeConfig(
        id_col="doc_id", text_col="text", order_col="warc_ts", hot_band_cap=4
    )
    docs = with_doc_id(
        spark.createDataFrame(pages_600[["url", "warc_ts", "html", "text", "lang"]]), cfg
    )
    stored = run_pipeline(
        spark, docs, cfg, checkpoint_dir=str(tmp_path / "ckpt"), stop_after="pairs"
    )
    fresh = run_pipeline(spark, docs, cfg, stop_after="pairs")
    got, want = _pair_set(stored), _pair_set(fresh)
    assert len(want) > 0
    assert got == want


def test_hot_bucket_lineage_written_once_after_crash(spark, pages_600, tmp_path, monkeypatch):
    """A crash after pair generation but before the pairs stage commits,
    then a resume, leaves exactly one run's hot-bucket lineage."""
    import os

    from cpp_near_dedupe_spark.plans.pipeline import CheckpointStore

    cfg = DedupeConfig(
        id_col="doc_id", text_col="text", order_col="warc_ts", hot_band_cap=4
    )
    docs = with_doc_id(
        spark.createDataFrame(pages_600.head(150)[["url", "warc_ts", "html", "text", "lang"]]),
        cfg,
    )

    def lineage(ckpt):
        df = spark.read.parquet(os.path.join(ckpt, "_metrics_hot_buckets"))
        return sorted((r.band_key, r.bucket_size) for r in df.collect())

    clean = str(tmp_path / "clean")
    run_pipeline(spark, docs, cfg, checkpoint_dir=clean, stop_after="pairs")
    want = lineage(clean)
    assert want  # the small cap puts buckets over it

    crashed = str(tmp_path / "crashed")
    write = CheckpointStore.write

    def crash_on_pairs(self, stage, df, fingerprint):
        if stage == "pairs":
            raise RuntimeError("injected crash before the pairs commit")
        return write(self, stage, df, fingerprint)

    monkeypatch.setattr(CheckpointStore, "write", crash_on_pairs)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, docs, cfg, checkpoint_dir=crashed, stop_after="pairs")
    monkeypatch.setattr(CheckpointStore, "write", write)
    run_pipeline(spark, docs, cfg, checkpoint_dir=crashed, stop_after="pairs")
    assert lineage(crashed) == want
    # a rerun resumes the committed pairs stage and appends nothing
    run_pipeline(spark, docs, cfg, checkpoint_dir=crashed, stop_after="pairs")
    assert lineage(crashed) == want


def test_threshold_monotonicity(spark, pages_600):
    # higher threshold -> fewer or equal duplicate edges
    sub = pages_600.head(200)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res = run_pipeline(spark, docs, CFG, stop_after="edges")
    scored = res.edges  # already filtered at 0.7
    n_07 = scored.count()
    n_09 = scored.filter(F.col("jaccard") >= 0.9).count()
    assert n_09 <= n_07
