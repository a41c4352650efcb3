"""The three workloads: one operation each, untraced or traced, with the
output checks that run after every operation.

Every operation calls the program through its public functions only. The
traced form of an operation runs the same program path with spans around
each layer's calls, so its outputs must equal the untraced form's.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.cache import release_all, track
from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.operators.blocking import explode_bands
from cpp_near_dedupe_spark.operators.clustering import connected_components
from cpp_near_dedupe_spark.operators.pairs import candidate_pairs
from cpp_near_dedupe_spark.operators.resolve import dedupe_output, resolve_clusters
from cpp_near_dedupe_spark.operators.scoring import score_pairs
from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
from cpp_near_dedupe_spark.plans.pipeline import CheckpointStore, run_pipeline, signature_reps
from cpp_near_dedupe_spark.sources.pages import load_pages, with_doc_id
from cpp_near_dedupe_spark.streaming.incremental import SignatureState, dedupe_increment

import checks
from spans import MB, SPAN_METRICS, Tracer, layer_failures, layer_metrics, spark_stage_metrics

# layer -> the span names whose self time and stages it owns
LAYERS = {
    "sketch_op": ("sketch_op",),
    "pipeline.sig_reps": ("pipeline.sig_reps",),
    "blocking": ("blocking",),
    "pairs": ("pairs",),
    "scoring": ("scoring",),
    "clustering": ("clustering",),
    "resolve": ("resolve",),
    "pipeline.checkpoint": ("pipeline.checkpoint",),
    "incremental": ("incremental", "incremental.append"),
}
GENERIC_UNITS = dict(
    zip(SPAN_METRICS, ("s", "count", "count", "count", "s", "s", "s", "MB", "MB", "MB", "count"))
)
EXTRA_UNITS = {
    "pipeline.sig_reps.rep_ratio": "ratio",
    "pairs.per_doc": "pairs/doc",
    "scoring.edge_yield": "ratio",
    "pipeline.checkpoint.mb": "MB",
    "incremental.append_s": "s",
    "incremental.state_rows": "count",
    "incremental.state_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}
END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "batch_p50_s": "s",
    "pair_f1": "ratio",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC_UNITS.items()}
    out.update(EXTRA_UNITS)
    return out


def disk_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


@contextmanager
def instrumented(cls, method: str, tracer: Tracer | None, span: str, when=None):
    """Record a span around every call of ``cls.method`` while open, or
    around the calls whose arguments satisfy ``when``; an integer result
    becomes the span's row count."""
    if tracer is None:
        yield
        return
    orig = getattr(cls, method)

    def wrapper(*args, **kwargs):
        if when is not None and not when(*args, **kwargs):
            return orig(*args, **kwargs)
        with tracer.span(span) as rec:
            out = orig(*args, **kwargs)
            if isinstance(out, int):
                rec["rows"] = out
            return out

    setattr(cls, method, wrapper)
    try:
        yield
    finally:
        setattr(cls, method, orig)


class Workload:
    """One workload over one corpus in one session.

    ``op`` runs one operation and returns its record: ``wall`` (s),
    ``docs``, ``batches`` (per-batch walls that count towards
    ``batch_p50_s``), ``f1``, ``recall``, ``output`` (compared between
    untraced and traced runs) and ``failures``."""

    name = ""
    # the layers whose spans a traced operation must attribute jobs to
    EXECUTED: tuple[str, ...] = ()

    def __init__(self, spark, corpus, run_dir: str):
        self.spark, self.corpus, self.run_dir = spark, corpus, run_dir
        self.cfg = DedupeConfig(order_col="warc_ts")
        self._row_of = None

    def rows(self, doc_ids) -> np.ndarray:
        if self._row_of is None:
            # doc_id -> corpus row number; a Spark job, so it is built by the
            # first check, after the first operation's wall
            ids = with_doc_id(load_pages(self.spark, self.corpus.path), self.cfg)
            ids = ids.select("url", self.cfg.id_col).toPandas().set_index("url")[self.cfg.id_col]
            self._row_of = pd.Series(
                np.arange(len(self.corpus.labels)), index=ids.loc[self.corpus.labels.url].values
            )
        r = self._row_of.reindex(np.asarray(doc_ids))
        if r.isna().any():
            raise RuntimeError(f"{int(r.isna().sum())} output ids are not input docs")
        return r.values.astype(np.int64)

    def span(self, tracer: Tracer | None, name: str):
        return tracer.span(name) if tracer else nullcontext({"rows": 0})

    def op(self, i: int, tracer: Tracer | None = None) -> dict:
        raise NotImplementedError

    def safe_op(self, i: int, tracer: Tracer | None = None) -> dict:
        t0 = time.perf_counter()
        try:
            return self.op(i, tracer)
        except Exception:  # a failed operation is counted, not dropped
            return {
                "wall": time.perf_counter() - t0, "docs": self.corpus.n_docs,
                "batches": [], "f1": 0.0, "recall": 0.0, "output": None,
                "failures": [traceback.format_exc(limit=3)],
            }
        finally:
            release_all()

    def timed(self, seconds: float) -> dict:
        """Operations until ``seconds`` have passed. The metrics are those
        of the first, cold operation alone, whatever the operations' speed;
        every operation is checked and counted."""
        ops = []
        end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < end:
            ops.append(self.safe_op(len(ops)))
        first = ops[0]
        batches = first["batches"] or [first["wall"]]
        return {
            "metrics": {
                "docs_per_s": first["docs"] / first["wall"],
                "batch_p50_s": statistics.median(batches),
                "pair_f1": first["f1"],
            },
            "attempted": len(ops),
            "failed": sum(1 for o in ops if o["failures"]),
            "failures": [f"op {i}: {m}" for i, o in enumerate(ops) for m in o["failures"]],
            "info": {
                "op_wall_s": [o["wall"] for o in ops],
                "batch_s": [o["batches"] for o in ops],
                "recall": [o["recall"] for o in ops],
                "samples": {"docs_per_s": 1, "batch_p50_s": len(batches), "pair_f1": 1},
            },
        }

    def trace(self, run_id: str) -> dict:
        """One traced operation, then one untraced. The traced one is the
        session's first, cold as the gated operation is, so its layer times
        include the code generation and JIT warm-up each layer triggers,
        and the overhead (traced − untraced wall) is an upper bound."""
        tracer = Tracer(run_id)
        ops = [self.safe_op(0, tracer), self.safe_op(1)]
        traced, base = ops
        failures = [f"op {i}: {m}" for i, o in enumerate(ops) for m in o["failures"]]
        if base["output"] is None or traced["output"] is None or not _same(
            base["output"], traced["output"]
        ):
            failures.append("traced output differs from the untraced output")
        metrics = {k: 0.0 for k in per_layer_units() if not k.startswith("session.")}
        if not traced["failures"]:
            if not spark_stage_metrics(self.spark, tracer):
                failures.append("Spark's status store did not settle; stage metrics incomplete")
            failures += layer_failures(tracer, LAYERS, self.EXECUTED)
            metrics.update(layer_metrics(tracer, LAYERS))
            metrics.update(traced["extras"])
            selfs = tracer.self_times()
            root = tracer.spans[0]
            wall = root["end"] - root["start"]
            metrics["incremental.append_s"] = sum(
                selfs[s["id"]] for s in tracer.spans if s["name"] == "incremental.append"
            )
            metrics["trace.wall_s"] = wall
            metrics["trace.unattributed_s"] = selfs[0]
            metrics["trace.overhead_s"] = wall - base["wall"]
        return {
            "metrics": metrics,
            "attempted": len(ops),
            "failed": sum(1 for o in ops if o["failures"]),
            "failures": failures,
            "info": {"op_wall_s": [o["wall"] for o in ops]},
            "spans": tracer.spans,
        }


def _same(a, b) -> bool:
    if isinstance(a, pd.DataFrame):
        return a.equals(b)
    return len(a) == len(b) and all(np.array_equal(x, y) for x, y in zip(a, b))


class BatchWorkload(Workload):
    def check_resolved(self, resolved: pd.DataFrame, n_output: int, rec: dict) -> None:
        """Fill ``rec`` with the checks, F1, recall and output of one
        resolved relation (id, cluster_id, is_kept)."""
        id_col, n = self.cfg.id_col, self.corpus.n_docs
        rows = self.rows(resolved[id_col])
        cluster = -1 - np.arange(n, dtype=np.int64)
        kept = np.zeros(n, dtype=bool)
        cluster[rows] = resolved.cluster_id.values
        kept[rows] = resolved.is_kept.values
        rec["failures"] += checks.check_batch(
            self.corpus.labels, cluster, kept, n_output, len(resolved)
        )
        rec["f1"], rec["recall"] = checks.pair_quality(
            self.corpus.oracle, lambda i, j: cluster[i] == cluster[j]
        )
        if rec["recall"] < checks.MIN_RECALL:
            rec["failures"].append(f"pair recall {rec['recall']:.4f} < {checks.MIN_RECALL}")
        rec["output"] = (
            resolved[[id_col, "cluster_id", "is_kept"]]
            .sort_values(id_col, kind="stable")
            .reset_index(drop=True)
        )


class CrawlBatch(BatchWorkload):
    """The CLI's path: load → doc ids → count → checkpointed pipeline →
    count of removed docs → output written to parquet. The traced form
    runs the pipeline one stage per call on one checkpoint directory, so
    each call computes exactly one stage."""

    name = "crawl_batch"
    EXECUTED = (
        "sketch_op", "pipeline.sig_reps", "blocking", "pairs", "scoring", "clustering",
        "resolve", "pipeline.checkpoint",
    )
    # (stop_after, layer): the stages the traced form computes one by one
    TRACE_STAGES = (
        ("signatures", "sketch_op"),
        ("bands", "blocking"),
        ("pairs", "pairs"),
        ("edges", "scoring"),
        ("clusters", "clustering"),
    )
    STAGE_OF_LAYER = {
        "sketch_op": "signatures", "pipeline.sig_reps": "sig_reps", "blocking": "bands",
        "pairs": "pairs", "scoring": "edges", "clustering": "clusters", "resolve": "resolved",
    }

    def op(self, i, tracer=None):
        spark, cfg = self.spark, self.cfg
        path = self.corpus.path
        ckpt = os.path.join(self.run_dir, f"ckpt-{i}")
        out = os.path.join(self.run_dir, f"out-{i}")
        t0 = time.perf_counter()
        with self.span(tracer, self.name), instrumented(
            CheckpointStore, "append_metrics", tracer, "pipeline.checkpoint"
        ), instrumented(
            # the bands call writes sig_reps, then bands: a span around the
            # sig_reps write separates the two layers
            CheckpointStore, "write", tracer, "pipeline.sig_reps",
            when=lambda store, stage, *_: stage == "sig_reps",
        ):
            docs = with_doc_id(load_pages(spark, path), cfg)
            n = docs.count()
            # as the CLI does: the resume token binds to the input content
            token = f"{path}:rows={n}"
            for stop, layer in self.TRACE_STAGES if tracer else ():
                with tracer.span(layer):
                    run_pipeline(
                        spark, docs, cfg, checkpoint_dir=ckpt, input_token=token, stop_after=stop
                    )
            with self.span(tracer, "resolve"):
                res = run_pipeline(spark, docs, cfg, checkpoint_dir=ckpt, input_token=token)
                n_removed = res.resolved.filter(~F.col("is_kept")).count()
                dedupe_output(docs, res.resolved, cfg).write.mode("overwrite").parquet(out)
        rec = {"wall": time.perf_counter() - t0, "docs": n, "batches": [], "failures": []}
        resolved = spark.read.parquet(os.path.join(ckpt, "resolved")).toPandas()
        out_ids = spark.read.parquet(out).select(cfg.id_col).toPandas()[cfg.id_col]
        self.check_resolved(resolved, len(out_ids), rec)
        kept_ids = resolved.loc[resolved.is_kept, cfg.id_col]
        if n_removed != (~resolved.is_kept).sum() or set(out_ids) != set(kept_ids):
            rec["failures"].append("written output differs from the resolved keep set")
        if tracer:
            rec["extras"] = self._extras(tracer, ckpt, n)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _extras(self, tracer: Tracer, ckpt: str, n_docs: int) -> dict:
        with open(os.path.join(ckpt, "manifest.json")) as f:
            stage_rows = {k: v["rows"] for k, v in json.load(f).items()}
        for s in tracer.spans:
            if s["name"] in self.STAGE_OF_LAYER:
                s["rows"] = stage_rows[self.STAGE_OF_LAYER[s["name"]]]
        reps = self.spark.read.parquet(os.path.join(ckpt, "sig_reps"))
        n_reps = reps.filter(F.col(self.cfg.id_col) == F.col("rep_id")).count()
        extras = _ratios(
            stage_rows["sig_reps"], n_reps, stage_rows["pairs"], stage_rows["edges"], n_docs
        )
        extras["pipeline.checkpoint.mb"] = disk_mb(ckpt)
        return extras


def _ratios(n_sig_reps: int, n_reps: int, n_pairs: int, n_edges: int, n_docs: int) -> dict:
    # sig_reps holds every doc with a non-empty sketch; each non-rep member
    # adds one J=1.0 edge that was never scored
    scored_edges = n_edges - (n_sig_reps - n_reps)
    return {
        "pipeline.sig_reps.rep_ratio": n_reps / max(1, n_sig_reps),
        "pairs.per_doc": n_pairs / max(1, n_docs),
        "scoring.edge_yield": scored_edges / max(1, n_pairs),
    }


class DenseDupes(BatchWorkload):
    """The library path: ``run_pipeline`` without a checkpoint directory,
    materialized at ``resolved``. The traced form calls each layer's
    public function on the previous layer's persisted, counted output,
    composed as ``run_pipeline`` composes them."""

    name = "dense_dupes"
    EXECUTED = CrawlBatch.EXECUTED[:-1]

    def op(self, i, tracer=None):
        spark, cfg = self.spark, self.cfg
        t0 = time.perf_counter()
        with self.span(tracer, self.name):
            docs = with_doc_id(load_pages(spark, self.corpus.path), cfg)
            if tracer:
                resolved, counts = self._layers(docs, tracer)
            else:
                resolved = run_pipeline(spark, docs, cfg).resolved
            with self.span(tracer, "resolve") as sp:
                pdf = resolved.toPandas()
                sp["rows"] = len(pdf)
        n = self.corpus.n_docs
        rec = {"wall": time.perf_counter() - t0, "docs": n, "batches": [], "failures": []}
        self.check_resolved(pdf, int(pdf.is_kept.sum()), rec)
        if tracer:
            rec["extras"] = _ratios(
                counts["sig_reps"], counts["reps"], counts["pairs"], counts["edges"], n
            )
        return rec

    def _layers(self, docs, tracer: Tracer):
        """``run_pipeline``'s in-memory composition, one span per layer."""
        cfg, id_col = self.cfg, self.cfg.id_col
        counts = {}

        def stage(layer: str, key: str, make):
            with tracer.span(layer) as sp:
                df = track(make())
                sp["rows"] = counts[key] = df.count()
            return df

        sigs = stage("sketch_op", "signatures", lambda: sketch_documents(docs, cfg))
        sig_reps = stage("pipeline.sig_reps", "sig_reps", lambda: signature_reps(sigs, cfg))
        is_rep = F.col(id_col) == F.col("rep_id")
        with tracer.span("pipeline.sig_reps"):
            counts["reps"] = sig_reps.filter(is_rep).count()
        rep_sigs = sigs.join(sig_reps.filter(is_rep).select(id_col), id_col, "left_semi")
        bands = stage("blocking", "bands", lambda: explode_bands(rep_sigs, cfg))
        pairs = stage("pairs", "pairs", lambda: candidate_pairs(bands, cfg))
        member_edges = sig_reps.filter(~is_rep).select(
            F.col(id_col).alias("a"), F.col("rep_id").alias("b"), F.lit(1.0).alias("jaccard")
        )
        edges = stage(
            "scoring", "edges",
            lambda: score_pairs(pairs, rep_sigs, cfg)
            .filter(F.col("jaccard") >= F.lit(cfg.threshold))
            .unionByName(member_edges),
        )
        clusters = stage(
            "clustering", "clusters",
            lambda: connected_components(
                edges.select("a", "b"), max_iterations=cfg.cc_max_iterations, distinct_pairs=True
            ),
        )
        return resolve_clusters(docs, clusters, cfg), counts


class CrawlIncrements(Workload):
    """``dedupe_increment`` over a seed batch and then equal increments,
    in corpus row order, against one ``SignatureState``; each batch's kept
    docs are written and its caches released before the next batch."""

    name = "crawl_increments"
    EXECUTED = ("incremental",)
    SEED_SHARE = 0.4
    INCREMENTS = 2

    def __init__(self, spark, corpus, run_dir):
        super().__init__(spark, corpus, run_dir)
        n = corpus.n_docs
        first = int(n * self.SEED_SHARE)
        step = (n - first) // self.INCREMENTS
        self.sizes = [first] + [step] * (self.INCREMENTS - 1)
        self.sizes.append(n - sum(self.sizes))
        self.paths = corpus.batches(self.sizes)

    def op(self, i, tracer=None):
        spark, cfg = self.spark, self.cfg
        state = SignatureState(spark, os.path.join(self.run_dir, f"state-{i}"))
        outs = [os.path.join(self.run_dir, f"out-{i}-{b}") for b in range(len(self.paths))]
        walls = []
        t0 = time.perf_counter()
        with self.span(tracer, self.name), instrumented(
            SignatureState, "append", tracer, "incremental.append"
        ):
            for path, out in zip(self.paths, outs):
                tb = time.perf_counter()
                with self.span(tracer, "incremental"):
                    docs = with_doc_id(load_pages(spark, path), cfg)
                    dedupe_increment(spark, docs, state, cfg).write.mode("overwrite").parquet(out)
                    release_all()
                walls.append(time.perf_counter() - tb)
        rec = {
            "wall": time.perf_counter() - t0, "docs": self.corpus.n_docs,
            "batches": walls[1:], "failures": [],
        }
        self._check(rec, state, outs, tracer)
        shutil.rmtree(state.root, ignore_errors=True)
        for o in outs:
            shutil.rmtree(o, ignore_errors=True)
        return rec

    def _check(self, rec: dict, state: SignatureState, outs: list[str], tracer) -> None:
        id_col = self.cfg.id_col
        kept_rows = [
            np.sort(self.rows(self.spark.read.parquet(o).select(id_col).toPandas()[id_col]))
            for o in outs
        ]
        state_rows = state.signatures().count()
        rec["failures"] += checks.check_increments(
            self.corpus.labels, self.sizes, kept_rows, state_rows
        )
        kept = np.zeros(self.corpus.n_docs, dtype=bool)
        kept[np.concatenate(kept_rows)] = True
        # no clusters span batches: a labeled pair counts as predicted
        # duplicate when at most one of its docs survived
        rec["f1"], rec["recall"] = checks.pair_quality(
            self.corpus.oracle, lambda a, b: not (kept[a] and kept[b])
        )
        if rec["recall"] < checks.MIN_RECALL:
            rec["failures"].append(f"pair recall {rec['recall']:.4f} < {checks.MIN_RECALL}")
        rec["output"] = kept_rows
        if tracer:
            batch_spans = [s for s in tracer.spans if s["name"] == "incremental"]
            for s, r in zip(batch_spans, kept_rows):
                s["rows"] = len(r)
            rec["extras"] = {
                "incremental.state_rows": float(state_rows),
                "incremental.state_mb": disk_mb(state.root),
            }


def make(name: str, spark, corpus, run_dir: str) -> Workload:
    classes = {c.name: c for c in (CrawlBatch, DenseDupes, CrawlIncrements)}
    if name not in classes:
        raise ValueError(f"unknown workload {name!r}")
    return classes[name](spark, corpus, run_dir)
