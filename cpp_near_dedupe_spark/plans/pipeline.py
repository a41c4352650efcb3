"""The staged dedupe pipeline: sketch → block → pairs → score → cluster → resolve.

Replaces the reference's hard-wired thread topology
(`/root/reference/CPPDeduper/CPPDeduper.cpp:85-217`) with six declarative
DataFrame stages, each checkpointed to the stage store so any stage is
resumable (north_rule): a rerun skips every stage whose checkpoint manifest
entry matches the (config fingerprint, input token) — the Spark analogue of
the reference's drain/restart-from-scratch model, which had no resumability
at all.

Checkpoint store: parquet directories + a JSON manifest. In a production
deployment each stage writes an Iceberg table and the manifest is the
Iceberg snapshot lineage; this environment has no Iceberg runtime jars, so
the store abstracts only what we need (write/read/exists). Per-stage,
per-partition row counters are appended to ``_metrics`` (lineage
requirement). Once the pairs stage has committed, the over-cap buckets
its topology routed by are appended to ``_metrics_hot_buckets`` — read
from the same detector (``operators.pairs.hot_buckets``) that pair
generation used, so with or without a store the pair set is the same and
the lineage shows what was routed (no silent drops). Its ``bucket_size``
is the topology's routing figure: exact under all_pairs, the 2% sample
estimate under chain_star.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupeConfig
from ..operators.sketch_op import sketch_documents
from ..operators.blocking import explode_bands
from ..cache import track
from ..operators.pairs import candidate_pairs, hot_buckets
from ..operators.scoring import score_pairs
from ..operators.clustering import connected_components
from ..operators.resolve import resolve_clusters

STAGES = ("signatures", "sig_reps", "bands", "pairs", "edges", "clusters", "resolved")

# bump when the stage DAG or a stage's semantics change, so stale
# checkpoints from older layouts can never be resumed into a new run
# (v4: all_pairs hot-bucket routing became windowless hash-head+star;
# v5: chain_star salts from its sampled hot-bucket estimate with or
# without a store — v4 store checkpoints hold exact-salted pairs)
PIPELINE_VERSION = 5


class CheckpointStore:
    """Parquet-directory stage store with a JSON manifest."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.json")

    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        e = self._manifest().get(stage)
        return bool(e) and e.get("fingerprint") == fingerprint and os.path.exists(
            os.path.join(self.path(stage), "_SUCCESS")
        )

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage))

    def write(self, stage: str, df: DataFrame, fingerprint: str) -> DataFrame:
        t0 = time.time()
        df.write.mode("overwrite").parquet(self.path(stage))
        out = self.spark.read.parquet(self.path(stage))
        rows = self.append_metrics(stage, out)  # one job: lineage + total
        m = self._manifest()
        m[stage] = {
            "fingerprint": fingerprint,
            "rows": rows,
            "wall_sec": round(time.time() - t0, 2),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._save_manifest(m)
        return out

    def append_metrics(self, stage: str, df: DataFrame) -> int:
        """Per-partition row counters for the stage output (lineage).
        Returns the total row count (so callers don't need a second job)."""
        counters = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit(stage))
        )
        pdf = counters.toPandas()  # tiny: one row per partition
        if len(pdf):
            self.spark.createDataFrame(pdf).write.mode("append").parquet(
                os.path.join(self.root, "_metrics")
            )
        return int(pdf["rows"].sum()) if len(pdf) else 0

    def append_hot_buckets(self, hot: DataFrame) -> None:
        """Hot-bucket lineage: the over-cap buckets the pairs stage routed
        by. Separate directory from the per-partition counters — the two
        writers have different schemas and a mixed parquet dir would be
        read back nondeterministically (schema sampled per-footer)."""
        hot.select("band_key", "bucket_size").withColumn(
            "stage", F.lit("pairs_hot_buckets")
        ).write.mode("append").parquet(os.path.join(self.root, "_metrics_hot_buckets"))


def signature_reps(signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Identical-sketch collapse: (id, sig_len, signature) → (id, rep_id)
    with rep_id = min id per distinct non-empty signature.

    Byte-identical sketches are duplicates by definition (J = 1.0 for
    non-empty sketches), and at web scale the exact-dupe/boilerplate mass
    is large, so blocking/pairing/scoring run over one representative per
    distinct sketch; members rejoin as direct J=1.0 edges before
    clustering.

    Physical shape: grouping and the member join run on a 96-bit composite
    fingerprint of the signature (``xxhash64`` + 32-bit murmur3 ``hash``,
    two independent JVM hash families over the raw array), NOT on the
    ~2 KB array itself. Both shuffles of this stage then carry ~20 B/row
    instead of the full sketch (~100× less volume than grouping on the
    array), every row is fixed-width (an earlier collect_list formulation
    materialized one UNBOUNDED row per family — a 10⁷-member boilerplate
    family OOMed by construction; the min-aggregate + join-back never
    builds a list), and a mega-family is just a skewed join key that AQE
    skew-splitting handles. Collision math: a false J=1.0 merge needs two
    DISTINCT sketches with equal 96-bit fingerprints; at 10⁹ distinct
    sketches P[any such pair] ≈ 10¹⁸/2⁹⁷ ≈ 6·10⁻¹² — orders of magnitude
    below the 64-bit band-key equivalence the pairing stage already
    accepts (operators/pairs.py), so the fingerprint is not the weakest
    link anywhere.
    """
    id_col = cfg.id_col
    keyed = signatures.filter(F.col("sig_len") > 0).select(
        id_col,
        F.xxhash64("signature").alias("_k1"),
        F.hash("signature").alias("_k2"),
    )
    reps = keyed.groupBy("_k1", "_k2").agg(F.min(id_col).alias("rep_id"))
    return keyed.join(reps, ["_k1", "_k2"]).select(id_col, "rep_id")


@dataclass
class PipelineResult:
    signatures: DataFrame
    bands: DataFrame
    pairs: DataFrame
    edges: DataFrame
    clusters: DataFrame
    resolved: DataFrame


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupeConfig | None = None,
    checkpoint_dir: str | None = None,
    input_token: str = "",
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the dedupe pipeline over ``docs``.

    ``docs`` must carry ``cfg.id_col`` (long, unique) and ``cfg.text_col``.
    With ``checkpoint_dir``, completed stages (matching config fingerprint +
    input token) are read back instead of recomputed; ``stop_after`` lets
    callers run a prefix (used by the resume tests and by incremental jobs).
    """
    cfg = cfg or DedupeConfig()
    cfg.validate()
    store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
    fp = f"v{PIPELINE_VERSION}:" + cfg.fingerprint() + ":" + input_token

    # Persist only stages that are CONSUMED MORE THAN ONCE downstream
    # (Spark does not CSE duplicated UDF subtrees, so e.g. unpersisted
    # signatures would re-run the sketch kernel once per reference).
    # Caching single-consumer stages just doubles their memory traffic —
    # measured slower. bands has one consumer under chain_star (the
    # window) but three under all_pairs (cold/hot/overflow branches);
    # clusters feeds resolve's clustered-join, reps aggregation AND the
    # singleton anti-join (3 consumers). bands feeds the hot-bucket
    # detector plus the cold/hot branches under BOTH topologies.
    # "resolved" is NOT here (r6): every caller consumes it exactly once
    # (audited: entry/queries/dedupe_output all reference it in a single
    # plan branch), so persisting it only added a cache write of the
    # widest per-doc relation.
    multi_consumer = {"signatures", "sig_reps", "bands", "clusters"}

    def stage(name: str, make, after_commit=None) -> DataFrame:
        if store is None:
            out = make()
            if name in multi_consumer:
                # registered with the session cache registry — callers
                # (bench, driver query wrappers) release between queries
                out = track(out)
            return out
        if store.is_complete(name, fp):
            return store.read(name)
        out = store.write(name, make(), fp)
        if after_commit is not None:
            after_commit()
        return out

    id_col = cfg.id_col
    signatures = stage("signatures", lambda: sketch_documents(docs, cfg))
    if stop_after == "signatures":
        return PipelineResult(signatures, None, None, None, None, None)

    # Identical-sketch collapse (see signature_reps): blocking/pairing/
    # scoring run over one representative per distinct sketch; members
    # rejoin as direct J=1.0 edges before clustering. Clustering output is
    # identical-or-better (members are guaranteed connected even where the
    # hot-bucket cap would have star-routed them).
    sig_reps = stage("sig_reps", lambda: signature_reps(signatures, cfg))
    rep_sigs = signatures.join(
        sig_reps.filter(F.col(id_col) == F.col("rep_id")).select(id_col),
        id_col,
        "left_semi",
    )

    bands = stage("bands", lambda: explode_bands(rep_sigs, cfg))
    if stop_after == "bands":
        return PipelineResult(signatures, bands, None, None, None, None)

    # observability: record the over-cap buckets pair generation routed
    # by, once per computed pairs stage and only AFTER it has committed —
    # a crash before the commit leaves no lineage behind to double-count
    # on resume (a crash between the commit and the append loses that
    # run's lineage instead). hot_buckets is the same (cached) detector
    # candidate_pairs used, so this reads the cache, not the bands table.
    pairs = stage(
        "pairs",
        lambda: candidate_pairs(bands, cfg),
        after_commit=lambda: store.append_hot_buckets(hot_buckets(bands, cfg)),
    )
    if stop_after == "pairs":
        return PipelineResult(signatures, bands, pairs, None, None, None)

    def make_edges() -> DataFrame:
        scored = score_pairs(pairs, rep_sigs, cfg).filter(
            F.col("jaccard") >= F.lit(cfg.threshold)
        )
        member_edges = (
            sig_reps.filter(F.col(id_col) != F.col("rep_id"))
            .select(
                F.col(id_col).alias("a"),
                F.col("rep_id").alias("b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return scored.unionByName(member_edges)

    edges = stage("edges", make_edges)
    if stop_after == "edges":
        return PipelineResult(signatures, bands, pairs, edges, None, None)

    clusters = stage(
        "clusters",
        # distinct_pairs: candidate_pairs ends in dropDuplicates and the
        # identical-sketch member edges are disjoint from scored rep-rep
        # pairs, so the edge list is already distinct as sets
        lambda: connected_components(
            edges.select("a", "b"),
            max_iterations=cfg.cc_max_iterations,
            distinct_pairs=True,
        ),
    )
    if stop_after == "clusters":
        return PipelineResult(signatures, bands, pairs, edges, clusters, None)

    resolved = stage("resolved", lambda: resolve_clusters(docs, clusters, cfg))
    return PipelineResult(signatures, bands, pairs, edges, clusters, resolved)
