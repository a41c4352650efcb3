"""Incremental / streaming dedupe: new documents vs a retained-unique store.

The reference's comparer is exactly this shape — each arriving document is
scored against the retained uniques sharing a band key; matches are dropped,
survivors join the retained set (`/root/reference/CPPDeduper/
ComparerThread.h:271-414`). Batch Spark replays that per micro-batch:

* state = (signatures, bands) parquet directories — the Spark analogue of
  the reference's hash arena + LSH maps (`HashTable.h:24-109`,
  `LSHBandHashMap.h:234-358`), except durable and append-only.
* a new batch is first deduped *within itself* (the full pipeline), then
  its survivors are scored against state candidates; docs matching state
  are dropped; the rest are appended to state.

Ordering semantics (default) match the reference's arrival-order greedy
pass at batch granularity: earlier batches always win; within a batch the
transitive-clustering keep-first rule applies (SURVEY.md §2 C1).
``strict_order=True`` instead reproduces the reference's EXACT per-doc
keep/drop decisions (state-match elimination + arrival-order greedy over
the remainder — see dedupe_increment).

``stream_dedupe`` wires this into Structured Streaming via foreachBatch —
the recommended pattern for stateful sinks with exactly-once parquet
output; the state directories make restarts idempotent per epoch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupeConfig
from ..operators.sketch_op import sketch_documents
from ..operators.blocking import explode_bands
from ..operators.pairs import candidate_pairs
from ..operators.scoring import score_pairs
from ..operators.clustering import connected_components
from ..operators.resolve import resolve_clusters


def _family_fns(family: str):
    """(sketch, bands, score) function triple for a hash family.

    ``parity`` is the production family (XXH64 over the reference
    tokenizer's UTF-16 bytes — bit-equal to the reference, not
    SQL-expressible). ``sql`` is the md5 family of plans/sql_mode.py:
    identical pipeline topology over hashes BOTH Spark and DuckDB compute,
    which is what lets the driver hash-verify the incremental semantics
    end-to-end (the ``incremental_sql_dedupe`` oracle replays the same
    batch-sequential pass in SQL). Everything downstream of the triple —
    candidate join, state store, batch ordering — is the SAME code either
    way, so a green sql-family row verifies the shared machinery."""
    if family == "parity":
        return sketch_documents, explode_bands, score_pairs
    if family == "sql":
        from ..plans.sql_mode import sql_bands, sql_score_pairs, sql_sketch

        return sql_sketch, sql_bands, sql_score_pairs
    raise ValueError(f"unknown hash family {family!r} (use 'parity' or 'sql')")


class SignatureState:
    """Durable retained-unique store: signatures + exploded bands.

    Filesystem assumption: the state root must be a SHARED POSIX
    filesystem (NFS/Lustre/local in tests) — compaction and crash
    recovery rely on atomic same-directory ``os.rename`` and on the
    driver seeing the files executors wrote, the same assumption the
    reference's output writer makes (`DupeResolverThread.h:138-196`).
    On an object store (S3/GCS) rename is copy+delete and not atomic;
    the intended deployment there is the Iceberg-backed
    ``CheckpointStore`` seam (plans/pipeline.py) where the table commit
    protocol replaces the rename dance and ``compact`` maps to
    ``rewrite_data_files``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.sig_path = os.path.join(root, "signatures")
        self.bands_path = os.path.join(root, "bands")

    def exists(self) -> bool:
        self._recover(self.sig_path)
        self._recover(self.bands_path)
        return os.path.exists(os.path.join(self.sig_path, "_SUCCESS"))

    def signatures(self) -> DataFrame:
        self._recover(self.sig_path)
        return self.spark.read.parquet(self.sig_path)

    def bands(self) -> DataFrame:
        self._recover(self.bands_path)
        return self.spark.read.parquet(self.bands_path)

    def append(self, signatures: DataFrame, bands: DataFrame) -> None:
        # the two appends are independent jobs on different directories;
        # submitting them from two driver threads lets the second job's
        # tasks back-fill executors freed by the first one's tail (the
        # standard overlap-independent-jobs pattern) instead of paying two
        # full job latencies back to back (r6). Callers persist the shared
        # survivor-id input, so concurrent materialization is computed
        # once (Spark block manager serializes the cache fill).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fs = [
                ex.submit(
                    lambda df=df, path=path: df.write.mode("append").parquet(path)
                )
                for df, path in (
                    (signatures, self.sig_path),
                    (bands, self.bands_path),
                )
            ]
            for f in fs:
                f.result()

    def compact(self, target_partitions: int | None = None) -> None:
        """Rewrite the state dirs into ``target_partitions`` files each.
        Every micro-batch append adds a handful of small files; after many
        epochs the candidate join against state pays one scan task per
        tiny file. Compaction is an offline maintenance pass (the Iceberg
        analogue is rewrite_data_files).

        Crash safety: the swap is two renames, not one atomic operation —
        a crash between them leaves the live dir missing but the previous
        state intact under ``_old``; ``_recover()`` (called here and on
        every read) renames it back. Stale ``_compacting``/``_old``
        leftovers from prior crashes are cleared up-front, so compact
        always starts from a clean slate instead of raising.

        Concurrency: compaction is single-writer, enforced with an
        O_EXCL lock file at the state root — two simultaneous compacts
        would race on the same ``_compacting``/``_old`` renames. A second
        caller raises ``RuntimeError`` immediately (maintenance jobs
        should serialize, not queue). A lock left behind by a crashed
        compact is broken after ``lock_timeout_sec`` (the dead process
        cannot refresh its mtime); the break itself is atomic — the stale
        lock is renamed to a caller-unique name first, so of two waiters
        observing the same stale lock exactly one wins the rename and
        breaks it, the other sees FileNotFoundError and retries O_EXCL
        against whatever lock the winner creates. A LIVE holder refreshes
        the lock mtime after each long Spark rewrite (once per state dir),
        so ``lock_timeout_sec`` bounds a single directory rewrite, not the
        whole compact — a legitimately slow compact is not broken mid-run."""
        import shutil

        self._acquire_lock()
        try:
            for path in (self.sig_path, self.bands_path):
                self._recover(path)
                tmp, old = path + "_compacting", path + "_old"
                shutil.rmtree(tmp, ignore_errors=True)  # stale half-written rewrite
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    continue
                df = self.spark.read.parquet(path)
                n = target_partitions or max(
                    2, self.spark.sparkContext.defaultParallelism
                )
                df.repartition(n).write.mode("overwrite").parquet(tmp)
                self._refresh_lock()  # still alive: the rewrite was the slow part
                os.rename(path, old)
                os.rename(tmp, path)  # crash before this line -> _recover undoes
                shutil.rmtree(old)
        finally:
            self._release_lock()

    # single-writer compaction lock -------------------------------------
    lock_timeout_sec: float = 3600.0

    @property
    def _lock_path(self) -> str:
        return os.path.join(self.root, "_compact.lock")

    def _acquire_lock(self) -> None:
        import time
        import uuid

        lock = self._lock_path
        try:
            if (
                os.path.exists(lock)
                and time.time() - os.path.getmtime(lock) > self.lock_timeout_sec
            ):
                # Atomic stale-break: rename-then-unlink. Of two waiters
                # that both observed the stale mtime, exactly one rename
                # succeeds (rename of an already-moved file raises); the
                # loser falls through to O_EXCL and collides with whatever
                # lock the winner creates next. A plain unlink here would
                # let the second waiter delete the FIRST waiter's freshly
                # created lock (the TOCTOU the advisor flagged).
                grave = f"{lock}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
                os.rename(lock, grave)
                os.unlink(grave)
        except FileNotFoundError:
            pass
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"another compact holds {lock}; state compaction is "
                "single-writer (serialize maintenance jobs, or remove the "
                "lock file if the holder is known dead)"
            )
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))

    def _refresh_lock(self) -> None:
        """Holder heartbeat: bump the lock mtime so a compact whose SINGLE
        slow step stays under ``lock_timeout_sec`` is never stale-broken
        mid-run even when the whole compact takes longer."""
        try:
            os.utime(self._lock_path)
        except FileNotFoundError:
            pass  # lock was force-removed; the renames still race-protect via _recover

    def _release_lock(self) -> None:
        try:
            os.unlink(self._lock_path)
        except FileNotFoundError:
            pass

    @staticmethod
    def _recover(path: str) -> None:
        """If a prior compact crashed between its two renames (live dir
        missing, ``_old`` present), restore the previous state."""
        import shutil

        old = path + "_old"
        if os.path.exists(old):
            if os.path.exists(path):
                shutil.rmtree(old)  # crash after the swap completed
            else:
                os.rename(old, path)


def dedupe_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    state: SignatureState,
    cfg: DedupeConfig,
    strict_order: bool = False,
    family: str = "parity",
) -> DataFrame:
    """Process one batch; returns the surviving (kept) docs with full
    schema, and appends their signatures to the state.

    ``strict_order=False`` (default): within-batch transitive clustering
    (keep-first per component), then survivors are dropped if they match
    state — batch-granularity arrival order (SURVEY.md §2 C1).

    ``strict_order=True``: the reference's EXACT per-doc pass
    (`ComparerThread.h:271-414`) — a doc is dropped iff it matches an
    already-RETAINED earlier doc. Because every state doc is retained and
    earlier than the whole batch, this factors exactly: (1) docs matching
    state are dropped outright (they can never be retained, so they also
    cannot drop anyone); (2) the remaining docs run the arrival-order
    greedy fixed-point (operators/greedy.py) over the within-batch edges
    restricted to them. The two modes genuinely differ: for batch docs
    X < Y with X~Y, where X matches state but Y does not, the default
    drops both (Y loses to X within-batch, X loses to state) while the
    reference keeps Y (its only match X was never retained) — pinned in
    tests/test_greedy.py."""
    from ..cache import track

    id_col = cfg.id_col
    sketch_fn, bands_fn, score_fn = _family_fns(family)

    # multi-consumer intermediates: the signatures feed the within-batch
    # scoring, the state scoring, and the state append; the bands feed
    # candidate generation (itself a multi-pass consumer), the state
    # candidate join, and the append. Unpersisted, each consumer re-runs
    # the full sketch of the batch — 3-4 extra corpus passes per epoch at
    # any scale. Registered with the session cache registry; the caller
    # releases after materializing the batch (cache.py contract).
    sigs_new = track(sketch_fn(new_docs, cfg))
    bands_new = track(bands_fn(sigs_new, cfg))

    if strict_order:
        return _dedupe_increment_strict(
            spark, new_docs, sigs_new, bands_new, state, cfg, score_fn
        )

    # 1. dedupe the batch against itself (full pipeline semantics)
    pairs_in = candidate_pairs(bands_new, cfg)
    edges_in = score_fn(pairs_in, sigs_new, cfg).filter(
        F.col("jaccard") >= F.lit(cfg.threshold)
    )
    clusters = connected_components(
        edges_in.select("a", "b"), cfg.cc_max_iterations, distinct_pairs=True
    )
    resolved = resolve_clusters(new_docs, clusters, cfg)
    # survivor-ID persists (r6): the within-batch kept set feeds the state
    # scoring joins, BOTH state appends, and the returned kept relation —
    # unpersisted, each consumer re-ran the whole resolve subtree (docs ⋈
    # clusters → min-agg → join-back), measured ~3 extra resolve passes per
    # epoch. The persisted relation is one slim id column per batch, the
    # same registry/lifecycle as the sketch persists above.
    kept_ids = track(
        resolved.filter(F.col("is_kept")).select(id_col)
    )

    # 2. score batch survivors against the retained state (reference
    # semantics: incoming doc vs retained uniques sharing >=1 band)
    if state.exists():
        dup_ids = _state_matches(
            sigs_new.join(kept_ids, id_col, "left_semi"),
            bands_new.join(kept_ids, id_col, "left_semi"),
            state,
            cfg,
            score_fn,
        )
        # final survivors = within-batch keepers minus state matches; one
        # slim persisted id relation shared by the appends and the return
        survivor_ids = track(kept_ids.join(dup_ids, id_col, "left_anti"))
    else:
        survivor_ids = kept_ids

    # 3. append survivors to state
    state.append(
        sigs_new.join(survivor_ids, id_col, "left_semi"),
        bands_new.join(survivor_ids, id_col, "left_semi"),
    )
    return new_docs.join(survivor_ids, id_col, "left_semi")


def _state_matches(
    sigs: DataFrame,
    bands: DataFrame,
    state: SignatureState,
    cfg: DedupeConfig,
    score_fn,
) -> DataFrame:
    """Distinct ids of the batch docs in ``sigs``/``bands`` that match a
    retained state doc (reference semantics: incoming doc vs retained
    uniques sharing >= 1 band, J >= threshold). Shared by both modes."""
    id_col = cfg.id_col
    cand = (
        bands.select("band_id", "band_key", F.col(id_col).alias("a"))
        .join(
            state.bands().select("band_id", "band_key", F.col(id_col).alias("b")),
            ["band_id", "band_key"],
        )
        # a != b: the state dir is re-listed on every (re)computation of
        # the returned DataFrame, so after append() it contains this
        # batch's own survivors — without the guard a lazy consumer
        # collecting post-append would match each survivor against itself
        # (J=1.0) and drop it. Survivor-vs-survivor pairs are harmless:
        # they already passed within-batch dedupe (J < thresh).
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    all_sigs = sigs.unionByName(state.signatures().select(sigs.columns))
    matches = score_fn(cand, all_sigs, cfg).filter(
        F.col("jaccard") >= F.lit(cfg.threshold)
    )
    return matches.select(F.col("a").alias(id_col)).distinct()


def _dedupe_increment_strict(
    spark: SparkSession,
    new_docs: DataFrame,
    sigs_new: DataFrame,
    bands_new: DataFrame,
    state: SignatureState,
    cfg: DedupeConfig,
    score_fn=score_pairs,
) -> DataFrame:
    """strict_order=True body: state-match first, then arrival-order greedy
    over the remaining docs (see dedupe_increment docstring for the proof
    sketch that this equals the reference's per-doc pass)."""
    from ..cache import track
    from ..operators.greedy import greedy_resolve

    id_col = cfg.id_col

    live_docs = new_docs
    if state.exists():
        # slim persisted id relation: the state-dropped set feeds the
        # live-docs anti-join whose result is consumed twice below (band
        # restriction + the greedy doc list) — unpersisted, the whole
        # state-scoring join re-ran per consumer (r6, same rationale as
        # the default path's survivor-id persist)
        state_dropped = track(
            _state_matches(sigs_new, bands_new, state, cfg, score_fn)
        )
        live_docs = new_docs.join(state_dropped, id_col, "left_anti")

    live_ids = live_docs.select(id_col)
    bands_live = bands_new.join(live_ids, id_col, "left_semi")
    pairs_in = candidate_pairs(bands_live, cfg)
    edges_in = score_fn(pairs_in, sigs_new, cfg).filter(
        F.col("jaccard") >= F.lit(cfg.threshold)
    )
    # distinct_pairs: candidate_pairs ends in dropDuplicates and the
    # scoring joins are 1:1 per pair
    out = greedy_resolve(
        live_docs.select(id_col),
        edges_in.select("a", "b"),
        cfg,
        distinct_pairs=True,
    )
    # survivor-ID persist (r6): shared by both state appends and the
    # returned kept relation — see dedupe_increment
    survivor_ids = track(out.filter(F.col("is_kept")).select(id_col))
    state.append(
        sigs_new.join(survivor_ids, id_col, "left_semi"),
        bands_new.join(survivor_ids, id_col, "left_semi"),
    )
    return new_docs.join(survivor_ids, id_col, "left_semi")


def stream_dedupe(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    output_dir: str,
    cfg: DedupeConfig,
    checkpoint_dir: str | None = None,
    strict_order: bool = False,
):
    """Structured Streaming wrapper: readStream source → per-micro-batch
    incremental dedupe → parquet sink. Returns the StreamingQuery."""
    state = SignatureState(spark, state_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from ..cache import release_all

        kept = dedupe_increment(spark, batch_df, state, cfg, strict_order=strict_order)
        kept.write.mode("append").parquet(output_dir)
        # the epoch's tracked sketch/band persists die with the epoch — a
        # long-running stream must not accumulate one cached RDD pair per
        # micro-batch (cache.py contract: the materializing caller releases)
        release_all()

    return (
        source.writeStream.foreachBatch(process)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
