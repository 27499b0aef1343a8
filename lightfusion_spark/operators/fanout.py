"""Degenerate-parallelism guard for per-row-heavy operators.

Several operators in this package do expensive per-row work — dynamic-
programming edit distance, Arrow-batched n-gram folds, codec decodes —
whose cost is linear in rows but heavy per row.  When their input scan
arrives with fewer splits than the cluster has slots (one small parquet
file, one unsplittable row group, one gzip member), that whole cost
lands on ONE task while the rest of the cluster idles: the classic
"input skew" failure mode (optimization guide §2.5 — "one huge
unsplittable file … repartition immediately after the read").

:func:`fan_out` is the shared fix: repartition the (already projected,
narrow) relation to the cluster's default parallelism — but ONLY when
the source scan's split count is below it.  At warehouse scale a scan
arrives with thousands of splits and this is a structural no-op (no
exchange is added); the repartition fires exactly in the degenerate
case, where the shuffle moves a few MB once so that the heavy compute
runs wide.

The gate is metadata-only and never runs a job: it reads the relation's
input-file list (already resolved by the scan) and estimates the split
count the way ``FilePartition`` packs splits — ``bytes /
maxPartitionBytes``, floored at one split per file.  Relations with no
file source (in-memory fixtures, checkpointed intermediates) are left
untouched: their parallelism was chosen by whoever materialized them.

Correctness: a round-robin repartition changes row order and row-to-
partition placement, so callers must be partition-order-insensitive.
Every caller in this package is — their downstream aggregations are
exact integer/DECIMAL cell sums (associative and commutative) or
per-row projections, the repo-wide exactness convention.

The module also owns the materialization policy: :func:`pin` shares a
multi-consumer intermediate, and :func:`fixed_point`, the one round
loop of the iterative graph operators, pins every round through it.
"""

from __future__ import annotations

import sys
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame


def _max_partition_bytes(spark) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                raw
            )
        )
    except Exception:  # pragma: no cover — exotic conf strings
        return 128 * 1024 * 1024


def scan_splits(df: DataFrame, enough: int | None = None) -> int | None:
    """Estimated scan-task count of ``df``'s file source, or ``None``
    when the relation has no file source.  Metadata-only — reuses the
    scan's already-resolved file index, no job, no extra listing.

    ``enough`` short-circuits the per-file size lookup: every file packs
    into at least one split, so ``len(files)`` is a lower bound on the
    split count — when it already reaches ``enough``, the exact number
    cannot change the caller's decision and the function returns the
    bound without issuing a single ``getFileStatus`` RPC.  That keeps
    plan construction O(1) driver calls on a warehouse table with 10^5
    files, where the per-file loop would be minutes of namenode/object-
    store latency for a branch that can never be taken.
    """
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover
        return None
    if not files:
        return None
    if enough is not None and len(files) >= enough:
        return len(files)
    spark = df.sparkSession
    mpb = _max_partition_bytes(spark)
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            size = fs.getFileStatus(p).getLen()
            splits += max(1, -(-int(size) // mpb))
        return splits
    except Exception:  # pragma: no cover — unreachable paths, perms
        return len(files)


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread ``df`` to ``target`` partitions if its source scan has
    fewer splits; return it unchanged otherwise.

    ``target`` defaults to ``sparkContext.defaultParallelism`` — the
    session's slot count, never a constant (the same query scales down
    to a 2-core driver run and up to a cluster without edits).
    """
    spark = df.sparkSession
    tgt = int(target) if target else int(spark.sparkContext.defaultParallelism)
    if tgt <= 1:
        return df
    cur = scan_splits(df, enough=tgt)
    if cur is None or cur >= tgt:
        return df
    return df.repartition(tgt)


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Unconditional explicit repartition to the session's default
    parallelism — the EXPLODE-AMPLIFICATION guard (guide §2.5's skew
    family, the post-shuffle variant :func:`fan_out` cannot see).

    AQE coalesces small shuffle outputs by BYTES, so a few-MB
    intermediate (per-pair metric cells, per-query scalar grades)
    collapses to one partition — and a downstream ``n_boot``-wide
    explode with one md5 per exploded row then runs its entire
    33x-amplified CPU on ONE core (measured 6.6 s -> 1.7 s on the
    ranking bootstrap at sf0.1, bit-identical output).  An EXPLICIT
    user repartition is exempt from AQE coalescing, so this pins the
    stage wide.

    Cost model at scale: the exchange moves the PRE-explode relation —
    a fixed ``1/n_boot``-th of the stream the exploded stage processes
    — so the guard costs a few percent of the work it parallelizes at
    ANY scale; callers apply it right before the explode.  Correctness:
    round-robin placement only — callers are partition-order-
    insensitive (exact integer/DECIMAL cell sums, the repo-wide
    exactness convention).
    """
    spark = df.sparkSession
    tgt = int(target) if target else int(spark.sparkContext.defaultParallelism)
    if tgt <= 1:
        return df
    return df.repartition(tgt)


def pin(df: DataFrame) -> DataFrame:
    """Share a MULTI-CONSUMER intermediate: ``localCheckpoint`` the
    frame so it materializes once and every consumer reads stored
    partitions (guide §1.4 "the same relation computed twice", §5).

    Catalyst cannot collapse the duplication this fixes: each consumer
    prunes different columns into its branch, so the branch subplans
    differ and ReuseExchange never fires — the baseline
    pipe_mixture_domain plan carried FIVE copies of the NB-scoring
    subtree (50 parquet scans).  Implementation choice is MEASURED
    (interleaved same-session A/B at sf0.1, 4 samples each):
    ``persist()`` lost to no-pin everywhere (the columnar cache
    write/read costs more than the recompute it saves — qa 2.54 vs
    1.91 s best), while ``localCheckpoint(eager=False)`` won (qa 1.48,
    mixture_domain 2.91 vs 3.83 base).  Note the AQE caveat: a "lazy"
    localCheckpoint still materializes the child's SHUFFLE stages at
    construction time (``.toRdd`` drives ``getFinalPhysicalPlan``),
    so the pin moves that work from exec to build — the total is what
    the A/B accepts, and only the final stage stays lazy.

    Callers pin only BOUNDED intermediates (per-stratum aggregates,
    per-question grade rows, per-doc predictions — never a raw corpus
    payload), so the stored bytes are the same size class as the
    shuffle that produced them.

    Fault-tolerance trade (r17 advice): a localCheckpoint truncates
    lineage, so the stored partitions are UNRECOVERABLE on executor
    loss — the job fails and is retried from the top instead of
    recomputing the lost partition.  Acceptable here because every
    pinned frame is rebuilt per query construction anyway (nothing is
    shared across runs); long-lived production pipelines wanting
    recomputability should land the intermediate to storage instead.
    """
    return df.localCheckpoint(eager=False)


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Callable[[DataFrame, DataFrame], bool],
    iterations: int | None,
    max_iterations: int,
    exhausted: str,
) -> tuple[DataFrame, int, bool]:
    """The driver-side round loop of the iterative graph operators
    (PageRank, personalized PageRank, label propagation, k-core,
    connected components); returns ``(state, rounds, converged)``.

    * ``iterations=k`` -- exactly ``k`` rounds of ``state = step(state)``
      and no probe, so no driver round-trip inside the loop (the
      oracle-replayable mode); ``converged`` is ``True``.
    * ``iterations=None`` -- round until ``changed(old, new)`` is false
      (returning ``new``) or ``max_iterations`` rounds are spent, which
      warns ``exhausted`` as a ``RuntimeWarning`` and returns
      ``converged=False``: exhaustion is loud, never a silently
      unconverged result.

    One pin policy for every loop: each round's state goes through
    :func:`pin` (lazy).  A round's state has several consumers in the
    next round (PageRank's dangling mass and contributions, the
    two-phase CC's union), so an unpinned plan would nest every earlier
    round.  The lazy pin adds no job of its own: the shuffle stages
    below it run while the round is built (the AQE caveat in
    :func:`pin`), and its final stage is stored by the first job that
    reads it — in convergence mode the round's one probe job, so a
    round costs one job fewer than an eager pin followed by a probe
    (the r17 PageRank and r18 connected-components measurements).
    """
    converging = iterations is None
    rounds = 0
    for rounds in range(1, (max_iterations if converging else iterations) + 1):
        new = pin(step(state))
        if converging and not changed(state, new):
            return new, rounds, True
        state = new
    if converging:
        # attribute the warning to the first caller outside the package,
        # however many operator frames (a shared rank walk, a wrapper
        # returning ``.labels``) sit between it and this loop
        level, frame = 1, sys._getframe()
        while frame.f_globals.get("__name__", "").startswith("lightfusion_spark."):
            level, frame = level + 1, frame.f_back
        warnings.warn(exhausted, RuntimeWarning, stacklevel=level)
    return state, rounds, not converging
