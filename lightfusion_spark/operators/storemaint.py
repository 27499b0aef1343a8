"""The batch-appended CELL store contract, and its layout maintenance.

Every maintained eval-metric store in this repo — BLEU, chrF, WER,
ROUGE, QA, ranking, win-rate, binary-score (AUC/PR/Brier) and pass@k —
follows one replay contract, implemented here once:

* append (:func:`append_cells`): each batch appends cells that are a
  DETERMINISTIC function of the batch's data, tagged with its
  ``batch_id``, so a micro-batch replayed after checkpoint recovery
  re-appends bit-identical rows under the same id;
* read (:func:`read_cells`): MAX of every non-key cell per (keys,
  ``batch_id``) — the identity on a clean store, and a collapse of any
  replay residue — then ``batch_id`` dropped;
* finish: :func:`sum_cells` adds the clean cells across batches where
  the store's finisher does not sum for itself, and the finisher is
  shared verbatim with the one-shot operator, so the store read equals
  the one-shot metric over the concatenation of all batches bit for
  bit (``tests/test_storemaint.py`` pins this for all nine stores).

A replay can therefore never double-count.  The cheapest correct append
is one parquet file per batch — so a long-lived store accumulates one
file per batch forever, and every read pays a task per file.  The
sketch stores solved this with a semantic fold
(``sketch_compact_state`` — a fence plus cell summation); the IVF index
with a validated rewrite (``ivf_compact``).  :func:`compact_cell_store`
is the store-agnostic version of the latter: a PHYSICAL rewrite that
never interprets the cells.

It works on any append-dir whose rows carry a ``batch_id`` column
(the conversation-dedup relations included) because it only ever
collapses BIT-IDENTICAL full rows — exactly the rows a replayed batch
re-appends (appends are deterministic, the family contract), and never
two distinct logical rows (within a batch, cells are grouped per key —
one row each; across batches, ``batch_id`` differs).  Streamed-equals-
one-shot parity therefore survives compaction bit for bit, replay stays
addressable (batch ids live in the rows, untouched), and a
post-compaction replay of an already-applied batch re-appends rows the
read side still collapses — all test-pinned in
``tests/test_storemaint.py``.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append_cells(cells: DataFrame, state_dir: str, batch_id: int) -> None:
    """Append one batch's cells to the store at ``state_dir``, tagged
    with ``batch_id`` as a long."""
    cells.withColumn("batch_id", F.lit(int(batch_id)).cast("long")).write.mode(
        "append"
    ).parquet(state_dir)


def read_cells(
    spark: SparkSession, state_dir: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Read a cell store back to clean per-batch cells: MAX of every
    non-key column per (``keys``, ``batch_id``), then ``batch_id``
    dropped.  Columns come back as ``keys`` then the cells, in stored
    order."""
    state = spark.read.parquet(state_dir)
    cells = [c for c in state.columns if c not in keys and c != "batch_id"]
    return (
        state.groupBy(*keys, "batch_id")
        .agg(*[F.max(c).alias(c) for c in cells])
        .select(*keys, *cells)
    )


def sum_cells(cells: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """SUM every non-key column of clean cells per ``keys``, cast back
    to its stored type.  Without keys the sum is one row, and a column
    with nothing to add reads 0, not NULL."""

    def total(field):
        s = F.sum(field.name)
        if not keys:
            s = F.coalesce(s, F.lit(0))
        return s.cast(field.dataType).alias(field.name)

    sums = [total(f) for f in cells.schema.fields if f.name not in keys]
    return cells.groupBy(*keys).agg(*sums)


@contextmanager
def _dir_swap(spark: SparkSession, live: str, staged: str, who: str):
    """Replace directory ``live`` by ``staged``, which the ``with`` body
    writes and validates; an exception in the body leaves ``live``
    untouched.

    On entry this REFUSES while ``{live}_pre`` exists — a previous swap
    crashed between its two renames, and ``_pre`` may be the only copy
    of the data — and deletes a stale ``staged`` (an aborted run's
    leftover never blocks a retry).  On exit it renames ``live`` (if
    any) to ``{live}_pre``, then ``staged`` to ``live`` (renaming
    ``_pre`` back if that fails), then deletes ``_pre``.  Crash windows:
    before the first rename ``live`` is untouched; between the renames
    ``_pre`` holds the original (recover by renaming it back).
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(live).getFileSystem(spark._jsc.hadoopConfiguration())
    pre = f"{live}_pre"
    if fs.exists(hpath(pre)):
        raise RuntimeError(
            f"{who}: {pre} exists — a previous run crashed mid-swap and "
            "it may be the only copy of the data; rename it back over "
            f"{live} (or remove it after verifying {live} reads) before "
            "retrying"
        )
    if fs.exists(hpath(staged)):
        fs.delete(hpath(staged), True)
    yield
    had_prior = fs.exists(hpath(live))
    if had_prior and not fs.rename(hpath(live), hpath(pre)):
        raise RuntimeError(f"{who}: could not stage {live}")
    if not fs.rename(hpath(staged), hpath(live)):
        if had_prior:
            fs.rename(hpath(pre), hpath(live))
        raise RuntimeError(f"{who}: could not swap in {staged}")
    if had_prior:
        fs.delete(hpath(pre), True)


def atomic_replace(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Crash-safe whole-relation replacement for maintained stores —
    the write-side half of the :func:`compact_cell_store` contract,
    factored out for stores whose replacement is SEMANTIC (the HLL
    union-fold, the additive-sketch fence fold, the CDC snapshot)
    rather than a row-identical rewrite (r17; closes a real
    crash-recovery hole: ``mode("overwrite")`` on the directory being
    replaced deletes it BEFORE writing, so a crash in between loses
    the store — and in the CDC ``foreachBatch`` case the streaming
    replay then sees "no store" and silently rebuilds from the
    arriving batch alone, exactly the prior-state discard its
    existence probe exists to prevent).

    ``df`` MAY lazily read from ``path``: the plan materializes into a
    sibling ``{path}_staging`` directory first (which also makes the
    defensive pre-overwrite ``localCheckpoint`` the old call sites
    carried unnecessary — one materialization instead of two), then
    the two-rename swap replaces the live directory.  Crash windows:
    before the first rename the store is untouched; between renames
    ``{path}_pre`` holds the original (recover by renaming back) and
    the next call REFUSES until an operator resolves it; a stale
    ``_staging`` never blocks a retry.
    """
    tmp = f"{path}_staging"
    with _dir_swap(spark, path, tmp, "atomic_replace"):
        df.write.mode("error").parquet(tmp)


def compact_cell_store(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Fold a batch-appended cell store down to ``target_files``
    parquet files (default ONE), collapsing bit-identical replay
    residue, without changing what any read computes.

    The ``ivf_compact`` maintenance contract, applied generically:

    * validate-then-swap: the rewrite lands in a sibling
      ``{path}_compacting`` directory and must hold exactly the
      source's distinct row count AND the full ``batch_id`` set
      before the two-rename swap replaces the live directory — a torn
      rewrite aborts with the store untouched;
    * ``_``-prefixed side relations (e.g. the binary-score store's
      ``_meta`` manifest) ride along: parquet reads never see them,
      and they are copied from the old directory into the validated
      rewrite before the swap;
    * an aborted run's temp directory never blocks the retry (deleted
      and rewritten); a crash mid-swap leaves ``{path}_pre`` on disk
      — never data loss; the next run REFUSES until an operator
      renames it back or removes it (unlike the temp dir, ``_pre``
      may be the only copy of the data);
    * run offline (no concurrent appends), the standard maintenance
      contract; file counts come from the Hadoop ``FileSystem`` glob
      (portable beyond local disk).

    Returns ``{rows, rows_collapsed, batches, files_before,
    files_after}``.

    100 TB shape: cell stores are O(batches × bounded cells) — tiny
    relative to the corpora they summarize — so two scans plus one
    ``coalesce(target_files)`` write is the whole cost; reads
    afterwards open ``target_files`` files instead of one per batch.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def _files(p: str) -> int:
        stats = fs.globStatus(hpath(f"{p}/*.parquet"))
        return 0 if stats is None else len(stats)

    if int(target_files) < 1:
        raise ValueError(
            f"compact_cell_store: target_files must be >= 1, got "
            f"{target_files}"
        )
    tmp = f"{path}_compacting"
    with _dir_swap(spark, path, tmp, "compact_cell_store"):
        src = spark.read.parquet(path)
        if "batch_id" not in src.columns:
            raise ValueError(
                f"compact_cell_store: {path} has no batch_id column — not a "
                "batch-appended cell store (this compactor only collapses "
                "bit-identical replay rows, which only batch-addressed "
                "stores guarantee)"
            )
        files_before = _files(path)
        n_src = src.count()
        # bit-identical replay residue ONLY: full-row distinct
        kept = src.dropDuplicates()
        n_kept = kept.count()
        batches = {
            r["batch_id"] for r in src.select("batch_id").distinct().collect()
        }
        kept.coalesce(int(target_files)).write.mode("error").parquet(tmp)
        written = spark.read.parquet(tmp)
        got = written.count()
        got_batches = {
            r["batch_id"]
            for r in written.select("batch_id").distinct().collect()
        }
        if got != n_kept or got_batches != batches:
            raise RuntimeError(
                f"compact_cell_store: rewrite holds {got} rows over "
                f"{len(got_batches)} batches but the source scan kept "
                f"{n_kept} over {len(batches)} at {path} — aborting with "
                f"the live store untouched; inspect {tmp}"
            )
        # same-named artifacts the write already produced (_SUCCESS) stay
        for st in fs.listStatus(hpath(path)):
            name = st.getPath().getName()
            if name.startswith("_") and not fs.exists(hpath(f"{tmp}/{name}")):
                jvm.org.apache.hadoop.fs.FileUtil.copy(
                    fs, st.getPath(), fs, hpath(f"{tmp}/{name}"), False,
                    spark._jsc.hadoopConfiguration(),
                )
    return {
        "rows": int(got),
        "rows_collapsed": int(n_src - n_kept),
        "batches": len(batches),
        "files_before": files_before,
        "files_after": _files(path),
    }
