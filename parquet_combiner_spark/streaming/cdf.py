"""Change-data-feed consumption of versioned tables — the
incremental READ side of the txlog layer, closing the loop the write
side (`streaming/txlog_sink.py`, exactly-once commits) opened.

Two consumption surfaces, matched to what the consumer needs:

* **Row-granular appends as a real streaming source** —
  ``spark.readStream.format("txtable_changes")`` (see
  `sources/txtable_source.py`): offsets are commit versions, each
  batch is the files a version range added, Delta's streaming-source
  contract. Which files a commit adds is ``txlog._feed_commits``'
  rule, shared with the batch readers ``txlog.read_appends`` and
  ``txlog.table_changes_cdf``, so a range reads the same rows either
  way; the ``overwrite`` that creates a table at version 0 reads as
  inserted rows. Use when downstream is a Structured Streaming
  pipeline.

* **Key-level change batches in COMMIT ORDER** —
  :func:`drain_table_changes` below: an available-now drain that
  feeds ``apply_fn`` one ``table_changes(v-1, v)`` DataFrame per
  commit (added/removed/changed per key), exactly what an
  incremental materialized-view or cache-invalidation consumer
  applies. Each batch is built from what its commit recorded: an
  append's added files, a deletion-vector delete's newly deleted
  positions, a ``cdf=True`` DML's change files (hashing only the
  change rows, one shuffle of keys). Appends and DV deletes cost key
  scans and no shuffle. Other commits fall back to the content-hash
  diff of the two snapshots: overwrites, RESTORE, CLONE, expiry
  rebases, DML without ``cdf`` other than DV deletes, compaction and
  schema or column-mapping changes. Both ways need keys unique in each
  snapshot, and a NULL-key row is ``removed`` from the old side and
  ``added`` on the new, as in the diff. Only the loop over versions
  is driver work, O(commits). Use when downstream is itself batch
  logic keyed per version.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


def drain_table_changes(
    spark: SparkSession,
    table: str,
    apply_fn: Callable[[DataFrame, int], None],
    keys: Sequence[str] | None = None,
    from_version: int = -1,
    to_version: int | None = None,
) -> int:
    """Feed ``apply_fn(changes_df, version)`` every per-commit change
    batch of ``table`` in commit order, from ``from_version``
    (exclusive — the consumer's last applied version; -1 = from the
    table's birth) through ``to_version`` (inclusive; None = current).
    Returns the last version applied, the consumer's next
    ``from_version`` — persisting it with the applied result (e.g. in
    the target table's own commit ``meta``) makes the drain
    restartable AND replay-idempotent: re-draining an already-applied
    version hands ``apply_fn`` the identical deterministic batch, so
    a (consumer_id, version)-keyed sink skips it, the same recipe as
    ``txlog_sink``'s (query_id, epoch).

    Version 0's "previous snapshot" is the empty table, so its batch
    classifies every key as ``added``. Each batch is
    :func:`~parquet_combiner_spark.tools.txlog.table_changes` of one
    commit, built from its record where the record says what
    changed. Expired history
    (``expire_versions``) raises — the feed is replayable only while
    the log retains both endpoints of each step, Delta's own CDF
    retention rule.

    An EMPTY range (nothing past ``from_version``) returns
    ``from_version`` unchanged — never a smaller value, so a consumer
    that persists the return as its cursor cannot move backward and
    re-apply versions it already consumed (e.g. on a stale
    ``to_version``).
    """
    from parquet_combiner_spark.tools import txlog

    last = (
        txlog.current_version(table) if to_version is None else to_version
    )
    start = max(from_version, -1)
    applied = start
    for v in range(start + 1, last + 1):
        # v-1 == -1 (version 0's batch) → table_changes' from-birth
        # case: the empty old side classifies every key as added
        batch = txlog.table_changes(spark, table, v - 1, v, keys)
        apply_fn(batch, v)
        applied = v
    return applied
