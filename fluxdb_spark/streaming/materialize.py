"""Incrementally-maintained aggregates over a ChangelogStore (IVM).

A serving dashboard over a 100 TB changelog cannot re-scan the log to
refresh "rows per collection" or "max height per tablet" — the refresh
must cost O(newly committed rows) + O(aggregate table), not O(history).
This module keeps a small aggregate table continuously up to date from
the store's commit log, the materialized-view half of what the CDC
follower (streaming/follow.py) provides as a raw row feed.

Exactly-once is anchored to COMMIT VERSIONS, not stream batch ids: the
applied-version floor travels INSIDE the aggregate table directory
(`_mat_state.json`, swapped atomically with the data), so losing or
resetting the stream checkpoint merely redelivers entries the floor
already excludes — redelivery changes nothing, which the tests prove by
deleting the checkpoint outright. The table swap itself is journal-free
but recoverable: write tmp -> rename current away -> rename tmp in ->
drop old, with `_recover` completing or rolling back a crash at any
point (same staging discipline as the store's band swaps).

Only algebraic aggregates can merge partial results (sum of sums, min
of mins, max of maxes; counts merge as sums) — the same restriction any
incremental/streaming aggregation has. Non-algebraic aggregates
(median, exact distinct) need the raw feed instead.

One maintainer per aggregate table: the table swap assumes a single
maintenance stream owns `dest` (exactly like a single streaming query
owns its checkpoint). Run one `materialize_aggregate` query per dest;
concurrent maintainers would race the swap renames.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluxdb_spark.store import ChangelogStore, read_appended
from fluxdb_spark.streaming.follow import stream_commits

_MERGE = {"sum": F.sum, "min": F.min, "max": F.max}

# sibling directories older than this can't belong to a healthy in-flight
# swap or write; they are crash leftovers and safe to drop on sight
_STALE_S = 300.0


def _state_path(dest: str) -> str:
    # underscore prefix: invisible to Spark's directory scans, so the
    # state rides inside the table dir and swaps atomically with it
    return os.path.join(dest, "_mat_state.json")


def _recover(dest: str, grace_s: float = 0.5) -> None:
    """Complete or roll back a torn table swap: a crash between the two
    renames leaves only `<dest>.old-*` (roll the old table back); a crash
    after the second rename leaves a stale old/tmp sibling (drop it).

    A LIVE maintainer swap passes through the exact torn state (dest
    absent, fresh `.old-*` present) for the microseconds between its two
    renames, so a reader racing it must not roll the table back under
    the in-flight rename. Recovery therefore waits up to `grace_s` for
    dest to reappear before treating its absence as a crash, and only
    drops sibling directories when the crash is confirmed or the sibling
    is old enough (`_STALE_S`) that no healthy swap can still own it."""
    parent, base = os.path.dirname(dest) or ".", os.path.basename(dest)
    if not os.path.isdir(parent):
        return
    sibs = [p for p in os.listdir(parent) if p.startswith(base + ".")]
    if not sibs:
        return
    olds = [p for p in sibs if p.startswith(base + ".old-")]
    tmps = [p for p in sibs if p.startswith(base + ".tmp-")]
    crash_confirmed = False
    if not os.path.isdir(dest) and olds:
        deadline = time.monotonic() + grace_s
        while not os.path.isdir(dest) and time.monotonic() < deadline:
            time.sleep(0.01)
        if not os.path.isdir(dest):
            crash_confirmed = True
            try:
                os.rename(os.path.join(parent, olds.pop()), dest)
            except OSError:
                # a concurrent _recover won the rollback rename — dest
                # is (or is about to be) restored; nothing left to do
                pass

    def _stale(p: str) -> bool:
        # staleness keys off the NEWEST mtime anywhere in the sibling
        # tree, not the root: a long rebuild/compaction lands parquet in
        # a commit_hi= subdirectory while the tmp root's mtime stays at
        # creation, and a root-mtime check would rmtree the live staging
        # directory of any write exceeding _STALE_S
        newest = 0.0
        try:
            top = os.path.join(parent, p)
            newest = os.path.getmtime(top)
            for root, dirs, files in os.walk(top):
                for n in dirs + files:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(root, n))
                        )
                    except OSError:
                        pass
        except OSError:
            return False
        return time.time() - newest > _STALE_S

    for p in olds + tmps:
        if crash_confirmed or _stale(p):
            shutil.rmtree(os.path.join(parent, p), ignore_errors=True)


def _read_state(dest: str) -> dict | None:
    """dest's state file, or None when there is none (a fresh table).
    A file that is there but unreadable raises: read as fresh, it would
    fold every redelivered entry again and skip the format check."""
    path = _state_path(dest)
    try:
        with open(path) as f:
            state = json.load(f)
        int(state["applied_version"])
    except FileNotFoundError:
        return None
    except (OSError, ValueError, TypeError, KeyError) as e:
        raise ValueError(
            f"unreadable state file {path} ({e!r}): delete {dest} and "
            "rebuild it from the store"
        ) from e
    return state


def applied_version(dest: str) -> int:
    _recover(dest)
    state = _read_state(dest)
    return 0 if state is None else int(state["applied_version"])


def read_aggregate(spark: SparkSession, dest: str) -> DataFrame | None:
    """The current materialized aggregate (None before the first merge)."""
    _recover(dest)
    if not os.path.isdir(dest):
        return None
    return spark.read.parquet(dest)


def materialize_aggregate(
    spark: SparkSession,
    src_root: str,
    dest: str,
    group_cols: list[str],
    aggs: list[tuple[str, str, str]],
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    pre=None,
):
    """Start the maintenance stream: follow `src_root`'s commit log and
    fold each newly committed append into the aggregate table at `dest`.

    `aggs`: (output_name, sql_expr_over_changelog_rows, merge) triples
    with merge in {sum, min, max} — e.g. ("n_rows", "count(1)", "sum"),
    ("max_height", "max(height)", "max"). Returns the StreamingQuery.

    `pre` (optional): a ROW-WISE DataFrame transform applied to the
    changelog rows before grouping — transform-aggregate IVM (e.g.
    explode a document into bigrams, then count). Applied identically to
    the delta fold and the rebuild path, so the fold stays exact; it
    must be stateless per-row (no aggregation inside), which keeps the
    refresh O(delta rows x fan-out).

    Scale shape per refresh: the delta read touches only the new
    commits' files (O(delta)); the partial aggregate is combine-friendly
    (shuffle carries one row per touched group); the merge joins it
    against the aggregate table, whose size is the number of groups —
    the log itself is never re-read."""
    for _name, _expr, merge in aggs:
        if merge not in _MERGE:
            raise ValueError(
                f"unsupported merge '{merge}': algebraic merges are "
                f"{sorted(_MERGE)}"
            )

    def _swap_in(part: DataFrame, version: int) -> None:
        tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
        part.write.mode("overwrite").parquet(tmp)
        with open(_state_path(tmp), "w") as f:
            json.dump({"applied_version": version}, f)
        old = f"{dest}.old-{uuid.uuid4().hex}"
        if os.path.isdir(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        shutil.rmtree(old, ignore_errors=True)

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        floor = applied_version(dest)
        batch = sorted(
            (
                e
                for e in batch_df.select(
                    "version", "action", "kind", "add"
                ).collect()
                if e.version > floor
            ),
            key=lambda e: e.version,
        )
        if not batch:
            return
        # A non-compacting rewrite (expire / delete_where / redact_where)
        # re-places or erases rows the aggregate already folded, so the
        # delta fold would silently diverge forever — the exact situation
        # appended_between refuses loudly. Rebuild instead: one commit-
        # level time-travel read at the log's current latest version —
        # O(store) once per rewrite, never a wrong answer. The floor
        # advances to that version, so entries the stream delivers later
        # for commits the rebuild already covered fold as no-ops.
        # Compactions are row-preserving band swaps and need no rebuild.
        if any(
            e.action == "rewrite" and e.kind != "compact" for e in batch
        ):
            store = ChangelogStore(spark, src_root)
            top = store.latest_commit_version()
            full = store.changelog(at_version=top)
            if pre is not None:
                full = pre(full)
            _swap_in(
                full.groupBy(*group_cols).agg(
                    *[F.expr(expr).alias(name) for name, expr, _m in aggs]
                ),
                top,
            )
            return
        entries = [e for e in batch if e.action == "append"]
        if not entries:
            return
        rows = read_appended(
            spark, src_root, [rel for e in entries for rel in (e.add or ())]
        )
        if pre is not None:
            rows = pre(rows)
        part = rows.groupBy(*group_cols).agg(
            *[F.expr(expr).alias(name) for name, expr, _m in aggs]
        )
        cur = read_aggregate(spark, dest)
        if cur is not None:
            part = (
                cur.select(*group_cols, *[n for n, _e, _m in aggs])
                .unionByName(part)
                .groupBy(*group_cols)
                .agg(
                    *[
                        _MERGE[m](F.col(name)).alias(name)
                        for name, _e, m in aggs
                    ]
                )
            )
        _swap_in(part, entries[-1].version)

    return (
        stream_commits(spark, src_root)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
