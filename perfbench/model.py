"""Independent last-write-wins models that check every engine answer.

`LwwModel` is a plain-Python fold over the generator's rows; it shares no
code with the engine. `IndexOracle` checks the backfill's snapshot index
with DuckDB over the generator's pandas frame. Answers are compared as
exact, ordered lists of tuples; any difference is a failed op.
"""

from __future__ import annotations

import bisect
from collections import defaultdict

ROW_FIELDS = (
    "collection",
    "tablet_id",
    "height",
    "primary_key",
    "value",
    "is_deletion",
    "block_id",
    "block_num",
)
SERIES_FIELDS = ("as_of_height", "primary_key", "height", "value")


class LwwModel:
    """Versions per (tablet, key), appended in any order, read at a height.

    Durable rows go through `add`; speculative (head-fork) rows are passed
    per read as `overlay` and win over durable rows at equal height, as the
    engine's overlay contract states."""

    def __init__(self):
        # tablet -> key -> sorted [(height, row)]
        self._t: dict[str, dict[str, list]] = defaultdict(dict)

    def add(self, rows) -> None:
        for r in rows:
            versions = self._t[r[1]].setdefault(r[3], [])
            if versions and versions[-1][0] > r[2]:
                bisect.insort(versions, (r[2], r))
            else:
                versions.append((r[2], r))

    @staticmethod
    def _at(versions, height):
        i = bisect.bisect_right(versions, height, key=lambda v: v[0])
        return versions[i - 1][1] if i else None

    def _latest(self, tablet, height, overlay=()):
        """key -> latest row (tombstones included) at `height`."""
        out = {}
        for pk, versions in self._t.get(tablet, {}).items():
            r = self._at(versions, height)
            if r is not None:
                out[pk] = r
        for r in overlay:
            if r[1] == tablet and r[2] <= height:
                cur = out.get(r[3])
                if cur is None or cur[2] <= r[2]:
                    out[r[3]] = r
        return out

    def row_at(self, tablet, height, key, overlay=()):
        r = self._at(self._t.get(tablet, {}).get(key, []), height)
        for o in overlay:
            if o[1] == tablet and o[3] == key and o[2] <= height:
                if r is None or r[2] <= o[2]:
                    r = o
        return [] if r is None or r[5] else [r]

    def singlet_at(self, singlet, height, overlay=()):
        return self.row_at(singlet, height, "", overlay)

    def state_at(self, tablet, height, limit, overlay=()):
        live = [r for r in self._latest(tablet, height, overlay).values() if not r[5]]
        live.sort(key=lambda r: r[3])
        return live[:limit]

    def state_series(self, tablet, start, stop, step, limit):
        out = []
        for g in range(start, stop + 1, step):
            for r in self.state_at(tablet, g, 1 << 30):
                out.append((g, r[3], r[2], r[4]))
                if len(out) >= limit:
                    return out
        return out


def as_tuples(rows: list[dict], fields) -> list[tuple]:
    return [tuple(r[f] for f in fields) for r in rows]


def check(expected: list[tuple], got_rows: list[dict], fields=ROW_FIELDS) -> bool:
    """True iff the engine's rows equal the model's, in order."""
    return as_tuples(got_rows, fields) == [tuple(e) for e in expected]


class IndexOracle:
    """DuckDB model of a bulk-loaded changelog (the generator's frame),
    used to check the snapshot index the backfill writes."""

    def __init__(self, frame):
        import duckdb

        self.con = duckdb.connect(":memory:")
        self.con.register("log", frame)

    def close(self) -> None:
        self.con.close()

    def live_keys(self, height):
        """Sorted (tablet_id, primary_key, height, squelch_count) of every
        key live at `height`; squelch_count is the tablet's row count."""
        return sorted(
            tuple(r)
            for r in self.con.execute(
                """
                WITH latest AS (
                  SELECT *, row_number() OVER (
                           PARTITION BY tablet_id, primary_key ORDER BY height DESC) AS rn
                  FROM log WHERE height <= $h),
                counts AS (
                  SELECT tablet_id, count(*) AS n FROM log WHERE height <= $h GROUP BY tablet_id)
                SELECT l.tablet_id, l.primary_key, l.height, c.n
                FROM latest l JOIN counts c USING (tablet_id)
                WHERE l.rn = 1 AND NOT l.is_deletion
                """,
                {"h": height},
            ).fetchall()
        )

    def index_from_parquet(self, index_dir):
        """The IndexStore's rows, read back by DuckDB (not by Spark)."""
        return sorted(
            tuple(r)
            for r in self.con.execute(
                "SELECT tablet_id, primary_key, height, squelch_count, snapshot_height "
                f"FROM read_parquet('{index_dir}/*.parquet')"
            ).fetchall()
        )
