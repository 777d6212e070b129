"""The query catalog: every operator the engine claims, as a named
(spark_builder, oracle_sql) pair.

Each entry's Spark side is the engine's own operator plan; the oracle side is
independent ANSI SQL DuckDB runs over the same parquet tables. The driver
hashes both results (column names sorted, order-insensitive), so every
computed column is aliased identically on both sides, every float is rounded
identically, and every timestamp is emitted as a formatted string.

Heights/constants are fixed so results are deterministic at any scale factor.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluxdb_spark.functions import baskets as bk
from fluxdb_spark.functions import bpe
from fluxdb_spark.functions import curation as cu
from fluxdb_spark.functions import dedup as dd
from fluxdb_spark.functions import similarity as sim
from fluxdb_spark.functions import text as tx
from fluxdb_spark.functions.hashing import hash60, hash60_sql
from fluxdb_spark.operators import bloomjoin as bj
from fluxdb_spark.operators import layout as ly
from fluxdb_spark.operators import temporal as tp
from fluxdb_spark.operators import sharding as sh
from fluxdb_spark.operators import snapshot as sn
from fluxdb_spark.sources.changelog import (
    CHANGELOG_CTE,
    SINGLET_CTE,
    changelog_from_events,
    singlet_log_from_events,
)
from fluxdb_spark.sources.tables import load_table, normalize_event_ts
from fluxdb_spark.session import spread


@dataclass(frozen=True)
class QuerySpec:
    name: str
    category: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check


_SPECS: list[QuerySpec] = []


def _q(name: str, category: str, oracle: str | None):
    def deco(fn):
        _SPECS.append(QuerySpec(name, category, fn, oracle))
        return fn

    return deco


# The correctness check stamps the first 50 catalog() entries per round into
# CORRECTNESS_r<N>.json at the repo root, so catalog order decides what
# gets verified.  Filled once every category module has registered (see
# catalog/__init__.py); an installed package has no stamp files and keeps
# registration order.
_STAMP_DIR = Path(__file__).resolve().parents[2]
_PRIORITY: list[str] = []


def stamp_order(specs: list[QuerySpec], stamp_dir=_STAMP_DIR) -> list[str]:
    """Spec names stalest first: never stamped, then by the newest round
    that stamped them (rows, schema and hash all matched), registration
    order breaking ties.  Oracle-less entries can only get a rows-only
    record, so they go last.  Each new stamp file rotates the window."""
    newest: dict[str, int] = {}
    for path in Path(stamp_dir).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, res in json.loads(path.read_text()).items():
            if isinstance(res, dict) and all(
                res.get(k)
                for k in ("rows_match", "schema_match", "hash_match")
            ):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    # sorted() is stable: equal keys keep registration order
    ranked = sorted(
        specs, key=lambda s: (s.oracle is None, newest.get(s.name, 0))
    )
    return [s.name for s in ranked]


def catalog() -> list[QuerySpec]:
    rank = {n: i for i, n in enumerate(_PRIORITY)}
    return sorted(_SPECS, key=lambda s: rank[s.name])


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _td(spark, sf_dir, name="documents"):
    """Reader for CPU-heavy pipeline inputs: `spread` splits a small
    single-row-group scan across cores (no-op when the scan is already
    parallel, i.e. at real scale)."""
    return spread(load_table(spark, sf_dir, name))
