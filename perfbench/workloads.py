"""The workloads: serve_reads and live_ingest.

Each workload drives the engine only through its public surface, checks
every answer against a model built from the generator's rows, and records
its samples in a `Window`. Set-up is split in two: `prepare` builds inputs
and models (benchmark-side, untimed) and `setup_rep` does the engine-side
set-up, which the runner repeats to report a median.
"""

from __future__ import annotations

import contextlib
import functools
import io
import itertools
import json
import os
import random
import shutil
import time
import urllib.parse
import urllib.request
from argparse import Namespace
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.model import ROW_FIELDS, SERIES_FIELDS, IndexOracle, LwwModel, check

MAX_FAILURE_NOTES = 5
# Spark's planner keeps getting faster over the first ~100 queries of a JVM
# (on 4 cores, serve read p50 fell ~25% over 160 requests). Warm-ups run reads
# first, four at a time, so the window measures the steady state.
WARM_READS = 72
WARM_OVERLAY_READS = 32
WARM_THREADS = 4


@dataclass
class Window:
    """Samples from one measured window."""

    seconds: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    read_kinds: list[str] = field(default_factory=list)
    write_rows: int = 0
    write_s: float = 0.0
    blocks: int = 0
    read_chains: list[str] = field(default_factory=list)  # live_ingest: the chain read
    lag_ms: list[float] = field(default_factory=list)
    cycles: list[tuple[int, int, float]] = field(default_factory=list)  # (blocks, rows, s) per flush

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < MAX_FAILURE_NOTES:
                self.failures.append(what)


class _NoTrace:
    """Stand-in for Tracer.op when nothing is traced."""

    def __init__(self):
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def op(self, kind, name, group=True, **attrs):
        yield {"rid": next(self._ids)}


def data_file_bytes(root: str) -> dict[str, int]:
    """path -> size of the parquet data files under `root`."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def logical_bytes(rows) -> int:
    """Key + value octets, the quantity the store's size stats sum."""
    return sum(
        len(r[3].encode()) + (len(r[4].encode()) if r[4] is not None else 0)
        for r in rows
    )


def run_concurrently(calls) -> None:
    """Run zero-argument callables on WARM_THREADS threads; re-raise the
    first failure."""
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for future in [pool.submit(c) for c in calls]:
            future.result()


def recent_height(rng: random.Random, top: int) -> int:
    """Heights favour the head but reach every band."""
    return max(1, top - int(top * rng.random() ** 3))


class Workload:
    name = ""

    def __init__(self, spark, tmp: str, seed: int):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.root = None

    def warm_up(self) -> None:
        """Work run once before the set-ups, so the JVM's first jobs (class
        loading, code generation) do not land in the window."""

    def prepare(self) -> None:
        """Generate inputs and build the models (untimed)."""

    def setup_rep(self, rep_dir: str, ops=None) -> dict:
        """One engine-side set-up, timed by itself; returns its seconds
        "s" and the rows and seconds of the store writes it made."""
        raise NotImplementedError

    def window(self, seconds: float, tracer=None) -> Window:
        raise NotImplementedError

    def setup_outcomes(self, w: Window) -> None:
        """Count the set-ups' own correctness checks as ops of `w`."""

    def engines(self) -> list:
        """The FluxEngines the window drives, one per store."""
        return [self.engine]

    def space_amp(self) -> float:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------


class ServeReads(Workload):
    name = "serve_reads"
    BATCHES = 3  # flush-sized write_batch calls: 15k rows over heights 1..750
    BAND = 400  # two height bands of two files each
    SERIES_STEP = 100
    # every 10 requests hold exactly this mix, in seeded order, so the
    # median does not move with the share each route happened to get
    MIX = ("row_at",) * 4 + ("singlet_at",) * 3 + ("state_at",) * 2 + ("state_series",)

    def __init__(self, spark, tmp, seed, batches=BATCHES):
        super().__init__(spark, tmp, seed)
        self.batches_n = batches
        self.shape = gen.Shape()
        self.server = None

    def warm_up(self):
        mini = ServeReads(self.spark, os.path.join(self.tmp, "warm-up"), self.seed + 1, batches=1)
        mini.prepare()
        mini.setup_rep(mini.tmp)
        requests = mini.requests(random.Random(0))
        paths = [next(requests)[1] for _ in range(WARM_READS)]
        try:
            run_concurrently(functools.partial(mini._get, p) for p in paths)
        finally:
            mini.close()
        shutil.rmtree(mini.tmp, ignore_errors=True)

    def prepare(self):
        self.batches = gen.chain_batches(self.seed, self.shape, self.batches_n)
        self.top = self.batches_n * gen.FLUSH_SIZED_BLOCKS
        self.model = LwwModel()
        for b in self.batches:
            self.model.add(b)
        self.logical = logical_bytes(r for b in self.batches for r in b)
        self.keys = gen.Zipf(self.shape.keys_per_tablet, self.shape.zipf_s)

    def setup_rep(self, rep_dir, ops=None):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming.ingest import FluxEngine
        from fluxdb_spark.streaming.serve import QueryServer

        self.close()
        t_rep = time.perf_counter()
        self.root = os.path.join(rep_dir, "store")
        store = ChangelogStore(self.spark, self.root, height_band=self.BAND)
        write_s = 0.0
        for rows in self.batches:
            t = time.perf_counter()
            store.write_batch(self.spark.createDataFrame(rows, CHANGELOG_SCHEMA))
            write_s += time.perf_counter() - t
        self.engine = FluxEngine(self.spark, self.root)
        self.server = QueryServer(self.engine)
        return {
            "s": time.perf_counter() - t_rep,
            "write_rows": sum(len(b) for b in self.batches),
            "write_s": write_s,
        }

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.server.url + path, timeout=120) as resp:
            return json.loads(resp.read())

    def requests(self, rng: random.Random):
        """Endless seeded requests: (kind, path, expected rows, fields)."""
        while True:
            block = list(self.MIX)
            rng.shuffle(block)
            for kind in block:
                yield (kind, *self.request(kind, rng))

    def request(self, kind: str, rng: random.Random):
        """(path, expected rows, fields) of one seeded request of `kind`."""
        sh, m = self.shape, self.model
        h = recent_height(rng, self.top)
        q = urllib.parse.urlencode
        t = gen.tablet_name(rng.randrange(sh.tablets))
        if kind == "row_at":
            k = gen.key_name(self.keys.sample(rng))
            path = "/v1/row_at?" + q({"tablet": t, "height": h, "key": k})
            return path, m.row_at(t, h, k), ROW_FIELDS
        if kind == "singlet_at":
            s = gen.singlet_name(rng.randrange(sh.singlets))
            path = "/v1/singlet_at?" + q({"singlet": s, "height": h})
            return path, m.singlet_at(s, h), ROW_FIELDS
        if kind == "state_at":
            limit = rng.choice((20, 50))
            path = "/v1/state_at?" + q({"tablet": t, "height": h, "limit": limit})
            return path, m.state_at(t, h, limit), ROW_FIELDS
        step = self.SERIES_STEP
        start = rng.randint(1, max(1, self.top - 3 * step))
        stop = start + 3 * step
        args = {"tablet": t, "start": start, "stop": stop, "step": step, "limit": 100}
        path = "/v1/state_series?" + q(args)
        return path, m.state_series(t, start, stop, step, 100), SERIES_FIELDS

    def window(self, seconds, tracer=None):
        ops = tracer or _NoTrace()
        requests = self.requests(random.Random(self.seed * 1_000_003 + 1))
        w = Window()
        t_start = time.perf_counter()
        t_end = t_start + seconds
        while time.perf_counter() < t_end:
            kind, path, expected, fields = next(requests)
            with ops.op("request", "op.request", group=False) as rec:
                if tracer is not None:
                    path += f"&_rid={rec['rid']}"
                t0 = time.perf_counter()
                try:
                    body = self._get(path)
                    err = None
                except Exception as e:  # HTTP errors count as failed ops
                    body, err = None, repr(e)
                dt = time.perf_counter() - t0
            ok = body is not None and check(expected, body["rows"], fields)
            w.outcome(ok, f"{path}: {err or 'answer differs from model'}")
            w.read_ms.append(dt * 1000)
            w.read_kinds.append(kind)
        w.seconds = time.perf_counter() - t_start
        return w

    def space_amp(self):
        return sum(data_file_bytes(os.path.join(self.root, "changelog")).values()) / self.logical

    def close(self):
        if self.server is not None:
            self.server.close()
            self.server = None


# ---------------------------------------------------------------------------


def backfill(spark, log_df, base: str, shards: int, band: int, tablets: int, ops) -> dict:
    """Sharded backfill into a fresh store at base/store: scatter ->
    `reproc-inject --shard K` for every shard -> `--finalize` -> compact ->
    snapshot index of every tablet at the final height. Returns the phase
    timings and sizes."""
    from pyspark.sql import functions as F

    from fluxdb_spark.__main__ import cmd_reproc_inject
    from fluxdb_spark.operators import sharding, snapshot
    from fluxdb_spark.store import ChangelogStore, IndexStore

    shard_dir, root = os.path.join(base, "shards"), os.path.join(base, "store")
    with ops.op("backfill", "op.backfill"):
        t0 = time.perf_counter()
        sharding.scatter(log_df, shards).write.mode("overwrite").partitionBy("shard").parquet(shard_dir)
        t1 = time.perf_counter()
        # the steps of `reproc-inject --shard K`, on a store opened with the
        # benchmark's band size (the CLI would open it with the default)
        store = ChangelogStore(spark, root, height_band=band)
        store.check_clean_for_sharding()
        scattered = spark.read.parquet(shard_dir)
        for s in range(shards):
            store.write_batch(scattered.filter(F.col("shard") == s).drop("shard"), shard=str(s), force=True)
        t2 = time.perf_counter()
        args = Namespace(out=shard_dir, store=root, shards=shards, finalize=True, shard=None)
        with contextlib.redirect_stdout(io.StringIO()):
            if cmd_reproc_inject(args, spark) != 0:
                raise RuntimeError("reproc-inject --finalize failed")
        store = ChangelogStore(spark, root)
        t3 = time.perf_counter()
        before = data_file_bytes(os.path.join(root, "changelog"))
        # every band holds one file per shard; compact any band with two
        store.compact(min_files=2)
        t4 = time.perf_counter()
        final = store.checkpoint().height
        index = IndexStore(spark, os.path.join(base, "index"))
        for i in range(tablets):
            index.write(snapshot.build_tablet_index(store.changelog(max_height=final), gen.tablet_name(i), final))
        t5 = time.perf_counter()
    after = data_file_bytes(os.path.join(root, "changelog"))
    return {
        "scatter_s": t1 - t0,
        "inject_s": t2 - t1,
        "compact_s": t4 - t3,
        "index_s": t5 - t4,
        "total_s": t5 - t0,
        "compact_bytes_rewritten": sum(size for p, size in after.items() if p not in before),
        "final": final,
        "root": root,
        "index_dir": os.path.join(base, "index", "tablet_index"),
        "shard_rows": _shard_rows(shard_dir),
    }


def _shard_rows(shard_dir: str) -> list[int]:
    """Rows per shard, read back by DuckDB from the scattered files."""
    import duckdb

    con = duckdb.connect(":memory:")
    try:
        return [
            n
            for _s, n in con.execute(
                f"SELECT shard, count(*) FROM read_parquet('{shard_dir}/*/*.parquet', "
                "hive_partitioning = true) GROUP BY shard ORDER BY shard"
            ).fetchall()
        ]
    finally:
        con.close()


class Follower:
    """One chain, followed by an engine over its own store.

    Feeds the chain's seeded block stream into the engine's IngestPipeline,
    times the pipeline calls on its own ingest clock, and keeps the model of
    what a read at the head may see: the durable rows (those at or below the
    store checkpoint) plus the head fork's rows above LIB."""

    READ_PATTERN = ("state_at", "state_at", "row_at")  # fixed mix: a steady median

    def __init__(self, chain: gen.Chain, engine, shape: gen.Shape, history, first: int, seed: int):
        self.chain = chain
        self.engine = engine
        self.shape = shape
        self.keys = gen.Zipf(shape.keys_per_tablet, shape.zipf_s)
        self.model = LwwModel()
        self.model.add(history)
        self.durable_rows = list(history)
        self.stream = gen.block_stream(seed, shape, first, gen.block_id(first - 1), chain)
        self.rng = random.Random(f"reads-{seed}-{chain.name}")
        self.kinds = itertools.cycle(self.READ_PATTERN)
        self.blocks: dict[str, gen.Step] = {}
        self.lib_id = gen.block_id(first - 1)
        self.head = None
        self.ckpt = first - 1
        self.final_queue: list[tuple[gen.Step, float]] = []  # final, not yet durable
        self.fed = self.made_final = 0
        self.clock = 0.0  # seconds spent inside pipeline calls
        self.since_read = 0
        self.max_forkdb = 0

    def step(self, w: Window) -> bool:
        """Give the stream's next step to the pipeline. True when it was a
        finality step whose call flushed."""
        pipe = self.engine.pipeline
        step = next(self.stream)
        ckpt = None
        t0 = time.perf_counter()
        try:
            if step.kind == "new":
                pipe.process_new_block(step.block_id, step.block_num, step.parent_id, list(step.rows))
                done = time.perf_counter()
            else:
                pipe.process_irreversible(step.block_id, step.block_num)
                done = time.perf_counter()
                ckpt = self.engine.checkpoint()  # the benchmark's probe, untimed
            err = None
        except Exception as e:
            done, err = time.perf_counter(), repr(e)
        w.outcome(err is None, f"{self.chain.name} {step.kind} {step.block_id}: {err}")
        if step.kind == "new":
            self.clock += done - t0
            self.blocks[step.block_id] = step
            self.head = step
            self.fed += 1
            self.since_read += 1
            self.max_forkdb = max(self.max_forkdb, len(pipe.forkdb.blocks))
            w.blocks += 1
            w.write_rows += len(step.rows)
            return False
        self.final_queue.append((self.blocks[step.block_id], self.clock))
        self.clock += done - t0
        self.made_final += 1
        self.lib_id = step.block_id
        for bid in [b for b, s in self.blocks.items() if s.block_num <= step.block_num]:
            if bid != step.block_id:
                del self.blocks[bid]
        if ckpt is None or ckpt.height <= self.ckpt:
            return False
        # the flush inside this call made every queued block durable
        self.ckpt = ckpt.height
        for s, t_final in self.final_queue:
            w.lag_ms.append((self.clock - t_final) * 1000)
            self.model.add(s.rows)
            self.durable_rows.extend(s.rows)
        self.final_queue = []
        return True

    def prime(self, w: Window) -> None:
        """Feed the stream up to its first finality step. The reversible
        segment is then as deep as the chain's finality, as in steady
        running, and the engine's LIB is a real block (see NOTES.md)."""
        while not self.made_final:
            self.step(w)

    def cycle(self, w: Window, ops, read_every: int) -> None:
        """Follow the chain up to and including its next flush, reading at
        the head every `read_every` new blocks."""
        b0, r0, c0 = w.blocks, w.write_rows, self.clock
        while not self.step(w):
            if self.since_read >= read_every:
                self.since_read = 0
                self.read(w, ops)
        w.cycles.append((w.blocks - b0, w.write_rows - r0, self.clock - c0))

    def overlay(self, height: int) -> list[tuple]:
        """Rows of the head fork from LIB (exclusive) up to `height`."""
        chain = []
        cur = self.head.block_id
        while cur != self.lib_id:
            step = self.blocks[cur]
            chain.append(step)
            cur = step.parent_id
        return [r for s in reversed(chain) if s.block_num <= height for r in s.rows]

    def read(self, w: Window, ops) -> None:
        kind = next(self.kinds)
        t = gen.tablet_name(self.rng.randrange(self.shape.tablets))
        h = self.head.block_num
        overlay = self.overlay(h)
        with ops.op("read", "op.read", chain=self.chain.name):
            t0 = time.perf_counter()
            try:
                if kind == "state_at":
                    got = self.engine.state_at(t, h).limit(50).collect()
                    expected = self.model.state_at(t, h, 50, overlay)
                else:
                    k = gen.key_name(self.keys.sample(self.rng))
                    got = self.engine.row_at(t, h, k).collect()
                    expected = self.model.row_at(t, h, k, overlay)
                err = None
            except Exception as e:
                got, err = None, repr(e)
            dt = time.perf_counter() - t0
        ok = got is not None and check(expected, [r.asDict() for r in got])
        w.outcome(ok, f"{self.chain.name} {kind} {t}@{h}: {err or 'answer differs from model'}")
        w.read_ms.append(dt * 1000)
        w.read_kinds.append(kind)
        w.read_chains.append(self.chain.name)

    def orphans(self) -> int:
        """Blocks that left the ForkDB without becoming final."""
        return self.fed - self.made_final - len(self.engine.pipeline.forkdb.blocks)


class LiveIngest(Workload):
    """Backfill, then follow a shallow-finality and a deep-finality chain.

    Set-up bulk-loads the history with the sharded backfill (scatter,
    inject, finalize, compact, snapshot index) and gives each chain profile
    of `CHAINS` an engine over its own file copy of that store. The window
    follows the chains in turn, one flush cycle each, with an overlay-aware
    read at the head every `read_every` new blocks."""

    name = "live_ingest"
    HISTORY_ROWS = 20_000
    # the streams then start at height 1000, so each 250-block flush lands
    # whole inside one 1000-height band (no one-block band tails)
    HISTORY_HEIGHTS = 999
    HISTORY_TABLETS = 6
    HISTORY_KEYS = 400
    SHARDS = 3  # the six history tablets hash to all three shards
    BAND = 1000
    CHAINS = (gen.SHALLOW, gen.DEEP)
    READ_EVERY = 100  # new blocks between two overlay-aware reads of a chain

    def __init__(self, spark, tmp, seed, read_every=READ_EVERY, history_rows=HISTORY_ROWS):
        super().__init__(spark, tmp, seed)
        self.read_every = read_every
        self.history_rows = history_rows
        # the streams write the history's tablets, so every read hits a
        # tablet of the same size class
        self.shape = gen.Shape(tablets=self.HISTORY_TABLETS, keys_per_tablet=self.HISTORY_KEYS)
        self.oracle = None
        self.followers: list[Follower] = []
        self.space = None

    def warm_up(self):
        """First use of the flush path (createDataFrame + write_batch) and
        of overlay reads of both sizes, on a throwaway store: they are then
        warm in the window. The backfill's first use lands in the first
        set-up, which the median leaves out."""
        from fluxdb_spark.schema import CHANGELOG_SCHEMA
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming.ingest import FluxEngine

        root = os.path.join(self.tmp, "warm-up")
        history = gen.chain_batches(self.seed + 1, self.shape, 1)[0]
        ChangelogStore(self.spark, root).write_batch(self.spark.createDataFrame(history, CHANGELOG_SCHEMA))
        engine = FluxEngine(self.spark, root)
        first = gen.FLUSH_SIZED_BLOCKS + 1
        stream = gen.block_stream(self.seed + 1, self.shape, first, gen.block_id(first - 1), gen.DEEP)
        pipe = engine.pipeline
        for _ in range(gen.DEEP.finality_depth + 32):
            step = next(stream)
            if step.kind == "new":
                pipe.process_new_block(step.block_id, step.block_num, step.parent_id, list(step.rows))
                head = step.block_num
            else:
                pipe.process_irreversible(step.block_id, step.block_num)
        # at the head the overlay is deep-sized; a few blocks above LIB it
        # is shallow-sized
        shallow = head - gen.DEEP.finality_depth + gen.SHALLOW.finality_depth
        run_concurrently(
            functools.partial(read, gen.tablet_name(i % self.HISTORY_TABLETS), h)
            for i in range(WARM_OVERLAY_READS // 4)
            for h in (head, shallow)
            for read in (
                lambda t, h: engine.state_at(t, h).limit(50).collect(),
                lambda t, h: engine.row_at(t, h, gen.key_name(0)).collect(),
            )
        )
        pipe.flush()
        shutil.rmtree(root, ignore_errors=True)

    def prepare(self):
        frame = gen.backfill_frame(
            self.seed, self.history_rows, self.HISTORY_HEIGHTS, self.HISTORY_TABLETS, self.HISTORY_KEYS
        )
        self.history_path = os.path.join(self.tmp, "history.parquet")
        frame.to_parquet(self.history_path, index=False)
        self.history = [
            (c, t, int(h), k, v, bool(d), b, int(n))
            for c, t, h, k, v, d, b, n in frame.itertuples(index=False, name=None)
        ]
        self.first = self.HISTORY_HEIGHTS + 1
        self.oracle = IndexOracle(frame)
        self.expected_index = self.oracle.live_keys(self.HISTORY_HEIGHTS)
        self.backfills: list[dict] = []
        self.primes = Window()  # the set-ups' priming steps, counted as ops

    def setup_rep(self, rep_dir, ops=None):
        from fluxdb_spark.schema import CHANGELOG_SCHEMA
        from fluxdb_spark.streaming.ingest import FluxEngine

        t_rep = time.perf_counter()
        log_df = self.spark.read.schema(CHANGELOG_SCHEMA).parquet(self.history_path)
        phases = backfill(
            self.spark, log_df, rep_dir, self.SHARDS, self.BAND, self.HISTORY_TABLETS, ops or _NoTrace()
        )
        engines = []
        for chain in self.CHAINS:
            root = os.path.join(rep_dir, chain.name)
            shutil.copytree(phases["root"], root)
            engine = FluxEngine(self.spark, root)
            engine.state_at(gen.tablet_name(0), self.first - 1).limit(50).collect()
            engines.append(engine)
        rep_s = time.perf_counter() - t_rep

        # models and streams, untimed; the window continues the last rep
        self.followers = [
            Follower(chain, engine, self.shape, self.history, self.first, self.seed)
            for chain, engine in zip(self.CHAINS, engines)
        ]
        t_prime = time.perf_counter()
        for f in self.followers:
            f.prime(self.primes)
        rep_s += time.perf_counter() - t_prime

        got_index = self.oracle.index_from_parquet(phases["index_dir"])
        phases["index_rows"] = len(got_index)
        phases["index_ok"] = phases["final"] == self.HISTORY_HEIGHTS and got_index == [
            e + (self.HISTORY_HEIGHTS,) for e in self.expected_index
        ]
        self.backfills.append(phases)
        return {"s": rep_s, "write_rows": len(self.history), "write_s": phases["total_s"]}

    def setup_outcomes(self, w: Window) -> None:
        for i, b in enumerate(self.backfills):
            w.outcome(b["index_ok"], f"backfill rep {i}: final height or snapshot index differs from model")
        w.attempted += self.primes.attempted
        w.failed += self.primes.failed
        w.failures += self.primes.failures

    def window(self, seconds, tracer=None):
        ops = tracer or _NoTrace()
        w = Window()
        clocks = [f.clock for f in self.followers]
        t_start = time.perf_counter()
        t_end = t_start + seconds
        # whole flush cycles only, one chain after the other, and at least
        # one of every chain
        n = len(self.followers)
        for i, f in enumerate(itertools.cycle(self.followers), 1):
            f.cycle(w, ops, self.read_every)
            if i == n and self.space is None:
                self.space = self._space_amp()
            if i >= n and time.perf_counter() >= t_end:
                break
        w.seconds = time.perf_counter() - t_start
        w.write_s = sum(f.clock - c for f, c in zip(self.followers, clocks))
        return w

    @property
    def max_forkdb(self) -> int:
        return max((f.max_forkdb for f in self.followers), default=0)

    def orphan_ratio(self) -> float:
        """Blocks orphaned over blocks fed, over both chains."""
        return sum(f.orphans() for f in self.followers) / max(1, sum(f.fed for f in self.followers))

    def engines(self):
        return [f.engine for f in self.followers]

    def space_amp(self):
        """Space amplification once each chain has flushed one cycle after
        the backfill: a fixed point of the stream, however many cycles a
        run's window fits."""
        return self.space

    def _space_amp(self):
        roots = [e.store.root for e in self.engines()]
        data = sum(sum(data_file_bytes(os.path.join(r, "changelog")).values()) for r in roots)
        return data / sum(logical_bytes(f.durable_rows) for f in self.followers)

    def close(self):
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None


WORKLOADS = {w.name: w for w in (ServeReads, LiveIngest)}
