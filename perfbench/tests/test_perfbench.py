"""Tests of the benchmark itself, at tiny sizes.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random

import pytest

from perfbench import gen
from perfbench.model import ROW_FIELDS, LwwModel, check


def _row(tablet, height, key, value, branch=0):
    bid = gen.block_id(height, branch)
    return (gen.COLLECTION, tablet, height, key, value, value is None, bid, height)


# -- pure model and checker ------------------------------------------------


def test_generators_are_seeded():
    a = gen.chain_batches(5, gen.Shape(), 1)
    assert a == gen.chain_batches(5, gen.Shape(), 1)
    assert a != gen.chain_batches(6, gen.Shape(), 1)
    s1 = gen.block_stream(5, gen.Shape(), 10, gen.block_id(9))
    s2 = gen.block_stream(5, gen.Shape(), 10, gen.block_id(9))
    assert [next(s1) for _ in range(200)] == [next(s2) for _ in range(200)]
    f = gen.backfill_frame(5, 500, 50, 2, 40)
    assert f.equals(gen.backfill_frame(5, 500, 50, 2, 40))
    assert not f.duplicated(["tablet_id", "primary_key", "height"]).any()


def test_block_stream_orphans_side_forks():
    chain = gen.Chain("test", finality_depth=4, fork_share=0.3)
    steps = list(_take(gen.block_stream(1, gen.Shape(), 1, "genesis", chain), 400))
    final = {s.block_id for s in steps if s.kind == "irreversible"}
    side = {s.block_id for s in steps if s.kind == "new" and not s.block_id.endswith("a")}
    assert side and not (side & final)
    nums = [s.block_num for s in steps if s.kind == "irreversible"]
    assert nums == list(range(1, len(nums) + 1))


def test_block_stream_finality_lags_by_the_chain_depth():
    for chain in (gen.SHALLOW, gen.DEEP):
        tip = 0
        for step in _take(gen.block_stream(2, gen.Shape(), 1, "genesis", chain), 2000):
            if step.kind == "new":
                tip = max(tip, step.block_num)
            else:
                assert step.block_num == tip - chain.finality_depth
    deep = list(_take(gen.block_stream(2, gen.Shape(), 1, "genesis", gen.DEEP), 2000))
    assert all(s.block_id.endswith("a") for s in deep)  # no forks in normal running


def _take(it, n):
    for _ in range(n):
        yield next(it)


def test_model_last_write_wins_with_tombstones_and_overlay():
    m = LwwModel()
    m.add([_row("t", 1, "a", "a1"), _row("t", 3, "a", None), _row("t", 2, "b", "b2")])
    assert m.row_at("t", 2, "a") == [_row("t", 1, "a", "a1")]
    assert m.row_at("t", 3, "a") == []
    assert [r[3] for r in m.state_at("t", 2, 10)] == ["a", "b"]
    assert [r[3] for r in m.state_at("t", 3, 10)] == ["b"]
    # a head-fork row at the same height wins over the durable one
    spec = [_row("t", 2, "b", "b2-fork", branch=1)]
    assert m.row_at("t", 2, "b", spec)[0][4] == "b2-fork"
    assert m.state_series("t", 1, 3, 1, 10) == [
        (1, "a", 1, "a1"),
        (2, "a", 1, "a1"),
        (2, "b", 2, "b2"),
        (3, "b", 2, "b2"),
    ]


def test_checker_flags_corrupted_answers():
    expected = [_row("t", 1, "a", "a1"), _row("t", 2, "b", "b2")]
    good = [dict(zip(ROW_FIELDS, r)) for r in expected]
    assert check(expected, good)
    wrong_value = [dict(good[0], value="zz"), good[1]]
    wrong_height = [dict(good[0], height=7), good[1]]
    assert not check(expected, wrong_value)
    assert not check(expected, wrong_height)
    assert not check(expected, good[:1])
    assert not check(expected, good[::-1])
    assert not check([], good[:1])


# -- the model against the engine, on a tiny seed ----------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    tmp = str(tmp_path_factory.mktemp("perfbench"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CPUS", "2")
        mp.setenv("SPARK_DRIVER_MEMORY", "1g")
        session = run.start_spark(tmp, trace=True)
    yield session
    session.stop()


def test_serve_reads_model_agrees_with_engine(spark, tmp_path):
    from perfbench.workloads import ServeReads

    wl = ServeReads(spark, str(tmp_path), seed=3, batches=1)
    wl.prepare()
    wl.setup_rep(str(tmp_path / "rep"))
    try:
        requests = wl.requests(random.Random(3))
        kinds = set()
        for _ in range(12):
            kind, path, expected, fields = next(requests)
            body = wl._get(path)
            assert check(expected, body["rows"], fields), path
            kinds.add(kind)
            # the same answer, corrupted, is caught
            if body["rows"]:
                bad = [dict(body["rows"][0], height=-1)] + body["rows"][1:]
                assert not check(expected, bad, fields)
        assert kinds == set(ServeReads.MIX)
    finally:
        wl.close()


def test_live_ingest_model_agrees_with_engine_over_forks(spark, tmp_path):
    from perfbench.trace import Tracer, install_engine_wrappers
    from perfbench.workloads import LiveIngest, Window

    wl = LiveIngest(spark, str(tmp_path), seed=4, read_every=60, history_rows=2000)
    wl.prepare()
    setup_tracer = Tracer(spark)
    install_engine_wrappers(setup_tracer)
    try:
        wl.setup_rep(str(tmp_path / "rep"), setup_tracer)
    finally:
        setup_tracer.uninstall()
    backfill_jobs = setup_tracer.spark_costs()["backfill"]
    assert backfill_jobs["jobs"] > 0
    try:
        # an untraced window (reads and flushes) runs no job in the
        # backfill's job group
        untraced = wl.window(0.0)  # runs one flush cycle per chain
        assert setup_tracer.spark_costs()["backfill"] == backfill_jobs
        tracer = Tracer(spark)
        install_engine_wrappers(tracer)
        try:
            w = wl.window(0.0, tracer)
        finally:
            tracer.uninstall()
    finally:
        wl.close()
    wl.setup_outcomes(w)
    assert untraced.failed == 0 and w.failed == 0, untraced.failures + w.failures
    assert set(w.read_chains) == {"shallow", "deep"} and len(w.read_ms) >= 6
    assert w.lag_ms and len(w.cycles) == 2 and w.blocks >= 500
    assert wl.orphan_ratio() > 0
    # the backfill's layers were traced in the set-up
    names = {s["name"] for s in setup_tracer.spans}
    assert {"store.write_batch", "store.commit", "store.compact", "snapshot.write"} <= names
    names = {s["name"] for s in tracer.spans}
    assert {"ingest.flush", "ingest.overlay", "forkdb.segment"} <= names
    assert any(n.startswith("temporal.") for n in names)
    # a head read on the deep chain overlays its whole reversible segment:
    # it runs after the new head arrives and before LIB follows it
    chain_of = {s["rid"]: s["chain"] for s in tracer.spans if s["name"] == "op.read"}
    deep = [s["rows"] for s in tracer.spans if s["name"] == "ingest.overlay" and chain_of[s["rid"]] == "deep"]
    assert max(deep) == (gen.DEEP.finality_depth + 1) * gen.ROWS_PER_BLOCK
    costs = tracer.spark_costs()
    assert costs["read"]["jobs"] > 0 and costs["flush"]["jobs"] > 0

    # a corrupted snapshot index is flagged
    wl.backfills[-1]["index_ok"] = False
    flagged = Window()
    wl.setup_outcomes(flagged)
    assert flagged.failed == 1
