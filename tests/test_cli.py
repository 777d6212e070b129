"""End-to-end drive of the four CLI operating modes (reference
app/fluxdb/app.go:123-135) against sf0.001, sharing the test session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluxdb_spark.__main__ import main

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    return {
        "store": str(base / "store"),
        "store2": str(base / "store2"),
        "shards": str(base / "shards"),
    }


def test_inject_then_server(spark, dirs, capsys):
    assert main(["inject", "--sf-dir", SF, "--store", dirs["store"]], spark) == 0
    assert main(
        [
            "server",
            "--store",
            dirs["store"],
            "--tablet",
            "click",
            "--height",
            "700",
        ],
        spark,
    ) == 0
    out = capsys.readouterr().out
    assert "live keys in 'click' at height 700" in out
    # the served snapshot must equal the direct operator answer
    from fluxdb_spark.operators import state_at
    from fluxdb_spark.sources.changelog import changelog_from_events
    from fluxdb_spark.sources.tables import load_table

    want = (
        state_at(changelog_from_events(load_table(spark, SF, "events")), "click", 700)
        .count()
    )
    assert f"# {want} live keys" in out


def test_scatter_inject_finalize_roundtrip(spark, dirs, capsys):
    assert main(
        ["reproc-shard", "--sf-dir", SF, "--out", dirs["shards"], "--shards", "2"],
        spark,
    ) == 0
    for k in ("0", "1"):
        assert main(
            [
                "reproc-inject",
                "--out",
                dirs["shards"],
                "--store",
                dirs["store2"],
                "--shard",
                k,
            ],
            spark,
        ) == 0
    assert main(
        [
            "reproc-inject",
            "--out",
            dirs["shards"],
            "--store",
            dirs["store2"],
            "--finalize",
            "--shards",
            "2",
        ],
        spark,
    ) == 0
    assert "final checkpoint written" in capsys.readouterr().out

    # the backfilled store must hold exactly the rows of the direct mapping
    from fluxdb_spark.sources.changelog import changelog_from_events
    from fluxdb_spark.sources.tables import load_table
    from fluxdb_spark.store import ChangelogStore

    store2 = ChangelogStore(spark, dirs["store2"])
    got = store2.changelog().count()
    want = changelog_from_events(load_table(spark, SF, "events")).count()
    assert got == want
    assert store2.checkpoint() is not None
    # shard checkpoints were cleaned up by finalize (W5)
    assert store2.checkpoint("0") is None and store2.checkpoint("1") is None


def test_finalize_keeps_head_block_id(spark, tmp_path):
    """--finalize writes the block id of the lowest shard checkpoint, so a
    live pipeline opened on the backfilled store links its first block to
    that LIB at once (an empty id leaves the overlay empty until the first
    final block)."""
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming.ingest import IngestPipeline
    from tests.conftest import make_changelog

    shards, root = str(tmp_path / "shards"), str(tmp_path / "store")
    rows = [("t0", h, "k0", f"v{h}") for h in range(1, 6)]
    rows += [("t1", h, "k1", f"w{h}") for h in range(1, 4)]
    make_changelog(spark, rows).withColumn(
        "shard", F.when(F.col("tablet_id") == "t0", 0).otherwise(1)
    ).write.partitionBy("shard").parquet(shards)
    inject = ["reproc-inject", "--out", shards, "--store", root]
    for k in ("0", "1"):
        assert main(inject + ["--shard", k], spark) == 0
    assert main(inject + ["--finalize", "--shards", "2"], spark) == 0

    store = ChangelogStore(spark, root)
    ckpt = store.checkpoint()
    # shard 1 ends at height 3: make_changelog ids blocks "<height hex>aa"
    assert (ckpt.height, ckpt.block_id, ckpt.block_num) == (3, "00000003aa", 3)
    pipe = IngestPipeline(store)
    pipe.process_new_block(
        "live-4", 4, ckpt.block_id,
        [("tst", "t1", 4, "k1", "w4", False, "live-4", 4)],
    )
    assert pipe.speculative_writes() is not None


def test_finalize_refuses_missing_shard(spark, dirs, tmp_path, capsys):
    assert main(
        [
            "reproc-inject",
            "--out",
            dirs["shards"],
            "--store",
            str(tmp_path / "empty_store"),
            "--finalize",
            "--shards",
            "2",
        ],
        spark,
    ) == 1
    assert "missing its checkpoint" in capsys.readouterr().err


def test_maintain_mode(spark, tmp_path, capsys):
    """maintain: recover + compact through the CLI; reads unchanged."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "mstore")
    st = ChangelogStore(spark, root)
    for h in range(1, 9):
        st.write_batch(
            make_changelog(spark, [("tst", "tbl", h, "k", f"v{h}")])
        )
    assert main(["maintain", "--store", root, "--min-files", "2"], spark) == 0
    out = capsys.readouterr().out
    assert "compacted 1 band(s): 8 -> 1 files" in out
    st2 = ChangelogStore(spark, root)
    assert sorted(r.height for r in st2.changelog().collect()) == list(
        range(1, 9)
    )
    assert st2.checkpoint().height == 8


def test_maintain_zorder_mode(spark, tmp_path, capsys):
    """maintain --zorder: the Morton rewrite through the CLI; reads
    unchanged, per-file zone maps bounded on primary_key."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "zstore")
    st = ChangelogStore(spark, root, height_band=1000)
    for h in range(1, 9):
        st.write_batch(
            make_changelog(
                spark,
                [("tst", "tbl", h, f"k{i:02d}", f"v{h}-{i}") for i in range(32)],
            )
        )
    rc = main(
        ["maintain", "--store", root, "--min-files", "2",
         "--target-rows", "64", "--zorder"],
        spark,
    )
    assert rc == 0
    assert "compacted 1 band(s)" in capsys.readouterr().out
    st2 = ChangelogStore(spark, root)
    assert st2.changelog().count() == 8 * 32
    stats = [f for f in st2.file_layout_stats("tst") if f["rows"]]
    assert len(stats) >= 2
    # at least one file's primary_key range excludes some probe key —
    # the linear layout can never do that
    assert any(
        not (f["stats"]["primary_key"][0] <= "k16" <= f["stats"]["primary_key"][1])
        for f in stats
    )


def test_maintain_reindex_dry_run_then_rebuild(spark, tmp_path, capsys):
    """maintain --reindex-height: dry run reports the would-rebuild set
    and writes nothing; the real run repairs corrupted snapshots."""
    from pyspark.sql import functions as F

    from fluxdb_spark.operators.snapshot import build_tablet_index
    from fluxdb_spark.store import ChangelogStore, IndexStore
    from tests.conftest import make_changelog

    root, ixroot = str(tmp_path / "rstore"), str(tmp_path / "rix")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark, [("evt", "tbl", h, "k", f"v{h}") for h in (1, 2, 3)]
        )
    )
    ixs = IndexStore(spark, ixroot)
    for h in (1, 2, 3):
        ixs.write(build_tablet_index(st.changelog(), "tbl", h))
    good = sorted(map(tuple, ixs.read().collect()))
    ixs._rewrite_swap(
        ixs.read().withColumn("height", F.lit(0).cast("long"))
    )
    rc = main(
        ["maintain", "--store", root, "--min-files", "99",
         "--index", ixroot, "--reindex-height", "3",
         "--reindex-dry-run"],
        spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "would rebuild 3 snapshot(s) across 1 tablet(s)" in out
    assert "evt/tbl: heights [1, 2, 3]" in out
    assert "pruned" not in out  # dry run stays read-only
    assert sorted(map(tuple, ixs.read().collect())) != good
    rc = main(
        ["maintain", "--store", root, "--min-files", "99",
         "--index", ixroot, "--reindex-height", "3"],
        spark,
    )
    assert rc == 0
    assert "rebuilt 3 snapshot(s)" in capsys.readouterr().out
    assert sorted(map(tuple, IndexStore(spark, ixroot).read().collect())) == good


def test_maintain_expire(spark, tmp_path, capsys):
    """maintain --expire-before: retention through the CLI."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "estore")
    st = ChangelogStore(spark, root, height_band=10)
    st.write_batch(
        make_changelog(
            spark, [("tst", "tbl", h, f"k{h % 3}", f"v{h}") for h in range(1, 31)]
        )
    )
    rc = main(
        ["maintain", "--store", root, "--min-files", "99",
         "--expire-before", "20"],
        spark,
    )
    assert rc == 0
    assert "expired 2 band(s)" in capsys.readouterr().out
    st2 = ChangelogStore(spark, root, height_band=10)
    assert st2.retention_horizon() == 20
    assert st2.changelog().filter("height >= 20").count() == 11


def test_server_metrics_scrape(spark, dirs, capsys):
    """§2.7 observability — server mode exposes a Prometheus-style
    /metrics endpoint (reference metrics/metrics.go:21-24) and the CLI
    proves it with a real HTTP round-trip: head gauge = the durable
    checkpoint height."""
    assert main(
        [
            "server",
            "--store",
            dirs["store"],
            "--tablet",
            "click",
            "--height",
            "700",
            "--metrics-port",
            "0",
        ],
        spark,
    ) == 0
    out = capsys.readouterr().out
    assert "# metrics at http://127.0.0.1:" in out
    assert "# TYPE fluxdb_head_block_number gauge" in out
    # the head gauge equals the injected checkpoint height
    from fluxdb_spark.store import ChangelogStore

    ckpt = ChangelogStore(spark, dirs["store"]).checkpoint()
    assert f"\nfluxdb_head_block_number {ckpt.height}\n" in out
    assert "fluxdb_head_time_drift_seconds" in out


def test_metrics_server_serves_listener_metrics():
    """MetricsServer over an IngestMetricsListener source: the captured
    progress surfaces through a real HTTP scrape in exposition format,
    and unknown paths 404."""
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from fluxdb_spark.streaming.metrics import (
        IngestMetricsListener,
        MetricsServer,
    )

    listener = IngestMetricsListener()
    listener.progress.head_height = 42
    listener.progress.total_rows = 1000
    listener.progress.batches = 7
    listener.progress.batch_durations_ms = [200, 300]
    srv = MetricsServer(listener.metrics)
    try:
        with urlopen(srv.url, timeout=10) as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
        assert "fluxdb_head_block_number 42" in body
        assert "fluxdb_ingested_rows_total 1000" in body
        assert "fluxdb_ingest_batches_total 7" in body
        assert "fluxdb_ingest_rows_per_second 2000" in body
        # drift gauge omitted: no progress timestamp yet (None sample)
        assert "fluxdb_head_time_drift_seconds" not in body
        try:
            urlopen(srv.url.replace("/metrics", "/nope"), timeout=10)
            raise AssertionError("expected 404")
        except HTTPError as e:
            assert e.code == 404
    finally:
        srv.close()


def test_concurrent_cross_process_injects_stay_consistent(
    spark, tmp_path_factory
):
    """End-to-end cross-process single-writer proof: two OS processes
    (separate JVMs, separate SparkSessions) inject the same events into
    one store concurrently. The writer lease serializes them; the loser
    replays idempotently. The store must end exactly as a single inject
    would — same rows, no duplicates, checkpoint at the max height."""
    import os
    import subprocess
    import sys

    store = str(tmp_path_factory.mktemp("xproc") / "store")
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="8g",  # two extra JVMs beside the test session
        SPARK_GRAFT_CPUS="8",
    )
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-m",
                "fluxdb_spark",
                "inject",
                "--sf-dir",
                SF,
                "--store",
                store,
            ],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("injected up to height" in o for o in outs), outs

    from fluxdb_spark.sources.changelog import changelog_from_events
    from fluxdb_spark.sources.tables import load_table
    from fluxdb_spark.store import ChangelogStore

    st = ChangelogStore(spark, store)
    want = changelog_from_events(load_table(spark, SF, "events"))
    got = st.changelog()
    assert got.count() == want.count()  # no duplicate replay rows
    keys = ["collection", "tablet_id", "height", "primary_key"]
    assert got.select(*keys).distinct().count() == want.count()
    assert (
        st.checkpoint().height
        == want.agg({"height": "max"}).collect()[0][0]
    )
    # no lease or manifest debris survives
    assert not [
        f for f in os.listdir(store) if f.startswith("_writer-")
    ]
    assert os.listdir(os.path.join(store, "_manifests")) == []


def test_maintain_dml_and_history(spark, tmp_path, capsys):
    """maintain --delete-where / --redact-where / --history: the physical
    DML and commit-log surfaces through the CLI."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "dstore")
    st = ChangelogStore(spark, root, height_band=10)
    st.write_batch(
        make_changelog(
            spark,
            [("tst", "tbl", h, f"k{h % 3}", f"v{h}") for h in range(1, 13)],
        )
    )
    rc = main(
        ["maintain", "--store", root, "--min-files", "99",
         "--delete-where", "primary_key = 'k0'",
         "--redact-where", "primary_key = 'k1'",
         "--redact-to", "'[GDPR]'",
         "--history"],
        spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "deleted 4 row(s)" in out
    assert "redacted 4 row(s)" in out
    # the history listing shows the appends and both rewrites in order
    assert "v1\tappend\twrite_batch" in out
    assert "rewrite\tpurge" in out and "rewrite\tredact" in out
    st2 = ChangelogStore(spark, root, height_band=10)
    log = st2.changelog()
    assert log.filter(F.col("primary_key") == "k0").count() == 0
    assert set(
        r.value
        for r in log.filter(F.col("primary_key") == "k1").collect()
    ) == {"[GDPR]"}
    assert st2.checkpoint().height == 12


def test_maintain_prune_log(spark, tmp_path, capsys):
    """maintain --prune-log: checkpoint + prune the commit log; time
    travel to the latest version stays exact through the checkpoint."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "plstore")
    st = ChangelogStore(spark, root, height_band=10)
    for h in range(1, 6):
        st.write_batch(
            make_changelog(spark, [("tst", "tbl", h, "k", f"v{h}")])
        )
    rc = main(
        ["maintain", "--store", root, "--min-files", "99", "--prune-log", "1"],
        spark,
    )
    assert rc == 0
    assert "pruned 4 entry file(s)" in capsys.readouterr().out
    st2 = ChangelogStore(spark, root, height_band=10)
    assert st2.changelog(at_version=st2.latest_commit_version()).count() == 5


def test_replicate_mode(spark, tmp_path, capsys):
    """replicate: one-shot catch-up mirrors the source store exactly."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    src = str(tmp_path / "rsrc")
    st = ChangelogStore(spark, src, height_band=10)
    st.write_batch(
        make_changelog(spark, [("tst", "tbl", h, "k", f"v{h}") for h in (1, 2, 3)])
    )
    rc = main(
        ["replicate", "--src", src, "--dst", str(tmp_path / "rdst"),
         "--checkpoint", str(tmp_path / "rck")],
        spark,
    )
    assert rc == 0
    assert "replica caught up to height 3" in capsys.readouterr().out
    dst = ChangelogStore(spark, str(tmp_path / "rdst"))
    assert sorted(r.height for r in dst.changelog().collect()) == [1, 2, 3]


def test_inject_orc_format(spark, tmp_path, capsys):
    """inject --data-format orc: the store-DSN choice from the CLI; the
    server mode then reads it back with no format flag (sticky meta)."""
    import os

    store = str(tmp_path / "ostore")
    rc = main(
        ["inject", "--sf-dir", "/root/testdata/sf0.001",
         "--store", store, "--data-format", "orc"],
        spark,
    )
    assert rc == 0
    data_files = [
        fn
        for _d, _s, fns in os.walk(os.path.join(store, "changelog"))
        for fn in fns
        if not fn.startswith(".")
    ]
    assert data_files and all(f.endswith(".orc") for f in data_files)
    rc = main(
        ["server", "--store", store, "--tablet", "click", "--height", "700"],
        spark,
    )
    assert rc == 0
    assert "live keys in 'click' at height 700" in capsys.readouterr().out


def test_materialize_mode(spark, tmp_path, capsys):
    """materialize: one-shot aggregate catch-up; a second run after more
    appends folds only the delta and stays equal to a full recompute."""
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming.materialize import read_aggregate
    from tests.conftest import make_changelog

    src = str(tmp_path / "msrc")
    st = ChangelogStore(spark, src, height_band=10)
    st.write_batch(
        make_changelog(spark, [("tst", "tbl", h, "k", f"v{h}") for h in (1, 2)])
    )
    dest, ck = str(tmp_path / "magg"), str(tmp_path / "mck")
    args = ["materialize", "--store", src, "--dest", dest,
            "--checkpoint", ck, "--group-by", "tablet_id"]
    assert main(args, spark) == 0
    assert "materialized 1 group(s) at commit version 1" in (
        capsys.readouterr().out
    )
    st.write_batch(
        make_changelog(spark, [("tst", "other", 3, "k", "v3")])
    )
    assert main(args, spark) == 0
    assert "materialized 2 group(s) at commit version 2" in (
        capsys.readouterr().out
    )
    got = {
        (r.tablet_id, r.n_rows, r.max_height)
        for r in read_aggregate(spark, dest).collect()
    }
    assert got == {("tbl", 2, 2), ("other", 1, 3)}


def test_maintain_fsck(spark, tmp_path, capsys):
    """maintain --fsck / --fsck-remove: debris detection and repair."""
    import os
    import shutil as sh

    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "fstore")
    st = ChangelogStore(spark, root, height_band=10)
    st.write_batch(
        make_changelog(spark, [("tst", "tbl", h, "k", f"v{h}") for h in (1, 2)])
    )
    band = os.path.join(root, "changelog", "collection=tst", "height_band=0")
    src = next(
        os.path.join(band, f)
        for f in os.listdir(band)
        if f.endswith(".parquet")
    )
    sh.copy(src, os.path.join(band, "debris.parquet"))
    assert main(["maintain", "--store", root, "--min-files", "99",
                 "--fsck"], spark) == 0
    out = capsys.readouterr().out
    assert "fsck: 0 missing, 1 orphan(s), 0 removed" in out
    assert main(["maintain", "--store", root, "--min-files", "99",
                 "--fsck-remove"], spark) == 0
    # a removed path is repaired, not remaining debris
    assert "fsck: 0 missing, 0 orphan(s), 1 removed" in (
        capsys.readouterr().out
    )
    st2 = ChangelogStore(spark, root, height_band=10)
    assert sorted(r.height for r in st2.changelog().collect()) == [1, 2]


def test_replicate_migrates_band_and_format(spark, tmp_path, capsys):
    """replicate --height-band --data-format: replication doubles as the
    store migration path — re-band AND re-format in one pass, reads
    identical, source untouched."""
    import os

    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    src = str(tmp_path / "msrc2")
    st = ChangelogStore(spark, src, height_band=10)
    st.write_batch(
        make_changelog(
            spark, [("tst", "tbl", h, "k", f"v{h}") for h in range(1, 26)]
        )
    )
    dst = str(tmp_path / "mdst2")
    rc = main(
        ["replicate", "--src", src, "--dst", dst,
         "--checkpoint", str(tmp_path / "mck2"),
         "--height-band", "7", "--data-format", "orc"],
        spark,
    )
    assert rc == 0
    rep = ChangelogStore(spark, dst)  # band + format sticky from _meta
    assert rep.height_band == 7
    assert sorted(r.height for r in rep.changelog().collect()) == list(
        range(1, 26)
    )
    bands = {
        d
        for d in os.listdir(os.path.join(dst, "changelog", "collection=tst"))
    }
    # 25 heights at band 7 -> bands 0..3
    assert bands == {f"height_band={b}" for b in range(4)}
    files = [
        fn
        for _d, _s, fns in os.walk(os.path.join(dst, "changelog"))
        for fn in fns
        if not fn.startswith(".")
    ]
    assert files and all(f.endswith(".orc") for f in files)
    # height-bounded reads partition-prune against the NEW band size
    assert sorted(
        r.height for r in rep.changelog(max_height=13).collect()
    ) == list(range(1, 14))


def test_replicate_derived_redacted(spark, tmp_path, capsys):
    """replicate --value-expr: a derived (redacted) replica from the CLI."""
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    src = str(tmp_path / "dsrc")
    st = ChangelogStore(spark, src, height_band=10)
    st.write_batch(
        make_changelog(
            spark,
            [("tst", "tbl", 1, "a", "secret-1"), ("tst", "tbl", 2, "b", "ok")],
        )
    )
    rc = main(
        ["replicate", "--src", src, "--dst", str(tmp_path / "ddst"),
         "--checkpoint", str(tmp_path / "dck"),
         "--value-expr", "regexp_replace(value, 'secret-[0-9]+', '[GONE]')"],
        spark,
    )
    assert rc == 0
    rep = ChangelogStore(spark, str(tmp_path / "ddst"))
    got = {r.height: r.value for r in rep.changelog().collect()}
    assert got == {1: "[GONE]", 2: "ok"}


class TestQueryMode:
    def test_list_runs_and_names_everything(self, spark, capsys):
        from fluxdb_spark.catalog import catalog

        assert main(["query", "list"], spark) == 0
        out = capsys.readouterr().out
        for s in catalog()[:5]:
            assert s.name in out
        assert "rows-only" in out  # the IVF approximate entry is marked

    def test_run_verify_match(self, spark, capsys):
        assert (
            main(["query", "tpch_q6", "--sf-dir", SF, "--verify"], spark)
            == 0
        )
        assert "# oracle MATCH" in capsys.readouterr().out

    def test_unknown_name_fails_cleanly(self, spark, capsys):
        assert main(["query", "nope", "--sf-dir", SF], spark) == 2

    def test_explain_prints_plan(self, spark, capsys):
        assert (
            main(
                ["query", "region_revenue", "--sf-dir", SF, "--explain"],
                spark,
            )
            == 0
        )
        assert "Physical Plan" in capsys.readouterr().out


class TestQuerySave:
    def test_save_parquet_and_csv_roundtrip(self, spark, tmp_path):
        out = str(tmp_path / "q6")
        assert (
            main(["query", "tpch_q6", "--sf-dir", SF, "--save", out], spark)
            == 0
        )
        assert spark.read.parquet(out).count() == 1
        outc = str(tmp_path / "rev")
        assert (
            main(
                ["query", "region_revenue", "--sf-dir", SF,
                 "--save", outc, "--format", "csv"],
                spark,
            )
            == 0
        )
        back = spark.read.option("header", "true").csv(outc)
        assert back.count() > 0 and "r_name" in back.columns

    def test_save_plus_verify_runs_the_oracle_check(
        self, spark, tmp_path, capsys
    ):
        # ADVICE r10: --save used to return before the --verify branch,
        # silently skipping the check the user asked for
        out = str(tmp_path / "q6v")
        rc = main(
            ["query", "tpch_q6", "--sf-dir", SF, "--save", out,
             "--verify"],
            spark,
        )
        captured = capsys.readouterr().out
        assert rc == 0
        assert "# saved parquet" in captured
        assert "# oracle MATCH" in captured
        assert spark.read.parquet(out).count() == 1
