"""Catalog-service commit arbitration: the Iceberg-REST-style split of
the lineage protocol — immutable UUID manifest blobs (no filesystem
atomicity used at all) + a compare-and-swap sequence owned by a catalog
service. Same induction as the hard-link CAS, atomicity moved into the
service; orphan blobs are invisible to readers."""

import os
import random
import threading
import time

import pytest

from osm2garmin_spark.pipeline.catalog import CatalogClient, CatalogServer
from osm2garmin_spark.pipeline.lineage import CommitConflict, LineageStore


@pytest.fixture()
def catalog():
    srv = CatalogServer().start()
    yield CatalogClient(srv.url)
    srv.stop()


def _stats_df(spark, tile_ids):
    return spark.createDataFrame(
        [(t, 10, t * 7, t * 100, t * 100 + 9) for t in tile_ids],
        "tile_id int, n_rows long, digest long, min_id long, max_id long")


def test_catalog_cas_conflict_and_state(spark, tmp_path, catalog):
    d = str(tmp_path / "cat")
    got_a = LineageStore(d, catalog=catalog).commit(
        spark, "assign", "a", _stats_df(spark, [1, 2, 3]))
    assert got_a == {1, 2, 3}
    # second writer overlapping {2,3}: write-time drop, only 4 commits
    got_b = LineageStore(d, catalog=catalog).commit(
        spark, "assign", "b", _stats_df(spark, [2, 3, 4]))
    assert got_b == {4}
    # 'error' mode raises
    with pytest.raises(CommitConflict, match="already committed"):
        LineageStore(d, catalog=catalog).commit(
            spark, "assign", "c", _stats_df(spark, [4, 5]),
            on_conflict="error")
    from osm2garmin_spark.pipeline.catalog import _table_key
    st = catalog.state(_table_key(d))
    assert st["seq"] == 2 and len(st["manifests"]) == 2


def test_catalog_roots_isolated_by_default(spark, tmp_path, catalog):
    """Two roots sharing one catalog server must not see each other's
    state: the default table key derives from the root path, so root B's
    conflict read never tries to open blob names committed under root A
    (a shared plain name would FileNotFoundError mid-commit)."""
    da, db = str(tmp_path / "rootA"), str(tmp_path / "rootB")
    assert LineageStore(da, catalog=catalog).commit(
        spark, "assign", "a", _stats_df(spark, [1, 2])) == {1, 2}
    # same tiles under root B: a DIFFERENT table, no conflict, no
    # cross-root manifest reads
    assert LineageStore(db, catalog=catalog).commit(
        spark, "assign", "b", _stats_df(spark, [1, 2])) == {1, 2}
    la = {r["tile_id"]: r["run_id"] for r in
          LineageStore(da, catalog=catalog).read(spark).collect()}
    lb = {r["tile_id"]: r["run_id"] for r in
          LineageStore(db, catalog=catalog).read(spark).collect()}
    assert la == {1: "a", 2: "a"} and lb == {1: "b", 2: "b"}


def test_catalog_eight_writer_race_one_row_per_tile(spark, tmp_path, catalog):
    """8 writers, seeded random subsets/chunks/jitter against the
    catalog CAS: every tile vouched for by exactly one committed
    manifest row; winners partition the input universe."""
    d = str(tmp_path / "cat8")
    tiles = list(range(100, 124))
    committed, errors = {}, {}

    def writer(widx):
        rng = random.Random(2000 + widx)
        mine = rng.sample(tiles, k=16)
        got = set()
        try:
            i = 0
            while i < len(mine):
                chunk = mine[i:i + rng.randint(2, 6)]
                i += len(chunk)
                time.sleep(rng.random() * 0.01)
                got |= LineageStore(d, catalog=catalog).commit(
                    spark, "assign", f"w{widx}", _stats_df(spark, chunk))
            committed[widx] = got
        except Exception as e:  # noqa: BLE001
            errors[widx] = e

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    all_claimed = [t for s in committed.values() for t in s]
    assert len(all_claimed) == len(set(all_claimed)), "double-committed tile"
    union_input = set()
    for widx in range(8):
        union_input |= set(random.Random(2000 + widx).sample(tiles, k=16))
    assert set(all_claimed) == union_input

    lin = LineageStore(d, catalog=catalog).read(spark) \
        .filter("stage = 'assign'")
    per_tile = lin.groupBy("tile_id").count().collect()
    assert {r["tile_id"] for r in per_tile} == union_input
    assert all(r["count"] == 1 for r in per_tile)


def test_catalog_orphan_blobs_invisible(spark, tmp_path, catalog):
    """A manifest blob written but never CAS-committed (crash between
    blob write and catalog swap) must be invisible to readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "orph")
    LineageStore(d, catalog=catalog).commit(
        spark, "assign", "ok", _stats_df(spark, [1, 2]))
    mdir = os.path.join(d, "_lineage_catalog")
    orphan = pa.table({
        "stage": pa.array(["assign"]), "tile_id": pa.array([99], pa.int32()),
        "n_rows": pa.array([1], pa.int64()), "digest": pa.array([0], pa.int64()),
        "min_id": pa.array([0], pa.int64()), "max_id": pa.array([0], pa.int64()),
        "run_id": pa.array(["crash"]), "attempt": pa.array(["crash-a"]),
        "ts": pa.array([0.0], pa.float64())})
    pq.write_table(orphan, os.path.join(mdir, "deadbeef-orphan.parquet"))

    lin = LineageStore(d, catalog=catalog).read(spark)
    tiles = {r["tile_id"] for r in lin.collect()}
    assert tiles == {1, 2}          # orphan's tile 99 never appears


def test_catalog_backed_pipeline_eight_writers(spark, tmp_path, catalog):
    """Full-pipeline integration of the catalog backend: 8 simultaneous
    run_tiling_resumable(catalog=...) invocations. The catalog lineage
    must hold exactly one committed row per tile and the reader (fed the
    catalog lineage) must equal a single-shot filesystem-protocol run."""
    import threading

    from pyspark.sql import functions as F

    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.pipeline.lineage import (read_committed_assigned,
                                                   run_tiling_resumable)

    points = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))

    d_ref = str(tmp_path / "cat_ref")
    run_tiling_resumable(points, d_ref, max_nodes=300, run_id="ref")
    expected = sorted(map(tuple, read_committed_assigned(spark, d_ref)
                          .select("event_id", "tile_id").collect()))

    d = str(tmp_path / "cat_pipe")
    results, errors = {}, {}

    def writer(name):
        try:
            results[name] = run_tiling_resumable(
                points, d, max_nodes=300, run_id=name, catalog=catalog)
        except Exception as e:  # noqa: BLE001
            errors[name] = e

    threads = [threading.Thread(target=writer, args=(f"w{i}",))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    lin = LineageStore(d, catalog=catalog).read(spark)
    per_tile = lin.filter("stage = 'assign'").groupBy("tile_id") \
                  .count().collect()
    assert per_tile and all(r["count"] == 1 for r in per_tile)
    assert (sum(r.get("processed", 0) for r in results.values())
            == len(per_tile))

    got = sorted(map(tuple,
                     read_committed_assigned(spark, d, lineage_df=lin)
                     .select("event_id", "tile_id").collect()))
    assert got == expected


def test_catalog_wal_survives_restart(spark, tmp_path):
    """A WAL-backed server restarted from its log resumes with identical
    {seq, manifests}: committed history stays visible, orphans stay
    invisible, and a resumed pipeline run skips completed tiles."""
    from pyspark.sql import functions as F

    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.pipeline.catalog import _table_key
    from osm2garmin_spark.pipeline.lineage import (read_committed_assigned,
                                                   run_tiling_resumable)

    wal = str(tmp_path / "catalog.wal")
    d = str(tmp_path / "walroot")
    points = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))

    srv1 = CatalogServer(wal_path=wal).start()
    c1 = CatalogClient(srv1.url)
    r1 = run_tiling_resumable(points, d, max_nodes=300, run_id="w1",
                              fail_after_tiles=2, catalog=c1)
    assert r1["processed"] == 2
    st_before = c1.state(_table_key(d))
    # plus an orphan blob the catalog never referenced (crash pre-CAS)
    import pyarrow as pa
    import pyarrow.parquet as pq
    orphan = pa.table({
        "stage": pa.array(["assign"]), "tile_id": pa.array([999], pa.int32()),
        "n_rows": pa.array([1], pa.int64()), "digest": pa.array([0], pa.int64()),
        "min_id": pa.array([0], pa.int64()), "max_id": pa.array([0], pa.int64()),
        "run_id": pa.array(["crash"]), "attempt": pa.array(["crash-a"]),
        "ts": pa.array([0.0], pa.float64())})
    pq.write_table(orphan, os.path.join(d, "_lineage_catalog",
                                        "deadbeef-orphan.parquet"))
    srv1.stop()

    # restart from the WAL: identical state, orphan invisible after
    # recovery, resume processes ONLY the remaining tiles
    srv2 = CatalogServer(wal_path=wal).start()
    c2 = CatalogClient(srv2.url)
    try:
        st_after = c2.state(_table_key(d))
        assert st_after == st_before
        lin = LineageStore(d, catalog=c2).read(spark)
        assert 999 not in {r["tile_id"] for r in lin.collect()}

        r2 = run_tiling_resumable(points, d, max_nodes=300, run_id="w2",
                                  catalog=c2)
        assert r2["skipped"] == 2
        assert r2["processed"] == r2["tiles"] - 2

        lin = LineageStore(d, catalog=c2).read(spark)
        per_tile = lin.filter("stage = 'assign'").groupBy("tile_id") \
                      .count().collect()
        assert per_tile and all(r["count"] == 1 for r in per_tile)
        # committed-before-crash tiles still carry run w1
        runs = {r["tile_id"]: r["run_id"] for r in lin.collect()}
        assert sorted(runs.values()).count("w1") == 2
    finally:
        srv2.stop()


def test_catalog_wal_torn_tail_tolerated(tmp_path):
    """A torn final WAL line (crash mid-append) stops replay there; the
    durable prefix is recovered intact."""
    wal = str(tmp_path / "torn.wal")
    srv = CatalogServer(wal_path=wal).start()
    c = CatalogClient(srv.url)
    assert c.commit("t", 0, "m1.parquet")[0]
    assert c.commit("t", 1, "m2.parquet")[0]
    srv.stop()
    with open(wal, "a") as f:
        f.write('{"table": "t", "seq": 3, "manifest": "m3.pa')  # torn

    srv2 = CatalogServer(wal_path=wal).start()
    try:
        st = CatalogClient(srv2.url).state("t")
        assert st == {"seq": 2, "manifests": ["m1.parquet", "m2.parquet"]}
    finally:
        srv2.stop()


def test_catalog_compaction(spark, tmp_path, catalog):
    """compact() rolls N referenced blobs into one summary via the
    CAS'd replaces swap; rows verbatim, covered blobs deleted, conflict
    detection still works against the summary."""
    d = str(tmp_path / "ccomp")
    store = LineageStore(d, catalog=catalog)
    for i, chunk in enumerate(([1, 2], [3], [4, 5])):
        store.commit(spark, "assign", f"r{i}", _stats_df(spark, chunk),
                     attempt=f"a{i}")
    before = sorted(map(tuple, store.read(spark).collect()))

    res = store.compact()
    assert res["compacted"] == 3
    mdir = os.path.join(d, "_lineage_catalog")
    blobs = [n for n in os.listdir(mdir) if n.endswith(".parquet")]
    assert len(blobs) == 1 and blobs[0].startswith("summary-")

    after = sorted(map(tuple, store.read(spark).collect()))
    assert after == before                       # rows preserved verbatim
    assert store.compact()["compacted"] == 0   # idempotent

    # conflict detection consults the summary: overlapping tiles dropped
    got = store.commit(spark, "assign", "late", _stats_df(spark, [5, 6]))
    assert got == {6}


def test_catalog_compaction_races_commits(spark, tmp_path, catalog):
    """4 catalog committers + 2 compactors: exactly one committed row per
    tile survives; compactor CAS losses and committer refetch-on-deleted-
    blob paths both exercised."""
    import random

    d = str(tmp_path / "ccomp_race")
    tiles = list(range(300, 332))
    committed, errors = {}, {}
    done_flag = threading.Event()

    def writer(widx):
        rng = random.Random(5000 + widx)
        mine = rng.sample(tiles, k=20)
        got = set()
        try:
            i = 0
            while i < len(mine):
                chunk = mine[i:i + rng.randint(2, 5)]
                i += len(chunk)
                time.sleep(rng.random() * 0.01)
                got |= LineageStore(d, catalog=catalog).commit(
                    spark, "assign", f"w{widx}", _stats_df(spark, chunk),
                    attempt=f"w{widx}-c{i}")
            committed[widx] = got
        except Exception as e:  # noqa: BLE001
            errors[widx] = e

    def compactor(cidx):
        rng = random.Random(6000 + cidx)
        try:
            while not done_flag.is_set():
                time.sleep(rng.random() * 0.02)
                LineageStore(d, catalog=catalog).compact()
        except Exception as e:  # noqa: BLE001
            errors[f"c{cidx}"] = e

    ws = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    cs = [threading.Thread(target=compactor, args=(c,)) for c in range(2)]
    for t in ws + cs:
        t.start()
    for t in ws:
        t.join()
    done_flag.set()
    for t in cs:
        t.join()
    assert not errors, errors

    all_claimed = [t for s in committed.values() for t in s]
    assert len(all_claimed) == len(set(all_claimed)), "double-committed tile"
    union_input = set()
    for widx in range(4):
        union_input |= set(random.Random(5000 + widx).sample(tiles, k=20))
    assert set(all_claimed) == union_input

    lin = LineageStore(d, catalog=catalog).read(spark) \
        .filter("stage = 'assign'")
    per_tile = lin.groupBy("tile_id").count().collect()
    assert {r["tile_id"] for r in per_tile} == union_input
    assert all(r["count"] == 1 for r in per_tile)


def test_catalog_state_loss_warns(spark, tmp_path):
    """ADVICE r4: seq==0 + non-empty blob store (restarted WAL-less
    server) produces a one-time RuntimeWarning instead of silently
    reprocessing history."""
    import warnings as _warnings

    d = str(tmp_path / "lost")
    srv = CatalogServer().start()           # no WAL: in-memory only
    try:
        LineageStore(d, catalog=CatalogClient(srv.url)).commit(
            spark, "assign", "a", _stats_df(spark, [1, 2]))
    finally:
        srv.stop()

    srv2 = CatalogServer().start()          # fresh state, blobs persist
    try:
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            LineageStore(d, catalog=CatalogClient(srv2.url)).commit(
                spark, "assign", "b", _stats_df(spark, [3]))
        assert any("seq=0" in str(x.message) for x in w), \
            [str(x.message) for x in w]
    finally:
        srv2.stop()


def test_catalog_first_commit_in_flight_does_not_warn(spark, tmp_path,
                                                      catalog):
    """A first commit paused between its blob write and its CAS leaves
    seq==0 next to a non-empty blob store. Another store reading the
    state then must not take the blob for lost history: it is younger
    than the server, so no warning fires."""
    import warnings as _warnings

    d = str(tmp_path / "inflight")
    first = LineageStore(d, catalog=catalog)
    claim = first.backend.claim
    written, go = threading.Event(), threading.Event()

    def paused_claim(seq, blob, covered):
        written.set()
        go.wait(60)
        return claim(seq, blob, covered)

    first.backend.claim = paused_claim
    got = {}

    def commit():
        got["tiles"] = first.commit(spark, "assign", "a",
                                    _stats_df(spark, [1, 2]))

    t = threading.Thread(target=commit)
    t.start()
    try:
        assert written.wait(60)
        assert os.listdir(os.path.join(d, "_lineage_catalog"))
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            seq, paths = LineageStore(d, catalog=catalog).state()
        assert (seq, paths) == (0, [])
        assert not [x for x in w if "seq=0" in str(x.message)], \
            [str(x.message) for x in w]
    finally:
        go.set()
        t.join(60)
    assert got["tiles"] == {1, 2}


def test_catalog_client_timeout(tmp_path):
    """A wedged server surfaces as a timeout error, not a hang."""
    import socket

    srv = socket.socket()                   # accepts, never responds
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    url = f"http://127.0.0.1:{srv.getsockname()[1]}"
    try:
        c = CatalogClient(url, timeout=0.3)
        with pytest.raises(Exception) as ei:
            c.state("t")
        assert "timed out" in str(ei.value).lower()
    finally:
        srv.close()


def test_catalog_wal_torn_tail_truncated_before_append(tmp_path):
    """Regression (round-5 review): recovery must TRUNCATE a torn final
    line before reopening the WAL for append. Previously the next commit
    was glued onto the torn partial, so the SECOND restart either
    silently dropped that acknowledged commit (merged line = torn tail)
    or refused to start (corrupt record with later entries) — the
    documented 'acknowledged commits survive a crash' guarantee broke
    after the first crash."""
    wal = str(tmp_path / "glue.wal")
    srv = CatalogServer(wal_path=wal).start()
    c = CatalogClient(srv.url)
    assert c.commit("t", 0, "m1.parquet")[0]
    assert c.commit("t", 1, "m2.parquet")[0]
    srv.stop()
    with open(wal, "a") as f:
        f.write('{"table": "t", "seq": 3, "manifest": "m3.pa')  # torn

    # first restart: torn tail dropped; a NEW commit is acknowledged
    srv2 = CatalogServer(wal_path=wal).start()
    c2 = CatalogClient(srv2.url)
    assert c2.state("t")["seq"] == 2
    assert c2.commit("t", 2, "m3-retry.parquet")[0]
    srv2.stop()

    # second restart: the acknowledged commit MUST survive
    srv3 = CatalogServer(wal_path=wal).start()
    try:
        st = CatalogClient(srv3.url).state("t")
        assert st == {"seq": 3, "manifests":
                      ["m1.parquet", "m2.parquet", "m3-retry.parquet"]}
    finally:
        srv3.stop()


def test_catalog_wal_unterminated_parseable_tail_dropped(tmp_path):
    """A final line that parses as JSON but lacks its newline was never
    acknowledged (the ack follows the fsync of the whole record) — it is
    dropped and truncated, keeping replayed state and file byte-aligned
    so the next append starts a fresh line."""
    wal = str(tmp_path / "noterm.wal")
    srv = CatalogServer(wal_path=wal).start()
    c = CatalogClient(srv.url)
    assert c.commit("t", 0, "m1.parquet")[0]
    srv.stop()
    with open(wal, "a") as f:                      # complete JSON, no \n
        f.write('{"table": "t", "seq": 2, "manifest": "m2.parquet"}')

    srv2 = CatalogServer(wal_path=wal).start()
    c2 = CatalogClient(srv2.url)
    assert c2.state("t") == {"seq": 1, "manifests": ["m1.parquet"]}
    assert c2.commit("t", 1, "m2-new.parquet")[0]
    srv2.stop()

    srv3 = CatalogServer(wal_path=wal).start()
    try:
        assert CatalogClient(srv3.url).state("t") == \
            {"seq": 2, "manifests": ["m1.parquet", "m2-new.parquet"]}
    finally:
        srv3.stop()


def test_catalog_missing_blob_raises_not_spins(spark, tmp_path, catalog):
    """Regression (round-5 review): a PERMANENTLY missing catalog-
    referenced blob (store/state disagreement — lost volume, manual
    cleanup) must raise a clear error after a bounded number of state
    refetches, not spin at 100% CPU forever. The in-flight-compaction
    race this retry exists for resolves within a refetch or two."""
    from osm2garmin_spark.pipeline.catalog import _manifest_dir
    from osm2garmin_spark.pipeline.lineage import _purge_manifest_cache

    d = str(tmp_path / "lost")
    assert LineageStore(d, catalog=catalog).commit(
        spark, "assign", "a", _stats_df(spark, [1, 2])) == {1, 2}
    mdir = _manifest_dir(d)
    blobs = [os.path.join(mdir, n) for n in os.listdir(mdir)]
    for p in blobs:
        os.unlink(p)
    _purge_manifest_cache(blobs)            # simulate a fresh process

    with pytest.raises(RuntimeError, match="stayed missing"):
        LineageStore(d, catalog=catalog).read(spark)
    with pytest.raises(RuntimeError, match="stayed missing"):
        LineageStore(d, catalog=catalog).commit(
            spark, "assign", "b", _stats_df(spark, [3]))


def test_resume_lands_mid_compaction_wal_rescan(spark, tmp_path):
    """End-to-end compaction-under-resume (VERDICT r5 #7): a resumed
    run_tiling_resumable on the WAL-backed catalog whose done-scan state
    goes stale mid-read — a compaction swaps the manifest list and
    deletes the covered blobs AFTER the state fetch but BEFORE the
    manifest read — must hit the FileNotFoundError rescan path, refetch,
    skip every completed tile, and commit the remainder exactly once."""
    from pyspark.sql import functions as F

    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.pipeline.catalog import _manifest_dir, _table_key
    from osm2garmin_spark.pipeline.lineage import (read_committed_assigned,
                                                   run_tiling_resumable)

    wal = str(tmp_path / "midcompact.wal")
    d = str(tmp_path / "midcompact")
    points = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))

    d_ref = str(tmp_path / "midcompact_ref")
    run_tiling_resumable(points, d_ref, max_nodes=300, run_id="ref")
    expected = sorted(map(tuple, read_committed_assigned(spark, d_ref)
                          .select("event_id", "tile_id").collect()))

    # two partial runs -> two committed manifests worth compacting
    srv1 = CatalogServer(wal_path=wal).start()
    c1 = CatalogClient(srv1.url)
    assert run_tiling_resumable(points, d, max_nodes=300, run_id="p1",
                                fail_after_tiles=1,
                                catalog=c1)["processed"] == 1
    assert run_tiling_resumable(points, d, max_nodes=300, run_id="p2",
                                fail_after_tiles=1,
                                catalog=c1)["processed"] == 1
    srv1.stop()

    # resume against a WAL-recovered server; the FIRST state fetch is
    # made stale by an injected concurrent compaction (separate client)
    # that runs after the fetch and unlinks the blobs the fetched list
    # still names
    srv2 = CatalogServer(wal_path=wal).start()
    c2 = CatalogClient(srv2.url)
    table = _table_key(d)
    assert len(c2.state(table)["manifests"]) == 2
    real_state, raced = c2.state, {"n": 0, "fnf": 0}

    # instrument the done-scan's manifest read to prove the rescan path
    # (not a silently-successful stale read) is what resolves the race
    from osm2garmin_spark.pipeline import lineage as _lineage
    real_tim = _lineage.tiles_in_manifests

    def counting_tim(paths, stage):
        try:
            return real_tim(paths, stage)
        except FileNotFoundError:
            raced["fnf"] += 1
            raise

    def racing_state(t):
        st = real_state(t)
        if t == table and raced["n"] == 0:
            raced["n"] += 1
            assert LineageStore(d, catalog=CatalogClient(srv2.url)).compact()[
                "compacted"] == 2
            for n in st["manifests"]:       # compactor really deleted them
                assert not os.path.exists(os.path.join(_manifest_dir(d), n))
        return st

    c2.state = racing_state
    _lineage.tiles_in_manifests = counting_tim
    try:
        r = run_tiling_resumable(points, d, max_nodes=300, run_id="p3",
                                 catalog=c2)
    finally:
        _lineage.tiles_in_manifests = real_tim
        c2.state = real_state
        srv2.stop()
    assert raced["n"] == 1                  # the stale read happened
    assert raced["fnf"] >= 1                # ... and raised, then rescanned
    assert r["skipped"] == 2
    assert r["processed"] == r["tiles"] - 2

    # exactly one committed row per tile, and the reader over the final
    # (summary + tail) lineage equals the single-shot reference run
    srv3 = CatalogServer(wal_path=wal).start()
    c3 = CatalogClient(srv3.url)
    try:
        lin = LineageStore(d, catalog=c3).read(spark)
        per_tile = lin.filter("stage = 'assign'").groupBy("tile_id") \
                      .count().collect()
        assert len(per_tile) == r["tiles"]
        assert all(row["count"] == 1 for row in per_tile)
        got = sorted(map(tuple,
                         read_committed_assigned(spark, d, lineage_df=lin)
                         .select("event_id", "tile_id").collect()))
        assert got == expected
    finally:
        srv3.stop()
