"""Deterministic races of the lineage commit protocol, run against both CAS
backends: a compactor paused between its claim and the collection of the
files it covers, and a committer whose state predates a compaction. Each
``make_store()`` opens a separate LineageStore on the same lineage table,
as a second process would."""

import errno
import os

import pytest

from osm2garmin_spark.pipeline import lineage
from osm2garmin_spark.pipeline.catalog import CatalogClient, CatalogServer
from osm2garmin_spark.pipeline.lineage import LineageStore, snapshots


@pytest.fixture(params=["fs", "catalog"])
def make_store(request, tmp_path):
    root = str(tmp_path / "root")
    if request.param == "fs":
        yield lambda: LineageStore(root)
        return
    srv = CatalogServer().start()
    try:
        yield lambda: LineageStore(root, catalog=CatalogClient(srv.url))
    finally:
        srv.stop()


def _commit(spark, store, tile):
    stats = spark.createDataFrame([(tile, 10, tile * 7)],
                                  "tile_id int, n_rows long, digest long")
    return store.commit(spark, "assign", f"r{tile}", stats,
                        attempt=f"a{tile}")


def _assert_committed(spark, store, tiles):
    """read() holds one row per committed tile, snapshots() the true
    per-attempt counts, completed() the committed set."""
    lin = store.read(spark)
    assert sorted(r["tile_id"] for r in lin.collect()) == tiles
    snaps = snapshots(spark, store.root, lineage_df=lin).collect()
    assert sorted((s["attempt"], s["n_tiles"], s["n_rows"])
                  for s in snaps) == [(f"a{t}", 1, 10) for t in tiles]
    assert store.completed(spark, "assign") == set(tiles)


def test_compaction_paused_before_collection(spark, make_store, monkeypatch):
    """While a compactor has claimed its summary but not yet deleted the
    manifests it covers, a second compactor and every reader see each
    tile exactly once. The filesystem summary used to be visible next to
    the files it covers: the second compactor rolled both into a summary
    holding every tile twice, and read()/snapshots() counted double."""
    tiles = [1, 2, 3]
    for t in tiles:
        assert _commit(spark, make_store(), t) == {t}
    real_unlink = os.unlink
    paused = []

    def unlink(path, *args, **kwargs):
        if not paused and str(path).endswith(".parquet"):
            paused.append(path)
            make_store().compact()
            _assert_committed(spark, make_store(), tiles)
        return real_unlink(path, *args, **kwargs)

    monkeypatch.setattr(lineage.os, "unlink", unlink)
    make_store().compact()
    monkeypatch.undo()
    assert paused
    _assert_committed(spark, make_store(), tiles)


def test_commit_from_state_older_than_compaction(spark, make_store,
                                                 monkeypatch):
    """A committer reads state at seq 2; before it claims seq 3, a racer
    commits seq 3 and a compaction rolls seqs 1-3 into a summary at seq 4
    and deletes their files. On the filesystem the stale claim of seq 3
    links successfully into the freed name, below the summary: it must be
    retried above it, not reported committed and left invisible."""
    for t in (1, 2):
        assert _commit(spark, make_store(), t) == {t}
    stale = make_store()
    real_claim = stale.backend.claim
    raced = []

    def claim(seq, blob, covered):
        if not raced:
            raced.append(seq)
            other = make_store()
            assert _commit(spark, other, 3) == {3}
            assert other.compact()["compacted"] == 3
        return real_claim(seq, blob, covered)

    monkeypatch.setattr(stale.backend, "claim", claim)
    assert _commit(spark, stale, 5) == {5}
    assert raced == [2]
    _assert_committed(spark, make_store(), [1, 2, 3, 5])


def test_no_hardlink_commits_but_does_not_compact(spark, tmp_path,
                                                  monkeypatch):
    """Without hard links there is no CAS: commits fall back to
    writer-unique names, and compaction declines, because a summary could
    then hide a commit that raced it."""
    def no_link(src, dst):
        raise PermissionError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(lineage.os, "link", no_link)
    store = LineageStore(str(tmp_path / "nolink"))
    with pytest.warns(RuntimeWarning, match="hard links"):
        for t in (1, 2):
            assert _commit(spark, store, t) == {t}
    assert store.compact()["compacted"] == 0
    assert len([n for n in os.listdir(store.lineage_dir)
                if n.endswith(".parquet")]) == 2
    _assert_committed(spark, store, [1, 2])
