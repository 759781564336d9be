"""Per-tile lineage checkpoints + resumable tiling runs.

Reference semantics being modeled (SURVEY.md §2.9): the contours zip cache
recomputes only missing cells and double-checks completeness
(ContoursUpdater.java:91-110,270-326); planet state is tracked by sequence
number with recovery (PlanetUpdateDownloader.java:74-120). Here the unit of
resume is the *tile* (stable under AQE re-partitioning — never the Spark
partition id):

- tiles table      (tile list from the quadtree; persisted so a resumed job
                    reuses identical boundaries — no re-derivation drift)
- lineage table    one row per (stage, tile_id, attempt): row count, order-
                    insensitive content digest (xor of xxhash64 over ids),
                    and min/max id column stats (Iceberg lower/upper
                    bounds) for read-time file skipping
- output           parquet partitioned by (attempt, tile_id) where attempt
                    is unique per invocation; readers trust only files whose
                    (tile_id, attempt) pair has a committed lineage row
                    (read_committed_assigned). A crash between the data
                    write and the lineage commit leaves orphan files under
                    an attempt that no lineage row references — the resumed
                    run re-processes those tiles under a NEW attempt and the
                    orphans are invisible to readers (no duplicate rows).

The lineage table is a set of immutable manifest files, one per commit,
written on the driver (Iceberg's metadata discipline); data files go
under per-attempt roots, so simultaneous writers share no mutable path.

One commit protocol (``LineageStore``) runs over two compare-and-swap
backends, each with the same small interface — ``state()`` (the current
sequence number and the visible manifest paths), ``new_blob(summary)``
(where to write a manifest) and ``claim(seq, blob, covered)`` (make
``blob`` the manifest of seq + 1, superseding ``covered``):

- ``FsBackend``       one shared POSIX directory: the claim is an
                      ``os.link`` of the blob to ``m{seq+1:08d}.parquet``,
                      which fails if a racer linked that seq first;
- ``catalog.CatalogBackend``  an object store + the catalog service: the
                      claim is the service's CAS on the table's seq, and
                      the service's reference list is the visible set.

A committer reads the state, checks its tiles against every visible
manifest, writes its blob and claims seq + 1; a lost claim re-reads. A
claim of s succeeds only from a read of state s - 1, so by induction each
committed manifest's conflict read covered every earlier commit. A
compaction is the same loop with one summary blob that covers every
visible manifest. The visible set is the newest summary plus every
manifest above it: a summary claimed at s covers every seq < s (its
listing observed s - 1 and nobody else can claim s), so the files it
covers are only garbage, collected after the claim in any order.
Readers, the done-scan, conflict reads and compaction all read through
``state()``; a manifest collected between a state and its read is found
again in the next state's summary.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable, List, Optional, Sequence, Set

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..geo.area import Area
from ..split.density import collect_density
from ..split.quadtree import split_area
from ..operators.tile_join import assign_points_to_tiles

LINEAGE_SCHEMA = ("stage string, tile_id int, n_rows long, digest long, "
                  "min_id long, max_id long, "
                  "run_id string, attempt string, ts double")


class CommitConflict(RuntimeError):
    """Another writer committed one of this attempt's tiles first
    (optimistic-concurrency conflict, detected at write time)."""


def collect_tile_rows(tile_stats: DataFrame) -> list:
    """(tile_id, n_rows, digest, min_id, max_id) tuples from a tile-stats
    DataFrame; min/max stats are optional columns (None when absent)."""
    has_stats = ("min_id" in tile_stats.columns
                 and "max_id" in tile_stats.columns)
    cols = ["tile_id", "n_rows", "digest"] + (
        ["min_id", "max_id"] if has_stats else [])
    return [(int(r["tile_id"]), int(r["n_rows"]), int(r["digest"]),
             int(r["min_id"]) if has_stats and r["min_id"] is not None
             else None,
             int(r["max_id"]) if has_stats and r["max_id"] is not None
             else None)
            for r in tile_stats.select(*cols).collect()]


def manifest_table(rows: list, stage: str, run_id: str, attempt: str,
                   ts: float):
    """The manifest arrow table of one commit (must stay in lockstep
    with LINEAGE_SCHEMA)."""
    import pyarrow as pa

    return pa.table({
        "stage": pa.array([stage] * len(rows), pa.string()),
        "tile_id": pa.array([r[0] for r in rows], pa.int32()),
        "n_rows": pa.array([r[1] for r in rows], pa.int64()),
        "digest": pa.array([r[2] for r in rows], pa.int64()),
        "min_id": pa.array([r[3] for r in rows], pa.int64()),
        "max_id": pa.array([r[4] for r in rows], pa.int64()),
        "run_id": pa.array([run_id] * len(rows), pa.string()),
        "attempt": pa.array([attempt] * len(rows), pa.string()),
        "ts": pa.array([ts] * len(rows), pa.float64()),
    })


# Committed manifests are IMMUTABLE (each is created exactly once under a
# unique name — the seq-claimed m{seq}.parquet or a catalog UUID blob — and
# never rewritten), so their summary flag and (stage, tile_id) content can
# be cached for the life of the process. This turns the commit path's
# conflict read from O(total committed manifests) per attempt into
# O(new-since-last-read): a writer's Nth commit re-opens only the
# manifests that appeared since its N-1th. Compaction bounds the cost for
# a FRESH process the same way. The cache is process-wide; entries for
# collected files are purged at delete time to bound memory.
_MANIFEST_TILE_CACHE: dict = {}
_MANIFEST_READS = [0]        # cache misses = actual file opens (bench hook)
#: parquet key-value metadata key that marks a compaction summary
_SUMMARY_KEY = b"lineage.summary"


def manifest_read_count() -> int:
    """Number of manifest FILES physically opened by state and conflict
    reads in this process — the metric the O(new-manifests)-per-commit
    bench tracks (tools/bench_lineage_commits.py)."""
    return _MANIFEST_READS[0]


def _manifest_entry(path: str) -> tuple:
    """(is_summary, ((stage, tile_id), ...)) of one immutable manifest
    file, cached by absolute path. Raises FileNotFoundError if a
    compaction collected the file — callers re-read the state."""
    key = os.path.abspath(path)
    hit = _MANIFEST_TILE_CACHE.get(key)
    if hit is None:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["stage", "tile_id"])
        _MANIFEST_READS[0] += 1
        hit = (_SUMMARY_KEY in (t.schema.metadata or {}),
               tuple(zip(t.column("stage").to_pylist(),
                         (int(i) for i in t.column("tile_id").to_pylist()))))
        _MANIFEST_TILE_CACHE[key] = hit
    return hit


def _purge_manifest_cache(paths) -> None:
    for p in paths:
        _MANIFEST_TILE_CACHE.pop(os.path.abspath(p), None)


def tiles_in_manifests(paths, stage: str) -> Set[int]:
    """Tile ids a list of committed manifest files vouch for at ``stage``
    — the kernel of the conflict read and the done-scan. Reads go through
    the immutable-manifest cache. Propagates FileNotFoundError when a
    compaction collected a listed file."""
    out: Set[int] = set()
    for p in paths:
        for s, i in _manifest_entry(p)[1]:
            if s == stage:
                out.add(i)
    return out


_CANON_COLS = ("stage", "tile_id", "n_rows", "digest", "min_id", "max_id",
               "run_id", "attempt", "ts")


def _read_manifest_canonical(path: str):
    """Full manifest rows as an arrow table in LINEAGE_SCHEMA column
    order; legacy (pre-stats) manifests gain null min_id/max_id so every
    input to a compaction concat has the identical schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    n = t.num_rows
    for col in ("min_id", "max_id"):
        if col not in t.column_names:
            t = t.append_column(col, pa.nulls(n, pa.int64()))
    return t.select(list(_CANON_COLS))


def _concat_manifests(paths):
    """All rows of ``paths`` as one arrow table (None for no paths)."""
    import pyarrow as pa

    if not paths:
        return None
    return pa.concat_tables([_read_manifest_canonical(p) for p in paths])


def _absorbed(blob: str, summary: str) -> bool:
    """Whether every row of ``blob`` is in ``summary``: compaction keeps
    rows verbatim, and a commit's (attempt, ts) make its rows unique."""
    def rows(p):
        t = _read_manifest_canonical(p)
        return set(zip(*(t.column(c).to_pylist() for c in _CANON_COLS)))
    return rows(blob) <= rows(summary)


#: state re-reads before a manifest that stays missing is an error. A
#: listed manifest goes missing legitimately only when a compaction
#: collects it mid-read, which the next state resolves; one that stays
#: missing (lost store directory, mismatched catalog WAL and store) must
#: raise, not spin.
_REFETCHES = 50


def _refetch(fetch: Callable, where: str):
    """``fetch()``, re-run while a manifest it reads is missing."""
    for _ in range(_REFETCHES):
        try:
            return fetch()
        except FileNotFoundError:
            continue
    raise RuntimeError(
        f"lineage store {where!r}: a committed manifest stayed missing "
        f"across {_REFETCHES} state refetches — this is not a compaction "
        "race; the manifest store and the lineage state disagree")


def _seq_of(name: str) -> Optional[int]:
    """Sequence number of a manifest file name, None for other files:
    m{seq:08d}.parquet, or m{seq:08d}-{suffix}.parquet (the no-hard-link
    fallback and the round-3 format). The FULL digit run is parsed, not
    a fixed 8-char slice: %08d grows to 9 digits past 99,999,999, and a
    stale max would make the committer retry a claimed seq forever."""
    if not (name.startswith("m") and name.endswith(".parquet")):
        return None
    digits = name[1:-len(".parquet")].split("-", 1)[0]
    return int(digits) if digits.isdigit() else None


_NO_HARDLINK_WARNED: Set[str] = set()


def _warn_no_hardlink_once(lineage_dir: str) -> None:
    """One-time (per dir, per process) operator signal that the hard-link
    CAS is unavailable here."""
    if lineage_dir not in _NO_HARDLINK_WARNED:
        _NO_HARDLINK_WARNED.add(lineage_dir)
        import warnings

        warnings.warn(
            f"lineage dir {lineage_dir!r}: filesystem does not support "
            "hard links — commits fall back to writer-unique manifest "
            "names (duplicate commits possible; readers resolve winners) "
            "and compaction is skipped. Use the catalog service backend "
            "(pipeline/catalog.py) for object stores.",
            RuntimeWarning, stacklevel=4)


class FsBackend:
    """The hard-link CAS on one shared POSIX directory (module docstring).
    A summary is marked in its parquet key-value metadata."""

    def __init__(self, lineage_dir: str):
        self.dir = lineage_dir
        os.makedirs(lineage_dir, exist_ok=True)

    def _listing(self) -> list:
        """(seq, path) of every manifest file, newest first."""
        return sorted(((s, os.path.join(self.dir, n))
                       for n in os.listdir(self.dir)
                       if (s := _seq_of(n)) is not None), reverse=True)

    def state(self) -> tuple:
        """(max seq, visible paths oldest first): the newest summary and
        every manifest above it."""
        listing = self._listing()
        visible = []
        for _, p in listing:
            visible.append(p)
            if _manifest_entry(p)[0]:
                break
        return (listing[0][0] if listing else 0), visible[::-1]

    def new_blob(self, summary: bool) -> str:
        return os.path.join(self.dir, f".{uuid.uuid4().hex}.tmp")

    def claim(self, seq: int, blob: str, covered: list) -> Optional[bool]:
        """Link ``blob`` to m{seq+1}. True once claimed, False if a racer
        holds that seq, None for a summary on a filesystem without hard
        links: without the CAS a summary need not cover every lower seq,
        so compacting would hide racing commits. Consumes ``blob``."""
        final = os.path.join(self.dir, f"m{seq + 1:08d}.parquet")
        try:
            os.link(blob, final)
        except FileExistsError:
            os.unlink(blob)
            return False
        except OSError:
            _warn_no_hardlink_once(self.dir)
            if covered:
                os.unlink(blob)
                return None
            os.replace(blob, os.path.join(
                self.dir, f"m{seq + 1:08d}-{uuid.uuid4().hex}.parquet"))
            return True

        # A claimant whose state predates a compaction can link a seq
        # whose file that compaction already collected. Its manifest then
        # sits below a newer summary, invisible: the claim stands only if
        # that summary holds its rows; otherwise the caller re-reads and
        # retries rather than report an invisible commit. Either way the
        # hidden file is garbage.
        def absorbed():
            summary = next((p for s, p in self._listing()
                            if s > seq + 1 and _manifest_entry(p)[0]), None)
            return None if summary is None else _absorbed(blob, summary)

        try:
            kept = _refetch(absorbed, self.dir)
            if kept is None:
                return True
            try:
                os.unlink(final)
            except FileNotFoundError:
                pass
            _purge_manifest_cache([final])
            return kept
        finally:
            os.unlink(blob)


class LineageStore:
    """The tile list and the lineage table of one output root, under the
    one commit protocol (module docstring). ``catalog`` (a
    catalog.CatalogClient) selects the catalog-service CAS; by default
    the hard-link CAS runs on ``root/_lineage``."""

    def __init__(self, root: str, catalog=None):
        self.root = root
        self.tiles_path = os.path.join(root, "_tiles.json")
        if catalog is None:
            self.backend = FsBackend(os.path.join(root, "_lineage"))
        else:
            from .catalog import CatalogBackend
            self.backend = CatalogBackend(root, catalog)
        self.lineage_dir = self.backend.dir

    # --- tile list (split stage) ----------------------------------------
    def save_tiles(self, tiles: Sequence[Area]) -> None:
        # writer-unique tmp: simultaneous initial writers (all of whom
        # derived the IDENTICAL deterministic tile list from the same
        # input) must not share a tmp path — with a common name, writer
        # A's os.replace consumes the file writer B is about to replace
        # and B dies with FileNotFoundError (seen at 8-writer fan-in).
        # Atomic replace makes the last writer win; content is identical.
        tmp = self.tiles_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump([{"tile_id": t.map_id, "min_lat": t.min_lat,
                        "min_lon": t.min_long, "max_lat": t.max_lat,
                        "max_lon": t.max_long} for t in tiles], f)
        os.replace(tmp, self.tiles_path)

    def load_tiles(self) -> Optional[List[Area]]:
        if not os.path.exists(self.tiles_path):
            return None
        with open(self.tiles_path) as f:
            rows = json.load(f)
        return [Area(r["min_lat"], r["min_lon"], r["max_lat"], r["max_lon"],
                     map_id=r["tile_id"]) for r in rows]

    # --- lineage rows -----------------------------------------------------
    def _scan(self, read: Callable) -> tuple:
        """(seq, visible paths, read(paths)) from one backend state."""
        def once():
            seq, paths = self.backend.state()
            return seq, paths, read(paths)
        return _refetch(once, self.backend.dir)

    def state(self) -> tuple:
        """(seq, visible manifest paths)."""
        return self._scan(lambda paths: None)[:2]

    def completed(self, spark: SparkSession, stage: str) -> Set[int]:
        """Tile ids committed at ``stage`` — the done-scan: a driver-side
        pyarrow read of the visible manifests, no Spark job."""
        return self._scan(lambda paths: tiles_in_manifests(paths, stage))[2]

    def read(self, spark: SparkSession) -> DataFrame:
        """The committed lineage rows of one state, read on the driver
        (one row per tile per commit): a later compaction cannot delete
        a file from under the returned DataFrame. One partition, because
        the rows are few: readers' sorts and aggregates then need no
        sampling or extra stage jobs."""
        rows = self._scan(_concat_manifests)[2]
        if rows is None:
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.createDataFrame(rows).coalesce(1)

    def commit(self, spark: SparkSession, stage: str, run_id: str,
               tile_stats: DataFrame, attempt: str = "",
               on_conflict: str = "drop") -> Set[int]:
        """tile_stats: (tile_id, n_rows, digest[, min_id, max_id]) —
        committed after the data write succeeds; ``attempt`` names the
        data files this row vouches for. The optional min_id/max_id are
        per-tile column stats (tile_digests supplies them) recorded in
        the manifest for read-time file skipping; absent columns commit
        as null = unprunable. Returns the set of tile_ids actually
        committed.

        The commit is a DRIVER-side immutable manifest claimed through the
        backend CAS (module docstring) — a Spark append job here would
        share the output's _temporary directory with a racing writer,
        whose job commit can clobber the other's in-flight task files.

        Each attempt first reads the state and compares tile sets with
        every visible manifest (write-time conflict detection).
        ``on_conflict='drop'`` commits only the tiles no racer beat us to
        (our files for lost tiles become dead files); ``'error'`` raises
        CommitConflict."""
        import pyarrow.parquet as pq

        rows = collect_tile_rows(tile_stats)
        while True:
            seq, _, taken = self._scan(
                lambda paths: tiles_in_manifests(paths, stage))
            lost = {r[0] for r in rows} & taken
            if lost:
                if on_conflict == "error":
                    raise CommitConflict(
                        f"tiles {sorted(lost)} already committed for "
                        f"stage {stage!r} by another writer")
                rows = [r for r in rows if r[0] not in lost]
                if not rows:
                    return set()
            blob = self.backend.new_blob(summary=False)
            pq.write_table(
                manifest_table(rows, stage, run_id, attempt, time.time()),
                blob)
            if self.backend.claim(seq, blob, []):
                return {r[0] for r in rows}

    def compact(self) -> dict:
        """Roll every visible manifest into ONE summary manifest claimed
        through the same CAS, then collect the covered files — the
        lineage store's own 30→1 compaction (reference analogue: the
        monthly diff consolidation, PlanetUpdateDownloader.java:218-271,
        already modeled for *data* diffs in streaming/incremental.py).

        Rows are preserved VERBATIM (original run_id/attempt/ts/stats), so
        reader semantics — winner resolution, time travel, snapshots(),
        stats pruning — are unchanged; only the file count drops. A commit
        that lands first wins the seq and the compaction re-reads; one
        that lands after is the tail above the summary. After compaction
        a fresh process's conflict read opens summary + tail instead of
        the full commit history.

        Returns {"compacted": n_files_rolled, "seq": seq_after}."""
        import pyarrow.parquet as pq

        while True:
            seq, paths, merged = self._scan(
                lambda paths: _concat_manifests(paths) if len(paths) > 1
                else None)
            if merged is None:
                return {"compacted": 0, "seq": seq}
            blob = self.backend.new_blob(summary=True)
            pq.write_table(
                merged.replace_schema_metadata({_SUMMARY_KEY: b"1"}), blob)
            claimed = self.backend.claim(seq, blob, paths)
            if claimed is None:
                return {"compacted": 0, "seq": seq}
            if claimed:
                for p in paths:
                    try:
                        os.unlink(p)
                    except FileNotFoundError:
                        pass        # another compactor's collection
                _purge_manifest_cache(paths)
                return {"compacted": len(paths), "seq": seq + 1}


def tile_digests(assigned: DataFrame, id_col: str) -> DataFrame:
    """(tile_id, n_rows, digest, min_id, max_id): order-insensitive
    content digest — stable under AQE/shuffle nondeterminism; bit_xor
    never overflows (ANSI mode) at any row count. min/max ride the same
    partial agg for free and become the manifest's column stats
    (Iceberg lower_bounds/upper_bounds), which read_committed_assigned
    uses to prune committed files against an id predicate without
    opening them. Non-numeric id columns (e.g. the corpus's 'img123'
    strings) try_cast to null — such tiles commit NULL stats and stay
    unprunable, the documented contract, instead of failing the ANSI
    cast mid-commit."""
    return assigned.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("digest"),
        F.min(F.col(id_col)).try_cast("long").alias("min_id"),
        F.max(F.col(id_col)).try_cast("long").alias("max_id"))


def committed_pairs(spark: SparkSession, out_dir: str,
                    stage: str = "assign",
                    as_of: Optional[float] = None,
                    id_between: Optional[tuple] = None,
                    lineage_df: Optional[DataFrame] = None) -> DataFrame:
    """(tile_id, attempt) of the winning committed attempt per tile —
    the reader's file-selection set.

    Winner resolution happens BEFORE any stats pruning (two attempts of
    one tile may hold different content, so pruning must never promote a
    losing attempt). With ``id_between=(lo, hi)``, winners whose manifest
    column stats (min_id/max_id, Iceberg lower/upper bounds) prove no row
    can fall in [lo, hi] are dropped — their data files are never opened.
    Manifests from before the stats columns existed read as null and stay
    unprunable (correct, not merely compatible).

    ``lineage_df``: alternative lineage source — e.g.
    ``LineageStore(out_dir, catalog=client).read(spark)`` for a
    catalog-committed table; the winner/pruning logic is
    backend-independent."""
    if lineage_df is None:
        lineage_df = LineageStore(out_dir).read(spark)
    lin = lineage_df.filter(F.col("stage") == stage)
    if as_of is not None:
        lin = lin.filter(F.col("ts") <= float(as_of))
    w = Window.partitionBy("tile_id").orderBy(F.col("ts").asc(),
                                              F.col("attempt").asc())
    winners = (lin.select("tile_id", "attempt", "ts", "min_id", "max_id")
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1))
    if id_between is not None:
        lo, hi = id_between
        # manifest stats are numeric (long); non-numeric id bounds (string
        # ids commit NULL stats) can't prune — the exact residual filter in
        # read_committed_assigned still applies
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            winners = winners.filter(
                F.col("min_id").isNull() | F.col("max_id").isNull()
                | ((F.col("max_id") >= F.lit(lo))
                   & (F.col("min_id") <= F.lit(hi))))
    return winners.select("tile_id", "attempt")


def read_committed_assigned(spark: SparkSession, out_dir: str,
                            stage: str = "assign",
                            as_of: Optional[float] = None,
                            id_between: Optional[tuple] = None,
                            id_col: str = "event_id",
                            lineage_df: Optional[DataFrame] = None) -> DataFrame:
    """Read back ONLY data files vouched for by a committed lineage row.

    Orphan files from an attempt that crashed between its data write and
    its lineage commit sit under an attempt= partition no lineage row
    references; the isin filter prunes those directories at scan time and
    the broadcast semi-join enforces the exact (tile_id, attempt) contract.

    Three Iceberg-snapshot-style guarantees ride the same selection:
    - concurrent-writer safety: if two writers race past the completed()
      check and BOTH commit the same tile, the reader deterministically
      keeps one attempt per tile (earliest commit ts, attempt string as
      the tie-break) — a double commit degrades to dead files, never to
      duplicate rows;
    - time travel: ``as_of`` (unix seconds) reads the table as of that
      instant — only lineage rows committed at or before it participate;
    - stats pruning: ``id_between=(lo, hi)`` drops committed files whose
      manifest min_id/max_id stats exclude the range before the scan
      (committed_pairs), then applies the exact residual ``id_col``
      predicate — Iceberg's file-skipping contract: stats select a
      superset, the engine filters the remainder.
    """
    pairs = committed_pairs(spark, out_dir, stage, as_of, id_between,
                            lineage_df=lineage_df)
    attempts = [r["attempt"] for r in pairs.select("attempt").distinct().collect()]
    df = spark.read.parquet(os.path.join(out_dir, "assigned"))
    out = (df.filter(F.col("attempt").isin(attempts))
           .join(F.broadcast(pairs), ["tile_id", "attempt"], "left_semi")
           .drop("attempt"))
    if id_between is not None:
        lo, hi = id_between
        out = out.filter((F.col(id_col) >= F.lit(lo))
                         & (F.col(id_col) <= F.lit(hi)))
    return out


def snapshots(spark: SparkSession, out_dir: str,
              stage: str = "assign",
              lineage_df: Optional[DataFrame] = None) -> DataFrame:
    """Iceberg-metadata-style snapshot listing: one row per committed
    attempt with its commit instant, run id, tile count and total rows —
    the inputs a time-travel reader (read_committed_assigned(as_of=...))
    picks from. ``lineage_df`` selects the backend, exactly as in
    committed_pairs."""
    if lineage_df is None:
        lineage_df = LineageStore(out_dir).read(spark)
    return (lineage_df.filter(F.col("stage") == stage)
            .groupBy("attempt", "run_id")
            .agg(F.min("ts").alias("committed_ts"),
                 F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_rows").alias("n_rows"))
            .orderBy("committed_ts"))


def run_tiling_resumable(points: DataFrame, out_dir: str,
                         max_nodes: int = 1_600_000, overlap: int = 2000,
                         resolution: int = 13, id_col: str = "event_id",
                         lat_col: str = "lat", lon_col: str = "lon",
                         run_id: str = "run", fail_after_tiles: int = -1,
                         fail_before_commit: bool = False,
                         catalog=None, compact_after: int = 0,
                         ) -> dict:
    """Resumable pass-1 + pass-2: reuses the persisted tile list, skips
    tiles whose 'assign' lineage rows exist, writes per-tile parquet under
    a fresh attempt partition, then commits lineage (write-then-commit).

    ``fail_after_tiles`` injects a crash after committing that many tiles;
    ``fail_before_commit`` injects a crash after the data write but before
    the lineage commit (the orphan-files scenario) — test hooks for the
    kill/resume scenarios.

    ``catalog``: a catalog.CatalogClient — the lineage store then runs
    over the catalog-service CAS (LineageStore). Read the results with
    ``read_committed_assigned(..., lineage_df=LineageStore(out_dir,
    catalog=client).read(spark))``.

    ``compact_after`` (> 0): after this run's commit, if more than that
    many manifests are visible, roll them into one summary
    (LineageStore.compact) — the operational hook that keeps long
    incremental jobs' conflict reads at summary + tail instead of the
    full commit history. Safe under concurrent writers (the compaction
    claim rides the same CAS; race-tested).

    Returns {"tiles": n, "processed": n_new, "skipped": n_skipped}
    (+"compacted" when a compaction ran).
    """
    import uuid

    spark = points.sparkSession
    store = LineageStore(out_dir, catalog)

    tiles = store.load_tiles()
    if tiles is None:
        grid, exact = collect_density(points, lat_col, lon_col, resolution)
        if exact is None:
            return {"tiles": 0, "processed": 0, "skipped": 0}
        tiles = split_area(grid, exact, resolution, max_nodes)
        store.save_tiles(tiles)

    done = store.completed(spark, "assign")
    pending = [t for t in tiles if t.map_id not in done]
    if fail_after_tiles >= 0:
        pending = pending[:fail_after_tiles]

    processed = 0
    if pending:
        from ..operators.skew import salted_repartition

        attempt = f"{run_id}-{uuid.uuid4().hex[:12]}"
        assigned = assign_points_to_tiles(
            points, pending, overlap, lat_col, lon_col)
        data_dir = os.path.join(out_dir, "assigned")
        # deterministic salt spreads hot (metro) tiles over many writer
        # tasks; on-disk layout is attempt=<id>/tile_id=<n>/ so an
        # uncommitted attempt's files are never mistaken for committed
        # data. The write targets the attempt's OWN directory (the
        # attempt= partition name comes from the path, recovered by
        # partition discovery at read): simultaneous writers therefore
        # never share a _temporary directory, whose shared job-commit is
        # the one way concurrent Spark appends can clobber each other.
        (salted_repartition(assigned, "tile_id", id_col, salt_n=8)
         .write.mode("append").partitionBy("tile_id")
         .parquet(os.path.join(data_dir, f"attempt={attempt}")))
        if fail_before_commit:
            return {"tiles": len(tiles), "processed": 0,
                    "skipped": len(done), "crashed": True}
        stats = tile_digests(assigned, id_col)
        # optimistic concurrency: a racer that committed any of our tiles
        # since completed() wins them; our files for those tiles become
        # dead files and we vouch only for the rest
        committed = store.commit(spark, "assign", run_id, stats,
                                 attempt=attempt)
        processed = len(pending)
        lost = processed - len(committed)
        if lost:
            return {"tiles": len(tiles), "processed": len(committed),
                    "skipped": len(done), "conflict_dropped": lost}

    out = {"tiles": len(tiles), "processed": processed,
           "skipped": len(tiles) - len(pending) if fail_after_tiles < 0 else len(done)}
    if compact_after > 0 and len(store.state()[1]) > compact_after:
        out["compacted"] = store.compact()["compacted"]
    return out
