"""N-commit lineage bench: per-commit conflict-read cost on both CAS
backends (the hard-link filesystem backend and the catalog service,
started in-process).

Measures the number of manifest FILES physically opened by each commit's
state and conflict read, three ways per backend:

- cold      cache cleared before every commit — O(total committed
            manifests) per commit, O(N^2) over the job
- cached    immutable-manifest cache on (the default) — each commit opens
            only manifests that appeared since its last read: O(new) = 1
- compacted cache cleared AND the store compacted every `compact_every`
            commits — the fresh-process bound: summary + tail, never the
            full history

Prints one JSON line with the per-backend totals.

Usage: python tools/bench_lineage_commits.py [N] [compact_every]
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2garmin_spark.pipeline import lineage as L   # noqa: E402
from osm2garmin_spark.pipeline.catalog import (      # noqa: E402
    CatalogClient, CatalogServer)
from osm2garmin_spark.session import get_spark       # noqa: E402


def run_mode(spark, store, n, clear_cache, compact_every=0):
    def stats_df(t):
        return spark.createDataFrame(
            [(t, 1, t)], "tile_id int, n_rows long, digest long")

    opens = []
    for t in range(n):
        if clear_cache:
            L._MANIFEST_TILE_CACHE.clear()
        before = L.manifest_read_count()
        store.commit(spark, "assign", "bench", stats_df(t), attempt=f"a{t}")
        opens.append(L.manifest_read_count() - before)
        if compact_every and (t + 1) % compact_every == 0:
            store.compact()
    return opens


def main():
    import tempfile

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    compact_every = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("bench-lineage-commits")

    out = {"metric": "lineage_commit_conflict_reads", "n_commits": n,
           "compact_every": compact_every, "unit": "manifest file opens"}
    srv = CatalogServer().start()
    try:
        with tempfile.TemporaryDirectory() as td:
            for backend, client in (("fs", None),
                                    ("catalog", CatalogClient(srv.url))):
                def store(mode):
                    return L.LineageStore(f"{td}/{backend}-{mode}", client)

                modes = {
                    "cold": run_mode(spark, store("cold"), n, True),
                    "cached": run_mode(spark, store("cached"), n, False),
                    "compacted_cold": run_mode(spark, store("comp"), n, True,
                                               compact_every),
                }
                out[backend] = {
                    name: {"total": sum(o), "max_per_commit": max(o),
                           "last_commit": o[-1]}
                    for name, o in modes.items()}
    finally:
        srv.stop()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
