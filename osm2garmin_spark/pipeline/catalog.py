"""Iceberg-REST-style catalog service: the second CAS backend of the
lineage commit protocol (``pipeline/lineage.py``).

The filesystem backend arbitrates the manifest total order with a
hard-link CAS — correct on one shared POSIX filesystem. A real cluster
splits the responsibilities the way Iceberg does: data and manifest
FILES live in an object store with no atomic rename/link primitives at
all, while a tiny catalog service owns ONE mutable sequence per table
and arbitrates commits with compare-and-swap semantics (the REST
catalog's ``assert-ref-snapshot-id`` requirement on a table update).

This module provides that split, stdlib-only:

- ``CatalogServer``   threaded HTTP service holding {table: seq} plus the
                      ordered list of committed manifest names — the
                      catalog is the source of truth for which manifest
                      files are VISIBLE (an unreferenced file in the store
                      is invisible, exactly Iceberg's orphan-file
                      semantics).
- ``CatalogClient``   urllib client: ``state(table)`` and
                      ``commit(table, expected_seq, manifest, replaces)``.
- ``CatalogBackend``  the lineage protocol's backend interface over a
                      client: ``state()`` is the referenced list, and
                      ``claim`` is one CAS'd commit of a UUID-named blob
                      (any dumb blob store suffices). A compaction summary
                      swaps the reference list atomically through the same
                      CAS (``replaces``), so the catalog's visible set is
                      the lineage protocol's by construction.

Durability: pass ``wal_path`` to ``CatalogServer`` and every successful
commit is appended (fsync'd) to a JSON-lines write-ahead log BEFORE the
client is acknowledged; a restarted server replays the log and resumes
with the identical {seq, manifests} state, so previously committed
history stays visible and a resumed run skips completed tiles. Without a
WAL the server is in-memory and a restart orphans all committed blobs —
the backend warns once per table when it observes seq==0 while the blob
store holds a blob written before the server started (every state
response carries the server's start time).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional, Set


class CatalogServer:
    """Single-pointer-per-table catalog over HTTP; optionally durable.

    ``wal_path``: JSON-lines write-ahead log. Each successful mutation is
    appended + fsync'd under the lock BEFORE the response is queued, so
    an acknowledged commit survives a server crash; construction replays
    the log (tolerating a torn final line from a mid-write crash) to
    rebuild {seq, manifests} per table."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 wal_path: Optional[str] = None):
        state = {"tables": {}}      # table -> {"seq": int, "manifests": [...]}
        started = time.time()
        lock = threading.Lock()
        stopping = {"v": False}
        self.wal_path = wal_path
        wal_f = None
        if wal_path is not None:
            if os.path.exists(wal_path):
                valid_bytes = _replay_wal(wal_path, state)
                if valid_bytes < os.path.getsize(wal_path):
                    # torn final line from a mid-append crash: truncate it
                    # away BEFORE reopening for append — appending onto the
                    # torn partial would glue two records into one line,
                    # and the NEXT restart's replay would then drop (or
                    # refuse) an acknowledged commit
                    with open(wal_path, "r+b") as tf:
                        tf.truncate(valid_bytes)
            wal_f = open(wal_path, "a")

        def wal_append(rec: dict) -> None:
            # called with the lock held: the record is durable before any
            # client can observe the new state
            if wal_f is not None:
                wal_f.write(json.dumps(rec) + "\n")
                wal_f.flush()
                os.fsync(wal_f.fileno())

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):           # silence request logging
                pass

            def _send(self, code: int, obj: dict):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if not self.path.startswith("/state/"):
                    return self._send(404, {"error": "unknown endpoint"})
                table = urllib.parse.unquote(self.path[len("/state/"):])
                # snapshot under the lock, write the response AFTER
                # releasing it — a stalled client socket must never hold
                # the commit CAS hostage
                with lock:
                    t = state["tables"].get(table, {"seq": 0, "manifests": []})
                    snap = {"seq": t["seq"], "manifests": list(t["manifests"]),
                            "started": started}
                self._send(200, snap)

            def do_POST(self):
                if self.path != "/commit":
                    return self._send(404, {"error": "unknown endpoint"})
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n))
                table = req["table"]
                replaces = req.get("replaces") or []
                with lock:
                    if stopping["v"]:
                        # stop() closed the WAL under this lock; mutating
                        # state afterwards would ack a commit that can
                        # never reach the log — refuse instead
                        code, body = 503, {"error": "catalog stopping"}
                        self._send(code, body)
                        return
                    t = state["tables"].setdefault(
                        table, {"seq": 0, "manifests": []})
                    if t["seq"] != req["expected_seq"]:
                        # CAS failure: the 409 body carries the
                        # authoritative current state
                        code, body = 409, {"seq": t["seq"],
                                           "manifests": list(t["manifests"])}
                    elif not set(replaces) <= set(t["manifests"]):
                        # cannot happen for a client that read `replaces`
                        # from the state it CAS'es against (the list only
                        # mutates with a seq bump) — reject malformed input
                        code, body = 400, {"error": "replaces not a subset "
                                                    "of committed manifests"}
                    else:
                        t["seq"] += 1
                        if replaces:
                            gone = set(replaces)
                            t["manifests"] = [m for m in t["manifests"]
                                              if m not in gone]
                        t["manifests"].append(req["manifest"])
                        wal_append({"table": table, "seq": t["seq"],
                                    "manifest": req["manifest"],
                                    "replaces": replaces})
                        code, body = 200, {"seq": t["seq"]}
                self._send(code, body)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.url = f"http://{host}:{self._httpd.server_address[1]}"
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._wal_f = wal_f
        self._lock = lock
        self._stopping = stopping

    def start(self) -> "CatalogServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        # ThreadingHTTPServer handlers are daemon threads that shutdown()
        # does NOT join, so an in-flight commit could otherwise mutate
        # state and then hit the closed WAL file. Flag + close under the
        # commit lock: any handler holding it finishes its append first;
        # later commits are refused with 503 before touching state.
        with self._lock:
            self._stopping["v"] = True
            if self._wal_f is not None:
                self._wal_f.close()
        self._httpd.shutdown()
        self._httpd.server_close()


def _replay_wal(wal_path: str, state: dict) -> int:
    """Rebuild per-table {seq, manifests} from the JSON-lines log. A torn
    FINAL line (crash mid-append) stops the replay there — everything
    before it was fsync'd whole; a corrupt record with further entries
    after it, or an out-of-order seq, means real corruption and fails
    loudly rather than resuming from wrong state.

    Returns the byte offset of the end of the last replayed record so the
    caller can truncate a torn tail before reopening for append. A final
    line WITHOUT its terminating newline is dropped even if it parses:
    the ack follows the fsync of the whole record, so an unterminated
    record was never acknowledged — and keeping it while truncation/append
    logic assumes line-aligned records would corrupt the next append."""
    with open(wal_path, "rb") as f:
        lines = f.readlines()
    valid = 0
    for lineno, line in enumerate(lines, 1):
        if not line.endswith(b"\n"):
            return valid        # unterminated (necessarily final) line
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            if any(l.strip() for l in lines[lineno:]):
                raise ValueError(
                    f"catalog WAL {wal_path}:{lineno}: corrupt record "
                    "with later entries present")
            return valid
        t = state["tables"].setdefault(
            rec["table"], {"seq": 0, "manifests": []})
        if rec["seq"] != t["seq"] + 1:
            raise ValueError(
                f"catalog WAL {wal_path}:{lineno}: seq {rec['seq']} "
                f"does not follow {t['seq']} for table {rec['table']!r}")
        t["seq"] = rec["seq"]
        gone = set(rec.get("replaces") or [])
        if gone:
            t["manifests"] = [m for m in t["manifests"] if m not in gone]
        t["manifests"].append(rec["manifest"])
        valid += len(line)
    return valid



class CatalogClient:
    def __init__(self, base_url: str, timeout: float = 30.0):
        """``timeout`` (seconds) bounds every round trip — a wedged
        catalog server surfaces as urllib's timeout error in the caller
        instead of blocking a mid-pipeline commit forever (ADVICE r4)."""
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self.server_started: Optional[float] = None

    def state(self, table: str) -> dict:
        """{'seq': n, 'manifests': [...]} of ``table``. The response also
        carries the server's start time (epoch seconds), kept in
        ``server_started``: it tells blobs older than the server apart."""
        quoted = urllib.parse.quote(table, safe="")
        with urllib.request.urlopen(f"{self.base_url}/state/{quoted}",
                                    timeout=self.timeout) as r:
            st = json.loads(r.read())
        self.server_started = st.pop("started")
        return st

    def commit(self, table: str, expected_seq: int, manifest: str,
               replaces: Optional[list] = None) -> tuple:
        """(ok, state): on success state is the new {'seq': n}; on CAS
        conflict ok=False and state is the AUTHORITATIVE current state
        from the 409 body. ``replaces``: manifest names this commit
        supersedes (compaction) — removed from the table's list in the
        same atomic swap that appends ``manifest``."""
        payload = {"table": table, "expected_seq": expected_seq,
                   "manifest": manifest}
        if replaces:
            payload["replaces"] = list(replaces)
        req = urllib.request.Request(
            f"{self.base_url}/commit", data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return True, json.loads(r.read())
        except urllib.error.HTTPError as e:
            if e.code == 409:
                return False, json.loads(e.read())
            raise


def _manifest_dir(root: str) -> str:
    d = os.path.join(root, "_lineage_catalog")
    os.makedirs(d, exist_ok=True)
    return d


def _table_key(root: str) -> str:
    """Catalog key = the root's absolute path, so two roots sharing one
    catalog server are isolated — with a plain shared name, root B's
    conflict read would try to open blob names committed under root A's
    directory."""
    return f"lineage@{os.path.abspath(root)}"


_STATE_LOSS_WARNED: Set[str] = set()


def _older_blob(mdir: str, started: float) -> bool:
    """Whether ``mdir`` holds a manifest blob last written before
    ``started`` (a blob a racer deletes meanwhile does not count)."""
    try:
        names = [n for n in os.listdir(mdir) if n.endswith(".parquet")]
    except FileNotFoundError:
        return False
    for n in names:
        try:
            if os.stat(os.path.join(mdir, n)).st_mtime < started:
                return True
        except FileNotFoundError:
            pass
    return False


def _warn_if_state_lost(table: str, seq: int, mdir: str,
                        started: float) -> None:
    """An in-memory (WAL-less) catalog that restarted reports seq==0
    while committed manifest blobs persist on disk — reads stay
    consistent, but all history silently became invisible and a resumed
    run reprocesses every tile. Warn once per table when that signature
    appears: a blob older than the server (``started``, its start time).
    A blob written since is a concurrent first commit between its blob
    write and its CAS, not lost state. (A FIRST commit that crashed
    before an earlier server's start also leaves seq==0 + an orphan
    blob; the message names both readings — the warning is a signal,
    not an error.)"""
    if table in _STATE_LOSS_WARNED or seq != 0:
        return
    if _older_blob(mdir, started):
        _STATE_LOSS_WARNED.add(table)
        import warnings

        warnings.warn(
            f"catalog table {table!r} reports seq=0 but the manifest store "
            f"{mdir!r} is non-empty: either the catalog server lost its "
            "state (restart without a WAL — previously committed history "
            "is now invisible and completed tiles will be reprocessed) or "
            "a prior first commit crashed pre-CAS leaving an orphan blob. "
            "Run the server with wal_path= for durable state.",
            RuntimeWarning, stacklevel=2)


class CatalogBackend:
    """Lineage-protocol backend over a catalog service: manifests are
    immutable UUID blobs under ``root/_lineage_catalog``, made visible
    only by a CAS'd reference in the catalog table of ``root``."""

    def __init__(self, root: str, client: CatalogClient):
        self.client = client
        self.table = _table_key(root)
        self.dir = _manifest_dir(root)

    def state(self) -> tuple:
        """(seq, referenced blob paths)."""
        st = self.client.state(self.table)
        _warn_if_state_lost(self.table, st["seq"], self.dir,
                            self.client.server_started)
        return st["seq"], [os.path.join(self.dir, n)
                           for n in st["manifests"]]

    def new_blob(self, summary: bool) -> str:
        prefix = "summary-" if summary else ""
        return os.path.join(self.dir, f"{prefix}{uuid.uuid4().hex}.parquet")

    def claim(self, seq: int, blob: str, covered: list) -> bool:
        """CAS the table from ``seq`` to reference ``blob`` in place of
        ``covered``. A losing blob is deleted, so contention leaks no
        files; a crash before the CAS leaves an orphan no reader sees."""
        ok, _ = self.client.commit(
            self.table, seq, os.path.basename(blob),
            replaces=[os.path.basename(p) for p in covered])
        if not ok:
            os.unlink(blob)
        return ok
