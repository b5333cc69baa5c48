"""Storage accounting from outside the program: walk table directories.

Files under a lake table are written once and never modified in place
(a commit adds new data, index and manifest files; clean and archive
delete or move them), so "bytes written" is the sum of sizes of every
path seen for the first time, or seen again with a new size or mtime.
The walker is called after each workload op, outside the timed region.

Flush policy: tables live on the local filesystem and nothing calls
fsync, on the program's side or here; sizes are read with ``os.stat``
after each op returns, so they count what the program handed to the OS.
"""

from __future__ import annotations

import io
import json
import os

import pyarrow.parquet as pq

#: top-level table subdirectories that hold index data
INDEX_DIRS = ("_index", "_index_sec", "_bloom", "_bloom_cols")


def walk(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Ledger:
    """Running account of bytes and files written under a set of dirs."""

    def __init__(self, roots: list[str]):
        self.roots = list(roots)
        self.seen: dict[str, tuple[int, int]] = {}
        self.bytes_written = 0
        self.files_written = 0
        self.index_bytes_written = 0
        self.files_deleted = 0
        for r in self.roots:
            self.seen.update(walk(r))

    def step(self) -> dict[str, int]:
        """Account for everything changed since the last step."""
        now: dict[str, tuple[int, int]] = {}
        for r in self.roots:
            now.update(walk(r))
        delta = {"bytes": 0, "files": 0, "index_bytes": 0, "deleted": 0,
                 "commits": 0, "compactions": 0, "compact_bytes": 0}
        for p, meta in now.items():
            if self.seen.get(p) == meta:
                continue
            delta["bytes"] += meta[0]
            delta["files"] += 1
            if any(f"{os.sep}{d}{os.sep}" in p for d in INDEX_DIRS):
                delta["index_bytes"] += meta[0]
            action = _manifest_action(p)
            if action is not None:
                delta["commits"] += 1
            if action == "compact":
                delta["compactions"] += 1
                delta["compact_bytes"] += _added_bytes(p)
        delta["deleted"] = sum(1 for p in self.seen if p not in now)
        self.seen = now
        self.bytes_written += delta["bytes"]
        self.files_written += delta["files"]
        self.index_bytes_written += delta["index_bytes"]
        self.files_deleted += delta["deleted"]
        return delta

    def live_bytes(self) -> int:
        return sum(size for size, _ in self.seen.values())


def _manifest_action(path: str) -> str | None:
    """The action of a newly published commit manifest, else None."""
    d, f = os.path.split(path)
    if os.path.basename(d) != "_commits" or not f.endswith(".json"):
        return None
    if not f[:-5].isdigit():
        return None
    with open(path) as fh:
        return json.load(fh).get("action")


def _added_bytes(manifest_path: str) -> int:
    table = os.path.dirname(os.path.dirname(manifest_path))
    with open(manifest_path) as fh:
        added = json.load(fh)["added"]
    total = 0
    for f in added:
        p = f["path"] if os.path.isabs(f["path"]) else os.path.join(table, f["path"])
        try:
            total += os.path.getsize(p)
        except FileNotFoundError:
            pass
    return total


def data_files(table_path: str) -> int:
    """Parquet data files currently under a table's ``data`` dir."""
    n = 0
    for _d, _dirs, files in os.walk(os.path.join(table_path, "data")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def snappy_bytes(arrow_table) -> int:
    """Size of ``arrow_table`` written once as one snappy parquet file."""
    buf = io.BytesIO()
    pq.write_table(arrow_table, buf, compression="snappy")
    return buf.tell()
