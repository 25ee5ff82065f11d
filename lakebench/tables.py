"""Table state read from outside the engine: the Delta transaction log
(the documented protocol format: JSON commits, parquet checkpoints,
``_last_checkpoint``) and the bytes on disk under a table root."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

import pyarrow.parquet as pq

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")


def _log(path: str) -> str:
    return os.path.join(path, "_delta_log")


def versions(path: str) -> list[int]:
    return sorted(int(m.group(1)) for f in os.listdir(_log(path)) if (m := _COMMIT.match(f)))


def latest_version(path: str) -> int:
    return max(versions(path))


def checkpoint_versions(path: str) -> list[int]:
    return sorted({int(m.group(1)) for f in os.listdir(_log(path))
                   if (m := _CHECKPOINT.match(f))})


def commit_actions(path: str, version: int) -> list[dict]:
    with open(os.path.join(_log(path), f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def commit_counts(path: str, v0: int, v1: int) -> dict[str, int]:
    """Actions of the commits (v0, v1]: files added and removed, bytes
    added, and adds that carry a deletion vector."""
    out = {"files_added": 0, "files_removed": 0, "bytes_added": 0, "dv_files_added": 0}
    for v in range(v0 + 1, v1 + 1):
        for a in commit_actions(path, v):
            if "add" in a:
                out["files_added"] += 1
                out["bytes_added"] += int(a["add"].get("size", 0))
                if a["add"].get("deletionVector"):
                    out["dv_files_added"] += 1
            elif "remove" in a:
                out["files_removed"] += 1
    return out


def log_tail(path: str) -> int:
    """Commits since the last checkpoint: the JSON a reader must replay."""
    cps = checkpoint_versions(path)
    return latest_version(path) - (cps[-1] if cps else -1)


def active_files(path: str) -> set[str]:
    """Replay the log (last checkpoint, then JSON commits) to the active
    file set of the latest version."""
    cps = checkpoint_versions(path)
    active: set[str] = set()
    start = 0
    if cps:
        start = cps[-1] + 1
        for f in sorted(os.listdir(_log(path))):
            m = _CHECKPOINT.match(f)
            if m and int(m.group(1)) == cps[-1]:
                adds = pq.read_table(os.path.join(_log(path), f), columns=["add"]).column("add")
                active.update(a["path"] for a in adds.to_pylist() if a)
    for v in range(start, latest_version(path) + 1):
        for a in commit_actions(path, v):
            if "add" in a:
                active.add(a["add"]["path"])
            elif "remove" in a:
                active.discard(a["remove"]["path"])
    return {unquote(p) for p in active}


class DiskMeter:
    """Bytes written under a set of roots, counted by walking them after
    each operation: a file counts once per distinct (size, mtime), so
    files rewritten in place and files later deleted (VACUUM) still count
    as written."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen: dict[str, tuple[int, int]] = {}
        self.written = 0

    def scan(self) -> None:
        for root in self.roots:
            for d, _dirs, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    sig = (st.st_size, st.st_mtime_ns)
                    if self.seen.get(p) != sig:
                        self.seen[p] = sig
                        self.written += st.st_size

    def baseline(self) -> None:
        """Count only what is written from now on."""
        self.scan()
        self.written = 0

    def on_disk(self) -> int:
        return sum(size_under(r) for r in self.roots)


def size_under(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def files_under(root: str) -> int:
    return sum(len(files) for _d, _dirs, files in os.walk(root))


def input_bytes(df) -> int:
    """Bytes of the data files a DataFrame reads (``inputFiles()``)."""
    return sum(os.path.getsize(unquote(f.split(":", 1)[1]) if f.startswith("file:") else f)
               for f in df.inputFiles())
