"""Survey the snapshot layouts the gates leave behind: per table dir,
segment count, file count, and byte histogram — the guide §6 small-file
evidence for snapshots.commit() output sizing (VERDICT r14 #1a).

Run AFTER a bench / gate run in the same filesystem state:
    python scripts/profile_layouts.py [roots...]
Defaults to every /tmp/seamdb_* root plus the engine warehouse dirs.
"""

from __future__ import annotations

import glob
import json
import os
import sys


def _disk_bytes(entry) -> int:
    path = entry if isinstance(entry, str) else entry["path"]
    try:
        return os.path.getsize(path)
    except OSError:
        return -1


def survey(root: str) -> list[dict]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        if "manifest.json" not in files:
            continue
        try:
            with open(os.path.join(dirpath, "manifest.json")) as f:
                m = json.load(f)
        except (OSError, ValueError):
            continue
        entries = m.get("files", [])
        paths = [e if isinstance(e, str) else e["path"] for e in entries]
        # the manifest records each file's bytes; only a legacy
        # plain-path entry has none, and is measured on disk
        sizes = [
            _disk_bytes(e) if isinstance(e, str) or e.get("bytes") is None
            else e["bytes"]
            for e in entries
        ]
        segs = {os.path.dirname(p) for p in paths}
        out.append(
            {
                "table": dirpath,
                "version": m.get("version"),
                "n_files": len(paths),
                "n_segments": len(segs),
                "bytes_total": sum(s for s in sizes if s >= 0),
                "files_le_64k": sum(1 for s in sizes if 0 <= s <= 65536),
                "max_file": max(sizes, default=0),
            }
        )
    return out


def main() -> None:
    roots = sys.argv[1:] or sorted(glob.glob("/tmp/seamdb_*"))
    rows = []
    for r in roots:
        rows.extend(survey(r))
    rows.sort(key=lambda r: -r["n_files"])
    for r in rows:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "tables": len(rows),
                "files": sum(r["n_files"] for r in rows),
                "files_le_64k": sum(r["files_le_64k"] for r in rows),
                "bytes": sum(r["bytes_total"] for r in rows),
            }
        )
    )


if __name__ == "__main__":
    main()
