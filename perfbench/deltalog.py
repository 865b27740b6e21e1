"""Read what a run's commits did straight from a Delta table's
``_delta_log``: files and bytes added and removed, deletion-vector bytes,
checkpoints, and the live table size. Plain JSON reading, no Spark, so
these figures cost the measured code nothing."""

from __future__ import annotations

import json
import os


def commits(table_dir: str) -> list[dict]:
    """Per commit file, in version order: {version, adds, add_bytes,
    removes, remove_bytes, dv_bytes}."""
    log = os.path.join(table_dir, "_delta_log")
    out = []
    for name in sorted(os.listdir(log)):
        if not (name.endswith(".json") and name[:20].isdigit()):
            continue
        c = {"version": int(name[:20]), "adds": 0, "add_bytes": 0,
             "removes": 0, "remove_bytes": 0, "dv_bytes": 0}
        with open(os.path.join(log, name)) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "add" in a:
                    c["adds"] += 1
                    c["add_bytes"] += int(a["add"].get("size") or 0)
                    dv = a["add"].get("deletionVector")
                    if dv:
                        c["dv_bytes"] += int(dv.get("sizeInBytes") or 0)
                elif "remove" in a:
                    c["removes"] += 1
                    c["remove_bytes"] += int(a["remove"].get("size") or 0)
        out.append(c)
    return out


def checkpoint_versions(table_dir: str) -> list[int]:
    log = os.path.join(table_dir, "_delta_log")
    return sorted({
        int(n[:20]) for n in os.listdir(log)
        if ".checkpoint" in n and n[:20].isdigit()
    })


def activity(table_dir: str, after_version: int) -> dict:
    """What the commits after ``after_version`` did, summed, plus the
    checkpoints they wrote and the longest run of commits without one."""
    cs = [c for c in commits(table_dir) if c["version"] > after_version]
    cps = [v for v in checkpoint_versions(table_dir) if v > after_version]
    gap = longest = 0
    for c in cs:
        gap = 0 if c["version"] in cps else gap + 1
        longest = max(longest, gap)
    return {
        "files_added": sum(c["adds"] for c in cs),
        "bytes_added": sum(c["add_bytes"] for c in cs),
        "files_removed": sum(c["removes"] for c in cs),
        "bytes_removed": sum(c["remove_bytes"] for c in cs),
        "dv_bytes": sum(c["dv_bytes"] for c in cs),
        "checkpoints_written": len(cps),
        "commits_since_checkpoint_max": longest,
        "commits": len(cs),
    }


def latest_version(table_dir: str) -> int:
    cs = commits(table_dir)
    return cs[-1]["version"] if cs else -1
