"""Process-tree readings from /proc (psutil is not installed)."""

from __future__ import annotations

import os


def stat_table() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, for
    every visible process (index 1 is the parent pid)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = stat[stat.rindex(")") + 2:].split()
    return out


def descendants(root: int, table: dict[int, list[str]]) -> set[int]:
    """``root`` and every process below it in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, fields in table.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(kids.get(p, []))
    return seen
