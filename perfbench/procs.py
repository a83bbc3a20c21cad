"""The process tree, read from /proc."""

from __future__ import annotations

import os


def stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name
    (state, ppid, ...), for every process there is."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                out[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def below(root: int, table: dict[int, list[str]]) -> set[int]:
    """Every process under ``root`` in ``table``, zombies included."""
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for child, fields in table.items():
            if int(fields[1]) == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree
