"""Process-tree readings from ``/proc``: memory and disk writes of a process
and every live descendant (the benchmark's worker process, its JVM and the
Python workers the JVM forks)."""

from __future__ import annotations

import os


def tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _fields(path: str, sep: str) -> dict[str, str]:
    with open(path) as f:
        return dict(line.split(sep, 1) for line in f.read().splitlines()
                    if sep in line)


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the tree, in MiB: resident pages,
    with each page shared by n processes counted 1/n in each. The Python
    workers are forks that share most of their pages, so a summed VmRSS
    would count those pages once per live worker."""
    kb = 0
    for pid in tree(root):
        try:
            kb += int(_fields(f"/proc/{pid}/smaps_rollup", ":")
                      .get("Pss", "0 kB").split()[0])
        except OSError:
            continue
    return kb / 1024


def tree_write_bytes(root: int | None = None) -> dict[int, int]:
    """``write_bytes - cancelled_write_bytes`` of each process in the tree
    of ``root`` (this process by default)."""
    out = {}
    for pid in tree(root or os.getpid()):
        try:
            io = _fields(f"/proc/{pid}/io", ": ")
        except OSError:
            continue
        out[pid] = int(io["write_bytes"]) - int(io["cancelled_write_bytes"])
    return out


def written_since(before: dict[int, int]) -> int:
    """Bytes the tree wrote since ``before`` (a :func:`tree_write_bytes`
    reading), counted over the processes alive now; a process that exited
    in between takes its writes with it."""
    return sum(v - before.get(pid, 0)
               for pid, v in tree_write_bytes().items())
