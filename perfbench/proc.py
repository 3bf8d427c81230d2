"""Resource use of this process and all its descendants (the driver JVM with
its JIT and GC threads, the Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, fields from field 3 on) of a /proc stat file."""
    with open(path) as fh:
        s = fh.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _tree(root: int | None) -> dict[int, list[str]]:
    """pid -> stat fields of ``root`` (this process by default) and of every
    process below it."""
    table, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                table[int(d)] = f = _stat_fields(f"/proc/{d}/stat")[1]
            except OSError:
                continue
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = {}, [root or os.getpid()]
    while todo:
        p = todo.pop()
        if p in table:
            out[p] = table[p]
        todo += children.get(p, [])
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree, all threads, including children
    it has reaped (utime, stime, cutime, cstime). Time the hypervisor gives
    to other guests is not in it."""
    return sum(int(x) for f in _tree(root).values() for x in f[11:15]) / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``
    (all of them live as long as the JVM when it runs with
    -XX:-UseDynamicNumberOfCompilerThreads)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            total += int(f[11]) + int(f[12])
    return total / _TICK


def tree_pss_kb(root: int | None = None) -> dict[str, int]:
    """Proportional set size of the tree by command name. Unlike the
    resident set, a page shared by several processes (the Python workers
    forked from one daemon) counts once in the sum."""
    out: dict[str, int] = {}
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0) + kb
    return out
