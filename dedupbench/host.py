"""Host annotation and memory sampling, each in a child process.

``python3 host.py probe`` prints one JSON line with the machine's steal
jiffies and a memcpy bandwidth reading, using the probes bench.py already
records (``_steal_jiffies``, ``_mem_bandwidth_gbs``).  It runs before and
after the measured part of a run, never during it.

``python3 host.py rss <pid>`` samples the resident set of <pid> and all its
descendants (the driver, the JVM and the Python workers) every 0.2 s until a
line arrives on stdin, then prints the peak sum in MB.
"""

from __future__ import annotations

import json
import os
import select
import sys
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                ppid = int(fh.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_mb(root: int, skip: int) -> float:
    total = 0
    for pid in [root, *descendants(root)]:
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / (1024 * 1024)


def sample_rss(root: int) -> None:
    me = os.getpid()
    peak = 0.0
    while True:
        peak = max(peak, tree_rss_mb(root, me))
        ready, _, _ = select.select([sys.stdin], [], [], 0.2)
        if ready:
            break
    print(json.dumps({"peak_rss_mb": peak}), flush=True)


def probe() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from bench import _mem_bandwidth_gbs, _steal_jiffies

    print(json.dumps({
        "t": time.time(),
        "steal_jiffies": _steal_jiffies(),
        "mem_gbs": _mem_bandwidth_gbs(),
    }), flush=True)


if __name__ == "__main__":
    if sys.argv[1] == "probe":
        probe()
    else:
        sample_rss(int(sys.argv[2]))
