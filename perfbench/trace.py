"""Spans around the engine's public calls, recorded from outside the program.

``Tracer.wrap`` replaces a traced function with a wrapper that records a
span (name, start, end, parent, run id, thread); ``uninstall`` restores the
originals. The program itself is not modified: the
wrappers are bound in place of the module attributes (and of every other
``dbt_spark`` module attribute or dispatch-table entry bound to the same
function object), so calls that resolve the name at call time go through
them. Spans stay in memory until ``dump``.

Self time of a span is its duration minus the union of the intervals its
child spans cover. Calls on worker threads that have no open span of their
own are parented to the span open on the thread that started the run, so a
thread pool's node spans count as children of the ``invoke`` that owns them.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start, end, parent, run_id, thread, extra)
        self.run_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: list[int] = []  # open spans of the thread that opened the run
        self._root_thread: int | None = None
        self._next = 0
        self._undo: list[tuple] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, extra=None):
        stack = self._stack()
        is_root = threading.get_ident() == self._root_thread
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        if is_root:
            self._root.append(sid)
        start = time.perf_counter()
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            end = time.perf_counter()
            stack.pop()
            if is_root:
                self._root.pop()
            info = extra(args, kwargs, result) if extra else None
            with self._lock:
                self.spans.append((sid, name, start, end, parent, self.run_id,
                                   threading.get_ident(), info))

    def start_run(self) -> None:
        self.run_id += 1
        self._root_thread = threading.get_ident()

    # -- installation ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, extra=None) -> None:
        """Trace ``owner.attr`` (a module-level function, or a method when
        ``owner`` is a class) as span ``name``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_static = isinstance(orig, staticmethod)
        is_class = isinstance(orig, classmethod)
        target = orig.__func__ if (is_static or is_class) else orig
        tracer = self

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            return tracer.call(name, target, args, kwargs, extra)

        new = classmethod(wrapper) if is_class else staticmethod(wrapper) if is_static else wrapper
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))
        if isinstance(owner, type):
            return
        # rebind `from module import fn` copies and dispatch-table entries
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("dbt_spark") or mod is None or mod is owner:
                continue
            for k, v in list(vars(mod).items()):
                if v is target:
                    setattr(mod, k, wrapper)
                    self._undo.append((mod, k, target))
                elif isinstance(v, dict) and not k.startswith("__"):
                    for dk, dv in list(v.items()):
                        if dv is target:
                            v[dk] = wrapper
                            self._undo.append((v, dk, target))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent, run_id, thread, info in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": start, "end": end,
                                    "parent": parent, "run": run_id, "thread": thread,
                                    "info": info}, default=str) + "\n")

    # -- summaries ---------------------------------------------------------

    def summary(self, run_id: int) -> "RunSpans":
        return RunSpans([s for s in self.spans if s[5] == run_id])


def union_length(intervals: list[tuple]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class RunSpans:
    """Per-name aggregates over the spans of one traced run."""

    def __init__(self, spans: list[tuple]) -> None:
        self.by_name: dict[str, list[tuple]] = defaultdict(list)
        self.children: dict[int, list[tuple]] = defaultdict(list)
        for s in spans:
            self.by_name[s[1]].append(s)
            if s[4] is not None:
                self.children[s[4]].append(s)

    def count(self, name: str) -> int:
        return len(self.by_name.get(name, ()))

    def total_s(self, name: str) -> float:
        return sum(s[3] - s[2] for s in self.by_name.get(name, ()))

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.by_name.get(name, ())]

    def infos(self, name: str) -> list:
        return [s[7] for s in self.by_name.get(name, ())]

    def self_s(self, name: str) -> float:
        total = 0.0
        for s in self.by_name.get(name, ()):
            kids = [(max(c[2], s[2]), min(c[3], s[3])) for c in self.children.get(s[0], ())]
            total += (s[3] - s[2]) - union_length([k for k in kids if k[1] > k[0]])
        return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(-(-q * len(v) // 100)) - 1))
    return v[k]
