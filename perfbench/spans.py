"""In-memory spans for the benchmark's traced runs.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span (-1 at top level) and ``op`` the id of the timed
operation it belongs to. Spans come from two places, both in the
benchmark's own files:

* the harness wraps its own calls into each layer (session start, engine
  construction, index builds, shim registration, each timed operation);
* :meth:`Tracer.patch` wraps a program function at the name its caller
  looks it up by — ``engine.parse_select`` rather than
  ``plans.sqlparse.parse_select``, because ``engine.py`` imported it by
  name — and is installed only while a traced round runs.

Spark jobs and tasks per operation come from a job group per operation and
the status tracker; py4j calls are counted by wrapping the gateway
client's ``send_command``. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def self_times(spans) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap; the covered time counts once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[3] >= 0:
            children.setdefault(s[3], []).append((s[1], s[2]))
    out = []
    for i, (_name, start, end, _parent, _op, *_rest) in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, start), min(b, end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start) - covered)
    return out


class Tracer:
    """Span recorder plus the wrappers a traced run installs.

    ``enabled=False`` makes every method a no-op, so the harness calls it
    unconditionally and an untraced run pays nothing but the calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: [name, start, end, parent, op, info]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None
        #: op id -> {"cls", "traced", "py4j_calls", "py4j_s", "jobs", "tasks"}
        self.ops: dict[str, dict] = {}
        self._targets: list[tuple] = []
        self.installed = False
        self._sc = None
        self._n = 0

    # ------------------------------------------------------------ spans
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op, None])
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def _close(self, i: int, info=None) -> None:
        self.spans[i][2] = time.perf_counter()
        self.spans[i][5] = info
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    # ------------------------------------------------------- operations
    def attach(self, spark) -> None:
        """Bind the session: job groups and the py4j counter need it."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            rec = self.ops.get(self.op) if self.op is not None else None
            if rec is None:
                return orig(*a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                rec["py4j_calls"] += 1
                rec["py4j_s"] += time.perf_counter() - t0

        self._targets.append((client, "send_command", send_command, orig, True))

    def begin_op(self, cls: str) -> str | None:
        """Open an operation: a job group (set before the caller's timer
        starts) and a top-level ``op.<cls>`` span."""
        if not self.enabled:
            return None
        self._n += 1
        op = f"op{self._n}"
        if self._sc is not None:
            self._sc.setJobGroup(op, cls)
        self.ops[op] = {
            "cls": cls, "traced": self.installed, "py4j_calls": 0,
            "py4j_s": 0.0, "jobs": 0, "tasks": 0,
        }
        self.op = op
        self._open(f"op.{cls}")
        return op

    def end_op(self, op: str | None) -> None:
        if op is None:
            return
        self._close(self._stack[-1])
        self.op = None

    def count_jobs(self) -> None:
        """Fill each operation's Spark job and task counts from the status
        tracker (run once, after the timed phase)."""
        if not self.enabled or self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for op, rec in self.ops.items():
            ids = tracker.getJobIdsForGroup(op)
            rec["jobs"] = len(ids)
            for jid in ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    st = tracker.getStageInfo(sid)
                    rec["tasks"] += st.numTasks if st is not None else 0

    # ---------------------------------------------------------- patches
    def patch(self, owner, attr: str, name: str, info=None) -> None:
        """Register a wrapper for ``owner.attr`` recording a ``name`` span;
        ``info(result)`` may annotate the span. Installed by
        :meth:`install`, removed by :meth:`uninstall`."""
        if not self.enabled:
            return
        orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)

        def wrapper(*a, **kw):
            i = self._open(name)
            res = None
            try:
                res = orig(*a, **kw)
                return res
            finally:
                self._close(i, info(res) if info is not None and res is not None else None)

        self._targets.append((owner, attr, wrapper, orig, False))

    def install(self) -> None:
        if not self.enabled or self.installed:
            return
        for owner, attr, wrapper, _orig, _inst in self._targets:
            setattr(owner, attr, wrapper)
        self.installed = True

    def uninstall(self) -> None:
        if not self.installed:
            return
        for owner, attr, _wrapper, orig, on_instance in self._targets:
            if on_instance:
                delattr(owner, attr)  # falls back to the class's method
            else:
                setattr(owner, attr, orig)
        self.installed = False

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (called once, at exit)."""
        if not self.enabled:
            return
        with open(path, "w") as f:
            for name, start, end, parent, op, info in self.spans:
                f.write(json.dumps({
                    "name": name, "start": start, "end": end,
                    "parent": parent, "op": op, "info": info,
                }) + "\n")
