"""Shared machinery of the benchmark: operation accounting, spans with
Spark job/stage counts read from outside the program, process-tree
memory sampling and summary statistics.

Nothing here imports the package under test; the workloads do.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> int:
    """Highest of p99/p90/p75/p50 that leaves at least ten samples
    beyond it (p50 when there are fewer than twenty samples)."""
    for q in (99, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


class Failures:
    """Counts attempted and failed operations. An operation is one
    query, GET, read, update, stage call or wave; an exception or a
    failed output check fails that operation only."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        if len(self.messages) < 20:
            self.messages.append(f"{what}: {detail}")
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr)

    @contextmanager
    def op(self, what: str):
        """Count one operation; an exception inside fails it and is
        swallowed so the run goes on. ``ok`` in the yielded dict turns
        False on failure, so callers can skip dependent work."""
        self.attempted += 1
        state = {"ok": True}
        try:
            yield state
        except Exception as exc:  # noqa: BLE001 — one op fails, not the run
            state["ok"] = False
            self.fail(what, f"{type(exc).__name__}: {exc}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record an output check that belongs to an operation already
        counted; a failed check fails that operation."""
        if not ok:
            self.fail(what, detail or "output check failed")
        return ok


# StageData fields summed per span (names are the status store's).
_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """Spans around the benchmark's calls into the program.

    Each span has a name, start, end, parent span and the pass/op id it
    belongs to; spans are kept in memory until the run ends. With
    ``counts=True`` (the traced run) each span also tags its Spark jobs
    with its own job group. When the span ends the listener bus is
    drained and the jobs of that group, plus ungrouped jobs that started
    inside the span (jobs submitted from the program's own worker
    threads do not inherit the group), are attributed to it together
    with their stage counts from the status store. A streaming query
    runs its jobs under its own run id as group; the caller adds that
    group to the span's ``groups``.
    """

    def __init__(self, spark, counts: bool) -> None:
        self.counts = counts
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            **attrs,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "jobs": 0,
            "stages": 0,
            "skipped_stages": 0,
            **{f: 0 for f in _STAGE_FIELDS},
            "groups": [],  # further job groups whose jobs are this span's
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.counts:
            # ungrouped jobs that ran before this span are not its own
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            self._seen_jobs |= set(self._sc.statusTracker().getJobIdsForGroup())
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counts:
                self._attribute(rec)
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self._sc._jsc.clearJobGroup()

    def _attribute(self, rec: dict) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
        ids |= set(tracker.getJobIdsForGroup())
        for group in rec["groups"]:
            ids |= set(tracker.getJobIdsForGroup(group))
        ids -= self._seen_jobs
        self._seen_jobs |= ids
        store = jsc.statusStore()
        for jid in ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            rec["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    rec["skipped_stages"] += 1
                    continue
                rec["stages"] += 1
                for f in _STAGE_FIELDS:
                    rec[f] += int(getattr(sd, f)())

    def totals(self, rec: dict) -> dict:
        """Counts of a span plus all of its descendants."""
        out = {k: rec[k] for k in ("jobs", "stages", "skipped_stages", *_STAGE_FIELDS)}
        for child in self.spans:
            if child["parent"] == rec["id"]:
                for k, v in self.totals(child).items():
                    out[k] += v
        return out

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it covered by child spans
        (children run one at a time, so their union is their sum)."""
        covered = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - covered

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def per_pass(self, name: str, field: str | None = None, **match) -> list[float]:
        """One value per timed pass for spans called ``name`` (and
        carrying the attributes in ``match``): their summed duration in
        seconds, or the summed total of ``field`` (a pass that never
        calls the layer counts as zero)."""
        acc = {p: 0.0 for p in self.timed_passes()}
        for s in self.by_name(name):
            if s["op"] in acc and all(s.get(k) == v for k, v in match.items()):
                acc[s["op"]] += (
                    s["end"] - s["start"] if field is None else self.totals(s)[field]
                )
        return list(acc.values())

    def timed_passes(self) -> list:
        return [s["op"] for s in self.by_name("pass") if s["op"] != 0]

    def summary(self, ops=None) -> dict:
        """Per span name: count, total and self seconds, Spark counts;
        only spans of the pass ids in ``ops`` when given."""
        out: dict = {}
        for s in self.spans:
            if ops is not None and s["op"] not in ops:
                continue
            row = out.setdefault(
                s["name"],
                {"count": 0, "total_s": 0.0, "self_s": 0.0,
                 **{k: 0 for k in ("jobs", "stages", "skipped_stages", *_STAGE_FIELDS)}},
            )
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += self.self_time(s)
            for k in ("jobs", "stages", "skipped_stages", *_STAGE_FIELDS):
                row[k] += s[k]
        return out


class PeakRss:
    """Peak resident memory of this process and all of its descendants
    (the JVM and its Python workers): at each poll the current VmRSS of
    every live process in the tree is summed, and the largest sum is
    kept. Pages that forked workers share are counted once per worker,
    as VmRSS counts them."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                pass  # the process ended between listing and reading
        self.peak_bytes = max(self.peak_bytes, total)


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc parent links."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out
