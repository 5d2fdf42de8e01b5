"""Pure pieces of the benchmark: statistics, the live schedule's freshness
rule, the synthetic topology, the span tracer, the memory sampler and the
result line. Nothing here starts Spark, so ``perfbench/tests`` covers it
without a JVM."""

from __future__ import annotations

import json
import os
import random
import re
import threading
import time
from contextlib import contextmanager

# The tail of a timing is the highest percentile that still has this many
# samples beyond it (fewer samples than that leave no tail to report).
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND):
    """``(pct, value, beyond)`` for the highest nearest-rank percentile with
    at least ``min_beyond`` samples beyond it, or None when there are too
    few samples for any. Rank ``k = n - min_beyond`` leaves exactly
    ``min_beyond`` larger-ranked samples."""
    n = len(values)
    k = n - min_beyond
    if k < 1:
        return None
    s = sorted(values)
    return 100.0 * k / n, s[k - 1], n - k


# ---- live schedule ---------------------------------------------------------


def sweeps_due(now: float, t0: float, period_s: float, max_sweeps: int) -> int:
    """Number of sweeps released by ``now``: sweep ``s`` is due at
    ``t0 + s * period_s``, so sweep 0 is due at ``t0``."""
    if now < t0:
        return 0
    return min(max_sweeps, int((now - t0) // period_s) + 1)


_SWEEP = re.compile(r"""['"]sweep['"]\s*:\s*(\d+)""")


def sweep_of(offset) -> int:
    """Sweep count from a progress offset: a dict, its JSON or repr text
    (``lastProgress`` renders nested offsets with ``str``), or None for the
    initial offset."""
    if offset is None:
        return 0
    if isinstance(offset, dict):
        return int(offset["sweep"])
    m = _SWEEP.search(offset)
    if m is None:
        raise ValueError(f"not an opcsim offset: {offset!r}")
    return int(m.group(1))


def batch_freshness(
    progress: list[dict], merge_returns: dict[int, float], t0: float,
    period_s: float,
) -> list[dict]:
    """Freshness of every micro-batch that carried sweeps.

    ``progress`` holds ``StreamingQueryProgress`` dicts; a batch covers the
    sweeps ``[startOffset, endOffset)`` of its one source, so its oldest
    sweep is the start offset. ``merge_returns`` maps batch id to the wall
    time at which the sink's merge returned. Freshness is that time minus
    the oldest sweep's due time."""
    out = []
    for p in progress:
        bid = p["batchId"]
        if p["numInputRows"] == 0 or bid not in merge_returns:
            continue
        src = p["sources"][0]
        first = sweep_of(src.get("startOffset"))
        end = sweep_of(src.get("endOffset"))
        out.append({
            "batch": bid,
            "first_sweep": first,
            "sweeps": end - first,
            "freshness_s": merge_returns[bid] - (t0 + first * period_s),
        })
    return out


# ---- synthetic topology ----------------------------------------------------

# Declared types the simulated tags draw from: one of each coercion family
# (numeric, bool, string, datetime) plus the two float spellings and an int.
TAG_TYPES = ("Double", "Float", "Int32", "Boolean", "String", "DateTime")


def synth_conf(n_servers: int, tags_per_server: int, seed: int) -> str:
    """A reference-format .conf (sources/config.py) with ``n_servers`` UA
    servers of ``tags_per_server`` tags each. The seed picks each tag's
    declared type and whether it is subscribed; every server polls once a
    second, so one sweep advances event time by one second."""
    rng = random.Random(seed)
    lines = ["mongodb://127.0.0.1:27017/perfbench", ""]
    for s in range(n_servers):
        lines.append(f"opc.tcp://plant-{s}.local:4840, 1, Plant{s}")
        for t in range(tags_per_server):
            path = f"ns=2;s=P{s}.Unit{t // 50}.Tag{t}"
            opc_type = rng.choice(TAG_TYPES)
            sub = "Y" if rng.random() < 0.5 else "N"
            lines.append(f"{path}, {opc_type}, {sub}, P{s}.Unit{t // 50}.Tag{t}")
        lines.append("")
    return "\n".join(lines)


# ---- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and run id. A disabled
    tracer records nothing, so untraced runs pay one check per span site.

    Parents come from a per-thread stack. A span opened on a thread with an
    empty stack (the streaming engine's ``foreachBatch`` callback thread)
    takes ``ambient`` — the span the main thread set as the current phase."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.ambient: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, phase: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.ambient
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "run": self.run_id, "start": time.perf_counter(),
                   "end": None}
            self.spans.append(rec)
        stack.append(sid)
        prev_ambient = self.ambient
        if phase:
            self.ambient = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if phase:
                self.ambient = prev_ambient

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of it
    its children cover, summed over spans of that name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        own = (s["end"] - s["start"]) - _covered(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ---- memory ----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, over all its threads (the JVM starts its
    Python workers from threads other than the main one)."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children",
                      encoding="ascii") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    total, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the resident memory of a process tree every ``interval_s``
    on a daemon thread and keeps the peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
        return self.peak_mb


# ---- results ---------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The one-object JSON line the run prints last."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
