"""Measurement helpers: percentiles, due→commit matching, /proc sampling,
event-log aggregation, order-insensitive result digests and the span tracer.

Pure Python (no Spark import), so ``perfbench/tests`` checks them quickly.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from decimal import Decimal

# ---- percentiles ----------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100): the smallest sample with at
    least q% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def samples_beyond(values: list[float], q: float) -> int:
    """Samples strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(v > p for v in values)


def supported_percentile(values: list[float], q: float, min_beyond: int = 10) -> float:
    """The q-th percentile, refusing it unless at least ``min_beyond`` samples
    lie beyond it (a tail percentile read off a handful of samples is one
    sample's noise)."""
    n = samples_beyond(values, q)
    if n < min_beyond:
        raise ValueError(f"p{q:g} over {len(values)} samples has {n} beyond it, need {min_beyond}")
    return percentile(values, q)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# ---- open-loop latency ----------------------------------------------------


def file_latencies_ms(
    due: dict[str, float], file_batch: dict[str, int], batch_commit: dict[int, float]
) -> dict[str, float]:
    """Latency of each due file: commit time of the batch that read it minus
    the time the file was due. Files never read, or read by a batch with no
    commit, are absent from the result (the caller counts them as failed)."""
    out = {}
    for name, t_due in due.items():
        b = file_batch.get(name)
        if b is not None and b in batch_commit:
            out[name] = (batch_commit[b] - t_due) * 1000.0
    return out


def read_file_source_log(source_log_dir: str) -> dict[str, int]:
    """File name → batch id from a file stream source's metadata log
    (``<checkpoint>/sources/0``): one file per batch, ``N.compact`` files
    folding earlier batches, each a version line then one JSON entry per
    line carrying ``path`` and ``batchId``."""
    out: dict[str, int] = {}
    for fn in os.listdir(source_log_dir):
        if fn.startswith(".") or not fn.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_log_dir, fn)) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# ---- /proc sampling -------------------------------------------------------


def cpu_seconds() -> dict[str, float]:
    """Machine-wide busy and steal CPU-seconds so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / hz,
        "steal": steal / hz,
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of every live descendant of ``root_pid`` (not the
    root itself)."""
    total, stack = 0, _children(root_pid)
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
        stack += _children(pid)
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, with those of reaped children) used so
    far by ``root_pid`` and every live descendant."""
    hz = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack += _children(pid)
    return total / hz


class RssSampler:
    """Samples ``tree_rss_mb`` every ``interval`` s in a background thread
    while used as a context manager; ``samples`` holds the readings."""

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid, self.interval = root_pid, interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---- Spark event log ------------------------------------------------------


@dataclass
class JobSpan:
    job_id: int
    group: str
    start: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    """Aggregates of one Spark event log: per-stage task totals and jobs."""

    stages: dict[int, dict] = field(default_factory=dict)
    jobs: dict[int, JobSpan] = field(default_factory=dict)

    def group_totals(self, group: str) -> dict[str, float]:
        """Task totals of every job whose job group is ``group``."""
        jobs = [j for j in self.jobs.values() if j.group == group]
        st = [self.stages[s] for j in jobs for s in j.stages if s in self.stages]
        tot = {k: sum(s[k] for s in st) for k in _STAGE_KEYS}
        tot["jobs"] = len(jobs)
        tot["job_union_s"] = self.busy_union_s(group)
        return tot

    def busy_union_s(self, group: str) -> float:
        """Length of the union of the group's job spans."""
        spans = sorted((j.start, j.end) for j in self.jobs.values() if j.group == group)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


_STAGE_KEYS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "py_run_ms", "py_init_ms", "py_sent_mb", "py_returned_mb",
)
# SQL metrics of the Python runner nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas[WithState], ...), summed over a task's nodes
_PY_ACCUMULABLES = {
    "time to run Python workers": ("py_run_ms", 1),
    "time to initialize Python workers": ("py_init_ms", 1),
    "data sent to Python workers": ("py_sent_mb", 2**-20),
    "data returned from Python workers": ("py_returned_mb", 2**-20),
}


def parse_event_log(lines) -> EventLog:
    """Fold Spark listener events (one JSON object per line) into stage and
    job aggregates. Tasks of stages that belong to no job (none here) are
    still counted per stage."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            stages = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            log.jobs[jid] = JobSpan(
                jid, props.get("spark.jobGroup.id") or "", ev["Submission Time"] / 1000, 0.0, stages
            )
            for s in stages:
                stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            j = log.jobs.get(ev["Job ID"])
            if j:
                j.end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = log.stages.setdefault(ev["Stage ID"], dict.fromkeys(_STAGE_KEYS, 0.0))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000
            st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            st["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_ACCUMULABLES.get(acc.get("Name"))
                if key is not None:
                    st[key[0]] += float(acc.get("Update") or 0) * key[1]
    return log


def read_event_logs(log_dir: str) -> EventLog:
    """Parse the newest uncompressed, non-rolling event log in ``log_dir``
    (one file per SparkContext; job and stage ids restart in each)."""
    paths = [
        os.path.join(log_dir, fn) for fn in os.listdir(log_dir)
        if not fn.startswith(".") and os.path.isfile(os.path.join(log_dir, fn))
    ]
    with open(max(paths, key=os.path.getmtime)) as f:
        return parse_event_log(ln for ln in f if ln.strip())


# ---- result digests -------------------------------------------------------


def _canon_value(v) -> str:
    """Dialect-neutral text of one value: numbers compare by value whatever
    their type (Spark double vs DuckDB DECIMAL/HUGEINT), with non-integral
    values rounded to six decimals."""
    if isinstance(v, bool) or v is None:
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return str(f)
        if f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return repr(round(f, 6) + 0.0)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon_value(k)}:{_canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """Order-insensitive digest of a result: (row count, hex digest) over
    rows canonicalized by column NAME (sorted). Equal multisets of rows give
    equal digests; the digest is a sum of per-row hashes mod 2**128, so
    duplicates count."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for r in rows:
        key = "\x1f".join(_canon_value(r[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.blake2b(key.encode(), digest_size=16).digest(), "big")) % 2**128
        n += 1
    return n, f"{acc:032x}"


# ---- spans ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder around calls into the program's layers.
    Disabled tracers record nothing and cost one attribute check. Parents
    are tracked per thread: Spark calls ``foreachBatch`` bodies on its own
    callback threads."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str, start: float, end: float) -> int:
        parent = self._stack[-1] if self._stack else None
        with self._lock:
            self.spans.append(Span(name, start, end, parent))
            return len(self.spans) - 1

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. from Spark progress)."""
        if self.enabled:
            self._open(name, start, end)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def self_times(self) -> dict[str, float]:
        """Per-name total of span duration minus the part covered by its
        direct children (children are assumed not to overlap each other)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def durations(self, name: str, start: float = 0.0, end: float = math.inf) -> list[float]:
        """Durations of the spans called ``name`` that began in [start, end]."""
        return [s.end - s.start for s in self.spans if s.name == name and start <= s.start <= end]

    def totals(self, name: str, start: float = 0.0, end: float = math.inf) -> float:
        return sum(self.durations(name, start, end))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            t._stack.append(t._open(self.name, time.time(), 0.0))
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            t.spans[t._stack.pop()].end = time.time()
