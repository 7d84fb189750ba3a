"""Pieces shared by the two workloads: span recorder, process-tree RSS
sampler, seeded document generator and small statistics helpers."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

MB = 1024 * 1024

# Word list in the style of the repository's `documents` test table. Random
# 3-word shingles over 30 words almost never collide between two documents,
# so near-duplicate pairs come only from DUP_DOCS_CTE's copy structure.
VOCAB = ("a the data spark table query join hash sort merge scan filter "
         "group agg key value row column batch stream window vector order "
         "part line customer small big fast slow").split()
LANGS = ("en", "de", "fr", "es", "zh")


def make_documents(seed: int, n_docs: int, replicas: int = 1,
                   id_base: int = 0):
    """Seeded `documents` table (doc_id, text, lang, source, n_chars) as a
    pyarrow Table: ``n_docs`` base documents, each repeated ``replicas``
    times with every word suffixed by the replica number, so replicas share
    no shingles. Replica r of document d gets doc_id id_base + r*n_docs + d."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    lengths = rng.integers(12, 64, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    langs = rng.integers(0, len(LANGS), n_docs)
    ends = np.cumsum(lengths)
    base = [[VOCAB[w] for w in words[e - n:e]] for n, e in zip(lengths, ends)]
    ids, texts, lang, source = [], [], [], []
    for r in range(replicas):
        tag = str(r) if replicas > 1 else ""
        for d, ws in enumerate(base):
            ids.append(id_base + r * n_docs + d)
            texts.append(" ".join(w + tag for w in ws))
            lang.append(LANGS[langs[d]])
            source.append(f"src{d % 7}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mpts_per_s(fn, n: int, reps: int = 5) -> float:
    """Median single-core throughput of ``fn`` over ``n`` points, M pts/s,
    after one untimed call."""
    fn()
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return n / median(walls) / 1e6


def cpu_ticks() -> list[int]:
    """The aggregate `cpu` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    on a shared VM, the main cause of slow runs the benchmark cannot fix."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, job), written out once at
    the end of the run. Disabled tracers cost one branch per span."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, job: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "job": job if job is not None else (parent or {}).get("job"),
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float):
        """Record a span timed elsewhere (e.g. on another thread) under the
        current span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": parent["id"] if parent else None,
                               "job": None, "start": start - self.t0,
                               "end": end - self.t0})

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of the engine's processes, the Spark JVM plus
    the Python workers under it, every ``interval`` seconds on a daemon
    thread. ``reset()`` starts a new peak window. The benchmark's own Python
    process is not counted, nor are short-lived helpers the JVM spawns: a
    child caught between vfork and exec reports the JVM's whole RSS."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_tree_kb = 0
        self.peak_py_kb = 0
        self.peak_py_procs = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._thread.start()

    def sample(self):
        py = procs = 0
        todo = _children(self.jvm_pid)
        while todo:
            pid = todo.pop()
            if _is_python(pid):
                py += _status_kb(pid, "VmRSS:")
                procs += 1
            todo.extend(_children(pid))
        tree = _status_kb(self.jvm_pid, "VmRSS:") + py
        with self._lock:
            self.peak_tree_kb = max(self.peak_tree_kb, tree)
            self.peak_py_kb = max(self.peak_py_kb, py)
            self.peak_py_procs = max(self.peak_py_procs, procs)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def reset(self):
        with self._lock:
            self.peak_tree_kb = self.peak_py_kb = self.peak_py_procs = 0

    def peaks_mb(self) -> tuple[float, float]:
        self.sample()
        with self._lock:
            return self.peak_tree_kb / 1024, self.peak_py_kb / 1024

    def jvm_hwm_mb(self) -> float:
        """Kernel-kept peak RSS of the JVM process over its whole life."""
        return _status_kb(self.jvm_pid, "VmHWM:") / 1024

    def stop(self):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
