"""Per-layer tracing for the benchmark: spans around the program's
public functions, Spark engine counters and process memory.

Spans are recorded by wrappers installed from here, never by code in
the program. A wrapper replaces a function where its caller looks it
up: modules that import a name at module top hold their own binding
and are patched alongside the defining module; names imported inside
a function body are resolved from the defining module at call time.

A span around a lazy DataFrame builder (the `queries` plan builders,
`whale_counts`, `near_dup_canonical`) measures plan construction only;
the work it describes lands in whichever span issues the action.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0


class Tracer:
    """Spans kept in memory until the run ends. Each thread has its own
    parent stack; a span opened on a thread with an empty stack (a
    refresh branch thread) nests under the current root span. Only
    spans inside a root span (a timed operation) are recorded, so
    warm-up and correctness checks stay out of the layer figures."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open_root(self, name: str) -> None:
        with self._lock:
            self.spans.append(Span(name, None, time.perf_counter()))
            self.root = len(self.spans) - 1

    def close_root(self) -> None:
        self.spans[self.root].t1 = time.perf_counter()
        self.root = None

    def open(self, name: str) -> int | None:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        if parent is None:
            return None
        with self._lock:
            self.spans.append(Span(name, parent, time.perf_counter()))
            sid = len(self.spans) - 1
        stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].t1 = time.perf_counter()
        self._stack().pop()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def wrap(self, name: str, targets: list[tuple[str, str]], after=None) -> None:
        """Patch each (module, attribute) in `targets` with one wrapper
        recording span `name`. `after(args, kwargs, result, t0)` runs
        outside the span and feeds counters."""
        mods = [(importlib.import_module(m), a) for m, a in targets]
        original = getattr(*mods[0])
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            sid = tracer.open(name)
            if sid is None:
                return original(*args, **kwargs)
            t0 = time.time()
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.close(sid)
            if after is not None:
                b0 = time.perf_counter()
                after(args, kwargs, result, t0)
                tracer.add("bookkeeping_s", time.perf_counter() - b0)
            return result

        for mod, attr in mods:
            self._patched.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, traced)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------- summaries

    def busy_s(self, prefix: str) -> float:
        """Summed duration of spans named `prefix`*, counting a span only
        when its parent is not itself a `prefix` span (no double count
        of nested calls)."""
        total = 0.0
        for s in self.spans:
            if not s.name.startswith(prefix) or not s.t1:
                continue
            if s.parent is not None and self.spans[s.parent].name.startswith(prefix):
                continue
            total += s.t1 - s.t0
        return total

    def calls(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s.name.startswith(prefix))

    def self_s_by_layer(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the union of
        its children's intervals inside it (children on branch threads
        can overlap each other), summed by the span name's layer."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.t1:
                children[s.parent].append((s.t0, s.t1))
        out: dict[str, float] = defaultdict(float)
        for sid, s in enumerate(self.spans):
            if not s.t1:
                continue
            covered = 0.0
            end = s.t0
            for a, b in sorted(children.get(sid, [])):
                a, b = max(a, end), min(b, s.t1)
                if b > a:
                    covered += b - a
                    end = b
            out[s.name.split(".")[0]] += (s.t1 - s.t0) - covered
        return out


def _files_since(path: str, t0: float) -> tuple[int, int]:
    """Data files under `path` modified at or after `t0`: (count, bytes)."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= t0 - 1.0:
                n += 1
                size += st.st_size
    return n, size


def install(tracer: Tracer) -> None:
    """Wrap every layer's public entry points."""
    pkg = "etl_pipelines_spark"
    refresh = f"{pkg}.plans.refresh"

    def written(path_arg: int):
        def after(args, kwargs, result, t0):
            path = kwargs.get("path", args[path_arg] if len(args) > path_arg else None)
            if path and os.path.isdir(path):
                n, size = _files_since(path, t0)
                tracer.add("files_written", n)
                tracer.add("bytes_written", size)
        return after

    def audited(args, kwargs, result, t0):
        results = result[0] if isinstance(result, tuple) else result
        tracer.add("rules_failed", sum(1 for r in results if not r.passed))

    tracer.wrap("refresh.incremental", [(refresh, "refresh_warehouse_incremental")])
    tracer.wrap("corpus.prepare", [(f"{pkg}.plans.corpus", "prepare_corpus")])
    tracer.wrap(
        "sources.write",
        [(f"{pkg}.sources.registry", "write_partitioned"), (refresh, "write_partitioned")],
        after=written(1),
    )
    tracer.wrap(
        "sources.load",
        [(f"{pkg}.sources.registry", "load_table"), (f"{pkg}.queries.catalog", "load_table")],
    )
    for fn in ("daily_prices", "transfers", "daily_prices_from", "transfers_from",
               "wallet_profits_kernel_from"):
        tracer.wrap(f"queries.{fn}", [(f"{pkg}.queries.timeseries", fn)])
    tracer.wrap(
        "expectations.audit",
        [(f"{pkg}.expectations", "run_expectations"), (refresh, "run_expectations")],
        after=audited,
    )
    tracer.wrap(
        "operators.upsert",
        [(f"{pkg}.operators.merge", "upsert_partitions")],
        after=written(1),
    )
    tracer.wrap("reconcile.validate", [(f"{pkg}.plans.reconcile", "validate_incremental_load")])
    for fn in ("load_watermark_state", "save_watermark_state"):
        tracer.wrap("streaming.watermark", [(f"{pkg}.streaming.incremental", fn)])
    tracer.wrap("whale.plan", [(f"{pkg}.plans.whale_chart", "whale_counts")])
    tracer.wrap("whale.exec", [(f"{pkg}.plans.whale_chart", "whale_chart_spec")])
    corpus = f"{pkg}.plans.corpus"
    tracer.wrap("corpus.near_dup", [(corpus, "near_dup_canonical")])
    for fn in ("cluster_labels", "persisted_shingle_arrays", "minhash_signatures",
               "lsh_candidate_pairs", "array_jaccard_verify", "exact_dedup",
               "chunk_dedup", "temperature_sample", "with_quality_filter"):
        tracer.wrap(f"llm.{fn}", [(corpus, fn)])


# ---------------------------------------------------------------- Spark


class SparkCounters:
    """Per-operation engine counters read from the application status
    store (kept with the UI disabled). Stages and jobs are attributed
    by id range, not by call site: jobs submitted from refresh's branch
    threads carry no Python frames."""

    FIELDS = ("tasks", "tasks_failed", "input_bytes", "shuffle_write_bytes",
              "spill_bytes", "executor_run_ms", "gc_ms")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self.mark()

    def _stages(self):
        return self._store.stageList(self._empty, False, False, self._quantiles, self._empty)

    def _max_ids(self) -> tuple[int, int]:
        # both lists come newest first
        stages = self._stages()
        jobs = self._store.jobsList(self._empty)
        ms = stages.apply(0).stageId() if stages.size() else -1
        mj = jobs.apply(0).jobId() if jobs.size() else -1
        return ms, mj

    def mark(self) -> None:
        self._stage0, self._job0 = self._max_ids()

    def delta(self) -> dict[str, float]:
        """Counters of the stages and jobs started since `mark()`."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._stage0:
                break
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["tasks_failed"] += s.numFailedTasks()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_ms"] += s.executorRunTime()
            out["gc_ms"] += s.jvmGcTime()
        jobs = self._store.jobsList(self._empty)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= self._job0:
                break
            n_jobs += 1
        out["jobs"] = float(n_jobs)
        return out


# --------------------------------------------------------------- memory


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Summed peak resident memory (VmHWM) of a process and all its
    descendants — here the Python driver and the Spark JVM it launched."""
    pid = pid or os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
