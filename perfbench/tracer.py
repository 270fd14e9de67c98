"""In-memory span tracer that wraps the package's public functions from outside.

``Tracer.install()`` replaces each function listed in ``TARGETS`` with a
wrapper that records a span (name, start, end, parent span, operation id);
``uninstall()`` puts the originals back. Nothing in the package changes, and
an untraced run installs nothing, so its end-to-end numbers carry no tracing
cost. Spans stay in memory and are written as JSON lines when the run ends.

Spans are kept for the benchmark's main thread, which makes every wrapped
call. Only calls made in the benchmark process are seen. Spark's forked Python
workers (the executor-side stream reader and writer) are measured through
Spark's own progress and status APIs instead, in the workloads.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import time

PKG = "messikinesisprovider_spark"

# (module, attribute path, span name). One entry per layer boundary.
TARGETS = [
    ("wire", "encode_message", "wire.encode"),
    ("wire", "decode_message", "wire.decode"),
    ("ulid", "MonotonicUlidGenerator.next", "ulid.next"),
    ("cursor", "MessiCursor.checkpoint", "cursor.checkpoint"),
    ("cursor", "MessiCursor.from_checkpoint", "cursor.from_checkpoint"),
    ("log", "MessiLog.publish", "log.publish"),
    ("log", "MessiLog.read", "log.read"),
    ("log", "MessiLog.receive_all", "log.receive_all"),
    ("client", "MessiStreamingConsumer.receive", "client.receive"),
    ("streaming.sink", "publish_with_retry", "sink.publish_with_retry"),
    ("sources.kinesis_sim", "FakeKinesisClient.put_records", "sim.put_records"),
    ("sources.kinesis_sim", "FakeKinesisClient.get_records", "sim.get_records"),
    ("sources.kinesis_sim", "FakeKinesisClient.get_shard_iterator", "sim.get_shard_iterator"),
    ("sources.kinesis", "KinesisShardConsumer.fill_once", "consumer.fill_once"),
    ("session", "get_spark", "session.get_spark"),
]


class Tracer:
    def __init__(self):
        # span = [name, start, end, parent index or -1, operation id]
        self.spans: list[list] = []
        self.counts: dict[str, float] = {}
        self.op = ""
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.op])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if name == "sim.get_records":
                n = len(result.get("Records", ()))
                tracer.count("sim.get_records.records", n)
                tracer.count("sim.get_records.empty", n == 0)
            elif name == "sink.publish_with_retry":
                tracer.count("sink.retry_rounds", result - 1)
            return result

        return traced

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for mod_name, path, name in TARGETS:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, staticmethod):
                wrapped = staticmethod(self._wrap(raw.__func__, name))
            else:
                wrapped = self._wrap(raw, name)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    # -- reporting ---------------------------------------------------------
    def totals(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds). Self time is a span's
        duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, list] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            agg = out.setdefault(name, [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += end - start
            agg[2] += end - start - child[i]
        return {k: tuple(v) for k, v in out.items()}

    def per_call_cost(self, n: int = 20000) -> float:
        """Seconds of overhead one traced call adds, measured on a no-op."""
        probe = Tracer()
        noop = probe._wrap(lambda: None, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        traced = time.perf_counter() - t0
        plain = lambda: None  # noqa: E731
        t0 = time.perf_counter()
        for _ in range(n):
            plain()
        return max(0.0, (traced - (time.perf_counter() - t0)) / n)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")
