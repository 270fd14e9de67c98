"""The repository benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md for what each stresses and why it was chosen):

- pubsub_live       broker twin + polling consumer + open-loop rate ladder
- stream_roundtrip  Spark DataSource write, partitioned stream read, restart
- log_replay        MessiLog publish, six cursor types, checkpoint round trip
- batch_analytics   fifteen registry queries, DuckDB oracle parity

Every run checks its outputs outside the timed window and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics
declared in BENCHMARK.json; with ``--trace 1`` the public functions of each
layer are wrapped (tracer.py) and the metrics are the per-layer ones. The line
before it carries the workload's named detail metrics (``publish_rps``,
``seek_p50_ms``, ...) for people reading the log.

``--smoke`` shrinks every input to a few seconds of work; test_smoke.py uses
it to check the output contract.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import time

import common

WORKLOADS = {
    "pubsub_live": "pubsub",
    "stream_roundtrip": "stream",
    "log_replay": "replay",
    "batch_analytics": "batch",
}
SETUP_REPEATS = 3
DEADLINE_S = 150


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    """What a workload needs from the harness, and what it reports back."""

    def __init__(self, workload: str, seed: int, seconds: int, smoke: bool, tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.smoke = smoke
        self.tracer = tracer
        self.workdir = common.make_workdir(workload, seed)
        self.spark = None
        self.spark_s = 0.0
        self.setup_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.details: dict = {}
        self._cpu0 = 0.0
        self._excluded: set[int] = set()

    # -- set-up ------------------------------------------------------------
    def start_spark(self):
        """Start the SparkSession once; its start time is part of set-up."""
        from messikinesisprovider_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.workload}")
        self.spark_s = time.perf_counter() - t0
        return self.spark

    def timed_setup(self, fn, repeats: int = SETUP_REPEATS):
        """Run the workload's set-up `repeats` times, record each time and
        return the last result. `fn(i)` gets a number not used before, for
        fresh directories. May be called again later in the run for more
        samples."""
        result = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            result = fn(len(self.setup_times))
            self.setup_times.append(time.perf_counter() - t0)
        return result

    @property
    def setup_s(self) -> float:
        """SparkSession start plus the median recorded set-up time."""
        times = self.setup_times
        return self.spark_s + (statistics.median(times) if times else 0.0)

    # -- measured window ---------------------------------------------------
    def exclude_pid(self, pid: int) -> None:
        """Leave a helper process (and its children) out of proc.peak_rss_mb."""
        self._excluded.add(pid)

    def begin_measure(self) -> None:
        self._cpu0 = common.process_tree_usage()[1]

    def end_measure(self) -> None:
        self.layer("proc.peak_rss_mb", common.process_tree_usage(self._excluded)[0])
        self.layer("proc.cpu_s", common.process_tree_usage()[1] - self._cpu0)

    def op(self, name: str) -> None:
        """Name the operation that following spans belong to (traced runs)."""
        if self.tracer is not None:
            self.tracer.op = name

    # -- reporting ---------------------------------------------------------
    def e2e(self, **values: float) -> None:
        self.metrics.update(values)

    def detail(self, **values) -> None:
        self.details.update(values)

    def layer(self, name: str, value: float) -> None:
        """A per-layer value measured by the workload itself; its unit is
        the one BENCHMARK.json declares."""
        self.layers[name] = float(value)

    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation; record it as failed unless ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def check_delivery(self, sent: list[dict], rows: list[tuple], label, allow_missing=False):
        """Exactly-once by external id, payload round trip and strictly
        increasing sequence per shard, one check per sent message.
        `rows` are (shard, sequence, external_id, payload, ...) in delivery
        order. With `allow_missing`, undelivered messages are not failures
        (the ladder step that failed its latency limit is cut off)."""
        want = {m["external_id"]: m["data"]["payload"] for m in sent}
        seen: dict[str, int] = {}
        bad: set[str] = set()
        last_seq: dict[str, int] = {}
        for shard, seq, ext, payload, *_ in rows:
            seen[ext] = seen.get(ext, 0) + 1
            if ext not in want or bytes(payload or b"") != want[ext]:
                bad.add(ext)
            if seq <= last_seq.get(shard, -1):
                bad.add(ext)
            last_seq[shard] = seq
        for ext in want:
            n = seen.get(ext, 0)
            ok = ext not in bad and (n == 1 or (n == 0 and allow_missing))
            self.check(ok, f"{label}: {ext} delivered {n}x" + (" (bad)" if ext in bad else ""))
        for ext in seen:
            if ext not in want:
                self.check(False, f"{label}: unexpected message {ext}")


def _per_layer(ctx: Run, spec: dict, per_call_cost: float) -> dict:
    tr = ctx.tracer
    totals = tr.totals()

    def calls(name):
        return totals.get(name, (0, 0.0, 0.0))[0]

    def busy(name):
        return totals.get(name, (0, 0.0, 0.0))[1]

    def self_s(name):
        return totals.get(name, (0, 0.0, 0.0))[2]

    def mean(name, scale, own=True):
        c = calls(name)
        return (self_s(name) if own else busy(name)) / c * scale if c else 0.0

    get_calls = calls("sim.get_records")
    empty = tr.counts.get("sim.get_records.empty", 0)
    requests = ctx.layers.get("consumer.requests", 0.0)
    derived = {
        "wire.encode_us": mean("wire.encode", 1e6),
        "wire.decode_us": mean("wire.decode", 1e6),
        "sink.calls": calls("sink.publish_with_retry"),
        "sink.retry_rounds": tr.counts.get("sink.retry_rounds", 0),
        "sink.busy_s": busy("sink.publish_with_retry"),
        "sim.put_records.calls": calls("sim.put_records"),
        "sim.put_records.busy_s": busy("sim.put_records"),
        "sim.get_records.calls": get_calls,
        "sim.get_records.busy_s": busy("sim.get_records"),
        "sim.get_records.empty_frac": empty / get_calls if get_calls else 0.0,
        "sim.get_records.recs_per_call":
            tr.counts.get("sim.get_records.records", 0) / get_calls if get_calls else 0.0,
        "sim.get_shard_iterator.calls": calls("sim.get_shard_iterator"),
        "consumer.fill_once.busy_s": busy("consumer.fill_once"),
        "consumer.useful_fetch_frac": (get_calls - empty) / requests if requests else 0.0,
        "ulid.next_us": mean("ulid.next", 1e6),
        "log.publish.busy_s": busy("log.publish"),
        "log.read.plan_ms": mean("log.read", 1e3, own=False),
        "client.fill_ms": mean("log.receive_all", 1e3),
        "cursor.checkpoint_us": mean("cursor.checkpoint", 1e6),
        "cursor.from_checkpoint_us": mean("cursor.from_checkpoint", 1e6),
        "session.get_spark_s": busy("session.get_spark"),
        "trace.spans": len(tr.spans),
        "trace.overhead_est_s": len(tr.spans) * per_call_cost,
    }
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        value = ctx.layers[name] if name in ctx.layers else derived.get(name, 0.0)
        out[name] = {"value": float(value), "unit": m["unit"]}
    return out


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit. The
    JVM ends itself when its stdin closes (pyspark's launch contract)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = common.descendants()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    common.wait_ended(started, 60)


def main(argv=None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for test_smoke.py")
    args = ap.parse_args(argv)
    common.repo_on_path()
    try:
        importlib.import_module("messikinesisprovider_spark")
    except ImportError as e:
        print(f"perfbench: package under test not importable: {e}", file=sys.stderr)
        return 3

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()
    ctx = Run(args.workload, args.seed, args.seconds, args.smoke, tracer)
    module = importlib.import_module(WORKLOADS[args.workload])
    try:
        module.run(ctx)
    finally:
        signal.alarm(0)
        if tracer is not None:
            tracer.uninstall()
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        common.remove_workdir(ctx.workdir)

    ctx.metrics["setup_s"] = ctx.setup_s
    if tracer is not None:
        os.makedirs(common.OUT_DIR, exist_ok=True)
        tracer.write(os.path.join(common.OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
        metrics = _per_layer(ctx, spec, tracer.per_call_cost())
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": float(ctx.metrics[k]), "unit": u} for k, u in units.items()}
    ctx.details.update(
        workload=args.workload, seed=args.seed, traced=bool(args.trace), e2e=ctx.metrics,
        setup_times=ctx.setup_times, spark_start_s=ctx.spark_s,
        peak_rss_mb=ctx.layers["proc.peak_rss_mb"],
        failed_frac=ctx.failed / max(1, ctx.attempted), problems=ctx.problems,
    )
    print(json.dumps({"detail": ctx.details}, default=float))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
