"""`pubsub_live`: the broker twin and the polling consumer, no Spark.

1. Set-up, repeated: a fresh broker with 4-shard streams; every live stream
   (below) is pre-loaded with the same seeded history of ``history_records``
   messages (spec.json). Only program calls are timed: client construction,
   ``create_stream`` and the history publish.
2. Backlog rounds, each on a fresh stream, run between the live steps: seeded
   messages go through ``wire.encode_message`` -> ``publish_with_retry`` ->
   ``KinesisTransport`` -> ``FakeKinesisClient`` in 500-record batches
   (``publish_rps``); then one ``KinesisShardConsumer`` per shard from
   TRIM_HORIZON, ``fetch_limit=1000`` and a 10 ms poll interval, polled
   round-robin by one thread, drains them (``drain_rps``). ``work_s`` is the
   fastest round.
3. Live steps, each on its own live stream: fresh consumers drain the
   stream's history from TRIM_HORIZON, then tail it while ``loadgen.py``, in
   its own process, publishes into it open-loop at the step's rate. Every
   append invalidates the broker's parsed copy of that shard, so each
   GetRecords after it re-reads the shard's whole file, history included:
   delivery latency carries that cost. The first rate of the ladder runs
   ``probes`` times, each higher rate once, so every step starts from the
   same history. A step passes when the p99 delivery latency, measured from
   each message's due time, is at most ``LATENCY_LIMIT_MS`` and every
   message of the step is delivered within ``LATENCY_LIMIT_MS`` of the
   step's end (no growing backlog). The ladder stops at the first failing
   step.
"""

from __future__ import annotations

import gc
import json
import os
import queue
import subprocess
import sys
import threading
import time
from statistics import median

from common import BENCH_DIR, ROOT, Stopwatch, percentile

with open(os.path.join(BENCH_DIR, "spec.json")) as _f:
    SPEC = json.load(_f)["pubsub_live"]
SHARDS = 4
BACKLOG_STREAM = "backlog"
LADDER = tuple(SPEC["ladder_rps"])
LATENCY_LIMIT_MS = float(SPEC["latency_limit_ms"])
POLL_MS = 10
FETCH_LIMIT = 1000
PUT_BATCH = 500


def sizes(seconds: int, smoke: bool) -> dict:
    if smoke:
        return {"rounds": 2, "round_msgs": 1000, "history": 200, "probes": 2, "step_s": 0.5,
                "ladder": LADDER[:2]}
    return {
        # the backlog is published and drained in rounds of equal size, each
        # on a fresh stream; see run() for why the fastest round is reported
        "rounds": 24,
        "round_msgs": 250 * seconds,
        "history": SPEC["history_records"],
        "probes": SPEC["probes"],
        "step_s": 0.2 * seconds,
        "ladder": LADDER,
    }


def live_steps(cfg: dict) -> list[tuple[str, int]]:
    """(stream, rate) of every live step, in ladder order."""
    first, *rest = cfg["ladder"]
    return ([(f"live{first}-{i}", first) for i in range(cfg["probes"])]
            + [(f"live{rate}", rate) for rate in rest])


class Delivery:
    """Round-robin receive loop over per-shard consumers; records every
    delivered message for the correctness checks and latency."""

    def __init__(self, consumers):
        self.consumers = consumers
        self.rows: list[tuple] = []  # (shard, seq, external_id, payload, due_us, t)
        self.idle_s = 0.0

    def pump(self) -> int:
        """One pass over all shards; returns messages delivered."""
        got = 0
        for c in self.consumers:
            while True:
                m = c.receive(0.0)
                if m is None:
                    break
                self.rows.append((
                    f"{c.stream_name}/{c.shard_id}",
                    int(m["provider"]["sequence_number"]),
                    m["external_id"],
                    m["data"].get("payload"),
                    int(m["attributes"].get("due_us", 0)),
                    time.time(),
                ))
                got += 1
        if not got:
            t0 = time.perf_counter()
            time.sleep(0.001)
            self.idle_s += time.perf_counter() - t0
        return got

    def drain(self, n: int) -> None:
        while len(self.rows) < n:
            self.pump()


def _start_loadgen(statedir: str) -> tuple[subprocess.Popen, queue.Queue]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"), ROOT, statedir],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    reports: queue.Queue = queue.Queue()

    def reader():
        for line in proc.stdout:
            reports.put(json.loads(line))

    threading.Thread(target=reader, daemon=True).start()
    return proc, reports


def _publish(transport, msgs: list[dict]) -> None:
    from messikinesisprovider_spark import wire
    from messikinesisprovider_spark.streaming import sink

    for lo in range(0, len(msgs), PUT_BATCH):
        batch = [
            {"partition_key": m["partition_key"], "payload": wire.encode_message(m)}
            for m in msgs[lo : lo + PUT_BATCH]
        ]
        sink.publish_with_retry(batch, transport)


def _step_stats(rows: list[tuple], report: dict) -> dict:
    """Delivery figures of one live step from its delivered rows."""
    lat_ms = [(t - due / 1e6) * 1000 for *_, due, t in rows]
    # backlog over time: messages due minus messages delivered
    events = sorted([(due / 1e6, 1) for *_, due, _t in rows] + [(t, -1) for *_, t in rows])
    depth = peak = 0
    for _, d in events:
        depth += d
        peak = max(peak, depth)
    inf = float("inf")
    p99 = percentile(lat_ms, 99) if lat_ms else inf
    return {
        "published": report["published"], "delivered": len(rows),
        "p50_ms": median(lat_ms) if lat_ms else inf,
        "p90_ms": percentile(lat_ms, 90) if lat_ms else inf,
        "p95_ms": percentile(lat_ms, 95) if lat_ms else inf, "p99_ms": p99,
        "ok": len(rows) >= report["published"] and p99 <= LATENCY_LIMIT_MS,
        "lag_p99_ms": report["lag_p99_ms"], "backlog_max": peak,
        "put_calls": report["put_calls"], "put_busy_s": report["put_busy_s"],
        "achieved_rps": len(rows) / (rows[-1][5] - report["start"]) if rows else 0.0,
        "lat_ms": lat_ms,
    }


def run(ctx) -> None:
    import inputs
    from messikinesisprovider_spark.sources.kinesis import KinesisShardConsumer, KinesisTransport
    from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient
    from messikinesisprovider_spark.streaming.policy import PollPolicy

    cfg = sizes(ctx.seconds, ctx.smoke)
    rounds, per = cfg["rounds"], cfg["round_msgs"]
    streams = [f"{BACKLOG_STREAM}{r}" for r in range(rounds)]
    plan = live_steps(cfg)

    msgs = inputs.messages(ctx.seed, rounds * per, tag="backlog")
    history = inputs.messages(ctx.seed, cfg["history"], tag="history")

    # -- set-up, repeated: a fresh broker, the live streams' history ----------
    def setup(i: int):
        statedir = os.path.join(ctx.workdir, f"broker{i}")
        client = FakeKinesisClient(statedir)
        for stream in streams + [s for s, _ in plan]:
            client.create_stream(StreamName=stream, ShardCount=SHARDS)
        for stream, _ in plan:
            _publish(KinesisTransport(stream, client=client), history)
        return statedir, client

    statedir, client = ctx.timed_setup(setup, repeats=2)
    gen, reports = _start_loadgen(statedir)
    ctx.exclude_pid(gen.pid)  # the load generator is not the system under test
    policy = PollPolicy(poll_interval_ms=POLL_MS, fetch_limit=FETCH_LIMIT)
    pub_s, drain_s, backlog_rows = [], [], []
    loops: list[Delivery] = []

    def backlog_round(r: int) -> None:
        ctx.op(f"round-{r}")
        stream = streams[r]
        with Stopwatch() as pub:
            _publish(KinesisTransport(stream, client=client), msgs[r * per : (r + 1) * per])
        loop = Delivery([KinesisShardConsumer(client, stream, str(s), policy=policy)
                         for s in range(SHARDS)])
        with Stopwatch() as drain:
            loop.drain(per)
        pub_s.append(pub.s)
        drain_s.append(drain.s)
        backlog_rows.extend(loop.rows)
        loops.append(loop)

    def live_step(stream: str, rate: int) -> dict:
        ctx.op(f"step-{stream}")
        loop = Delivery([KinesisShardConsumer(client, stream, str(s), policy=policy)
                         for s in range(SHARDS)])
        loops.append(loop)
        loop.drain(len(history))
        # The benchmark holds every input message and delivered row; frozen,
        # they are no longer scanned by the collections the consumer's own
        # allocations trigger, which would otherwise show as latency.
        gc.collect()
        gc.freeze()
        gen.stdin.write(json.dumps({"stream": stream, "rate": rate, "seconds": cfg["step_s"],
                                    "seed": ctx.seed, "tag": stream}) + "\n")
        gen.stdin.flush()
        report = None
        while True:
            loop.pump()
            if report is None:
                try:
                    report = reports.get_nowait()
                except queue.Empty:
                    if gen.poll() is not None:
                        raise RuntimeError("load generator exited") from None
                    continue
            if (len(loop.rows) - len(history) >= report["published"]
                    or time.time() > report["end"] + LATENCY_LIMIT_MS / 1000):
                break
        step = _step_stats(loop.rows[len(history):], report)
        step.update(stream=stream, rate=rate, history_rows=loop.rows[: len(history)],
                    rows=loop.rows[len(history):])
        return step

    # Backlog rounds are spread over the run, an equal share before each
    # live step and the rest after; nothing else is in flight during one.
    todo = list(range(rounds))
    share = max(1, rounds // (len(plan) + 1))
    steps = []
    try:
        ctx.begin_measure()
        for stream, rate in plan:
            for r in todo[:share]:
                backlog_round(r)
            del todo[:share]
            steps.append(live_step(stream, rate))
            if not steps[-1]["ok"]:
                break
        for r in todo:
            backlog_round(r)
        ctx.end_measure()
    finally:
        gen.stdin.close()
        gen.wait(timeout=30)
    # More set-up samples, after the measured window: the host's speed
    # changes over seconds, and samples from both ends of the run give a
    # steadier median than samples taken back to back.
    ctx.timed_setup(setup, repeats=3)

    # -- correctness, outside the timed window -------------------------------
    ctx.check_delivery(msgs, backlog_rows, "backlog")
    for st in steps:
        ctx.check_delivery(history, st["history_rows"], f"{st['stream']} history")
        sent = inputs.messages(ctx.seed, st["published"], tag=st["stream"])
        ctx.check_delivery(sent, st["rows"], st["stream"], allow_missing=not st["ok"])

    probes = [s for s in steps if s["rate"] == LADDER[0]]
    sustained = 0
    for s in steps:
        if not s["ok"]:
            break
        sustained = s["rate"]
    # On a shared host the CPU this single thread gets runs at anywhere
    # between full and half speed, changing several times a second; a slow
    # stretch only ever adds time. The fastest round is the measurement
    # least disturbed by it (best-of-N, as timeit reports); the live
    # latencies are the median over the probes, so one disturbed probe does
    # not move them. The tail is p90: a probe's p95 rests on 15 samples and
    # moved twice as much from run to run.
    round_s = min(p + d for p, d in zip(pub_s, drain_s))
    pooled = [x for s in probes for x in s["lat_ms"]]
    ctx.e2e(work_s=round_s,
            p50_ms=median(s["p50_ms"] for s in probes),
            tail_ms=median(s["p90_ms"] for s in probes))
    ctx.detail(
        round_msgs=per,
        history_records=len(history),
        rounds_s=[p + d for p, d in zip(pub_s, drain_s)],
        publish_rps=per / min(pub_s),
        drain_rps=per / min(drain_s),
        deliver_p50_ms=median(pooled),
        deliver_p90_ms=percentile(pooled, 90),
        deliver_p95_ms=percentile(pooled, 95),
        deliver_p99_ms=percentile(pooled, 99),
        deliver_samples=len(pooled),
        sustained_rps=sustained,
        ladder=[{k: v for k, v in s.items() if k not in ("rows", "history_rows", "lat_ms")}
                for s in steps],
    )
    ctx.layer("consumer.requests", sum(c.requests for lp in loops for c in lp.consumers))
    ctx.layer("consumer.idle_s", sum(lp.idle_s for lp in loops))
    ctx.layer("gen.lag_p99_ms", max(s["lag_p99_ms"] for s in steps))
    ctx.layer("backlog.max_records", max(s["backlog_max"] for s in steps))
    ctx.layer("gen.put_records.calls", sum(s["put_calls"] for s in steps))
    ctx.layer("gen.put_records.busy_s", sum(s["put_busy_s"] for s in steps))
