"""`log_replay`: the parquet MessiLog, its cursors and the pull consumer.

1. ``MessiLog.publish`` appends 500-message batches (one parquet append per
   shard each), so the log is a realistic small-file log. ``work_s`` is the
   fastest append.
2. Seeded seeks across all six cursor types, each timed from the cursor to
   the first ``MessiStreamingConsumer.receive()``. Sequence cursors go through
   ``checkpoint()`` / ``from_checkpoint()`` first. Every seek's first message
   is compared with a pure-Python oracle over the rows ``publish`` returned.
3. Every shard is drained from OLDEST and checked for exactly-once delivery,
   sequence order and payload equality.

No broker is involved; the cost is Spark job overhead on a small-file log.
"""

from __future__ import annotations

import glob
import os
import random
from datetime import datetime, timedelta, timezone
from statistics import median

from common import Stopwatch, percentile

SHARDS = 4
TOPIC = "replay"
BATCH = 500
KINDS = ("now", "oldest", "time", "seq_incl", "seq_excl", "ulid_incl", "ulid_excl",
         "ext_match", "ext_excl", "ext_fallback")
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
TOLERANCE = timedelta(seconds=60)


def sizes(seconds: int, smoke: bool) -> tuple[int, int]:
    """(appends, seeks)."""
    if smoke:
        return 2, len(KINDS)
    return max(3, seconds), 2 * len(KINDS)


def _utc(t: datetime) -> datetime:
    return t if t.tzinfo else t.replace(tzinfo=timezone.utc)


class Oracle:
    """Expected first message of a seek, from publish()'s returned rows."""

    def __init__(self, stamped: list[dict]):
        self.by_shard: dict[str, list[dict]] = {}
        for r in stamped:
            self.by_shard.setdefault(r["shard_id"], []).append(r)
        for rows in self.by_shard.values():
            rows.sort(key=lambda r: r["sequence_number"])

    def first(self, shard: str, pred) -> str | None:
        for r in self.by_shard.get(shard, []):
            if pred(r):
                return r["external_id"]
        return None


def plan_seeks(rng: random.Random, oracle: Oracle, n: int) -> list[tuple]:
    """(kind, shard, target row) for n seeks. Kinds cycle through KINDS and
    shards round-robin; targets sit at well-spread relative positions in the
    shard (a golden-ratio sequence) with a small seeded jitter. A seek's cost
    grows with the rows after its target, so stratified positions keep the
    mix of cheap and dear seeks the same for every seed."""
    out = []
    shards = sorted(oracle.by_shard)
    for i in range(n):
        rows = oracle.by_shard[shards[i % len(shards)]]
        frac = (i * 0.6180339887 + rng.uniform(-0.02, 0.02)) % 1.0
        out.append((KINDS[i % len(KINDS)], shards[i % len(shards)], rows[int(frac * len(rows))]))
    return out


def run(ctx) -> None:
    import inputs
    from messikinesisprovider_spark.client import MessiShard
    from messikinesisprovider_spark.cursor import MessiCursor
    from messikinesisprovider_spark.log import MessiLog
    from messikinesisprovider_spark.ulid import Ulid

    appends, n_seeks = sizes(ctx.seconds, ctx.smoke)
    spark = ctx.start_spark()
    sc = spark.sparkContext

    msgs = inputs.messages(ctx.seed, appends * BATCH, tag="log")
    for m in msgs:  # the log assigns ULIDs itself; no wire timestamp field
        for k in ("timestamp_ms", "ulid_msb", "ulid_lsb"):
            m.pop(k)

    def setup(i: int):
        return MessiLog(spark, os.path.join(ctx.workdir, f"log{i}"), n_shards=SHARDS)

    log = ctx.timed_setup(setup)
    rng = random.Random(ctx.seed)

    # Warm-up, untimed: the first publish and the first scans pay one-off JVM
    # class loading and code generation that a long-lived client pays once.
    warm = MessiLog(spark, os.path.join(ctx.workdir, "warm"), n_shards=SHARDS)
    warm_rows = warm.publish(TOPIC, msgs[:BATCH], now=T0)
    MessiShard(warm, TOPIC, "0").streaming_consumer(MessiCursor.oldest()).receive()
    MessiShard(warm, TOPIC, warm_rows[0]["shard_id"]).streaming_consumer(
        MessiCursor.at_external_id(warm_rows[0]["external_id"], T0, TOLERANCE)).receive()

    ctx.begin_measure()
    stamped: list[dict] = []
    publish_s = []
    for k in range(appends):
        now = T0 + timedelta(seconds=10 * k)
        with Stopwatch() as sw:
            stamped += log.publish(TOPIC, msgs[k * BATCH : (k + 1) * BATCH], now=now)
        publish_s.append(sw.s)

    oracle = Oracle(stamped)
    seeks = plan_seeks(rng, oracle, n_seeks)
    results = []
    jobs = []
    seek_ms: list[float] = []
    with Stopwatch() as seek_total:
        for i, (kind, shard, row) in enumerate(seeks):
            group = f"seek-{i}"
            sc.setJobGroup(group, kind)
            ctx.op(group)
            arrival = _utc(row["arrival_ts"])
            with Stopwatch() as sw:
                if kind == "now":
                    cursor = MessiCursor.now()
                elif kind == "oldest":
                    cursor = MessiCursor.oldest()
                elif kind == "time":
                    cursor = MessiCursor.at_time(arrival)
                elif kind.startswith("seq"):
                    at = log.cursor_at(row) if kind == "seq_incl" else log.cursor_after(row)
                    cursor = MessiCursor.from_checkpoint(at.checkpoint())
                elif kind.startswith("ulid"):
                    u = Ulid.from_parts(row["ulid_msb"], row["ulid_lsb"])
                    cursor = MessiCursor.at_ulid(u, inclusive=kind == "ulid_incl")
                elif kind == "ext_fallback":
                    cursor = MessiCursor.at_external_id("absent-" + row["external_id"],
                                                        arrival, TOLERANCE)
                else:
                    cursor = MessiCursor.at_external_id(row["external_id"], arrival, TOLERANCE,
                                                        inclusive=kind == "ext_match")
                consumer = MessiShard(log, TOPIC, shard).streaming_consumer(cursor)
                first = consumer.receive()
            results.append((kind, shard, row, first))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            seek_ms.append(sw.s * 1000)
    sc.setJobGroup("drain", "drain")

    drained = []
    with Stopwatch() as drain:
        for shard in log.shards():
            consumer = MessiShard(log, TOPIC, shard).streaming_consumer(MessiCursor.oldest())
            while (m := consumer.receive()) is not None:
                drained.append(m)
    ctx.end_measure()

    # -- correctness, outside the timed window -------------------------------
    for kind, shard, row, first in results:
        seq = row["sequence_number"]
        arrival = row["arrival_ts"]
        if kind == "now":
            want = None
        elif kind == "oldest":
            want = oracle.first(shard, lambda r: True)
        elif kind == "time":
            want = oracle.first(shard, lambda r: r["arrival_ts"] >= arrival)
        elif kind.startswith("ulid"):
            u = Ulid.from_parts(row["ulid_msb"], row["ulid_lsb"]).text()
            incl = kind == "ulid_incl"
            want = oracle.first(shard, lambda r: r["ulid"] >= u if incl else r["ulid"] > u)
        elif kind in ("seq_incl", "ext_match"):
            want = row["external_id"]
        elif kind in ("seq_excl", "ext_excl"):
            want = oracle.first(shard, lambda r: r["sequence_number"] > seq)
        else:  # ext_fallback: replay from the lower tolerance bound
            lo = arrival - TOLERANCE
            want = oracle.first(shard, lambda r: r["arrival_ts"] >= lo)
        got = first["external_id"] if first else None
        ctx.check(got == want, f"seek {kind} shard {shard} at {seq}: got {got}, want {want}")
    rows = [(m["shard_id"], m["sequence_number"], m["external_id"], m["data"]["payload"])
            for m in drained]
    ctx.check_delivery(msgs, rows, "drain")

    # the fastest append: a slow stretch of a shared host only adds time
    ctx.e2e(work_s=min(publish_s), p50_ms=median(seek_ms), tail_ms=percentile(seek_ms, 75))
    ctx.detail(
        publish_rps=BATCH / min(publish_s),
        appends_s=publish_s,
        seek_total_s=seek_total.s,
        drain_rps=len(drained) / drain.s,
        seek_p50_ms=median(seek_ms),
        seek_p75_ms=percentile(seek_ms, 75),
        seeks=len(seek_ms),
    )
    files = len(glob.glob(os.path.join(log.root, "shard_id=*", "*.parquet")))
    ctx.layer("log.files_per_shard", files / SHARDS)
    ctx.layer("spark.jobs_per_seek", sum(jobs) / len(jobs))
