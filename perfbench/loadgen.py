"""Open-loop load generator for the `pubsub_live` rate ladder.

Runs as its own single-threaded process, separate from the consumer under
test. It reads one JSON command per line on stdin:

    {"stream": "live500", "rate": 500, "seconds": 2.0, "seed": 7, "tag": "live500"}

builds and wire-encodes `rate * seconds` seeded messages, then publishes them
into `stream` on a fixed schedule (message i is due at start + i / rate) through
``publish_with_retry`` -> ``KinesisTransport`` -> ``FakeKinesisClient``. The
schedule never waits for the consumer: whatever is due is sent in one
PutRecords batch (at most 500 records), and a stall only makes the generator
late. Each message carries its due time (``attributes["due_us"]``), so the
consumer measures delivery latency from when the message was due, not from
when a slowed generator got round to sending it.

After each step it writes one JSON line on stdout with its own lateness and
its PutRecords call statistics. An empty line or EOF ends the process.

Usage: python3 perfbench/loadgen.py <repo_root> <statedir>
"""

from __future__ import annotations

import json
import sys
import time


def run_step(cmd: dict, transport) -> dict:
    import inputs
    from messikinesisprovider_spark import wire
    from messikinesisprovider_spark.streaming.sink import publish_with_retry

    rate = float(cmd["rate"])
    n = max(1, int(round(rate * float(cmd["seconds"]))))
    msgs = inputs.messages(int(cmd["seed"]), n, tag=cmd["tag"])
    # The schedule starts once every message is encoded (about 35 us each);
    # if encoding overruns the margin, the overrun shows as lateness.
    start = time.time() + 0.1 + n * 50e-6
    encoded = []
    for i, m in enumerate(msgs):
        due = start + i / rate
        m["attributes"]["due_us"] = str(int(due * 1e6))
        encoded.append((due, {"partition_key": m["partition_key"], "payload": wire.encode_message(m)}))
    lateness: list[float] = []
    put_calls = 0
    put_busy = 0.0
    i = 0
    while i < n:
        now = time.time()
        due_next = encoded[i][0]
        if due_next > now:
            time.sleep(min(due_next - now, 0.005))
            continue
        j = i
        while j < n and j - i < 500 and encoded[j][0] <= now:
            j += 1
        batch = [rec for _, rec in encoded[i:j]]
        t0 = time.perf_counter()
        publish_with_retry(batch, transport)
        put_busy += time.perf_counter() - t0
        put_calls += 1
        sent = time.time()
        lateness.extend(sent - due for due, _ in encoded[i:j])
        i = j
    lateness.sort()
    return {
        "tag": cmd["tag"],
        "rate": rate,
        "published": n,
        "start": start,
        "end": time.time(),
        "lag_p50_ms": 1000 * lateness[len(lateness) // 2],
        "lag_p99_ms": 1000 * lateness[min(len(lateness) - 1, int(0.99 * len(lateness)))],
        "put_calls": put_calls,
        "put_busy_s": put_busy,
    }


def main() -> None:
    repo, statedir = sys.argv[1:3]
    sys.path.insert(0, repo)
    from messikinesisprovider_spark.sources.kinesis import KinesisTransport
    from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient

    client = FakeKinesisClient(statedir)
    for line in sys.stdin:
        if not line.strip():
            break
        cmd = json.loads(line)
        report = run_step(cmd, KinesisTransport(cmd["stream"], client=client))
        sys.stdout.write(json.dumps(report) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
