"""Seeded input generation: the program under test sees only what this builds.

Every generator takes the workload seed and returns plain Python data, so the
same seed always yields byte-identical inputs. Properties the system's
behaviour depends on, and why they were chosen:

- partition keys follow a Zipf(s=1.1) law over 1000 fixed key names; the key
  names do not depend on the seed, so the key -> shard placement (md5 routing)
  and with it the per-shard skew are the same for every seed, while the
  sampled sequence varies. The slowest shard sets drain time on the
  executor-parallel reader.
- payload sizes are log-uniform between 100 B and 2 KB: small envelopes stress
  per-record overhead, large ones stress base64/JSON/protobuf byte handling.
- every message carries a unique external id and a ULID assigned from a
  seeded clock, so exactly-once delivery and ordering can be checked.
"""

from __future__ import annotations

import numpy as np

N_KEYS = 1000
ZIPF_S = 1.1
MIN_PAYLOAD = 100
MAX_PAYLOAD = 2048
T0_MS = 1767225600000  # 2026-01-01T00:00:00Z
KEYS = [f"user-{i:04d}" for i in range(N_KEYS)]


def _key_probabilities() -> np.ndarray:
    w = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
    return w / w.sum()


def messages(seed: int, n: int, tag: str = "m") -> list[dict]:
    """`n` message envelopes (the wire.encode_message dict shape).

    `tag` namespaces the external ids so several tranches of one run stay
    distinct. The ULID is built from a seeded clock that advances 0-3 ms per
    message, so ULIDs are unique and time-ordered within a tranche.
    """
    from messikinesisprovider_spark.ulid import Ulid

    rng = np.random.default_rng([seed, sum(map(ord, tag))])
    key_idx = rng.choice(N_KEYS, size=n, p=_key_probabilities())
    sizes = np.exp(rng.uniform(np.log(MIN_PAYLOAD), np.log(MAX_PAYLOAD), size=n)).astype(int)
    blob = rng.bytes(int(sizes.sum()))
    clock = T0_MS + np.cumsum(rng.integers(0, 4, size=n))
    tails = rng.integers(0, 1 << 62, size=n)
    out = []
    off = 0
    for i in range(n):
        size = int(sizes[i])
        u = Ulid.of(int(clock[i]), int(tails[i]))
        key = KEYS[key_idx[i]]
        out.append(
            {
                "ulid_msb": u.msb,
                "ulid_lsb": u.lsb,
                "partition_key": key,
                "ordering_group": key,
                "ordering_seq": i,
                "external_id": f"{tag}-{seed}-{i:07d}",
                "data": {"payload": blob[off : off + size]},
                "attributes": {"size": str(size)},
                "timestamp_ms": int(clock[i]),
                "source_client_id": "perfbench",
            }
        )
        off += size
    return out
