"""Seeded input generators. Each takes a ``random.Random`` seeded from the
run's ``--seed``; the program under test only ever sees what these
return, so the same seed gives the same inputs."""

from __future__ import annotations

import bisect
import json
import random
import zlib

# JSON schema of the ingest_replay topic. ``minimum`` and
# ``required`` compile to Spark column predicates in the registry.
EVENT_SCHEMA = {
    "type": "object",
    "properties": {
        "key": {"type": "string"},
        "value": {
            "type": "object",
            "properties": {
                "id": {"type": "integer", "minimum": 0},
                "user": {
                    "type": "object",
                    "properties": {
                        "name": {"type": "string"},
                        "tier": {"type": "integer", "minimum": 0},
                    },
                },
                "amount": {"type": "number"},
                "payload": {"type": "string"},
            },
            "required": ["id", "amount"],
        },
    },
}

# Lake config: an Iceberg-style bucket transform over a normalized column,
# one generated column, and struct flattening.
LAKE_CONFIG = {
    "tansu.lake.partition": "bucket(4, value_id)",
    "tansu.lake.generate.amount_cents": "cast(value.amount * 100 as bigint)",
    "tansu.lake.normalize": "true",
    "tansu.lake.normalize.separator": "_",
}

SMALL_BATCH = 500
LARGE_BATCH = 10_000
N_KEYS = 2_000
ZIPF_S = 1.1
# Value sizes: 100 B to 2 KiB of JSON.
MIN_VALUE, MAX_VALUE = 100, 2048


class Events:
    """Schema-valid JSON events with Zipf-skewed keys and ids that are
    unique across the generator's lifetime."""

    def __init__(self, rng: random.Random, first_id: int = 0) -> None:
        self.rng = rng
        self.next_id = first_id
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_KEYS)]
        total = sum(weights)
        acc = 0.0
        self._cdf = []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        # Payload text: sliced from one seeded block, so a 10k-record
        # batch costs no per-character generation.
        self._text = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz ", k=4096))

    def key(self) -> str:
        k = min(bisect.bisect_left(self._cdf, self.rng.random()), N_KEYS - 1)
        return f"user-{k:04d}"

    def value(self, valid: bool = True) -> dict:
        rng = self.rng
        v = {
            "id": self.next_id,
            "user": {"name": f"u{rng.randrange(500)}", "tier": rng.randrange(4)},
            "amount": rng.randrange(1_000_000) / 100,
            "payload": "",
        }
        self.next_id += 1
        if not valid:
            del v["amount"]  # violates "required"
        # log-uniform total size in [MIN_VALUE, MAX_VALUE]
        size = int(MIN_VALUE * (MAX_VALUE / MIN_VALUE) ** rng.random())
        room = max(0, size - len(json.dumps(v, separators=(",", ":"))))
        start = rng.randrange(len(self._text) - room + 1)
        v["payload"] = self._text[start : start + room]
        return v

    def batch(self, n: int, invalid_at: int | None = None) -> list[dict]:
        """``n`` records as ``{key, value}`` dicts (value is JSON text);
        the record at ``invalid_at`` breaks the schema."""
        return [
            {
                "key": self.key(),
                "value": json.dumps(self.value(i != invalid_at), separators=(",", ":")),
            }
            for i in range(n)
        ]


def ingest_block(rng: random.Random, block: int, k: int) -> list[tuple[int, str]]:
    """The produce calls of one write block as ``(batch size, kind)``:
    ``k - 1`` small batches then one large, each size jittered by up to
    2%. The first small batch is a transaction that commits, the second
    one that aborts. Block 0 and every 12th block after it start with one
    more small batch that carries an invalid record (about 2% of batches
    over a long run). The order is fixed so that every seed does the same
    work; the seed draws the sizes and, in ``Events``, the records.
    Kinds: plain, commit, abort, invalid."""
    sizes = [SMALL_BATCH] * (k - 1) + [LARGE_BATCH]
    kinds = (["commit", "abort"] + ["plain"] * k)[: k - 1] + ["plain"]
    plan = [(int(s * rng.uniform(0.98, 1.02)), kind) for s, kind in zip(sizes, kinds)]
    if block % 12 == 0:
        plan.insert(0, (SMALL_BATCH, "invalid"))
    return plan


def partition_of(key: str, partitions: int) -> int:
    """The producer's client-side partitioner (Kafka clients choose the
    partition; a stable hash of the key keeps each key in one)."""
    return zlib.crc32(key.encode()) % partitions


def upserts(rng: random.Random, n: int, key_space: int) -> list[dict]:
    """One merge changeset: ``n`` distinct keys, 85% upserts, 15% deletes."""
    keys = rng.sample(range(key_space), n)
    return [
        {
            "id": k,
            "name": f"n{rng.randrange(10_000)}",
            "score": rng.randrange(100_000) / 100,
            "_op": "U" if rng.random() < 0.85 else "D",
        }
        for k in keys
    ]
