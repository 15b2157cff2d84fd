"""Seeded input generator: Confluent-wire Avro envelopes and decoded rows.

Everything the engine receives is built here from the run's seed, so the
same seed gives byte-identical inputs. Values are encoded with the
engine's own ``encode_avro_record`` + ``confluent_wrap`` over the golden
``lndcdcadsrtcrd_ratecard`` schema (subject id 391), and a sample is
round-tripped through ``decode_avro_record`` before any file is written.
The generator also keeps the ground truth the correctness gates compare
against (record counts, keys present, id sums).
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass

from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import (
    RATECARD_FIELDS,
    confluent_wrap,
    decode_avro_record,
    encode_avro_record,
)

TOPIC = "lndcdcadsrtcrd_ratecard"
SCHEMA_ID = 391
KAFKA_PARTITIONS = 3
#: 2026-01-05T00:00:00Z in epoch millis; every event hour counts from here.
EPOCH_MS = 1_767_571_200_000
HOUR_MS = 3_600_000


def ratecard_row(rng: random.Random, rate_card_id: int) -> dict:
    """One ratecard CDC row; ``SRC_KEY_VAL`` is a random 16-hex-digit key."""
    return {
        "RATE_CARD_ID": rate_card_id,
        "LAST_MODIFIED_BY": rng.choice(("etl_user", "ads_admin", "svc_rtcrd")),
        "LAST_MODIFIED_DT": f"2026-01-{rng.randint(1, 28):02d} 12:00:00",
        "RATE_CARD_TYPE_ID": rng.randint(1, 9),
        "BASE_INVENTORY_TYPE_ID": rng.randint(1, 40),
        "DIVISION_ID": rng.randint(1, 12),
        "RATE_CARD_NM": f"RC-{rate_card_id}",
        "RATE_CARD_DESC": rng.choice((None, "national", "local", "digital")),
        "RATE_CARD_COMMENT_TXT": None if rng.random() < 0.7 else "seasonal uplift",
        "BASE_UNIT_LENGTH": rng.choice((15, 30, 60)),
        "CRNCY_ID": 1,
        "PRICING_RATING_ROLLOVER_IND": rng.randint(0, 1),
        "EPSD_IMP_EST_FILE_TYP_ID": None,
        "CNCRNCY_VRSN": rng.randint(1, 5),
        "SRC_KEY_VAL": f"{rng.getrandbits(64):016x}",
        "SRC_CDC_OPER_NM": rng.choice(("INSERT", "UPDATE")),
        "SRC_COMMIT_DT_UTC": "2026-01-05 00:00:00",
        "TRG_CRT_DT_PART_UTC": "2026-01-05",
        "SRC_SCHEMA_NM": "ADS_RTCRD",
    }


@dataclass
class Envelopes:
    """Writes Lambda-event envelope files with globally unique offsets.

    Avro bodies come from a pool encoded once (``pool`` rows); each file
    draws ``n`` of them, so a long run costs one JSON dump per file, not
    one Avro encode per record. ``(partition, offset)`` never repeats
    across the files one instance writes, which is what the exactly-once
    gate checks.
    """

    rng: random.Random
    pool: int = 2_000

    def __post_init__(self) -> None:
        rows = [ratecard_row(self.rng, i) for i in range(self.pool)]
        self.values = [
            base64.b64encode(
                confluent_wrap(SCHEMA_ID, encode_avro_record(r, RATECARD_FIELDS))
            ).decode()
            for r in rows
        ]
        self.keys = [base64.b64encode(r["SRC_KEY_VAL"].encode()).decode() for r in rows]
        for i in self.rng.sample(range(self.pool), 20):
            wire = base64.b64decode(self.values[i])
            if wire[:5] != confluent_wrap(SCHEMA_ID, b"") or (
                decode_avro_record(wire[5:], RATECARD_FIELDS) != rows[i]
            ):
                raise AssertionError(f"generated record {i} does not round-trip")
        self.next_offset = [0] * KAFKA_PARTITIONS

    def write(self, path: str, n: int, hour0: int, hours: int) -> int:
        """Write one ``n``-record envelope whose events span ``hours`` event
        hours from event hour ``hour0``; returns ``n``."""
        by_tp: dict[str, list] = {}
        for j in range(n):
            p = j % KAFKA_PARTITIONS
            i = self.rng.randrange(self.pool)
            ts = EPOCH_MS + (hour0 + j * hours // n) * HOUR_MS + j
            by_tp.setdefault(f"{TOPIC}-{p}", []).append(
                {
                    "topic": TOPIC,
                    "partition": p,
                    "offset": self.next_offset[p],
                    "timestamp": ts,
                    "timestampType": "CREATE_TIME",
                    "key": self.keys[i],
                    "value": self.values[i],
                }
            )
            self.next_offset[p] += 1
        with open(path, "w") as fh:
            json.dump({"records": by_tp}, fh)
        return n


def decoded_batch(rng: random.Random, first_id: int, n: int, hour0: int, hours: int) -> list[dict]:
    """``n`` decoded rows in the landed table's shape: ids
    ``first_id..first_id+n-1`` (increasing, so zone maps can prune) and the
    ``topic/y/m/d/h`` partition values of ``hours`` event hours from
    ``hour0``."""
    out = []
    for j in range(n):
        row = ratecard_row(rng, first_id + j)
        h = hour0 + j * hours // n
        row.update(topic=TOPIC, y=2026, m=1, d=5 + h // 24, h=h % 24)
        out.append(row)
    return out


def absent_key(rng: random.Random) -> str:
    """A key no generated row carries: generated keys are 16 hex digits,
    this one has 17."""
    return f"z{rng.getrandbits(64):016x}"
