"""Confluent-wire-format Avro decode (SURVEY.md §2.2, M1).

The reference's core competency: Kafka record values are
``0x00 | 4-byte big-endian schema id | Avro binary body``
(proven by the 5-byte skip in ``lambda_function.py:178``), with the body
written against a schema fetched from a Confluent Schema Registry
(``lambda_function.py:118-144``). Key bytes decode through a
string→int→ascii cascade (``lambda_function.py:146-162``).

Spark-first re-expression:

* **envelope split** (magic/schema-id/body) is pure JVM column math —
  ``substring`` on the binary column, no Python;
* **body decode** would be ``pyspark.sql.avro.functions.from_avro`` on the
  stripped body, but the spark-avro jar is not present in this
  environment, so the decode runs as an Arrow-batched ``mapInPandas``
  stage over a pure-Python Avro binary reader (implemented below from the
  public Avro 1.x specification — varint/zigzag primitives, union index
  prefixes). Batches stream through Arrow, so the Python boundary costs
  one (de)serialization per record batch, not per record;
* **schema provider** is a memoized registry lookup (the v2 handler's
  global-cache tactic, ``lambda_function_with_AWS_datawrangler.py:93-123``)
  resolved ONCE on the driver at plan-build time — executors never talk to
  a registry (the v1 per-record HTTP fetch is the anti-pattern this
  removes);
* **error handling** is PERMISSIVE: undecodable bodies yield a null row
  plus the raw bytes in ``_corrupt_record`` (Spark's corrupt-column
  convention), never an exception — the reference instead silently
  fell back between decoders (``lambda_function.py:175-182``).
"""

from __future__ import annotations

import io
import struct
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Avro binary primitives (public Avro 1.x spec: zigzag varints, length-
# prefixed utf-8 strings, little-endian IEEE doubles).
# ---------------------------------------------------------------------------


def _read_varint_zigzag(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not (b[0] & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_string(buf: io.BytesIO, size: int) -> str:
    """One length-prefixed UTF-8 string; ``size`` is the byte length of
    the whole record body, computed once per record by the caller."""
    n = _read_varint_zigzag(buf)
    # Validate the declared length BEFORE reading: a garbage varint can
    # decode to a negative length (read(-1) would silently slurp to EOF)
    # or one beyond index range (buf.read raises OverflowError — found
    # by the never-overreads hypothesis property). Both are the same
    # corrupt-record condition as a short read: truncation/garbage must
    # surface as EOFError/ValueError, never as an allocation attempt.
    if n < 0:
        raise ValueError(f"negative string length {n}")
    if n > size - buf.tell():
        raise EOFError("truncated string")
    raw = buf.read(n)
    if len(raw) != n:
        raise EOFError("truncated string")
    return raw.decode("utf-8")


def _read_double(buf: io.BytesIO) -> float:
    raw = buf.read(8)
    if len(raw) != 8:
        raise EOFError("truncated double")
    return struct.unpack("<d", raw)[0]


def _write_varint_zigzag(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _read_float(buf: io.BytesIO) -> float:
    raw = buf.read(4)
    if len(raw) != 4:
        raise EOFError("truncated float")
    return struct.unpack("<f", raw)[0]


@dataclass(frozen=True)
class AvroField:
    """One record field: primitive type, optionally wrapped in [null, T]."""

    name: str
    type: str  # 'int' | 'long' | 'float' | 'double' | 'string'
    nullable: bool  # True => union [null, T] with a zigzag branch index

    def spark_type(self) -> DataType:
        from pyspark.sql.types import FloatType, IntegerType

        return {
            "int": IntegerType(),
            "long": LongType(),
            "float": FloatType(),
            "double": DoubleType(),
            "string": StringType(),
        }[self.type]


#: Avro-spec schema-resolution promotions (Avro 1.x "Schema Resolution"):
#: a reader may resolve data written with a narrower numeric type.
PROMOTABLE: frozenset[tuple[str, str]] = frozenset(
    {
        ("int", "long"),
        ("int", "float"),
        ("int", "double"),
        ("long", "float"),
        ("long", "double"),
        ("float", "double"),
    }
)


def decode_avro_record(body: bytes, fields: tuple[AvroField, ...]) -> dict:
    """Decode one Avro binary record body against a flat field list."""
    buf = io.BytesIO(body)
    size = len(body)
    row: dict = {}
    for f in fields:
        if f.nullable:
            branch = _read_varint_zigzag(buf)
            if branch == 0:
                row[f.name] = None
                continue
        if f.type in ("long", "int"):
            row[f.name] = _read_varint_zigzag(buf)
        elif f.type == "double":
            row[f.name] = _read_double(buf)
        elif f.type == "float":
            row[f.name] = _read_float(buf)
        else:
            row[f.name] = _read_string(buf, size)
    if buf.read(1):
        raise ValueError("trailing bytes after record")
    return row


def _decode_record_into(
    b: bytes, fields: tuple[AvroField, ...], cols: dict[str, list], i: int
) -> None:
    """Hot-path decode of one record body straight into columnar lists.

    Same wire semantics as :func:`decode_avro_record` (the readable spec
    reference, kept for the public API and the hypothesis round-trip
    tests) but ~3x faster: an index pointer over the bytes object instead
    of per-field BytesIO calls, and no per-record dict. Truncation raises
    IndexError/EOFError, trailing bytes ValueError — the caller treats
    any exception as a corrupt record.
    """
    pos = 0
    for f in fields:
        if f.nullable:
            acc = 0
            shift = 0
            while True:
                byte = b[pos]
                pos += 1
                acc |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            if (acc >> 1) ^ -(acc & 1) == 0:
                cols[f.name][i] = None
                continue
        t = f.type
        if t == "double":
            cols[f.name][i] = struct.unpack_from("<d", b, pos)[0]
            pos += 8
            continue
        if t == "float":
            cols[f.name][i] = struct.unpack_from("<f", b, pos)[0]
            pos += 4
            continue
        acc = 0
        shift = 0
        while True:
            byte = b[pos]
            pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        n = (acc >> 1) ^ -(acc & 1)
        if t in ("long", "int"):
            cols[f.name][i] = n
        else:  # string: n is the utf-8 byte length
            raw = b[pos : pos + n]
            if len(raw) != n:
                raise EOFError("truncated string")
            cols[f.name][i] = raw.decode("utf-8")
            pos += n
    # Trailing bytes are tolerated, matching JVM from_avro: a writer that
    # appended new fields still decodes through the reader's older schema
    # (the strict spec reference decode_avro_record keeps the check for
    # the byte-exact round-trip tests).


def encode_avro_record(row: dict, fields: tuple[AvroField, ...]) -> bytes:
    """Inverse of :func:`decode_avro_record` (test-fixture synthesis).

    Byte-exact round-trip: union branch indexes and varint encodings are
    deterministic, so ``encode(decode(body)) == body`` for every golden
    record (asserted in tests). Used to build multi-topic / corrupt
    fixtures without shipping more binary blobs.
    """
    out = bytearray()
    for f in fields:
        v = row.get(f.name)
        if f.nullable:
            if v is None:
                _write_varint_zigzag(out, 0)
                continue
            _write_varint_zigzag(out, 1)
        elif v is None:
            raise ValueError(f"field {f.name} is not nullable")
        if f.type in ("long", "int"):
            _write_varint_zigzag(out, int(v))
        elif f.type == "double":
            out += struct.pack("<d", float(v))
        elif f.type == "float":
            out += struct.pack("<f", float(v))
        else:
            raw = str(v).encode("utf-8")
            _write_varint_zigzag(out, len(raw))
            out += raw
    return bytes(out)


def confluent_wrap(schema_id: int, body: bytes) -> bytes:
    """Wire-format envelope: magic 0x00 + int32 BE schema id + Avro body."""
    return b"\x00" + schema_id.to_bytes(4, "big") + body


# ---------------------------------------------------------------------------
# Schema registry (offline): topic -> (schema id, field list), memoized.
# ---------------------------------------------------------------------------

#: Schema of the `lndcdcadsrtcrd_ratecard-value` subject, id 391 — recovered
#: from the reference's golden fixtures (FIXTURES.md §2): 14 nullable-union
#: business fields followed by 5 non-null CDC metadata strings. Verified
#: byte-exact against every record of sample_kafka_event.json.
#: The 5 non-null CDC metadata strings every landed row carries (tail of
#: the golden ratecard schema; shared by every CDC subject in the catalog).
CDC_METADATA_FIELDS: tuple[AvroField, ...] = tuple(
    AvroField(n, "string", False)
    for n in (
        "SRC_KEY_VAL",
        "SRC_CDC_OPER_NM",
        "SRC_COMMIT_DT_UTC",
        "TRG_CRT_DT_PART_UTC",
        "SRC_SCHEMA_NM",
    )
)

RATECARD_FIELDS: tuple[AvroField, ...] = tuple(
    [AvroField(n, t, True) for n, t in [
        ("RATE_CARD_ID", "long"),
        ("LAST_MODIFIED_BY", "string"),
        ("LAST_MODIFIED_DT", "string"),
        ("RATE_CARD_TYPE_ID", "long"),
        ("BASE_INVENTORY_TYPE_ID", "long"),
        ("DIVISION_ID", "long"),
        ("RATE_CARD_NM", "string"),
        ("RATE_CARD_DESC", "string"),
        ("RATE_CARD_COMMENT_TXT", "string"),
        ("BASE_UNIT_LENGTH", "long"),
        ("CRNCY_ID", "long"),
        ("PRICING_RATING_ROLLOVER_IND", "long"),
        ("EPSD_IMP_EST_FILE_TYP_ID", "long"),
        ("CNCRNCY_VRSN", "long"),
    ]]
    + list(CDC_METADATA_FIELDS)
)

#: The 11 CDC topics the reference registers as Lambda event sources
#: (configure_lambda_triggeres.sh:13-23): the flight hierarchy + calendar
#: entities of two source schemas plus flightdates.
CDC_TOPICS: tuple[str, ...] = (
    "lndcdcadsprpsl_flightyear",
    "lndcdcadsprpsl_flightquarter",
    "lndcdcadsprpsl_flightmonth",
    "lndcdcadsprpsl_flightweek",
    "lndcdcadsprpsl_flightday",
    "lndcdcadsrtcrd_flightquarter",
    "lndcdcadsprpsl_flightrange",
    "lndcdcadsrtcrd_flightrange",
    "lndcdcadsrtcrd_flight",
    "lndcdcadsprpsl_flight",
    "lndcdcncstcs_flightdates",
)


def flat_cdc_fields(topic: str) -> tuple[AvroField, ...]:
    """Synthesized flat CDC value schema for one of the 11 catalog topics.

    Only the ratecard subject ships golden data to recover a schema from;
    the other subjects are modeled with the same shape every flat CDC row
    in this pipeline follows — nullable business fields (entity id/name +
    validity range + bookkeeping) then the 5 non-null CDC metadata strings
    (FIXTURES.md; lambda_function.py:215-226 assumes exactly such flat
    homogeneous rows).
    """
    entity = topic.split("_", 1)[1].upper()
    return (
        AvroField(f"{entity}_ID", "long", True),
        AvroField(f"{entity}_NM", "string", True),
        AvroField("START_DT", "string", True),
        AvroField("END_DT", "string", True),
        AvroField("LAST_MODIFIED_BY", "string", True),
        AvroField("LAST_MODIFIED_DT", "string", True),
        AvroField("CNCRNCY_VRSN", "long", True),
    ) + CDC_METADATA_FIELDS


#: Full default catalog: golden ratecard subject (id 391, recovered schema)
#: + the 11 trigger-script topics with synthesized ids/schemas.
DEFAULT_CATALOG: dict[str, tuple[int, tuple[AvroField, ...]]] = {
    "lndcdcadsrtcrd_ratecard": (391, RATECARD_FIELDS),
    **{t: (400 + i, flat_cdc_fields(t)) for i, t in enumerate(CDC_TOPICS)},
}


class SchemaProvider:
    """Memoized topic -> Avro schema resolution (the v2 cache tactic).

    Offline stand-in for a Confluent Schema Registry client: subjects are
    named ``{topic}-value`` and resolved from a static catalog (default:
    the reference's full 12-subject catalog — golden ratecard + the 11
    trigger-script CDC topics). The memo dict mirrors the v2 handler's
    warm-container global; in this engine the provider runs once on the
    driver and the resolved schema ships to executors inside the
    serialized plan.
    """

    def __init__(
        self,
        catalog: dict[str, tuple[int, tuple[AvroField, ...]]] | None = None,
        history: dict[str, dict[int, tuple[AvroField, ...]]] | None = None,
        compat_mode: str | None = "RESOLVABLE",
    ):
        self._catalog = catalog or DEFAULT_CATALOG
        self._history = history or {}
        self._memo: dict[str, tuple[int, tuple[AvroField, ...]]] = {}
        self.lookups = 0  # instrumentation: proves memoization in tests
        #: Compatibility gate run when a topic's version history loads
        #: (memoized per subject): ``"RESOLVABLE"`` (default) enforces
        #: the engine's own decode contract — every historical writer
        #: version must decode under the latest reader (additive names +
        #: Avro type promotions); ``"BACKWARD"/"FORWARD"/"FULL"`` enforce
        #: the strict Confluent registry level over adjacent version
        #: pairs; ``None`` disables (the decode stage keeps its own
        #: plan-build defense). This is the upgrade over the reference's
        #: silent first-record schema assumption
        #: (lambda_function.py:215-226): a registry update that breaks
        #: the level FAILS AT PROVIDER LOAD, before any record decodes.
        self.compat_mode = compat_mode
        self._compat_ok: set[str] = set()

    def schema_for(self, topic: str) -> tuple[int, tuple[AvroField, ...]]:
        subject = f"{topic}-value"
        if subject not in self._memo:
            self.lookups += 1
            self._memo[subject] = self._catalog[topic]
        return self._memo[subject]

    def versions_for(
        self, topic: str, enforce: bool = True
    ) -> dict[int, tuple[AvroField, ...]]:
        """All known writer versions: {schema_id: fields}, latest included.

        A Confluent subject accumulates versions; a replayed batch mixes
        records written under any of them (each record carries its own
        schema id). ``history`` registers the older versions. Loading a
        topic's history runs the ``compat_mode`` gate (once per subject):
        an incompatible writer version raises HERE — at provider load —
        never at decode. ``enforce=False`` is the audit/reporting path
        (:func:`check_topic_compat` uses it so it can REPORT violations
        on a provider whose gate would reject them).
        """
        latest_id, latest_fields = self.schema_for(topic)
        hist = {**self._history.get(topic, {}), latest_id: latest_fields}
        if enforce and self.compat_mode and topic not in self._compat_ok:
            self._enforce_compat(topic, hist, latest_id, latest_fields)
            self._compat_ok.add(topic)
        return hist

    def _enforce_compat(
        self,
        topic: str,
        hist: dict[int, tuple[AvroField, ...]],
        latest_id: int,
        latest_fields: tuple[AvroField, ...],
    ) -> None:
        mode = self.compat_mode.upper()
        if mode == "RESOLVABLE":
            latest_names = {f.name for f in latest_fields}
            latest_types = {f.name: f.type for f in latest_fields}
            problems = []
            for vid in sorted(hist):
                vf = hist[vid]
                extra = {f.name for f in vf} - latest_names
                if extra:
                    problems.append(
                        f"version {vid} has fields {sorted(extra)} missing "
                        f"from latest {latest_id} (non-additive)"
                    )
                for f in vf:
                    lt = latest_types.get(f.name)
                    if lt is not None and f.type != lt and (f.type, lt) not in PROMOTABLE:
                        problems.append(
                            f"version {vid} writes {f.name} as {f.type} but "
                            f"latest {latest_id} reads it as {lt} "
                            "(non-resolvable: not an Avro promotion)"
                        )
        elif mode in ("BACKWARD", "FORWARD", "FULL"):
            audit = check_topic_compat(self, topic, mode)
            problems = [
                f"{old}->{new}: {v}" for (old, new), vs in audit.items() for v in vs
            ]
        else:
            raise ValueError(
                f"unknown compat_mode {self.compat_mode!r} "
                "(RESOLVABLE/BACKWARD/FORWARD/FULL/None)"
            )
        if problems:
            raise ValueError(
                f"schema history for {topic} fails the {mode} compatibility "
                "gate at provider load: " + "; ".join(problems)
            )

    def topics(self) -> tuple[str, ...]:
        return tuple(self._catalog)


# ---------------------------------------------------------------------------
# Spark plan stages.
# ---------------------------------------------------------------------------

#: Pass-through Kafka metadata columns kept alongside decoded fields.
_META_COLS = ("topic", "partition", "offset", "kafka_ts", "key_decoded")


def _as_col(value: Column | str) -> Column:
    return F.col(value) if isinstance(value, str) else value


def confluent_schema_id(value: Column | str = "value") -> Column:
    """Big-endian int32 at bytes 2-5 of the Confluent envelope (JVM-side)."""
    v = _as_col(value)
    return F.conv(F.hex(F.substring(v, 2, 4)), 16, 10).cast("int")


def confluent_body(value: Column | str = "value") -> Column:
    """Avro body after the 5-byte Confluent header (JVM-side substring)."""
    v = _as_col(value)
    return F.substring(v, F.lit(6), F.length(v) - 5)


def key_cascade(key: Column | str = "key") -> Column:
    """The reference's key-decode cascade as one JVM expression.

    Semantics of lambda_function.py:146-162 without per-record Python:
    printable utf-8 wins (integer strings stay strings), a 4-byte
    non-printable key decodes as a big-endian SIGNED int32 (the
    IntegerDeserializer branch is signed: a key with the high bit set is
    e.g. '-1', not '4294967295'), anything else falls back to its hex
    form (the engine's normalization of the reference's raw-ascii
    fallback — everything is a string column, never a mixed str|int type).
    """
    k = _as_col(key)
    s = k.cast("string")
    printable = s.rlike("^[\\x20-\\x7E]*$")
    uint4 = F.conv(F.hex(k), 16, 10).cast("bigint")
    int4 = F.when(uint4 >= F.lit(1 << 31), uint4 - F.lit(1 << 32)).otherwise(uint4)
    return (
        F.when(k.isNull(), F.lit(None).cast("string"))
        .when(printable, s)
        .when(F.length(k) == 4, int4.cast("string"))
        .otherwise(F.hex(k))
    )


def decoded_schema(fields: tuple[AvroField, ...]) -> StructType:
    return StructType(
        [
            StructField("topic", StringType()),
            StructField("partition", LongType()),
            StructField("offset", LongType()),
            StructField("kafka_ts", LongType()),
            StructField("key_decoded", StringType()),
        ]
        + [StructField(f.name, f.spark_type()) for f in fields]
        + [StructField("_corrupt_record", BinaryType())]
    )


def avro_json_schema(fields: tuple[AvroField, ...], name: str = "Record") -> str:
    """Avro JSON schema for a flat field list (feeds JVM ``from_avro``).

    Nullable fields are the reference schema's ``["null", T]`` unions
    (union-index prefix bytes in the wire data) with a null default.
    """
    import json

    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f.name, "type": ["null", f.type], "default": None}
                if f.nullable
                else {"name": f.name, "type": f.type}
                for f in fields
            ],
        }
    )


#: spark-avro availability per Spark application id: the classpath is
#: fixed for an application's life, and a failed probe marshals a
#: ``ClassNotFoundException`` over py4j (median 32 ms on a 4-vCPU host),
#: which every stream start would otherwise pay.
_JVM_AVRO_BY_APP: dict[str, bool] = {}


def jvm_from_avro_available(spark) -> bool:
    """True when the spark-avro module's JVM classes are on the classpath.

    ``pyspark.sql.avro.functions.from_avro`` always imports (it is a thin
    py4j wrapper); what may be missing is the external spark-avro jar, so
    the probe asks the Spark-side classloader for the expression class
    itself. Probed once per Spark application (a new application, which
    may carry other jars, probes again).
    """
    app = spark.sparkContext.applicationId
    found = _JVM_AVRO_BY_APP.get(app)
    if found is None:
        from ..operators.metafile import _jclass

        try:
            _jclass(spark, "org.apache.spark.util.Utils").classForName(
                "org.apache.spark.sql.avro.AvroDataToCatalyst", True, True
            )
            found = True
        except Exception:
            found = False
        _JVM_AVRO_BY_APP[app] = found
    return found


def decode_stage(
    kafka_df: DataFrame,
    provider: SchemaProvider,
    topic: str,
    use_jvm: bool | None = None,
) -> DataFrame:
    """Kafka-shaped DataFrame -> decoded rows (PERMISSIVE).

    Input needs ``topic/partition/offset/timestamp/key/value`` (the Kafka
    source schema). The envelope is split JVM-side. The Avro body decode
    dispatches on jar availability (``use_jvm=None`` probes once per Spark
    application, :func:`jvm_from_avro_available`; an explicit ``use_jvm``
    skips the probe):

    * **JVM fast path** — ``pyspark.sql.avro.functions.from_avro`` over
      the stripped body: whole plan stays in the JVM, no Python boundary.
    * **Arrow fallback** — ``mapInPandas`` over the spec-derived Python
      reader (this container lacks the spark-avro jar, so this is the
      active path here; the throughput ceiling the JVM path removes).

    Both paths produce the identical ``decoded_schema`` contract: schema
    id mismatches and decode failures land in ``_corrupt_record`` instead
    of raising.

    **One action per decoded frame.** On the Arrow path, do not probe the
    returned frame with a short-circuiting action (``isEmpty``,
    ``first``, ``take``, ``head``, ``limit(n).collect``) and then run
    another action on it. The probe re-runs the decode, and it stops
    reading its Python worker's output part-way, so Spark discards that
    worker instead of returning it to the pool and the next job forks a
    fresh one: on a 500-record land (2 worker threads, 4-vCPU host) an
    ``isEmpty`` before the write added a 281 ms job and slowed the write
    job from 408 to 856 ms. Let the writer be the emptiness test, as
    ``streaming.pipeline.run_ingest_stream`` does.

    **Schema evolution**: each record decodes under ITS OWN writer schema
    (the id in its envelope), looked up in ``provider.versions_for`` —
    one replayed batch may mix versions (the reference's first-record
    column inference, lambda_function.py:215-226, would KeyError on such
    a batch). The output schema is always the LATEST version; fields a
    record's writer version predates surface as NULL, and a field the
    latest version WIDENED follows Avro's standard schema-resolution
    promotions (int→long, int/long→float/double, float→double — the
    reference's CDC world ships exactly this: NUMBER columns arriving as
    int then long): the value decodes under the writer's narrow type and
    is resolved to the reader's wide one, on both the JVM and Arrow
    paths. Only additive-or-promotable evolution is supported — a
    historical version carrying a field the latest lacks, or a
    non-promotable type change (e.g. long→int, string→long), fails at
    plan build, not silently at runtime.
    """
    if use_jvm is None:
        use_jvm = jvm_from_avro_available(kafka_df.sparkSession)
    expected_id, fields = provider.schema_for(topic)
    versions = provider.versions_for(topic)
    latest_names = {f.name for f in fields}
    latest_types = {f.name: f.type for f in fields}
    for vid, vf in versions.items():
        extra = {f.name for f in vf} - latest_names
        if extra:
            raise ValueError(
                f"non-additive schema history for {topic}: version {vid} has "
                f"fields {sorted(extra)} missing from latest {expected_id}"
            )
        for f in vf:
            lt = latest_types[f.name]
            if f.type != lt and (f.type, lt) not in PROMOTABLE:
                raise ValueError(
                    f"non-resolvable schema history for {topic}: version "
                    f"{vid} writes {f.name} as {f.type} but latest "
                    f"{expected_id} reads it as {lt} — Avro resolution only "
                    f"promotes {sorted(PROMOTABLE)}"
                )
    out_schema = decoded_schema(fields)

    prepared = kafka_df.filter(F.col("topic") == topic).select(
        "topic",
        F.col("partition").cast("long").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        F.col("timestamp").cast("long").alias("kafka_ts"),
        key_cascade("key").alias("key_decoded"),
        # no leading underscores: pandas itertuples would positional-rename them
        confluent_schema_id("value").alias("sid"),
        confluent_body("value").alias("body"),
        F.col("value").alias("raw"),
    )

    if use_jvm:
        from pyspark.sql.avro.functions import from_avro

        # One from_avro per known writer version, each gated to only its
        # version's bytes (Avro bodies are untagged — ungated, an old body
        # could "successfully" misparse under the new schema). For the
        # common single-version topic this degenerates to the plain plan.
        decoded = prepared
        for vid, vf in versions.items():
            rec = from_avro(
                F.when(F.col("sid") == F.lit(vid), F.col("body")),
                avro_json_schema(vf),
                {"mode": "PERMISSIVE"},
            )
            decoded = decoded.withColumn(f"rec_{vid}", rec)
        # PERMISSIVE from_avro nulls the whole struct on decode failure; a
        # schema id outside the catalog is corrupt even if the bytes happen
        # to parse. ~ok over a NULL sid (tombstone value) is NULL, so
        # corruption is tested null-safely and a tombstone's corrupt marker
        # coalesces to empty bytes — never an invisible NULL.
        ok = F.lit(False)
        for vid in versions:
            ok = ok | (
                (F.col("sid") == F.lit(vid)) & F.col(f"rec_{vid}").isNotNull()
            )

        latest_spark_type = {f.name: f.spark_type() for f in fields}

        def field_value(name: str) -> Column:
            # Cast each writer-version carrier to the READER (latest) type
            # — Avro schema resolution's numeric promotion, explicit so an
            # int-writer column coalesces into a long/double reader column
            # identically on this path and the Arrow one.
            carriers = [
                F.col(f"rec_{vid}.{name}").cast(latest_spark_type[name])
                for vid, vf in versions.items()
                if any(f.name == name for f in vf)
            ]
            return carriers[0] if len(carriers) == 1 else F.coalesce(*carriers)

        corrupt = F.when(
            ~F.coalesce(ok, F.lit(False)),
            F.coalesce(F.col("raw"), F.lit(b"")),
        )
        return decoded.select(
            "topic",
            "partition",
            "offset",
            "kafka_ts",
            "key_decoded",
            *[
                F.when(F.coalesce(ok, F.lit(False)), field_value(f.name)).alias(f.name)
                for f in fields
            ],
            corrupt.alias("_corrupt_record"),
        )

    field_names = [f.name for f in fields]
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Column-oriented decode: the parser writes each field straight
        # into preallocated column lists (one pd.DataFrame build per Arrow
        # batch, zero per-record dicts) — the same columnar-accumulation
        # tactic the reference applies (lambda_function.py:215-226), here
        # per batch instead of per invocation.
        for pdf in batches:
            n = len(pdf)
            fcols: dict[str, list] = {name: [None] * n for name in field_names}
            corrupt: list = [None] * n
            sids = pdf["sid"].to_numpy()
            bodies = pdf["body"].to_numpy()
            raws = pdf["raw"].to_numpy()
            for i in range(n):
                try:
                    writer_fields = versions.get(sids[i])
                    if writer_fields is None:
                        raise ValueError(f"unknown schema id {sids[i]}")
                    _decode_record_into(bytes(bodies[i]), writer_fields, fcols, i)
                except Exception:
                    for name in field_names:  # drop any partially decoded values
                        fcols[name][i] = None
                    # tombstone (null value): empty-bytes marker, so corrupt
                    # counters still see it instead of crashing on bytes(None)
                    corrupt[i] = bytes(raws[i]) if raws[i] is not None else b""
            yield pd.DataFrame(
                {
                    "topic": pdf["topic"].to_numpy(),
                    "partition": pdf["partition"].to_numpy(),
                    "offset": pdf["offset"].to_numpy(),
                    "kafka_ts": pdf["kafka_ts"].to_numpy(),
                    "key_decoded": pdf["key_decoded"].to_numpy(),
                    **fcols,
                    "_corrupt_record": corrupt,
                },
                columns=out_cols,
            )

    return prepared.mapInPandas(run, schema=out_schema)


def route_by_topic(
    kafka_df: DataFrame, provider: SchemaProvider
) -> dict[str, DataFrame]:
    """Fan one multi-topic stream into per-topic decoded DataFrames.

    The reference subscribes 11 CDC topics into one pipeline
    (configure_lambda_triggeres.sh:13-27); with per-topic Avro schemas the
    decoded frames have different columns, so routing = one filtered
    decode per topic off the SAME source frame. Each decode stage prunes
    to its topic's rows first (the filter sits on the shared scan), and
    each output lands in its own partitioned dataset.

    Materialization boundary: every per-topic decode consumes the same
    source, so without one the source is re-scanned once per topic (12×
    for the reference's full catalog). Batch frames are localCheckpointed
    here — the fan-out then reads one materialized scan, and the blocks
    are released by the ContextCleaner when the returned frames are
    garbage-collected, so callers own nothing (``persist()`` would leak
    by default: the handle outlives any caller that doesn't know to
    unpersist — the same reasoning as the cleaning boundary in
    ``operators/curate.py``, which manages its own unpersist). At
    production scale the boundary is a parquet/foreachBatch checkpoint
    between ingest and routing, which retires the memory concern.
    Streaming frames can't be materialized this way — there the boundary
    is the foreachBatch micro-batch df, which IS a batch frame and takes
    the same path.
    """
    if not kafka_df.isStreaming:
        kafka_df = kafka_df.localCheckpoint()
    return {t: decode_stage(kafka_df, provider, t) for t in provider.topics()}


# ---------------------------------------------------------------------------
# Schema-compatibility checking — the registry-side gate in front of the
# evolution the decode stage already implements. The reference delegates
# this to Confluent Schema Registry's compatibility levels (its Lambda
# just fetches whatever schema the registry serves — lambda_function.py:169);
# an engine that owns its schema history must enforce the same contract
# itself before accepting a new writer version.
# ---------------------------------------------------------------------------


def schema_compat_violations(
    reader: tuple[AvroField, ...], writer: tuple[AvroField, ...]
) -> list[str]:
    """Why can't ``reader`` decode data written with ``writer``? Empty
    list = it can. Avro 1.x schema-resolution rules on the flat-record
    model the codec implements:

    * a field in both: types equal, or (writer, reader) ∈ PROMOTABLE
      (the reader may be wider, never narrower);
    * a reader field the writer lacks: needs a default — here the union
      ``[null, T]`` IS the default mechanism (decode yields null), so a
      non-nullable added field is the violation;
    * a writer field the reader lacks: skipped on read — never a
      violation (Avro resolution discards it);
    * nullability: a nullable writer field read as non-nullable would
      crash on the null branch — violation; the reverse widening is fine.
    """
    r = {f.name: f for f in reader}
    w = {f.name: f for f in writer}
    out = []
    for name, rf in r.items():
        wf = w.get(name)
        if wf is None:
            if not rf.nullable:
                out.append(
                    f"field '{name}': added without a default (non-nullable) "
                    "— old data has no value for it"
                )
            continue
        if rf.type != wf.type and (wf.type, rf.type) not in PROMOTABLE:
            out.append(
                f"field '{name}': cannot resolve writer type '{wf.type}' "
                f"as reader type '{rf.type}' (not an Avro promotion)"
            )
        if wf.nullable and not rf.nullable:
            out.append(
                f"field '{name}': writer allows null but reader type is "
                "non-nullable"
            )
    return out


def check_schema_compat(
    old: tuple[AvroField, ...],
    new: tuple[AvroField, ...],
    mode: str = "BACKWARD",
) -> list[str]:
    """Compatibility of a NEW schema version against the previous one,
    under the Confluent-registry level names: BACKWARD = new readers
    consume data written with the old schema; FORWARD = old readers
    consume data written with the new; FULL = both. Returns the list of
    violations (empty = compatible at that level)."""
    mode = mode.upper()
    if mode == "BACKWARD":
        return [f"BACKWARD: {v}" for v in schema_compat_violations(new, old)]
    if mode == "FORWARD":
        return [f"FORWARD: {v}" for v in schema_compat_violations(old, new)]
    if mode == "FULL":
        return check_schema_compat(old, new, "BACKWARD") + check_schema_compat(
            old, new, "FORWARD"
        )
    raise ValueError(f"unknown compatibility mode {mode!r} (BACKWARD/FORWARD/FULL)")


def check_topic_compat(
    provider: SchemaProvider, topic: str, mode: str = "BACKWARD"
) -> dict[tuple[int, int], list[str]]:
    """Audit a topic's whole version history pairwise-adjacent (the
    registry's non-transitive levels check N against N-1 only — the
    _TRANSITIVE variants would check N against all, which is this same
    loop over all pairs). Returns {(old_version, new_version):
    violations} for adjacent pairs, empty lists included — so callers
    can both gate (any non-empty) and report. Bypasses the provider's
    own load gate (``enforce=False``) — this IS the reporting tool."""
    hist = provider.versions_for(topic, enforce=False)
    versions = sorted(hist)
    out = {}
    for a, b in zip(versions, versions[1:]):
        out[(a, b)] = check_schema_compat(hist[a], hist[b], mode)
    return out
