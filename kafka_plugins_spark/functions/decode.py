"""Envelope projection + payload decode — the reference's RecordFormat layer.

The reference splits its declared schema into envelope fields populated
from Kafka metadata and message fields decoded by a pluggable
``RecordFormat`` (``KafkaStreamingSourceUtil.java:247-343``). Supported
formats there: ``avro, binary, clf, csv, grok, syslog, text, tsv``
(``widgets/Kafka-streamingsource.json``). Here every format is a pure
column expression (whole-stage codegen'd): ``from_csv``/``from_json`` for
delimited/JSON, regexp extraction for CLF/syslog/grok. No per-row Python
anywhere on the decode path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Kafka source fixed schema: key, value (binary), topic, partition, offset,
# timestamp, timestampType — the envelope the reference copies per record.
ENVELOPE_RENAMES = {
    "timeField": "timestamp",
    "keyField": "key",
    "partitionField": "partition",
    "offsetField": "offset",
}


def project_envelope(
    df: DataFrame,
    time_field: str | None = None,
    key_field: str | None = None,
    partition_field: str | None = None,
    offset_field: str | None = None,
) -> DataFrame:
    """Rename Kafka metadata columns to the user's declared envelope names
    (the reference's timeField/keyField/partitionField/offsetField,
    ``KafkaConfig.java:112-134``). Unrequested metadata is dropped —
    column pruning then keeps it out of the scan entirely."""
    keep: list[Column] = []
    for want, src in (
        (time_field, "timestamp"),
        (key_field, "key"),
        (partition_field, "partition"),
        (offset_field, "offset"),
    ):
        if want is not None:
            keep.append(F.col(src).alias(want))
    keep.append(F.col("value"))
    return df.select(*keep)


# --- regex formats ----------------------------------------------------------

# Apache Common Log Format: host ident authuser [date] "request" status bytes
CLF_REGEX = r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "([^"]*)" (\d{3}) (\S+)'
CLF_FIELDS = [
    ("remote_host", T.StringType(), 1),
    ("remote_login", T.StringType(), 2),
    ("auth_user", T.StringType(), 3),
    ("request_time", T.StringType(), 4),
    ("request", T.StringType(), 5),
    ("status", T.IntegerType(), 6),
    ("content_length", T.LongType(), 7),
]

# RFC3164 syslog: <pri>MMM dd HH:MM:SS host tag[pid]: message
SYSLOG_REGEX = r"^<(\d+)>(\w{3}\s+\d{1,2} \d{2}:\d{2}:\d{2}) (\S+) ([^:\[\s]+)(?:\[(\d+)\])?: ?(.*)$"
SYSLOG_FIELDS = [
    ("priority", T.IntegerType(), 1),
    ("log_time", T.StringType(), 2),
    ("host", T.StringType(), 3),
    ("tag", T.StringType(), 4),
    ("pid", T.IntegerType(), 5),
    ("message", T.StringType(), 6),
]

# Minimal grok pattern library (the common subset of the canonical set)
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "POSINT": r"\d+",
    "USER": r"[a-zA-Z0-9._-]+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "HOSTNAME": r"[a-zA-Z0-9.\-]+",
    "IPORHOST": r"[a-zA-Z0-9.\-]+",
    "QS": r'"[^"]*"',
    "QUOTEDSTRING": r'"[^"]*"',
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL|SEVERE",
}

_GROK_TOKEN = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def grok_to_regex(expr: str) -> tuple[str, list[str]]:
    """Compile a grok expression to (regex, captured field names).

    Named tokens ``%{PATTERN:field}`` become capture groups; unnamed
    tokens are matched but not captured. Literal text is escaped.
    """
    out: list[str] = []
    names: list[str] = []
    pos = 0
    for m in _GROK_TOKEN.finditer(expr):
        out.append(re.escape(expr[pos : m.start()]))
        pat_name, field = m.group(1), m.group(2)
        if pat_name not in GROK_PATTERNS:
            raise ValueError(f"unknown grok pattern %{{{pat_name}}}")
        pat = GROK_PATTERNS[pat_name]
        if field:
            out.append(f"({pat})")
            names.append(field)
        else:
            out.append(f"(?:{pat})")
        pos = m.end()
    out.append(re.escape(expr[pos:]))
    return "".join(out), names


def _extract_fields(
    col: Column, regex: str, fields: list[tuple[str, T.DataType, int]]
) -> list[Column]:
    cols = []
    for name, dtype, group in fields:
        c = F.regexp_extract(col, regex, group)
        c = F.when(c == "", None).otherwise(c).cast(dtype)
        cols.append(c.alias(name))
    return cols


def decode_value(
    df: DataFrame,
    fmt: str,
    schema: T.StructType | str | None = None,
    options: dict[str, str] | None = None,
    grok_expr: str | None = None,
    message_field: str = "message",
) -> DataFrame:
    """Decode the binary ``value`` column into message fields.

    With no format the reference requires exactly one ``bytes`` message
    field (``KafkaConfig.java:509-531``) — that's ``fmt="binary"`` here.
    Malformed records decode to nulls (PERMISSIVE), never fail the task;
    route them to a dead-letter table with
    :func:`kafka_plugins_spark.sink.split_dead_letters`.
    """
    fmt = fmt.lower()
    others = [c for c in df.columns if c != "value"]
    text = F.col("value").cast("string")

    if fmt == "binary":
        return df.select(*others, F.col("value").alias(message_field))
    if fmt == "text":
        return df.select(*others, text.alias(message_field))
    if fmt in ("csv", "tsv"):
        if schema is None:
            raise ValueError(f"{fmt} decode requires a schema")
        ddl = (
            schema
            if isinstance(schema, str)
            else ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        )
        opts = {"sep": "\t" if fmt == "tsv" else ","}
        opts.update(options or {})
        parsed = F.from_csv(text, ddl, opts)
        return df.select(*others, parsed.alias("_m")).select(*others, "_m.*")
    if fmt == "json":
        if schema is None:
            raise ValueError("json decode requires a schema")
        parsed = F.from_json(text, schema, options or {"mode": "PERMISSIVE"})
        return df.select(*others, parsed.alias("_m")).select(*others, "_m.*")
    if fmt == "avro":
        if not isinstance(schema, str):
            raise ValueError("avro decode requires a JSON avro schema string")
        if _jvm_avro_usable(df):
            from pyspark.sql.avro.functions import from_avro

            parsed = from_avro(F.col("value"), schema, options or {"mode": "PERMISSIVE"})
            return df.select(*others, parsed.alias("_m")).select(*others, "_m.*")
        return _decode_avro_python(df, schema, others)
    if fmt == "clf":
        return df.select(*others, *_extract_fields(text, CLF_REGEX, CLF_FIELDS)).withColumn(
            "content_length",
            F.when(F.col("content_length").isNull(), None).otherwise(F.col("content_length")),
        )
    if fmt == "syslog":
        return df.select(*others, *_extract_fields(text, SYSLOG_REGEX, SYSLOG_FIELDS))
    if fmt == "grok":
        if not grok_expr:
            raise ValueError("grok decode requires grok_expr")
        regex, names = grok_to_regex(grok_expr)
        fields = [(n, T.StringType(), i + 1) for i, n in enumerate(names)]
        return df.select(*others, *_extract_fields(text, regex, fields))
    raise ValueError(f"unsupported format {fmt!r} (avro, binary, clf, csv, grok, json, syslog, text, tsv)")


def _jvm_avro_usable(df: DataFrame) -> bool:
    """True when the spark-avro package is on the session's classpath —
    the preferred (codegen'd, JVM-side) decode path."""
    try:
        jvm = df.sparkSession._jvm
        jvm.java.lang.Class.forName("org.apache.spark.sql.avro.AvroDataToCatalyst")
        return True
    except Exception:
        return False


def _decode_avro_python(df: DataFrame, schema_json: str, others: list[str]) -> DataFrame:
    """Jar-free avro decode: Arrow-batched ``mapInPandas`` over the pure
    codec in :mod:`kafka_plugins_spark.functions.avro_codec`. Malformed
    records decode to all-null message fields (PERMISSIVE), matching the
    other formats' dead-letter contract. ~10-100× slower than the JVM
    path — the offline/sandbox fallback, not the cluster default."""
    import pandas as pd

    from kafka_plugins_spark.functions import avro_codec as ac

    avro_schema = ac.parse_schema(schema_json)
    msg_schema = ac.spark_schema_for(avro_schema)
    out_fields = [f for f in df.schema.fields if f.name != "value"] + list(msg_schema.fields)
    out_schema = T.StructType(out_fields)
    msg_names = [f.name for f in msg_schema.fields]

    def batches(it):
        for pdf in it:
            decoded = [ac.decode_record(avro_schema, v) for v in pdf["value"]]
            cols = {n: [None if d is None else d.get(n) for d in decoded] for n in msg_names}
            out = pdf[others].copy() if others else pd.DataFrame(index=pdf.index)
            for n in msg_names:
                out[n] = cols[n]
            yield out

    return df.mapInPandas(batches, out_schema)


def encode_avro(df: DataFrame, schema_json: str, payload_cols: list[str]) -> DataFrame:
    """Serialize ``payload_cols`` into an avro-binary ``value`` column
    (K1 for avro topics; also the fixture generator for round-trip
    tests). Pure-Python codec via ``mapInPandas`` — same batching shape
    as the decode fallback."""
    import pandas as pd

    from kafka_plugins_spark.functions import avro_codec as ac

    avro_schema = ac.parse_schema(schema_json)
    others = [c for c in df.columns if c not in payload_cols]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name not in payload_cols]
        + [T.StructField("value", T.BinaryType(), True)]
    )

    def batches(it):
        for pdf in it:
            recs = pdf[payload_cols].to_dict("records")
            out = pdf[others].copy()
            out["value"] = [ac.encode_record(avro_schema, _pyify(r)) for r in recs]
            yield out

    def _pyify(rec: dict) -> dict:
        out = {}
        for k, v in rec.items():
            # pandas surfaces SQL NULL as NaN (numeric), NaT (timestamp),
            # or None — all must become avro null, not a crash (a null in
            # a nullable long column otherwise arrives as float NaN and
            # matches no union branch) and never NaN-encoded doubles
            if v is None or (not hasattr(v, "__len__") and pd.isna(v)):
                out[k] = None
                continue
            if hasattr(v, "to_pydatetime"):  # pd.Timestamp
                v = v.to_pydatetime()
            elif hasattr(v, "tolist"):  # np.ndarray (array columns)
                v = v.tolist()
            elif hasattr(v, "item"):  # numpy scalar
                v = v.item()
            # a nullable int column materializes as float64: 5 → 5.0;
            # restore the integral value so the union's long branch matches
            if isinstance(v, float) and v.is_integer() and _int_field(k):
                v = int(v)
            out[k] = v
        return out

    def _is_integral_type(t) -> bool:
        """Structural check: does (a branch of) this avro type resolve to
        primitive int/long WITHOUT a time logicalType? A substring test
        over the type JSON misfires on any named type merely containing
        "int" (e.g. a fixed called "fingerprint") and on timestamp
        logicals, which arrive as datetimes, not floats."""
        if isinstance(t, list):  # union — any integral branch
            return any(_is_integral_type(b) for b in t)
        if isinstance(t, dict):
            if t.get("logicalType"):
                return False
            return t.get("type") in ("int", "long")
        return t in ("int", "long")

    int_fields = {
        f["name"] for f in (avro_schema.get("fields") or []) if _is_integral_type(f["type"])
    }

    def _int_field(name: str) -> bool:
        return name in int_fields

    return df.mapInPandas(batches, out_schema)


def decode_transcript_events(df: DataFrame) -> DataFrame:
    """Decode transcript CDC JSON payloads from a Kafka-shaped frame into
    CHANGE_EVENT columns — envelope from metadata, payload+op from value."""
    from kafka_plugins_spark.schema import TRANSCRIPT

    payload_schema = T.StructType(
        list(TRANSCRIPT.fields) + [T.StructField("op", T.StringType(), False)]
    )
    parsed = F.from_json(F.col("value").cast("string"), payload_schema)
    return df.select(
        parsed.alias("_m"), F.col("partition"), F.col("offset")
    ).select("_m.*", "partition", "offset")


def decode_transcript_events_with_dlq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split decode with a dead-letter queue: rows whose payload fails
    JSON parsing, or parses but lacks the required CDC fields
    (conv_id/turn_idx/op), are routed to a DLQ frame carrying the RAW
    value plus envelope and a reason tag, instead of poisoning the
    stream with nulls or failing the batch. This generalizes the
    reference's failure-collection pattern (``FailureCollector``, used at
    pipeline-configure time for config/schema validation) to per-record
    routing — the reference's own ``KafkaBatchSource.transform`` throws
    on record-level format errors, failing the batch. Both outputs are
    lazy projections of one parse (:func:`parse_transcript_wire`) —
    Catalyst computes ``from_json`` once per side, no Python; cache the
    parsed frame and split it with :func:`split_transcript_dlq` to parse
    once for both.

    In the streaming pipeline, write the DLQ side to a quarantine sink
    inside the same ``foreachBatch`` (the fence covers both: a replayed
    batch re-quarantines identically, so the DLQ is idempotent per
    offset range).

    Returns ``(good, dlq)``: good has CHANGE_EVENT columns; dlq has
    ``(value, partition, offset, reason)`` with reason ∈
    {'malformed_json', 'missing_required'}.
    """
    return split_transcript_dlq(parse_transcript_wire(df))


def parse_transcript_wire(df: DataFrame) -> DataFrame:
    """The one ``from_json`` parse of a wire frame: ``(_m, value,
    partition, offset, reason)`` where ``_m`` is the payload struct and
    ``reason`` the dead-letter tag, NULL for a good row."""
    from kafka_plugins_spark.schema import TRANSCRIPT

    # PERMISSIVE from_json yields a struct of NULLS for malformed input
    # (not a null struct), so malformed-vs-missing is discriminated via
    # the spec'd corrupt-record column, which captures the raw string
    # only when parsing itself failed
    payload_schema = T.StructType(
        list(TRANSCRIPT.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("_corrupt", T.StringType(), True),
        ]
    )
    parsed = F.from_json(
        F.col("value").cast("string"),
        payload_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    missing = (
        F.col("_m.conv_id").isNull()
        | F.col("_m.turn_idx").isNull()
        | F.col("_m.op").isNull()
    )
    return df.select(parsed.alias("_m"), "value", "partition", "offset").withColumn(
        "reason",
        F.when(F.col("_m._corrupt").isNotNull(), F.lit("malformed_json")).when(
            missing, F.lit("missing_required")
        ),
    )


def split_transcript_dlq(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(good, dlq)`` projections of a :func:`parse_transcript_wire`
    frame (see :func:`decode_transcript_events_with_dlq`)."""
    good = (
        tagged.filter(F.col("reason").isNull())
        .select("_m.*", "partition", "offset")
        .drop("_corrupt")
    )
    dlq = tagged.filter(F.col("reason").isNotNull()).select(
        "value", "partition", "offset", "reason"
    )
    return good, dlq
