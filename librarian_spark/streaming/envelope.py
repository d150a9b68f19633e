"""Debezium-compatible CDC envelope: schema, parse, and byte-exact JSON build.

Reference contract (`/root/reference/pkg/replicator/event.go:14-56`, shape doc
`README.md:246-283`)::

    {"payload": {"before": ..., "after": ..., "source": {"version", "connector",
      "name", "ts_ms", "snapshot", "db", ["sequence"], "schema", "table",
      ["txId"], ["lsn"], "xmin"}, "op", "ts_ms", "transaction"}}

Byte-level details that matter for consumer compatibility (all mirrored here):

- field order is the Go struct order above (Go json.Marshal preserves it);
- ``before``/``after``/``transaction``/``xmin`` have NO omitempty — they are
  emitted as ``null`` when absent (`event.go:26,31-37`);
- ``sequence``/``txId``/``lsn`` DO have omitempty — the key disappears when
  zero-valued (`event.go:21,24-25`);
- Go marshals ``map[string]interface{}`` rows with alphabetically sorted keys.

Spark's ``to_json`` can't express per-field omitempty (it either drops all nulls
or keeps all), so the envelope is assembled from string fragments — plain concat
expressions, fully inside whole-stage codegen, cheap at any scale.

Kafka message key: ``{db}.{schema}.{table}``
(`internal/integrations/kafka/repository.go:152-157`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "SOURCE_SCHEMA",
    "ENVELOPE_SCHEMA",
    "OP_CREATE",
    "OP_UPDATE",
    "OP_DELETE",
    "OP_READ",
    "build_envelope_json",
    "parse_envelope",
    "typed_events",
    "kafka_key",
    "snapshot_as_events",
    "CDC_ROW_COLUMNS",
    "cdc_rows_as_events",
]

OP_CREATE, OP_UPDATE, OP_DELETE, OP_READ = "c", "u", "d", "r"

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("connector", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("snapshot", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("txId", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("xmin", T.LongType()),
    ]
)

_TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("total_order", T.LongType()),
        T.StructField("data_collection_order", T.LongType()),
    ]
)


def _envelope_schema(row: T.DataType) -> T.StructType:
    """The envelope with ``before``/``after`` typed as ``row``."""
    payload = T.StructType(
        [
            T.StructField("before", row),
            T.StructField("after", row),
            T.StructField("source", SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("transaction", _TRANSACTION_SCHEMA),
        ]
    )
    return T.StructType([T.StructField("payload", payload)])


# before/after stay schemaless (MapType) at the envelope level, matching the
# reference's map[string]interface{} (`event.go:31-32`); values arrive as their
# JSON text. Typed views are a downstream `from_json` with the table's schema.
_ROW_MAP = T.MapType(T.StringType(), T.StringType())
ENVELOPE_SCHEMA = _envelope_schema(_ROW_MAP)
# the parse schema: for a StringType field Spark's JSON reader keeps the
# object's JSON text — the same text get_json_object returns
_PARSE_SCHEMA = _envelope_schema(T.StringType())
# parse_envelope's flat columns and where each sits in the parsed envelope
_FLAT_FIELDS = {
    "op": "payload.op",
    "ts_ms": "payload.ts_ms",
    "db": "payload.source.db",
    "schema_name": "payload.source.schema",
    "table": "payload.source.table",
    "lsn": "payload.source.lsn",
}


def _json_str(col: Column) -> Column:
    """JSON-escape a string column (quotes, backslashes, control chars) by
    rendering it through ``to_json({"v": col})`` and slicing off the wrapper —
    Spark has no standalone JSON string-escape function. Null → ``null``."""
    wrapped = F.to_json(F.struct(col.alias("v")))  # {"v":"escaped"}
    return F.when(col.isNull(), F.lit("null")).otherwise(
        wrapped.substr(F.lit(6), F.length(wrapped) - 6)
    )


def _json_or_null(col: Column | None) -> Column:
    """Render a JSON-string column verbatim, or the literal ``null``."""
    if col is None:
        return F.lit("null")
    return F.coalesce(col, F.lit("null"))


def _opt_kv_str(key: str, col: Column | None) -> Column:
    """omitempty string field: ``,"key":"v"`` or empty string."""
    if col is None:
        return F.lit("")
    return F.when(col.isNull() | (col == ""), F.lit("")).otherwise(
        F.concat(F.lit(f',"{key}":'), _json_str(col))
    )


def _opt_kv_num(key: str, col: Column | None) -> Column:
    """omitempty numeric field: ``,"key":N`` or empty string (0 counts as empty,
    matching Go's omitempty on numeric types)."""
    if col is None:
        return F.lit("")
    return F.when(col.isNull() | (col == 0), F.lit("")).otherwise(
        F.concat(F.lit(f',"{key}":'), col.cast("string"))
    )


def build_envelope_json(
    *,
    before_json: Column | None,
    after_json: Column | None,
    version: Column,
    connector: Column,
    name: Column,
    source_ts_ms: Column,
    snapshot: Column,
    db: Column,
    schema: Column,
    table: Column,
    op: Column,
    ts_ms: Column,
    sequence: Column | None = None,
    tx_id: Column | None = None,
    lsn: Column | None = None,
    xmin: Column | None = None,
    transaction_json: Column | None = None,
) -> Column:
    """Assemble the envelope as a byte-exact JSON string column.

    ``before_json``/``after_json``/``transaction_json`` are pre-rendered JSON
    text (pass-through from the upstream decoder, or ``to_json`` of a typed
    struct for rows we originate).
    """
    xmin_fragment = (
        F.lit('"xmin":null')
        if xmin is None
        else F.concat(F.lit('"xmin":'), F.coalesce(xmin.cast("string"), F.lit("null")))
    )
    return F.concat(
        F.lit('{"payload":{"before":'),
        _json_or_null(before_json),
        F.lit(',"after":'),
        _json_or_null(after_json),
        F.lit(',"source":{"version":'),
        _json_str(version),
        F.lit(',"connector":'),
        _json_str(connector),
        F.lit(',"name":'),
        _json_str(name),
        F.lit(',"ts_ms":'),
        source_ts_ms.cast("string"),
        F.lit(',"snapshot":'),
        _json_str(snapshot),
        F.lit(',"db":'),
        _json_str(db),
        _opt_kv_str("sequence", sequence),
        F.lit(',"schema":'),
        _json_str(schema),
        F.lit(',"table":'),
        _json_str(table),
        _opt_kv_num("txId", tx_id),
        _opt_kv_num("lsn", lsn),
        F.lit(","),
        xmin_fragment,
        F.lit('},"op":"'),
        op,
        F.lit('","ts_ms":'),
        ts_ms.cast("string"),
        F.lit(',"transaction":'),
        _json_or_null(transaction_json),
        F.lit("}}"),
    )


def parse_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka/librarian JSON → typed envelope columns.

    Emits flattened columns (op, ts_ms, db, schema_name, table, lsn, before,
    after) plus the verbatim ``before_json``/``after_json`` text so egress can
    re-emit byte-identically. The input columns are kept.

    ``value`` is parsed once: ``before_json``/``after_json`` come from that
    parse, and the ``before``/``after`` maps are ``from_json`` over them. In a
    batch frame the optimizer drops the parses of columns no caller selects;
    it cannot do so across a ``foreachBatch`` boundary, where every column
    of the stream is computed before the batch function sees it — so a
    streaming sink projects what it reads BEFORE the boundary (see
    :func:`typed_events` and ``materialize._keyed``).
    """
    c = F.col(value_col).cast("string")
    parsed = df.withColumn("_env", F.from_json(c, _PARSE_SCHEMA))
    return parsed.select(
        df["*"],
        *[F.col(f"_env.{path}").alias(name) for name, path in _FLAT_FIELDS.items()],
        F.from_json("_env.payload.before", _ROW_MAP).alias("before"),
        F.from_json("_env.payload.after", _ROW_MAP).alias("after"),
        F.col("_env.payload.before").alias("before_json"),
        F.col("_env.payload.after").alias("after_json"),
    ).drop("_env")


def typed_events(df: DataFrame, row: T.StructType) -> DataFrame:
    """``df``'s ``value`` envelopes parsed ONCE with ``before``/``after``
    typed as ``row``: :func:`parse_envelope`'s flat columns (op, ts_ms, db,
    schema_name, table, lsn) and the typed ``before``/``after`` structs.

    One ``from_json`` of the whole value replaces the text-then-struct
    double parse (envelope with images as text, then ``from_json`` of each
    image). The results agree except where an image is not a JSON object: an
    array/number/bool image reads as a NULL struct here (an all-NULL struct
    there — the same fields either way), and an image sent as a JSON STRING
    holding object text is not decoded. A type-mismatched field inside an
    image reads as NULL and leaves the rest of the event intact (Spark's
    partial results for JSON, on by default)."""
    env = df.select(
        F.from_json(F.col("value").cast("string"), _envelope_schema(row)).alias(
            "_env"
        )
    )
    return env.select(
        *[F.col(f"_env.{path}").alias(name) for name, path in _FLAT_FIELDS.items()],
        F.col("_env.payload.before").alias("before"),
        F.col("_env.payload.after").alias("after"),
    )


def kafka_key(db: Column, schema: Column, table: Column) -> Column:
    """Message key ``{db}.{schema}.{table}`` — "similar to Debezium's default key
    format" (`internal/integrations/kafka/repository.go:152-157`). Keyed produce
    keeps per-table ordering within a partition, same as the reference."""
    return F.concat_ws(".", db, schema, table)


def snapshot_as_events(
    df: DataFrame,
    *,
    db: str,
    schema: str,
    table: str,
    connector: str = "librarian-spark",
    name: str = "snapshot",
    version: str = "1.0.0",
) -> DataFrame:
    """Batch rows → op='r' snapshot events (S8: snapshot-then-stream).

    The reference reserves op='r' (`event.go:10`) but never wires the initial
    snapshot into the stream; here any batch DataFrame becomes the snapshot
    prefix that a CDC stream can union with. ``after`` keys are alphabetically
    sorted to match Go's map marshaling.
    """
    cols = sorted(df.columns)
    # ignoreNullFields off: Go's json.Marshal of map[string]interface{} emits
    # "col":null for nil values; Spark's default DROPS null fields, which
    # would make a null column read as absent downstream
    after = F.to_json(
        F.struct(*[F.col(c).alias(c) for c in cols]),
        {"ignoreNullFields": "false"},
    )
    now_ms = (F.unix_micros(F.current_timestamp()) / 1000).cast("long")
    value = build_envelope_json(
        before_json=None,
        after_json=after,
        version=F.lit(version),
        connector=F.lit(connector),
        name=F.lit(name),
        source_ts_ms=now_ms,
        snapshot=F.lit("true"),
        db=F.lit(db),
        schema=F.lit(schema),
        table=F.lit(table),
        op=F.lit(OP_READ),
        ts_ms=now_ms,
    )
    return df.select(
        kafka_key(F.lit(db), F.lit(schema), F.lit(table)).alias("key"),
        value.alias("value"),
    )


#: the typed columns every custom CDC DataSource emits (CDC_ROW_SCHEMA) —
#: the contract cdc_rows_as_events converts from
CDC_ROW_COLUMNS = (
    "op", "ts_ms", "db", "schema_name", "table", "lsn", "before", "after",
)


def cdc_rows_as_events(
    df: DataFrame,
    *,
    connector: str = "postgresql",
    name: str | None = None,
    version: str = "1.0.0",
) -> DataFrame:
    """Typed CDC rows (the custom sources' ``CDC_ROW_SCHEMA``) → Debezium
    envelope ``(key, value)`` — the reference replicator's event → Kafka
    message construction (`pkg/replicator/replicator.go:243-275` via the
    envelope shape in `pkg/debezium`): key ``{db}.{schema}.{table}``,
    value the byte-shape envelope :func:`build_envelope_json` pins. This
    is what makes ``replicate -s postgres://… -t kafka:…`` — the
    reference's headline pipeline — compose: pgoutput/mongo sources
    decode to typed rows; a Kafka target needs envelope text."""
    value = build_envelope_json(
        before_json=F.col("before"),
        after_json=F.col("after"),
        version=F.lit(version),
        connector=F.lit(connector),
        name=F.coalesce(F.lit(name), F.col("db")),
        source_ts_ms=F.col("ts_ms"),
        snapshot=F.when(F.col("op") == "r", F.lit("true")).otherwise(
            F.lit("false")
        ),
        db=F.col("db"),
        schema=F.col("schema_name"),
        table=F.col("table"),
        op=F.col("op"),
        ts_ms=F.col("ts_ms"),
        lsn=F.col("lsn"),
    )
    return df.select(
        kafka_key(F.col("db"), F.col("schema_name"), F.col("table")).alias(
            "key"
        ),
        value.alias("value"),
    )
