"""Streaming tests: envelope byte-parity, windowed/stateful operators driven by
real file-source streaming queries, checkpoint resume, and the stats listener.

File-stream pattern: events parquet (ts normalized to µs) split into two batch
files so the watermark actually advances between micro-batches — append-mode
windows only finalize once the watermark passes their end.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from librarian_spark.sources.batch import load_table
from librarian_spark.streaming.envelope import (
    OP_READ,
    build_envelope_json,
    kafka_key,
    parse_envelope,
    snapshot_as_events,
)
from librarian_spark.streaming.replicate import ReplicateConfig, Replicator
from librarian_spark.streaming.stats import StatsListener
from librarian_spark.streaming.windows import (
    dedup_within_watermark,
    running_totals_stateful,
    session_windows,
    tumbling_counts,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Two-batch file layout of the events table, ordered by ts."""
    base = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    n = ev.count()
    cut = int(n * 0.9)
    rows = ev.collect()
    first = spark.createDataFrame(rows[:cut], schema=ev.schema)
    second = spark.createDataFrame(rows[cut:], schema=ev.schema)
    first.coalesce(1).write.parquet(os.path.join(base, "batch1"))
    second.coalesce(1).write.parquet(os.path.join(base, "batch2"))
    return base


def _stream_events(spark, events_stream_dir, subdirs):
    """One micro-batch per file (maxFilesPerTrigger=1) so the watermark advances
    between batches — append-mode windows need that to finalize."""
    if len(subdirs) == 1:
        path = os.path.join(events_stream_dir, subdirs[0])
    else:
        path = os.path.join(events_stream_dir, "batch*")
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run_to_memory(df, name, tmp_path, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


# --------------------------------------------------------------------------
# Envelope
# --------------------------------------------------------------------------


def test_envelope_byte_parity(spark):
    """The built JSON must match Go's json.Marshal of the reference structs
    byte-for-byte: field order, nulls for non-omitempty fields, omitted keys for
    zero-valued omitempty fields (`pkg/replicator/event.go:14-56`)."""
    df = spark.range(1).select(
        build_envelope_json(
            before_json=None,
            after_json=F.lit('{"age":30,"email":"john@example.com","name":"John Doe"}'),
            version=F.lit("1.0.0"),
            connector=F.lit("mongodb"),
            name=F.lit("replicator-1"),
            source_ts_ms=F.lit(1234567890).cast("long"),
            snapshot=F.lit("false"),
            db=F.lit("testdb"),
            schema=F.lit("public"),
            table=F.lit("users"),
            op=F.lit("c"),
            ts_ms=F.lit(1234567890).cast("long"),
            tx_id=F.lit(678).cast("long"),
            lsn=F.lit(12345).cast("long"),
        ).alias("value")
    )
    got = df.collect()[0].value
    expected = (
        '{"payload":{"before":null,'
        '"after":{"age":30,"email":"john@example.com","name":"John Doe"},'
        '"source":{"version":"1.0.0","connector":"mongodb","name":"replicator-1",'
        '"ts_ms":1234567890,"snapshot":"false","db":"testdb","schema":"public",'
        '"table":"users","txId":678,"lsn":12345,"xmin":null},'
        '"op":"c","ts_ms":1234567890,"transaction":null}}'
    )
    assert got == expected
    # and it parses as the exact reference shape
    env = json.loads(got)
    assert env["payload"]["source"]["xmin"] is None
    assert "sequence" not in env["payload"]["source"]


def test_envelope_omitempty_fields(spark):
    """Zero-valued txId/lsn must drop their keys (Go omitempty semantics)."""
    df = spark.range(1).select(
        build_envelope_json(
            before_json=F.lit('{"id":1}'),
            after_json=None,
            version=F.lit("1.0.0"),
            connector=F.lit("postgres"),
            name=F.lit("r"),
            source_ts_ms=F.lit(1).cast("long"),
            snapshot=F.lit("false"),
            db=F.lit("d"),
            schema=F.lit("s"),
            table=F.lit("t"),
            op=F.lit("d"),
            ts_ms=F.lit(1).cast("long"),
            tx_id=F.lit(0).cast("long"),
            lsn=F.lit(0).cast("long"),
        ).alias("value")
    )
    env = json.loads(df.collect()[0].value)
    src = env["payload"]["source"]
    assert "txId" not in src and "lsn" not in src
    assert env["payload"]["after"] is None
    assert env["payload"]["before"] == {"id": 1}


def test_envelope_parse_roundtrip(spark):
    df = spark.range(3).select(
        build_envelope_json(
            before_json=None,
            after_json=F.concat(F.lit('{"id":'), F.col("id").cast("string"), F.lit("}")),
            version=F.lit("1.0.0"),
            connector=F.lit("librarian-spark"),
            name=F.lit("rt"),
            source_ts_ms=F.lit(7).cast("long"),
            snapshot=F.lit("false"),
            db=F.lit("db1"),
            schema=F.lit("public"),
            table=F.lit("users"),
            op=F.lit("u"),
            ts_ms=F.lit(7).cast("long"),
            lsn=F.lit(42).cast("long"),
        ).alias("value")
    )
    parsed = parse_envelope(df, "value")
    rows = parsed.collect()
    assert len(rows) == 3
    r = rows[0]
    assert (r.op, r.db, r.schema_name, r.table, r.lsn) == ("u", "db1", "public", "users", 42)
    assert r.after["id"] in {"0", "1", "2"}
    assert r.before is None and r.before_json is None


def test_envelope_parse_json_text_matches_get_json_object(spark):
    """``before_json``/``after_json`` come from the one envelope parse; they
    must be byte-identical to ``get_json_object`` over the raw value, and the
    ``before``/``after`` maps must equal a map-typed parse of the value."""
    from pyspark.sql import types as T

    from librarian_spark.streaming.envelope import ENVELOPE_SCHEMA

    lines = [
        # numbers Jackson re-renders: trailing zero, exponent, negative zero
        '{"payload":{"before":null,"after":{"a":1.50,"b":1e3,"c":-0.0},'
        '"op":"c","ts_ms":1}}',
        # \u escapes, escaped quotes and slashes, whitespace between tokens
        '{"payload":{"before":{"s": "\\u00e9t\\u00e9", "q":"a\\"b\\/c"} ,'
        '"after":{"s":"caf\\u00e9"},"op":"u","ts_ms":2}}',
        # nested arrays and objects
        '{"payload":{"before":{"n":[1,[2,{"x":null}],{"y":[true,false]}]},'
        '"after":{"o":{"p":{"q":[]}},"e":{}},"op":"u","ts_ms":3}}',
        # a null before, a missing after
        '{"payload":{"before":null,"op":"d","ts_ms":4}}',
        '{"payload":{"before":{"k":1},"op":"d","ts_ms":5}}',
        # non-object images and an empty payload
        '{"payload":{"before":"text","after":[1,2]}}',
        '{"payload":{}}',
        # malformed lines
        "not json",
        '{"payload":{"before":{"k":1},"after":{"k":',
        "",
    ]
    raw = spark.createDataFrame([(i, v) for i, v in enumerate(lines)], "i int, value string")
    got = parse_envelope(raw, "value").select(
        "i", "before_json", "after_json", "before", "after"
    )
    ref_schema = T.StructType(
        [T.StructField("payload", ENVELOPE_SCHEMA["payload"].dataType)]
    )
    env = F.from_json("value", ref_schema)
    want = raw.select(
        "i",
        F.get_json_object("value", "$.payload.before").alias("before_json"),
        F.get_json_object("value", "$.payload.after").alias("after_json"),
        env["payload"]["before"].alias("before"),
        env["payload"]["after"].alias("after"),
    )
    got_rows = sorted(got.collect())
    assert got_rows == sorted(want.collect())
    by_i = {r.i: r for r in got_rows}
    assert by_i[0].after_json == '{"a":1.5,"b":1000.0,"c":-0.0}'
    assert by_i[1].after == {"s": "café"}
    assert by_i[3].before_json is None and by_i[3].after_json is None
    assert all(by_i[i].before_json is None for i in (7, 8, 9))


def test_kafka_key_shape(spark):
    df = spark.range(1).select(
        kafka_key(F.lit("db"), F.lit("public"), F.lit("users")).alias("key")
    )
    assert df.collect()[0].key == "db.public.users"


def test_snapshot_as_events(spark, sf_dir):
    """S8: batch rows → op='r' envelope stream prefix."""
    orders = load_table(spark, sf_dir, "orders").limit(50)
    ev = snapshot_as_events(orders, db="testdb", schema="public", table="orders")
    rows = ev.collect()
    assert len(rows) == 50
    env = json.loads(rows[0].value)
    assert env["payload"]["op"] == OP_READ
    assert env["payload"]["source"]["snapshot"] == "true"
    assert rows[0].key == "testdb.public.orders"
    after = env["payload"]["after"]
    assert list(after.keys()) == sorted(after.keys())  # Go map-marshal ordering
    assert "o_orderkey" in after


# --------------------------------------------------------------------------
# Windows / stateful (S11–S14)
# --------------------------------------------------------------------------


def test_tumbling_counts_match_batch(spark, events_stream_dir, tmp_path, sf_dir):
    stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
    _run_to_memory(tumbling_counts(stream), "tumbling", tmp_path)
    got = spark.sql("SELECT * FROM tumbling")
    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )
    # append mode emits only windows finalized by the watermark — every emitted
    # row must match the batch result exactly
    got_map = {(r.wstart, r.event_type): r.n for r in got.collect()}
    assert got_map, "no windows finalized — watermark never advanced"
    exp_map = {(r.wstart, r.event_type): r.n for r in expected.collect()}
    for k, n in got_map.items():
        assert exp_map[k] == n, f"window {k}: stream={n} batch={exp_map[k]}"


def test_session_windows_stream(spark, events_stream_dir, tmp_path):
    stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
    _run_to_memory(session_windows(stream), "sessions", tmp_path)
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows, "no sessions closed"
    for r in rows:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_dedup_within_watermark(spark, events_stream_dir, tmp_path):
    """Duplicated input rows collapse to one output row per event_id."""
    dup_dir = os.path.join(events_stream_dir, "dups")
    if not os.path.exists(dup_dir):
        src = spark.read.schema(EVENTS_SCHEMA).parquet(
            os.path.join(events_stream_dir, "batch1")
        )
        src.limit(200).union(src.limit(200)).coalesce(1).write.parquet(dup_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(dup_dir)
    _run_to_memory(dedup_within_watermark(stream), "deduped", tmp_path)
    n = spark.sql("SELECT COUNT(*) AS n FROM deduped").collect()[0].n
    assert n == 200


def test_running_totals_stateful(spark, events_stream_dir, tmp_path, sf_dir):
    """Custom per-key state accumulates across micro-batches."""
    stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
    _run_to_memory(running_totals_stateful(stream), "totals", tmp_path, mode="update")
    # update mode re-emits a user's row per batch; the latest (max n) must equal
    # the batch-side totals
    got = (
        spark.sql("SELECT * FROM totals")
        .groupBy("user_id")
        .agg(F.max("n").alias("n"))
        .collect()
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = {r.user_id: r.n for r in batch.collect()}
    assert got
    for r in got:
        assert exp[r.user_id] == r.n


# --------------------------------------------------------------------------
# Replicate pipeline + stats + resume
# --------------------------------------------------------------------------


@pytest.fixture()
def envelope_json_dir(spark, sf_dir, tmp_path):
    """A directory of librarian-format envelope JSON lines (the Kafka topic's
    content, as files — the test stand-in for a broker)."""
    d = str(tmp_path / "cdc_in")
    ev = snapshot_as_events(
        load_table(spark, sf_dir, "orders").limit(100),
        db="testdb",
        schema="public",
        table="orders",
    )
    ev.select("value").coalesce(1).write.mode("overwrite").text(d + "/batch1")
    return d


def test_cdc_rows_as_events_roundtrip_and_kafka_branch(spark, tmp_path):
    """Typed CDC rows (the custom sources' CDC_ROW_SCHEMA) → envelope
    (key, value) → parse_envelope must recover op/db/schema/table/lsn and
    the verbatim before/after text — the postgres://…→kafka:… composition
    (the reference's headline pipeline) depends on this conversion. The
    kafka sink goes through kafka_payload (the ACTUAL branch function
    _start_query calls), so its trigger condition, connector labeling by
    source format, and envelope passthrough are all exercised here."""
    from librarian_spark.streaming.envelope import cdc_rows_as_events
    from librarian_spark.streaming.replicate import kafka_payload

    rows = [
        ("c", 1700000000123, "appdb", "public", "users", 108,
         None, '{"id":1,"name":"alice"}', "108:1"),
        ("u", 1700000000456, "appdb", "public", "users", 208,
         '{"id":1,"name":"alice"}', '{"id":1,"name":"bob"}', "208:1"),
        ("d", 1700000000789, "appdb", "public", "users", 308,
         '{"id":1,"name":null}', None, "308:1"),
    ]
    cdc = spark.createDataFrame(
        rows,
        "op string, ts_ms long, db string, schema_name string, "
        "table string, lsn long, before string, after string, "
        "position string",
    )
    ev = cdc_rows_as_events(cdc)
    got = {r.key for r in ev.select("key").collect()}
    assert got == {"appdb.public.users"}
    back = parse_envelope(ev, "value").orderBy("lsn").collect()
    assert [(r.op, r.lsn) for r in back] == [("c", 108), ("u", 208), ("d", 308)]
    assert back[0].after_json == '{"id":1,"name":"alice"}'
    assert back[2].before_json == '{"id":1,"name":null}'  # verbatim nulls
    assert back[2].after_json is None
    env = json.loads(ev.orderBy(F.lit(1)).collect()[0].value)
    assert env["payload"]["source"]["connector"] == "postgresql"
    assert env["payload"]["source"]["snapshot"] == "false"
    # the REAL kafka-branch function: typed rows trigger the conversion
    # with the SOURCE's connector label (a Mongo event labeled postgresql
    # would misroute consumers dispatching on payload.source.connector)
    kp = kafka_payload(cdc, "mongo_changestream")
    assert kp.columns == ["key", "value"]
    envm = json.loads(kp.limit(1).collect()[0]["value"])
    assert envm["payload"]["source"]["connector"] == "mongodb"
    # a frame already carrying value (kafka/files passthrough) is NOT
    # re-enveloped — parse_envelope keeps the original value column
    passthrough = kafka_payload(parse_envelope(ev, "value"), "files")
    vals = {r["value"] for r in passthrough.collect()}
    assert vals == {r["value"] for r in ev.collect()}
    # and the trigger condition is the CDC column contract: drop one
    # required column and typed conversion must NOT fire (loud error
    # beats a silently half-built envelope)
    import pytest as _pytest

    with _pytest.raises(Exception, match="value|UNRESOLVED"):
        kafka_payload(cdc.drop("op"), "pgoutput").collect()


def test_replicator_file_to_memory(spark, envelope_json_dir, tmp_path):
    listener = StatsListener()
    spark.streams.addListener(listener)
    try:
        cfg = ReplicateConfig(
            replicator_id="rep1",
            checkpoint_dir=str(tmp_path / "ckpt_rep1"),
            source_format="files",
            source_path=envelope_json_dir + "/batch1",
            source_schema="value string",
            target_format="memory",
        )
        rep = Replicator(spark, cfg)
        assert rep.state == "created"
        q = rep.start()
        assert rep.state == "streaming"
        rep.process_available()
        # under heavy host load the first processAllAvailable has been seen
        # to return before the file source lists its input — retry bounded
        for _ in range(3):
            if spark.sql("SELECT count(*) FROM rep1").collect()[0][0] > 0:
                break
            import time as _time

            _time.sleep(1.0)
            rep.process_available()
        rows = spark.sql("SELECT * FROM rep1").collect()
        assert len(rows) == 100
        ops = {r.op for r in rows}
        assert ops == {"r"}
        assert {r.table for r in rows} == {"orders"}
        rep.stop()
        assert rep.state == "stopped"
        stats = listener.stats(q.id)
        assert stats is not None
        assert stats["source"]["total_events"] == 100
        assert stats["replicator"]["checkpoint_count"] >= 1
        assert stats["replicator"]["state"] in ("streaming", "stopped")
    finally:
        spark.streams.removeListener(listener)


def test_replicator_checkpoint_resume(spark, envelope_json_dir, tmp_path, sf_dir):
    """Stop → add data → restart from checkpoint: no reprocessing, no loss
    (reference parity: resume from persisted position, checkpoint.go:57-126)."""
    out = str(tmp_path / "cdc_out")
    cfg = ReplicateConfig(
        replicator_id="rep2",
        checkpoint_dir=str(tmp_path / "ckpt_rep2"),
        source_format="files",
        source_path=envelope_json_dir + "/batch*",
        source_schema="value string",
        target_format="parquet",
        target_path=out,
    )
    rep = Replicator(
        spark, cfg, transform=lambda df: df.select("op", "table", "after_json")
    )
    rep.start()
    rep.process_available()
    rep.stop()
    assert spark.read.parquet(out).count() == 100

    # second batch lands while stopped
    more = snapshot_as_events(
        load_table(spark, sf_dir, "orders").limit(130),
        db="testdb",
        schema="public",
        table="orders",
    )
    more.select("value").coalesce(1).write.mode("overwrite").text(
        envelope_json_dir + "/batch2"
    )
    rep.restart()
    rep.process_available()
    rep.stop()
    # 100 from batch1 (not reprocessed) + 130 from batch2
    assert spark.read.parquet(out).count() == 230


def test_stream_static_enrich(spark, events_stream_dir, tmp_path, sf_dir):
    """Stream-static broadcast join: every streamed event is enriched with its
    user's nation (derived dim), result matches the batch join exactly."""
    from librarian_spark.streaming.windows import stream_static_enrich

    dim = (
        load_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") % 100).alias("user_id"), "c_nationkey")
        .groupBy("user_id")
        .agg(F.min("c_nationkey").alias("nationkey"))
    )
    stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
    _run_to_memory(
        stream_static_enrich(stream, dim).select("event_id", "user_id", "nationkey"),
        "enriched",
        tmp_path,
    )
    got = {
        (r.event_id, r.user_id, r.nationkey)
        for r in spark.table("enriched").collect()
    }
    batch = load_table(spark, sf_dir, "events")
    want = {
        (r.event_id, r.user_id, r.nationkey)
        for r in batch.join(dim, "user_id", "left")
        .select("event_id", "user_id", "nationkey")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_time_bounded_join(spark, events_stream_dir, tmp_path, sf_dir):
    """Stream-stream interval join (clicks ⋈ errors within 5 min per user)
    produces exactly the batch join's pairs once all input is processed."""
    from librarian_spark.streaming.windows import stream_stream_join

    stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
    clicks = stream.filter(F.col("event_type") == "click")
    errors = stream.filter(F.col("event_type") == "error")
    _run_to_memory(
        stream_stream_join(clicks, errors), "ss_join", tmp_path
    )
    got = {
        (r.user_id, r.click_id, r.error_id)
        for r in spark.table("ss_join").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").alias("c")
    be = ev.filter(F.col("event_type") == "error").alias("e")
    cond = (
        (F.col("c.user_id") == F.col("e.user_id"))
        & (F.col("e.ts") >= F.col("c.ts"))
        & (F.col("e.ts") <= F.col("c.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    want = {
        (r.user_id, r.click_id, r.error_id)
        for r in bc.join(be, cond)
        .select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.event_id").alias("click_id"),
            F.col("e.event_id").alias("error_id"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_cdc_materialize_foreachbatch(spark, tmp_path, sf_dir):
    """CDC apply sink: snapshot events then update/delete events, materialized
    through foreachBatch into a versioned keyed parquet table; final state must
    equal snapshot ∖ deletes with updates applied."""
    from librarian_spark.streaming.envelope import build_envelope_json
    from librarian_spark.streaming.materialize import (
        MaterializeConfig,
        materialize,
        read_state,
    )

    src = str(tmp_path / "cdc_src")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") < 50)
    )
    # batch 1: op='r' snapshot of 50 keys
    snap = snapshot_as_events(orders, db="db", schema="s", table="orders")
    snap.select("value").coalesce(1).write.mode("overwrite").text(src + "/b1")

    # batch 2: update keys %3==0 (price → 1.0), delete keys %7==0.
    # Event times must be LATER than the snapshot's wall-clock ts_ms: the
    # materializer merges by EVENT order (stale re-deliveries lose), so a
    # 1970-epoch literal here would correctly lose to the snapshot rows.
    import time as _time

    t_upd = int(_time.time() * 1000) + 60_000
    t_del = t_upd + 60_000
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        build_envelope_json(
            before_json=None,
            after_json=F.to_json(
                F.struct(
                    F.col("o_orderkey"), F.lit(1.0).alias("o_totalprice")
                )
            ),
            version=F.lit("1.0.0"),
            connector=F.lit("t"),
            name=F.lit("t"),
            source_ts_ms=F.lit(t_upd).cast("long"),
            snapshot=F.lit("false"),
            db=F.lit("db"),
            schema=F.lit("s"),
            table=F.lit("orders"),
            op=F.lit("u"),
            ts_ms=F.lit(t_upd).cast("long"),
            lsn=F.lit(2).cast("long"),
        ).alias("value")
    )
    dele = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        build_envelope_json(
            before_json=F.to_json(F.struct(F.col("o_orderkey"))),
            after_json=None,
            version=F.lit("1.0.0"),
            connector=F.lit("t"),
            name=F.lit("t"),
            source_ts_ms=F.lit(t_del).cast("long"),
            snapshot=F.lit("false"),
            db=F.lit("db"),
            schema=F.lit("s"),
            table=F.lit("orders"),
            op=F.lit("d"),
            ts_ms=F.lit(t_del).cast("long"),
            lsn=F.lit(3).cast("long"),
        ).alias("value")
    )
    upd.unionAll(dele).select("value").coalesce(1).write.mode(
        "overwrite"
    ).text(src + "/b2")

    cfg = MaterializeConfig(
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt_mat"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src + "/b*")
    )
    q = materialize(spark, parse_envelope(stream, "value"), cfg)
    q.processAllAvailable()
    q.stop()

    got = {
        (r.o_orderkey, r.o_totalprice) for r in read_state(spark, cfg).collect()
    }
    want = {
        (r.o_orderkey, 1.0 if r.o_orderkey % 3 == 0 else r.o_totalprice)
        for r in orders.collect()
        if r.o_orderkey % 7 != 0
    }
    assert got == want and len(got) > 0


def test_stateful_dedup_on_rocksdb_state_store(spark, events_stream_dir, tmp_path):
    """The RocksDB state-store provider (the multi-TB state path the windows
    module documents) must actually run in this build: same dedup results as
    the default provider."""
    from librarian_spark.session import ROCKSDB_STATE_CONFS
    from librarian_spark.streaming.windows import dedup_within_watermark

    prev = {
        k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONFS
    }
    for k, v in ROCKSDB_STATE_CONFS.items():
        spark.conf.set(k, v)
    try:
        stream = _stream_events(spark, events_stream_dir, ["batch1", "batch2"])
        doubled = stream.unionByName(stream)  # guaranteed duplicates
        _run_to_memory(
            dedup_within_watermark(doubled), "rocksdb_dedup", tmp_path
        )
        rows = [r.event_id for r in spark.table("rocksdb_dedup").collect()]
        want = {
            r.event_id
            for r in spark.read.parquet(
                os.path.join(events_stream_dir, "batch*")
            ).collect()
        }
        # exact row count, not set equality: a provider that failed to dedup
        # would emit every event twice and a set would hide it
        assert len(rows) == len(want) > 0
        assert set(rows) == want
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cdc_materialize_batch_replay_is_idempotent(spark, tmp_path, sf_dir):
    """The foreachBatch contract the materializer claims: re-applying the SAME
    micro-batch (crash-replay after the pointer advanced but before the
    streaming commit) leaves the state byte-identical."""
    from librarian_spark.streaming.envelope import parse_envelope
    from librarian_spark.streaming.materialize import (
        MaterializeConfig,
        _apply_batch,
        read_state,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") < 30)
    )
    ev = snapshot_as_events(orders, db="db", schema="s", table="orders")
    batch = parse_envelope(ev.select("value"), "value")
    cfg = MaterializeConfig(
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    import os as _os

    _os.makedirs(cfg.state_dir, exist_ok=True)
    _apply_batch(spark, cfg, batch, 0)
    first = {(r.o_orderkey, r.o_totalprice) for r in read_state(spark, cfg).collect()}
    _apply_batch(spark, cfg, batch, 0)  # replay of the same batch id
    second = {(r.o_orderkey, r.o_totalprice) for r in read_state(spark, cfg).collect()}
    assert first == second and len(first) == orders.count()


def test_text_operators_run_on_streams(spark, tmp_path, sf_dir):
    """Batch/streaming unification: the map-only text-curation expressions
    (quality gate + PII redaction) run UNCHANGED on a document stream —
    same engine, same operator code, both execution modes. Results must
    equal the batch run exactly."""
    from pyspark.sql import functions as F2

    from librarian_spark.functions.textfns import tokens

    docs_dir = str(tmp_path / "docs_stream")
    d = load_table(spark, sf_dir, "documents").limit(200)
    d.coalesce(1).write.mode("overwrite").parquet(docs_dir)

    def curate(df):
        w = tokens("text")
        n_tok = F2.size(w)
        uniq_ratio = F2.size(F2.array_distinct(w)) * F2.lit(1.0) / F2.greatest(
            n_tok, F2.lit(1)
        )
        return df.select(
            "doc_id",
            (n_tok.between(5, 1000) & (uniq_ratio > 0.2)).alias("keep"),
            F2.regexp_replace(
                F2.col("text"), r"[0-9][0-9][0-9][0-9][0-9][0-9]+", "<NUM>"
            ).alias("redacted"),
        )

    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(docs_dir)
    _run_to_memory(curate(stream), "curated_stream", tmp_path)
    got = {
        (r.doc_id, r.keep, r.redacted)
        for r in spark.table("curated_stream").collect()
    }
    want = {
        (r.doc_id, r.keep, r.redacted)
        for r in curate(spark.read.parquet(docs_dir)).collect()
    }
    assert got == want and len(got) == 200


def test_scd2_streaming_materialize_versioned_history(spark, tmp_path, sf_dir):
    """Streaming SCD2: inserts, two chained updates in ONE batch, then deletes,
    drained as separate micro-batches; the state dir must hold the full
    effective-dated history — dense versions, chained intervals, deletes
    closing without reopening."""
    from librarian_spark.streaming.envelope import build_envelope_json, parse_envelope
    from librarian_spark.streaming.scd2 import SCD2Config, read_history, scd2_materialize

    src = str(tmp_path / "scd2_src")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") <= 20)
    )

    def env(df, op, ts_ms, lsn, value_col=None):
        after = (
            None
            if op == "d"
            else F.to_json(
                F.struct(
                    F.col("o_orderkey"),
                    (value_col if value_col is not None else F.col("o_totalprice"))
                    .cast("double")
                    .alias("o_totalprice"),
                )
            )
        )
        before = F.to_json(F.struct(F.col("o_orderkey"))) if op == "d" else None
        return df.select(
            build_envelope_json(
                before_json=before,
                after_json=after,
                version=F.lit("1.0.0"),
                connector=F.lit("t"),
                name=F.lit("t"),
                source_ts_ms=F.lit(ts_ms).cast("long"),
                snapshot=F.lit("false"),
                db=F.lit("db"),
                schema=F.lit("s"),
                table=F.lit("orders"),
                op=F.lit(op),
                ts_ms=F.lit(ts_ms).cast("long"),
                lsn=F.lit(lsn).cast("long"),
            ).alias("value")
        )

    env(orders, "c", 1_000_000, 1).coalesce(1).write.mode("overwrite").text(
        src + "/b1"
    )
    # one batch containing a two-step chain for keys %6==0
    u1 = env(orders.filter(F.col("o_orderkey") % 3 == 0), "u", 2_000_000, 2, F.lit(1.0))
    u2 = env(orders.filter(F.col("o_orderkey") % 6 == 0), "u", 2_500_000, 3, F.lit(2.0))
    u1.unionAll(u2).coalesce(1).write.mode("overwrite").text(src + "/b2")
    env(orders.filter(F.col("o_orderkey") % 7 == 0), "d", 3_000_000, 4).coalesce(
        1
    ).write.mode("overwrite").text(src + "/b3")

    cfg = SCD2Config(
        state_dir=str(tmp_path / "scd2_state"),
        checkpoint_dir=str(tmp_path / "scd2_ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src + "/b*")
    )
    q = scd2_materialize(spark, parse_envelope(stream, "value"), cfg)
    q.processAllAvailable()
    q.stop()

    hist = read_history(spark, cfg).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r.o_orderkey, []).append(r)

    base = {r.o_orderkey: float(r.o_totalprice) for r in orders.collect()}
    assert set(by_key) == set(base)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r.version)
        chain = [(base[k], 1_000_000)]
        if k % 3 == 0:
            chain.append((1.0, 2_000_000))
        if k % 6 == 0:
            chain.append((2.0, 2_500_000))
        deleted = k % 7 == 0
        assert [r.version for r in rows] == list(range(1, len(chain) + 1)), k
        for i, (r, (val, frm)) in enumerate(zip(rows, chain)):
            assert (r.o_totalprice, r.valid_from_ms) == (val, frm), k
            last = i == len(chain) - 1
            if not last:
                assert r.valid_to_ms == chain[i + 1][1] and not r.is_current, k
            elif deleted:
                assert r.valid_to_ms == 3_000_000 and not r.is_current, k
            else:
                assert r.valid_to_ms is None and r.is_current, k


def test_scd2_batch_replay_is_idempotent_and_cross_run_fails(spark, tmp_path, sf_dir):
    """SCD2 materializer replay contract: re-applying the same batch id is a
    no-op (history byte-identical, versions not double-appended); a batch id
    BEHIND the state pointer (checkpoint/state mismatch) fails loudly."""
    import pytest as _pytest

    from librarian_spark.streaming.envelope import parse_envelope
    from librarian_spark.streaming.scd2 import SCD2Config, _apply_batch, read_history

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") < 30)
    )
    ev = snapshot_as_events(orders, db="db", schema="s", table="orders")
    batch = parse_envelope(ev.select("value"), "value")
    cfg = SCD2Config(
        state_dir=str(tmp_path / "scd2_state"),
        checkpoint_dir=str(tmp_path / "scd2_ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    import os as _os

    _os.makedirs(cfg.state_dir, exist_ok=True)
    _apply_batch(spark, cfg, batch, 0)
    snap = lambda: sorted(  # noqa: E731
        tuple(r) for r in read_history(spark, cfg).collect()
    )
    first = snap()
    _apply_batch(spark, cfg, batch, 0)  # crash-replay of the applied batch
    assert snap() == first
    assert all(r[2] == 1 for r in first)  # single version per key, no doubling
    with _pytest.raises(ValueError, match="different runs"):
        _apply_batch(spark, cfg, batch, -1)


def test_scd2_rejects_out_of_order_batches(spark, tmp_path, sf_dir):
    """A later batch whose events predate a key's open version must fail
    loudly (negative-interval history) instead of merging silently."""
    import pytest as _pytest

    from librarian_spark.streaming.envelope import build_envelope_json, parse_envelope
    from librarian_spark.streaming.scd2 import SCD2Config, _apply_batch

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .limit(5)
    )

    def batch(ts_ms, lsn):
        env = orders.select(
            build_envelope_json(
                before_json=None,
                after_json=F.to_json(F.struct("o_orderkey", "o_totalprice")),
                version=F.lit("1.0.0"), connector=F.lit("t"), name=F.lit("t"),
                source_ts_ms=F.lit(ts_ms).cast("long"), snapshot=F.lit("false"),
                db=F.lit("db"), schema=F.lit("s"), table=F.lit("orders"),
                op=F.lit("u"), ts_ms=F.lit(ts_ms).cast("long"),
                lsn=F.lit(lsn).cast("long"),
            ).alias("value")
        )
        return parse_envelope(env, "value")

    cfg = SCD2Config(
        state_dir=str(tmp_path / "ooo_state"),
        checkpoint_dir=str(tmp_path / "ooo_ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    import os as _os

    _os.makedirs(cfg.state_dir, exist_ok=True)
    _apply_batch(spark, cfg, batch(1_000_000, 1), 0)
    with _pytest.raises(ValueError, match="out-of-order"):
        _apply_batch(spark, cfg, batch(500_000, 2), 1)


def test_materialize_stale_redelivery_does_not_regress_state(spark, tmp_path, sf_dir):
    """At-least-once producers re-deliver tail events after a crash; a LATER
    batch carrying an OLDER event must lose to the stored state (event-order
    merge), not overwrite it (batch-order merge)."""
    from librarian_spark.streaming.envelope import build_envelope_json, parse_envelope
    from librarian_spark.streaming.materialize import (
        MaterializeConfig,
        _apply_batch,
        read_state,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )

    def batch(price, ts_ms, lsn):
        env = orders.select(
            build_envelope_json(
                before_json=None,
                after_json=F.to_json(
                    F.struct(
                        "o_orderkey", F.lit(price).cast("double").alias("o_totalprice")
                    )
                ),
                version=F.lit("1.0.0"), connector=F.lit("t"), name=F.lit("t"),
                source_ts_ms=F.lit(ts_ms).cast("long"), snapshot=F.lit("false"),
                db=F.lit("db"), schema=F.lit("s"), table=F.lit("orders"),
                op=F.lit("u"), ts_ms=F.lit(ts_ms).cast("long"),
                lsn=F.lit(lsn).cast("long"),
            ).alias("value")
        )
        return parse_envelope(env, "value")

    cfg = MaterializeConfig(
        state_dir=str(tmp_path / "stale_state"),
        checkpoint_dir=str(tmp_path / "stale_ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    import os as _os

    _os.makedirs(cfg.state_dir, exist_ok=True)
    _apply_batch(spark, cfg, batch(200.0, 2_000_000, 2), 0)  # the real update
    _apply_batch(spark, cfg, batch(150.0, 1_500_000, 1), 1)  # stale re-delivery
    vals = {r.o_totalprice for r in read_state(spark, cfg).collect()}
    assert vals == {200.0}
    # internal order columns never leak to readers
    assert set(read_state(spark, cfg).columns) == {"o_orderkey", "o_totalprice"}


def _mat_batch(spark, events):
    """Parsed envelope batch of ``events``: (op, key, value, ts_ms, lsn);
    deletes carry only the key in ``before``."""
    def line(op, k, v, ts, lsn):
        row = {"k": k, "v": v}
        payload = {
            "before": {"k": k} if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {"lsn": lsn},
            "op": op,
            "ts_ms": ts,
        }
        return (json.dumps({"payload": payload}),)

    raw = spark.createDataFrame([line(*e) for e in events], "value string")
    return parse_envelope(raw, "value")


def _mat_replay(state, events):
    """The merge in Python: per key, the max by (ts_ms, lsn) — NULL below
    every value, as in Spark's struct order — over the stored row (an
    upsert at its watermark) and the batch's events; a delete winner drops
    the key."""
    def order(ts, lsn):
        return (ts is not None, ts or 0, lsn is not None, lsn or 0)

    cands = {k: [("u", v, ts, lsn)] for k, (v, ts, lsn) in state.items()}
    for op, k, v, ts, lsn in events:
        cands.setdefault(k, []).append((op, v, ts, lsn))
    out = {}
    for k, cs in cands.items():
        op, v, ts, lsn = max(cs, key=lambda c: order(c[2], c[3]))
        if op != "d":
            out[k] = (v, ts, lsn)
    return out


def _mat_stored(spark, cfg):
    from librarian_spark.streaming.materialize import _latest_version

    path = os.path.join(cfg.state_dir, f"v={_latest_version(cfg.state_dir)}")
    return {
        r.k: (r.v, r._ts_ms_, r._ordc_) for r in spark.read.parquet(path).collect()
    }


#: batches 1 and 2 of the replay test, over a legacy state of keys 1-8
_MAT_BATCHES = [
    [
        ("u", 1, "a1", 10, 1),  # beats a legacy row
        ("d", 2, None, 10, 2),  # delete and re-create in one batch
        ("c", 2, "re2", 11, 3),
        ("u", 3, "n3", None, 4),  # NULL ts_ms loses to a legacy row
        ("d", 4, None, 5, 5),  # delete of a legacy key
        ("d", 9, None, 12, 6),  # delete of an absent key
        ("c", 10, "n10", None, 7),  # new key stored with a NULL ts_ms
        ("u", 5, "b5", 20, 8),
    ],
    [
        ("u", 5, "stale5", 15, 9),  # stale re-delivery
        ("u", 1, "a1", 10, 1),  # duplicate re-delivery of the stored event
        ("u", 10, "n10b", None, 11),  # beats the stored NULL ts_ms by lsn
        ("c", 4, "re4", 1, 12),  # no tombstone: an older event reinserts
        ("d", 2, None, 30, 13),
        ("c", 2, "re2b", 30, 14),
        ("d", 6, None, 40, 15),  # delete beats an older update
        ("u", 6, "x6", 35, 16),
        ("d", 11, None, 50, 17),
    ],
]


def _mat_legacy_state(spark, tmp_path):
    """A state dir at version 0 in the pre-watermark layout (no
    ``_ts_ms_``/``_ordc_`` columns), with its Python image."""
    from librarian_spark.streaming.materialize import _LONG_MIN, MaterializeConfig

    cfg = MaterializeConfig(
        state_dir=str(tmp_path / "one_merge_state"),
        checkpoint_dir=str(tmp_path / "one_merge_ckpt"),
        key_cols=["k"],
        row_ddl="k long, v string",
    )
    legacy = {k: (f"old{k}", _LONG_MIN, _LONG_MIN) for k in range(1, 9)}
    spark.createDataFrame(
        [(k, v) for k, (v, _, _) in legacy.items()], "k long, v string"
    ).coalesce(1).write.parquet(os.path.join(cfg.state_dir, "v=0"))
    with open(os.path.join(cfg.state_dir, "_LATEST"), "w") as fh:
        fh.write("0")
    return cfg, legacy


def test_materialize_one_merge_matches_python_replay(spark, tmp_path):
    """Delete + re-create in one batch, stale and duplicate re-deliveries,
    deletes of absent keys, NULL ts_ms and a legacy (pre-watermark) state:
    after each batch, state and watermarks equal the Python replay."""
    from librarian_spark.streaming.materialize import _apply_batch, read_state

    cfg, want = _mat_legacy_state(spark, tmp_path)
    for bid, events in enumerate(_MAT_BATCHES, start=1):
        _apply_batch(spark, cfg, _mat_batch(spark, events), bid)
        want = _mat_replay(want, events)
        assert _mat_stored(spark, cfg) == want, f"batch {bid}"
    assert {(r.k, r.v) for r in read_state(spark, cfg).collect()} == {
        (k, v) for k, (v, _, _) in want.items()
    }


def test_materialize_batch_runs_two_jobs(spark, tmp_path):
    """A batch merged into a non-empty state runs at most 2 Spark jobs: the
    map stage (events parsed, state scanned, no schema inference) and the
    merge write. Jobs are read from the status store as ``measure`` reads
    them."""
    import time as _time

    from librarian_spark import measure
    from librarian_spark.streaming.materialize import _apply_batch

    cfg, _ = _mat_legacy_state(spark, tmp_path)
    _apply_batch(spark, cfg, _mat_batch(spark, _MAT_BATCHES[0]), 1)
    batch = _mat_batch(spark, _MAT_BATCHES[1])
    sc = spark.sparkContext._jsc.sc()
    bus, store = sc.listenerBus(), sc.statusStore()
    measure._wait_for_listeners(bus)
    first_id = measure._last_job_id(store) + 1
    start_ms = int(_time.time() * 1000)
    _apply_batch(spark, cfg, batch, 2)
    end_ms = _time.time() * 1000
    measure._wait_for_listeners(bus)
    jobs = measure._jobs(store, first_id, start_ms, end_ms)
    assert 1 <= len(jobs) <= 2, jobs


def test_scd2_rejects_late_event_for_deleted_key(spark, tmp_path, sf_dir):
    """The out-of-order guard covers CLOSED histories too: a late event for a
    key whose last interval was closed by a delete must be rejected, not
    written as an overlapping open version."""
    import pytest as _pytest

    from librarian_spark.streaming.envelope import build_envelope_json, parse_envelope
    from librarian_spark.streaming.scd2 import SCD2Config, _apply_batch

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .limit(3)
    )

    def batch(op, ts_ms, lsn):
        after = (
            None if op == "d"
            else F.to_json(F.struct("o_orderkey", "o_totalprice"))
        )
        before = F.to_json(F.struct("o_orderkey")) if op == "d" else None
        env = orders.select(
            build_envelope_json(
                before_json=before, after_json=after,
                version=F.lit("1.0.0"), connector=F.lit("t"), name=F.lit("t"),
                source_ts_ms=F.lit(ts_ms).cast("long"), snapshot=F.lit("false"),
                db=F.lit("db"), schema=F.lit("s"), table=F.lit("orders"),
                op=F.lit(op), ts_ms=F.lit(ts_ms).cast("long"),
                lsn=F.lit(lsn).cast("long"),
            ).alias("value")
        )
        return parse_envelope(env, "value")

    cfg = SCD2Config(
        state_dir=str(tmp_path / "delgap_state"),
        checkpoint_dir=str(tmp_path / "delgap_ckpt"),
        key_cols=["o_orderkey"],
        row_ddl="o_orderkey long, o_totalprice double",
    )
    import os as _os

    _os.makedirs(cfg.state_dir, exist_ok=True)
    _apply_batch(spark, cfg, batch("c", 100_000, 1), 0)
    _apply_batch(spark, cfg, batch("d", 200_000, 2), 1)  # all keys closed
    with _pytest.raises(ValueError, match="high-watermark"):
        _apply_batch(spark, cfg, batch("u", 150_000, 3), 2)  # inside [100k,200k)


def test_materializers_survive_additive_schema_evolution(spark, tmp_path):
    """Restart with a WIDENED row_ddl (the change stream grew a column — the
    standard Debezium source-DDL scenario): both materializers must keep
    merging, backfilling pre-evolution state with typed NULLs for the new
    column and carrying real values for post-evolution events."""
    from librarian_spark.streaming.envelope import build_envelope_json
    from librarian_spark.streaming.materialize import (
        MaterializeConfig,
        materialize,
        read_state,
    )
    from librarian_spark.streaming.scd2 import (
        SCD2Config,
        read_history,
        scd2_materialize,
    )

    def env_lines(rows, path, op="c"):
        """rows: list of (after_json_string, ts_ms)."""
        df = spark.createDataFrame(rows, "aj string, t long")
        df.select(
            build_envelope_json(
                before_json=None,
                after_json=F.col("aj"),
                version=F.lit("1.0.0"),
                connector=F.lit("t"),
                name=F.lit("t"),
                source_ts_ms=F.col("t"),
                snapshot=F.lit("false"),
                db=F.lit("db"),
                schema=F.lit("s"),
                table=F.lit("tbl"),
                op=F.lit(op),
                ts_ms=F.col("t"),
                lsn=F.col("t"),
            ).alias("value")
        ).coalesce(1).write.mode("overwrite").text(path)

    src = str(tmp_path / "evo_src")
    env_lines([('{"k": 1, "v": 10.0}', 1000), ('{"k": 2, "v": 20.0}', 1000)],
              src + "/b1")

    # ---- latest-state materializer ----
    def mat_cfg(ddl):
        return MaterializeConfig(
            state_dir=str(tmp_path / "mat_state"),
            checkpoint_dir=str(tmp_path / "mat_ckpt"),
            key_cols=["k"],
            row_ddl=ddl,
        )

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src + "/b*")
    )
    q = materialize(spark, parse_envelope(stream, "value"), mat_cfg("k long, v double"))
    q.processAllAvailable()
    q.stop()

    # stream grows a column; key 2 updated with it, key 3 arrives with it
    env_lines(
        [('{"k": 2, "v": 21.0, "note": "n2"}', 2000),
         ('{"k": 3, "v": 30.0, "note": "n3"}', 2000)],
        src + "/b2",
    )
    cfg2 = mat_cfg("k long, v double, note string")
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src + "/b*")
    )
    q = materialize(spark, parse_envelope(stream, "value"), cfg2)
    q.processAllAvailable()
    q.stop()
    got = {(r.k, r.v, r.note) for r in read_state(spark, cfg2).collect()}
    assert got == {(1, 10.0, None), (2, 21.0, "n2"), (3, 30.0, "n3")}

    # ---- SCD2 materializer ----
    def scd2_cfg(ddl):
        return SCD2Config(
            state_dir=str(tmp_path / "scd2_state"),
            checkpoint_dir=str(tmp_path / "scd2_ckpt"),
            key_cols=["k"],
            row_ddl=ddl,
        )

    s2src = str(tmp_path / "evo_scd2_src")
    env_lines([('{"k": 1, "v": 10.0}', 1000)], s2src + "/b1")
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(s2src + "/b*")
    )
    q = scd2_materialize(
        spark, parse_envelope(stream, "value"), scd2_cfg("k long, v double")
    )
    q.processAllAvailable()
    q.stop()

    env_lines([('{"k": 1, "v": 11.0, "note": "n1"}', 2000)], s2src + "/b2",
              op="u")
    cfg2 = scd2_cfg("k long, v double, note string")
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(s2src + "/b*")
    )
    q = scd2_materialize(spark, parse_envelope(stream, "value"), cfg2)
    q.processAllAvailable()
    q.stop()
    hist = {
        (r.k, r.version, r.v, r.note, r.valid_to_ms, r.is_current)
        for r in read_history(spark, cfg2).collect()
    }
    assert hist == {
        (1, 1, 10.0, None, 2000, False),
        (1, 2, 11.0, "n1", None, True),
    }


def test_session_agg_resumes_from_checkpoint_mid_drain(spark, tmp_path, sf_dir):
    """Stop the stateful session-window query after it has drained the data
    files but BEFORE the watermark sentinel exists, then restart from the same
    checkpoint with the sentinel appended: the final output must equal the
    batch gap-sessionization as a MULTISET (duplicate-sensitive — a restart
    that re-emits already-written sessions must fail here), proving session
    state survives the restart and the file sink stays exactly-once. The
    phase split is deterministic: phase 1's input simply does not contain
    the sentinel yet, so nothing can flush in phase 1 regardless of timing."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    in_dir = str(tmp_path / "in")
    ev.repartition(4).write.parquet(in_dir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _start():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(in_dir)
        )
        sess = (
            stream.withWatermark("ts", "400 days")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("n_events").cast("long").alias("n_events"),
            )
        )
        return (
            sess.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # phase 1: drain the data files; the watermark (max ts - 400 d) is below
    # every session end, so NOTHING is emitted and all state is in-flight
    q = _start()
    q.awaitTermination()
    assert spark.read.schema(
        "user_id long, session_start timestamp, n_events long"
    ).parquet(out).count() == 0

    # the stream grows: the sentinel arrives, advancing the watermark
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(
        [(-1, -1, 0.0)], "event_id long, user_id long, value double"
    ).select(
        "event_id",
        F.expr("timestamp'2100-01-01 00:00:00'").alias("ts"),
        "user_id",
        "value",
    ).coalesce(1).write.mode("append").parquet(in_dir)

    # phase 2: restart from the checkpoint — carried state must flush exactly once
    q2 = _start()
    q2.awaitTermination()

    got = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    )
    from pyspark.sql.window import Window as W

    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.lag("ts").over(seq).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(seq))
            >= 1800 * 1_000_000
        ),
        1,
    ).otherwise(0)
    flagged = ev.select(
        "user_id",
        "ts",
        F.sum(gap).over(seq.rowsBetween(W.unboundedPreceding, 0)).alias("sid"),
    )
    want = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in flagged.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select("user_id", "session_start", "n_events")
        .collect()
    )
    assert got == want


def test_stream_outer_join_state_resumes_from_checkpoint(spark, tmp_path):
    """Stream-stream JOIN STATE must survive a query restart: a left-outer
    interval join is killed after the first micro-batch (left rows buffered
    in state, nothing matched yet), a NEW query starts over the same
    checkpoint + sink, and the drain must converge to the batch LEFT JOIN
    exactly once — no lost left rows (state restored), no duplicate output
    rows (sink idempotence across the restart boundary). This is the
    restart class pipeline_stream_outer_join relies on; the session-window
    twin is test_session_agg_resumes_from_checkpoint_mid_drain."""
    import datetime as dt

    from librarian_spark.operators.pipeline import (
        _stream_event_side,
        _user_window_join,
    )

    base = str(tmp_path)
    in_dir, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, user, kind):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, kind)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    # file 1: three views (u1 matched later, u2 never matched, u3 matched
    # in the SAME later batch window) — all held in join state at the kill
    spark.createDataFrame(
        [ev(1, 0, 1, "view"), ev(2, 1, 2, "view"), ev(3, 2, 3, "view")],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    def build():
        views = _stream_event_side(
            spark, in_dir, "view", "view", watermark="1 minute", max_files=1
        )
        buys = _stream_event_side(
            spark, in_dir, "purchase", "purchase",
            watermark="1 minute", max_files=1,
        )
        return _user_window_join(
            views, buys, "view", "purchase", 2, "leftOuter"
        ).select(
            F.col("view_id").cast("long").alias("view_id"),
            F.col("purchase_id").cast("long").alias("purchase_id"),
        )

    def start():
        return (
            build()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # kill with all three views buffered, zero rows emitted

    # file 2 (after the restart boundary): purchases for u1/u3 inside the
    # 2 h window; file 3: a far-future sentinel pair drains the state
    spark.createDataFrame(
        [ev(10, 30, 1, "purchase"), ev(11, 40, 3, "purchase")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [ev(-1, 60 * 24 * 40, -1, "view"), ev(-2, 60 * 24 * 40, -1, "purchase")],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    q2 = start()
    for _ in range(4):
        q2.processAllAvailable()
        got = (
            spark.read.schema("view_id long, purchase_id long")
            .parquet(out)
            .filter(F.col("view_id") >= 0)
        )
        if got.select("view_id").distinct().count() >= 3:
            break
        # eviction lags one batch — nudge like the registry query does
        spark.createDataFrame(
            [ev(-3, 60 * 24 * 80, -1, "view"), ev(-4, 60 * 24 * 80, -1, "purchase")],
            schema,
        ).coalesce(1).write.mode("append").parquet(in_dir)
    q2.stop()

    rows = sorted(
        (r["view_id"], r["purchase_id"])
        for r in spark.read.schema("view_id long, purchase_id long")
        .parquet(out)
        .filter(F.col("view_id") >= 0)
        .collect()
    )
    # exactly-once: matched views joined across the restart boundary (their
    # left rows came from restored state), unmatched view emitted null once
    assert rows == [(1, 10), (2, None), (3, 11)]


def test_dlq_routes_raw_payloads(spark):
    """pipeline_dlq's DLQ side: every corrupted payload lands in the DLQ
    with reason 'malformed' and its RAW bytes intact (replayability), and
    the good table + DLQ partition the input exactly."""
    import glob
    import os

    from pyspark.sql import functions as F

    from librarian_spark.operators.pipeline import _DLQ_MOD
    from librarian_spark.operators.registry import load_all
    from librarian_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    good = load_all()["pipeline_dlq"].spark_fn(spark, sf)
    n_good = good.count()
    ev = load_table(spark, sf, "events")
    n_all = ev.count()
    n_bad = ev.filter(
        (F.col("event_id") % _DLQ_MOD == 3)
        | F.col("user_id").isNull()
        | F.col("event_id").isNull()  # both keys required by the contract
    ).count()
    assert n_good == n_all - n_bad
    # the run-private dlq dir of the invocation above is the newest one
    from librarian_spark.scratch import scratch_root
    bases = sorted(
        glob.glob(f"{scratch_root()}/librarian_dlq_*/dlq_*"),
        key=os.path.getmtime,
    )
    dlq = spark.read.parquet(bases[-1])
    reasons = {r.reason: r.cnt for r in dlq.groupBy("reason").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert reasons.get("malformed", 0) == ev.filter(
        F.col("event_id") % _DLQ_MOD == 3).count()
    # raw payloads preserved verbatim for replay
    assert dlq.filter(F.col("raw").contains("%%TRUNCATED")).count() == reasons[
        "malformed"
    ]


def test_dedup_state_bounded_by_watermark(spark, tmp_path):
    """State-size-per-key bounded by the watermark — the 100 TB axis of
    the stateful-streaming family (VERDICT r10 #2): 12 time-ordered
    micro-batches of 500 fresh keys each flow through
    dropDuplicatesWithinWatermark with a 90-minute watermark. The state
    store must hold roughly the keys inside the watermark horizon
    (~2-3 batches), never the cumulative key set — on an unbounded
    stream, cumulative state OOMs no matter how wide the cluster. Proven
    from stateOperators.numRowsTotal per micro-batch, and zero rows may
    be falsely dropped (every key is unique → all 6000 must survive)."""
    import datetime as dt

    from pyspark.sql import types as T

    n_batches, keys_per_batch = 12, 500
    base_ts = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = tmp_path / "src"
    for b in range(n_batches):
        rows = [
            (b * keys_per_batch + i, base_ts + dt.timedelta(hours=b))
            for i in range(keys_per_batch)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"batch{b:02d}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "batch*"))
    )
    deduped = dedup_within_watermark(
        stream, keys=["event_id"], watermark="90 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("state_bound")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state_bound"))
        .start()
    )
    q.processAllAvailable()
    state_rows = [
        int(op["numRowsTotal"])
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    ]
    q.stop()

    total = spark.sql("SELECT COUNT(*) FROM state_bound").collect()[0][0]
    assert total == n_batches * keys_per_batch  # nothing falsely dropped
    assert state_rows, "no state metrics captured"
    # the horizon: keys live for watermark-delay (1.5 batch-hours) past
    # their event time, the watermark itself is computed from the PREVIOUS
    # batch's max ts, and eviction applies on the NEXT trigger — so the
    # steady state holds ceil(1.5)+2 = 4 batches of keys (measured plateau:
    # exactly 2000), constant while cumulative keys grow without bound
    horizon_bound = 4 * keys_per_batch
    assert max(state_rows) <= horizon_bound, (
        f"state grew past the watermark horizon: max {max(state_rows)} "
        f"rows vs bound {horizon_bound} (cumulative keys "
        f"{n_batches * keys_per_batch}) — eviction is broken"
    )
    # and it must be a PLATEAU, not growth that merely hadn't caught up:
    # the last batches' state equals the steady-state horizon, far below
    # the cumulative key count
    assert state_rows[-1] <= horizon_bound
    assert max(state_rows) < n_batches * keys_per_batch // 2


# --------------------------------------------------------------------------
# The pipeline drain helper: width captured at start(), query always stopped
# --------------------------------------------------------------------------


@pytest.fixture()
def ids_stream_dir(spark, tmp_path):
    """Two one-file micro-batches of ids, each id delivered twice."""
    src = tmp_path / "ids"
    for b in range(2):
        spark.range(b * 50, (b + 1) * 50).union(
            spark.range(b * 50, (b + 1) * 50)
        ).coalesce(1).write.parquet(str(src / f"b{b}"))
    return str(src / "b*")


@pytest.fixture()
def caller_width(spark):
    """Put the caller's session at a width no drain uses; restore after."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield key
    spark.conf.set(key, prev)


def test_drain_width_applies_to_batch_session_only(
    spark, ids_stream_dir, tmp_path, caller_width
):
    from librarian_spark.operators.pipeline import _DRAIN_WIDTH, _drain

    seen = []

    def fb(bdf, _bid):
        seen.append(
            (bdf.sparkSession.conf.get(caller_width), spark.conf.get(caller_width))
        )

    def drain(name: str, **kw) -> None:
        _drain(
            spark,
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(ids_stream_dir)
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start,
            **kw,
        )

    drain("default")
    assert seen == [(str(_DRAIN_WIDTH), "3")] * 2
    assert spark.conf.get(caller_width) == "3"
    # width=None: the batches plan at the caller's own width
    seen.clear()
    drain("caller", width=None)
    assert seen == [("3", "3")] * 2
    assert spark.conf.get(caller_width) == "3"


def test_drain_stops_query_when_batch_raises(
    spark, ids_stream_dir, tmp_path, caller_width
):
    from pyspark.errors import StreamingQueryException

    from librarian_spark.operators.pipeline import _drain

    def fb(_bdf, _bid):
        raise RuntimeError("batch failed")

    with pytest.raises(StreamingQueryException, match="batch failed"):
        _drain(
            spark,
            spark.readStream.schema("id long")
            .parquet(ids_stream_dir)
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start,
        )
    assert spark.streams.active == []
    assert spark.conf.get(caller_width) == "3"


def test_drain_width_recorded_in_offset_log(
    spark, ids_stream_dir, tmp_path, caller_width
):
    """A stateful file-sink drain records the drain width in offsets/0 and
    partitions its state by it, whatever width the caller's session has."""
    from librarian_spark.operators.pipeline import _DRAIN_WIDTH, _drain

    def drain(name: str, **kw) -> tuple[str, int]:
        ckpt = tmp_path / f"ckpt_{name}"
        _drain(
            spark,
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(ids_stream_dir)
            .dropDuplicates(["id"])
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{name}"))
            .option("checkpointLocation", str(ckpt))
            .start,
            **kw,
        )
        meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
        parts = [d for d in (ckpt / "state" / "0").iterdir() if d.name.isdigit()]
        return meta["conf"][caller_width], len(parts)

    assert drain("a") == (str(_DRAIN_WIDTH), _DRAIN_WIDTH)
    spark.conf.set(caller_width, "5")
    assert drain("b") == (str(_DRAIN_WIDTH), _DRAIN_WIDTH)
    assert drain("outer", width=4) == ("4", 4)
    assert spark.conf.get(caller_width) == "5"
    assert spark.read.parquet(str(tmp_path / "out_b")).count() == 100
