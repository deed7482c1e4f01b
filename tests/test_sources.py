"""Source/sink registry + mapper tests (reference §2a surface)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engine_spark.sources import (
    SINKS,
    SOURCES,
    create_sink_writer,
    create_source,
)
from engine_spark.sources.mappers import (
    bytes_in,
    bytes_out,
    csv_in,
    csv_out,
    json_in,
    json_out,
)


def test_registry_names_cover_reference_extensions():
    # reference eventflux_context.rs:485-505 registry names
    for s in ("timer", "websocket", "rabbitmq", "memory", "file"):
        assert s in SOURCES
    for s in ("log", "rabbitmq", "websocket", "callback", "memory"):
        assert s in SINKS


def test_timer_source_is_streaming_rate(spark):
    df = create_source(spark, {"extension": "timer", "rate": "5"})
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_unknown_extension_raises(spark):
    with pytest.raises(KeyError, match="unknown source extension"):
        create_source(spark, {"extension": "kafka9000"})


def test_rabbitmq_requires_queue(spark):
    # the rabbitmq extension is a real AMQP connector now (tests/test_amqp.py
    # covers the live path); without a queue it must fail fast, not hang
    with pytest.raises(ValueError, match="queue"):
        create_source(spark, {"extension": "rabbitmq"})


def test_json_mapper_roundtrip(spark):
    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ('{"a": 2, "b": "y"}',)], "value string"
    )
    typed = json_in(df, "a int, b string")
    assert [tuple(r) for r in typed.orderBy("a").collect()] == [(1, "x"), (2, "y")]
    back = json_out(typed)
    assert back.columns == ["value"]
    assert '"a":1' in back.orderBy("value").collect()[0]["value"]


def test_csv_mapper_roundtrip(spark):
    df = spark.createDataFrame([("1,x",), ("2,y",)], "value string")
    typed = csv_in(df, "a int, b string")
    assert [tuple(r) for r in typed.orderBy("a").collect()] == [(1, "x"), (2, "y")]
    back = csv_out(typed)
    assert [r["value"] for r in back.orderBy("value").collect()] == ["1,x", "2,y"]


def test_bytes_mapper_passthrough(spark):
    df = spark.createDataFrame([(bytearray(b"\x00\x01"),)], "value binary")
    out = bytes_in(df)
    assert out.schema["payload"].dataType.simpleString() == "binary"
    assert bytes(out.collect()[0]["payload"]) == b"\x00\x01"
    assert bytes_out(out).columns == ["value"]


def test_console_and_memory_sink_builders(spark):
    sdf = create_source(spark, {"extension": "timer"})  # writeStream needs a stream
    w = create_sink_writer(sdf, {"extension": "log"})
    assert w is not None  # DataStreamWriter configured for console
    w2 = create_sink_writer(sdf, {"extension": "memory", "query.name": "t_out"})
    assert w2 is not None


def test_with_clause_source_in_sql_ddl(spark):
    # CREATE STREAM ... WITH('type'='source','extension'='timer') auto-attach
    from engine_spark.plans import SqlApp

    app = SqlApp(spark)
    app.sql(
        "CREATE STREAM T (timestamp TIMESTAMP, value BIGINT) "
        "WITH ('type'='source', 'extension'='timer', 'rate'='3');"
    )
    assert app.streams["T"].df.isStreaming
    # a query over the attached source compiles to a streaming frame
    out = app.sql("INSERT INTO Out SELECT value * 2 AS v2 FROM T WHERE value > 1;")
    assert out["Out"].isStreaming


def test_json_source_format_attach(spark, tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.json").write_text('{"v": "{\\"x\\": 7}"}\n')
    df = create_source(
        spark,
        {
            "extension": "file",
            "path": str(p),
            "schema": "v string",
        },
    )
    assert df.isStreaming


def test_file_queue_exactly_once_across_crash_and_restart(spark, tmp_path):
    """Broker-parity contract: kill the query between the sink's segment
    commit and the checkpoint commit, restart — the re-delivered epoch is
    dropped (no dups) and unprocessed segments still arrive (no loss)."""
    import pytest as _pytest

    from engine_spark.sources.filequeue import FileQueue, file_queue_writer

    qin = FileQueue(str(tmp_path / "in"))
    qout = FileQueue(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v double"
    qin.publish([{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}])
    qin.publish([{"id": 3, "v": 3.0}])

    # phase 1: epoch 0's OUTPUT segment commits, then the query dies before
    # the checkpoint records the epoch (the worst-case crash window)
    armed = {"on": True}

    def crashy(bdf, eid):
        qout.publish_epoch_distributed(bdf, eid)
        if armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash between segment and checkpoint commit")

    q = (
        qin.stream(spark, schema)
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName("fq_crash")
        .start()
    )
    with _pytest.raises(Exception):
        q.awaitTermination()

    # phase 2: restart with the idempotent sink on the SAME checkpoint —
    # Spark re-runs epoch 0 (at-least-once), the sink detects the committed
    # segment and skips it
    q2 = (
        file_queue_writer(qin.stream(spark, schema), qout, ckpt)
        .trigger(availableNow=True)
        .queryName("fq_restart")
        .start()
    )
    q2.awaitTermination()
    got = sorted((r["id"], r["v"]) for r in qout.read_all(spark, schema).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]

    # locus check: epochs are committed EXECUTOR-side — each segment is a
    # Spark-written directory of part files (atomic dir rename), never a
    # driver-serialized JSONL, and no staging residue survives the commit
    epoch_dirs = [
        d for d in os.listdir(qout.segments) if os.path.isdir(os.path.join(qout.segments, d))
    ]
    assert epoch_dirs, "expected directory-shaped (distributed) epoch segments"
    for d in epoch_dirs:
        assert any(
            f.startswith("part-") for f in os.listdir(os.path.join(qout.segments, d))
        )
    assert not os.path.exists(os.path.join(qout.path, "_staging")) or not os.listdir(
        os.path.join(qout.path, "_staging")
    )

    # phase 3: publish while the consumer is down, restart again — the new
    # segment arrives exactly once on top of the already-delivered ones
    qin.publish([{"id": 4, "v": 4.0}])
    q3 = (
        file_queue_writer(qin.stream(spark, schema), qout, ckpt)
        .trigger(availableNow=True)
        .queryName("fq_resume")
        .start()
    )
    q3.awaitTermination()
    got = sorted((r["id"], r["v"]) for r in qout.read_all(spark, schema).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]


def test_file_queue_mixed_publish_paths_deliver_every_row(spark, tmp_path):
    """Driver-side ``publish`` and executor-side ``publish_epoch_distributed``
    feeding one live stream: every row is delivered in publish order, also
    the segments published after the consumer saw a current-dated epoch
    (a back-dated segment mtime falls behind the file source's maxFileAge
    horizon and is dropped without error), and no temporary file is ever
    written into the watched segment directory."""
    from engine_spark.sources.filequeue import FileQueue

    q = FileQueue(str(tmp_path / "q"))
    schema = "id long"
    ckpt = str(tmp_path / "ckpt")
    got: list[int] = []

    def drain(name: str) -> None:
        s = (
            q.stream(spark, schema)
            .writeStream.foreachBatch(
                lambda b, _i: got.extend(r["id"] for r in b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        s.awaitTermination()

    q.publish([{"id": 1}])
    q.publish_epoch_distributed(spark.createDataFrame([(2,)], schema), 0)
    drain("fq_mixed_1")
    q.publish([{"id": 3}])
    q.publish_epoch_distributed(spark.createDataFrame([(4,)], schema), 1)
    q.publish([{"id": 5}])
    drain("fq_mixed_2")
    assert got == [1, 2, 3, 4, 5]
    assert not [e for e in os.listdir(q.segments) if e.endswith(".tmp")]


def test_file_queue_with_clause_registration(spark, tmp_path):
    """The WITH(...)-style registry exposes filequeue as a first-class
    source/sink extension."""
    from engine_spark.sources.filequeue import FileQueue
    from engine_spark.sources.registry import create_sink_writer, create_source

    qin = FileQueue(str(tmp_path / "win"))
    qin.publish([{"id": 7}])
    src = create_source(
        spark,
        {"extension": "filequeue", "path": str(tmp_path / "win"), "schema": "id long"},
    )
    assert src.isStreaming
    writer = create_sink_writer(
        src,
        {
            "extension": "filequeue",
            "path": str(tmp_path / "wout"),
            "checkpoint": str(tmp_path / "wck"),
        },
    )
    q = writer.trigger(availableNow=True).queryName("fq_with").start()
    q.awaitTermination()
    out = FileQueue(str(tmp_path / "wout")).read_all(spark, "id long").collect()
    assert [r["id"] for r in out] == [7]


def test_file_queue_batch_and_stream_epoch_namespaces(spark, tmp_path):
    """A batch publish (prefix 'batch-') must not make a later stream's
    epoch 0 look like a crash replay: the two namespaces are disjoint, so
    both epoch-0 publishes land."""
    from engine_spark.sources.filequeue import FileQueue

    q = FileQueue(str(tmp_path / "q"))
    df = spark.createDataFrame([(1,)], "id long")
    assert q.publish_epoch_distributed(df, 0, prefix="batch-") is True
    # streaming epoch 0 on the same root: NOT a replay of the batch epoch
    assert q.publish_epoch_distributed(df, 0) is True
    # genuine replays within each namespace are still detected
    assert q.publish_epoch_distributed(df, 0, prefix="batch-") is False
    assert q.publish_epoch_distributed(df, 0) is False
    assert q.read_all(spark, "id long").count() == 2


# ---------------------------------------------------------------------------
# on.error fault routing (reference stream_junction.rs:31-66 OnErrorAction
# + fault_stream_junction)
# ---------------------------------------------------------------------------

def test_map_in_split_json_good_and_faults(spark):
    from engine_spark.sources.mappers import map_in_split

    d = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ("not json",), ('{"a": "oops"}',), (None,)],
        "value string",
    )
    good, faults = map_in_split("json", d, "a INT, b STRING")
    assert [tuple(r) for r in good.collect()] == [(1, "x")]
    got = {r.payload: r.error for r in faults.collect()}
    assert got["not json"] == "json mapper: malformed payload"
    assert got['{"a": "oops"}'] == "json mapper: malformed payload"
    assert got[None] == "json mapper: null payload"


def test_map_in_split_csv_and_bytes(spark):
    from engine_spark.sources.mappers import map_in_split

    d = spark.createDataFrame([("1,x",), ("zz,y",), ("1,2,3",)], "value string")
    good, faults = map_in_split("csv", d, "a INT, b STRING")
    assert [tuple(r) for r in good.collect()] == [(1, "x")]
    assert sorted(r.payload for r in faults.collect()) == ["1,2,3", "zz,y"]
    # bytes is a total cast: no fault branch
    good, faults = map_in_split("bytes", d)
    assert faults is None and good.count() == 3


def test_on_error_fault_stream_in_sql_app(spark, tmp_path):
    """Feed one malformed JSON row through a WITH('on.error'='fault')
    source: it arrives on <Stream>_fault (payload + error) while the main
    query keeps running over the good rows — the reference's
    OnErrorAction::STREAM fault-junction behavior."""
    from engine_spark.plans import SqlApp

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.txt").write_text('{"a": 5, "b": "ok"}\nBROKEN {\n{"a": 6, "b": "yo"}\n')
    app = SqlApp(spark)
    outs = app.sql(
        f"""
        CREATE STREAM In (a INT, b STRING) WITH (
            'type'='source', 'extension'='file', 'path'='{p}',
            'file.format'='text', 'schema'='value string',
            'format'='json', 'on.error'='fault');
        CREATE STREAM outOk (a INT, b STRING);
        CREATE STREAM outBad (payload STRING, error STRING);
        INSERT INTO outOk SELECT a, b FROM In;
        INSERT INTO outBad SELECT payload, error FROM In_fault;
        """
    )
    okq = (
        outs["outOk"].writeStream.format("memory").queryName("fr_ok")
        .trigger(availableNow=True).start()
    )
    badq = (
        outs["outBad"].writeStream.format("memory").queryName("fr_bad")
        .trigger(availableNow=True).start()
    )
    okq.awaitTermination(60)
    badq.awaitTermination(60)
    ok = {(r.a, r.b) for r in spark.sql("select * from fr_ok").collect()}
    bad = [tuple(r) for r in spark.sql("select * from fr_bad").collect()]
    assert ok == {(5, "ok"), (6, "yo")}
    assert bad == [("BROKEN {", "json mapper: malformed payload")]


def test_on_error_log_counts_malformed_via_observation(spark, tmp_path):
    """Default on.error='log': malformed rows are dropped from the good
    stream and counted through the on_error_<name> observation metric."""
    from engine_spark.plans import SqlApp

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.txt").write_text('{"a": 1}\nnope\n{"a": 2}\n')
    app = SqlApp(spark)
    outs = app.sql(
        f"""
        CREATE STREAM In (a INT) WITH (
            'type'='source', 'extension'='file', 'path'='{p}',
            'file.format'='text', 'schema'='value string', 'format'='json');
        CREATE STREAM o (a INT);
        INSERT INTO o SELECT a FROM In;
        """
    )
    assert "In_fault" not in app.streams  # log mode has no fault stream
    q = (
        outs["o"].writeStream.format("memory").queryName("fr_log")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    assert {r.a for r in spark.sql("select * from fr_log").collect()} == {1, 2}
    obs = q.lastProgress["observedMetrics"].get("on_error_In")
    assert obs is not None and obs["malformed"] == 1 and obs["events"] == 3


def test_on_error_store_and_unknown_raise(spark):
    from engine_spark.sources.registry import create_source_with_faults

    with pytest.raises(ValueError, match="on.error='store'"):
        create_source_with_faults(
            spark,
            {"extension": "timer", "format": "json",
             "event.schema": "a INT", "on.error": "store"},
        )
    with pytest.raises(ValueError, match="unknown on.error"):
        create_source_with_faults(
            spark, {"extension": "timer", "on.error": "explode"}
        )
