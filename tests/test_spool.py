"""The spool bridge (streaming/spool.py) through real connectors and their
in-process servers: empty messages survive, a dead bridge says so, acks
wait for fsync, a crash between spooling and acking loses nothing,
metadata of any length round-trips, and request/response pollers ride
out transient faults."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import uuid

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.azure_servicebus import MiniServiceBusBroker, encode_message
from bento_spark.streaming.beanstalkd import BeanstalkdClient, BeanstalkdSpooler, MiniBeanstalkdServer
from bento_spark.streaming.kafka_wire import KafkaWireClient, MiniKafkaBroker, encode_record_batch
from bento_spark.streaming.http_server import HttpPollSpooler
from bento_spark.streaming.mqtt import MiniMqttBroker, MqttSpooler
from bento_spark.streaming.nats import MiniNatsServer, NatsClient
from bento_spark.streaming.redis import MiniRedisServer, RedisClient, RedisStreamsSpooler
from bento_spark.streaming.sink import IdempotentParquetSink
from bento_spark.streaming.spool import SpoolBridge, read_spool
from bento_spark.streaming.sqs import SqsSpooler


def _wait(pred, timeout: float = 15.0, msg: str = "timed out") -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        assert time.monotonic() < deadline, msg
        time.sleep(0.05)


def _spooled(spool) -> list:
    return sorted(spool.glob("*.msg"))


# --------------------------------------------------------------------------
# empty messages and tombstones
# --------------------------------------------------------------------------


def _beanstalkd(srv):
    def produce():
        c = BeanstalkdClient(srv.host, srv.port)
        for body in (b"", b"x"):
            c.put(body)
        c.close()

    return f"beanstalkd:\n    address: {srv.host}:{srv.port}", produce


def _redis_list(srv):
    def produce():
        c = RedisClient(srv.host, srv.port)
        for body in ("", "x"):
            c.cmd("RPUSH", "jobs", body)
        c.close()

    return f"redis_list:\n    url: redis://{srv.host}:{srv.port}\n    key: jobs", produce


def _nats(srv):
    def produce():
        c = NatsClient(srv.host, srv.port)
        for body in (b"", b"x"):
            c.publish("ev", body)
        c.flush()
        c.close()

    return f"nats:\n    urls: [nats://{srv.host}:{srv.port}]\n    subject: ev", produce


@pytest.mark.parametrize("server_cls, connector", [
    (MiniBeanstalkdServer, _beanstalkd),
    (MiniRedisServer, _redis_list),
    (MiniNatsServer, _nats),
])
def test_empty_message_survives_yaml_round_trip(spark, tmp_path, server_cls, connector):
    srv = server_cls().start()
    spool = tmp_path / "spool"
    try:
        section, produce = connector(srv)
        p = compile_yaml(f"""
input:
  {section}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value
output:
  path: {tmp_path}/out
""")
        bridge = p.start_input()
        try:
            produce()
            _wait(lambda: len(_spooled(spool)) >= 2, msg="messages never spooled")
            q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
            q.awaitTermination(90)
        finally:
            bridge.stop()
    finally:
        srv.stop()
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.body for r in rows) == ["", "x"]


def test_kafka_tombstone_is_null_and_empty_is_empty(spark, tmp_path):
    broker = MiniKafkaBroker(num_partitions=1).start()
    spool = tmp_path / "spool"
    try:
        pub = KafkaWireClient("127.0.0.1", broker.port)
        pub.produce("t", 0, encode_record_batch(
            0, [(1000, b"gone", None, []), (1001, b"blank", b"", [])]))
        pub.close()
        p = compile_yaml(f"""
input:
  kafka_franz:
    seed_brokers: [127.0.0.1:{broker.port}]
    topics: [t]
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value
        root.key = this.kafka_key
output:
  path: {tmp_path}/out
""")
        bridge = p.start_input()
        try:
            _wait(lambda: len(_spooled(spool)) >= 2, msg="records never spooled")
            q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
            q.awaitTermination(90)
        finally:
            bridge.stop()
    finally:
        broker.stop()
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted((r.key, r.body) for r in rows) == [("blank", ""), ("gone", None)]


# --------------------------------------------------------------------------
# a dead bridge is reported, never silent
# --------------------------------------------------------------------------


@pytest.mark.parametrize("connector", ["beanstalkd", "mqtt"])
def test_bridge_reports_its_death(tmp_path, connector):
    spool = str(tmp_path / "spool")
    if connector == "beanstalkd":
        srv = MiniBeanstalkdServer().start()
        sp = BeanstalkdSpooler(srv.host, srv.port, spool).start()
    else:
        srv = MiniMqttBroker().start()
        sp = MqttSpooler(srv.host, srv.port, ["ev/#"], spool).start()
    try:
        assert sp.alive and sp.error is None
        srv.stop()
        _wait(lambda: not sp.alive, msg="bridge still alive after its server stopped")
        assert sp.error and connector in sp.error
    finally:
        sp.stop()
        srv.stop()


# --------------------------------------------------------------------------
# durability: fsync before ack, and no loss across a crash
# --------------------------------------------------------------------------


def test_file_and_directory_are_synced_before_each_ack(tmp_path, monkeypatch):
    events: list[tuple[str, object]] = []
    real_fsync, real_delete = os.fsync, BeanstalkdClient.delete

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        real_fsync(fd)

    def delete(self, job_id):
        events.append(("ack", job_id))
        return real_delete(self, job_id)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(BeanstalkdClient, "delete", delete)
    srv = MiniBeanstalkdServer().start()
    spool = tmp_path / "spool"
    try:
        pub = BeanstalkdClient(srv.host, srv.port)
        for i in range(3):
            pub.put(f"job-{i}".encode())
        pub.close()
        sp = BeanstalkdSpooler(srv.host, srv.port, str(spool)).start()
        try:
            _wait(lambda: sum(k == "ack" for k, _ in events) >= 3, msg="jobs never acked")
        finally:
            sp.stop()
    finally:
        srv.stop()
    spool_path = os.path.realpath(spool)
    acks = [i for i, (k, _) in enumerate(events) if k == "ack"]
    assert len(acks) == 3
    for i in acks:
        job_field = f"-{str(events[i][1]).encode().hex()}-"
        before = events[:i]
        # the job's own file, synced under its tmp name
        synced = [j for j, (k, p) in enumerate(before)
                  if k == "fsync" and job_field in p and p.endswith(".tmp")]
        assert synced, f"job {events[i][1]} acked before its file was synced"
        # then the directory that holds its rename
        assert ("fsync", spool_path) in before[synced[-1] + 1:], (
            f"job {events[i][1]} acked before the spool directory was synced")


class _CrashBeforeAck(BeanstalkdSpooler):
    """A bridge that dies after its first message is durable in the spool
    but before the broker hears the ack."""

    def ack(self, tokens: list) -> None:
        raise RuntimeError("killed between rename and ack")


def test_crash_between_rename_and_ack_loses_nothing(tmp_path):
    srv = MiniBeanstalkdServer().start()
    spool = tmp_path / "spool"
    bodies = [f"job-{i}".encode() for i in range(5)]
    try:
        pub = BeanstalkdClient(srv.host, srv.port)
        for body in bodies:
            pub.put(body, ttr_s=1)
        pub.close()
        crashed = _CrashBeforeAck(srv.host, srv.port, str(spool)).start()
        _wait(lambda: crashed.finished, msg="crashing bridge never died")
        assert not crashed.alive and "killed between rename and ack" in crashed.error
        crashed.stop()  # the dropped connection re-releases the reserved job
        assert len(_spooled(spool)) == 1

        restarted = BeanstalkdSpooler(srv.host, srv.port, str(spool)).start()
        try:
            def present():
                return {f.read_bytes()[1:] for f in _spooled(spool)} >= set(bodies)

            _wait(present, msg="a message was lost across the crash")
        finally:
            restarted.stop()
    finally:
        srv.stop()
    got = [f.read_bytes()[1:] for f in _spooled(spool)]
    assert set(got) == set(bodies)  # duplicates allowed, loss is not
    assert all(f.read_bytes()[:1] == b"v" for f in _spooled(spool))


class _Writer(SpoolBridge):
    """The bridge's writer alone, as a push server uses it."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self.open_spool()


def test_concurrent_puts_keep_every_message(tmp_path):
    writer = _Writer(str(tmp_path / "spool"))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def push() -> None:
            for _ in range(40):
                writer.put(b"x")
                writer.sync()

        threads = [threading.Thread(target=push) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    names = [f.name for f in _spooled(tmp_path / "spool")]
    assert len(names) == 16 * 40
    assert len({n.split("-")[0] for n in names}) == 16 * 40  # no sequence reused


# --------------------------------------------------------------------------
# metadata of any length
# --------------------------------------------------------------------------


def test_guid_service_bus_metadata_round_trips(spark, tmp_path):
    guid, corr = str(uuid.uuid4()), str(uuid.uuid4())
    broker = MiniServiceBusBroker().start()
    spool = tmp_path / "spool"
    try:
        broker.push("jobs", encode_message(b"alpha", properties=[
            guid, None, None, None, None, corr, "application/json"]))
        p = compile_yaml(f"""
input:
  azure_service_bus_queue:
    connection_string: "{broker.connection_string(entity='jobs')}"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value
        root.mid = this.service_bus_message_id
        root.corr = this.service_bus_correlation_id
        root.ctype = this.service_bus_content_type
        root.seq = this.service_bus_sequence_number
output:
  path: {tmp_path}/out
""")
        bridge = p.start_input()
        try:
            _wait(lambda: _spooled(spool), msg="message never spooled")
            assert bridge.alive, bridge.error
            p.run_stream(spark, checkpoint=str(tmp_path / "ckpt")).awaitTermination(90)
        finally:
            bridge.stop()
    finally:
        broker.stop()
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert [(r.body, r.mid, r.corr, r.ctype, r.seq) for r in rows] == [
        ("alpha", guid, corr, "application/json", 1)]


def test_redis_stream_entry_with_many_fields_round_trips(spark, tmp_path):
    fields = {f"field_{i:02d}": f"value-{i:02d}-" + "x" * 20 for i in range(30)}
    srv = MiniRedisServer().start()
    spool = tmp_path / "spool"
    try:
        c = RedisClient(srv.host, srv.port)
        c.cmd("XADD", "st", "*", "body", "hello", *(x for kv in fields.items() for x in kv))
        c.close()
        bridge = RedisStreamsSpooler(srv.host, srv.port, str(spool), streams=["st"]).start()
        try:
            _wait(lambda: _spooled(spool), msg="entry never spooled")
            assert bridge.alive, bridge.error
        finally:
            bridge.stop()
    finally:
        srv.stop()
    (row,) = read_spool(spark, str(spool), RedisStreamsSpooler.META, streaming=False).collect()
    assert (row.value, row.redis_stream) == ("hello", "st")
    assert row.redis_meta == fields


# --------------------------------------------------------------------------
# request/response pollers ride out transient faults
# --------------------------------------------------------------------------


def test_http_client_survives_a_503(tmp_path):
    import http.server

    hits = {"n": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            hits["n"] += 1
            body = b"" if hits["n"] == 1 else b"ok"
            self.send_response(503 if hits["n"] == 1 else 200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    spool = tmp_path / "spool"
    bridge = HttpPollSpooler(url=f"http://127.0.0.1:{srv.server_address[1]}/",
                             spool_dir=str(spool), interval_s=0.1,
                             drop_repeats=True).start()
    try:
        _wait(lambda: _spooled(spool), msg="message never arrived after the 503")
        assert bridge.alive, bridge.error
    finally:
        bridge.stop()
        srv.shutdown()
    assert hits["n"] >= 2
    assert [f.read_bytes() for f in _spooled(spool)] == [b"vok"]


def test_sqs_poller_survives_an_outage(tmp_path):
    import socket

    with socket.socket() as s:  # a port nothing listens on
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    bridge = SqsSpooler(endpoint=f"http://127.0.0.1:{port}",
                        queue_url=f"http://127.0.0.1:{port}/000000000000/q",
                        access_key="k", secret_key="s",
                        spool_dir=str(tmp_path / "spool")).start()
    try:
        time.sleep(4)  # longer than the client's own in-call retries
        assert bridge.alive, bridge.error
    finally:
        bridge.stop()


# --------------------------------------------------------------------------
# the CLI runs the bridge
# --------------------------------------------------------------------------


def test_cli_run_starts_the_input_bridge(spark, tmp_path):
    from bento_spark import __main__ as cli

    script = "import json\nfor i in range(3): print(json.dumps({'i': i}))\n"
    cfg = tmp_path / "sub.yaml"
    cfg.write_text(f"""
input:
  subprocess:
    name: {sys.executable}
    args: ["-c", {json.dumps(script)}]
    spool_dir: {tmp_path}/spool
pipeline:
  processors:
    - mapping: |
        root.i = this.value.parse_json("i int").i
output:
  path: {tmp_path}/out
""")
    assert cli.main(["run", "-c", str(cfg), "--checkpoint", str(tmp_path / "ckpt"),
                     "--timeout", "90"]) == 0
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.i for r in rows) == [0, 1, 2]


def test_cli_bounded_run_drains_an_unbounded_input(spark, tmp_path):
    from bento_spark import __main__ as cli

    spool = tmp_path / "spool"
    _Writer(str(spool)).put(b"hello")  # accepted before this run
    cfg = tmp_path / "http.yaml"
    cfg.write_text(f"""
input:
  http_server:
    address: 127.0.0.1:0
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value
output:
  path: {tmp_path}/out
""")
    t0 = time.monotonic()
    assert cli.main(["run", "-c", str(cfg), "--checkpoint", str(tmp_path / "ckpt"),
                     "--timeout", "120"]) == 0
    # the run never waits on the server, which has no end
    assert time.monotonic() - t0 < 80
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert [r.body for r in rows] == ["hello"]
