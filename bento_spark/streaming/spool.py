"""The spool bridge: how every connector input reaches Spark.

Structured Streaming sources must be replayable, and a broker socket is
not. So each connector input runs a driver-side bridge that writes every
message it receives into a spool directory as one file, makes the file
durable, and only then acks the message to the broker (Bento's
transaction model: the ack flows back only once the message is safe,
SURVEY §1). The stream itself is a plain file source over that directory,
whose offset log makes ingestion replayable and exactly-once downstream.

One on-disk format for every connector:

- body: a 1-byte flag, then the payload bytes. The flag is `v` for a value
  and `n` for a null (a Kafka tombstone). The flag also keeps an empty
  payload visible: the text source yields no row for a 0-byte file.
- metadata: numeric columns (ids, offsets, times) ride in the file name,
  `<seq:012d>-<field>-...-<uuid32>.msg`, each the hex of its decimal text
  or `n` for null, so the name stays far below the 255-byte limit. Text
  and structured columns (topics, keys, property maps) have no length
  bound, so they go in the body instead: a one-line JSON object between
  the flag and the payload. The sequence keeps arrival order sortable;
  the uuid keeps restarts that share a directory apart.
- durability: the body is written to a dot-prefixed tmp file (hidden from
  the file source), `fsync`ed, and renamed into place. The directory is
  `fsync`ed once per poll batch, before that batch's acks.

A connector subclasses `SpoolBridge` and supplies only its protocol:
`connect()`, `poll()` (yields `(ack_token, body, *meta)` tuples in `META`
order), `ack(tokens)` and `close()`. `read_spool(spark, dir, META)` is the
matching reader.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import uuid
from collections.abc import Iterable
from pathlib import Path
from typing import Any, ClassVar

#: META types written into the file name; every other type goes in the
#: body's JSON header
NAME_TYPES = frozenset({"int", "bigint", "long", "timestamp_ms"})


class SpoolBridge:
    """Base of every connector input bridge. Owns the thread loop, stop
    and join, error recording, liveness, and the spool writer.

    The loop calls `poll()` until stopped; each yielded message is `put`,
    the directory is synced, then `ack` gets the batch's tokens. A
    connector whose source is finite calls `finish()` from `poll()`; the
    loop ends after that batch. An exception raised while not stopping
    ends the bridge and is kept in `error` (a string naming the
    connector); `alive` turns False. A request/response poller makes its
    request through `request()`, which rides out transport faults."""

    connector: ClassVar[str] = "spool"
    #: (column, type) per metadata field; types: Spark DDL, or
    #: `timestamp_ms` for epoch milliseconds
    META: ClassVar[tuple[tuple[str, str], ...]] = ()
    #: the source ends by itself (a listing, a subprocess's output) and
    #: the bridge then calls `finish()`; a bounded run waits for it
    finite: ClassVar[bool] = False

    spool_dir: str
    error: str | None = None

    # -- connector protocol --------------------------------------------------
    def connect(self) -> None:
        """Open the connection. Runs in `start()`, so the caller sees
        connect errors directly."""

    def poll(self) -> Iterable[tuple]:
        """One poll: yield `(ack_token, body, *meta)` per message."""
        return ()

    def ack(self, tokens: list) -> None:
        """Ack a batch whose messages are durable in the spool."""

    def close(self) -> None:
        """Release the connection; must unblock a pending `poll()`."""

    # -- lifecycle -------------------------------------------------------------
    def start(self):
        self.open_spool()
        self.connect()
        self.spawn(self._loop, main=True)
        return self

    def open_spool(self) -> None:
        """Reset the run state and create the spool directory. `start()`
        calls it; a bridge with its own `start()` calls it first."""
        self._dir = Path(self.spool_dir)
        self._dir.mkdir(parents=True, exist_ok=True)
        self._stop = threading.Event()
        self._done = threading.Event()
        self._finish = False
        self._lock = threading.Lock()
        self._sync_lock = threading.Lock()
        self._seq = 0
        self._dirty = False
        self._threads: list[threading.Thread] = []
        self.error = None

    def spawn(self, target, *args, main: bool = False) -> threading.Thread:
        """Run `target(*args)` on a daemon thread whose exception, unless
        the bridge is stopping, becomes `error`. The `main` thread's exit
        marks the bridge finished."""

        def run() -> None:
            try:
                target(*args)
            except Exception as e:  # noqa: BLE001 — recorded, never swallowed
                if not self._stop.is_set() and self.error is None:
                    self.error = f"{self.connector} input: {type(e).__name__}: {e}"
            finally:
                if main:
                    self._done.set()

        t = threading.Thread(target=run, name=f"{self.connector}-spool", daemon=True)
        self._threads.append(t)
        t.start()
        return t

    def finish(self) -> None:
        """Mark the source exhausted: the loop ends after this batch."""
        self._finish = True

    @property
    def stopping(self) -> bool:
        return self._stop.is_set()

    def idle(self, seconds: float) -> bool:
        """Sleep between empty polls; True once the bridge is stopping."""
        return self._stop.wait(seconds)

    def request(self, call, *args, **kwargs):
        """One request of a request/response poller. A transport fault
        (refused, reset, timed out, an HTTP error status) is transient, as
        in the reference's pollers: after a 0.5 s backoff this returns
        None, and the next poll asks again."""
        try:
            return call(*args, **kwargs)
        except (OSError, http.client.HTTPException):
            self.idle(0.5)
            return None

    @property
    def finished(self) -> bool:
        return self._done.is_set()

    def wait_finished(self, timeout: float | None = None) -> bool:
        """Wait for a finite source to be consumed; raises the bridge's
        error if it failed."""
        done = self._done.wait(timeout)
        if self.error is not None:
            raise RuntimeError(self.error)
        return done

    @property
    def alive(self) -> bool:
        return self.error is None and any(t.is_alive() for t in self._threads)

    def stop(self) -> None:
        self._stop.set()
        try:
            self.close()
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set() and not self._finish:
            tokens = []
            for token, body, *meta in self.poll():
                if self._stop.is_set():
                    break  # unspooled, so unacked: the broker re-delivers
                self.put(body, *meta)
                tokens.append(token)
            if tokens:
                self.sync()
                self.ack(tokens)

    # -- the writer ------------------------------------------------------------
    def put(self, body: bytes | str | None, *meta: Any) -> str:
        """Durably write one message; returns the file stem. The file is
        synced and renamed into place; call `sync()` before acking."""
        if isinstance(body, str):
            body = body.encode("utf-8")
        named, header = [], {}
        for (col, typ), v in zip(self.META, meta, strict=True):
            if typ in NAME_TYPES:
                named.append("n" if v is None else str(v).encode("utf-8").hex())
            elif v is None or typ != "string":
                header[col] = v
            else:
                header[col] = v.decode("utf-8", "replace") if isinstance(v, bytes) else str(v)
        data = b"n" if body is None else b"v"
        if header:
            # ensure_ascii: no raw newline, and one character per byte
            data += json.dumps(header).encode("ascii") + b"\n"
        if body is not None:
            data += bytes(body)
        with self._lock:
            self._seq += 1
            seq = self._seq
        stem = "-".join([f"{seq:012d}", *named, uuid.uuid4().hex])
        name = f"{stem}.msg"
        tmp = self._dir / f".{name}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._dir / name)
        self._dirty = True
        return stem

    def sync(self) -> None:
        """fsync the spool directory if a rename happened since the last
        sync, so the renames survive a host crash."""
        with self._sync_lock:
            if not self._dirty:
                return
            self._dirty = False
            fd = os.open(self._dir, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def read_spool(spark, spool_dir: str, meta_cols=(), max_files_per_trigger: int | None = None,
               *, whole_body: bool = True, with_request_id: bool = False,
               streaming: bool = True):
    """Read a spool directory: `value` (NULL for a null message), one
    column per `meta_cols` entry decoded from the file name or the body's
    JSON header, and the file stem as `request_id` when asked (the key
    `sync_response` replies by). `whole_body=False` yields one row per body
    line. Everything is decoded JVM-side; `streaming=False` reads a
    finished spool as a batch."""
    from pyspark.sql import functions as F

    rd = (spark.readStream if streaming else spark.read).format("text").option("wholetext", "true")
    if max_files_per_trigger is not None and streaming:
        rd = rd.option("maxFilesPerTrigger", int(max_files_per_trigger))
    # dot-prefixed tmp files are hidden by Spark's path filter; the glob
    # keeps it explicit
    df = rd.load(f"{spool_dir}/*.msg")
    stem = F.regexp_extract(F.input_file_name(), r"([^/]+)\.msg$", 1)
    fields = F.split(stem, "-")
    in_body = [(n, t) for n, t in meta_cols if t not in NAME_TYPES]
    # the header ends at the first newline: JSON text escapes its own
    payload = F.expr("substring(value, instr(value, '\\n') + 1)" if in_body
                     else "substring(value, 2)")
    header = F.from_json(F.expr("substring(value, 2, instr(value, '\\n') - 2)"),
                         ", ".join(f"`{n}` {t}" for n, t in in_body)) if in_body else None
    cols = [F.when(F.substring("value", 1, 1) == "v", payload).alias("value")]
    i = 0
    for name, typ in meta_cols:
        if typ in NAME_TYPES:
            i += 1
            raw = F.element_at(fields, i + 1)
            col = F.when(raw != "n", F.decode(F.unhex(raw), "UTF-8")).cast(
                "bigint" if typ == "timestamp_ms" else typ)
            if typ == "timestamp_ms":
                col = F.timestamp_millis(col)
        else:
            col = header[name]
        cols.append(col.alias(name))
    if with_request_id:
        cols.append(stem.alias("request_id"))
    df = df.select(*cols)
    if not whole_body:
        # the text source's line split: \n, \r\n or \r; a final terminator
        # ends the last line rather than opening an empty one
        lines = F.split(F.regexp_replace("value", r"(\r\n|\r|\n)$", ""), r"\r\n|\r|\n")
        df = df.where(F.col("value") != "").withColumn("value", F.explode(lines))
    return df
