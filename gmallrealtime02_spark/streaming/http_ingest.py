"""HTTP log-ingest front (SURVEY §2.1 S5 + P6): the reference collects
app logs over HTTP and routes them to start/event Kafka topics
(gmall0317-logger LoggerController.java:28-37: POST ``/applog``, route on
the presence of a ``start`` field, reply ``"success"``; plus a rolling
file log, logback.xml:10-17).

Sandbox twin (no broker, no Spring): a stdlib ``ThreadingHTTPServer``
that spools each accepted payload as a JSON file into a per-route
directory, published ATOMICALLY (write to a hidden tmp name, then
``os.rename`` — Structured Streaming's file source lists complete files
only, so a half-written spool file can never be half-read).  A
``readStream.json`` on the route directory is then exactly the
downstream the reference's Kafka topics feed — same routing semantics,
same at-least-once handoff, swappable for the Kafka source builders in
``streaming/kafka.py`` when a broker exists.

Durability: a POST is published (renamed into its route directory)
before its ``success`` reply goes out, so every acked payload is
already visible to the file source and survives a collector crash.
There is no fsync, so a host power loss can still drop the OS's
unflushed pages.

Scale notes: the collector is the reference's ingress tier, not a Spark
operator — horizontal scale = N collector processes behind a balancer,
each spooling to its own prefix (filenames embed a uuid4, so spools
merge collision-free onto shared storage).  One file per POST is cheap
per trigger on a local master: the session lists a trigger's new files
on the driver (see ``session.py``).  What remains in sustained use is
the file source's ``latestOffset``.  Its write of the source's metadata
log forks nothing on a local master (``session.py``: about half of
``latestOffset`` went to process launches before).  Its cost is the
listing: it lists the whole route directory on every trigger —
O(files ever spooled).  The Kafka source builders in
``streaming/kafka.py`` do not pay it.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

START_ROUTE = "start"  # reference topic GMALL_START
EVENT_ROUTE = "event"  # reference topic GMALL_EVENT


def route_of(obj: dict) -> str:
    """LoggerController.java:31-36 — ``start`` field present ⇒ start log."""
    return START_ROUTE if obj.get("start") is not None else EVENT_ROUTE


class LogCollector:
    """Minimal ``/applog`` collector: validates JSON, routes, spools
    each payload atomically before acking it.  ``port=0`` binds an
    ephemeral port (tests)."""

    def __init__(
        self, spool_dir: str, host: str = "127.0.0.1", port: int = 0
    ) -> None:
        self.spool_dir = spool_dir
        for route in (START_ROUTE, EVENT_ROUTE):
            os.makedirs(os.path.join(spool_dir, route), exist_ok=True)
        os.makedirs(os.path.join(spool_dir, ".tmp"), exist_ok=True)

        collector = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — stdlib contract
                if self.path != "/applog":
                    self.send_error(404)
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    obj = json.loads(self.rfile.read(n))
                    if not isinstance(obj, dict):
                        raise ValueError("body must be a JSON object")
                except (ValueError, json.JSONDecodeError):
                    self.send_error(400, "invalid JSON body")
                    return
                collector._spool(route_of(obj), json.dumps(obj))
                body = b"success"  # LoggerController.java:37 reply parity
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # silence test output
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def start(self) -> "LogCollector":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def _spool(self, route: str, line: str) -> None:
        name = f"{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.spool_dir, ".tmp", name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(line + "\n")
        os.rename(tmp, os.path.join(self.spool_dir, route, name))


def log_stream(
    spark: SparkSession, spool_dir: str, route: str, schema: str
) -> DataFrame:
    """The streaming read side of a route's spool — the stand-in for the
    reference's GMALL_START / GMALL_EVENT topic consumers.  A plain file
    source: checkpointing gives exactly-once over the spooled files (S3
    by design — see streaming/jobs.py)."""
    return (
        spark.readStream.schema(schema)
        .json(os.path.join(spool_dir, route))
        .withColumn("ingest_route", F.lit(route))
    )
