"""File-backed MQTT broker double for the live 'mqtt' source.

Spark runs a Python DataSource's stream reader in its own runner
process, so an object held by the test process cannot deliver messages
to the reader directly. This double coordinates through the filesystem
instead — the same seam the spool already uses:

- :class:`FileBrokerHandle` (test side) appends published messages to
  ``<dir>/published.jsonl``;
- :func:`file_client_factory` (reader side, resolved via the live
  source's ``clientFactory`` import-path option) returns a client whose
  network loop is a polling thread over that file, invoking
  ``on_message`` for each new line that matches a subscribed filter.

Everything above the client — bridge spooling, offsets, partitions,
range reads, recovery — is the production code path; only paho's
socket loop is replaced by the file poll.
"""

from __future__ import annotations

import json
import os
import threading
import time


class FakeMessage:
    def __init__(self, topic: str, payload, qos: int = 0, retain: bool = False):
        self.topic = topic
        self.payload = payload
        self.qos = qos
        self.retain = retain


class FileBrokerHandle:
    """Test-side publish handle: one JSONL file of published messages."""

    def __init__(self, broker_dir: str):
        self.broker_dir = broker_dir
        os.makedirs(broker_dir, exist_ok=True)
        self.path = os.path.join(broker_dir, "published.jsonl")
        open(self.path, "a", encoding="utf-8").close()

    def publish(
        self, topic: str, payload: str, qos: int = 0, retain: bool = False
    ) -> None:
        rec = {"topic": topic, "payload": payload, "qos": qos, "retain": retain}
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()


class FileMqttClient:
    """The paho client surface, with the network loop replaced by a
    daemon thread polling the broker file."""

    POLL_SECONDS = 0.05

    def __init__(self, broker_dir: str):
        self._path = os.path.join(broker_dir, "published.jsonl")
        self.filters: list[str] = []
        self.connected = False
        self.on_message = None
        self._pos = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def connect(self, host: str, port: int, keepalive: int) -> None:
        self.connect_args = (host, port, keepalive)
        self.connected = True

    def subscribe(self, filt: str) -> None:
        self.filters.append(filt)

    def _poll(self) -> None:
        from hermod_spark.functions.topic import topic_matches_py

        while not self._stop.is_set():
            try:
                with open(self._path, encoding="utf-8") as fh:
                    fh.seek(self._pos)
                    while True:
                        line = fh.readline()  # not `for`: tell() stays legal
                        if not line or not line.endswith("\n"):
                            break  # EOF or torn tail write; next poll
                        self._pos = fh.tell()
                        rec = json.loads(line)
                        if self.on_message and any(
                            topic_matches_py(f, rec["topic"]) for f in self.filters
                        ):
                            self.on_message(
                                self,
                                None,
                                FakeMessage(
                                    rec["topic"],
                                    rec["payload"],
                                    rec.get("qos", 0),
                                    rec.get("retain", False),
                                ),
                            )
            except FileNotFoundError:
                pass
            self._stop.wait(self.POLL_SECONDS)

    def loop_start(self) -> None:
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def loop_stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2)
            self._thread = None

    def disconnect(self) -> None:
        self.connected = False


def file_client_factory(options) -> FileMqttClient:
    """Entry point for the live source's ``clientFactory`` option:
    ``clientFactory=hermod_spark.sources.mqtt_testing:file_client_factory``
    plus ``brokerDir=<dir>``."""
    broker_dir = options.get("brokerDir")
    if not broker_dir:
        raise ValueError("file_client_factory requires a 'brokerDir' option")
    return FileMqttClient(broker_dir)
