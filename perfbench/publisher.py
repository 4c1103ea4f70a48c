"""Open-loop publisher for ``ingest_live``, run as its own process.

Usage: publisher.py BROKER_DIR SEED FIRST COUNT RATE REPORT

Sends messages FIRST .. FIRST+COUNT-1 of the seed's message stream to
the file broker double, the k-th of them due at t0 + k / RATE whether or
not the engine keeps up. Writes REPORT as JSON: t0 (epoch seconds),
rate, FIRST and how late the sender ran.
"""

from __future__ import annotations

import json
import sys
import time

import inputs


def main(argv: list[str]) -> int:
    broker, seed, first, count, rate, report = argv[:6]
    seed, first, count, rate = int(seed), int(first), int(count), float(rate)
    from hermod_spark.sources.mqtt_testing import FileBrokerHandle

    handle = FileBrokerHandle(broker)
    messages = inputs.live_messages(seed, first + count)[first:]
    t0 = time.time() + 0.2
    late_max = 0.0
    for i, (topic, payload, _kind) in enumerate(messages):
        due = t0 + i / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        handle.publish(topic, payload)
        late_max = max(late_max, time.time() - due)
    with open(report, "w", encoding="utf-8") as fh:
        json.dump({"t0": t0, "rate": rate, "first": first, "late_max_ms": late_max * 1000.0}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
