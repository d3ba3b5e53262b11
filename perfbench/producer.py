"""The ``stream_live`` load generator: a separate single process that
produces seeded events over the Kafka wire protocol.

    python3 -m perfbench.producer BOOTSTRAP TOPIC SEED USERS

It reads commands on stdin and answers each with one JSON line:

- ``backlog N``: produce N events as fast as possible;
- ``live RATE SECONDS``: produce at a fixed RATE events/s for SECONDS,
  on a schedule that does not slow when the broker or consumer does;
- ``quit``.

Every event is a JSON object carrying ``gen_ms``, its creation time in
epoch milliseconds, which is also its Kafka timestamp.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

from perfbench.inputs import EVENT_MIX, EVENT_TYPES, zipf_users

TICK_S = 0.01  # open-loop granularity: every tick sends what is due
BATCH = 500


class Producer:
    def __init__(self, bootstrap: str, topic: str, seed: int, users: int):
        from hstream_spark.sources.kafka_wire import KafkaClient

        self.client = KafkaClient(bootstrap)
        self.topic = topic
        self.rng = np.random.default_rng(seed)
        self.users = users
        self.next_id = 0
        self.produce_ms: list[float] = []

    def _events(self, n: int) -> list[bytes]:
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        users = zipf_users(self.rng, n, self.users)
        types = self.rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)
        values = np.round(self.rng.uniform(0, 100, n), 2)
        gen_ms = int(time.time() * 1000)
        return [
            (None, json.dumps({"event_id": i, "user_id": int(u),
                               "event_type": EVENT_TYPES[t],
                               "value": float(v), "gen_ms": gen_ms}).encode(),
             gen_ms)
            for i, u, t, v in zip(ids, users, types, values)
        ]

    def _send(self, n: int) -> None:
        for lo in range(0, n, BATCH):
            batch = self._events(min(BATCH, n - lo))
            t = time.perf_counter()
            self.client.produce(self.topic, batch, partition=0)
            self.produce_ms.append((time.perf_counter() - t) * 1e3)

    def backlog(self, n: int) -> dict:
        self._send(n)
        return {"produced": self.next_id}

    def live(self, rate: float, seconds: float) -> dict:
        start = time.perf_counter()
        total = int(rate * seconds)
        sent, late_max, self.produce_ms = 0, 0.0, []
        first = self.next_id
        while sent < total:
            now = time.perf_counter()
            due = min(total, int((now - start) * rate) + 1)
            if due > sent:
                # how far behind schedule the oldest unsent event is
                late_max = max(late_max, now - (start + sent / rate))
                self._send(due - sent)
                sent = due
            time.sleep(TICK_S)
        return {"produced": self.next_id, "live_first_id": first,
                "live_events": sent, "late_ms_max": late_max * 1e3,
                "produce_ms_p50": float(np.median(self.produce_ms))
                if self.produce_ms else 0.0}


def main() -> int:
    bootstrap, topic, seed, users = sys.argv[1:5]
    p = Producer(bootstrap, topic, int(seed), int(users))
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd or cmd[0] == "quit":
                break
            if cmd[0] == "backlog":
                out = p.backlog(int(cmd[1]))
            elif cmd[0] == "live":
                out = p.live(float(cmd[1]), float(cmd[2]))
            else:
                out = {"error": f"unknown command {cmd[0]!r}"}
            print(json.dumps(out), flush=True)
    finally:
        p.client.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
