"""Seeded pmacct (Schema A) flow generator and its own expected totals.

The engine under test receives only the JSON-lines files written here;
every total the benchmark checks the engine against is computed from the
generator's side of the exchange, never read back from the engine.
"""

from __future__ import annotations

import os
import random
import threading
import time
from datetime import datetime, timezone
from typing import NamedTuple

# The reference dashboard's fixed host (accessTrend.ts routes on
# ip_dst = HOST for "in" and everything else for "out").
HOST = "192.168.178.80"
_PEERS = [
    "192.168.178.1",
    "192.168.178.23",
    "192.168.178.54",
    "10.0.0.5",
    "10.0.3.17",
    "172.16.3.9",
    "8.8.8.8",
    "1.1.1.1",
    "140.82.121.4",
    "151.101.1.69",
]
EVENT_TYPES = ("purge", "purge_init", "purge_close")
_PROTOS = ("tcp", "udp", "icmp")
_EPOCH0_END = "1969-12-31 16:00:00.000000"


def stamp(t: float) -> str:
    """pmacct's sortable UTC timestamp string for epoch seconds ``t``."""
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")


class Totals:
    """What the landed table and the dashboard must show for a set of
    flows: per-event_type row/bytes/packets sums and the per-day in/out
    rollup of ``access_trend`` with ``ip_dst = HOST`` as the in-branch."""

    def __init__(self) -> None:
        self.by_type: dict[str, list[int]] = {}
        self.by_day: dict[str, list[int]] = {}

    @property
    def rows(self) -> int:
        return sum(v[0] for v in self.by_type.values())

    def add_flow(self, event_type: str, day: str, inbound: bool, nbytes: int, packets: int) -> None:
        t = self.by_type.setdefault(event_type, [0, 0, 0])
        t[0] += 1
        t[1] += nbytes
        t[2] += packets
        d = self.by_day.setdefault(day, [0, 0, 0, 0])
        if inbound:
            d[0] += nbytes
            d[1] += 1
        else:
            d[2] += nbytes
            d[3] += 1

    def merge(self, other: "Totals") -> None:
        for k, v in other.by_type.items():
            t = self.by_type.setdefault(k, [0, 0, 0])
            for i, x in enumerate(v):
                t[i] += x
        for k, v in other.by_day.items():
            d = self.by_day.setdefault(k, [0, 0, 0, 0])
            for i, x in enumerate(v):
                d[i] += x

    def payload(self, day_from: str, day_to: str) -> list[dict]:
        """The dashboard payload these flows must produce for the
        string range ``day_from <= timestamp <= day_to``: the reference's
        ``res.json`` rows, ascending by day."""
        return [
            {
                "day": day,
                "in_value": float(v[0]),
                "in_events": v[1],
                "out_value": float(v[2]),
                "out_events": v[3],
            }
            for day, v in sorted(self.by_day.items())
            if day_from <= day and day < day_to
        ]


class FlowGen:
    """Deterministic flow contents from ``seed``; timestamps are passed in."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)

    def lines(self, stamps: list[float], totals: Totals) -> str:
        """One JSON line per stamp (epoch seconds), folded into ``totals``."""
        rng = self.rng
        out = []
        for t in stamps:
            ts = stamp(t)
            et = EVENT_TYPES[rng.randrange(8) % 3]  # uneven mix: 3/8, 3/8, 2/8
            inbound = rng.random() < 0.4
            if inbound:
                src, dst = rng.choice(_PEERS), HOST
            else:
                src, dst = HOST, rng.choice(_PEERS)
            packets = rng.randint(1, 64)
            nbytes = packets * rng.randint(40, 1500)
            out.append(
                f'{{"event_type": "{et}", "iface_in": 0, "iface_out": 0, '
                f'"ip_src": "{src}", "ip_dst": "{dst}", '
                f'"port_src": {rng.randint(1024, 65535)}, "port_dst": {rng.choice((22, 53, 80, 443, 8080))}, '
                f'"tcp_flags": "24", "ip_proto": "{rng.choice(_PROTOS)}", "tos": 0, '
                f'"timestamp_start": "{ts}", "timestamp_end": "{_EPOCH0_END}", '
                f'"timestamp_arrival": "{ts}", "packets": {packets}, "bytes": {nbytes}, '
                f'"writer_id": "default_kafka/9190"}}'
            )
            totals.add_flow(et, ts[:10], inbound, nbytes, packets)
        return "\n".join(out) + "\n"


def publish(staging: str, target: str, name: str, text: str) -> None:
    """Write ``text`` beside the watched directory, then rename it in:
    the file source never lists a half-written file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.rename(tmp, os.path.join(target, name))


def write_backlog(seed: int, target: str, staging: str, n_files: int, rows_per_file: int,
                  t_from: float, t_to: float) -> tuple[Totals, list[str]]:
    """A historical backlog: ``n_files`` files of seeded flows stamped
    within ``[t_from, t_to)``. Returns their totals and file names."""
    gen = FlowGen(seed)
    srng = random.Random(seed ^ 0x5EED)
    total, names = Totals(), []
    for i in range(n_files):
        stamps = sorted(srng.uniform(t_from, t_to) for _ in range(rows_per_file))
        names.append(f"flows-{i:06d}.json")
        publish(staging, target, names[-1], gen.lines(stamps, total))
    return total, names


class Published(NamedTuple):
    name: str
    start: float  # scheduled creation time of the file's first flow
    due: float  # when the file was due to be published
    totals: Totals


class OpenLoopPublisher(threading.Thread):
    """Publishes one file every ``interval`` seconds on a fixed schedule.

    File ``i`` holds the flows created during ``[t0 + i*interval,
    t0 + (i+1)*interval)``, each stamped with its scheduled creation
    time, and is due at the end of that interval (an exporter flushing
    its buffer). Contents are built ahead of the due time so the
    schedule does not slow when the system under test slows; lateness
    is the publish time minus the due time."""

    def __init__(self, seed: int, target: str, staging: str, rows_per_file: int,
                 interval: float, t0: float, t_end: float) -> None:
        super().__init__(name="flow-generator", daemon=True)
        self.gen = FlowGen(seed)
        self.target, self.staging = target, staging
        self.rows, self.interval = rows_per_file, interval
        self.t0, self.t_end = t0, t_end
        self.files: list[Published] = []
        self.late: list[float] = []

    def run(self) -> None:
        i = 0
        step = self.interval / self.rows
        while self.t0 + (i + 1) * self.interval <= self.t_end:
            start = self.t0 + i * self.interval
            due = start + self.interval
            ft = Totals()
            text = self.gen.lines([start + k * step for k in range(self.rows)], ft)
            time.sleep(max(0.0, due - time.time()))
            name = f"flows-{i:06d}.json"
            publish(self.staging, self.target, name, text)
            self.late.append(time.time() - due)
            self.files.append(Published(name, start, due, ft))
            i += 1
