"""Deterministic change-event inputs for the benchmark.

Every event is drawn from a numpy generator seeded by (seed, stream, epoch),
so one seed always yields the same events, and an epoch can be regenerated
on its own.  Events are kept in compact numeric form; the string payload is
a pure function of the numeric fields, which lets the correctness gate
rebuild the expected rows for the winners only.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OPS = np.array(["INSERT", "UPDATE", "DELETE"], dtype=object)
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
ROLE_TOOL = 3
TS_BASE = 1_700_000_000

# Staged canonical change schema (what apply_changes and merge consume).
ARROW_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("lsn", pa.int64()),
        ("source_file", pa.string()),
    ]
)
PK = ["conv_id", "turn_idx"]
DUP_FRAC = 0.05  # share of an epoch's events that are exact re-deliveries
PAYLOAD = ["role", "text", "tool", "ts"]


@dataclass
class Events:
    """A batch of change events in compact form (one array per field)."""

    conv: np.ndarray  # int32 conversation number
    turn: np.ndarray  # int32 turn index
    op: np.ndarray  # int8 index into OPS
    lsn: np.ndarray  # int64, unique per original event
    role: np.ndarray  # int8 index into ROLES
    tool: np.ndarray  # int8 tool number (used when role is "tool")
    pad: np.ndarray  # int8 extra text length
    source: str

    def __len__(self) -> int:
        return len(self.lsn)

    @staticmethod
    def concat(parts: list["Events"]) -> "Events":
        fields = ("conv", "turn", "op", "lsn", "role", "tool", "pad")
        return Events(
            *[np.concatenate([getattr(p, f) for p in parts]) for f in fields],
            source="*",
        )


def conv_ids(conv: np.ndarray) -> list[str]:
    return [f"conv_{c:06d}" for c in conv.tolist()]


def texts(conv, turn, lsn, pad) -> list[str]:
    return [
        f"turn text conv_{c:06d}/{t} seq={s} " + "x" * (8 + p)
        for c, t, s, p in zip(conv.tolist(), turn.tolist(), lsn.tolist(), pad.tolist())
    ]


def payload_columns(ev: Events) -> dict[str, list]:
    """The string/time payload of every event; DELETE rows carry nulls."""
    live = ev.op != 2
    role = np.where(live, ROLES[ev.role], None)
    tool = [
        f"tool_{x:02d}" if (r == ROLE_TOOL and keep) else None
        for r, x, keep in zip(ev.role.tolist(), ev.tool.tolist(), live.tolist())
    ]
    text = [
        t if keep else None
        for t, keep in zip(texts(ev.conv, ev.turn, ev.lsn, ev.pad), live.tolist())
    ]
    return {"role": role.tolist(), "text": text, "tool": tool}


def timestamps_us(lsn: np.ndarray) -> np.ndarray:
    return (TS_BASE + lsn // 2) * 1_000_000


def to_arrow(ev: Events) -> pa.Table:
    pay = payload_columns(ev)
    return pa.table(
        {
            "op": OPS[ev.op].tolist(),
            "conv_id": conv_ids(ev.conv),
            "turn_idx": ev.turn.astype(np.int32),
            "role": pay["role"],
            "text": pay["text"],
            "tool": pay["tool"],
            "ts": pa.array(timestamps_us(ev.lsn), pa.timestamp("us", tz="UTC")),
            "lsn": ev.lsn,
            "source_file": [ev.source] * len(ev),
        },
        schema=ARROW_SCHEMA,
    )


def write_parquet(ev: Events, path: str) -> int:
    """Stage events as one canonical parquet file; returns its byte size."""
    pq.write_table(to_arrow(ev), path)
    return os.path.getsize(path)


DEBEZIUM_OP = {0: "c", 1: "u", 2: "d"}


def write_debezium(ev: Events, path: str) -> int:
    """Stage events as Debezium JSON envelopes (one ``value`` string per
    event, as a Kafka topic would hold them); returns the file size."""
    pay = payload_columns(ev)
    ts_us = timestamps_us(ev.lsn).tolist()
    values = []
    for i, (c, t, o, s) in enumerate(
        zip(ev.conv.tolist(), ev.turn.tolist(), ev.op.tolist(), ev.lsn.tolist())
    ):
        key = {"conv_id": f"conv_{c:06d}", "turn_idx": t}
        if o == 2:
            before, after = key, None
        else:
            stamp = dt.datetime.fromtimestamp(ts_us[i] / 1e6, dt.timezone.utc)
            before = None
            after = {
                **key,
                "role": pay["role"][i],
                "text": pay["text"][i],
                "tool": pay["tool"][i],
                "ts": stamp.strftime("%Y-%m-%d %H:%M:%S"),
            }
        values.append(
            json.dumps(
                {
                    "before": before,
                    "after": after,
                    "source": {"db": "chat", "table": ev.source, "lsn": s},
                    "op": DEBEZIUM_OP[o],
                    "ts_ms": ts_us[i] // 1000,
                },
                separators=(",", ":"),
            )
        )
    pq.write_table(pa.table({"value": values}), path)
    return os.path.getsize(path)


class Stream:
    """The change stream of one workload: a bootstrap that inserts every
    key once, then epochs of upserts and deletes.

    ``active`` is None for keys drawn zipf-2 over all conversations (the
    bulk catch-up regime); an int N draws conversations from a window of
    N recent ones that slides by N/3 per epoch (the trickle regime, where
    recent keys are favoured)."""

    def __init__(
        self,
        seed: int,
        n_convs: int,
        turns: int,
        epoch_events: int,
        active: int | None = None,
    ):
        self.seed = seed
        self.n_convs = n_convs
        self.turns = turns
        self.epoch_events = epoch_events
        self.active = active

    def _rng(self, stream: int, epoch: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream, epoch])

    def _payload(self, rng, n):
        return (
            rng.integers(0, 4, n, dtype=np.int8),
            rng.integers(0, 20, n, dtype=np.int8),
            rng.integers(0, 64, n, dtype=np.int8),
        )

    def bootstrap(self) -> Events:
        n = self.n_convs * self.turns
        rng = self._rng(0, 0)
        keys = rng.permutation(n)
        role, tool, pad = self._payload(rng, n)
        return Events(
            conv=(keys // self.turns).astype(np.int32),
            turn=(keys % self.turns).astype(np.int32),
            op=np.zeros(n, dtype=np.int8),
            lsn=np.arange(n, dtype=np.int64) * 2,
            role=role,
            tool=tool,
            pad=pad,
            source="bootstrap",
        )

    def epoch(self, k: int) -> Events:
        """Epoch ``k`` (0-based): unique lsns above every earlier epoch's,
        arrival order shuffled, DUP_FRAC of them exact re-deliveries."""
        n = self.epoch_events
        n_base = n - int(n * DUP_FRAC)
        rng = self._rng(1, k)
        u = rng.random(n_base)
        if self.active is None:
            conv = np.floor(self.n_convs * u**2).astype(np.int32)
        else:
            start = k * max(self.active // 3, 1)
            conv = ((start + np.floor(self.active * u**2)) % self.n_convs).astype(
                np.int32
            )
        turn = rng.integers(0, self.turns, n_base, dtype=np.int32)
        uo = rng.random(n_base)
        op = np.where(uo < 0.5, 0, np.where(uo < 0.9, 1, 2)).astype(np.int8)
        lsn0 = 2 * (self.n_convs * self.turns + k * n)
        lsn = lsn0 + 2 * np.arange(n_base, dtype=np.int64)
        role, tool, pad = self._payload(rng, n_base)
        # re-deliveries: exact copies of events of this epoch
        idx = np.concatenate([np.arange(n_base), rng.integers(0, n_base, n - n_base)])
        idx = idx[rng.permutation(n)]
        return Events(
            conv=conv[idx],
            turn=turn[idx],
            op=op[idx],
            lsn=lsn[idx],
            role=role[idx],
            tool=tool[idx],
            pad=pad[idx],
            source=f"epoch_{k:05d}",
        )
