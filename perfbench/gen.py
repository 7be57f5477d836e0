"""Seeded inputs: the events table every store is bulk-loaded from,
and the request sequences the workloads send.

Everything here is a pure function of the seed. The same seed gives
byte-identical tables and operation sequences; another seed gives
other ones. The program under test only ever sees the generated
statements and points.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
T0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
HOUR_NS = 3600 * 10**9
DAY_NS = 24 * HOUR_NS
DAYS = 30


@dataclass(frozen=True)
class Shape:
    """Size of the bulk-loaded events table: ``points`` events over
    ``len(EVENT_TYPES) * users`` series (``event_type|user_id``)."""

    points: int
    users: int


def events_table(seed: int, shape: Shape) -> pa.Table:
    """The events table in the testdata schema (event_id, ts, user_id,
    event_type, value, props): uniform timestamps over 30 days at
    microsecond resolution, exponential values rounded to cents."""
    rng = np.random.default_rng([seed, 0xE7])
    n = shape.points
    ts_us = T0_NS // 1000 + rng.integers(0, DAYS * DAY_NS // 1000, n)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, shape.users, n),
                            pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(seed: int, shape: Shape, path: str) -> pa.Table:
    tbl = events_table(seed, shape)
    pq.write_table(tbl, path)
    return tbl


def series_lengths(tbl: pa.Table) -> dict[str, int]:
    """Points per series of a bulk load of ``tbl``."""
    names = [f"{t}|{u}" for t, u in zip(
        tbl.column("event_type").to_pylist(),
        tbl.column("user_id").to_pylist())]
    out: dict[str, int] = {}
    for name in names:
        out[name] = out.get(name, 0) + 1
    return out


def _balanced(rng: random.Random, ops: list, turn: dict) -> list[dict]:
    """Tag each op with its template index (repeats of a statement
    share one) and give each template's requests alternating
    transports, from a seeded start that ``turn`` carries into the next
    cycle. A template repeated within a cycle is sent half over qpack
    and half over HTTP; one sent once per cycle alternates between
    cycles. A template's samples are thus split between the transports
    the same way for every seed."""
    out, tpls = [], {}
    for cls, q in ops:
        tpl = tpls.setdefault(q, len(tpls))
        flip = turn.setdefault(tpl, rng.random() < 0.5)
        turn[tpl] = not flip
        out.append({"cls": cls, "tpl": tpl, "q": q,
                    "tr": "qpack" if flip else "http"})
    rng.shuffle(out)
    return out


#: meta statements cost milliseconds: each template runs this many
#: times per cycle so their medians rest on several samples. It is a
#: sampling choice only: the estimators count every template once
META_REPEAT = 8


def serve_read_cycle(rng: random.Random, users: int,
                     turn: dict) -> list[dict]:
    """One cycle of the read mix: every template once (meta ones
    META_REPEAT times), with seeded parameters, in seeded order. Every
    cycle holds the same templates and match sizes, so every seed runs
    the same shapes in the same proportions; the seed picks event
    types, users and ranges. Each op carries its template index
    ``tpl``.

    meta statements are answered from the in-memory catalog; select
    statements run Spark jobs, rollup-servable (``sum/mean/max/count``
    at 1h or 1d) or not (``median``, ``limit``, ``derivative``,
    ``filter => difference``); the export reads every point. Matches:
    ``/t\\|1.*/`` holds 611 of a type's 1,500 users, ``/t\\|d.*/``
    with d in 2-9 holds 111, ``/t.*/`` all 1,500."""
    t, t2 = rng.sample(EVENT_TYPES, 2)
    d, d2 = rng.sample(range(2, 10), 2)
    u = rng.randrange(users)
    n = rng.randint(4, 9)
    lo = rng.randint(2, 12)
    hi = lo + rng.randint(6, 14)
    meta = [
        "count series",
        f"count series where length > {n}",
        f"list series name, length where length > {n + 4}",
        f"select count() from /{t}\\|1.*/",
        f"select last() from /{t2}\\|{d}.*/",
        "show",
    ]
    return _balanced(rng, [("meta", q) for q in meta] * META_REPEAT + [
        ("select", f"select sum(1h) from /{t}\\|1.*/"),
        ("select", f"select mean(1d) from /{t2}.*/ between "
                   f"'2024-01-{lo:02d}' and '2024-01-{hi:02d}'"),
        ("select", f"select max(1h) from '{t}|{u}'"),
        ("select", f"select count(1d) from /{t2}\\|{d}.*/"),
        ("select", f"select median(1d) from /{t}\\|{d2}.*/"),
        ("select", f"select mean(1h) from /{t2}\\|1.*/ "
                   f"merge as 'm' using mean(1h)"),
        ("select", f"select limit(20, mean) from /{t}\\|{d}.*/"),
        ("select", f"select derivative() from '{t2}|{u}'"),
        ("select", f"select filter(> {rng.randint(20, 80)}) => "
                   f"difference() from /{t}\\|{d2}.*/"),
        ("export", "select * from /.*/"),
    ], turn)


def serve_read_cycles(seed: int, users: int):
    """Endless seeded stream of read cycles."""
    rng = random.Random(f"serve_read:{seed}")
    turn: dict = {}
    while True:
        yield serve_read_cycle(rng, users, turn)


#: every k-th insert is followed by a meta read of a series it wrote,
#: every j-th also by a select of it
META_EVERY = 2
READ_EVERY = 5
#: inserts between two maintain() calls
MAINTAIN_EVERY = 20
SERIES_PER_BATCH = 50
POINTS_PER_SERIES = 20
#: new series ids start above the bulk set; at most this many per type
NEW_USERS = 300


def insert_batch(rng: random.Random, users: int) -> dict:
    """~50 series x 20 points: three quarters existing series, one
    quarter new ones; timestamps inside the bulk data's 30 days (so
    rollup shards go stale), shuffled out of order, with duplicate
    timestamps in every series."""
    batch: dict[str, list] = {}
    while len(batch) < SERIES_PER_BATCH:
        t = rng.choice(EVENT_TYPES)
        if rng.random() < 0.75:
            name = f"{t}|{rng.randrange(users)}"
        else:
            name = f"{t}|{users + rng.randrange(NEW_USERS)}"
        if name in batch:
            continue
        start = T0_NS + rng.randrange(DAYS * DAY_NS - DAY_NS)
        ts = [start + rng.randrange(DAY_NS)
              for _ in range(POINTS_PER_SERIES - 2)]
        ts += rng.sample(ts, 2)  # duplicate timestamps
        rng.shuffle(ts)
        batch[name] = [[x, round(rng.expovariate(1 / 50.0), 2) + 0.01]
                       for x in ts]
    return batch


def ingest_cycles(seed: int, users: int):
    """Endless seeded stream of ``ingest_mixed`` cycles: MAINTAIN_EVERY
    insert batches; after every META_EVERY-th a meta read of a series
    that insert wrote, after every READ_EVERY-th also a select of it;
    then one maintain(). Each op's template id is its position in the
    cycle: the catalog state, and so the cost, differs per position."""
    rng = random.Random(f"ingest_mixed:{seed}")
    while True:
        cycle = []
        for i in range(1, MAINTAIN_EVERY + 1):
            batch = insert_batch(rng, users)
            cycle.append({"cls": "insert", "points": batch,
                          "tr": "qpack"})
            name = rng.choice(sorted(batch))
            if i % META_EVERY == 0:
                cycle.append({"cls": "meta", "tr": "qpack",
                              "q": f"select last() from '{name}'"})
            if i % READ_EVERY == 0:
                cycle.append({"cls": "select", "tr": "qpack",
                              "q": f"select max(1h) from '{name}'"})
        cycle.append({"cls": "maintain", "tr": "engine"})
        for pos, op in enumerate(cycle):
            op["tpl"] = pos
        yield cycle


def warm_ops(workload: str, seed: int, users: int) -> list[dict]:
    """Untimed warm-up before the measured phase: one ``serve_read``
    cycle without its export, from its own seeded stream, so every
    select shape is planned and compiled once, as in a server that has
    been up for a while. ``ingest_mixed`` runs none: its set-up already
    ran the write paths, and its cycle is the same for every seed, so
    the first (colder) reads sit at the same place in every run."""
    if workload != "serve_read":
        return []
    return [op for op in next(serve_read_cycles(-1 - seed, users))
            if op["cls"] != "export"]
