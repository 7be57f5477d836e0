"""Correctness checks, run untimed after the measured phase.

``serve_read`` answers are compared with DuckDB over the same events
parquet the store was loaded from; ``ingest_mixed`` must hold exactly
the bulk base plus every acknowledged point.
"""

from __future__ import annotations

import math
import random

from . import gen

PTS = ("CREATE VIEW pts AS SELECT event_type || '|' || "
       "CAST(user_id AS VARCHAR) AS series, epoch_ns(ts) AS ts, "
       "event_id AS seq, value AS val FROM read_parquet('{path}')")


def _bucket(g: int) -> str:
    # right-closed buckets labelled by their end (SiriDB group_by)
    return f"((ts + {g - 1}) // {g}) * {g}"


def statements(seed: int) -> list[tuple[str, str, str]]:
    """(statement, DuckDB SQL, answer shape) — a fixed set of distinct
    statements over every serve_read class, with seeded parameters."""
    rng = random.Random(f"check:{seed}")
    t, t2 = rng.sample(gen.EVENT_TYPES, 2)
    d = rng.randint(2, 9)
    n = rng.randint(4, 9)
    lo = rng.randint(2, 12)
    hi = lo + rng.randint(6, 14)
    a, b = f"2024-01-{lo:02d}", f"2024-01-{hi:02d}"
    re1, re2 = f"{t}\\|1.*", f"{t2}\\|{d}.*"
    per = "SELECT series, count(*) AS n FROM pts GROUP BY 1"
    D = gen.DAY_NS

    def day(k: int) -> int:  # midnight UTC of 2024-01-k
        return gen.T0_NS + (k - 1) * D

    return [
        ("count series", "SELECT count(DISTINCT series) FROM pts",
         "count"),
        (f"list series name, length where length > {n + 4}",
         f"SELECT series, n FROM ({per}) WHERE n > {n + 4}", "list"),
        (f"select last() from /{re2}/",
         f"SELECT series, max(ts), last(val ORDER BY ts, seq) FROM pts "
         f"WHERE regexp_matches(series, '{re2}') GROUP BY 1", "points"),
        (f"select sum(1h) from /{re1}/",
         f"SELECT series, {_bucket(gen.HOUR_NS)}, sum(val) FROM pts WHERE "
         f"regexp_matches(series, '{re1}') GROUP BY 1, 2", "points"),
        (f"select mean(1d) from /{t2}.*/ between '{a}' and '{b}'",
         f"SELECT series, {_bucket(D)}, avg(val) FROM pts WHERE "
         f"regexp_matches(series, '{t2}.*') AND ts >= {day(lo)} "
         f"AND ts < {day(hi)} GROUP BY 1, 2", "points"),
        (f"select median(1d) from /{re1}/",
         f"SELECT series, {_bucket(D)}, median(val) FROM pts WHERE "
         f"regexp_matches(series, '{re1}') GROUP BY 1, 2", "points"),
        ("select * from /.*/",
         "SELECT series, ts, val FROM pts ORDER BY series, ts, seq",
         "points"),
    ]


def _close(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def _expected(con, sql: str, shape: str, stmt: str):
    rows = con.sql(sql).fetchall()
    if shape == "count":
        return rows[0][0]
    if shape == "list":
        return sorted([r[0], r[1]] for r in rows)
    out: dict = {}
    for series, ts, val in sorted(rows, key=lambda r: (r[0], r[1])):
        out.setdefault(series, []).append([ts, val])
    if " between " in stmt:
        # every matched series answers, with no points if none fall in
        # the range
        match = stmt.split(" from /", 1)[1].split("/", 1)[0]
        for (name,) in con.sql(
                "SELECT DISTINCT series FROM pts WHERE "
                f"regexp_matches(series, '{match}')").fetchall():
            out.setdefault(name, [])
    return out


def _diff(got, want, shape: str) -> str | None:
    if shape == "count":
        got = got.get("series") if isinstance(got, dict) else got
        return None if got == want else f"{got} != {want}"
    if shape == "list":
        got = sorted(got.get("series", [])) if isinstance(got, dict) \
            else got
        return None if got == want else (
            f"{len(got)} rows != {len(want)} rows")
    if not isinstance(got, dict):
        return f"answer is {type(got).__name__}"
    if set(got) != set(want):
        return f"series {len(got)} != {len(want)}"
    for name, pts in want.items():
        have = got[name]
        if len(have) != len(pts):
            return f"{name}: {len(have)} points != {len(pts)}"
        for (t1, v1), (t2, v2) in zip(have, pts):
            if t1 != t2 or not _close(v1, v2):
                return f"{name}: [{t1}, {v1}] != [{t2}, {v2}]"
    return None


def serve_read(client, events_path: str, seed: int) -> list[str]:
    """Mismatches (empty when every answer equals DuckDB's)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(PTS.format(path=events_path))
        bad = []
        for stmt, sql, shape in statements(seed):
            r = client.query(stmt)
            if not r.ok:
                bad.append(f"{stmt}: error {r.code} {r.body}")
                continue
            why = _diff(r.body, _expected(con, sql, shape, stmt), shape)
            if why is not None:
                bad.append(f"{stmt}: {why}")
        return bad
    finally:
        con.close()


def ingest_mixed(client, expected: dict) -> list[str]:
    """``count series`` and every series' length must equal the bulk
    base plus the acknowledged points."""
    bad = []
    r = client.query("count series")
    if not r.ok or r.body.get("series") != len(expected):
        bad.append(f"count series: {r.body} != {len(expected)}")
    r = client.query("list series name, length")
    got = {name: n for name, n in r.body.get("series", [])} \
        if r.ok else {}
    wrong = [k for k in set(got) | set(expected)
             if got.get(k) != expected.get(k)]
    if wrong:
        k = sorted(wrong)[0]
        bad.append(f"list series: {len(wrong)} series differ, e.g. "
                   f"{k}: {got.get(k)} != {expected.get(k)}")
    return bad
