"""Custom stateful streaming operators (applyInPandasWithState).

Two operators the built-in streaming aggregations can't express:

- ``streaming_series_stats``: the reference maintains per-series
  metadata (length, start, end) incrementally as points arrive
  (src/siri/db/series.c:131-178 updates on every buffer append) —
  here that is per-key mutable state updated per micro-batch and
  emitted in update mode, so the catalog view is continuously
  current WITHOUT rescanning the points table.

- ``streaming_dedup_first_seen``: exact dedup over a continuously
  arriving corpus — emit a document only the FIRST time its content
  hash is seen, across micro-batches and across restarts (state
  lives in the checkpoint). The built-in ``dropDuplicates`` keeps
  per-key rows in state too, but gives no control over what is
  emitted or stored; here state is one counter per content hash and
  the emitted row carries the duplicate count seen so far.

Scale posture: state is partitioned by the group key across
executors (hash shuffle — same layout as any groupBy), per-key state
is O(1) bytes, and the per-batch work is Arrow-batched pandas. At
100 TB/day ingest the state store grows with DISTINCT keys, not with
input volume.

Production state-store config: the default HDFS-backed provider
keeps every key's state on the executor HEAP — fine to ~10^6 keys
per partition, an OOM risk beyond. For key spaces that outgrow heap,
set

    spark.sql.streaming.stateStore.providerClass =
        org.apache.spark.sql.execution.streaming.state.\
RocksDBStateStoreProvider

(built into Spark, no extra jars): state lives off-heap/on-disk per
partition with changelog checkpointing to the fault-tolerant store,
so executor memory holds only the working set. The 10^6-key stress
suite (tests/test_streaming_stress.py, ``-m stress``) runs both
operators under RocksDB and asserts state rows == distinct keys —
input volume never enters the bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SERIES_STATS_SCHEMA = (
    "series string, length long, start long, end long")
_SERIES_STATE_SCHEMA = "length long, start long, end long"

DEDUP_SCHEMA = "content_hash long, doc_id long, dups_before long"
_DEDUP_STATE_SCHEMA = "n long"


def streaming_series_stats(stream_df: DataFrame, *,
                           series_col: str = "series",
                           ts_col: str = "ts") -> DataFrame:
    """Continuously-maintained per-series (length, start, end).

    Output mode: update — one row per series per micro-batch that
    touched it, carrying the cumulative stats."""

    def fn(key, pdfs, state: GroupState):
        length, start, end = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pdf["ts"]
            length += len(pdf)
            mn, mx = int(ts.min()), int(ts.max())
            start = mn if start is None else min(start, mn)
            end = mx if end is None else max(end, mx)
        state.update((length, start, end))
        import pandas as pd
        yield pd.DataFrame({
            "series": [key[0]], "length": [length],
            "start": [start], "end": [end]})

    shaped = stream_df.select(
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).cast("long").alias("ts"))
    return (
        shaped.groupBy("series")
        .applyInPandasWithState(
            fn, SERIES_STATS_SCHEMA, _SERIES_STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout)
    )


def streaming_dedup_first_seen(stream_df: DataFrame, *,
                               text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Emit each document the FIRST time its exact content hash
    appears in the stream; suppress every later duplicate.

    State per content hash: one counter. ``dups_before`` on the
    emitted row is how many duplicates of this content had already
    arrived in the same batch before the emitted one (0 = clean
    first sight)."""

    def fn(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        first_id = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            if n == 0 and first_id is None:
                first_id = int(pdf["doc_id"].iloc[0])
            n += len(pdf)
        state.update((n,))
        import pandas as pd
        if first_id is None:
            yield pd.DataFrame(
                {"content_hash": [], "doc_id": [],
                 "dups_before": []}).astype("int64")
        else:
            yield pd.DataFrame({
                "content_hash": [key[0]], "doc_id": [first_id],
                "dups_before": [0]})

    hashed = stream_df.select(
        F.xxhash64(F.col(text_col)).alias("content_hash"),
        F.col(id_col).cast("long").alias("doc_id"))
    return (
        hashed.groupBy("content_hash")
        .applyInPandasWithState(
            fn, DEDUP_SCHEMA, _DEDUP_STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout)
    )


SESSION_SCHEMA = ("user_id long, session_seq long, start long,"
                  " end long, n_events long")
_SESSION_STATE_SCHEMA = ("session_seq long, start long, end long,"
                         " n_events long")


def _sessionize_step(key, pdfs, state: GroupState, gap: int,
                     idle_timeout_ms: int | None):
    """One micro-batch of sessionization state transitions for one
    key — module-level so the timeout/tombstone contract is unit-
    testable with a fake GroupState (an end-to-end processing-time
    timeout test costs minutes of wall-clock per run)."""
    import pandas as pd

    if idle_timeout_ms is not None and state.hasTimedOut:
        seq, start, end, n = state.get
        # tombstone: keep the seq counter so a returning key's
        # sessions keep globally-unique (key, session_seq) pairs;
        # no new timeout — the tombstone fires no further timers
        state.update((seq, None, None, 0))
        if start is not None:
            yield pd.DataFrame(
                [(key[0], seq, start, end, n)],
                columns=["user_id", "session_seq", "start",
                         "end", "n_events"])
        return
    seq, start, end, n = state.get if state.exists else \
        (0, None, None, 0)
    closed = []
    ts_all = []
    for pdf in pdfs:
        if len(pdf):
            ts_all.append(pdf["ts"])
    if ts_all:
        for t in sorted(pd.concat(ts_all).astype("int64")):
            t = int(t)
            if start is None:
                seq, start, end, n = seq + 1, t, t, 1
            elif t - end > gap:
                closed.append((seq, start, end, n))
                seq, start, end, n = seq + 1, t, t, 1
            else:
                end, n = max(end, t), n + 1
    state.update((seq, start, end, n))
    if idle_timeout_ms is not None:
        state.setTimeoutDuration(idle_timeout_ms)
    if closed:
        yield pd.DataFrame(
            [(key[0], s, a, b, c) for s, a, b, c in closed],
            columns=["user_id", "session_seq", "start", "end",
                     "n_events"])
    else:
        yield pd.DataFrame({
            "user_id": pd.Series([], dtype="int64"),
            "session_seq": pd.Series([], dtype="int64"),
            "start": pd.Series([], dtype="int64"),
            "end": pd.Series([], dtype="int64"),
            "n_events": pd.Series([], dtype="int64")})


def streaming_sessionize(stream_df: DataFrame, gap: int, *,
                         key_col: str = "user_id",
                         ts_col: str = "ts",
                         idle_timeout_ms: int | None = None
                         ) -> DataFrame:
    """Streaming inactivity-gap sessionization — the streaming twin
    of ``operators.timeseries.sessionize``: a session CLOSES (and is
    emitted) when a later event of the same key arrives more than
    ``gap`` after the session's last event; the still-open session
    rides in state across micro-batches and restarts.

    ``idle_timeout_ms`` additionally closes a session whose KEY has
    gone quiet for that much processing time — without it, a user
    who never returns holds an open, never-emitted session forever.
    The flush keeps a tiny tombstone (the session_seq counter) in
    state so a returning key CONTINUES its numbering — emitted
    (key, session_seq) pairs stay unique, which any upserting sink
    depends on. Flushing is processing-time, so a very late event
    after a flush starts a NEW session — the same trade every
    session-window engine makes.

    Late events (earlier than the open session's end) extend the
    current session rather than reopening closed ones — streaming
    dedup of history is the batch operator's job; this one's
    contract is monotone state, O(1) per key.

    Output per closed session: (key, session_seq, start, end,
    n_events), session_seq 1-based per key in close order."""

    def fn(key, pdfs, state: GroupState):
        yield from _sessionize_step(key, pdfs, state, gap,
                                    idle_timeout_ms)

    shaped = stream_df.select(
        F.col(key_col).cast("long").alias("user_id"),
        F.col(ts_col).cast("long").alias("ts"))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (
        shaped.groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _SESSION_STATE_SCHEMA,
            "update", timeout)
    )


ANOMALY_SCHEMA = "series string, ts long, val double, z double"
_ANOMALY_STATE_SCHEMA = "vals array<double>"


def streaming_zscore_anomalies(stream_df: DataFrame, *,
                               window: int = 20,
                               threshold: float = 3.0,
                               series_col: str = "series",
                               ts_col: str = "ts",
                               val_col: str = "val") -> DataFrame:
    """Streaming twin of ``timeseries.zscore_anomalies``: each
    arriving point is scored against the trailing ``window`` values
    of its series, carried in checkpointed state, so anomalies fire
    continuously across micro-batches AND restarts.

    State per series is a bounded ring of the last ``window`` floats
    (O(window) — independent of stream length). The frame is
    exclusive, like the batch twin: a point is scored BEFORE being
    appended, so a spike can't suppress its own detection. Points
    inside a batch are processed in (ts) order for determinism.
    Output (append mode — every emitted row is final): flagged
    points only."""

    def fn(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        vals = list(state.get[0]) if state.exists else []
        out_ts, out_v, out_z = [], [], []
        # one global sort over the WHOLE micro-batch: a batch larger
        # than one Arrow chunk would otherwise process chunks in
        # arbitrary order, scoring early points against later ones
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts")
            for ts, v in zip(pdf["ts"], pdf["val"]):
                n = len(vals)
                if n >= 3:
                    mu = sum(vals) / n
                    var = sum((x - mu) ** 2 for x in vals) / (n - 1)
                    sd = math.sqrt(var)
                    if sd > 0:
                        z = (float(v) - mu) / sd
                        if abs(z) > threshold:
                            out_ts.append(int(ts))
                            out_v.append(float(v))
                            out_z.append(round(z, 6) + 0.0)
                vals.append(float(v))
                if len(vals) > window:
                    vals.pop(0)
        state.update((vals,))
        yield pd.DataFrame({
            "series": [key[0]] * len(out_ts), "ts": out_ts,
            "val": out_v, "z": out_z})

    shaped = stream_df.select(
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(val_col).cast("double").alias("val"))
    return (
        shaped.groupBy("series")
        .applyInPandasWithState(
            fn, ANOMALY_SCHEMA, _ANOMALY_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


HH_SCHEMA = "shard int, token string, count long, err long"
_HH_STATE_SCHEMA = ("tokens array<string>, counts array<long>,"
                    " errs array<long>")


def streaming_heavy_hitters(stream_df: DataFrame, *,
                            capacity: int = 64, shards: int = 8,
                            token_col: str = "token") -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: a space-saving
    summary of ``capacity`` entries per hash shard, keyed by
    ``hash(token) % shards`` — state is O(shards × capacity) no
    matter how many distinct tokens arrive, unlike a per-token
    counter whose state grows with the vocabulary. Each token hashes
    to exactly one shard, so the classic guarantee holds globally:
    ``count - err <= true_count <= count``, and any token with true
    count above the shard's minimum survives in the summary.

    Per micro-batch, per shard: batch-local exact counts (pandas
    value_counts), then the space-saving merge — present tokens add
    their batch count; new tokens take a free slot or evict the
    current minimum, inheriting its count as overestimation error.
    Emits the shard's full summary each batch (update mode); the
    top-k view is a union of shard summaries ordered by count."""

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            tokens, counts, errs = state.get
            summary = {t: [c, e] for t, c, e in
                       zip(tokens, counts, errs)}
        else:
            summary = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            batch = pdf["token"].value_counts()
            # largest first: a heavy new token should not be evicted
            # by a lighter one arriving later in the same batch
            for tok, n in batch.items():
                n = int(n)
                if tok in summary:
                    summary[tok][0] += n
                elif len(summary) < capacity:
                    summary[tok] = [n, 0]
                else:
                    victim = min(summary, key=lambda t:
                                 (summary[t][0], t))
                    base = summary.pop(victim)[0]
                    summary[tok] = [base + n, base]
        items = sorted(summary.items(),
                       key=lambda kv: (-kv[1][0], kv[0]))
        state.update(([t for t, _ in items],
                      [c for _, (c, _e) in items],
                      [e for _, (_c, e) in items]))
        yield pd.DataFrame({
            "shard": [int(key[0])] * len(items),
            "token": [t for t, _ in items],
            "count": [c for _, (c, _e) in items],
            "err": [e for _, (_c, e) in items],
        })

    keyed = stream_df.select(
        F.pmod(F.xxhash64(F.col(token_col)), F.lit(shards))
        .cast("int").alias("shard"),
        F.col(token_col).alias("token"))
    return (keyed.groupBy("shard")
            .applyInPandasWithState(
                fn, HH_SCHEMA, _HH_STATE_SCHEMA, "update",
                GroupStateTimeout.NoTimeout))


MINHASH_DEDUP_SCHEMA = "band long, bh long, doc_id long, dup_of long"
_MINHASH_STATE_SCHEMA = "owner long, n long"


def streaming_minhash_dedup(stream_df: DataFrame, *,
                            num_hashes: int = 16, bands: int = 4,
                            shingle_n: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Streaming NEAR-duplicate detection — the streaming twin of the
    batch ``dedup.minhash_lsh_pairs``. Each arriving document's
    MinHash signature is banded ROW-LOCALLY (the same zero-shuffle
    signature math as the batch operator); a stateful operator keyed
    by (band, bucket hash) remembers each bucket's FIRST owner and
    flags every later arrival as a candidate duplicate of it — across
    micro-batches and across restarts (state lives in the
    checkpoint).

    State per bucket is two longs, so the store grows with
    O(distinct documents × bands) — input volume never matters, and
    exact duplicates all land on one owner instead of pairing
    quadratically. Emitted rows are LSH *candidates* (a shared band
    means estimated Jaccard is probably high); the production pattern
    verifies them against a document store before dropping, exactly
    like the batch operator's est_jaccard filter. A document whose
    bands are all fresh emits nothing — it is the new owner of its
    buckets."""
    from ..operators.dedup import minhash_signatures

    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple"
            f" of bands ({bands}): a non-divisible split silently"
            " ignores the trailing signature rows and changes the"
            " LSH sensitivity curve")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(stream_df, num_hashes, shingle_n,
                             text_col, id_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.get("sig", i)
                         for i in range(b * rows_per_band,
                                        (b + 1) * rows_per_band)])
            .alias("bh"))
        for b in range(bands)
    ]
    banded = (sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb"))
        .select(F.col("bb.band").alias("band"),
                F.col("bb.bh").alias("bh"),
                F.col("doc_id").cast("long").alias("doc_id")))

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        owner, n = state.get if state.exists else (None, 0)
        dup_ids = []
        # collect ALL chunks first, then one sort: a batch that spans
        # several Arrow chunks must still pick the batch-global
        # minimum as owner, or reruns with different chunking would
        # emit different (doc_id, dup_of) pairs
        ids = [int(x) for pdf in pdfs for x in pdf["doc_id"]]
        for d in sorted(ids):
            if owner is None:
                owner = d
            elif d != owner:
                dup_ids.append(d)
            n += 1
        if owner is not None:
            state.update((owner, n))
        if not dup_ids:
            yield pd.DataFrame(
                {"band": [], "bh": [], "doc_id": [],
                 "dup_of": []}).astype("int64")
        else:
            yield pd.DataFrame({
                "band": [key[0]] * len(dup_ids),
                "bh": [key[1]] * len(dup_ids),
                "doc_id": dup_ids,
                "dup_of": [owner] * len(dup_ids)})

    return (banded.groupBy("band", "bh")
            .applyInPandasWithState(
                fn, MINHASH_DEDUP_SCHEMA, _MINHASH_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


EWMA_SCHEMA = "series string, ts long, ewma double"
_EWMA_STATE_SCHEMA = "level double, n long"


def streaming_ewma(stream_df: DataFrame, *, alpha: float = 0.25,
                   series_col: str = "series", ts_col: str = "ts",
                   val_col: str = "val",
                   seq_col: str | None = None) -> DataFrame:
    """Streaming twin of ``timeseries.ewma``: the smoothed level
    rides in ONE double of checkpointed state per series, carried
    across micro-batches and restarts. The op order is the same
    pinned ``(1-alpha)·acc + alpha·x`` fold as the batch operator,
    so on the same point order the streaming trajectory is
    bit-identical to the batch one (pinned by test) — the property
    that lets a live smoother and a backfill job agree exactly.
    "Same point order" is the caller's contract: feed timestamps
    unique per series, or pass ``seq_col`` so duplicate timestamps
    fold in a deterministic (ts, seq) order on both sides.

    In-batch points process in (ts[, seq]) order, stable-sorted
    across all of the batch's Arrow chunks. State is O(1) per
    series — input volume never matters. Output (append mode —
    every row is final): each point with its smoothed level."""
    one, a = 1.0 - alpha, alpha
    sort_cols = ["ts"] + (["seq"] if seq_col else [])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        level, n = state.get if state.exists else (0.0, 0)
        out_ts, out_v = [], []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(
                sort_cols, kind="mergesort")
            for ts, v in zip(pdf["ts"], pdf["val"]):
                x = float(v)
                level = x if n == 0 else one * level + a * x
                n += 1
                out_ts.append(int(ts))
                out_v.append(level)
        state.update((level, n))
        yield pd.DataFrame({
            "series": [key[0]] * len(out_ts), "ts": out_ts,
            "ewma": out_v})

    cols = [
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(val_col).cast("double").alias("val"),
    ] + ([F.col(seq_col).cast("long").alias("seq")]
         if seq_col else [])
    return (stream_df.select(*cols).groupBy("series")
            .applyInPandasWithState(
                fn, EWMA_SCHEMA, _EWMA_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


HOLT_SCHEMA = ("series string, ts long, level double,"
               " trend double, forecast_1 double")
_HOLT_STATE_SCHEMA = "level double, trend double, n long"


def streaming_holt(stream_df: DataFrame, *, alpha: float = 0.25,
                   beta: float = 0.125,
                   series_col: str = "series", ts_col: str = "ts",
                   val_col: str = "val",
                   seq_col: str | None = None) -> DataFrame:
    """Streaming twin of ``timeseries.holt_linear``: (level, trend)
    ride in two doubles of checkpointed state per series, updated
    with the batch operator's exact pinned equations and init
    (l₁=x₁, b₁=NULL; l₂=x₂, b₂=x₂−x₁) — so a live forecaster and a
    backfill job agree bit-for-bit on the same point order (pinned
    by test). Each emitted row carries the one-step-ahead forecast
    ``level + trend`` — the value an alerting rule compares the NEXT
    arrival against.

    Points fold in (ts[, seq]) order, stable-sorted across the
    batch's Arrow chunks; pass ``seq_col`` if duplicate timestamps
    are possible. State is O(1) per series. Output (append mode):
    every point with (level, trend, forecast_1); trend/forecast are
    NULL on a series' first point."""
    a, one_a = alpha, 1.0 - alpha
    bt, one_b = beta, 1.0 - beta
    sort_cols = ["ts"] + (["seq"] if seq_col else [])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        level, trend, n = state.get if state.exists \
            else (0.0, 0.0, 0)
        out = {"ts": [], "level": [], "trend": [], "forecast_1": []}
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(
                sort_cols, kind="mergesort")
            for ts, v in zip(pdf["ts"], pdf["val"]):
                x = float(v)
                if n == 0:
                    level, trend = x, 0.0
                elif n == 1:
                    level, trend = x, x - level
                else:
                    prev = level
                    level = a * x + one_a * (level + trend)
                    trend = bt * (level - prev) + one_b * trend
                n += 1
                out["ts"].append(int(ts))
                out["level"].append(level)
                has_b = n >= 2
                out["trend"].append(trend if has_b else None)
                out["forecast_1"].append(
                    level + trend if has_b else None)
        state.update((level, trend, n))
        return iter([pd.DataFrame({
            "series": [key[0]] * len(out["ts"]), **out})])

    cols = [
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(val_col).cast("double").alias("val"),
    ] + ([F.col(seq_col).cast("long").alias("seq")]
         if seq_col else [])
    return (stream_df.select(*cols).groupBy("series")
            .applyInPandasWithState(
                fn, HOLT_SCHEMA, _HOLT_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


QUANTILES_SCHEMA = ("key string, sample_n int, p50 double,"
                    " p90 double, p99 double")
_QUANTILES_STATE_SCHEMA = "pris array<long>, vals array<double>"


def streaming_quantiles(stream_df: DataFrame, *,
                        k: int = 256,
                        key_col: str = "key",
                        value_col: str = "value",
                        id_col: str = "id") -> DataFrame:
    """Streaming per-key quantile tracking with BOUNDED state: the
    same deterministic bottom-k priority sample as the batch
    quantile sketch (operators/sketches.py quantile_sketch — md5(id)
    priorities, computed JVM-side before the stateful operator), so
    after any prefix of the stream the state EQUALS the batch sketch
    over the rows seen so far and the emitted quantiles equal
    quantile_estimate's (tests pin this equality, and restart
    survival falls out of the checkpointed state). State per key is
    ≤ k (pri, val) pairs forever — where an exact streaming
    percentile would hoard every value.

    Emits (key, sample_n, p50, p90, p99) per touched key per batch
    (update mode): the sample order statistic at ceil(q·k'), the
    estimator quantile_estimate uses. One boundary caveat: a NaN
    order statistic surfaces as NULL here — pandas uses NaN as its
    missing-value marker, so the Arrow hand-off cannot carry the
    distinction (the batch estimator returns NaN for the same
    input; tests treat the two as equivalent)."""

    def fn(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        if state.exists:
            pris, vals = state.get
            pairs = list(zip(pris, vals))
        else:
            pairs = []
        for pdf in pdfs:
            pairs.extend(zip((int(p) for p in pdf["pri"]),
                             (float(v) for v in pdf["val"])))
        # dedupe (pri, val) exactly like the batch sketch's
        # distinct (NaN-aware — set() would keep NaN duplicates
        # since NaN != NaN, but Spark's distinct collapses them)
        pairs = list({
            (p, math.isnan(v), 0.0 if math.isnan(v) else v): (p, v)
            for p, v in pairs}.values())
        # bottom-k by (pri, val) with NaN sorting LAST within a pri
        # tie — Python's raw tuple sort mis-orders NaNs (every
        # comparison False), which would silently corrupt the order
        # statistics; Spark/DuckDB both sort NaN after +inf, so the
        # explicit isnan key keeps all three engines identical
        pairs.sort(key=lambda pv: (pv[0], math.isnan(pv[1]), pv[1]))
        del pairs[k:]
        state.update(([p for p, _ in pairs],
                      [v for _, v in pairs]))
        sn = len(pairs)
        by_val = sorted(((v, p) for p, v in pairs),
                        key=lambda vp: (math.isnan(vp[0]), vp[0],
                                        vp[1]))

        def q(ppm):
            t = max(1, min((ppm * sn + 999999) // 1000000, sn))
            return by_val[t - 1][0]

        yield pd.DataFrame({
            "key": [key[0]], "sample_n": [sn],
            "p50": [q(500000)], "p90": [q(900000)],
            "p99": [q(990000)]})

    from ..operators.sketches import _row_priority

    keyed = (stream_df
             .where(F.col(value_col).isNotNull())
             # NULL ids are excluded exactly like the batch
             # quantile_sketch (operators/sketches.py): a NULL id
             # yields a NULL priority that arrives as NaN at the
             # Arrow boundary, and int(NaN) in the stateful worker
             # would kill the streaming query where the batch path
             # silently drops the row.
             .where(F.col(id_col).isNotNull())
             .select(F.col(key_col).alias("key"),
                     _row_priority(F.col(id_col)).alias("pri"),
                     F.col(value_col).cast("double").alias("val")))
    return (keyed.groupBy("key")
            .applyInPandasWithState(
                fn, QUANTILES_SCHEMA, _QUANTILES_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))
