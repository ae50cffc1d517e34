"""Streaming operators: file-source taps, watermarked windows,
session windows, memory-sink test drivers, and the incremental
stateful tier (foreachBatch + a parquet state store).

State-size contract (VERDICT r6 #9) — what each `incremental_*` op
keeps on disk and what it REWRITES per micro-batch.  "swap" = the
whole state frame is rewritten via tmp-then-rename every batch
(fine when state is small — the listed bound is the whole cost);
"append" = committed `batch=N` partitions are immutable (pinned in
test_streaming) and only the new batch dir is written, with a
versioned-base compaction folding old dirs periodically.

| op                         | state contents            | size bound          | per-batch write |
|----------------------------|---------------------------|---------------------|-----------------|
| incremental_gram           | Gram matrix partials      | O(d²)               | swap            |
| incremental_cms            | count-min counters        | O(depth·width)      | swap            |
| incremental_hll            | HLL registers             | O(2^p)              | swap            |
| incremental_moments        | per-key moment tuples     | O(keys)             | swap            |
| incremental_topk           | per-key top-k heads       | O(keys·k)           | swap            |
| incremental_histogram      | per-key bin counts        | O(keys·bins)        | swap            |
| incremental_transitions    | matrix + per-entity tails | O(states²+entities) | swap            |
| incremental_ewma           | per-key (e, o, n)         | O(keys)             | swap            |
| incremental_cusum          | per-key (S⁺, S⁻, alarms)  | O(keys)             | swap            |
| incremental_holt_winters   | per-key (l, b, ring) + warm-up buffer | O(keys·period) | swap      |
| incremental_near_dup       | banded MinHash signatures | O(docs·bands)       | append          |
| streaming_substring_dedup  | window fingerprints       | O(corpus windows)   | append          |

Every swap-class op is one merge `(batch, prev) -> state` handed to
`_swap_state`, which owns the exactly-once protocol for all ten (see
its docstring); the two append-class stores write one batch (and
one fold) each and hand the rest to the segment-store protocol
(`_segment_marker`, `_segment_apply`, `_segment_fold`).  Both kinds
commit through one tmp-then-rename, `_commit_swap`.

Every swap-class op is safe at any stream LENGTH (state never grows
with volume, only with the listed dimensions); the two corpus-sized
stores (near-dup signatures, substring fingerprints) are append-only
segment layouts with incremental compaction — per-batch cost never
re-reads or rewrites the committed corpus, which is the property
that matters at 100 TB.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadron_spark.operators.ops import pin


def stream_tap(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Unbounded read of a directory (new files become micro-batches).
    Streaming sources require an explicit schema — no inference race
    at 100 TB. `maxFilesPerTrigger` caps per-batch work."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time window aggregation.
    The watermark bounds state: late rows beyond it are dropped, so
    state size is O(windows in flight), not O(stream)."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    agged = (
        events.withWatermark(ts_col, watermark).groupBy(w, *keys).agg(*aggs)
    )
    agg_cols = [c for c in agged.columns if c not in ("window", *keys)]
    return agged.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        *keys,
        *agg_cols,
    )


def sessionize_stream(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization via the native session_window — the
    streaming analog of queries.q16 (state = open sessions per key,
    closed by watermark passage)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


def stateful_running_totals(
    events: DataFrame,
    key_col: str,
    value_col: str,
    int_scale: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running (total, count) maintained across micro-batches —
    the streaming analog of the reference's per-key stateful Reducer
    conduits (Types.hs:39-53), with explicit managed state instead of
    a sorted stream.

    Emits one row per key per micro-batch in `update` mode. State is
    two scalars per key — O(|keys|), watermark-free.

    `int_scale`: accumulate round(value·scale) as integers instead of
    floats — float Σ depends on the arrival order of rows within the
    batch, so set this whenever the totals must be reproducible
    (bit-exact) run to run."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = dict(events.dtypes)[key_col]
    out_schema = f"{key_col} {key_type}, total double, n bigint"
    state_schema = ("total bigint, n bigint" if int_scale else "total double, n bigint")

    def fn(key, pdfs, state: GroupState):
        total, n = state.get if state.exists else (0 if int_scale else 0.0, 0)
        for pdf in pdfs:
            if int_scale:
                # floor(x+0.5), not .round(): pandas rounds half-to-even,
                # SQL engines round half-away — floor+0.5 is identical
                # everywhere
                import numpy as np

                total += int(
                    np.floor(pdf[value_col].to_numpy() * int_scale + 0.5)
                    .astype("int64")
                    .sum()
                )
            else:
                total += float(pdf[value_col].sum())
            n += len(pdf)
        state.update((total, n))
        out_total = total / int_scale if int_scale else total
        yield pd.DataFrame({key_col: [key[0]], "total": [out_total], "n": [n]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


_MEMORY_SINK_SEQ = [0]


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming frame to completion against the memory sink
    (test/dev harness): processes everything currently available,
    stops, and returns the materialized result as a batch frame.
    Sink names are uniquified so repeated runs don't collide."""
    _MEMORY_SINK_SEQ[0] += 1
    qname = f"{name}_{_MEMORY_SINK_SEQ[0]}"
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {qname}")


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose `keys` were already seen.
    With `ts_col`, uses dropDuplicatesWithinWatermark — state for a key
    is dropped once the watermark passes it, so state size is bounded
    by (arrival rate × watermark), not by stream history. Without a
    timestamp the state grows forever (documented trade — only for
    bounded key domains)."""
    if ts_col is not None:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def enrich(stream: DataFrame, static: DataFrame, on: list[str], how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the CURRENT state of the static frame (re-read per batch for file
    sources — dimension updates are picked up without restarting the
    query). The static side should be broadcast-sized or pre-bucketed
    on the join key; stream-stream joins need watermarks instead."""
    return stream.join(static, on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    bound: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time band: right rows
    match left rows with |right_ts − left_ts| ≤ bound. BOTH sides are
    watermarked and the time band is part of the join condition —
    that pair is what lets the engine expire buffered state (a
    stream-stream join without a time constraint buffers both streams
    forever). State per key ≈ arrival rate × (watermark + bound)."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        " AND ".join(
            [f"l.{k} = r.{k}" for k in keys]
            + [
                f"r.{right_ts} >= l.{left_ts} - interval {bound}",
                f"r.{right_ts} <= l.{left_ts} + interval {bound}",
            ]
        )
    )
    dup = [c for c in right.columns if c in left.columns]
    out = l.join(r, cond, how)
    # disambiguate: keep left's copy of join keys, prefix right dups
    keep = [F.col(f"l.{c}").alias(c) for c in left.columns] + [
        F.col(f"r.{c}").alias(f"r_{c}" if c in dup else c)
        for c in right.columns
        if c not in keys
    ]
    return out.select(*keep)


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str | None = None,
):
    """foreachBatch sink: MERGE each micro-batch into a plain-parquet
    target by key (streaming upsert). Pair with an `update`-mode
    aggregation — each batch then carries the new running value for
    every changed key, and merge-replace semantics land the correct
    final state.

    Each batch rewrites target+batch to a tmp dir and swaps it in
    (the reference FanOut's tmp-then-rename contract, FanOut.hs:93-146
    — crash mid-batch leaves the old target intact). The full-target
    rewrite is the plain-parquet price: at 100 TB use a transactional
    format (Delta/Iceberg MERGE) or partition the target and rewrite
    only touched partitions; the foreachBatch wiring is identical.

    Returns the started StreamingQuery (availableNow trigger)."""
    from hadron_spark.operators.maintenance import merge_upsert
    from hadron_spark.sources import fs

    def apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        _recover_swap(spark, target_path)
        batch_df = pin(batch_df)  # detach from stream plan
        if fs.exists(spark, target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch_df, keys)
        else:
            merged = batch_df
        _commit_swap(spark, merged, target_path, batch_id)

    return _start(stream, apply, checkpoint, output_mode="update")


def _start(
    stream: DataFrame,
    apply,
    checkpoint: str | None,
    output_mode: str = "append",
):
    """Drive `apply(batch_df, batch_id)` over everything `stream` has
    now (availableNow trigger); returns the started StreamingQuery."""
    writer = (
        stream.writeStream.foreachBatch(apply)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _recover_swap(spark, target_path: str) -> None:
    """Heal a tmp-then-rename swap interrupted by a crash.

    The commit sequence is: write `<t>._tmp_<id>` fully → mv <t> →
    `<t>._old_<id>` → mv tmp → <t> → delete old.  Crash windows:
      - target still present: any `._tmp_*` is either half-written or
        superseded, any `._old_*` is post-commit garbage → delete
        both.
      - target missing: the state→old rename happened, so the newest
        `._tmp_*` is COMPLETE (it was fully written before anything
        was renamed) → promote it; else promote the newest
        `._old_*` (pre-batch state; the batch replays and the
        high-water mark keeps the replay single-count)."""
    from hadron_spark.sources import fs

    parent, _, base = target_path.rstrip("/").rpartition("/")
    try:
        entries = fs.ls(spark, parent or ".")
    except Exception:  # parent doesn't exist yet -> nothing to heal
        return
    tmps, olds = [], []
    for e in entries:
        name = e.path.rstrip("/").rpartition("/")[2]
        if name.startswith(base + "._tmp_"):
            tmps.append(e.path)
        elif name.startswith(base + "._old_"):
            olds.append(e.path)
    if not tmps and not olds:
        return

    def batchid(p: str) -> int:
        try:
            return int(p.rpartition("_")[2])
        except ValueError:
            return -1

    if fs.exists(spark, target_path):
        for p in tmps + olds:
            fs.delete(spark, p)
        return
    if tmps:
        tmps.sort(key=batchid)
        fs.mv(spark, tmps[-1], target_path)
        for p in tmps[:-1] + olds:
            fs.delete(spark, p)
    elif olds:
        olds.sort(key=batchid)
        fs.mv(spark, olds[-1], target_path)
        for p in olds[:-1]:
            fs.delete(spark, p)


def _commit_swap(
    spark, merged: DataFrame | None, target_path: str, batch_id, entries=()
) -> None:
    """Atomically-enough replace `target_path` with `merged` plus the
    empty `entries` dirs (tmp-then-rename; `_recover_swap` heals every
    crash window).  The entries are made in the tmp dir before the
    first rename, so every recovery case promotes them together with
    the data; a segment-store marker is entries alone (`merged` None)."""
    from hadron_spark.sources import fs

    tmp = target_path + f"._tmp_{batch_id}"
    if merged is not None:
        merged.write.mode("overwrite").parquet(tmp)
    for name in entries:
        fs.mkdir(spark, f"{tmp}/{name}")
    old = target_path + f"._old_{batch_id}"
    if fs.exists(spark, target_path):
        fs.mv(spark, target_path, old)
    fs.mv(spark, tmp, target_path)
    if fs.exists(spark, old):
        fs.delete(spark, old)


# Spark's file index skips `_`-prefixed names only when they hold no
# `=` (those are partition dirs), hence `_hwm_<id>`, never `_hwm=<id>`
_HWM = "_hwm_"


def _entry_names(spark, path: str) -> list[str]:
    from hadron_spark.sources import fs

    return [e.path.rstrip("/").rpartition("/")[2] for e in fs.ls(spark, path)]


def _swap_hwm(spark, state_path: str) -> int:
    """The batch high-water mark of a committed swap state: one
    listing of its dir, no Spark job."""
    marks = [
        int(name[len(_HWM):])
        for name in _entry_names(spark, state_path)
        if name.startswith(_HWM)
    ]
    if not marks:
        raise ValueError(
            f"swap state {state_path} has no {_HWM}<batch_id> entry: it "
            "was written by a version that kept the high-water mark in a "
            "data row, which would now be merged as data — rebuild it "
            "from a fresh checkpoint"
        )
    return max(marks)


def _swap_state(state_path: str, merge):
    """The foreachBatch `apply(batch_df, batch_id)` of every swap-class
    `incremental_*` state: `merge(batch, prev)` returns the whole new
    state frame from the pinned batch and the committed state (None
    before the first commit); this helper makes it exactly-once.

      - REPLAY: foreachBatch is at-least-once; the committed state dir
        holds an empty `_hwm_<batch_id>` entry, and a batch at or
        below that high-water mark returns without merging, so a
        replayed batch merges exactly once.
      - CRASH MID-SWAP: `_recover_swap` runs before every merge and
        promotes the completed `._tmp_` (or restores `._old_`), so a
        crash between the two renames can never make the next batch
        silently rebuild state from its own partial alone.
      - COMMIT: `_commit_swap` writes the state and its mark to a tmp
        dir, then renames it into place.

    The mark is not a data row: a raw `spark.read.parquet(state)`
    holds exactly the state rows.  batch_id monotonicity is the
    foreachBatch contract WITHIN one checkpoint lineage — a state is
    bound to the checkpoint that built it; restarting against the
    same state with a fresh checkpoint restarts batch ids and the
    mark would misread new batches as replays.  A state dir with no
    mark predates this layout and raises ValueError."""
    from hadron_spark.sources import fs

    def apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        _recover_swap(spark, state_path)
        prev = None
        if fs.exists(spark, state_path):
            if batch_id <= _swap_hwm(spark, state_path):
                return  # replayed batch: already merged exactly once
            prev = spark.read.parquet(state_path)
        merged = merge(pin(batch_df), prev)
        _commit_swap(
            spark, merged, state_path, batch_id, [f"{_HWM}{batch_id}"]
        )

    return apply


def read_gram_state(spark, state_path: str) -> DataFrame:
    """Consumer view of an `incremental_gram` state table: `g` is the
    one correctly-rounded double cast of the exact accumulator — the
    same (i, j, g) frame `gram_matrix` returns."""
    return spark.read.parquet(state_path).select(
        "i", "j", F.col("gx").cast("double").alias("g")
    )


def incremental_gram(
    stream: DataFrame,
    state_path: str,
    vec_col: str = "embedding",
    quant: int | None = None,
    checkpoint: str | None = None,
):
    """Streaming maintenance of the exact Gram/sum/count statistic
    (llm.embeddings.gram_matrix) over an unbounded embedding stream:
    each micro-batch's d×d partial (computed with the SAME
    Arrow-batched X'X pass as the batch op — exact int64 units) is
    merged into a tiny parquet state table by (i, j) key with
    tmp-then-rename. Gram partials are exactly additive (pinned in
    test_embeddings), so at any point `read_gram_state(state) ==
    gram_matrix(all rows so far)` bit-for-bit, and PCA can be refit
    from the state table alone — the batch-recompute-free covariance
    path for a corpus that grows nightly. State is d(d+1)/2+d+1 rows
    regardless of stream volume.

    Replays and crashes are handled by `_swap_state`.  Against DOUBLE
    DRIFT the state stores the DECIMAL(38,0) accumulator (`gx`) and
    merges in decimal; doubles only appear in the consumer view
    (`read_gram_state`), as the single final cast — no round-trip
    through float past 2^53.

    Returns the started StreamingQuery (availableNow trigger)."""
    return _start(stream, gram_apply_fn(state_path, vec_col, quant), checkpoint)


def gram_apply_fn(
    state_path: str, vec_col: str = "embedding", quant: int | None = None
):
    """The foreachBatch merge function behind `incremental_gram`,
    exposed so the replay/recovery contract is directly unit-testable
    (call it with (batch_df, batch_id) like the stream runtime does)."""
    from hadron_spark.llm import embeddings as _E

    q = quant if quant is not None else _E.DEFAULT_QUANT

    def merge(batch, prev):
        part = _E.gram_partials(batch, vec_col=vec_col, quant=q)
        if prev is None:
            return part
        return (
            prev.select("i", "j", "gx")
            .unionByName(part)
            .groupBy("i", "j")
            .agg(F.sum("gx").cast("decimal(38,0)").alias("gx"))
        )

    return _swap_state(state_path, merge)


class _Marker(NamedTuple):
    """A segment store's committed state, read from its marker."""

    hwm: int  # last committed batch id; -1 before the first commit
    segs: list[int]  # committed segment versions, oldest first
    params: dict  # the store's layout parameters

    @property
    def base(self) -> int:
        """Every batch at or below the newest segment is folded."""
        return self.segs[-1] if self.segs else -1

    @property
    def batches(self) -> range:
        """The committed batch dirs not yet folded: (base, hwm]."""
        return range(self.base + 1, self.hwm + 1)


def _segment_marker(spark, state_path: str, params=None) -> _Marker:
    """Heal and read the marker of an append-only segment store (the
    near-dup signature store and the substring fingerprint store).

    Layout under `state_path`: immutable per-batch dirs
    `<kind>/batch=<b>`, immutable folded segments `<kind>_base=<v>`,
    and the `hwm_marker` dir — the commit point.  The marker holds
    only empty entries, read by one listing (no Spark job):
    `_hwm_<b>` (last committed batch), one `_seg_<v>` per live
    segment, and one `_<param>_<value>` per layout parameter (e.g.
    `_window_8`, `_bands_4`).  It is swapped by `_commit_swap` and
    healed by `_recover_swap`, so a batch's dirs become visible only
    when its mark lands, a crash before that replays into the same
    dirs, and a fold moves the segment list in one swap.

    `params` (the caller's layout) must equal the stored ones: a store
    built one way and probed another silently admits every repeat, so
    drift raises.  A root without a marker is a fresh store (batch
    dirs from a crash before the first commit are overwritten by the
    replay); layouts written before this marker — a parquet
    `hwm_marker`, a near-dup `_hwm` dir, a flat pre-segment substring
    frame — raise ValueError naming the path."""
    from hadron_spark.sources import fs

    root = state_path.rstrip("/")
    marker = root + "/hwm_marker"
    _recover_swap(spark, marker)
    if not fs.exists(spark, marker):
        stale = [
            e.path
            for e in (fs.ls(spark, root) if fs.exists(spark, root) else [])
            if not e.is_dir or e.path.rstrip("/").endswith("/_hwm")
        ]
        if stale:
            raise ValueError(
                f"segment store {state_path} holds {stale[0]}, a layout "
                "written before the hwm_marker listing — rebuild it from "
                "a fresh checkpoint"
            )
        return _Marker(-1, [], {})
    fields: dict = {}
    for name in _entry_names(spark, marker):
        key, _, val = name.rpartition("_")
        if key.startswith("_") and val.isdigit():
            fields.setdefault(key[1:], []).append(int(val))
    if "hwm" not in fields:
        raise ValueError(
            f"segment store marker {marker} has no {_HWM}<batch_id> "
            "entry: it is a parquet marker of an older layout — rebuild "
            "the store from a fresh checkpoint"
        )
    stored = {
        k: v[0] for k, v in fields.items() if k not in ("hwm", "seg")
    }
    for k, want in (params or {}).items():
        if stored.get(k) != want:
            raise ValueError(
                f"segment store {state_path} was built with "
                f"{k}={stored.get(k)}, probed with {k}={want} — {k} is "
                "part of the store layout and cannot change mid-stream"
            )
    return _Marker(max(fields["hwm"]), sorted(fields.get("seg", [])), stored)


def _commit_marker(spark, state_path, tag, hwm, segs, params) -> None:
    _commit_swap(
        spark, None, state_path.rstrip("/") + "/hwm_marker", tag,
        [f"_{k}_{v}" for k, v in params.items()]
        + [f"_seg_{v}" for v in segs] + [f"{_HWM}{hwm}"],
    )


def _segment_apply(state_path, params, write_batch, compact_every, compact):
    """The foreachBatch `apply(batch_df, batch_id)` of a segment store:
    a replayed batch (at or below the mark) returns at once;
    otherwise `write_batch(spark, batch, batch_id, marker)` writes the
    batch's own dirs with overwrite, the marker commits the batch,
    and every `compact_every` batches `compact(spark, state_path)`
    folds — post-commit housekeeping that is crash-safe on its own
    marker swap."""

    def apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        m = _segment_marker(spark, state_path, params)
        if batch_id <= m.hwm:
            return  # replayed batch: its dirs are already committed
        write_batch(spark, pin(batch_df), batch_id, m)
        _commit_marker(spark, state_path, batch_id, batch_id, m.segs, params)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact(spark, state_path)

    return apply


def _segment_fold(
    spark, state_path, mode, max_segments, write_segment, kinds
) -> int:
    """Fold a segment store's batch dirs in (base, hwm] into one new
    `<kind>_base=<hwm>` segment per kind: `write_segment(marker,
    segs)` writes it from `segs` plus those batches.

    - `incremental`: segs=[] — the fold reads only the delta; the
      committed segments are never re-read.
    - `full`: segs=all — one segment replaces them all.
    - `auto`: incremental until the fold would exceed `max_segments`
      segments, then full.

    The marker swap is the commit point: a crash before it leaves the
    old segments and batches authoritative (the new dir is an orphan,
    overwritten by the next fold); after it the folded batch dirs and,
    on `full`, the superseded segments are deleted — a crash there
    leaves garbage no reader consults.  Returns the number of batch
    dirs folded."""
    from hadron_spark.sources import fs

    if mode not in ("auto", "incremental", "full"):
        raise ValueError(f"mode must be auto|incremental|full, got {mode!r}")
    m = _segment_marker(spark, state_path)
    if m.hwm < 0:
        raise FileNotFoundError(f"no committed state at {state_path}")
    if m.base >= m.hwm:
        return 0
    if mode == "auto":
        mode = "incremental" if len(m.segs) + 1 <= max_segments else "full"
    full = mode == "full"
    write_segment(m, m.segs if full else [])
    _commit_marker(
        spark, state_path, f"compact_{m.hwm}", m.hwm,
        [m.hwm] if full else m.segs + [m.hwm], m.params,
    )
    root = state_path.rstrip("/")
    for kind in kinds:
        for v in m.segs if full else []:
            fs.delete(spark, f"{root}/{kind}_base={v}")
        for b in m.batches:
            fs.delete(spark, f"{root}/{kind}/batch={b}")
    return len(m.batches)


def _segment_read(spark, state_path: str, kind: str, segs, batches=()):
    """Committed `kind` rows of a segment store: the `<kind>_base=<v>`
    segments plus the `<kind>/batch=<b>` dirs; None when both lists
    are empty."""
    root = state_path.rstrip("/")
    frames = [spark.read.parquet(f"{root}/{kind}_base={v}") for v in segs]
    paths = [f"{root}/{kind}/batch={b}" for b in batches]
    if paths:
        frames.append(
            spark.read.option("basePath", f"{root}/{kind}")
            .parquet(*paths).drop("batch")
        )
    return reduce(DataFrame.unionByName, frames) if frames else None


def substring_dedup_apply_fn(
    state_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    compact_every: int | None = 64,
):
    """foreachBatch function for STREAMING exact-substring curation:
    each micro-batch is cleaned against the corpus fingerprint store
    (`llm.dedup.exact_substring_dedup_incremental`), the cleaned
    documents land in `out_path/batch=<id>/`, and the KEPT text's
    fingerprints are APPENDED as the batch's own immutable
    `fps/batch=<id>` dir of the segment store (`_segment_marker`), so
    per-batch cost is O(batch), never O(corpus windows);
    `compact_every` folds batch dirs into `fps_base=<v>` segments (see
    `compact_substring_state`).  Duplicate fps across segments are
    possible by design and harmless: the probe is a left-semi join
    (set semantics); full rebases re-distinct.

    Exactly-once: a replayed batch is skipped by the marker, and each
    batch owns `out_path/batch=<id>/` and `fps/batch=<id>/`, written
    with overwrite, so a batch replayed after a crash rewrites its own
    dirs instead of appending duplicates.  The `window` rides in the
    marker — a store fingerprinted with one window probed with another
    silently admits every repeat, so drift raises.  Returns the
    apply(batch_df, batch_id) callable that `streaming_substring_dedup`
    drives."""
    from hadron_spark.llm.dedup import (
        exact_substring_dedup_incremental,
        span_fingerprint_store,
    )

    def write_batch(spark, batch, batch_id, m):
        store_fps = _segment_read(spark, state_path, "fps", m.segs, m.batches)
        if store_fps is not None:
            cleaned = exact_substring_dedup_incremental(
                batch, store_fps, id_col, text_col, window
            )
        else:
            toks = F.filter(
                F.split(F.col(text_col), r"\s+"), lambda t: t != ""
            )
            cleaned = batch.select(
                id_col, text_col, F.array_join(toks, " ").alias("clean_text")
            )
        cleaned = pin(cleaned.filter(F.col("clean_text") != ""))
        cleaned.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        span_fingerprint_store(
            cleaned.select(F.col("clean_text").alias(text_col)),
            text_col,
            window,
        ).write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/fps/batch={batch_id}"
        )

    return _segment_apply(
        state_path, {"window": int(window)}, write_batch, compact_every,
        compact_substring_state,
    )


def compact_substring_state(
    spark,
    state_path: str,
    mode: str = "auto",
    max_segments: int = 8,
) -> int:
    """Fold a substring-dedup state's per-batch fp dirs into one
    distinct `fps_base=<hwm>` segment (`_segment_fold`: `incremental`
    folds the delta alone, `full` re-distincts all segments and
    batches — reclaiming cross-segment duplicate storage — and `auto`
    picks by `max_segments`).  Fps already present in older segments
    may repeat after an incremental fold — harmless (semi-join
    probe).  Returns the number of batch partitions folded."""

    def write_segment(m, segs):
        _segment_read(spark, state_path, "fps", segs, m.batches).distinct(
        ).write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/fps_base={m.hwm}"
        )

    return _segment_fold(
        spark, state_path, mode, max_segments, write_segment, ["fps"]
    )


def streaming_substring_dedup(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    checkpoint: str | None = None,
    compact_every: int | None = 64,
):
    """Streaming exact-substring curation sink — see
    `substring_dedup_apply_fn`. Returns the started StreamingQuery
    (availableNow trigger)."""
    apply = substring_dedup_apply_fn(
        state_path, out_path, id_col, text_col, window,
        compact_every=compact_every,
    )
    return _start(stream, apply, checkpoint)


def perplexity_gate_apply_fn(
    lm_path: str,
    out_path: str,
    min_logprob_per_token: float,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch function for a STREAMING CCNet quality gate:
    each micro-batch is scored against a PERSISTED stupid-backoff LM
    (`llm.perplexity.save_lm` artifact — trained offline on the
    reference corpus, loaded once per query start) and only
    documents at or above `min_logprob_per_token` (i.e. at or below
    the corresponding perplexity) land in `out_path/batch=<id>/`.

    The threshold is a FIXED number learned offline (e.g. the
    percentile_disc cut `perplexity_band` computes on a held-out
    sample): a streaming gate must not re-derive corpus percentiles
    per batch — that would make admission depend on batch
    boundaries.  The gate is STATELESS, so exactly-once needs only
    the idempotent per-batch output-directory overwrite (a replayed
    batch rewrites its own directory); no high-water-mark store.

    Scoring inside the batch is the batch operator itself
    (stream-static: the LM count table is a pinned static frame,
    the 2N-1 broadcast joins and the per-doc mean run per batch).
    Returns apply(batch_df, batch_id)."""
    from hadron_spark.llm.perplexity import load_lm, perplexity_scores

    lm_box: dict = {}

    def apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        if "lm" not in lm_box:  # load + pin once per query start
            lm_box["lm"] = load_lm(spark, lm_path)
        scored = perplexity_scores(batch_df, lm_box["lm"], id_col, text_col)
        kept = (
            batch_df.join(
                scored.filter(
                    F.col("logprob_per_token") >= min_logprob_per_token
                ).select(id_col, "logprob_per_token", "perplexity"),
                id_col,
            )
        )
        kept.write.mode("overwrite").parquet(f"{out_path}/batch={int(batch_id)}")

    return apply


def streaming_perplexity_gate(
    stream: DataFrame,
    lm_path: str,
    out_path: str,
    min_logprob_per_token: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
):
    """Streaming CCNet perplexity gate — see
    `perplexity_gate_apply_fn`. Returns the started StreamingQuery
    (availableNow trigger)."""
    apply = perplexity_gate_apply_fn(
        lm_path, out_path, min_logprob_per_token, id_col, text_col
    )
    return _start(stream, apply, checkpoint)


def read_cms_state(spark, state_path: str) -> DataFrame:
    """Consumer view of an `incremental_cms` state table: exactly the
    (d, bucket, cnt) frame `ops.cms_build` would return over every
    row the stream has delivered so far (CMS linearity, pinned in
    test_ops/test_streaming)."""
    return spark.read.parquet(state_path).select("d", "bucket", "cnt")


def cms_apply_fn(
    state_path: str,
    key: str = "tok",
    depth: int = 4,
    width: int = 1024,
):
    """The foreachBatch merge function behind `incremental_cms`,
    exposed so the replay/recovery contract is directly unit-testable
    (call it with (batch_df, batch_id) like the stream runtime does)."""
    from hadron_spark.operators import ops as _ops

    def merge(batch, prev):
        part = _ops.cms_build(batch, key, depth=depth, width=width)
        if prev is None:
            return part
        return (
            prev.select("d", "bucket", "cnt")
            .unionByName(part)
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _swap_state(state_path, merge)


def incremental_cms(
    stream: DataFrame,
    state_path: str,
    key: str = "tok",
    depth: int = 4,
    width: int = 1024,
    checkpoint: str | None = None,
):
    """Streaming maintenance of a count-min sketch over an unbounded
    key stream: each micro-batch is sketched with the SAME
    `ops.cms_build` pass as the batch op and merged into a tiny
    parquet state table (<= depth*width rows REGARDLESS of stream
    volume) by (d, bucket) sum — CMS linearity makes the merge exact,
    so at any point `read_cms_state(state)` is bit-identical to
    sketching every delivered row in one batch, independent of how
    the stream was chopped into batches.

    This is the sketch's natural habitat: the exact wordcount table
    for an unbounded token stream grows without bound, the sketch
    does not — heavy-hitter queries (`ops.cms_estimate` /
    `cms_heavy_hitters` against the state) stay O(depth*width).
    All counts are exact longs; replays and crashes are handled by
    `_swap_state`.

    Returns the started StreamingQuery (availableNow trigger)."""
    apply = cms_apply_fn(state_path, key, depth=depth, width=width)
    return _start(stream, apply, checkpoint)


def hll_apply_fn(
    state_path: str,
    key_cols,
    col: str,
    lg_k: int = 12,
):
    """The foreachBatch merge function behind `incremental_hll`,
    exposed for direct unit testing (call with (batch_df, batch_id)).
    HLL union is register-wise max — associative, commutative, and
    IDEMPOTENT — so re-unioning a replayed batch's sketch would be a
    no-op even without `_swap_state`'s high-water mark."""
    from hadron_spark.operators import sketch as _sketch

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def merge(batch, prev):
        part = _sketch.hll_rollup(batch, keys, col, lg_k=lg_k)
        if prev is None:
            return part
        return _sketch.hll_merge(prev.unionByName(part), keys)

    return _swap_state(state_path, merge)


def incremental_hll(
    stream: DataFrame,
    state_path: str,
    key_cols,
    col: str,
    lg_k: int = 12,
    checkpoint: str | None = None,
):
    """Streaming maintenance of per-key HyperLogLog sketches — the
    unbounded-stream form of `sketch.hll_rollup`: "distinct users
    ever, by key" over a stream whose exact distinct table would grow
    without bound, kept as one ~2^lg_k-byte sketch per key.  Each
    micro-batch is sketched with the SAME hll_sketch_agg pass as the
    batch op and unioned into the parquet state (register-wise max —
    lossless, so the streamed state's ESTIMATES equal a one-shot
    sketch of every delivered row, independent of batch boundaries).

    Returns the started StreamingQuery (availableNow trigger)."""
    apply = hll_apply_fn(state_path, key_cols, col, lg_k=lg_k)
    return _start(stream, apply, checkpoint)


def moments_apply_fn(state_path: str, key: str, value: str):
    """The foreachBatch merge behind `incremental_moments`, exposed
    for direct replay/recovery unit tests (call with (batch_df,
    batch_id)).  State schema: (key, n, sy, syy) exact longs.  NULL
    stream keys are dropped."""

    def merge(batch, prev):
        y = F.col(value).cast("long")
        part = (
            batch.filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(y).alias("sy"),
                F.sum(y * y).alias("syy"),
            )
        )
        if prev is None:
            return part
        return (
            prev.select(key, "n", "sy", "syy")
            .unionByName(part)
            .groupBy(key)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sy").alias("sy"),
                F.sum("syy").alias("syy"),
            )
        )

    return _swap_state(state_path, merge)


def incremental_moments(
    stream: DataFrame,
    state_path: str,
    key: str,
    value: str,
    checkpoint: str | None = None,
):
    """Streaming maintenance of EXACT per-key second moments
    (n, Σy, Σy²) over an unbounded integer-valued stream — the state
    behind any mean/stddev/z-score surface (q119's algebra) kept
    live: one row per key REGARDLESS of stream volume, because long
    sums are an associative, commutative monoid — the merge is
    algebraically exact, so the state after any micro-batch chopping
    is bit-identical to a one-shot groupBy over every delivered row
    (the incremental_gram/CMS batch-boundary-independence contract,
    here with a FULL SQL oracle since the state is plain integers).

    Replays and crashes are handled by `_swap_state`.  Quantize
    values to integer units (cents) upstream — that is what makes the
    sums exact; floats would make the merge order-sensitive.

    Read back with `read_moments_state`.  Returns the started
    StreamingQuery (availableNow trigger)."""
    return _start(stream, moments_apply_fn(state_path, key, value), checkpoint)


def read_moments_state(spark, state_path: str, key: str) -> DataFrame:
    """The queryable surface of `incremental_moments`: (key, n, sy,
    syy) exact longs."""
    return spark.read.parquet(state_path).select(key, "n", "sy", "syy")


def topk_apply_fn(
    state_path: str,
    key: str,
    id_col: str,
    score: str,
    k: int = 10,
):
    """The foreachBatch merge behind `incremental_topk` (call with
    (batch_df, batch_id) to unit-test replay/recovery).  State: the
    per-key top-k (key, id, score) rows.  Merging is union → re-rank
    → keep k: top-k of a union is the top-k of top-ks (associative),
    and re-merging the SAME rows is a no-op under the per-id
    max(score) merge — but at-least-once replay of a batch
    containing a row that TIED at the boundary could flip the cut,
    so `_swap_state`'s high-water mark still matters here.  SCORE
    CONTRACT (ADVICE r4): scores per id must be immutable or
    monotone non-decreasing across deliveries — the state keeps each
    id's MAX seen score and top-k state cannot evict on a decrease
    (the stale row may already have displaced others at an earlier
    cut).  For mutable scores keep the full (key, id, score) table
    and derive top-k on read.  NULL stream keys are dropped."""
    from pyspark.sql import Window

    def merge(batch, prev):
        w = Window.partitionBy(key).orderBy(
            F.col("score").desc(), F.col("id").asc()
        )
        part = batch.filter(F.col(key).isNotNull()).select(
            key,
            F.col(id_col).alias("id"),
            F.col(score).cast("long").alias("score"),
        )
        if prev is not None:
            part = prev.select(key, "id", "score").unionByName(part)
        return (
            # per-id merge rule: MAX score (deterministic —
            # dropDuplicates kept an arbitrary row; ADVICE r4).
            # Top-k state can never evict on a score DECREASE (the
            # old row may already have displaced others), so max is
            # the only self-consistent rule: state tracks each id's
            # best seen score.
            part.groupBy(key, "id")
            .agg(F.max("score").alias("score"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select(key, "id", "score")
        )

    return _swap_state(state_path, merge)


def incremental_topk(
    stream: DataFrame,
    state_path: str,
    key: str,
    id_col: str,
    score: str,
    k: int = 10,
    checkpoint: str | None = None,
):
    """Streaming per-key top-k maintenance (leaderboards, worst-
    offender tables, hottest-document trackers): state holds at most
    k rows per key FOREVER — top-k of a union is the top-k of
    top-ks, so merging each micro-batch's local top-k into the state
    reproduces the batch answer over all delivered rows, independent
    of chopping.  Ties break (score desc, id asc) so the cut is a
    pure function of the delivered row set; per-id duplicates merge
    to MAX score (immutable-or-monotone score contract — see
    `topk_apply_fn`; a top-k state cannot represent score
    decreases).

    Integer scores (quantize upstream) — which is also what makes
    the FULL SQL oracle possible: the final state equals a plain
    windowed top-k over the whole input.  Read back with
    `read_topk_state`."""
    apply = topk_apply_fn(state_path, key, id_col, score, k=k)
    return _start(stream, apply, checkpoint)


def read_topk_state(spark, state_path: str, key: str) -> DataFrame:
    """(key, id, score) per-key top-k rows."""
    return spark.read.parquet(state_path).select(key, "id", "score")


def histogram_apply_fn(
    state_path: str,
    key: str,
    value: str,
    lo: int,
    hi: int,
    n_bins: int,
):
    """The foreachBatch merge behind `incremental_histogram` (call
    with (batch_df, batch_id) to unit-test replay/recovery).  State
    schema: (key, bin, cnt) exact longs — bin -1 is underflow
    (value < lo), bin `n_bins` overflow (value >= hi), interior bin
    = (value−lo)·n_bins div (hi−lo), all integer math.  NULL stream
    keys are dropped."""
    if not lo < hi:
        raise ValueError(f"lo must be < hi: {lo}/{hi}")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1: {n_bins}")

    def merge(batch, prev):
        y = F.col(value).cast("long")
        b = (
            F.when(y < lo, F.lit(-1))
            .when(y >= hi, F.lit(n_bins))
            .otherwise(
                F.expr(
                    f"((cast({value} as bigint) - {lo}) * {n_bins})"
                    f" div {hi - lo}"
                )
            )
            .cast("int")
        )
        part = (
            batch.filter(F.col(key).isNotNull())
            .select(key, b.alias("bin"))
            .groupBy(key, "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prev is None:
            return part
        return (
            prev.select(key, "bin", "cnt")
            .unionByName(part)
            .groupBy(key, "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _swap_state(state_path, merge)


def incremental_histogram(
    stream: DataFrame,
    state_path: str,
    key: str,
    value: str,
    lo: int,
    hi: int,
    n_bins: int = 20,
    checkpoint: str | None = None,
):
    """Streaming maintenance of per-key equi-width histogram counts
    over an integer-valued stream — the mergeable distribution
    sketch behind live quantile/latency/SLA dashboards: state is at
    most n_bins+2 rows per key FOREVER (under/overflow bins keep the
    tails honest), and bin counts are an associative commutative
    long-sum monoid, so the state after any micro-batch chopping is
    bit-identical to one batch groupBy over every delivered row —
    a FULL SQL oracle, like `incremental_moments`.

    Quantize values to integer units (cents/micros) upstream; bin
    edges are pure integer math so every engine bins identically.
    Read back with `read_histogram_state`; derive exact rank-target
    quantiles with `histogram_quantiles`.  Returns the started
    StreamingQuery (availableNow trigger)."""
    apply = histogram_apply_fn(state_path, key, value, lo, hi, n_bins)
    return _start(stream, apply, checkpoint)


def read_histogram_state(spark, state_path: str, key: str) -> DataFrame:
    """(key, bin, cnt) per-key bin counts."""
    return spark.read.parquet(state_path).select(key, "bin", "cnt")


def histogram_quantiles(
    hist: DataFrame,
    key: str,
    q_units: list[int],
    scale: int = 100,
) -> DataFrame:
    """Rank-target quantiles from a (key, bin, cnt) histogram frame
    (the `incremental_histogram` state, or any batch-built binned
    spine): for each requested quantile q_units/scale the answer is
    the smallest bin whose cumulative count reaches
    target = ceil(n·q_units/scale) — all integer math, so the frame
    is hash-exact cross-engine.  The precision statement is honest:
    the true quantile lies inside the returned bin by construction
    (that is the histogram-sketch error bound — one bin width).

    Per key the frame is <= n_bins+2 rows, so the cumulative window
    is bounded; one shuffle on the key.  Returns
    (key, q_units, n, target, bin)."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1: {scale}")
    for q in q_units:
        if not 0 < q <= scale:
            raise ValueError(f"q_units must be in (0, {scale}]: {q}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("cnt").over(w))
    tot = hist.groupBy(key).agg(F.sum("cnt").alias("n"))
    specs = tot.select(
        key,
        "n",
        F.explode(F.array(*[F.lit(int(q)) for q in q_units])).alias("q_units"),
    ).withColumn("q_units", F.col("q_units").cast("int")).withColumn(
        "target", F.expr(f"(n * q_units + {scale} - 1) div {scale}")
    )
    return (
        cum.join(specs, key)
        .filter(F.col("_cum") >= F.col("target"))
        .groupBy(key, "q_units", "n", "target")
        .agg(F.min("bin").alias("bin"))
    )


def transitions_apply_fn(
    state_path: str, entity: str, state_col: str, ord_col: str
):
    """The foreachBatch merge behind `incremental_transitions` (call
    with (batch_df, batch_id) to unit-test replay/recovery).

    Unlike the moments/CMS/HLL states, a transition is NOT a per-row
    monoid: a (state -> next state) step can STRADDLE a micro-batch
    boundary, so the state carries, besides the |states|^2 count
    matrix, one TAIL row per entity (its last seen state + order
    key); the first event an entity contributes to a later batch
    pairs with that stored tail.  State is one parquet frame with a
    `kind` discriminator: 't' transition counts (from_state,
    to_state, n), 'e' entity tails (e, last_state, last_ord).

    Ordering contract: `ord_col` (cast to long) must be a total
    order per entity, and deliveries must be non-decreasing in it
    across batches per entity (rows may arrive unordered WITHIN a
    batch — a lead window sorts them).  Under that contract the
    state after ANY batch chopping equals `operators.ops.
    transition_matrix` over every delivered row (pinned in
    test_streaming)."""
    from functools import reduce

    from pyspark.sql import Window

    def merge(batch, prev):
        b = batch.filter(
            F.col(entity).isNotNull() & F.col(state_col).isNotNull()
        ).select(
            F.col(entity).alias("e"),
            F.col(state_col).alias("s"),
            F.col(ord_col).cast("long").alias("o"),
        )
        w = Window.partitionBy("e").orderBy("o")
        in_batch = (
            b.select("e", F.col("s").alias("from_state"),
                     F.lead("s").over(w).alias("to_state"))
            .filter(F.col("to_state").isNotNull())
            .groupBy("from_state", "to_state")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        firsts = b.groupBy("e").agg(
            F.min(F.struct("o", "s")).alias("f")
        )
        lasts = b.groupBy("e").agg(
            F.max(F.struct("o", "s")).alias("l")
        )
        trans, tails = [in_batch], [
            lasts.select(
                "e",
                F.col("l")["s"].alias("last_state"),
                F.col("l")["o"].alias("last_ord"),
            )
        ]
        if prev is not None:
            prev_t = prev.filter(F.col("kind") == "t").select(
                "from_state", "to_state", "n"
            )
            prev_e = prev.filter(F.col("kind") == "e").select(
                "e", "last_state", "last_ord"
            )
            boundary = (
                prev_e.join(firsts, "e")
                .groupBy(
                    F.col("last_state").alias("from_state"),
                    F.col("f")["s"].alias("to_state"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
            )
            trans += [prev_t, boundary]
            tails.append(prev_e)
        merged_t = (
            reduce(lambda a, x: a.unionByName(x), trans)
            .groupBy("from_state", "to_state")
            .agg(F.sum("n").alias("n"))
        )
        merged_e = (
            reduce(lambda a, x: a.unionByName(x), tails)
            .groupBy("e")
            .agg(F.max(F.struct("last_ord", "last_state")).alias("l"))
            .select(
                "e",
                F.col("l")["last_state"].alias("last_state"),
                F.col("l")["last_ord"].alias("last_ord"),
            )
        )
        etype = merged_e.schema["e"].dataType
        stype = merged_t.schema["from_state"].dataType
        t_rows = merged_t.select(
            F.lit("t").alias("kind"), F.lit(None).cast(etype).alias("e"),
            "from_state", "to_state",
            F.lit(None).cast(stype).alias("last_state"),
            F.lit(None).cast("long").alias("last_ord"),
            F.col("n").cast("long"),
        )
        e_rows = merged_e.select(
            F.lit("e").alias("kind"), "e",
            F.lit(None).cast(stype).alias("from_state"),
            F.lit(None).cast(stype).alias("to_state"),
            "last_state", "last_ord", F.lit(None).cast("long").alias("n"),
        )
        return t_rows.unionByName(e_rows)

    return _swap_state(state_path, merge)


def incremental_transitions(
    stream: DataFrame,
    state_path: str,
    entity: str,
    state_col: str,
    ord_col: str,
    checkpoint: str | None = None,
):
    """Streaming maintenance of the first-order Markov transition
    matrix (`operators.ops.transition_matrix` kept live — VERDICT r4
    #5/next-round list): per-entity (state -> next state) step
    counts over an unbounded event stream, exact longs, state size
    |states|^2 + one tail row per entity regardless of volume.  See
    `transitions_apply_fn` for the merge, the cross-batch tail
    handling, and the per-entity ordering contract; read back with
    `read_transitions_state` (same (from_state, to_state, n,
    row_total, prob) frame as the batch operator).  Returns the
    started StreamingQuery (availableNow trigger)."""
    apply = transitions_apply_fn(state_path, entity, state_col, ord_col)
    return _start(stream, apply, checkpoint)


def read_transitions_state(spark, state_path: str) -> DataFrame:
    """The queryable surface of `incremental_transitions`:
    (from_state, to_state, n, row_total, prob) — column-for-column
    the batch `transition_matrix` output (row totals and the one
    IEEE division are derived on read from the exact counts)."""
    t = (
        spark.read.parquet(state_path)
        .filter(F.col("kind") == "t")
        .select("from_state", "to_state", "n")
    )
    tot = t.groupBy("from_state").agg(F.sum("n").alias("row_total"))
    return t.join(F.broadcast(tot), "from_state").select(
        "from_state", "to_state", "n", "row_total",
        (F.col("n").cast("double") / F.col("row_total").cast("double")
         ).alias("prob"),
    )


def ewma_apply_fn(
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    alpha: float,
):
    """The foreachBatch merge behind `incremental_ewma` (call with
    (batch_df, batch_id) to unit-test replay/recovery): per-key EWMA
    kept live.  The recurrence e_t = α·y_t + (1−α)·e_{t−1} is
    sequential, so chopping a series into micro-batches and seeding
    each batch's fold with the stored e is BIT-IDENTICAL to the
    one-shot `operators.ops.ewma` over every delivered row (pinned
    in test_streaming) — provided per-key deliveries are
    non-decreasing in `ord_col` across batches (the
    `incremental_transitions` ordering contract; rows may arrive
    unordered WITHIN a batch — the sorted-array fold handles that).

    State is one (k, e, o, n) = (key, current ewma, last order key,
    points seen) row per key — |keys| rows regardless of stream
    volume."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    a, b = repr(float(alpha)), repr(1.0 - float(alpha))
    fold = (
        "aggregate(_s, named_struct('prev', _e0), "
        "(acc, x) -> named_struct('prev', "
        f"IF(acc.prev IS NULL, x._y, {a} * x._y + {b} * acc.prev)), "
        "acc -> acc.prev)"
    )
    schema = "k string, e double, o long, n long"

    def merge(batch, prev):
        rows = batch.filter(
            F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(key_col).cast("string").alias("k"),
            F.col(ord_col).cast("long").alias("_o"),
            F.col(value_col).cast("double").alias("_y"),
        )
        arrs = rows.groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("_o", "_y"))).alias("_s"),
            F.max("_o").alias("_ob"),
            F.count(F.lit(1)).alias("_nb"),
        )
        state_k = (
            prev if prev is not None
            else batch.sparkSession.createDataFrame([], schema)
        ).select("k", "e", "o", "n")
        touched = arrs.join(
            state_k.select(
                "k", F.col("e").alias("_e0"), F.col("n").alias("_n0")
            ),
            "k",
            "left",
        ).select(
            "k",
            F.expr(fold).alias("e"),
            F.col("_ob").alias("o"),
            (F.coalesce(F.col("_n0"), F.lit(0)) + F.col("_nb")).alias("n"),
        )
        untouched = state_k.join(arrs.select("k"), "k", "left_anti")
        return touched.unionByName(untouched)

    return _swap_state(state_path, merge)


def incremental_ewma(
    stream: DataFrame,
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    alpha: float = 0.25,
    checkpoint: str | None = None,
):
    """Streaming per-key EWMA (`operators.ops.ewma` kept live — the
    causal smoother behind drift alerts, maintained over an unbounded
    stream with |keys|-bounded state).  See `ewma_apply_fn` for the
    chop-equivalence contract; read back with `read_ewma_state`.
    Returns the started StreamingQuery (availableNow trigger)."""
    apply = ewma_apply_fn(state_path, key_col, ord_col, value_col, alpha)
    return _start(stream, apply, checkpoint)


def read_ewma_state(spark, state_path: str) -> DataFrame:
    """Queryable surface of `incremental_ewma`: (key, ewma, last_ord,
    n_points)."""
    return spark.read.parquet(state_path).select(
        F.col("k").alias("key"),
        F.col("e").alias("ewma"),
        F.col("o").alias("last_ord"),
        F.col("n").alias("n_points"),
    )


def neardup_apply_fn(
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 500,
    compact_every: int | None = None,
    store_buckets: int = 64,
    probe_key_limit: int = 65536,
):
    """The foreachBatch merge behind `incremental_near_dup` (call with
    (batch_df, batch_id) to unit-test replay/recovery): a streaming
    INGEST DEDUP GATE — each micro-batch is MinHash-LSH-deduped
    against everything already admitted, then self-deduped; survivors
    are admitted.

    Layout under `state_path` — a segment store (`_segment_marker`),
    designed so the store is NEVER rewritten (unlike the swap-class
    incremental_* states, the signature store grows with the corpus;
    a tmp-then-rename of the whole store would be a full-store write
    per batch at 100 TB):
      sigs/batch=N/   admitted docs' (_id, sig) rows — written with
                      mode=overwrite into the batch's OWN partition,
                      so an at-least-once replay rewrites the same
                      files (idempotent) instead of duplicating;
      kept/batch=N/   the admitted documents (the gate's output),
                      same idempotent-partition rule;
      sigs_base=B/pk=K/
                      everything at or below batch B folded by
                      `compact_neardup_state` into the PRE-BANDED,
                      BUCKET-PARTITIONED probe layout (the IVF
                      cell-partition pattern, similarity.py ivf
                      index): one row per (band, doc) with bucket
                      dir pk = band·P + crc32(bkey) mod P
                      (P = `store_buckets`), rows SORTED by bkey
                      inside each file, and `_bn` = bucket size
                      precomputed at fold time;
      kept_base=B/    the folded admitted docs (one flat dir);
      hwm_marker      the commit point: its entries carry the mark,
                      the live segments and `num_hashes`, `bands` and
                      `store_buckets`, so compaction and later
                      sessions can never silently band a store two
                      different ways (drift raises).

    Probe plan per batch (the 100 TB shape — the store is NEVER
    shuffled): the batch's banded keys are a bounded set
    (≤ bands·|batch|), so the base probe is
      scan sigs_base pruned by pk.isin(batch pks)     [partition dirs]
      .filter(bkey.isin(batch bkeys))                 [row-group stats
                                                       — files are
                                                       bkey-sorted]
      .join(broadcast(batch banded), on=(pk, bkey))
    — partition pruning is the bucket lookup, parquet min/max prunes
    inside the touched dirs, and the broadcast keeps the join
    entirely map-side.  Batches too wide for a literal key list
    (> `probe_key_limit` distinct band keys) degrade to the plain
    shuffled equi-join — correct, just not pruned.  Delta dirs since
    the last compact are O(compact_every) batches and probe through
    the same broadcast join.

    Keeper semantics: FIRST ARRIVAL WINS across batches (a new doc
    near-duplicating an admitted one is dropped; the batch operator
    `minhash_dedup` keeps min-id WITHIN a batch).  Approximate by
    construction (LSH banding) — registered rows-only, with the
    planted-duplicate exactness pinned in test_streaming."""
    from hadron_spark.llm.dedup import minhash_dedup, minhash_signature

    def write_batch(spark, batch, batch_id, m):
        new_sigs = minhash_signature(
            batch, text_col, num_hashes, shingle_k, id_col
        ).select(F.col(id_col).alias("_id"), "sig")
        new_sigs = pin(new_sigs)
        dup_ids = _neardup_probe(
            spark, state_path, new_sigs, m.hwm, m.base,
            threshold=threshold, num_hashes=num_hashes, bands=bands,
            max_bucket_size=max_bucket_size, store_buckets=store_buckets,
            probe_key_limit=probe_key_limit, segs=m.segs,
        )
        survivors = batch.join(
            dup_ids.withColumnRenamed("_id", id_col), on=id_col,
            how="left_anti",
        )
        kept = minhash_dedup(
            survivors, id_col, text_col, threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            max_bucket_size=max_bucket_size,
        )
        kept = pin(kept)
        kept.write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/kept/batch={batch_id}"
        )
        # the kept docs' signatures were already computed above —
        # semi-join instead of a second shingle pass over the text
        new_sigs.join(
            kept.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        ).write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/sigs/batch={batch_id}"
        )

    params = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "store_buckets": int(store_buckets),
    }
    return _segment_apply(
        state_path, params, write_batch, compact_every, compact_neardup_state
    )


def _neardup_pk(bands_col, bkey_col, store_buckets: int):
    """Bucket dir of a banded signature row: band·P + crc32(bkey) mod
    P — the partition-pruning key of the compacted base."""
    return (
        bands_col.cast("long") * store_buckets
        + F.pmod(F.crc32(bkey_col), F.lit(store_buckets))
    ).cast("int")


# cap on the bkey LITERAL pushdown in `_neardup_probe` — deliberately
# far below probe_key_limit (the broadcast-decision bound): beyond a
# few thousand string literals the In/InSet bloats plan serialization
# while the broadcast join already filters exactly
_BKEY_PUSHDOWN_LIMIT = 4096


def _neardup_probe(
    spark,
    state_path: str,
    new_sigs,
    hwm: int,
    base: int,
    *,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
    store_buckets: int,
    probe_key_limit: int,
    segs: list[int],
):
    """ids (`_id`) of new docs near-duplicating the committed store —
    the shuffle-free probe described in `neardup_apply_fn`.  The
    committed signatures live in the `segs` immutable pre-banded
    segment dirs, scanned pk-pruned + bkey-pushed, and in the batch
    dirs in (base, hwm], banded on the fly; both probe through the
    same broadcast join.  Returns an empty-safe DataFrame with column
    `_id`."""
    from hadron_spark.llm.dedup import _drop_oversized_buckets, band_signatures

    if not segs and hwm <= base:
        return new_sigs.select("_id").limit(0)
    est = (
        F.expr(
            "size(filter(zip_with(n.sig, c.sig, (x, y) -> x = y), m -> m))"
        ).cast("double")
        / F.lit(num_hashes)
    )
    nb = band_signatures(new_sigs, num_hashes, bands).withColumn(
        "pk", _neardup_pk(F.col("band"), F.col("bkey"), store_buckets)
    )
    # bound the driver-side key collect BEFORE collecting: a huge batch
    # must neither ship its key set to the driver nor broadcast itself
    # — count first (one tiny aggregate), then pick the physical plan
    n_keys = nb.select("pk", "bkey").distinct().count()
    small = n_keys <= probe_key_limit
    # the bkey LITERAL pushdown gets a much tighter cap than the
    # broadcast decision: a 65k-element In over strings bloats plan
    # serialization/codegen for marginal benefit (the broadcast
    # equi-join already filters exactly; row-group stats only pay
    # when the literal set is genuinely narrow)
    bkey_push = n_keys <= min(probe_key_limit, _BKEY_PUSHDOWN_LIMIT)

    def probe_join(corpus, on):
        """corpus-side scan joined against the batch: broadcast the
        batch only when it is provably small; wide batches take the
        plain shuffled equi-join (correct, just not map-side)."""
        n_side = nb.alias("n")
        if small:
            n_side = F.broadcast(n_side)
        return (
            corpus.alias("c")
            .join(n_side, on=on)
            .select(F.col("n._id").alias("_id"), est.alias("_est"))
        )

    parts = []
    if segs:
        # pk distinct is bounded by bands·store_buckets regardless of
        # batch width — ALWAYS safe to collect, and the small pk
        # literal set is what prunes partition dirs (the whole point
        # of the bucketed layout), so wide batches keep it; the
        # filters reach every segment's scan through the union
        pks = sorted(r["pk"] for r in nb.select("pk").distinct().collect())
        seg_df = _segment_read(spark, state_path, "sigs", segs)
        if max_bucket_size:
            seg_df = seg_df.filter(F.col("_bn") <= max_bucket_size)
        seg_df = seg_df.filter(F.col("pk").isin(pks))
        if bkey_push:
            bkeys = sorted(
                r["bkey"] for r in nb.select("bkey").distinct().collect()
            )
            seg_df = seg_df.filter(F.col("bkey").isin(bkeys))
        parts.append(probe_join(seg_df, ["pk", "bkey"]))
    if hwm > base:
        delta = _segment_read(
            spark, state_path, "sigs", [], range(base + 1, hwm + 1)
        )
        db = band_signatures(delta.select("_id", "sig"), num_hashes, bands)
        if max_bucket_size:
            db = _drop_oversized_buckets(db, ["band", "bkey"], max_bucket_size)
        parts.append(probe_join(db, ["band", "bkey"]))
    return (
        reduce(DataFrame.unionByName, parts)
        .filter(F.col("_est") >= threshold).select("_id").distinct()
    )


def incremental_near_dup(
    stream: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 500,
    compact_every: int | None = 64,
    checkpoint: str | None = None,
    store_buckets: int = 64,
    probe_key_limit: int = 65536,
):
    """Streaming MinHash-LSH ingest dedup (see `neardup_apply_fn` for
    the state layout, the shuffle-free bucketed probe plan, the
    idempotency story, and the first-arrival-wins keeper contract):
    the missing streaming member of the dedup tier — the batch
    `minhash_dedup_incremental` pattern driven by micro-batches with
    the exactly-once trio.  `compact_every` folds the per-batch state
    partitions into a versioned pre-banded base every N batches
    (default 64), bounding state reads at O(compact_every) dirs
    forever AND giving probes their pruned map-side layout; pass None
    to manage compaction externally via `compact_neardup_state`.
    Read the admitted corpus back with `read_neardup_kept`.  Returns
    the started StreamingQuery (availableNow trigger)."""
    apply = neardup_apply_fn(
        state_path, id_col, text_col, threshold, num_hashes, bands,
        shingle_k, max_bucket_size, compact_every,
        store_buckets=store_buckets, probe_key_limit=probe_key_limit,
    )
    return _start(stream, apply, checkpoint)


def compact_neardup_state(
    spark,
    state_path: str,
    mode: str = "auto",
    max_segments: int = 8,
) -> int:
    """Fold an `incremental_near_dup` state's per-batch partitions
    into consolidated SEGMENTS — the maintenance pass that keeps
    state READS O(#segments) dirs instead of O(#batches) (the same
    small-file physics `operators.maintenance.compaction_plan`
    handles for data stores; here the dirs double as the exactly-once
    ledger, so the fold moves the commit point atomically — see
    `_segment_fold` for the modes and the commit discipline).

    Admitted docs are append-only (signatures are never updated or
    removed), so the store is a LIST of immutable pre-banded segments
    — `sigs_base=<v>` dirs of banded rows (band, bkey, _id, sig,
    _bn=segment-local bucket size) partitioned by the pk bucket dir,
    bkey-SORTED within files, plus matching `kept_base=<v>` dirs.
    The `incremental` fold reads ONLY the batch dirs in (base, hwm],
    so fold cost tracks the DELTA size, never the store (VERDICT r6
    #2: the old fold re-read base + deltas, one full-store pass per
    fold).  The `_bn` celebrity-bucket guard is segment-local, which
    matches the guard's existing two-scope semantics (the pre-segment
    layout already counted base and delta dirs separately — the cap
    was never global).  The `full` rebase bounds probe-side dir
    fan-out; probe cost is O(#segments × probed buckets), so
    `max_segments` bounds the multiplier while keeping O(store)
    rebases 1-in-max_segments rare.

    Banding params come from the marker.  Single-writer contract
    (same as the apply fn: one stream drives a state).  Returns the
    number of batch partitions folded."""
    from pyspark.sql import Window

    from hadron_spark.llm.dedup import band_signatures

    root = state_path.rstrip("/")

    def write_segment(m, segs):
        _segment_read(spark, state_path, "kept", segs, m.batches).write.mode(
            "overwrite"
        ).parquet(root + f"/kept_base={m.hwm}")
        delta = _segment_read(spark, state_path, "sigs", [], m.batches)
        frames = [
            band_signatures(
                delta.select("_id", "sig"),
                m.params["num_hashes"], m.params["bands"],
            ).select("band", "bkey", "_id", "sig")
        ]
        if segs:
            frames.append(
                _segment_read(spark, state_path, "sigs", segs)
                .select("band", "bkey", "_id", "sig")
            )
        pk = _neardup_pk(
            F.col("band"), F.col("bkey"), m.params["store_buckets"]
        )
        (
            reduce(DataFrame.unionByName, frames)
            .withColumn(
                "_bn",
                F.count(F.lit(1)).over(Window.partitionBy("band", "bkey")),
            )
            .withColumn("pk", pk)
            .repartition("pk")
            .sortWithinPartitions("pk", "bkey")
            .write.mode("overwrite")
            .partitionBy("pk")
            .parquet(root + f"/sigs_base={m.hwm}")
        )

    return _segment_fold(
        spark, state_path, mode, max_segments, write_segment,
        ["sigs", "kept"],
    )


def read_neardup_kept(spark, state_path: str) -> DataFrame:
    """Admitted (deduped) documents across all COMMITTED batches of an
    `incremental_near_dup` state — the folded segments plus the
    per-batch partitions at or below the high-water mark, so a crash
    between a partition write and its mark is invisible (the replay
    overwrites it)."""
    m = _segment_marker(spark, state_path)
    out = _segment_read(spark, state_path, "kept", m.segs, m.batches)
    if out is None:
        raise FileNotFoundError(f"no committed near-dup state at {state_path}")
    return out


def cusum_apply_fn(
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
):
    """The foreachBatch merge behind `incremental_cusum` (call with
    (batch_df, batch_id) to unit-test replay/recovery): the TABULAR
    CUSUM control chart (Page 1954) kept live per key — the online
    companion to `operators.ops.cusum_changepoint`'s offline argmax:

        S⁺_t = max(0, S⁺_{t−1} + (y_t − (target+slack)))
        S⁻_t = max(0, S⁻_{t−1} + ((target−slack) − y_t))

    with an alarm counted and the breaching side reset to 0 whenever
    either sum exceeds `threshold` (the classic restart-after-signal
    discipline; `slack` is the usual δ/2 deadband).

    The recurrence is sequential, so chopping a series into
    micro-batches and seeding each batch's fold with the stored
    (S⁺, S⁻) is BIT-IDENTICAL to the one-shot walk over every
    delivered row — the `incremental_ewma` chop-equivalence
    contract, same ordering requirement (per-key deliveries
    non-decreasing in `ord_col` across batches; unordered within a
    batch is fine, the sorted-array fold handles it).  The upper and
    lower edges (target±slack) are folded in as PRE-COMPUTED python
    literals via repr(), so both engines parse the identical
    double; every step is a fixed add/compare chain — hash-exact.

    State is one (k, sp, sm, o, n, al) row per key — |keys| rows
    regardless of volume."""
    up = repr(float(target) + float(slack))
    lo = repr(float(target) - float(slack))
    h = repr(float(threshold))
    sp1 = f"greatest(0.0d, acc.sp + (x._y - {up}))"
    sm1 = f"greatest(0.0d, acc.sm + ({lo} - x._y))"
    fold = (
        "aggregate(_s, named_struct("
        "'sp', coalesce(_sp0, 0.0d), 'sm', coalesce(_sm0, 0.0d), "
        "'al', cast(0 as bigint)), "
        "(acc, x) -> named_struct("
        f"'sp', IF({sp1} > {h}, 0.0d, {sp1}), "
        f"'sm', IF({sm1} > {h}, 0.0d, {sm1}), "
        f"'al', acc.al + IF({sp1} > {h}, 1, 0) + IF({sm1} > {h}, 1, 0)))"
    )
    schema = "k string, sp double, sm double, o long, n long, al long"

    def merge(batch, prev):
        rows = batch.filter(
            F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(key_col).cast("string").alias("k"),
            F.col(ord_col).cast("long").alias("_o"),
            F.col(value_col).cast("double").alias("_y"),
        )
        arrs = rows.groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("_o", "_y"))).alias("_s"),
            F.max("_o").alias("_ob"),
            F.count(F.lit(1)).alias("_nb"),
        )
        state_k = (
            prev if prev is not None
            else batch.sparkSession.createDataFrame([], schema)
        ).select("k", "sp", "sm", "o", "n", "al")
        touched = (
            arrs.join(
                state_k.select(
                    "k",
                    F.col("sp").alias("_sp0"),
                    F.col("sm").alias("_sm0"),
                    F.col("n").alias("_n0"),
                    F.col("al").alias("_al0"),
                ),
                "k",
                "left",
            )
            .withColumn("_f", F.expr(fold))
            .select(
                "k",
                F.col("_f.sp").alias("sp"),
                F.col("_f.sm").alias("sm"),
                F.col("_ob").alias("o"),
                (F.coalesce(F.col("_n0"), F.lit(0)) + F.col("_nb")).alias(
                    "n"
                ),
                (F.coalesce(F.col("_al0"), F.lit(0)) + F.col("_f.al")).alias(
                    "al"
                ),
            )
        )
        untouched = state_k.join(arrs.select("k"), "k", "left_anti")
        return touched.unionByName(untouched)

    return _swap_state(state_path, merge)


def incremental_cusum(
    stream: DataFrame,
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
    checkpoint: str | None = None,
):
    """Streaming per-key tabular CUSUM control chart (Page 1954) —
    `operators.ops.cusum_changepoint` answers WHEN a finished series
    shifted; this one raises the flag LIVE as the stream drifts off
    `target`.  See `cusum_apply_fn` for the chop-equivalence
    contract; read back with `read_cusum_state`.  Returns the started
    StreamingQuery (availableNow trigger)."""
    apply = cusum_apply_fn(
        state_path, key_col, ord_col, value_col, target, slack, threshold
    )
    return _start(stream, apply, checkpoint)


def read_cusum_state(spark, state_path: str) -> DataFrame:
    """Queryable surface of `incremental_cusum`: (key, s_pos, s_neg,
    last_ord, n_points, n_alarms)."""
    return spark.read.parquet(state_path).select(
        F.col("k").alias("key"),
        F.col("sp").alias("s_pos"),
        F.col("sm").alias("s_neg"),
        F.col("o").alias("last_ord"),
        F.col("n").alias("n_points"),
        F.col("al").alias("n_alarms"),
    )


def holt_winters_apply_fn(
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    period: int,
    alpha: float,
    beta: float,
    gamma: float,
):
    """The foreachBatch merge behind `incremental_holt_winters`
    (call with (batch_df, batch_id) to unit-test replay/recovery):
    additive Holt–Winters kept live per key — `operators.ops
    .holt_winters`'s (level, trend, m-slot seasonal ring) state
    advanced batch by batch, so the one-step forecast
    ŷ = l + b + ring[0] is always current.

    WARM-UP BUFFERING is what makes chopping exact: the classical
    init needs the first 2m points, and a micro-batch boundary can
    fall anywhere inside them — so keys without seated state buffer
    their raw rows ('w' rows, ≤ 2m−1 per key) until 2m arrive, then
    run the IDENTICAL init + recurrence the batch operator runs.
    After seating, each batch folds its sorted rows through the
    recurrence seeded from stored state.  Every float step is the
    same fixed IEEE chain (literal dyadic-preferred coefficients
    via repr()), so ANY chopping is bit-identical to the one-shot
    scan — the `incremental_ewma` contract, same per-key
    non-decreasing `ord_col` requirement across batches.

    State is ONE parquet frame: 'k' rows (k, l, b, ring, o, n) and
    'w' warm-up rows (k, o, y) — O(keys·period) regardless of
    volume."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    for nm, v in (("beta", beta), ("gamma", gamma)):
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"{nm} must be in [0, 1], got {v}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    m = int(period)
    a, one_a = repr(float(alpha)), repr(1.0 - float(alpha))
    bf, one_b = repr(float(beta)), repr(1.0 - float(beta))
    g, one_g = repr(float(gamma)), repr(1.0 - float(gamma))
    l_new = (
        f"{a} * (x._y - element_at(acc.ring, 1)) "
        f"+ {one_a} * (acc.l + acc.b)"
    )
    s_new = (
        f"{g} * (x._y - acc.l - acc.b) "
        f"+ {one_g} * element_at(acc.ring, 1)"
    )
    step = (
        "(acc, x) -> named_struct("
        f"'l', {l_new}, "
        f"'b', {bf} * (({l_new}) - acc.l) + {one_b} * acc.b, "
        f"'ring', concat(slice(acc.ring, 2, {m - 1}), array({s_new})))"
    )
    seeded_fold = (
        "aggregate(_s, named_struct("
        "'l', _l0, 'b', _b0, 'ring', _ring0), "
        f"{step})"
    )
    init_l0 = (
        f"aggregate(slice(_arr, 1, {m}), cast(0.0 as double), "
        f"(p, q) -> p + q._y) / {m}"
    )
    init_b0 = (
        f"(aggregate(slice(_arr, {m + 1}, {m}), cast(0.0 as double), "
        f"(p, q) -> p + q._y) / {m} - ({init_l0})) / {m}"
    )
    init_ring = (
        f"transform(slice(_arr, 1, {m}), v -> v._y - ({init_l0}))"
    )
    init_fold = (
        f"aggregate(slice(_arr, {m + 1}, size(_arr) - {m}), "
        f"named_struct('l', {init_l0}, 'b', {init_b0}, "
        f"'ring', {init_ring}), {step})"
    )
    schema = (
        "kind string, k string, l double, b double, "
        "ring array<double>, o long, n long, y double"
    )

    def merge(batch, prev):
        rows = batch.filter(
            F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(key_col).cast("string").alias("k"),
            F.col(ord_col).cast("long").alias("_o"),
            F.col(value_col).cast("double").alias("_y"),
        )
        empty = batch.sparkSession.createDataFrame([], schema)
        state_k = (
            prev.filter(F.col("kind") == "k")
            if prev is not None
            else empty
        ).select("k", "l", "b", "ring", "o", "n")
        state_w = (
            prev.filter(F.col("kind") == "w")
            if prev is not None
            else empty
        ).select("k", F.col("o").alias("_o"), F.col("y").alias("_y"))

        # seated keys: fold the batch's sorted rows from stored state
        seated_batch = rows.join(state_k.select("k"), "k", "left_semi")
        adv = (
            seated_batch.groupBy("k")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("_o", "_y"))
                ).alias("_s"),
                F.max("_o").alias("_ob"),
                F.count(F.lit(1)).alias("_nb"),
            )
            .join(
                state_k.select(
                    "k",
                    F.col("l").alias("_l0"),
                    F.col("b").alias("_b0"),
                    F.col("ring").alias("_ring0"),
                    F.col("n").alias("_n0"),
                ),
                "k",
            )
            .withColumn("_f", F.expr(seeded_fold))
            .select(
                F.lit("k").alias("kind"),
                "k",
                F.col("_f.l").alias("l"),
                F.col("_f.b").alias("b"),
                F.col("_f.ring").alias("ring"),
                F.col("_ob").alias("o"),
                (F.col("_n0") + F.col("_nb")).alias("n"),
                F.lit(None).cast("double").alias("y"),
            )
        )
        untouched_k = state_k.join(
            rows.select("k").distinct(), "k", "left_anti"
        ).select(
            F.lit("k").alias("kind"), "k", "l", "b", "ring", "o", "n",
            F.lit(None).cast("double").alias("y"),
        )
        # unseated keys: pooled warm-up rows decide seat-now vs buffer
        unseated = rows.join(state_k.select("k"), "k", "left_anti")
        pooled = state_w.unionByName(unseated)
        pool = pooled.groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("_o", "_y"))).alias(
                "_arr"
            ),
            F.count(F.lit(1)).alias("_cnt"),
            F.max("_o").alias("_om"),
        )
        seat = (
            pool.filter(F.col("_cnt") >= 2 * m)
            .withColumn("_f", F.expr(init_fold))
            .select(
                F.lit("k").alias("kind"),
                "k",
                F.col("_f.l").alias("l"),
                F.col("_f.b").alias("b"),
                F.col("_f.ring").alias("ring"),
                F.col("_om").alias("o"),
                F.col("_cnt").alias("n"),
                F.lit(None).cast("double").alias("y"),
            )
        )
        buffer = (
            pool.filter(F.col("_cnt") < 2 * m)
            .select("k", F.explode("_arr").alias("_z"))
            .select(
                F.lit("w").alias("kind"),
                "k",
                F.lit(None).cast("double").alias("l"),
                F.lit(None).cast("double").alias("b"),
                F.lit(None).cast("array<double>").alias("ring"),
                F.col("_z._o").alias("o"),
                F.lit(None).cast("long").alias("n"),
                F.col("_z._y").alias("y"),
            )
        )
        return (
            adv.unionByName(untouched_k)
            .unionByName(seat)
            .unionByName(buffer)
        )

    return _swap_state(state_path, merge)


def incremental_holt_winters(
    stream: DataFrame,
    state_path: str,
    key_col: str,
    ord_col: str,
    value_col: str,
    period: int,
    alpha: float,
    beta: float,
    gamma: float,
    checkpoint: str | None = None,
):
    """Streaming additive Holt–Winters per key — `operators.ops
    .holt_winters` kept live, warm-up buffered so ANY micro-batch
    chopping is bit-identical to the one-shot scan.  See
    `holt_winters_apply_fn`; read back with `read_hw_state`.
    Returns the started StreamingQuery (availableNow trigger)."""
    apply = holt_winters_apply_fn(
        state_path, key_col, ord_col, value_col, period, alpha, beta,
        gamma,
    )
    return _start(stream, apply, checkpoint)


def read_hw_state(spark, state_path: str) -> DataFrame:
    """Queryable surface of `incremental_holt_winters`: (key, level,
    trend, forecast — the one-step-ahead l + b + ring[0] — last_ord,
    n_points, warming — count of still-buffered warm-up rows for
    keys not yet seated)."""
    st = spark.read.parquet(state_path)
    k = st.filter(F.col("kind") == "k").select(
        F.col("k").alias("key"),
        F.col("l").alias("level"),
        F.col("b").alias("trend"),
        (
            F.col("l") + F.col("b") + F.element_at(F.col("ring"), 1)
        ).alias("forecast"),
        F.col("o").alias("last_ord"),
        F.col("n").alias("n_points"),
        F.lit(0).cast("long").alias("warming"),
    )
    w = (
        st.filter(F.col("kind") == "w")
        .groupBy(F.col("k").alias("key"))
        .agg(
            F.lit(None).cast("double").alias("level"),
            F.lit(None).cast("double").alias("trend"),
            F.lit(None).cast("double").alias("forecast"),
            F.max("o").alias("last_ord"),
            F.lit(None).cast("long").alias("n_points"),
            F.count(F.lit(1)).alias("warming"),
        )
    )
    return k.unionByName(w)
