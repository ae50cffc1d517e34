"""Structured Streaming surface (beyond-reference capability,
SURVEY §2.7: reference has no streaming)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadron_spark.queries import events_stream, load
from hadron_spark.streaming import (
    run_stream_to_memory,
    sessionize_stream,
    stateful_running_totals,
    stream_tap,
    windowed_agg,
)


def test_windowed_agg_matches_batch(spark, sf_dir):
    ev = events_stream(spark, sf_dir, "stream_events_")
    agg = windowed_agg(
        ev, "ts", "5 minutes", ["event_type"],
        [F.count(F.lit(1)).alias("n")],
    )
    got = run_stream_to_memory(agg, "win_test", output_mode="complete")

    batch = load(spark, sf_dir, "events")
    expect = (
        batch.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )
    assert got.count() == expect
    assert {"win_start", "win_end", "event_type", "n"} <= set(got.columns)


def test_sessionize_stream(spark, sf_dir):
    ev = events_stream(spark, sf_dir, "stream_events_")
    sess = sessionize_stream(ev, "ts", ["user_id"], gap="30 minutes")
    got = run_stream_to_memory(sess, "sess_test", output_mode="complete")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["sess_end"] >= r["sess_start"] for r in rows)
    # session count per user matches the batch window-gap computation
    batch_sessions = load(spark, sf_dir, "events").groupBy("user_id").count().count()
    assert got.select("user_id").distinct().count() == batch_sessions


def test_stateful_running_totals(spark, sf_dir):
    ev = events_stream(spark, sf_dir, "stream_events_").select("user_id", "value")
    out = run_stream_to_memory(
        stateful_running_totals(ev, "user_id", "value"),
        "state_test",
        output_mode="update",
    )
    rows = {r["user_id"]: r for r in out.collect()}
    batch = {
        r["user_id"]: r
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(rows) == set(batch)
    for k, r in rows.items():
        assert r["n"] == batch[k]["n"]
        assert abs(r["total"] - batch[k]["total"]) < 1e-6


def test_stream_dedup_drops_duplicate_keys(spark, sf_dir):
    from hadron_spark.streaming import stream_dedup

    ev = events_stream(spark, sf_dir, "stream_events_")
    # duplicate every event id by unioning the stream with itself,
    # then dedup within the watermark
    doubled = ev.union(ev)
    deduped = stream_dedup(doubled, ["event_id"], ts_col="ts", watermark="10 minutes")
    out = run_stream_to_memory(deduped, "dedup_test")
    n = out.count()
    total = load(spark, sf_dir, "events").count()
    assert n == total  # every event exactly once


def test_stream_static_enrich(spark, sf_dir):
    from hadron_spark.streaming import enrich

    ev = events_stream(spark, sf_dir, "stream_events_")
    users = spark.createDataFrame(
        [(i, f"tier_{i % 3}") for i in range(1, 51)], "user_id long, tier string"
    )
    joined = enrich(ev, users, on=["user_id"])
    out = run_stream_to_memory(joined.groupBy("tier").count(), "enrich_t", output_mode="complete")
    rows = {r["tier"]: r["count"] for r in out.collect() if r["tier"] is not None}
    assert len(rows) >= 1


def test_stream_stream_join_time_band(spark, sf_dir):
    from hadron_spark.streaming import stream_stream_join

    def src():
        return events_stream(spark, sf_dir, "ss_join_")

    left = src().select("user_id", F.col("ts").alias("l_ts"), "event_id")
    right = src().select(
        "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    joined = stream_stream_join(
        left, right, ["user_id"], "l_ts", "r_ts", bound="5 minutes"
    )
    out = run_stream_to_memory(joined, "ss_join")
    n = out.count()
    # self-join within ±5min: at least the |events| self-pairs exist
    ev_n = load(spark, sf_dir, "events").count()
    assert n >= ev_n
    # band respected
    bad = out.filter(F.abs(F.col("l_ts").cast("long") - F.col("r_ts").cast("long")) > 300).count()
    assert bad == 0


def test_foreach_batch_upsert(spark, sf_dir, tmp_path):
    from hadron_spark.streaming import foreach_batch_upsert

    counts = events_stream(spark, sf_dir, "upsert_events_").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    target = str(tmp_path / "target")
    q = foreach_batch_upsert(
        counts, target, ["user_id"], checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {r["user_id"]: r["n"] for r in spark.read.parquet(target).collect()}
    want = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_hygiene_ops_stream_batch_parity(spark, sf_dir, tmp_path):
    """The crawl-hygiene chain (html_to_text → dedup_lines →
    redact_pii) is stateless expression work, so the SAME code runs
    on a readStream unchanged — streaming ingest pipelines get the
    scrub for free, byte-identical to batch."""
    import shutil

    from hadron_spark.functions.text import dedup_lines, html_to_text, redact_pii

    staged = tmp_path / "docs"
    staged.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", staged / "part-000.parquet")
    batch = spark.read.parquet(str(staged))
    stream = spark.readStream.schema(batch.schema).parquet(str(staged))

    def chain(df):
        wrapped = F.concat(
            F.lit("<p>"), F.col("text"),
            F.lit("</p><p>reach us: ops@example.org</p>"),
        )
        return df.select(
            "doc_id", redact_pii(dedup_lines(html_to_text(wrapped))).alias("t")
        )

    got = run_stream_to_memory(chain(stream), "hyg_parity", output_mode="append")
    want = {(r["doc_id"], r["t"]) for r in chain(batch).collect()}
    have = {(r["doc_id"], r["t"]) for r in got.collect()}
    assert have == want
    assert all("<EMAIL>" in t for _, t in have)


def test_incremental_gram_matches_batch(spark, sf_dir, tmp_path):
    import os
    import shutil

    from hadron_spark.llm import embeddings as E
    from hadron_spark.streaming.ops import incremental_gram, stream_tap

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    # two files → two micro-batch-visible inputs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(src + "/a")
    emb.filter("vec_id % 2 = 1").coalesce(1).write.parquet(src + "/b")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for sub in ("a", "b"):
        for f in os.listdir(f"{src}/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{src}/{sub}/{f}", f"{flat}/{sub}_{f}")
                n += 1
    assert n == 2
    schema = emb.schema
    state = str(tmp_path / "gram_state")
    q = incremental_gram(
        stream_tap(spark, flat, schema).select("embedding"),
        state,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    from hadron_spark.streaming.ops import read_gram_state

    got = {(r.i, r.j): r.g for r in read_gram_state(spark, state).collect()}
    want = {(r.i, r.j): r.g for r in E.gram_matrix(emb).collect()}
    assert got == want


def test_incremental_gram_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-delivering a batch with the
    same batch_id must merge exactly once (high-water-mark skip)."""
    from hadron_spark.llm import embeddings as E
    from hadron_spark.streaming.ops import gram_apply_fn, read_gram_state

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b0 = emb.filter("vec_id % 2 = 0").select("embedding")
    b1 = emb.filter("vec_id % 2 = 1").select("embedding")
    state = str(tmp_path / "gram_state")
    apply = gram_apply_fn(state)
    apply(b0, 0)
    apply(b1, 1)
    want = {(r.i, r.j): r.g for r in E.gram_matrix(emb).collect()}
    got = {(r.i, r.j): r.g for r in read_gram_state(spark, state).collect()}
    assert got == want
    # replay batch 1 (same id), and a stale batch 0: state unchanged
    apply(b1, 1)
    apply(b0, 0)
    got = {(r.i, r.j): r.g for r in read_gram_state(spark, state).collect()}
    assert got == want


def test_incremental_gram_crash_recovery(spark, sf_dir, tmp_path):
    """Crash between the two commit renames leaves state_path absent
    (or a dangling tmp); the next apply must heal, not rebuild state
    from its own partial alone."""
    from hadron_spark.llm import embeddings as E
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import gram_apply_fn, read_gram_state

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b0 = emb.filter("vec_id % 2 = 0").select("embedding")
    b1 = emb.filter("vec_id % 2 = 1").select("embedding")
    state = str(tmp_path / "gram_state")
    apply = gram_apply_fn(state)
    apply(b0, 0)
    # simulate a crash after mv(state -> old), before mv(tmp -> state)
    fs.mv(spark, state, state + "._old_1")
    apply(b1, 1)
    want = {(r.i, r.j): r.g for r in E.gram_matrix(emb).collect()}
    got = {(r.i, r.j): r.g for r in read_gram_state(spark, state).collect()}
    assert got == want
    assert not fs.exists(spark, state + "._old_1")
    # simulate a crash where the NEW tmp was fully written but never
    # promoted: recovery must promote the tmp (it is complete), and
    # the high-water mark inside it must make the replay a no-op
    b2 = emb.filter("vec_id % 3 = 0").select("embedding")
    apply(b2, 2)
    fs.mv(spark, state, state + "._tmp_9")
    apply(b2, 2)  # replay: heal promotes tmp, hwm(2) skips the merge
    want2 = {
        (r.i, r.j): r.g
        for r in E.gram_matrix(
            emb.select("embedding").unionAll(b2)
        ).collect()
    }
    got2 = {(r.i, r.j): r.g for r in read_gram_state(spark, state).collect()}
    assert got2 == want2


def test_streaming_substring_dedup_curation(spark, tmp_path):
    """Streaming exact-substring curation: batch 2's text that repeats
    ADMITTED batch-1 spans is cut; replay is a no-op (HWM); output
    dirs are per-batch (idempotent overwrite); the store reflects the
    admitted text's fingerprints."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import substring_dedup_apply_fn

    state = str(tmp_path / "fp_state")
    out = str(tmp_path / "curated")
    apply = substring_dedup_apply_fn(state, out, window=4)

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five")],
        "doc_id long, text string",
    )
    apply(b1, 0)
    got1 = {
        r.doc_id: r.clean_text
        for r in spark.read.parquet(f"{out}/batch=0").collect()
    }
    # first batch: nothing admitted before it -> passes through
    assert got1 == {
        1: "alpha beta gamma delta epsilon",
        2: "one two three four five",
    }

    b2 = spark.createDataFrame(
        [(10, "alpha beta gamma delta fresh tail"),   # leading b1 span
         (11, "wholly novel content right here")],
        "doc_id long, text string",
    )
    apply(b2, 1)
    got2 = {
        r.doc_id: r.clean_text
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    }
    assert got2[10] == "fresh tail"
    assert got2[11] == "wholly novel content right here"

    # replay batch 1: skipped via high-water mark, output unchanged
    before = sorted(
        (r.doc_id, r.clean_text)
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    )
    apply(b2, 1)
    after = sorted(
        (r.doc_id, r.clean_text)
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    )
    assert before == after

    # batch 3 deduping against batch 2's ADMITTED text: 'wholly novel
    # content right' is now in the store
    b3 = spark.createDataFrame(
        [(20, "wholly novel content right again and again")],
        "doc_id long, text string",
    )
    apply(b3, 2)
    got3 = spark.read.parquet(f"{out}/batch=2").collect()
    assert got3[0].clean_text == "again and again"

    # crash-window heal: simulate a marker mid-swap crash, next batch
    # must restore and still skip nothing it shouldn't
    fs.mv(spark, state + "/hwm_marker", state + "/hwm_marker._old_9")
    b4 = spark.createDataFrame(
        [(30, "one two three four closing words")],
        "doc_id long, text string",
    )
    apply(b4, 3)
    got4 = spark.read.parquet(f"{out}/batch=3").collect()
    assert got4[0].clean_text == "five closing words" or got4[0].clean_text == "closing words"


def test_streaming_perplexity_gate(spark, tmp_path):
    """Streaming CCNet gate: batches scored against a PERSISTED LM
    (offline save_lm artifact); in-domain docs pass, OOV garbage is
    cut, the admission decision is batch-boundary independent, and
    a replayed batch overwrites its own directory (idempotent)."""
    from hadron_spark.llm.perplexity import (
        ngram_lm_train,
        perplexity_scores,
        save_lm,
    )
    from hadron_spark.streaming.ops import perplexity_gate_apply_fn

    ref = spark.createDataFrame(
        [
            ("the cat sat on the mat",),
            ("the dog sat on the rug",),
            ("a cat and a dog sat",),
        ],
        "text string",
    )
    lm = ngram_lm_train(ref, order=3, n_buckets=1 << 16)
    lm_path = str(tmp_path / "lm")
    save_lm(lm, lm_path)

    docs = [
        (1, "the cat sat on the mat"),
        (2, "zz qq ww ee rr tt"),
        (3, "a dog sat on the mat"),
        (4, "jj kk ll pp zz xx"),
    ]
    all_df = spark.createDataFrame(docs, "doc_id long, text string")
    # offline threshold: midpoint of the corpus score range
    s = {
        r["doc_id"]: r["logprob_per_token"]
        for r in perplexity_scores(all_df, lm).collect()
    }
    thr = (max(s.values()) + min(s.values())) / 2

    out = str(tmp_path / "gated")
    apply = perplexity_gate_apply_fn(lm_path, out, thr)
    apply(all_df.filter(F.col("doc_id") <= 2), 0)
    apply(all_df.filter(F.col("doc_id") >= 3), 1)
    kept = sorted(
        r["doc_id"]
        for b in (0, 1)
        for r in spark.read.parquet(f"{out}/batch={b}").collect()
    )
    assert kept == [1, 3]  # garbage cut in BOTH batches
    # replay of batch 0 is idempotent (same directory, same rows)
    apply(all_df.filter(F.col("doc_id") <= 2), 0)
    again = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/batch=0").collect()
    )
    assert again == [1]
    # batch-boundary independence: one big batch admits the same set
    out2 = str(tmp_path / "gated2")
    apply2 = perplexity_gate_apply_fn(lm_path, out2, thr)
    apply2(all_df, 0)
    one = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out2}/batch=0").collect()
    )
    assert one == [1, 3]


def test_incremental_cms_matches_batch(spark, sf_dir, tmp_path):
    """Final streamed state must be bit-identical to cms_build over
    all rows in one pass — CMS linearity means batch boundaries are
    invisible."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.operators.ops import cms_build
    from hadron_spark.streaming.ops import cms_apply_fn, read_cms_state

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.lower(F.col("text")))).alias("tok"))
    )
    state = str(tmp_path / "cms_state")
    apply = cms_apply_fn(state, key="tok", depth=4, width=128)
    apply(toks.filter(F.crc32(F.col("tok")) % 3 == 0), 0)
    apply(toks.filter(F.crc32(F.col("tok")) % 3 == 1), 1)
    apply(toks.filter(F.crc32(F.col("tok")) % 3 == 2), 2)
    got = {
        (r.d, r.bucket): r.cnt
        for r in read_cms_state(spark, state).collect()
    }
    want = {
        (r.d, r.bucket): r.cnt
        for r in cms_build(toks, "tok", depth=4, width=128).collect()
    }
    assert got == want
    # state size is bounded by the sketch, not the stream
    assert len(got) <= 4 * 128


def test_incremental_cms_replay_and_recovery(spark, sf_dir, tmp_path):
    """At-least-once replays merge exactly once (high-water mark);
    an interrupted tmp-then-rename swap heals on the next apply."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.operators.ops import cms_build
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import cms_apply_fn, read_cms_state

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.lower(F.col("text")))).alias("tok"))
    )
    b0 = toks.filter(F.crc32(F.col("tok")) % 2 == 0)
    b1 = toks.filter(F.crc32(F.col("tok")) % 2 == 1)
    state = str(tmp_path / "cms_state")
    apply = cms_apply_fn(state, key="tok", depth=4, width=128)
    apply(b0, 0)
    # crash after mv(state -> old), before tmp promotion: heal
    fs.mv(spark, state, state + "._old_1")
    apply(b1, 1)
    want = {
        (r.d, r.bucket): r.cnt
        for r in cms_build(toks, "tok", depth=4, width=128).collect()
    }
    got = {
        (r.d, r.bucket): r.cnt
        for r in read_cms_state(spark, state).collect()
    }
    assert got == want
    assert not fs.exists(spark, state + "._old_1")
    # replayed batches (same ids) are no-ops
    apply(b1, 1)
    apply(b0, 0)
    got = {
        (r.d, r.bucket): r.cnt
        for r in read_cms_state(spark, state).collect()
    }
    assert got == want


def test_incremental_hll_matches_batch_and_replay(spark, sf_dir, tmp_path):
    """Streamed per-key HLL estimates equal the one-shot batch
    sketch (union is lossless on registers); replaying a batch is a
    no-op twice over — the swap state's high-water mark skips it, and
    register max is idempotent anyway."""
    from hadron_spark.operators.sketch import hll_estimate, hll_rollup
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import hll_apply_fn

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    state = str(tmp_path / "hll_state")
    apply = hll_apply_fn(state, "event_type", "user_id", lg_k=12)
    apply(ev.filter(F.col("user_id") % 3 == 0), 0)
    apply(ev.filter(F.col("user_id") % 3 == 1), 1)
    # crash window: state renamed away mid-swap, next apply heals
    fs.mv(spark, state, state + "._old_7")
    apply(ev.filter(F.col("user_id") % 3 == 2), 2)
    want = {
        r["event_type"]: r["est"]
        for r in hll_estimate(
            hll_rollup(ev, "event_type", "user_id", lg_k=12)
        ).collect()
    }
    got = {
        r["event_type"]: r["est"]
        for r in hll_estimate(spark.read.parquet(state)).collect()
    }
    assert got == want
    # replay every batch: estimates unchanged (register max idempotent)
    for i, m in enumerate((0, 1, 2)):
        apply(ev.filter(F.col("user_id") % 3 == m), i)
    again = {
        r["event_type"]: r["est"]
        for r in hll_estimate(spark.read.parquet(state)).collect()
    }
    assert again == want


def test_incremental_moments_matches_batch_replay_recovery(spark, sf_dir, tmp_path):
    """Streamed (n, Σy, Σy²) state == one-shot groupBy regardless of
    batch chopping; replayed batch merges exactly once; interrupted
    swap heals; NULL keys drop."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import moments_apply_fn, read_moments_state

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    want = {
        r["event_type"]: (r["n"], r["sy"], r["syy"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .collect()
    }
    state = str(tmp_path / "mom_state")
    apply = moments_apply_fn(state, "event_type", "y")
    b0 = ev.filter(F.crc32(F.col("event_type")) % 2 == 0)
    b1 = ev.filter(F.crc32(F.col("event_type")) % 2 == 1).withColumn(
        "event_type",
        F.when(F.lit(True), F.col("event_type")).otherwise(F.lit(None)),
    )
    apply(b0, 0)
    apply(b0, 0)  # at-least-once replay: must be a no-op
    fs.mv(spark, state, state + "._old_1")  # crash mid-swap: heal
    apply(b1, 1)
    got = {
        r["event_type"]: (r["n"], r["sy"], r["syy"])
        for r in read_moments_state(spark, state, "event_type").collect()
    }
    assert got == want


def test_incremental_topk_matches_batch_replay_recovery(spark, sf_dir, tmp_path):
    """Streamed per-key top-k state == one-shot windowed top-k over
    every delivered row; replay no-op; mid-swap crash heal."""
    from pyspark.sql import Window

    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import read_topk_state, topk_apply_fn

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("id"),
        F.round(F.col("value") * 100).cast("long").alias("score"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    want = {
        (r["event_type"], r["id"], r["score"])
        for r in ev.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .collect()
    }
    state = str(tmp_path / "topk_state")
    apply = topk_apply_fn(state, "event_type", "id", "score", k=5)
    b0 = ev.filter(F.col("id") % 2 == 0)
    b1 = ev.filter(F.col("id") % 2 == 1)
    apply(b0, 0)
    apply(b0, 0)  # replay: no-op
    fs.mv(spark, state, state + "._old_1")  # crash mid-swap
    apply(b1, 1)
    got = {
        (r["event_type"], r["id"], r["score"])
        for r in read_topk_state(spark, state, "event_type").collect()
    }
    assert got == want


def test_incremental_histogram_matches_batch_replay_recovery(spark, sf_dir, tmp_path):
    """Streamed per-key bin counts == one-shot binned groupBy
    regardless of chopping; replayed batch merges exactly once;
    interrupted swap heals; NULL keys drop; under/overflow rows land
    in bins -1 / n_bins."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        histogram_apply_fn,
        read_histogram_state,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    # force both tails: one huge and one negative value per type
    extra = spark.createDataFrame(
        [("click", -5), ("click", 10**7)], "event_type string, y long"
    )
    ev = ev.unionByName(extra)
    b = (
        F.when(F.col("y") < 0, F.lit(-1))
        .when(F.col("y") >= 50000, F.lit(25))
        .otherwise(F.expr("(y * 25) div 50000"))
        .cast("int")
    )
    want = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in ev.select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    state = str(tmp_path / "hist_state")
    apply = histogram_apply_fn(state, "event_type", "y", lo=0, hi=50000, n_bins=25)
    b0 = ev.filter(F.crc32(F.col("event_type")) % 2 == 0)
    b1 = ev.filter(F.crc32(F.col("event_type")) % 2 == 1).withColumn(
        "event_type",
        F.when(F.lit(True), F.col("event_type")).otherwise(F.lit(None)),
    )
    apply(b0, 0)
    apply(b0, 0)  # at-least-once replay: must be a no-op
    fs.mv(spark, state, state + "._old_1")  # crash mid-swap: heal
    apply(b1, 1)
    got = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in read_histogram_state(spark, state, "event_type").collect()
    }
    assert got == want
    assert ("click", -1) in got and ("click", 25) in got


def test_swap_state_raw_read_is_exactly_the_state(spark, tmp_path):
    """The batch high-water mark of a swap-class state is an empty
    `_hwm_<id>` dir, not a data row: a raw parquet read of a moments
    state and of a transitions state holds exactly the rows their
    readers return."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        moments_apply_fn,
        read_moments_state,
        read_transitions_state,
        transitions_apply_fn,
    )

    mom = str(tmp_path / "mom_state")
    apply = moments_apply_fn(mom, "k", "y")
    apply(spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 5)], "k string, y long"), 0)
    apply(spark.createDataFrame([("a", 3)], "k string, y long"), 1)
    raw = sorted(tuple(r) for r in spark.read.parquet(mom)
                 .select("k", "n", "sy", "syy").collect())
    assert raw == [("a", 2, 4, 10), ("b", 1, 2, 4)]
    assert raw == sorted(
        tuple(r) for r in read_moments_state(spark, mom, "k").collect()
    )
    names = {e.path.rstrip("/").rsplit("/", 1)[1] for e in fs.ls(spark, mom)}
    assert "_hwm_1" in names and "_hwm_0" not in names

    tr = str(tmp_path / "trans_state")
    apply = transitions_apply_fn(tr, "u", "s", "o")
    schema = "u long, s string, o long"
    apply(spark.createDataFrame([(1, "x", 1), (1, "y", 2), (2, "x", 1)],
                                schema), 0)
    apply(spark.createDataFrame([(1, "x", 3)], schema), 1)
    raw = spark.read.parquet(tr)
    assert {r["kind"] for r in raw.collect()} == {"t", "e"}
    got = sorted(
        tuple(r) for r in raw.filter("kind = 't'")
        .select("from_state", "to_state", "n").collect()
    )
    assert got == [("x", "y", 1), ("y", "x", 1)]
    assert got == sorted(
        tuple(r) for r in read_transitions_state(spark, tr)
        .select("from_state", "to_state", "n").collect()
    )
    assert raw.filter("kind = 'e'").count() == 2  # one tail per entity


def test_swap_state_without_mark_raises(spark, tmp_path):
    """A state dir with no `_hwm_` entry was written when the mark was
    a data row; merging it would count that row as data, so the next
    apply must raise, naming the path."""
    import re

    import pytest

    from hadron_spark.streaming.ops import moments_apply_fn

    state = str(tmp_path / "old_state")
    spark.createDataFrame(
        [("a", 1, 1, 1), (None, 0, 0, 0)],
        "k string, n long, sy long, syy long",
    ).write.parquet(state)
    apply = moments_apply_fn(state, "k", "y")
    with pytest.raises(ValueError, match=re.escape(state)):
        apply(spark.createDataFrame([("a", 3)], "k string, y long"), 1)


def test_histogram_quantiles_reference(spark):
    """Quantile bin = smallest bin whose cum reaches ceil(n*q/scale),
    checked against a python reference, including the degenerate
    one-bin key and q=scale (the max)."""
    from hadron_spark.streaming.ops import histogram_quantiles

    hist = [
        ("a", 0, 10), ("a", 1, 30), ("a", 2, 60),
        ("b", -1, 5), ("b", 3, 5), ("b", 25, 5),
        ("c", 7, 1),
    ]
    df = spark.createDataFrame(hist, "k string, bin int, cnt long")
    got = {
        (r["k"], r["q_units"]): (r["n"], r["target"], r["bin"])
        for r in histogram_quantiles(df, "k", [50, 90, 100]).collect()
    }
    from collections import defaultdict

    bykey = defaultdict(list)
    for k, b, c in hist:
        bykey[k].append((b, c))
    for k, bins in bykey.items():
        bins.sort()
        n = sum(c for _, c in bins)
        for q in (50, 90, 100):
            target = -((-n * q) // 100)
            cum = 0
            for b, c in bins:
                cum += c
                if cum >= target:
                    assert got[(k, q)] == (n, target, b)
                    break


def test_histogram_validation(spark):
    import pytest

    from hadron_spark.streaming.ops import (
        histogram_apply_fn,
        histogram_quantiles,
    )

    with pytest.raises(ValueError):
        histogram_apply_fn("/tmp/x", "k", "y", lo=5, hi=5, n_bins=3)
    with pytest.raises(ValueError):
        histogram_apply_fn("/tmp/x", "k", "y", lo=0, hi=10, n_bins=0)
    df = spark.createDataFrame([("a", 0, 1)], "k string, bin int, cnt long")
    with pytest.raises(ValueError):
        histogram_quantiles(df, "k", [0])
    with pytest.raises(ValueError):
        histogram_quantiles(df, "k", [101])


def test_incremental_transitions_matches_batch_replay_recovery(
    spark, sf_dir, tmp_path
):
    """Streamed transition state == one-shot transition_matrix over
    every delivered row regardless of batch chopping (including the
    pairs that STRADDLE batch boundaries via the stored per-entity
    tails); replayed batch merges exactly once; mid-swap crash
    heals; a drained stream via incremental_transitions agrees."""
    from hadron_spark.operators.ops import transition_matrix
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        read_transitions_state,
        transitions_apply_fn,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        # event_id is unique -> a collision-free total order
        F.col("event_id").alias("o"),
    )
    want = {
        (r["from_state"], r["to_state"]): (r["n"], r["row_total"], r["prob"])
        for r in transition_matrix(
            ev, "user_id", "event_type", ["o"]
        ).collect()
    }
    # chop by global order-ranges: per-entity deliveries stay ordered
    # across batches (the documented contract)
    cuts = ev.approxQuantile("o", [0.33, 0.66], 0.0)
    state = str(tmp_path / "trans_state")
    apply = transitions_apply_fn(state, "user_id", "event_type", "o")
    b0 = ev.filter(F.col("o") <= cuts[0])
    b1 = ev.filter((F.col("o") > cuts[0]) & (F.col("o") <= cuts[1]))
    b2 = ev.filter(F.col("o") > cuts[1])
    apply(b0, 0)
    apply(b0, 0)  # at-least-once replay: must be a no-op
    apply(b1, 1)
    fs.mv(spark, state, state + "._old_2")  # crash mid-swap: heal
    apply(b2, 2)
    got = {
        (r["from_state"], r["to_state"]): (r["n"], r["row_total"], r["prob"])
        for r in read_transitions_state(spark, state).collect()
    }
    assert got == want

    # end-to-end writeStream wiring: drain the same rows as ONE
    # micro-batch through incremental_transitions itself
    from hadron_spark.streaming.ops import incremental_transitions

    src = str(tmp_path / "trans_src")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id bigint, event_type string, o bigint"
    ).parquet(src)
    state2 = str(tmp_path / "trans_state2")
    q = incremental_transitions(
        stream, state2, "user_id", "event_type", "o",
        checkpoint=str(tmp_path / "trans_ckpt"),
    )
    q.awaitTermination(300)
    got2 = {
        (r["from_state"], r["to_state"]): (r["n"], r["row_total"], r["prob"])
        for r in read_transitions_state(spark, state2).collect()
    }
    assert got2 == want


def test_incremental_near_dup_gate_replay_recovery(spark, tmp_path):
    """Streaming ingest dedup gate: planted near-duplicates arriving
    in LATER batches are rejected against the admitted store (first
    arrival wins), within-batch duplicates self-dedup, distinct docs
    all survive; at-least-once replay is a no-op (idempotent batch
    partitions + HWM); a crash between partition writes and the HWM
    commit replays invisibly."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        neardup_apply_fn,
        read_neardup_kept,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs far away home",
        "pack my box with five dozen liquor jugs before the summer heat ends",
        "how vexingly quick daft zebras jump when the circus train arrives",
        "sphinx of black quartz judge my vow under the ancient desert moon",
    ]
    rows = []
    # batch 0: originals 0..3; batch 1: near-copies of 0/1 (one char
    # appended) + a fresh doc; batch 2: exact copy of doc 2 + a
    # within-batch duplicated fresh doc pair
    rows += [(i, 0, base[i]) for i in range(4)]
    rows += [
        (10, 1, base[0] + "!"),
        (11, 1, base[1] + "?"),
        (12, 1, "completely novel content about distributed query engines at scale"),
    ]
    rows += [
        (20, 2, base[2]),
        (21, 2, "another genuinely new document describing hilbert curve layouts"),
        (22, 2, "another genuinely new document describing hilbert curve layouts"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, b int, text string")
    state = str(tmp_path / "nd_state")
    apply = neardup_apply_fn(
        state, threshold=0.7, num_hashes=32, bands=8, compact_every=2
    )  # auto-fold after batch 1 — the rest of the test runs against
    # a store that is part base, part fresh partitions
    apply(df.filter(F.col("b") == 0), 0)
    apply(df.filter(F.col("b") == 0), 0)  # replay: no-op
    apply(df.filter(F.col("b") == 1), 1)
    fs.mv(spark, state + "/hwm_marker",
          state + "/hwm_marker._old_2")  # crash heal
    apply(df.filter(F.col("b") == 2), 2)
    kept = {r["doc_id"] for r in read_neardup_kept(spark, state).collect()}
    assert {0, 1, 2, 3, 12}.issubset(kept)      # originals + fresh admitted
    assert not {10, 11, 20} & kept              # cross-batch dups rejected
    assert len({21, 22} & kept) == 1            # within-batch pair self-dedups

    # state compaction: fold batches 0..2 into one base per kind,
    # readers see the identical corpus, a later batch still dedups
    # against the folded store, and re-compacting is a no-op
    from hadron_spark.streaming.ops import compact_neardup_state

    folded = compact_neardup_state(spark, state)
    assert folded == 1  # compact_every=2 already folded batches 0-1
    assert compact_neardup_state(spark, state) == 0
    kept2 = {r["doc_id"] for r in read_neardup_kept(spark, state).collect()}
    assert kept2 == kept
    names = {e.path.rsplit("/", 1)[1] for e in fs.ls(spark, state)}
    assert "sigs_base=2" in names and "kept_base=2" in names
    late = spark.createDataFrame(
        [(30, 3, base[3] + ".")], "doc_id long, b int, text string"
    )
    apply(late, 3)  # same fixed schema as every stream batch
    kept3 = {r["doc_id"] for r in read_neardup_kept(spark, state).collect()}
    assert 30 not in kept3 and kept3 == kept

    # banding params are part of the store layout: probing with
    # different ones must raise, not silently admit every duplicate
    import pytest

    from hadron_spark.streaming.ops import neardup_apply_fn as mk

    drifted = mk(state, threshold=0.7, num_hashes=32, bands=16)
    with pytest.raises(ValueError, match="bands"):
        drifted(late, 4)


def test_neardup_incremental_compaction_segments(spark, tmp_path):
    """VERDICT r6 #2: the incremental fold writes ONLY the delta
    batches as a new immutable segment — committed segments are never
    re-read or rewritten; decisions stay identical to an unfolded
    twin state; `auto` rebases to one segment past max_segments."""
    import glob
    import os

    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        _segment_marker,
        compact_neardup_state,
        neardup_apply_fn,
        read_neardup_kept,
    )

    base_texts = [
        "the quick brown fox jumps over the lazy dog and runs far away home",
        "pack my box with five dozen liquor jugs before the summer heat ends",
        "how vexingly quick daft zebras jump when the circus train arrives",
        "sphinx of black quartz judge my vow under the ancient desert moon",
    ]
    batches = [
        [(i, base_texts[i]) for i in range(4)],
        [(10, base_texts[0] + "!"),
         (11, "completely novel content about distributed query engines")],
        [(20, base_texts[2]),
         (21, "another genuinely new document describing hilbert layouts")],
        [(30, base_texts[1] + "?"),
         (31, "fresh prose on adaptive query execution and skew joins")],
    ]

    def mk_state(name):
        p = str(tmp_path / name)
        return p, neardup_apply_fn(
            p, threshold=0.7, num_hashes=32, bands=8, compact_every=None
        )

    sa, apply_a = mk_state("seg")     # incremental folds between batches
    sb, apply_b = mk_state("flat")    # never folded

    def push(i):
        df = spark.createDataFrame(batches[i], "doc_id long, text string")
        apply_a(df, i)
        apply_b(df, i)

    push(0)
    push(1)
    assert compact_neardup_state(spark, sa) == 2  # folds batches 0,1
    seg1_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(sa, "sigs_base=1", "**", "*"),
                           recursive=True)
    }
    assert seg1_files
    push(2)
    assert compact_neardup_state(spark, sa, mode="incremental") == 1
    # committed segment untouched by the later fold; both segments live
    snap = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(sa, "sigs_base=1", "**", "*"),
                           recursive=True)
    }
    assert snap == seg1_files
    names = {e.path.rsplit("/", 1)[1] for e in fs.ls(spark, sa)}
    assert {"sigs_base=1", "sigs_base=2",
            "kept_base=1", "kept_base=2"} <= names
    # decisions identical to the unfolded twin at every point
    ka = {r["doc_id"] for r in read_neardup_kept(spark, sa).collect()}
    kb = {r["doc_id"] for r in read_neardup_kept(spark, sb).collect()}
    assert ka == kb
    assert {0, 1, 2, 3, 11, 21} <= ka and not {10, 20} & ka

    # auto mode rebases once a fold would exceed max_segments
    push(3)
    assert compact_neardup_state(spark, sa, max_segments=2) == 1
    names = {e.path.rsplit("/", 1)[1] for e in fs.ls(spark, sa)}
    assert "sigs_base=3" in names and "kept_base=3" in names
    assert not any(n in names for n in
                   ("sigs_base=1", "sigs_base=2",
                    "kept_base=1", "kept_base=2"))
    ka3 = {r["doc_id"] for r in read_neardup_kept(spark, sa).collect()}
    kb3 = {r["doc_id"] for r in read_neardup_kept(spark, sb).collect()}
    assert ka3 == kb3 and 30 not in ka3 and 31 in ka3
    # marker carries the single rebased segment
    m = _segment_marker(spark, sa)
    assert m.segs == [3] and m.base == 3 and m.hwm == 3
    assert m.params == {"num_hashes": 32, "bands": 8, "store_buckets": 64}

    # the rebased store still gates a later replayed duplicate
    dup = spark.createDataFrame(
        [(40, base_texts[3] + ".")], "doc_id long, text string"
    )
    apply_a(dup, 4)
    assert 40 not in {
        r["doc_id"] for r in read_neardup_kept(spark, sa).collect()
    }


def test_neardup_committed_partitions_immutable(spark, tmp_path):
    """The append-only contract of the near-dup state (streaming/ops
    module docstring table, VERDICT r6 #9): a later batch must write
    ONLY its own sigs/kept batch=N dirs — committed partitions are
    never rewritten (same files, same bytes, same mtimes)."""
    import glob
    import os

    from hadron_spark.streaming.ops import neardup_apply_fn

    docs = spark.createDataFrame(
        [(i, f"document number {i} carries words {i * 7} and {i * 13} tail")
         for i in range(40)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "ndp_imm")
    apply = neardup_apply_fn(state, threshold=0.7, compact_every=None)
    apply(docs.filter(F.col("doc_id") < 20), 0)

    def snapshot():
        files = sorted(
            p
            for pat in ("sigs/batch=0/*", "kept/batch=0/*")
            for p in glob.glob(os.path.join(state, pat))
        )
        return {p: (os.path.getmtime(p), os.path.getsize(p)) for p in files}

    before = snapshot()
    assert before  # batch 0 committed something
    apply(docs.filter(F.col("doc_id") >= 20), 1)
    assert snapshot() == before
    # and batch 1 landed in its OWN dirs
    assert glob.glob(os.path.join(state, "sigs/batch=1/*"))


def _jobs_run(spark, fn) -> int:
    """Spark jobs `fn()` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_segment_store_replay_runs_no_job(spark, tmp_path):
    """The segment-store marker is read by a listing, not a Spark job:
    a replayed batch of either append store (and a no-op compaction)
    runs 0 jobs and leaves the store as it was."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        compact_substring_state,
        neardup_apply_fn,
        substring_dedup_apply_fn,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} carries words {i * 7} and {i * 13} tail")
         for i in range(8)],
        "doc_id long, text string",
    )
    nd = str(tmp_path / "nd")
    sub = str(tmp_path / "sub")
    stores = [
        (nd, neardup_apply_fn(nd, threshold=0.7, compact_every=None)),
        (sub, substring_dedup_apply_fn(
            sub, str(tmp_path / "sub_out"), window=4, compact_every=None)),
    ]
    for state, apply in stores:
        apply(docs, 0)
        before = sorted(e.path for e in fs.ls(spark, state))
        assert _jobs_run(spark, lambda: apply(docs, 0)) == 0, state
        assert sorted(e.path for e in fs.ls(spark, state)) == before
    assert compact_substring_state(spark, sub) == 1
    assert _jobs_run(spark, lambda: compact_substring_state(spark, sub)) == 0


def test_neardup_probe_plan_is_pruned_broadcast(spark, tmp_path):
    """The 100 TB contract of the bucketed signature store: a batch
    probe against the compacted base must (a) partition-prune to the
    batch's pk buckets, (b) push the bkey key set down to the parquet
    scan, and (c) broadcast the batch side — the store side is never
    shuffled (no SortMergeJoin / no Exchange on the scan)."""
    from hadron_spark.llm.dedup import minhash_signature
    from hadron_spark.operators.ops import pin
    from hadron_spark.streaming.ops import (
        _neardup_probe,
        compact_neardup_state,
        neardup_apply_fn,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} carries words {i * 7} and {i * 13} tail")
         for i in range(120)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "ndp_state")
    apply = neardup_apply_fn(state, threshold=0.7)
    apply(docs.filter(F.col("doc_id") < 100), 0)
    compact_neardup_state(spark, state)

    probe = docs.filter(F.col("doc_id") == 110)  # 1 doc -> bands keys
    ns = pin(
        minhash_signature(probe, "text", 16, 5, "doc_id")
        .select(F.col("doc_id").alias("_id"), "sig")
    )
    dup = _neardup_probe(
        spark, state, ns, 0, 0, threshold=0.7, num_hashes=16, bands=4,
        max_bucket_size=500, store_buckets=64, probe_key_limit=65536,
        segs=[0],
    )
    plan = dup._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and re.search(r"pk#\d+ IN \(", pf.group(1)), plan[:2000]
    # bkey key set reaches the parquet scan (<=10 keys plans as In,
    # more as InSet — both push down to row-group stats)
    assert re.search(r"PushedFilters: \[[^\]]*In\(bkey", plan), plan[:2000]
    dups_pruned = {r["_id"] for r in dup.collect()}

    # wide-batch fallback (probe_key_limit exceeded): the bkey
    # LITERAL pushdown and the broadcast turn off, but pk dir-pruning
    # stays ON (pk distinct is bounded by bands·store_buckets, safe
    # at any batch width) and decisions must be IDENTICAL
    wide = _neardup_probe(
        spark, state, ns, 0, 0, threshold=0.7, num_hashes=16, bands=4,
        max_bucket_size=500, store_buckets=64, probe_key_limit=1,
        segs=[0],
    )
    wplan = wide._jdf.queryExecution().executedPlan().toString()
    wpf = re.search(r"PartitionFilters: \[([^\]]*)\]", wplan)
    assert wpf and re.search(r"pk#\d+ IN \(", wpf.group(1)), wplan[:2000]
    assert not re.search(r"PushedFilters: \[[^\]]*In\(bkey", wplan)
    assert {r["_id"] for r in wide.collect()} == dups_pruned


def test_incremental_ewma_chop_equivalence(spark, tmp_path):
    """Per-key streaming EWMA: ANY batch chopping with seeded folds
    is bit-identical to the one-shot ops.ewma over all delivered
    rows; at-least-once replay no-op; mid-swap crash heal; real
    writeStream drive; validation."""
    import pytest

    from hadron_spark.operators.ops import ewma
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        ewma_apply_fn,
        incremental_ewma,
        read_ewma_state,
    )

    rows = [
        ("u1", t, float(v))
        for t, v in enumerate([10, 30, 20, 50, 5, 80, 80, 1])
    ] + [
        ("u2", t, float(v)) for t, v in enumerate([100, 0, 0, 40, 60])
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    # one-shot reference: final ewma per key
    from pyspark.sql import Window

    one = {
        r["k"]: r
        for r in ewma(df, "t", "v", alpha=0.25, partition_cols=["k"])
        .withColumn(
            "_last",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("t").desc())
            ),
        )
        .filter("_last = 1")
        .collect()
    }

    state = str(tmp_path / "ewma_state")
    apply = ewma_apply_fn(state, "k", "t", "v", alpha=0.25)
    # chop at uneven boundaries, per-key ord non-decreasing
    apply(df.filter(F.col("t") < 3), 0)
    apply(df.filter(F.col("t") < 3), 0)          # replay: no-op
    apply(df.filter((F.col("t") >= 3) & (F.col("t") < 4)), 1)
    fs.mv(spark, state, state + "._old_2")       # crash mid-swap: heal
    apply(df.filter(F.col("t") >= 4), 2)
    got = {r["key"]: r for r in read_ewma_state(spark, state).collect()}
    for k in ("u1", "u2"):
        assert got[k]["ewma"] == one[k]["ewma"], k   # bit-identical
        n_k = sum(1 for kk, _, _ in rows if kk == k)
        assert got[k]["n_points"] == n_k
        assert got[k]["last_ord"] == max(t for kk, t, _ in rows if kk == k)

    # end-to-end writeStream drive over one micro-batch
    src = str(tmp_path / "ewma_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k string, t long, v double").parquet(src)
    state2 = str(tmp_path / "ewma_state2")
    q = incremental_ewma(
        stream, state2, "k", "t", "v", alpha=0.25,
        checkpoint=str(tmp_path / "ewma_ckpt"),
    )
    q.awaitTermination(300)
    got2 = {r["key"]: r["ewma"] for r in read_ewma_state(spark, state2).collect()}
    assert got2 == {k: one[k]["ewma"] for k in ("u1", "u2")}

    with pytest.raises(ValueError, match="alpha"):
        ewma_apply_fn(state, "k", "t", "v", alpha=0.0)

def test_substring_state_segments_migration_drift(spark, tmp_path):
    """The substring fp store's segment layout: incremental folds
    write delta-only segments and never touch committed ones;
    decisions match a never-folded twin; full rebase collapses to one
    segment; window drift raises.  Layouts written before the marker
    became a listing are not migrated: each raises ValueError naming
    its path, while a root holding only a crashed first batch's dirs
    is still a fresh store."""
    import re

    import pytest

    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        _segment_marker,
        compact_substring_state,
        neardup_apply_fn,
        read_neardup_kept,
        substring_dedup_apply_fn,
    )

    batches = [
        [(1, "alpha beta gamma delta epsilon zeta")],
        [(10, "alpha beta gamma delta fresh tail words"),
         (11, "wholly novel content right here today")],
        [(20, "wholly novel content right again and again")],
    ]

    def mk(name, compact_every=None):
        st = str(tmp_path / name)
        return st, str(tmp_path / (name + "_out")), substring_dedup_apply_fn(
            st, str(tmp_path / (name + "_out")), window=4,
            compact_every=compact_every,
        )

    sa, oa, apply_a = mk("seg")
    sb, ob, apply_b = mk("flat")

    def push(i):
        df = spark.createDataFrame(batches[i], "doc_id long, text string")
        apply_a(df, i)
        apply_b(df, i)

    push(0)
    assert compact_substring_state(spark, sa) == 1   # fold batch 0
    push(1)
    assert compact_substring_state(spark, sa, mode="incremental") == 1
    names = {e.path.rsplit("/", 1)[1] for e in fs.ls(spark, sa)}
    assert {"fps_base=0", "fps_base=1"} <= names
    push(2)
    for out in (oa, ob):
        got = spark.read.parquet(f"{out}/batch=2").collect()
        assert got[0].clean_text == "again and again"
    # full rebase via max_segments
    assert compact_substring_state(spark, sa, max_segments=1) == 1
    names = {e.path.rsplit("/", 1)[1] for e in fs.ls(spark, sa)}
    assert "fps_base=2" in names
    assert not {"fps_base=0", "fps_base=1"} & names
    m = _segment_marker(spark, sa)
    assert m.segs == [2] and m.hwm == 2 and m.params == {"window": 4}

    # window drift raises instead of silently admitting repeats
    drifted = substring_dedup_apply_fn(sa, oa, window=6)
    late = spark.createDataFrame([(30, "alpha beta gamma delta close")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="window"):
        drifted(late, 3)

    # old layouts raise instead of reading as an empty store: a flat
    # pre-segment fp frame, a parquet hwm_marker, a near-dup `_hwm` dir
    from hadron_spark.llm.dedup import span_fingerprint_store

    flat = str(tmp_path / "flat_frame")
    span_fingerprint_store(
        spark.createDataFrame([("alpha beta gamma delta epsilon zeta",)],
                              "text string"), "text", 4,
    ).write.parquet(flat)
    pq_marker = str(tmp_path / "parquet_marker")
    spark.range(1).select(
        F.lit(0).cast("long").alias("hwm"),
        F.lit(-1).cast("long").alias("base"),
        F.lit(4).cast("long").alias("window"),
    ).write.parquet(pq_marker + "/hwm_marker")
    old_nd = str(tmp_path / "old_neardup")
    spark.range(1).select(
        F.lit(0).cast("long").alias("hwm"),
        F.lit(-1).cast("long").alias("base"),
    ).write.parquet(old_nd + "/_hwm")
    for old in (flat, pq_marker):
        apply_old = substring_dedup_apply_fn(old, oa + "_old", window=4)
        with pytest.raises(ValueError, match=re.escape(old)):
            apply_old(late, 3)
    with pytest.raises(ValueError, match=re.escape(old_nd)):
        neardup_apply_fn(old_nd)(late, 3)
    with pytest.raises(ValueError, match=re.escape(old_nd)):
        read_neardup_kept(spark, old_nd)

    # a crash before the first commit leaves batch dirs and no marker:
    # still a fresh store, the replay overwrites them
    crashed = str(tmp_path / "crashed")
    fs.mkdir(spark, crashed + "/fps/batch=0")
    apply_c = substring_dedup_apply_fn(crashed, oa + "_crashed", window=4)
    apply_c(late, 0)
    assert _segment_marker(spark, crashed).hwm == 0


def test_incremental_cusum_chop_equivalence(spark, tmp_path):
    """Per-key streaming tabular CUSUM: chopped seeded folds are
    bit-identical to a pure-python one-shot walk; alarm counting +
    restart-after-signal; replay no-op; mid-swap crash heal; real
    writeStream drive."""
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        cusum_apply_fn,
        incremental_cusum,
        read_cusum_state,
    )

    series = {
        "m1": [10, 10, 11, 30, 32, 31, 9, 10, 10, 10],   # up-shift then back
        "m2": [10, 9, 10, 11, 10, 9, 10, 11, 10, 9],     # in control
        "m3": [10, 2, 1, 0, 3, 2, 10, 10, 1, 1],         # down-shifts
    }
    target, slack, h = 10.0, 1.0, 8.0
    rows = [
        (k, t, float(v)) for k, vs in series.items() for t, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")

    def mirror(vs):
        sp = sm = 0.0
        al = 0
        for v in vs:
            sp1 = max(0.0, sp + (v - (target + slack)))
            sm1 = max(0.0, sm + ((target - slack) - v))
            al += (sp1 > h) + (sm1 > h)
            sp = 0.0 if sp1 > h else sp1
            sm = 0.0 if sm1 > h else sm1
        return sp, sm, al

    state = str(tmp_path / "cusum_state")
    apply = cusum_apply_fn(state, "k", "t", "v", target, slack, h)
    apply(df.filter(F.col("t") < 4), 0)
    apply(df.filter(F.col("t") < 4), 0)              # replay: no-op
    apply(df.filter((F.col("t") >= 4) & (F.col("t") < 7)), 1)
    fs.mv(spark, state, state + "._old_2")           # crash mid-swap: heal
    apply(df.filter(F.col("t") >= 7), 2)
    got = {r["key"]: r for r in read_cusum_state(spark, state).collect()}
    for k, vs in series.items():
        sp, sm, al = mirror(vs)
        assert got[k]["s_pos"] == sp, k              # bit-identical
        assert got[k]["s_neg"] == sm, k
        assert got[k]["n_alarms"] == al, k
        assert got[k]["n_points"] == len(vs)
        assert got[k]["last_ord"] == len(vs) - 1
    assert got["m1"]["n_alarms"] >= 1 and got["m3"]["n_alarms"] >= 1
    assert got["m2"]["n_alarms"] == 0

    # end-to-end writeStream drive over one micro-batch
    src = str(tmp_path / "cusum_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k string, t long, v double").parquet(
        src
    )
    state2 = str(tmp_path / "cusum_state2")
    q = incremental_cusum(
        stream, state2, "k", "t", "v", target, slack, h,
        checkpoint=str(tmp_path / "cusum_ckpt"),
    )
    q.awaitTermination(300)
    got2 = {
        r["key"]: (r["s_pos"], r["s_neg"], r["n_alarms"])
        for r in read_cusum_state(spark, state2).collect()
    }
    assert got2 == {k: mirror(vs) for k, vs in series.items()}


def test_incremental_holt_winters_chop_equivalence(spark, tmp_path):
    """Streaming HW: chop boundaries INSIDE the warm-up window and
    after seating are all bit-identical to the one-shot batch scan;
    warming keys visible; replay no-op; crash heal; writeStream
    drive; validation."""
    import pytest

    from hadron_spark.operators.ops import holt_winters
    from hadron_spark.sources import fs
    from hadron_spark.streaming.ops import (
        holt_winters_apply_fn,
        incremental_holt_winters,
        read_hw_state,
    )

    m = 3
    series = {
        "s1": [10, 20, 12, 11, 22, 13, 12, 24, 15, 13, 26, 16, 14, 28,
               17, 15, 30, 18, 16, 32],
        "s2": [5, 6, 7, 8, 9, 10, 11, 12, 13, 14],
        "s3": [1, 2, 3, 4],  # never seats: 4 < 2m
    }
    rows = [
        (k, t, float(v)) for k, vs in series.items() for t, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")

    # one-shot references: final level/trend + ring head from the
    # batch operator's trailing rows
    ref = {}
    for k in ("s1", "s2"):
        sub = df.filter(F.col("k") == k)
        out = sorted(
            holt_winters(
                sub, "t", "v", period=m, alpha=0.25, beta=0.125,
                gamma=0.25,
            ).collect(),
            key=lambda r: r["t"],
        )
        last = out[-1]
        n = len(series[k])
        ring_head = next(
            r["seasonal"] for r in out if r["t"] == n - m  # 0-indexed
        )
        ref[k] = (
            last["level"],
            last["trend"],
            last["level"] + last["trend"] + ring_head,
        )

    state = str(tmp_path / "hw_state")
    apply = holt_winters_apply_fn(
        state, "k", "t", "v", period=m, alpha=0.25, beta=0.125, gamma=0.25
    )
    # chop 1 ends INSIDE warm-up for every key (4 points < 2m = 6)
    apply(df.filter(F.col("t") < 4), 0)
    mid = {r["key"]: r for r in read_hw_state(spark, state).collect()}
    for k in ("s1", "s2", "s3"):
        assert mid[k]["warming"] == 4 and mid[k]["level"] is None, k
    apply(df.filter(F.col("t") < 4), 0)              # replay: no-op
    apply(df.filter((F.col("t") >= 4) & (F.col("t") < 9)), 1)
    fs.mv(spark, state, state + "._old_2")           # crash mid-swap: heal
    apply(df.filter(F.col("t") >= 9), 2)

    got = {r["key"]: r for r in read_hw_state(spark, state).collect()}
    for k in ("s1", "s2"):
        lv, tr, fc = ref[k]
        assert got[k]["level"] == lv, k              # bit-identical
        assert got[k]["trend"] == tr, k
        assert got[k]["forecast"] == fc, k
        assert got[k]["n_points"] == len(series[k])
        assert got[k]["last_ord"] == len(series[k]) - 1
    assert got["s3"]["warming"] == 4 and got["s3"]["level"] is None

    # end-to-end writeStream drive (single micro-batch == one-shot)
    src = str(tmp_path / "hw_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k string, t long, v double").parquet(
        src
    )
    state2 = str(tmp_path / "hw_state2")
    q = incremental_holt_winters(
        stream, state2, "k", "t", "v", period=m,
        alpha=0.25, beta=0.125, gamma=0.25,
        checkpoint=str(tmp_path / "hw_ckpt"),
    )
    q.awaitTermination(300)
    got2 = {
        r["key"]: (r["level"], r["trend"], r["forecast"])
        for r in read_hw_state(spark, state2).collect()
        if r["level"] is not None
    }
    assert got2 == {k: ref[k] for k in ("s1", "s2")}

    with pytest.raises(ValueError, match="period"):
        holt_winters_apply_fn(state, "k", "t", "v", 1, 0.25, 0.1, 0.1)
