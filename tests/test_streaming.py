"""Streaming layer tests: keyed gate state machine over a replayed item
stream, idempotent foreachBatch merge with checkpoint restart (the
exactly-once proof), and the watermarked window twins vs their batch
oracles.
"""

from __future__ import annotations

import os
import shutil

import pytest

pytestmark = pytest.mark.slow  # r18: excluded from the default driver tier (see pytest.ini)

from gofeed_spark.catalog import load_table
from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED
from gofeed_spark.feedstate.txlog import head
from gofeed_spark.queries import QUERIES
from gofeed_spark.streaming.feed_stream import (
    ITEM_EVENT_DDL,
    gate_stream,
    replay_stream,
)
from gofeed_spark.streaming.sinks import ParquetUpsertSink
from gofeed_spark.streaming.windows import (
    streaming_session_counts,
    streaming_tumbling_counts,
)
from tests.conftest import rows

SF = "/root/testdata/sf0.001"


def _run_stream(spark, stage_dir, ckpt_dir, sink):
    src = replay_stream(spark, stage_dir, ITEM_EVENT_DDL)
    q = (
        gate_stream(src)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "stage": str(tmp_path / "stage"),
        "ckpt": str(tmp_path / "ckpt"),
        "sink": str(tmp_path / "sink"),
    }
    os.makedirs(d["stage"])
    return d


def _stage(spark, stage_dir, rows_, name):
    # append lands new part-files in the stage ROOT (the file stream source
    # does not recurse into subdirectories)
    from gofeed_spark.streaming.feed_stream import one_slice_df

    one_slice_df(spark, rows_, ITEM_EVENT_DDL).write.mode("append").parquet(stage_dir)


def test_gate_stream_restart_exactly_once(spark, dirs):
    sink = ParquetUpsertSink(dirs["sink"], key="partition_id")

    # --- phase 1: two items available at gate 0 -> partition Available
    _stage(
        spark, dirs["stage"],
        [("i1", "p1", 0, AVAILABLE), ("i2", "p1", 0, AVAILABLE)],
        "slice1",
    )
    _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    state = {r.partition_id: (r.status, r.gate) for r in sink.read(spark).collect()}
    assert state["p1"] == (AVAILABLE, 0)
    # the batch id is committed with the state under the stream's query id
    (qid, last_1), = head(dirs["sink"])[1]["txn"].items()
    assert last_1 >= 0

    # --- phase 2 (restart from checkpoint): i1 completes, i2 fails
    _stage(
        spark, dirs["stage"],
        [("i1", "p1", 0, COMPLETE), ("i2", "p1", 0, FAILED)],
        "slice2",
    )
    _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    state = {r.partition_id: (r.status, r.gate) for r in sink.read(spark).collect()}
    assert state["p1"] == (FAILED, 0)  # failed item fails the partition
    # restart (same checkpoint, same query id) consumed ONLY the new slice:
    # its batch ids extend the first run's
    (qid_2, last_2), = head(dirs["sink"])[1]["txn"].items()
    assert qid_2 == qid and last_2 > last_1

    # --- idempotency: re-delivering an already-committed batch is a no-op
    before = {tuple(r) for r in sink.read(spark).collect()}
    poison = spark.createDataFrame(
        [("p1", 9, AVAILABLE, 9, 9, 9)],
        "partition_id string, gate int, status int, n_items int, failed_n int, avail_n int",
    )
    # a duplicate batch id of the stream's query -> skipped
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)
    try:
        sink(poison, last_2)
    finally:
        spark.sparkContext.setLocalProperty("sql.streaming.queryId", None)
    after = {tuple(r) for r in sink.read(spark).collect()}
    assert after == before


def test_gate_stream_advances_gate(spark, dirs):
    sink = ParquetUpsertSink(dirs["sink"], key="partition_id")
    # all gate-0 work done, one item waiting at gate 1 -> barrier clears,
    # gate increments (watcher.go:151-155 semantics)
    _stage(
        spark, dirs["stage"],
        [("i1", "p1", 0, COMPLETE), ("i2", "p1", 1, AVAILABLE)],
        "slice1",
    )
    _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    state = {r.partition_id: (r.status, r.gate) for r in sink.read(spark).collect()}
    assert state["p1"] == (AVAILABLE, 1)


def test_gate_stream_autoclose(spark, dirs):
    sink = ParquetUpsertSink(dirs["sink"], key="partition_id")
    _stage(spark, dirs["stage"], [("i1", "p1", 0, COMPLETE)], "slice1")
    _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    state = {r.partition_id: r.status for r in sink.read(spark).collect()}
    assert state["p1"] == COMPLETE


def test_gate_stream_evicts_terminal_partition_state(spark, dirs):
    """State-store row count returns to ZERO once every partition reaches
    a terminal decision (Complete, or Failed with nothing left to retry) —
    the reference drops its watcher on InActive() (watcher.go:170-173);
    without eviction the store grows with every partition ever seen."""

    def state_rows(q):
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators") or []
            if ops:
                return sum(op["numRowsTotal"] for op in ops)
        return None

    sink = ParquetUpsertSink(dirs["sink"], key="partition_id")
    # two in-flight partitions -> two state rows
    _stage(
        spark, dirs["stage"],
        [("i1", "p1", 0, AVAILABLE), ("i2", "p2", 0, AVAILABLE)],
        "slice1",
    )
    q = _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    # applyInPandasWithState keeps one state row per partition
    assert state_rows(q) == 2
    # p1 completes, p2 fails with no retryable items -> both evict
    _stage(
        spark, dirs["stage"],
        [("i1", "p1", 0, COMPLETE), ("i2", "p2", 0, FAILED)],
        "slice2",
    )
    q = _run_stream(spark, dirs["stage"], dirs["ckpt"], sink)
    state = {r.partition_id: r.status for r in sink.read(spark).collect()}
    assert state == {"p1": COMPLETE, "p2": FAILED}  # decisions still emitted
    assert state_rows(q) == 0


def _write_events(spark, tmp_path):
    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(src)
    return src


def test_streaming_tumbling_matches_batch_q32(spark, tmp_path):
    src = _write_events(spark, tmp_path)
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    out_rows = []
    q = (
        streaming_tumbling_counts(events)
        .writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck32"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r.h, r.event_type): (r.n, r.sv) for r in out_rows}
    batch = QUERIES["q32_tumbling_window"](spark, SF).collect()
    want = {(r.h, r.event_type): (r.n, r.sv) for r in batch}
    assert got == want


def test_streaming_dedup_keeps_first_occurrence(spark, tmp_path):
    import datetime as dt

    from gofeed_spark.streaming.windows import streaming_dedup

    src = str(tmp_path / "dups")
    t0 = dt.datetime(2024, 1, 1, 10)
    rows1 = [(1, t0, 10.0), (2, t0, 20.0)]
    rows2 = [(1, t0, 99.0), (3, t0, 30.0)]  # event 1 re-delivered
    ddl = "event_id long, ts timestamp, value double"
    for i, rws in enumerate([rows1, rows2]):
        from gofeed_spark.streaming.feed_stream import one_slice_df

        one_slice_df(spark, rws, ddl).write.mode("append").parquet(src)
    out = []
    q = (
        streaming_dedup(
            spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src),
            ["event_id"],
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: r.value for r in out}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}  # first occurrence of 1 won


def test_stream_stream_attribution_join(spark, tmp_path):
    import datetime as dt

    from gofeed_spark.streaming.windows import stream_stream_attribution

    ddl = "event_id long, ts timestamp, user_id long"
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    clicks = [(100, t(0), 1), (101, t(30), 1), (102, t(0), 2)]
    purchases = [(200, t(45), 1), (201, t(50), 3)]
    csrc, psrc = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks, ddl).write.parquet(csrc)
    spark.createDataFrame(purchases, ddl).write.parquet(psrc)
    out = []
    q = (
        stream_stream_attribution(
            spark.readStream.schema(ddl).parquet(csrc),
            spark.readStream.schema(ddl).parquet(psrc),
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r.purchase_id, r.click_id) for r in out}
    # both of user 1's clicks are within the hour before purchase 200;
    # user 3's purchase has no click; user 2's click matches nothing
    assert pairs == {(200, 100), (200, 101)}


def test_streaming_sessions_cover_all_events(spark, tmp_path):
    src = _write_events(spark, tmp_path)
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    out_rows = []
    q = (
        streaming_session_counts(events)
        .writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck31"))
        .start()
    )
    q.awaitTermination(120)
    # batch twin q31 groups by (user, session) with the same 30-min gap:
    # session structure must agree on count and membership totals
    batch = QUERIES["q31_sessionization"](spark, SF).collect()
    assert sum(r.n_events for r in out_rows) == sum(r.n_events for r in batch)
    assert len(out_rows) == len(batch)
    assert {(r.user_id, r.first_event) for r in out_rows} == {
        (r.user_id, r.first_event) for r in batch
    }


def test_streaming_decontamination_flags_arriving_docs(spark, tmp_path):
    """The decontamination check composes with Structured Streaming: the
    benchmark shingle set is collected once at plan-build time and each
    arriving micro-batch of docs is flagged in the same no-shuffle Arrow
    pass the batch path uses — the ingest-time leak filter."""
    from gofeed_spark.operators.dedup import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "incoming")
    ddl = "doc_id long, text string"
    batches = [
        [(1, "so the quick brown fox jumps over a fence")],   # leak
        [(2, "completely unrelated text with no overlap at all")],
        [(3, "THE QUICK brown fox jumps over the lazy dog")],  # case-folded leak
    ]
    for rws in batches:
        spark.createDataFrame(rws, ddl).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    flagged = contamination_check(stream, bench, k=5)
    out = []
    q = (
        flagged.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_decon"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: (r.n_shared, r.contaminated) for r in out}
    assert got[1] == (2, 1)
    assert got[2] == (0, 0)
    assert got[3][1] == 1 and got[3][0] >= 4


def test_streaming_quality_signals_compose(spark, tmp_path):
    """The per-doc quality signals (Gopher format rules + duplicate-n-gram
    repetition) are stateless projections, so they compose unchanged with
    Structured Streaming — the ingest-time quality filter: codegen rule
    exprs and the no-shuffle Arrow mapInPandas pass both run per arriving
    micro-batch."""
    from gofeed_spark.operators.textstats import dup_ngram_char_fraction, gopher_rules

    src = str(tmp_path / "incoming_q")
    ddl = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "the cat and that dog have fun with all of it")], ddl
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, "spam spam spam spam spam spam spam spam")], ddl
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    rules, reps = [], []
    q1 = (
        gopher_rules(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_rules"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: rules.extend(df.collect()))
        .start()
    )
    q2 = (
        dup_ngram_char_fraction(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_rep"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: reps.extend(df.collect()))
        .start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    by_id = {r.doc_id: r for r in rules}
    assert by_id[1].gopher_ok == 1
    assert by_id[2].gopher_ok == 0  # no required stopwords
    rep = {r.doc_id: r.dup_ngram_frac for r in reps}
    assert rep[1] == 0.0
    # "spam spam spam" x6 occurrences of the single 3-gram, all duplicated
    assert rep[2] == 6 * len("spam spam spam") / len("spam spam spam spam spam spam spam spam")


def test_streaming_mixture_filter_matches_batch_sample(spark, tmp_path):
    """Ingest-time mixing: rates profiled once (mixture_rates on the
    static profile corpus) then applied to a stream as a stateless
    literal-map filter — the kept set must EQUAL mixture_sample's batch
    decision on the same docs (same hash, same comparison)."""
    from pyspark.sql import functions as F

    from gofeed_spark.operators.mixing import (
        mixture_filter,
        mixture_rates,
        mixture_sample,
    )

    ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows_all = [(i, "A" if i % 2 == 0 else "B", ten) for i in range(40)]
    ddl = "doc_id long, source string, text string"
    docs = spark.createDataFrame(rows_all, ddl)
    w = F.when(F.col("source") == "B", 3).otherwise(1)

    rates = {r.source: r.rate for r in mixture_rates(docs, w, 0.6).collect()}
    batch_kept = {(r.doc_id, r.source, r.rate)
                  for r in mixture_sample(docs, w, 0.6).collect()}

    src = str(tmp_path / "mix_in")
    docs.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    got = []
    q = (
        mixture_filter(stream, rates)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_mix"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    assert {(r.doc_id, r.source, r.rate) for r in got} == batch_kept
    assert batch_kept  # non-vacuous


def test_streaming_warc_crawl_chain_matches_batch(spark, tmp_path):
    """Live crawl ingestion: archives dropped into a landing dir stream
    through readStream(binaryFile) → the SAME parse stage as read_warc →
    URL canonicalization → recrawl keep-first → token-count signal (the
    q119 chain), and the drained result must EQUAL the batch chain over
    the same archives.  Archives land one per micro-batch
    (maxFilesPerTrigger=1) to prove cross-batch dedup state carries."""
    from pyspark.sql import functions as F

    from gofeed_spark.operators.urls import canonicalize_url
    from gofeed_spark.sources.warc import export_warc, read_warc, read_warc_stream

    docs = [(f"http://ex.com/page/{i}", f"crawl body text {i} " * 3)
            for i in range(30)]
    # every 5th doc recrawled under a tracking-param variant of its URL
    docs += [(f"http://ex.com/page/{i}?utm_source=feed", f"recrawl body {i}")
             for i in range(0, 30, 5)]
    landing = str(tmp_path / "landing")
    export_warc(
        spark.createDataFrame(docs, "url string, body string"),
        landing,
        n_archives=4,
    ).collect()

    def chain(records):
        recs = records.withColumn(
            "canonical_url", canonicalize_url(F.col("url"))
        ).withColumn("text", F.col("body").cast("string"))
        # keep-first per canonical URL; deterministic pick = min archive
        # position so batch and stream agree regardless of arrival order
        return (
            recs.withColumn(
                "n_tokens", F.size(F.split(F.trim("text"), r"\s+"))
            ).select("canonical_url", "url", "n_tokens")
        )

    batch = chain(read_warc(spark, landing + "/*"))
    batch_rows = batch.collect()
    candidates = {}
    for r in batch_rows:
        candidates.setdefault(r.canonical_url, set()).add((r.url, r.n_tokens))

    stream = chain(read_warc_stream(spark, landing, max_files_per_trigger=1))
    # streaming keep-first: dropDuplicates carries dedup state across
    # micro-batches (unbounded here; a watermarked variant bounds it)
    got = []
    q = (
        stream.dropDuplicates(["canonical_url"])
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_warc"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .start()
    )
    q.awaitTermination(180)
    assert len(got) == 30  # variants deduped, one row per canonical URL
    assert {r.canonical_url for r in got} == set(candidates)
    # which duplicate survives is arrival-order-defined, but every kept
    # row must be one of the canonical group's real members
    for r in got:
        assert (r.url, r.n_tokens) in candidates[r.canonical_url]
    # the recrawl variants actually collided (non-vacuous dedup)
    assert len(batch_rows) == 36 and len(candidates) == 30


def test_streaming_ingest_dedups_against_persisted_index(spark, tmp_path):
    """Ingest-time incremental dedup — the reference's change-feed model
    applied to corpus curation: new docs stream in, each micro-batch
    probes the PERSISTED MinHash index (built once from the standing
    corpus) inside foreachBatch, and only verdict-clean docs reach the
    sink.  The kept set must EQUAL the batch probe's decision on the same
    docs (same index, same fingerprints)."""
    from gofeed_spark.operators.dedup import build_minhash_index, probe_minhash_index

    base = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(i, f"{base} corpus doc number {i}") for i in range(10)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh_stream_idx")
    build_minhash_index(corpus, idx)

    # incoming: ids 100.. — evens are clones of corpus doc (id-100), odds new
    rows_new = [
        (100 + i, f"{base} corpus doc number {i}" if i % 2 == 0 else f"fresh content {i} nothing like the corpus at all here")
        for i in range(10)
    ]
    ddl = "doc_id long, text string"
    new_docs = spark.createDataFrame(rows_new, ddl)
    dup_ids = {
        r.new_id for r in probe_minhash_index(spark, idx, new_docs, threshold=1.0).collect()
    }
    assert dup_ids == {100, 102, 104, 106, 108}  # batch decision, non-vacuous

    src = str(tmp_path / "ingest_in")
    new_docs.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 3).parquet(src)
    kept = []

    def dedup_batch(df, bid):
        dups = probe_minhash_index(spark, idx, df, threshold=1.0).select("new_id")
        kept.extend(
            df.join(dups, df.doc_id == dups.new_id, "left_anti").collect()
        )

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ingest"))
        .trigger(availableNow=True)
        .foreachBatch(dedup_batch)
        .start()
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in kept} == {101, 103, 105, 107, 109}


def test_streaming_lm_score_with_frozen_model_matches_batch(spark, tmp_path):
    """Ingest-time LM quality filter: the unigram model is profiled ONCE
    on the reference corpus (unigram_model), then each micro-batch scores
    against the frozen table inside foreachBatch — per-doc scores must
    EQUAL the batch scores with the same model, independent of how docs
    split across micro-batches (a self-trained per-batch score would
    drift with batch composition)."""
    from gofeed_spark.operators.textstats import unigram_logprob_score, unigram_model

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat near the hat") for i in range(20)]
        + [(100, "rare words appear here once only")],
        "doc_id long, text string",
    )
    model = unigram_model(ref)
    model.persist().count()

    ddl = "doc_id long, text string"
    incoming = spark.createDataFrame(
        [(200, "the cat sat on the mat"), (201, "rare words appear"),
         (202, "the hat near the mat")],
        ddl,
    )
    batch_scores = {
        r.doc_id: (r.n_tokens, r.xent_bits, r.keep)
        for r in unigram_logprob_score(incoming, model=model).collect()
    }
    assert len(batch_scores) == 3

    src = str(tmp_path / "lm_in")
    incoming.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    got = {}

    def score_batch(df, bid):
        for r in unigram_logprob_score(df, model=model).collect():
            got[r.doc_id] = (r.n_tokens, r.xent_bits, r.keep)

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_lm"))
        .trigger(availableNow=True)
        .foreachBatch(score_batch)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch_scores


def test_streaming_bpe_with_frozen_merges_matches_batch(spark, tmp_path):
    """Ingest-time tokenization: BPE merges train ONCE on the reference
    corpus, then each arriving micro-batch encodes against the frozen
    ranking inside foreachBatch — token streams must EQUAL the batch
    encode regardless of how docs split across micro-batches (the same
    frozen-artifact contract as the LM filter and mixture rates)."""
    from gofeed_spark.operators.bpe import bpe_segments, train_bpe

    ref = spark.createDataFrame(
        [(i, "subword units compress repeated subword units") for i in range(10)],
        "doc_id long, text string",
    )
    merges = train_bpe(ref, num_merges=32)
    assert merges  # the corpus repeats → training actually learned merges

    ddl = "doc_id long, text string"
    incoming = spark.createDataFrame(
        [(300, "subword units arrive streaming"), (301, "repeated units"),
         (302, "entirely novel vocabulary words")],
        ddl,
    )
    batch_out = {
        r.doc_id: (list(r.tokens), r.n_tokens)
        for r in bpe_segments(incoming, merges).collect()
    }
    src = str(tmp_path / "bpe_in")
    incoming.repartition(3).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    got = {}

    def encode_batch(df, bid):
        for r in bpe_segments(df, merges).collect():
            got[r.doc_id] = (list(r.tokens), r.n_tokens)

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_bpe"))
        .trigger(availableNow=True)
        .foreachBatch(encode_batch)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch_out


def test_streaming_dsir_with_frozen_model_matches_batch(spark, tmp_path):
    """Ingest-time DSIR filter: the importance model AND the keep cut are
    frozen on the reference corpus (dsir_model + the training frame's own
    quantile), then each micro-batch scores against them inside
    foreachBatch — per-doc scores and keep bits must EQUAL the batch run
    with the same artifacts, independent of micro-batch composition (a
    per-batch quantile would make keep depend on arrival order)."""
    from pyspark.sql import functions as F

    from gofeed_spark.operators.mixing import dsir_model, dsir_score

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat", i % 2 == 0) for i in range(20)]
        + [(100, "unos gatos en la casa", False),
           (101, "mas gatos y mas casas", False)],
        "doc_id long, text string, tgt boolean",
    )
    model = dsir_model(ref, target=F.col("tgt"))
    model.persist().count()
    # freeze the cut from the TRAINING corpus's 0.8-quantile
    train_scores = dsir_score(ref, model)
    cut = float(
        train_scores.agg(F.expr("percentile(log_ratio_bits, 0.8)")).collect()[0][0]
    )

    ddl = "doc_id long, text string"
    incoming = spark.createDataFrame(
        [(200, "the cat sat"), (201, "unos gatos"), (202, "the mat on the mat"),
         (203, "never seen tokens xyzzy")],
        ddl,
    )
    batch = {
        r.doc_id: (r.n_tokens, r.log_ratio_bits, r.keep)
        for r in dsir_score(incoming, model, cut=cut).collect()
    }
    assert len(batch) == 4
    assert batch[203][0] == 4  # unseen tokens still score (smoothed)

    src = str(tmp_path / "dsir_in")
    incoming.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = {}

    def score_batch(df, bid):
        for r in dsir_score(df, model, cut=cut).collect():
            got[r.doc_id] = (r.n_tokens, r.log_ratio_bits, r.keep)

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dsir"))
        .trigger(availableNow=True)
        .foreachBatch(score_batch)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch


def test_streaming_ingest_semantic_dedup_with_append(spark, tmp_path):
    """Ingest-time SEMANTIC dedup: micro-batches probe the persisted
    k-means index inside foreachBatch with append=True, so later batches
    dedup against EARLIER batches' survivors as well as the standing
    corpus — the cross-batch state lives in the index layout itself, not
    in streaming state.  Kept set must equal the sequential batch
    decisions."""
    import numpy as np
    from pyspark.sql import functions as F

    from gofeed_spark.operators.clustering import (
        build_semdedup_index,
        probe_semdedup_index,
    )

    rng = np.random.default_rng(13)
    A = rng.normal(size=(30, 8))
    ddl = (
        "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(A)], ddl
    )
    idx = str(tmp_path / "sem_stream_idx")
    build_semdedup_index(corpus, idx, k=3, n_iters=2)

    uniq = rng.normal(size=8)
    incoming = [
        (100, A[4] + rng.normal(scale=0.01, size=8)),   # dup of corpus 4
        (101, uniq),                                     # fresh -> appended
        (102, uniq + rng.normal(scale=0.01, size=8)),    # dup of 101 (cross-batch)
        (103, rng.normal(size=8)),                       # fresh
    ]
    new_docs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in incoming], ddl
    )
    src = str(tmp_path / "sem_ingest_in")
    # two files -> two micro-batches; 102 must dedup against 101's append
    new_docs.filter(F.col("vec_id") <= 101).write.mode("append").parquet(src)
    new_docs.filter(F.col("vec_id") >= 102).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    )
    verdicts = {}

    def dedup_batch(df, bid):
        for r in probe_semdedup_index(
            spark, idx, df, tau=0.8, append=True
        ).collect():
            verdicts[r.vec_id] = r.dup_of

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sem"))
        .trigger(availableNow=True)
        .foreachBatch(dedup_batch)
        .start()
    )
    q.awaitTermination(120)
    # micro-batch order: files split at vec_id 101/102, but either arrival
    # order yields the same verdicts (102's witness 101 is appended first
    # because maxFilesPerTrigger=1 preserves file order)
    assert verdicts == {100: 4, 102: 101}


def test_streaming_sliding_matches_batch_q124(spark, tmp_path):
    """The hopping-window twin: every event contributes to exactly
    width/slide = 2 window rows, and the drained streaming result equals
    batch q124 on the same events."""
    from gofeed_spark.streaming.windows import streaming_sliding_counts

    src = _write_events(spark, tmp_path)
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    out_rows = []
    q = (
        streaming_sliding_counts(events)
        .writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck124"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r.ws, r.event_type): (r.n, r.sv) for r in out_rows}
    batch = QUERIES["q124_sliding_window"](spark, SF).collect()
    want = {(r.ws, r.event_type): (r.n, r.sv) for r in batch}
    assert got == want
    assert sum(n for n, _ in got.values()) == 2 * spark.read.parquet(src).count()


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, tmp_path, n_files=4):
    """Stage the documents table as n_files part-files so availableNow +
    maxFilesPerTrigger=1 delivers a multi-batch stream."""
    src = str(tmp_path / "docs_src")
    load_table(spark, SF, "documents").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(src)
    return src


def _drain_docs(spark, src, ckpt, body):
    stream = spark.readStream.schema(DOCS_DDL).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(body)
        .start()
    )
    q.awaitTermination(180)


def test_streaming_heavy_hitters_matches_batch_q125(spark, tmp_path):
    """Ingest-time Misra-Gries: per-micro-batch summaries merge into the
    bounded driver accumulator (the sketch is mergeable), and finalize
    over the landed corpus EQUALS the batch operator — at a roomy
    capacity (certificate path) AND at a tiny one that forces merge
    compresses and the full-GROUP-BY fallback (exact either way)."""
    from gofeed_spark.operators.sketch import HeavyHittersAccumulator, heavy_hitters

    src = _write_docs(spark, tmp_path)
    docs = spark.read.parquet(src)
    want = [(r.rank, r.token, r.n) for r in heavy_hitters(docs, k=10).collect()]
    assert len(want) == 10
    for cap in (4096, 8):
        acc = HeavyHittersAccumulator(k=10, capacity=cap)
        n_batches = []
        _drain_docs(
            spark, src, str(tmp_path / f"ck_hh{cap}"),
            lambda df, bid: (acc.update(df), n_batches.append(bid)),
        )
        assert len(n_batches) >= 4  # genuinely multi-batch
        assert len(acc.L) <= cap  # driver state stays bounded
        got = [(r.rank, r.token, r.n) for r in acc.finalize(docs).collect()]
        assert got == want, f"capacity={cap}"


def test_heavy_hitters_accumulator_skips_replayed_batch(spark):
    """Checkpoint-restart replay: a re-delivered micro-batch (same or
    lower batch id) must NOT fold its summary twice — double-counting
    inflates L above true counts and the exactness certificate could
    pass with a falsely-narrow candidate set (ADVICE r13).  Ids are
    monotone from the single streaming writer, so a monotone max-folded
    watermark suffices; id-less callers still fold unconditionally."""
    from gofeed_spark.operators.sketch import HeavyHittersAccumulator

    df = spark.createDataFrame([("a b c",), ("a b",)], "text string")
    acc = HeavyHittersAccumulator(k=3)
    acc.update(df, 0)
    once = dict(acc.L)
    acc.update(df, 0)   # exact re-delivery
    assert dict(acc.L) == once
    acc.update(df, 1)
    twice = dict(acc.L)
    assert twice == {t: 2 * n for t, n in once.items()}
    acc.update(df, 1)   # replay of the newest batch
    acc.update(df, 0)   # ancient replay
    assert dict(acc.L) == twice
    # id-less (non-streaming) callers keep the unconditional fold
    acc.update(df)
    assert dict(acc.L) == {t: 3 * n for t, n in once.items()}


def test_streaming_bm25_frozen_index_stats_matches_batch(spark, tmp_path):
    """Ingest-time BM25: arriving micro-batches score against the
    persisted index's FROZEN stats (meta n_docs/avgdl + pruned df rows),
    tf batch-local — the drained union equals the one-shot full-scan
    scorer bit-for-bit, independent of batching."""
    from gofeed_spark.operators.search import (
        bm25_score_docs,
        bm25_scores,
        build_bm25_index,
    )

    src = _write_docs(spark, tmp_path)
    docs = spark.read.parquet(src)
    terms = ["hash", "join", "spark"]
    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(docs, idx)
    want = {(r.doc_id, r.score) for r in bm25_scores(docs, terms).collect()}
    assert want  # the corpus does contain the probe terms
    got = set()
    _drain_docs(
        spark, src, str(tmp_path / "ck_bm25"),
        lambda df, bid: got.update(
            (r.doc_id, r.score)
            for r in bm25_score_docs(spark, df, idx, terms).collect()
        ),
    )
    assert got == want


def test_streaming_tfidf_frozen_model_matches_batch(spark, tmp_path):
    """Ingest-time TF-IDF keywords: the df relation + N freeze once
    (tfidf_model), each micro-batch ranks its own docs against them —
    drained union equals the batch tfidf_keywords on the same corpus."""
    from gofeed_spark.operators.search import (
        tfidf_keywords,
        tfidf_keywords_score,
        tfidf_model,
    )

    src = _write_docs(spark, tmp_path)
    docs = spark.read.parquet(src)
    model = tfidf_model(docs)
    model[0].persist().count()
    want = {
        (r.doc_id, r.rank, r.token, r.score)
        for r in tfidf_keywords(docs, top_k=3).collect()
    }
    got = set()
    _drain_docs(
        spark, src, str(tmp_path / "ck_tfidf"),
        lambda df, bid: got.update(
            (r.doc_id, r.rank, r.token, r.score)
            for r in tfidf_keywords_score(df, model, top_k=3).collect()
        ),
    )
    assert got == want
    model[0].unpersist()


def test_streaming_sessions_merge_across_micro_batches(spark, tmp_path):
    """The q138 mechanism: a later micro-batch's bridging event must MERGE
    two previously-separate session windows for the same user (the state
    shape complete-mode drains rely on), and the final emission equals the
    batch lag/sum sessionization."""
    import os

    from datetime import datetime

    from gofeed_spark.streaming.windows import streaming_session_counts

    def ev(eid, user, minute):
        return (eid, datetime(2024, 1, 1, 10, minute), user)

    ddl = "event_id long, ts timestamp, user_id long"
    # file 1: two events 50 min apart (two sessions); file 2: a bridge at
    # +25 min that merges them into ONE session
    f1 = [ev(1, 7, 0), ev(2, 7, 50)]
    f2 = [ev(3, 7, 25)]
    stage = str(tmp_path / "sess_stage")
    # pin mtimes in WRITE order (part-file UUID names sort randomly, so a
    # name sort would assign replay order arbitrarily — flaked in-suite)
    seen: set[str] = set()
    for i, rows_ in enumerate([f1, f2]):
        spark.createDataFrame(rows_, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        new = {
            f for f in os.listdir(stage) if f.startswith("part-")
        } - seen
        seen |= new
        for f in new:
            os.utime(f"{stage}/{f}", (1_000_000_000 + i, 1_000_000_000 + i))
    stream = spark.readStream.schema(ddl).option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    emissions = []
    q = (
        streaming_session_counts(stream)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sess_merge"))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: emissions.append(df.collect()))
        .start()
    )
    assert q.awaitTermination(120)
    final = {(r.user_id, r.n_events, r.first_event) for r in emissions[-1]}
    assert final == {(7, 3, 1)}  # one merged session holding all 3 events
    # an earlier emission saw the unmerged pair — the merge really
    # happened ACROSS batches, not inside one
    assert len(emissions) >= 2 and len(emissions[0]) == 2
