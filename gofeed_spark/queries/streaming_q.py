"""Streaming-surface queries (rows-only driver check: stateful streaming is
not ANSI-SQL-expressible; the equivalent batch semantics are hash-checked
by q47-q51 and the window twins by q31/q32)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED
from gofeed_spark.queries.registry import query
from gofeed_spark.streaming.feed_stream import (
    ITEM_EVENT_DDL,
    gate_stream,
    one_slice_df,
    replay_stream,
)
from gofeed_spark.streaming.sinks import ParquetUpsertSink


def _await_drained(q, timeout: int) -> None:
    """availableNow drains must COMPLETE: a partial drain silently yields
    partial state (and, for the sketch query, a certificate computed over
    fewer batches than the corpus finalize reads — a wrong 'exact' answer
    with no error).  Fail loudly instead of returning partial results."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not complete within {timeout}s; "
            "partial state would be silently wrong"
        )


@query("q52_streaming_gate_feed")
def q52(spark, sf_dir):
    """End-to-end streaming gate machine: two staged micro-batches of item
    state changes drive the keyed state store; the idempotent foreachBatch
    sink holds the final per-partition decisions (streaming twin of
    watcher.go:124-184; exactly-once tested in tests/test_streaming.py)."""
    base = tempfile.mkdtemp(prefix="gofeed_q52_")
    stage, ckpt, out = f"{base}/stage", f"{base}/ckpt", f"{base}/sink"
    slice1 = [
        ("i1", "pA", 0, AVAILABLE),
        ("i2", "pA", 0, AVAILABLE),
        ("i3", "pB", 0, AVAILABLE),
    ]
    slice2 = [
        ("i1", "pA", 0, COMPLETE),
        ("i2", "pA", 1, AVAILABLE),  # pA barrier clears -> gate 1
        ("i3", "pB", 0, FAILED),     # pB fails
    ]
    sink = ParquetUpsertSink(out, key="partition_id")
    # The state store allocates one store per shuffle partition; 2 keys need
    # far fewer than the session's 32.  (Batch plans are unaffected: AQE
    # re-coalesces, and the conf is restored after the run.)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # Stage BOTH slices up front: maxFilesPerTrigger=1 makes the single
        # availableNow run deliver them as two ordered micro-batches with
        # state carried between them — same trigger sequence as two
        # separate runs at half the query-startup cost (checkpoint-restart
        # state persistence is separately pinned by tests/test_streaming.py).
        for s in (slice1, slice2):
            one_slice_df(spark, s, ITEM_EVENT_DDL).write.mode("append").parquet(stage)
        q = (
            gate_stream(replay_stream(spark, stage, ITEM_EVENT_DDL))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return sink.read(spark).select(
        "partition_id", "gate", "status", "n_items"
    ).orderBy("partition_id")


@query(
    "q120_streaming_crawl_ingest",
    oracle=r"""
WITH raw AS (
  SELECT doc_id, text,
         'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id, text,
         'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           || '?utm_src=recrawl' AS url
  FROM documents WHERE doc_id % 5 = 0
),
canon AS (
  SELECT text,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(url, '([?&])utm_[A-Za-z_]+=[^&]*', '\1', 'g'),
                 '&&+', '&', 'g'),
               '\?&', '?'),
             '[?&]+$', ''),
           '/+(\?|$)', '\1', 'g') AS url_canon
  FROM raw
)
SELECT url_canon,
       COUNT(*) AS n_crawls,
       CAST(SUM(length(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_words
FROM canon GROUP BY url_canon ORDER BY url_canon
""",
)
def q120(spark, sf_dir):
    """LIVE crawl ingestion with a hash-checked oracle — the streaming
    twin of q119's batch chain, and the first ORACLE-PAIRED streaming
    query: the corpus (plus tracking-param recrawl variants for every
    5th doc) is exported as WARC archives into a landing directory, then
    consumed by ``read_warc_stream`` ONE ARCHIVE PER MICRO-BATCH →
    URL canonicalization → a STREAMING aggregation per canonical URL
    (crawl count + total words), update-mode through the idempotent
    upsert sink.  The aggregation state carries across the four
    micro-batches, and — unlike keep-first dedup, whose winner is
    arrival-order-defined — the per-group totals are arrival-INVARIANT,
    so the drained result is value-comparable against a batch SQL oracle
    over the documents table: the whole container round trip + streaming
    state machinery is hash-checked, not just row-counted.
    Reference parity: the poll-loop watcher shape (watcher.go:89-122)
    applied to crawl ingest."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.operators.urls import canonicalize_url
    from gofeed_spark.sources import warc as W
    from gofeed_spark.sources.warc import read_warc_stream

    docs = load_table(spark, sf_dir, "documents")

    def urls(frame, extra):
        return frame.select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"), F.lit(extra),
            ).alias("url"),
            F.encode("text", "utf-8").alias("body"),
        )

    base = urls(docs, "")
    recrawls = urls(docs.filter(F.col("doc_id") % 5 == 0), "?utm_src=recrawl")
    work = tempfile.mkdtemp(prefix="gofeed_q120_")
    landing, ckpt, out = f"{work}/landing", f"{work}/ckpt", f"{work}/sink"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        crawl = base.unionByName(recrawls)
        # archive count scales with the corpus (~5k records each, the
        # q118 rule); micro-batch count stays ~4 regardless (archives per
        # trigger grows instead) — batching work keeps per-trigger
        # overhead flat; the bucketed sink itself now rewrites only the
        # buckets a batch touches, so batch count is a pacing choice,
        # not a scale constraint
        n_arch = W.archive_count(crawl.count(), spark.sparkContext.defaultParallelism)
        W.export_warc(crawl, landing, n_archives=n_arch).collect()
        from gofeed_spark.streaming.sinks import ParquetUpsertSink

        # LSM mode: q120's trigger pattern (a quarter of the keyspace per
        # micro-batch) touches ~every bucket, so merge-on-write rewrote
        # ~O(total state) per trigger — delta-append makes per-trigger
        # write I/O O(batch) regardless of key spread (VERDICT r13)
        sink = ParquetUpsertSink(out, key="url_canon", mode="lsm")
        records = read_warc_stream(
            spark, landing, max_files_per_trigger=-(-n_arch // 4)
        )
        agg = (
            records.withColumn("url_canon", canonicalize_url(F.col("url")))
            .withColumn("text", F.decode("body", "utf-8"))
            .withColumn("n_words", F.size(F.split(F.trim("text"), r"\s+")))
            .groupBy("url_canon")
            .agg(
                F.count(F.lit(1)).alias("n_crawls"),
                F.sum("n_words").cast("long").alias("total_words"),
            )
        )
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            sink.read(spark)
            .select("url_canon", "n_crawls", "total_words")
            .orderBy("url_canon")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q132_streaming_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT t.tok
  FROM documents,
       LATERAL (SELECT UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+')) AS tok) t
),
cnt AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
SELECT CAST(rn AS INT) AS rank, tok AS token, n
FROM (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cnt) x
WHERE rn <= 20 ORDER BY rank
""",
)
def q132(spark, sf_dir):
    """STREAMING exact heavy hitters, oracle-paired: the corpus lands as
    part-files in a directory and streams through one-file micro-batches;
    each batch folds a bounded Misra-Gries summary into the driver-side
    accumulator (operators/sketch.HeavyHittersAccumulator — the sketch is
    mergeable, so ingest-time state is O(capacity) no matter the stream
    length), and the drain finalizes with the same certificate-gated
    EXACT recount as batch q125 over the landed corpus.  The result is
    value-identical to the naive full-vocabulary GROUP BY oracle — exact
    top-k through streaming machinery, not rows-only."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.operators.sketch import HeavyHittersAccumulator

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="gofeed_q132_")
    landing, ckpt = f"{work}/landing", f"{work}/ckpt"
    try:
        docs.repartition(4).write.parquet(landing)
        acc = HeavyHittersAccumulator(k=20)
        stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(landing)
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(acc.update)
            .start()
        )
        _await_drained(q, 180)
        return acc.finalize(spark.read.parquet(landing)).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q138_streaming_sessions",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
assigned AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, MIN(event_id) AS first_event
FROM assigned GROUP BY user_id, session_id ORDER BY user_id, session_start
""",
)
def q138(spark, sf_dir):
    """The THIRD oracle-paired streaming query (VERDICT r13 item 5) —
    watermarked SESSION windows, the last unpaired window shape: events
    stage as ts-RANGE-ordered files (monotone per-file event time, so no
    record is ever watermark-late), stream through one-file micro-batches
    into the built-in ``session_window`` aggregation (state MERGES
    adjacent windows per user as later batches bridge gaps), and drain in
    complete mode — the final trigger's emission is the full session set,
    so the result is arrival-invariant and value-comparable against the
    batch lag/sum sessionization oracle (q31's chain extended with the
    session-start witness).  Session start = MIN event ts of the merged
    window on both engines; gap-exactly-30min events merge on both
    (Spark merges on newStart <= currentEnd; the oracle splits only on
    strictly-greater gaps)."""
    import os
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.streaming.windows import streaming_session_counts

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="gofeed_q138_")
    stage, ckpt, out = f"{work}/stage", f"{work}/ckpt", f"{work}/out"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # ts-range staging: file i holds the i-th time quartile, and the
        # file source replays files in order (mtimes pinned monotone), so
        # event time only moves forward across micro-batches
        events.repartitionByRange(4, "ts").write.parquet(stage)
        parts = sorted(
            f for f in os.listdir(stage) if f.startswith("part-")
        )
        for i, f in enumerate(parts):
            os.utime(f"{stage}/{f}", (1_000_000_000 + i, 1_000_000_000 + i))
        stream = spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(stage)
        q = (
            streaming_session_counts(stream)
            .writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            # complete mode re-emits the WHOLE session state per trigger:
            # overwrite keeps exactly the final (complete) emission
            .foreachBatch(
                lambda df, bid: df.write.mode("overwrite").parquet(out)
            )
            .start()
        )
        _await_drained(q, 180)
        return (
            spark.read.parquet(out)
            .select("user_id", "session_start", "n_events", "first_event")
            .orderBy("user_id", "session_start")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q159_streaming_delta_sink",
    oracle=r"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_words,
       CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_batches_seen
FROM documents
GROUP BY source ORDER BY source
""",
)
def q159(spark, sf_dir):
    """STREAMING INGEST INTO A PUBLIC DELTA TABLE — the fourth
    oracle-paired streaming query, and the deployment form of the
    engine's exactly-once contract: the corpus lands in three staged
    micro-batches (doc_id % 3 slices, one file per trigger), each
    appended to a source-partitioned Delta table by ``DeltaAppendSink``
    — every commit stamped with the protocol's ``txn`` action
    (appId, batchId), so a re-delivered batch after a restart is
    recognized through the LOG ITSELF and any Delta deployment can read
    the landing table.  The drained table is read back through the
    protocol reader and aggregated per source (count + word total +
    distinct residue classes, proving all three commits landed exactly
    once — a double-applied batch would double a residue's rows and
    break n_docs/total_words).  Arrival-invariant aggregates over an
    append log → value-comparable against the batch oracle, the q120
    discipline.  Re-delivery/restart idempotency is separately pinned in
    tests/test_delta.py."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import delta as D
    from gofeed_spark.streaming.sinks import DeltaAppendSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q159_")
    landing, ckpt, tbl = f"{work}/landing", f"{work}/ckpt", f"{work}/tbl"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            (
                docs.filter(F.col("doc_id") % 3 == residue)
                .coalesce(1)
                .write.mode("append")
                .parquet(landing)
            )
        sink = DeltaAppendSink(tbl, app_id="q159", partition_by=["source"])
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withColumn(
                "n_words", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            .withColumn("residue", F.pmod("doc_id", F.lit(3)).cast("int"))
            .select("doc_id", "source", "n_words", "residue")
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            D.read_delta(spark, tbl)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_words").cast("long").alias("total_words"),
                F.countDistinct("residue").cast("long").alias("n_batches_seen"),
            )
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q162_streaming_iceberg_sink",
    oracle=r"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_words,
       CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_batches_seen
FROM documents
GROUP BY source ORDER BY source
""",
)
def q162(spark, sf_dir):
    """STREAMING INGEST INTO A PUBLIC ICEBERG TABLE — q159's discipline
    on the second open format (fifth oracle-paired streaming query):
    three staged micro-batches append through ``IcebergAppendSink``,
    each snapshot SUMMARY stamped with (app-id, batch-id) — the format's
    own idempotency convention, recovered by ``last_summary_version`` in
    one metadata GET — then the landing table is read back through the
    metadata tree (manifest lists → Avro manifests → parquet) and
    aggregated per source; distinct residue classes prove all three
    commits landed exactly once.  Any Iceberg deployment can read the
    result."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import iceberg as I
    from gofeed_spark.streaming.sinks import IcebergAppendSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q162_")
    landing, ckpt, tbl = f"{work}/landing", f"{work}/ckpt", f"{work}/tbl"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            (
                docs.filter(F.col("doc_id") % 3 == residue)
                .coalesce(1)
                .write.mode("append")
                .parquet(landing)
            )
        sink = IcebergAppendSink(tbl, app_id="q162", partition_by=["source"])
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withColumn(
                "n_words", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            .withColumn("residue", F.pmod("doc_id", F.lit(3)).cast("int"))
            .select("doc_id", "source", "n_words", "residue")
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            I.read_iceberg(spark, tbl)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_words").cast("long").alias("total_words"),
                F.countDistinct("residue").cast("long").alias("n_batches_seen"),
            )
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q163_streaming_from_delta",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_versions
FROM documents
GROUP BY source ORDER BY source
""",
)
def q163(spark, sf_dir):
    """STREAM **FROM** A DELTA TABLE — the read half of the table-interop
    streaming story (q159/q162 land streams INTO the formats; here a
    table some other engine keeps appending to is consumed AS a stream):
    three partitioned commits land first, then the ``delta_feed`` Python
    DataSource (``sources/tablestream.py``'s one table reader; offsets =
    table VERSIONS, byte-packed InputPartitions, executor-side Arrow
    reads — the driver never materializes rows) delivers exactly each
    commit's added rows labeled with ``_commit_version``, by the
    ``read_delta_changes`` append rule; a streaming aggregation per (source, version)
    drains through the idempotent upsert sink, and the final per-source
    rollup — including the distinct-version count, which a lost or
    double-delivered commit would break — hash-matches the batch oracle.
    The sixth oracle-paired streaming query."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources.tablestream import read_delta_stream

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q163_")
    tbl, ckpt, out = f"{work}/tbl", f"{work}/ckpt", f"{work}/sink"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            D.write_delta(
                docs.filter(F.col("doc_id") % 3 == residue),
                tbl,
                partition_by=["source"],
            )
        agg = (
            read_delta_stream(spark, tbl)
            .groupBy("source", "_commit_version")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars_total"),
            )
            .withColumn(
                "grp",
                F.concat_ws("#", "source", F.col("_commit_version").cast("string")),
            )
        )
        sink = ParquetUpsertSink(out, key="grp")
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            sink.read(spark)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("chars_total").cast("long").alias("chars_total"),
                F.count(F.lit(1)).cast("long").alias("n_versions"),
            )
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q164_streaming_from_iceberg",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_snaps
FROM documents
GROUP BY source ORDER BY source
""",
)
def q164(spark, sf_dir):
    """STREAM **FROM** AN ICEBERG TABLE — completes the 2×2 table-interop
    streaming matrix (into-Delta q159, into-Iceberg q162, from-Delta
    q163, from-Iceberg here; seventh oracle-paired streaming query):
    the ``iceberg_feed`` source (the same ``sources/tablestream.py``
    reader as q163) offsets by snapshot SEQUENCE NUMBERS, and each
    micro-batch is the incremental append scan of its window by the
    ``read_iceberg_changes`` rule (only the ADDED entries of the
    manifests a snapshot wrote — carried manifests and EXISTING entries
    never double-deliver), per-file executor Arrow reads with typed
    identity partition values from the manifest records; the per-(source, snapshot) aggregation drains through the
    idempotent sink and the per-source rollup (distinct snapshot count
    included) hash-matches the batch oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import iceberg as I
    from gofeed_spark.sources.tablestream import read_iceberg_stream

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q164_")
    tbl, ckpt, out = f"{work}/tbl", f"{work}/ckpt", f"{work}/sink"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            I.write_iceberg(
                docs.filter(F.col("doc_id") % 3 == residue),
                tbl,
                partition_by=["source"],
            )
        agg = (
            read_iceberg_stream(spark, tbl)
            .groupBy("source", "_snapshot_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars_total"),
            )
            .withColumn(
                "grp",
                F.concat_ws("#", "source", F.col("_snapshot_id").cast("string")),
            )
        )
        sink = ParquetUpsertSink(out, key="grp")
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            sink.read(spark)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("chars_total").cast("long").alias("chars_total"),
                F.count(F.lit(1)).cast("long").alias("n_snaps"),
            )
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q182_streaming_delta_upsert",
    oracle=r"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_words
FROM documents
GROUP BY source ORDER BY source
""",
)
def q182(spark, sf_dir):
    """STREAMING UPSERT INTO A PUBLIC DELTA TABLE — update-mode
    aggregation landed through ``DeltaUpsertSink`` (r15 verdict missing
    item 1's streaming half): the corpus arrives in three staged
    micro-batches; a running per-source aggregation (update output mode)
    emits each source's LATEST totals every trigger, and the sink MERGEs
    them on the ``source`` key — matched rows replaced, so the table
    always holds one CURRENT row per source (the reference's OCC Save
    upsert shape, repo.go:125-138, landed on the open format with txn
    idempotency).  After the drain the table EQUALS the batch
    aggregation regardless of arrival order — the update-mode twin of
    q159's append discipline.  Re-delivery/restart idempotency is pinned
    in tests/test_delta.py::test_delta_upsert_sink_exactly_once."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import delta as D
    from gofeed_spark.streaming.sinks import DeltaUpsertSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q182_")
    landing, ckpt, tbl = f"{work}/landing", f"{work}/ckpt", f"{work}/tbl"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            (
                docs.filter(F.col("doc_id") % 3 == residue)
                .coalesce(1)
                .write.mode("append")
                .parquet(landing)
            )
        sink = DeltaUpsertSink(tbl, on=["source"], app_id="q182")
        agg = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withColumn(
                "n_words", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_words").cast("long").alias("total_words"),
            )
        )
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            D.read_delta(spark, tbl)
            .select("source", "n_docs", "total_words")
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "q183_streaming_iceberg_upsert",
    oracle=r"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_words
FROM documents
GROUP BY source ORDER BY source
""",
)
def q183(spark, sf_dir):
    """STREAMING UPSERT INTO A PUBLIC ICEBERG TABLE — q182's update-mode
    discipline on the second format through ``IcebergUpsertSink``: each
    trigger commits ONE merge snapshot (equality-delete of the batch's
    source keys + the fresh totals, summary-stamped for idempotency),
    O(batch) at any table size — no target files read or rewritten
    (merge-on-read; contrast q182's copy-on-write).  The drained table
    equals the batch aggregation.  Re-delivery pinned in
    tests/test_iceberg.py::test_iceberg_upsert_sink_exactly_once."""
    import shutil
    import tempfile

    from gofeed_spark.catalog import load_table
    from gofeed_spark.sources import iceberg as I
    from gofeed_spark.streaming.sinks import IcebergUpsertSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="gofeed_q183_")
    landing, ckpt, tbl = f"{work}/landing", f"{work}/ckpt", f"{work}/tbl"
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for residue in (0, 1, 2):
            (
                docs.filter(F.col("doc_id") % 3 == residue)
                .coalesce(1)
                .write.mode("append")
                .parquet(landing)
            )
        sink = IcebergUpsertSink(tbl, on=["source"], app_id="q183")
        agg = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withColumn(
                "n_words", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_words").cast("long").alias("total_words"),
            )
        )
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        _await_drained(q, 180)
        return (
            I.read_iceberg(spark, tbl)
            .select("source", "n_docs", "total_words")
            .orderBy("source")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(work, ignore_errors=True)
