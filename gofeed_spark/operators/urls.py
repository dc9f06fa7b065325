"""URL hygiene for web-corpus pipelines: canonicalization, domain
extraction, blocklist verdicts — the CCNet/RefinedWeb preprocessing that
runs BEFORE content dedup (URL-level dedup removes the bulk of recrawls
for free, and domain blocklists are the first quality gate).

Everything is regexp/concat column expressions (whole-stage codegen, one
projection pass, no shuffle); patterns stay inside the Java-regex ∩ RE2
dialect so a SQL oracle can mirror them.

Reference scope note: the reference engine (a change-feed poller) has no
URL surface; this module belongs to the added LLM-pipeline surface
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form for URL-level dedup: fragment dropped, ``utm_*``
    tracking params stripped (with separator cleanup), scheme+host
    lowercased (path/query case is significant and preserved), trailing
    path slashes removed.  Pure column expressions; apply before
    ``groupBy(url)`` recrawl-dedup or joins against a crawl frontier."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, r"#.*$", "")                          # fragment
    u = F.regexp_replace(u, r"([?&])utm_[A-Za-z_]+=[^&]*", r"$1")  # tracking
    u = F.regexp_replace(u, r"&&+", "&")                          # a=1&&&b=2 (BEFORE ?&)
    u = F.regexp_replace(u, r"\?&", "?")                          # ?&id= -> ?id=
    u = F.regexp_replace(u, r"[?&]+$", "")                        # dangling ? / &
    u = F.regexp_replace(u, r"/+(\?|$)", r"$1")                   # trailing /
    # lowercase ONLY scheme://host — paths and query values are case-significant
    head = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    return F.concat(F.lower(head), u.substr(F.length(head) + 1, F.lit(1 << 30)))


#: host extraction shared by the SURT twins: everything between `://`
#: and the first of / ? #, with one leading `www.` and a `:port` dropped,
#: lowercased.  Kept in the Java∩RE2 dialect so BOTH engines run it.
_SURT_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_SURT_REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([/?].*)?$"


def surt_key(url: Column | str) -> Column:
    """SURT-form urlkey (Sort-friendly URI Reordering Transform) — the
    CDX index sort key (`com,example,www2)/path?q=1`): host lowercased,
    one leading ``www.`` stripped, port dropped, labels REVERSED and
    comma-joined, then ``)`` + path+query verbatim.  Reversing the host
    makes a lexicographic sort cluster every capture of a registrable
    domain contiguously — the property CDX binary-search lookups and
    per-domain range scans rely on.  Pure codegen; the DuckDB twin is
    ``surt_key_sql`` (same regexes, RE2∩Java dialect)."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.regexp_extract(u, _SURT_HOST_RE, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":[0-9]+$", "")
    rest = F.regexp_extract(u, _SURT_REST_RE, 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","), F.lit(")"), rest
    )


def surt_key_sql(expr: str) -> str:
    """DuckDB twin of ``surt_key`` over SQL expression ``expr``."""
    host = (
        "regexp_replace(regexp_replace(lower(regexp_extract("
        f"{expr}, '{_SURT_HOST_RE}', 1)), '^www\\.', ''), ':[0-9]+$', '')"
    )
    rest = f"regexp_extract({expr}, '{_SURT_REST_RE}', 1)"
    return (
        f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
        f" || ')' || {rest}"
    )


def url_domain(canonical: Column | str) -> Column:
    """Registrable-host shorthand from a CANONICAL url: the host with one
    leading ``www.`` stripped (full public-suffix parsing needs a suffix
    table — out of scope; this matches what per-domain caps key on)."""
    c = F.col(canonical) if isinstance(canonical, str) else canonical
    return F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://(?:www\.)?([^/:?]+)", 1)


def with_url_verdict(docs, url_col: str = "url", blocklist: tuple = ()) -> "DataFrame":
    """(…, url_canon, domain, blocked): one projection pass adding the
    canonical url, its domain, and a blocklist verdict.  ``blocklist`` is
    a literal IN-list (domain sets are small and ship with the job);
    at warehouse scale pass a broadcast-joined table instead."""
    canon = canonicalize_url(url_col)
    dom = url_domain(canon)
    blocked = dom.isin(*blocklist) if blocklist else F.lit(False)
    return (
        docs.withColumn("url_canon", canon)
        .withColumn("domain", dom)
        .withColumn("blocked", blocked.cast("int"))
    )


def schedule_frontier(
    frontier,
    url_col: str = "url",
    priority_col: str = "priority",
    delay_ms: int = 1000,
    n_workers: int = 16,
) -> "DataFrame":
    """Politeness-aware fetch schedule for a crawl frontier — the step
    between robots admission (operators/robots.py) and the fetch pool:
    every URL gets a per-HOST slot (rate limit: one fetch per host per
    ``delay_ms``, ordered by ``priority_col`` then URL for determinism)
    and a worker assignment that keeps a host pinned to ONE worker
    (md5-prefix(host) % n_workers — the engine's md5-bucket convention:
    computable identically in codegen, on the driver, and in ANSI SQL —
    so politeness survives parallelism with no cross-worker coordination;
    the reference's partition-affinity idea, watcher.go's per-partition
    watchers, applied to hosts).

    Returns the frontier plus (host, slot, fetch_at_ms, worker).  One
    window shuffle partitioned by host — host count is large and the
    per-host ordering is tiny, the cheap window regime; everything else
    is codegen.  At 100 TB the same plan holds: hosts are the natural
    partition key of a crawler and no host's queue ever concentrates on
    the driver."""
    host = F.regexp_extract(F.col(url_col), r"^https?://([^/]+)", 1)
    from pyspark.sql import Window as W

    w = W.partitionBy("host").orderBy(priority_col, url_col)
    out = frontier.withColumn("host", host)
    slot = F.row_number().over(w)
    return (
        out.withColumn("slot", slot)
        .withColumn("fetch_at_ms", ((F.col("slot") - 1) * delay_ms).cast("long"))
        .withColumn(
            "worker",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("host").cast("binary")), 1, 8), 16, 10)
                .cast("long"),
                F.lit(n_workers),
            ).cast("int"),
        )
    )


class StreamingFrontierScheduler:
    """Streaming twin of :func:`schedule_frontier` — politeness slots over
    ARRIVING crawl batches (the frontier keeps growing while the crawler
    runs; the batch scheduler would re-number everything each tick).

    ``foreachBatch`` callable.  Per micro-batch: within-batch per-host
    row numbers (one tiny window over the BATCH, never the standing
    frontier) are offset by each host's RUNNING slot base, read from a
    hash-bucketed state table and folded forward — per-trigger I/O is
    O(batch + touched buckets), the standing schedule never reshuffles.
    The host→worker assignment is FROZEN by construction (md5-prefix of
    the host, the engine's bucket convention): a host keeps its worker
    across every batch with zero coordination.  The emitted schedule
    (``sched``, keyed on the url) and the slot bases (``bases``, keyed on
    the host) are two keyed tables of ONE TxLog at ``path``
    (feedstate/keyed.py), committed together with the batch id: a
    re-delivered batch id is skipped whole, and a crash leaves either
    both tables or neither.

    Streaming == batch contract: worker assignments always match the
    batch scheduler's; slots match when per-host arrival order equals
    the batch (priority, url) order — stage batches priority-monotone
    (the q138 ts-range staging recipe applied to the priority column),
    which is the natural shape of a frontier fed by crawl depth/score.
    Pinned by the q172 oracle reuse and the streaming-equals-batch test.
    """

    def __init__(
        self,
        path: str,
        delay_ms: int = 1000,
        n_workers: int = 16,
        url_col: str = "url",
        priority_col: str = "priority",
    ):
        from gofeed_spark.feedstate.keyed import KeyedTable
        from gofeed_spark.feedstate.txlog import TxLog

        self.delay_ms = delay_ms
        self.n_workers = n_workers
        self.url_col = url_col
        self.priority_col = priority_col
        self.log = TxLog(path)
        self.sched = KeyedTable(self.log, "sched", url_col)
        self.bases = KeyedTable(self.log, "bases", "host")

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import Window as W

        from gofeed_spark.feedstate.keyed import run_batch

        spark = batch_df.sparkSession
        host = F.regexp_extract(F.col(self.url_col), r"^https?://([^/]+)", 1)
        w = W.partitionBy("host").orderBy(self.priority_col, self.url_col)

        def build(c):
            # one materialization feeds the schedule AND the base fold
            b = batch_df.withColumn("host", host).localCheckpoint()
            prev = self.bases.read(spark, c.tables)
            if prev is None:
                prev = spark.createDataFrame([], "host string, base long")
            sched = (
                b.withColumn("__rn", F.row_number().over(w))
                .join(prev, "host", "left")
                .withColumn(
                    "slot",
                    (F.coalesce(F.col("base"), F.lit(0)) + F.col("__rn")).cast(
                        "int"
                    ),
                )
                .withColumn(
                    "fetch_at_ms",
                    ((F.col("slot") - 1) * self.delay_ms).cast("long"),
                )
                .withColumn(
                    "worker",
                    F.pmod(
                        F.conv(
                            F.substring(F.md5(F.col("host").cast("binary")), 1, 8),
                            16,
                            10,
                        ).cast("long"),
                        F.lit(self.n_workers),
                    ).cast("int"),
                )
                .drop("__rn", "base")
            )
            counts = b.groupBy("host").agg(F.count(F.lit(1)).alias("__cnt"))
            new_bases = counts.join(prev, "host", "left").select(
                "host",
                (F.coalesce(F.col("base"), F.lit(0)) + F.col("__cnt"))
                .cast("long")
                .alias("base"),
            )
            self.sched.upsert(c, sched, 16)
            self.bases.upsert(c, new_bases, 16)

        run_batch(self.log, batch_df, batch_id, build)

    def read(self, spark):
        """The accumulated schedule (None before the first commit)."""
        return self.sched.read(spark, self.log.latest()[1])
