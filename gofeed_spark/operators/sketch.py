"""Frequent-items (heavy hitters) over the token stream — EXACT top-k via
a two-pass sketch, the memory-bounded alternative to a full-vocabulary
groupBy.

Pass 1 runs a Misra-Gries summary per partition (Misra & Gries 1982;
merge/compress form from Agarwal et al., "Mergeable Summaries", PODS'12):
memory is capped at ``capacity`` counters no matter how large the
per-partition vocabulary gets (web-scale token/URL/n-gram streams), and
only <= capacity candidate rows per partition ever shuffle.  Each
surviving counter is a LOWER bound on the true count; the summed
compress-decrements E bound the undercount, so for every token
``true(t) ∈ [L(t), L(t) + E]``.

Candidates are the tokens with ``L(t) + E >= L_k`` (the k-th largest
lower bound).  When the pass-1 certificate ``len(L) >= k and L_k > E``
holds, every excluded token — cut (``true <= L(t) + E < L_k``) or absent
from the sketch entirely (``true <= E < L_k``) — sits STRICTLY below the
k-th candidate's true count, so pass 2's exact recount over the
candidate set alone provably yields the exact global top-k, ties
included (tie-break on the token string is unaffected because exclusion
is strict).  If the certificate fails (capacity too small for the
distribution), pass 2 degrades to the full GROUP BY: the operator is
exact either way; capacity only chooses the plan.

Pass 2 re-scans the corpus counting ONLY candidate tokens (a broadcast
set-membership filter ahead of a map-side-combinable count), so the
second shuffle carries candidate hits, not the vocabulary.

Reference scope note: the reference engine has no sketch surface; this
module belongs to the added LLM-pipeline surface (SURVEY.md §2.E).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofeed_spark.functions.parallel import parallel_floor
from gofeed_spark.functions.text import re_tokens


def _compress(state: Counter, capacity: int) -> int:
    """Shrink ``state`` to <= capacity counters by subtracting the
    (capacity+1)-th largest count from every counter and dropping the
    non-positive ones.  Returns the subtracted amount (the error this
    compress adds to every surviving lower bound)."""
    if len(state) <= capacity:
        return 0
    counts = np.fromiter(state.values(), dtype=np.int64, count=len(state))
    d = int(np.partition(counts, len(counts) - capacity - 1)[
        len(counts) - capacity - 1
    ])
    for t in [t for t, c in state.items() if c <= d]:
        del state[t]
    for t in state:
        state[t] -= d
    return d


def _mg_pass(docs: DataFrame, capacity: int, text_col: str) -> tuple[Counter, int]:
    """Pass 1: per-partition Misra-Gries summaries over the tokenized
    corpus, merged on the driver.  Returns (L, E): summed lower bounds per
    surviving token and the total compress error — the mergeable-summary
    pair every consumer (batch top-k, streaming accumulator) builds on."""
    toks = docs.select(re_tokens(text_col).alias("__toks"))

    def mg_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: Counter = Counter()
        err = 0
        for pdf in batches:
            if not len(pdf):
                continue
            # batch-vectorized: one C-level value_counts per Arrow batch,
            # not a Python loop over rows (measured 3x on 500k docs)
            arrs = [a for a in pdf["__toks"].to_list() if a is not None]
            if not arrs:
                continue
            flat = np.concatenate(arrs)
            if len(flat):
                vc = pd.Series(flat).value_counts()
                state.update(dict(zip(vc.index, vc.to_numpy())))
            if len(state) > 2 * capacity:  # amortize the compress
                err += _compress(state, capacity)
        err += _compress(state, capacity)
        out = pd.DataFrame(
            {
                "token": list(state.keys()) + [None],
                "lb": np.array(list(state.values()) + [err], dtype=np.int64),
            }
        )
        yield out

    partials = toks.mapInPandas(
        mg_partials, schema="token string, lb long"
    ).collect()  # <= (capacity + 1) x n_partitions tiny rows
    E = sum(r["lb"] for r in partials if r["token"] is None)
    L: Counter = Counter()
    for r in partials:
        if r["token"] is not None:
            L[r["token"]] += r["lb"]
    return L, int(E)


def _topk_from_summary(
    corpus: DataFrame, L: Counter, E: int, k: int, text_col: str
) -> DataFrame:
    """Pass 2: exact top-k over ``corpus`` given a pass-1 summary (L, E)
    valid for that corpus — recount restricted to the candidate set when
    the exactness certificate holds, full GROUP BY otherwise."""
    toks = corpus.select(re_tokens(text_col).alias("__toks"))
    if len(L) == 0:
        return (
            toks.sparkSession.createDataFrame(
                [], "rank int, token string, n long"
            )
        )
    lbs = sorted(L.values(), reverse=True)
    exploded = toks.select(F.explode("__toks").alias("token"))
    # Exactness certificate, decidable from pass 1 alone: with >= k
    # surviving tokens and L_k > E, every top-k candidate's true count is
    # >= L_k, strictly above both the cut tokens (< L_k) and any token
    # absent from the sketch entirely (<= E).  If the certificate fails
    # (capacity too small for this distribution), fall back to the full
    # GROUP BY — the operator is exact EITHER way; capacity only decides
    # which plan runs.
    if len(lbs) >= k and lbs[k - 1] > E:
        L_k = lbs[k - 1]
        cands = sorted(t for t, lb in L.items() if lb + E >= L_k)
        if len(cands) <= 256:  # literal IN stays inside codegen
            filtered = exploded.filter(F.col("token").isin(cands))
        else:  # wide candidate sets: broadcast semi-join, not an IN tree
            cdf = toks.sparkSession.createDataFrame(
                [(c,) for c in cands], "token string"
            )
            filtered = exploded.join(F.broadcast(cdf), "token", "left_semi")
    else:
        filtered = exploded
    hits = filtered.groupBy("token").agg(F.count("*").alias("n"))
    # top-k via TakeOrderedAndProject (orderBy+limit), NOT an
    # unpartitioned window: on the fallback path `hits` is the FULL
    # vocabulary, and an empty-partition window would drag it all into
    # one task.  The <= k survivors then rank through the constant-key
    # pattern (functions/ranking.py).
    from gofeed_spark.functions.ranking import with_rank

    order = [F.desc("n"), F.asc("token")]
    return (
        with_rank(hits.orderBy(*order).limit(k), order)
        .select("rank", "token", "n")
        .orderBy("rank")
    )


def heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    capacity: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Exact global top-k tokens as (rank, token, n), rank ties broken on
    the token string.  Memory per task is O(capacity); correctness does
    NOT depend on capacity (a small capacity only widens the candidate
    set pass 2 recounts)."""
    docs = parallel_floor(docs)
    L, E = _mg_pass(docs, capacity, text_col)
    return _topk_from_summary(docs, L, E, k, text_col)


class HeavyHittersAccumulator:
    """Ingest-time Misra-Gries accumulator — the streaming form of
    ``heavy_hitters`` (the sketch is MERGEABLE by construction, Agarwal
    et al. PODS'12): each foreachBatch micro-batch contributes one
    bounded pass-1 summary, merged into driver state capped at
    ``capacity`` counters; ``finalize`` applies the same certificate +
    pass-2 recount over the landed corpus, so the drained result EQUALS
    the batch operator on the same data (streaming-equals-batch test in
    tests/test_streaming.py).

    Merge error accounting: summing two summaries' lower bounds keeps
    per-token undercount <= E1 + E2; the driver-side compress decrement d
    adds to every survivor, so E := E1 + E2 + d stays a valid global
    bound — exactly the per-partition merge pass 1 already performs.
    """

    def __init__(self, k: int = 20, capacity: int = 4096, text_col: str = "text"):
        self.k = k
        self.capacity = capacity
        self.text_col = text_col
        self.L: Counter = Counter()
        self.E = 0
        # highest batch id already folded — the replay guard.  Batch ids
        # from the single streaming writer are monotone, so a re-delivered
        # micro-batch (checkpoint restart between sink effect and
        # checkpoint commit) arrives with an id <= this watermark; folding
        # it twice would inflate L above the true counts and the exactness
        # certificate could then pass with a falsely-narrow candidate set
        # (same hazard ParquetUpsertSink skips through its manifest's
        # txn entry).
        self.max_batch_id: int | None = None

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """foreachBatch body: fold one micro-batch's summary in.  Memory
        stays O(capacity) on the driver no matter how many batches.
        Pass the foreachBatch ``batch_id`` through (``acc.update`` IS a
        valid foreachBatch callable): already-folded ids are skipped, so
        a checkpoint-restart replay cannot double-count.  ``None`` (a
        non-streaming caller) folds unconditionally."""
        if batch_id is not None:
            if self.max_batch_id is not None and batch_id <= self.max_batch_id:
                return  # re-delivered batch: idempotent skip
            self.max_batch_id = batch_id
        L_b, E_b = _mg_pass(batch_df, self.capacity, self.text_col)
        self.L.update(L_b)
        self.E += E_b
        if len(self.L) > self.capacity:
            self.E += _compress(self.L, self.capacity)

    def finalize(self, corpus: DataFrame) -> DataFrame:
        """Exact top-k over the LANDED corpus (the sink's table / landing
        dir — the union of every batch seen): certificate-gated candidate
        recount, full GROUP BY fallback, exact either way."""
        return _topk_from_summary(
            parallel_floor(corpus), self.L, self.E, self.k, self.text_col
        )
