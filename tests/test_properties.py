"""Property-based tests (hypothesis): the columnar gate/retry engines must
agree with a direct Python model of the reference's logic on arbitrary
inputs — beyond the hand-picked fixtures.

Model functions are transcriptions of the decision ladder
(watcher.go:147-161) and Item.error (item.go:27-38) semantics; the Spark
implementations under test are independent set-based formulations, so
agreement is a meaningful check, not a tautology.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gofeed_spark.feedstate.engine import apply_process_results, gate_decision
from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED, ITEM_DDL, PARTITION_DDL
from gofeed_spark.streaming.feed_stream import _decide

STATUSES = [0, AVAILABLE, COMPLETE, FAILED]

item_st = st.tuples(
    st.integers(0, 3),  # gate
    st.sampled_from(STATUSES),
)
partition_st = st.tuples(
    st.integers(0, 3),  # gate
    st.sampled_from(STATUSES),
    st.lists(item_st, max_size=6),
)


def model_decision(p_gate, p_status, items, manual_checkpoint, auto_close):
    if p_status == COMPLETE:
        return p_gate, p_status
    failed = sum(1 for g, s in items if s == FAILED)
    avail = sum(1 for g, s in items if s == AVAILABLE)
    at_gate = sum(1 for g, s in items if s == AVAILABLE and g == p_gate)
    if failed > 0:
        return p_gate, FAILED
    if avail > 0:
        return (p_gate + 1 if at_gate == 0 and not manual_checkpoint else p_gate), AVAILABLE
    return p_gate, (COMPLETE if auto_close else p_status)


@settings(max_examples=500, deadline=None)
@given(part=partition_st, manual=st.booleans(), auto=st.booleans())
def test_stream_decide_matches_model(part, manual, auto):
    """The streaming gate machine's ladder (pure Python, no Spark job)."""
    g, s, items = part
    item_map = {f"i{k}": gs for k, gs in enumerate(items)}
    gate, status, failed_n, avail_n = _decide(item_map, g, s, manual, auto)
    assert (gate, status) == model_decision(g, s, items, manual, auto)
    assert failed_n == sum(1 for _g, st_ in items if st_ == FAILED)
    assert avail_n == sum(1 for _g, st_ in items if st_ == AVAILABLE)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(parts=st.lists(partition_st, min_size=1, max_size=4),
       manual=st.booleans(), auto=st.booleans())
def test_gate_decision_matches_model(spark, parts, manual, auto):
    prows, irows = [], []
    expected = {}
    for pi, (g, s, items) in enumerate(parts):
        pid = f"p{pi}"
        prows.append((pid, 0, g, s))
        for ii, (ig, istat) in enumerate(items):
            irows.append((f"{pid}_i{ii}", 0, 0, pid, ig, istat, "", "{}"))
        eg, es = model_decision(g, s, items, manual, auto)
        expected[pid] = (eg, es)
    pdf = spark.createDataFrame(prows, PARTITION_DDL)
    idf = spark.createDataFrame(irows, ITEM_DDL) if irows else spark.createDataFrame([], ITEM_DDL)
    out = {
        r.id: (r.gate, r.status)
        for r in gate_decision(pdf, idf, manual_checkpoint=manual, auto_close=auto).collect()
    }
    assert out == expected


ts_st = st.integers(0, 6)  # small timestamp domain forces ties


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rights=st.lists(st.tuples(st.integers(1, 3), ts_st, st.integers(0, 99)), max_size=8),
    lefts=st.lists(st.tuples(st.integers(1, 3), ts_st), min_size=1, max_size=6),
)
def test_asof_join_matches_bruteforce(spark, rights, lefts):
    import datetime as dt

    from gofeed_spark.operators.asof import asof_join_last_event

    def t(x):
        return dt.datetime(2024, 1, 1, x)

    right = spark.createDataFrame(
        [(k, t(x), v) for k, x, v in rights] or [(0, t(0), 0)],
        "k long, t timestamp, v long",
    )
    left = spark.createDataFrame(
        [(k, t(x), i) for i, (k, x) in enumerate(lefts)],
        "k long, t timestamp, probe_id long",
    )
    out = {
        r.probe_id: r.asof_value
        for r in asof_join_last_event(
            left, right, "k", "k", "t", "t", "v", "probe_id"
        ).collect()
    }
    effective_rights = rights or [(0, 0, 0)]  # mirrors the empty-list fallback row
    for i, (k, x) in enumerate(lefts):
        cands = [v for rk, rx, v in effective_rights if rk == k and rx <= x]
        want = max(cands) if cands else None
        assert out[i] == want, (i, k, x)


def model_error(retry_count, error_messages, status, msg, no_retry, max_retries):
    retry_count += 1
    if error_messages == "":
        error_messages = msg
    elif error_messages != msg:
        error_messages = error_messages + "\n" + msg
    if no_retry or (retry_count > max_retries and max_retries >= 0):
        status = FAILED
    return retry_count, error_messages, status


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rc=st.integers(0, 7),
    prior=st.sampled_from(["", "boom", "a\nb"]),
    msg=st.sampled_from(["boom", "crash", "a\nb"]),
    no_retry=st.booleans(),
    max_retries=st.sampled_from([-1, 0, 3, 5]),
)
def test_retry_engine_matches_model(spark, rc, prior, msg, no_retry, max_retries):
    items = spark.createDataFrame(
        [("x", 0, rc, "p", 0, AVAILABLE, prior, "{}")], ITEM_DDL
    )
    results = spark.createDataFrame(
        [("x", 0, False, "", msg, no_retry)],
        "id string, next_gate int, complete boolean, new_data string, "
        "error_msg string, no_retry boolean",
    )
    got = apply_process_results(items, results, max_retries=max_retries).collect()[0]
    erc, eem, est = model_error(rc, prior, AVAILABLE, msg, no_retry, max_retries)
    assert (got.retry_count, got.error_messages, got.status) == (erc, eem, est)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
)
def test_global_running_sum_matches_model(spark, vals):
    """Distributed two-pass cumulative sum == the sequential prefix sum,
    for any value sequence and any partition count."""
    from gofeed_spark.operators.packing import global_running_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    out = {
        r.k: r.run
        for r in global_running_sum(df, "k", "v", num_partitions=5).collect()
    }
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
        want[i] = acc
    assert out == want


_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "head", "promo"])
_line = st.lists(_word, min_size=1, max_size=4).map(" ".join)
_doc = st.lists(_line, min_size=1, max_size=5).map("\n".join)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_doc, min_size=1, max_size=8),
    groups=st.lists(st.sampled_from(["g1", "g2"]), min_size=8, max_size=8),
)
def test_remove_frequent_lines_idempotent(spark, texts, groups):
    """Boilerplate removal is a fixpoint after one pass: kept lines had
    df below the threshold, and removing OTHER lines never changes which
    docs contain a kept line — so a second pass removes nothing."""
    from gofeed_spark.operators.textstats import remove_frequent_lines

    docs = spark.createDataFrame(
        [(i, groups[i % len(groups)], t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    once = remove_frequent_lines(docs, min_frac=0.5)
    again_in = once.select(
        "doc_id", F.col("clean_text").alias("text")
    ).join(docs.select("doc_id", "source"), "doc_id")
    twice = remove_frequent_lines(again_in, min_frac=0.5)
    a = {r.doc_id: r.clean_text for r in once.collect()}
    b = {r.doc_id: (r.clean_text, r.n_removed) for r in twice.collect()}
    # caveat: a doc whose text became "" contributes an empty LINE to the
    # second pass; empty lines can legitimately become frequent, so only
    # docs that kept content participate in the fixpoint claim
    for did, text in a.items():
        if text:
            assert b[did] == (text, 0)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    bench_texts=st.lists(_doc, min_size=1, max_size=3),
    extra=st.lists(_doc, min_size=1, max_size=4),
)
def test_contamination_verbatim_inclusion_always_flagged(spark, bench_texts, extra):
    """Any training doc that verbatim-equals a benchmark doc with >= k
    tokens is always contaminated, and n_shared never exceeds the doc's
    own distinct-shingle count."""
    from gofeed_spark.operators.dedup import contamination_check

    k = 3
    bench = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench_texts)],
        "doc_id long, text string",
    )
    clones = [(1000 + i, t) for i, t in enumerate(bench_texts)]
    others = [(2000 + i, t) for i, t in enumerate(extra)]
    docs = spark.createDataFrame(clones + others, "doc_id long, text string")
    out = {r.doc_id: r for r in contamination_check(docs, bench, k=k).collect()}
    for i, t in enumerate(bench_texts):
        toks = t.lower().split()
        n_distinct = len({" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)})
        r = out[1000 + i]
        if n_distinct > 0:
            assert r.contaminated == 1 and r.n_shared == n_distinct
        else:
            assert r.n_shared == 0
    assert all(r.n_shared >= 0 for r in out.values())


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc, min_size=1, max_size=8))
def test_dup_ngram_fraction_matches_model(spark, texts):
    """dup_ngram_char_fraction == a direct Python Counter model on
    arbitrary small docs (including multi-line, repeated-phrase, and
    sub-n-token shapes)."""
    import re
    from collections import Counter

    from gofeed_spark.operators.textstats import dup_ngram_char_fraction

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r.doc_id: r.dup_ngram_frac for r in dup_ngram_char_fraction(docs).collect()}
    for i, t in enumerate(texts):
        want = 0.0
        if t:
            toks = re.split(r"\s+", t.lower())
            if len(toks) >= 3:
                cnt = Counter(
                    " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
                )
                want = sum(len(g) * c for g, c in cnt.items() if c > 1) / len(t)
        assert out[i] == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_line, min_size=2, max_size=10),
    weights=st.lists(st.integers(min_value=1, max_value=4), min_size=2, max_size=2),
)
def test_mixture_sample_rate_invariants(spark, texts, weights):
    """mixture_sample rates: every emitted rate is min(1, budget*share/T_s)
    per the direct model, rates never exceed 1, a clipped source keeps ALL
    its docs, and the keep decision is the md5 content-address (so the
    exact kept set is reproducible from the model)."""
    import hashlib

    from gofeed_spark.operators.mixing import mixture_sample

    srcs = ["A", "B"]
    docs = spark.createDataFrame(
        [(i, srcs[i % 2], t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    w = F.when(F.col("source") == "B", weights[1]).otherwise(weights[0])
    got = {(r.doc_id): (r.source, r.rate) for r in
           mixture_sample(docs, w, budget_frac=0.6).collect()}
    # direct model
    toks = {i: len(t.lower().split()) for i, t in enumerate(texts)}
    t_src = {s: sum(v for i, v in toks.items() if srcs[i % 2] == s) for s in srcs}
    t_src = {s: v for s, v in t_src.items() if v}
    total = sum(t_src.values())
    wsum = sum(weights[srcs.index(s)] for s in t_src)
    rate = {
        s: min(1.0, 0.6 * total * weights[srcs.index(s)] / wsum / t_src[s])
        for s in t_src
    }
    want = {}
    for i in range(len(texts)):
        s = srcs[i % 2]
        if s not in rate:
            continue
        h = int(hashlib.md5(f"m{i}".encode()).hexdigest()[:8], 16) % 1_000_000
        if h < rate[s] * 1_000_000:
            want[i] = (s, rate[s])
    assert got == want
    for s, r in got.values():
        assert r <= 1.0


url_seg = st.text(
    alphabet="abcdefgABCDEFG019-._~", min_size=1, max_size=8
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    hosts=st.lists(url_seg, min_size=1, max_size=4),
    paths=st.lists(url_seg, min_size=0, max_size=3),
    utm=st.booleans(),
    frag=st.booleans(),
)
def test_url_canonicalize_idempotent_property(spark, hosts, paths, utm, frag):
    """canonicalize(canonicalize(u)) == canonicalize(u) for generated URLs
    with arbitrary hosts/paths and optional tracking params/fragments."""
    from gofeed_spark.operators.urls import with_url_verdict

    url = "HTTP://" + ".".join(hosts) + "/" + "/".join(paths)
    if utm:
        url += "?utm_x=1&keep=2"
    if frag:
        url += "#sec"
    docs = spark.createDataFrame([(1, url)], "doc_id long, url string")
    once = [r.url_canon for r in with_url_verdict(docs).collect()][0]
    again = spark.createDataFrame([(1, once)], "doc_id long, url string")
    twice = [r.url_canon for r in with_url_verdict(again).collect()][0]
    assert once == twice


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=30),
    cap=st.integers(min_value=1, max_value=12),
    shards=st.integers(min_value=2, max_value=6),
)
def test_source_cap_and_shard_export_models(spark, n, cap, shards):
    """source_cap keeps exactly min(cap, |source|) docs per source, and
    shard_for_export's (shard, pos) is a bijection onto per-shard
    contiguous ranges — both as pure functions of the ids (re-shard
    invariant checked in the unit tests; here the counting model)."""
    from gofeed_spark.operators.mixing import source_cap
    from gofeed_spark.sources.io import shard_for_export

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3), "t") for i in range(n)],
        "doc_id long, source string, text string",
    )
    kept = source_cap(docs, cap=cap).filter("keep = 1").groupBy("source").count()
    sizes = {r.source: r["count"] for r in kept.collect()}
    from collections import Counter

    model = Counter("s" + str(i % 3) for i in range(n))
    assert sizes == {s: min(cap, c) for s, c in model.items()}

    out = shard_for_export(docs, n_shards=shards).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert sum(len(v) for v in by_shard.values()) == n
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
