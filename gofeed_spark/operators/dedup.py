"""Deduplication operators for large-scale training-data pipelines.

All shuffles are key-local and linear in corpus size:

- exact: hash-groupBy on the normalized text (one shuffle).
- n-gram Jaccard: shingle-inverted-index self-join (candidate pairs only
  materialize when docs share a shingle) + exact Jaccard from counts.
- MinHash + LSH: per-doc signature via xxhash64 (no Python), banded
  bucketing, bucket-join for candidates, signature-estimated Jaccard filter.
- SimHash: token-hash bit votes → 64-bit fingerprint split in 16-bit bands;
  near-dup = band collision + Hamming distance bound (bit_count(xor)).

At 100 TB the dominant cost is the shingle/band shuffle, which is
O(total tokens) over 8-byte hashed keys; no all-pairs product ever forms
unless two docs actually collide.  Skew is handled per key family:

- a viral SHINGLE (shared by millions of docs) carries no near-dup signal
  → dropped above a document-frequency cap (ON by default, 10k);
- a hot LSH BAND bucket means its docs ARE near-identical (a template
  family) → replaced above the cap by a linear spanning star (hub = min
  id), preserving family connectivity for ``neardup_clusters`` at O(m)
  instead of the m²/2 pair bomb.  ON by default (5k).

Pairs are candidates, not decisions: ``neardup_clusters`` resolves them
into connected components (doc_id, cluster_id, keep) — the actual dedup
verdict a pipeline applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gofeed_spark.functions.parallel import compute_width, parallel_floor

from gofeed_spark.functions.lineage import release_local_checkpoint
from gofeed_spark.functions.text import normalized_text, shingles, ws_tokens


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical docs: (text, n, keep_id=min id)."""
    return (
        docs.groupBy(text_col)
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic keep-first dedup: survivor ids (min id per text)."""
    w = Window.partitionBy(text_col).orderBy(id_col)
    return (
        docs.select(id_col, text_col)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col)
    )


def _doc_shingles(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, sh: array<long>) — distinct k-shingles hashed to 64-bit ints.

    Computed in an Arrow-batched mapInPandas worker (blake2b-8, C speed):
    measured ~4× less core-time than the whole-stage-codegen
    sequence/slice/hash higher-order-function formulation, which Catalyst
    interprets per element (~19 ms/doc vs ~5).  This is the documented
    exception to "stay JVM-side": a tight per-token loop over every
    document is exactly the vectorized-Python case.  Tokenization is
    lower-case \\s+ split — identical to the ws_tokens/oracle convention.
    Everything downstream (explode, band shuffles, the 64 minhash
    functions) operates on the 8-byte keys; within-doc hash collisions
    (~n²/2⁶⁴) are negligible against the exact-Jaccard oracle."""
    import hashlib
    import re

    def run(batches):
        import pandas as pd

        ws = re.compile(r"\s+")
        for pdf in batches:
            ids, shs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split(text.lower()) if text else []
                n = len(toks)
                if n >= k:
                    hs = {
                        int.from_bytes(
                            hashlib.blake2b(
                                " ".join(toks[i : i + k]).encode(), digest_size=8
                            ).digest(),
                            "big",
                            signed=True,
                        )
                        for i in range(n - k + 1)
                    }
                else:
                    hs = set()
                ids.append(did)
                shs.append(list(hs))
            yield pd.DataFrame({"doc_id": ids, "sh": shs})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(run, f"doc_id {id_type}, sh array<long>")




def _doc_shingles_fast(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc_id, sh: array<long>) — the hash-AGNOSTIC twin of
    ``_doc_shingles`` for consumers whose OUTPUT is invariant to the
    shingle-hash identity (exact-Jaccard counting: set sizes and
    intersection structure only — q40/q96).  MinHash/SimHash signatures
    depend on hash VALUES (est_jac, persisted index content) and must
    keep the blake2b form.

    Fully vectorized per Arrow batch: tokens factorize once (vocabulary-
    proportional hashing via pandas' C SipHash), the k-gram hash is a
    polynomial combine of the k token hashes over uint64 wraparound (odd
    multiplier — collision odds ~2⁻⁶⁴ per pair, the same class as
    blake2b-8 truncation), windows crossing document boundaries mask
    out, and per-doc distinct is one lexsort + neighbor-diff over the
    whole batch.  Same tokenization (lower-case \\s+) and schema;
    measured 2.4× the blake2b kernel on the sf0.1 corpus with identical
    per-doc distinct counts and pairwise intersection sizes.
    """
    import re

    import numpy as np

    ws = re.compile(r"\s+")
    P = np.uint64(0x9E3779B97F4A7C15)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            counts, flat = [], []
            for text in pdf[text_col]:
                toks = ws.split(text.lower()) if text else []
                counts.append(len(toks))
                flat.extend(toks)
            n_docs = len(counts)
            codes, uniq = pd.factorize(np.array(flat, dtype=object), sort=False)
            th = pd.util.hash_array(uniq.astype(object))[codes] if len(flat) else np.empty(0, np.uint64)
            N = len(th)
            if N >= k:
                H = th[0 : N - k + 1].copy()
                for j in range(1, k):
                    H = H * P + th[j : N - k + 1 + j]
                doc_idx = np.repeat(np.arange(n_docs), counts)
                valid = doc_idx[0 : N - k + 1] == doc_idx[k - 1 : N]
                d = doc_idx[0 : N - k + 1][valid]
                h = H[valid].astype(np.int64)
            else:
                d = np.empty(0, np.int64)
                h = np.empty(0, np.int64)
            order = np.lexsort((h, d))
            d, h = d[order], h[order]
            if len(d) > 1:
                keep = np.ones(len(d), bool)
                keep[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
                d, h = d[keep], h[keep]
            bounds = np.searchsorted(d, np.arange(n_docs + 1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "sh": [h[bounds[i] : bounds[i + 1]] for i in range(n_docs)],
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run, f"doc_id {id_type}, sh array<long>"
    )


def _corpus_n(docs: DataFrame, n_hint: int | None) -> int | None:
    """Corpus row count for sizing decisions: the caller's hint, else the
    parquet-footer estimate (metadata-only), else None (unknown — sizing
    guards stay conservative/on)."""
    if n_hint is not None:
        return n_hint
    from gofeed_spark.catalog import df_rowcount_estimate

    return df_rowcount_estimate(docs)


def _group_pairs(
    keyed: DataFrame,
    key: str,
    df_cap: int | None,
    hot: str = "drop",
    n: int | None = None,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Inverted-index pair generation in ONE pass: group doc ids per key,
    emit ordered in-group pairs via a nested explode.  Equivalent to the
    textbook self-equi-join but scans/shuffles the index once instead of
    twice; per-key work is m² for a key shared by m docs, so keys above
    ``df_cap`` get one of two linear treatments (``hot``):

    - ``"drop"`` (shingle semantics): remove the key entirely — a shingle
      shared by that many docs carries no near-dup signal.
    ``payload``: extra per-doc columns (functionally dependent on
    ``doc_id``) carried THROUGH the pair explosion and emitted as
    ``<col>_a`` / ``<col>_b`` — the alternative to re-joining a
    corpus-sized attribute relation onto both pair endpoints downstream
    (two more shuffles at warehouse scale for a few carried bytes per
    row here).  Unsupported with ``hot="star"`` (the hub join would
    need the join anyway).

    - ``"star"`` (LSH band semantics): a band bucket shared by m docs means
      those docs ARE near-identical (the opposite of a viral shingle), so
      dropping it loses a real duplicate family.  Instead emit a spanning
      STAR — hub = min doc id, paired with every other doc in the bucket:
      m-1 pairs instead of m²/2, and no m-sized ``collect_set`` buffer ever
      forms for the hot key.  Downstream per-pair verification (est_jac /
      Hamming) still runs on every emitted pair, so family recall is
      preserved WHEN the hub verifies against each member — the expected
      regime, since a bucket only goes hot when its members are
      near-identical.  A member that fails verification against the hub is
      disconnected entirely, even if it would have verified against some
      other member the uncapped path would have paired it with; callers
      needing exact pairwise semantics pass ``df_cap=None``.  (Pairwise
      recall within the family is intentionally sacrificed: a 10⁵-doc
      template family at 100 TB is a cluster decision, never 10¹⁰ pairs.)
    """
    # pair EXPLOSION is compute-bound over byte-slim rows — AQE's byte
    # coalescing would run it on 1-2 reducers (see compute_width; ``n`` =
    # the caller's corpus size, gating the widening off at small volume).
    # ``n`` counts DOCS while the keyed relation is docs × expansion
    # (≥16 LSH bands / ~50 shingles per doc), so the default 20k-row gate
    # overshoots by the expansion factor here — 4k docs already means a
    # ≥64k-row key stage, the same work the 20k gate targets on row-level
    # relations (measured at sf0.1: widened 1.0 s vs coalesced 2.0+ s).
    keyed = compute_width(keyed, key, n=n, min_rows=4_000)
    star = None
    if df_cap is not None:
        # Identify hot keys BEFORE the collect_set aggregation: a viral key
        # shared by millions of docs must never materialize its full id set
        # in one aggregation buffer.  The count/min agg is map-side
        # combinable and shuffles (key, long, long) only; the hot-key set
        # is tiny by definition, so it broadcasts.
        hot_keys = (
            keyed.groupBy(key)
            .agg(F.count("*").alias("df"), F.min("doc_id").alias("hub"))
            .filter(F.col("df") > df_cap)
        )
        if hot == "star":
            # hub = min id in the bucket, so doc_a < doc_b holds by
            # construction; the join is broadcast (hot keys are few) and
            # emits exactly one row per non-hub member — linear.
            star = (
                keyed.join(F.broadcast(hot_keys.select(key, "hub")), key)
                .filter(F.col("doc_id") != F.col("hub"))
                .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
            )
        keyed = keyed.join(F.broadcast(hot_keys.select(key)), key, "left_anti")
    grouped = (
        keyed.groupBy(key)
        .agg(
            F.collect_set(
                F.struct("doc_id", *payload) if payload else F.col("doc_id")
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    if payload:
        if hot == "star":
            raise ValueError("payload columns are unsupported with hot='star'")
        return (
            grouped.select(F.explode("ids").alias("a"), "ids")
            .select("a", F.explode("ids").alias("b"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload],
                F.col("b.doc_id").alias("doc_b"),
                *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload],
            )
        )
    pairs = (
        grouped.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return pairs.unionByName(star) if star is not None else pairs


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for EVERY corpus doc, the number of its
    distinct k-gram shingles that appear in ANY benchmark doc, plus the
    verdict — (doc_id, n_shared, contaminated).  The standard train/eval
    overlap check a training-data pipeline runs before a corpus ships:
    contaminated docs leak evaluation answers into training.

    Scale shape (the asymmetry IS the design): evaluation suites are
    bounded (~1e3-1e6 shingles — a few MB of 8-byte hashes), so the
    benchmark side collapses to ONE sorted int64 array broadcast to every
    executor, and the 100 TB corpus side pays a single Arrow mapInPandas
    pass — hash the doc's shingles (the `_doc_shingles` convention:
    blake2b-8 over lower-cased \\s+ tokens) and count membership via
    np.searchsorted against the broadcast array.  No join, no shuffle, no
    explode; the corpus never moves.
    """
    import numpy as np

    bench_rows = (
        _doc_shingles(benchmark, text_col, id_col, k)
        .select(F.explode("sh").alias("h"))
        .distinct()
        .collect()
    )
    bench_arr = np.sort(np.array([r.h for r in bench_rows], dtype=np.int64))
    b = docs.sparkSession.sparkContext.broadcast(bench_arr)

    def run(batches):
        import hashlib
        import re

        import pandas as pd

        ws = re.compile(r"\s+")
        ba = b.value
        for pdf in batches:
            ids, ns = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split(text.lower()) if text else []
                n = len(toks)
                hs = {
                    int.from_bytes(
                        hashlib.blake2b(
                            " ".join(toks[i : i + k]).encode(), digest_size=8
                        ).digest(),
                        "big",
                        signed=True,
                    )
                    for i in range(n - k + 1)
                } if n >= k else set()
                if hs and len(ba):
                    row = np.fromiter(hs, dtype=np.int64, count=len(hs))
                    idx = np.searchsorted(ba, row)
                    idx_c = np.minimum(idx, len(ba) - 1)
                    shared = int(((idx < len(ba)) & (ba[idx_c] == row)).sum())
                else:
                    shared = 0
                ids.append(did)
                ns.append(shared)
            yield pd.DataFrame({"doc_id": ids, "n_shared": ns})

    id_type = docs.schema[id_col].dataType.simpleString()
    out = docs.select(id_col, text_col).mapInPandas(
        run, f"doc_id {id_type}, n_shared long"
    )
    return out.select(
        F.col("doc_id").alias(id_col),
        "n_shared",
        (F.col("n_shared") > 0).cast("int").alias("contaminated"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 10_000,
    n_hint: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity over distinct k-word shingles for every pair
    of docs sharing at least one shingle; returns (doc_a, doc_b, jac) with
    jac >= threshold and doc_a < doc_b.

    Plan shape: explode shingles, hashed to 64-bit ints so the wide shuffle
    moves 8-byte keys instead of strings → group per shingle → in-group
    ordered pairs (one shuffle, one scan — see _group_pairs) → count shared
    per pair → join per-doc shingle counts → jac = shared/(|A|+|B|-shared).
    No cartesian product; a viral shingle is bounded by ``df_cap`` (on by
    default — shingles shared by >10k docs carry no near-dup signal; set
    None for exact small-corpus semantics).

    ``n_hint``: known upper bound on the corpus row count (table catalog /
    parquet footer).  A key's document frequency can't exceed the corpus,
    so ``n_hint <= df_cap`` proves no key can go hot and the detection
    pass (one agg + one anti-join) is dropped from the plan — identical
    output, two fewer jobs.  Must be an upper BOUND: guessing low re-opens
    the quadratic surface the cap exists to close.
    """
    # heavy per-byte pass: proportional floor widens even sub-MiB scans
    docs = parallel_floor(docs, per_task_bytes=64 * 1024)
    n_est = _corpus_n(docs, n_hint)
    if n_hint is not None and df_cap is not None and n_hint <= df_cap:
        df_cap = None
    # |A| rides the exploded relation as a carried per-row int (n_sh)
    # instead of a separate size relation: joining sizes onto BOTH pair
    # endpoints is two more corpus-sized shuffles at warehouse scale
    # (and two broadcast jobs at bench scale), where the carry widens the
    # already-slim shingle shuffle by 8 bytes/row.  With a single
    # consumer the shingle subtree also needs no persist.  Exact-Jaccard
    # output is hash-identity-invariant, so the vectorized kernel applies.
    sh = _doc_shingles_fast(docs, text_col, id_col, k)
    ex = sh.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("h"))
    shared = (
        compute_width(
            _group_pairs(ex, "h", df_cap, n=n_est, payload=("n_sh",)),
            "doc_a", "doc_b", n=n_est,
        )
        .groupBy("doc_a", "n_sh_a", "doc_b", "n_sh_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.withColumn(
            "jac",
            F.col("shared").cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jac"))
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_fp: bool = False,
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures.

    h_i(s) = multiply-shift transform of the 64-bit shingle hash
    (a_i·s + b_i over uint64 wraparound — a standard universal-ish family),
    minimized per doc across shingles.  Computed alongside shingling in the
    SAME Arrow batch as one numpy (n_shingles × num_hashes) broadcasted
    min-reduce — no explode, no 64-way aggregate, no second shuffle; the
    signature leaves the worker already assembled.  Deterministic
    (fixed seeds).  Docs with no shingles are dropped.

    ``with_fp`` adds ``fp``: an EXACT 64-bit digest of the sorted shingle
    hash set (blake2b-8).  fp equality ⟺ shingle-set equality (modulo
    64-bit collisions), where full signature agreement only *estimates* it:
    two docs at true Jaccard 0.99 agree on all 64 minhashes with p ≈ 0.5,
    so exact-duplicate verdicts must verify on fp, never on est_jac = 1.0
    (measured on the test corpus — natural jac-0.99 pairs collide).
    """
    docs = parallel_floor(docs, per_task_bytes=64 * 1024)  # heavy per-byte pass
    import hashlib
    import re

    import numpy as np

    rng = np.random.RandomState(9172)
    A = rng.randint(1, 2**63 - 1, size=num_hashes, dtype=np.int64).astype(np.uint64) | np.uint64(1)
    B = rng.randint(0, 2**63 - 1, size=num_hashes, dtype=np.int64).astype(np.uint64)

    # FUSED shingle+signature worker: shingling inline (the exact
    # `_doc_shingles` kernel — blake2b-8 over lower-cased \s+ k-grams,
    # values pinned in tests/test_dedup.py) so the per-doc shingle arrays
    # never cross the JVM<->Python boundary between two chained
    # mapInPandas stages; one Arrow pass emits assembled signatures.
    def run(batches):
        import pandas as pd

        ws = re.compile(r"\s+")
        for pdf in batches:
            ids, sigs, fps = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split(text.lower()) if text else []
                n = len(toks)
                if n < k:
                    continue
                hs = {
                    int.from_bytes(
                        hashlib.blake2b(
                            " ".join(toks[i : i + k]).encode(), digest_size=8
                        ).digest(),
                        "big",
                        signed=True,
                    )
                    for i in range(n - k + 1)
                }
                if not hs:
                    continue
                s = np.fromiter(hs, dtype=np.int64, count=len(hs)).astype(
                    np.uint64
                )
                # (n_sh, num_hashes) wraparound multiply-shift, min over shingles
                sig = (s[:, None] * A[None, :] + B[None, :]).min(axis=0)
                ids.append(did)
                sigs.append(sig.astype(np.int64).tolist())
                if with_fp:
                    fps.append(
                        int.from_bytes(
                            hashlib.blake2b(
                                np.sort(s.astype(np.int64)).tobytes(), digest_size=8
                            ).digest(),
                            "big",
                            signed=True,
                        )
                    )
            if not ids:
                # an all-dropped batch must yield NOTHING: an empty pandas
                # frame's float64 columns fail Arrow's array<long> conversion
                continue
            out = {"doc_id": ids, "sig": sigs}
            if with_fp:
                out["fp"] = fps
            yield pd.DataFrame(out)

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_type}, sig array<long>" + (", fp long" if with_fp else "")
    return docs.select(id_col, text_col).mapInPandas(run, schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 5_000,
    n_hint: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, filtered by the
    signature-estimated Jaccard (fraction of agreeing hash positions).

    rows_per_band = num_hashes/bands; a pair collides when one band's rows
    all agree.  Candidates shuffle on (band, band_hash) — linear, skew-safe
    (a band bucket of b docs yields b² pairs only for actual collisions).
    Returns (doc_a, doc_b, est_jac) with est_jac >= threshold.

    ``df_cap`` bounds the one quadratic surface left: a band bucket shared
    by m near-identical docs (template/boilerplate families run to 10⁵⁺
    members in real corpora) is an m²/2 pair bomb.  Buckets above the cap
    emit a linear spanning star instead of all pairs (hub = min id — see
    ``_group_pairs``), preserving family connectivity for cluster
    resolution at O(m) cost.  Sub-cap buckets are byte-identical to the
    uncapped behavior; pass ``None`` for exact small-corpus semantics.

    ``n_hint``: corpus row-count upper bound; ``n_hint <= df_cap`` proves
    no band bucket can go hot and drops the detection pass from the plan
    (see ``ngram_jaccard_pairs``).
    """
    assert num_hashes % bands == 0
    n_est = _corpus_n(docs, n_hint)
    if n_hint is not None and df_cap is not None and n_hint <= df_cap:
        df_cap = None
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    if df_cap is None:
        # No bucket can go hot (n_hint proved it, or the caller asked for
        # exact small-corpus semantics), so the star guard is off and the
        # signature can ride the band shuffle as a ``_group_pairs`` payload:
        # every candidate pair leaves the explosion with BOTH signatures
        # attached, dropping the two corpus-sized est_jac re-joins AND the
        # persist that fed them (the signature pipeline now has exactly one
        # consumer).  Equivalence: collect_set over struct(doc_id, sig) has
        # the same cardinality as over doc_id (sig is functionally
        # dependent), so the pair set is identical, and est_jac is the same
        # zip_with over the same arrays — rows byte-identical to the join
        # form (pinned in tests/test_dedup.py).  This is the small-corpus
        # arm only: at warehouse scale df_cap stays on and the SLIM band
        # relation below wins on shuffle bytes (carrying 64 longs through a
        # 16-band explosion is ~8 KB/doc vs ~1.3 KB/doc for slim + two
        # sig-relation shuffles — §2.3 napkin math), besides needing the
        # hub join anyway for star pairs.
        band_sig = _band_rows(
            minhash_signatures(docs, num_hashes, k, text_col, id_col),
            num_hashes,
            bands,
            keep_sig=True,
        )
        cand = compute_width(
            _group_pairs(band_sig, "bh", df_cap=None, n=n_est, payload=("sig",)),
            "doc_a", "doc_b", n=n_est,
        ).dropDuplicates(["doc_a", "doc_b"])
        return (
            cand.withColumn("est_jac", est)
            .filter(F.col("est_jac") >= threshold)
            .select("doc_a", "doc_b", F.round("est_jac", 6).alias("est_jac"))
        )
    # Signatures feed the band relation AND both sides of the candidate
    # re-join — persist so the 64-min-agg pipeline runs once, not 3×.
    sigs = minhash_signatures(docs, num_hashes, k, text_col, id_col).persist()
    # SLIM band relation: (doc_id, band-bucket hash) only — the 64-element
    # signatures never ride through the band shuffle (a 16× weight saving);
    # they are re-joined exactly twice, once per side of each surviving
    # candidate pair.  Shared with the persisted index (`_band_rows`).
    band_rows = _band_rows(sigs, num_hashes, bands)
    cand = compute_width(
        _group_pairs(band_rows, "bh", df_cap=df_cap, hot="star", n=n_est),
        "doc_a", "doc_b", n=n_est,
    ).dropDuplicates(
        ["doc_a", "doc_b"]
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jac", est)
        .filter(F.col("est_jac") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jac", 6).alias("est_jac"))
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash hi/lo as two non-negative ints) 64-bit SimHash.

    Per-token blake2b-8 hash → each bit votes ±1 → fingerprint bit b set
    when the vote sum is positive.  The whole per-document computation is
    one numpy unpackbits/sum in the Arrow worker (the 64-sum-aggregate
    columnar formulation shuffles 64 longs per doc and runs the bit
    extraction per token per bit — measurably slower); the fingerprint is
    returned as two 32-bit halves to avoid BIGINT sign traps downstream.
    """
    docs = parallel_floor(docs, per_task_bytes=64 * 1024)  # heavy per-byte pass
    import hashlib
    import re

    import numpy as np

    def run(batches):
        import pandas as pd

        ws = re.compile(r"\s+")
        for pdf in batches:
            ids, his, los = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split(text.lower()) if text else []
                if not toks:
                    continue
                hs = np.frombuffer(
                    b"".join(
                        hashlib.blake2b(t.encode(), digest_size=8).digest()
                        for t in toks
                    ),
                    dtype=np.uint64,
                )
                bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
                    np.int32
                )
                votes = (bits * 2 - 1).sum(axis=0)
                fp = int(((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
                ids.append(did)
                his.append((fp >> 32) & 0xFFFFFFFF)
                los.append(fp & 0xFFFFFFFF)
            yield pd.DataFrame({"doc_id": ids, "sim_hi": his, "sim_lo": los})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run, f"doc_id {id_type}, sim_hi long, sim_lo long"
    )


def hash64_band_pairs(
    fps: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    df_cap: int | None = 5_000,
    n: int | None = None,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint frame ``(id, hi, lo)``
    (two 32-bit halves — the BIGINT-sign-safe convention): ``n_bands``
    equal-width bit bands for candidates, exact distance via
    ``bit_count(xor)``.  PIGEONHOLE: any pair within Hamming distance
    ``n_bands - 1`` is GUARANTEED to share a band; beyond that recall is
    best-effort (standard SimHash practice — the default 4×16 bands
    guarantee distance 3).  A caller needing exhaustive recall at
    ``max_hamming`` passes ``n_bands = max_hamming + 1`` (narrower bands
    admit more spurious candidates — the band value space shrinks 2×
    per bit — so the exact xor verdict does proportionally more work;
    fine to ~8 bands, reconsider the plan past that).  The banded
    machinery behind ``simhash_neardup_pairs``, reused verbatim by the
    perceptual-hash media dedup (multimodal.media_neardup_pairs) — one
    scalable kernel, many fingerprint families.  Returns
    (doc_a, doc_b, hamming).

    ``df_cap``: band buckets above the cap emit a linear spanning star
    instead of m²/2 pairs (see ``_group_pairs``, hot="star").
    """
    if not 1 <= n_bands <= 64:
        raise ValueError("n_bands must be in [1, 64]")
    sh = fps.select(
        F.col(id_col).alias("doc_id"),
        F.col(hi_col).alias("sim_hi"),
        F.col(lo_col).alias("sim_lo"),
    )
    # Slim band relation (doc_id, hashed band value) — fingerprints are
    # re-joined per candidate pair, not shuffled per band.  Bands slice
    # the recombined 64-bit fingerprint low-to-high with the remainder
    # bits spread over the lowest bands; for the default 4 bands this
    # reproduces the original 16-bit layout exactly.
    full = F.shiftleft(F.col("sim_hi").bitwiseAND(F.lit(0xFFFFFFFF)), 32).bitwiseOR(
        F.col("sim_lo").bitwiseAND(F.lit(0xFFFFFFFF))
    )
    widths = [64 // n_bands + (1 if i < 64 % n_bands else 0) for i in range(n_bands)]
    band_cols, start = [], 0
    for i, w in enumerate(widths):
        band = F.shiftrightunsigned(full, start)
        if start + w < 64:  # top band: the shift already cleared the rest
            band = band.bitwiseAND(F.lit((1 << w) - 1))
        band_cols.append(F.xxhash64(F.lit(i), band))
        start += w
    bands = sh.select("doc_id", F.explode(F.array(*band_cols)).alias("bh"))
    cand = compute_width(
        _group_pairs(bands, "bh", df_cap=df_cap, hot="star", n=n),
        "doc_a", "doc_b", n=n,
    ).dropDuplicates(
        ["doc_a", "doc_b"]
    )
    fa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"),
    )
    fb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"),
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 5_000,
    n_hint: int | None = None,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming between SimHash
    fingerprints.  Candidate generation: ``n_bands`` bit bands (default
    4×16: pigeonhole guarantees any pair within distance 3 shares a band;
    wider distances are best-effort, standard SimHash practice — the
    recall floor is MEASURED in tests).  A caller needing exhaustive
    recall passes ``n_bands = max_hamming + 1`` (see
    ``hash64_band_pairs`` for the candidate-volume trade-off; at the
    SimHash default h=8 that means 7-bit bands, which collide heavily —
    prefer the measured best-effort default there).  Exact distance
    check via bit_count(xor).

    ``df_cap``: band buckets above the cap emit a linear spanning star
    instead of m²/2 pairs (see ``minhash_lsh_pairs`` / ``_group_pairs`` —
    identical guard, identical argument); sub-cap behavior is unchanged.
    ``n_hint <= df_cap`` (corpus upper bound) drops the detection pass.
    """
    if n_hint is not None and df_cap is not None and n_hint <= df_cap:
        df_cap = None
    sh = simhash64(docs, text_col, id_col).persist()
    return hash64_band_pairs(
        sh, max_hamming=max_hamming, id_col="doc_id", df_cap=df_cap,
        n=_corpus_n(docs, n_hint), n_bands=n_bands,
    )


def neardup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
    report: dict | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into a dedup decision: (doc_id, cluster_id,
    keep) where cluster_id = the minimum doc id of the pair-connected
    component and keep = 1 exactly for that representative.

    Pairs (from ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` /
    ``embedding_neardup_pairs``) are transitive evidence, not a verdict: if
    A~B and B~C, keeping "first of each pair" would keep A and B (B wins
    the B~C pair) even though all three are one duplicate family.  The
    verdict is per connected component — this generalizes the keep-first
    semantics of ``dedup_keep_first`` from exact to fuzzy duplicates.

    Algorithm: min-label propagation.  labels start as self; each round
    every node takes the min of its own label and its neighbors' labels
    (one join + one map-side-combinable min aggregation — two slim
    shuffles of (long, long) rows per round); converged when no label
    changed.  Rounds needed = the component graph's diameter, which for
    dedup graphs is small by construction — LSH band families arrive as
    stars (diameter 2, see ``_group_pairs``) and organic near-dup chains
    are short.  Each round ends in ``localCheckpoint`` so lineage (and the
    re-execution cost of a lost partition) stays one round deep instead of
    compounding.  Raises if ``max_iter`` rounds don't converge — silent
    truncation would split clusters.

    When ``docs`` is given, docs appearing in no pair join back in as
    singleton clusters (keep=1), making the output a COMPLETE per-doc
    decision over the corpus.

    ``report``: optional dict the call fills with convergence stats
    (``{"rounds": r}`` — propagation rounds until fixpoint), so benches
    and tests can assert the O(diameter) claim without instrumenting.
    """
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # Symmetrize so one propagation step moves labels both ways.  No
    # distinct: duplicate edges only feed extra rows into the min-agg,
    # which dedups them for free — cheaper than a full shuffle here.
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()
    try:
        labels = (
            edges.groupBy("a")
            .agg(F.min("b").alias("nbr_min"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("nbr_min")).alias("label"),
            )
            .localCheckpoint()
        )
        for rounds in range(1, max_iter + 1):
            # neighbor labels flow across each (a -> b) edge, then every node
            # takes the min over {its label} ∪ {incoming labels}
            msgs = edges.join(
                labels.withColumnRenamed("node", "a"), "a"
            ).select(F.col("b").alias("node"), "label")
            new_labels = (
                labels.unionByName(msgs)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint()
            )
            changed = new_labels.join(
                labels.withColumnRenamed("label", "old"), "node"
            ).filter(F.col("label") != F.col("old"))
            done = changed.isEmpty()
            # the superseded round's checkpoint blocks are dead the moment
            # `changed` has been evaluated — release them now, not at GC time
            release_local_checkpoint(labels)
            labels = new_labels
            if done:
                if report is not None:
                    report["rounds"] = rounds
                break
        else:
            raise RuntimeError(
                f"neardup_clusters did not converge in {max_iter} rounds: "
                "component diameter exceeds the bound (raise max_iter)"
            )
    finally:
        edges.unpersist()
    out = labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    if docs is not None:
        out = (
            docs.select(id_col)
            .join(out, id_col, "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        )
    return out.withColumn(
        "keep", (F.col(id_col) == F.col("cluster_id")).cast("int")
    )


def strip_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact-substring dedup (the Lee et al. 2022 "Deduplicating
    Training Data" preprocessing shape, at token granularity): every k-token
    span that appears in >= ``min_df`` DISTINCT docs is removed from ALL of
    them — catches cross-doc boilerplate passages that line-level removal
    (remove_frequent_lines) misses when they share a line with organic
    text.  A token is dropped iff some flagged span covers it (union of
    overlapping [s, s+k) ranges); docs are reassembled from the surviving
    tokens of the NORMALIZED stream (lower-cased \\s+ tokens, the shingle
    convention — dedup operates on normalized text by contract).

    Returns (id, clean_text, n_removed_tokens) for every input doc.

    Plan, sized for 100 TB: positional k-gram md5s via sequence/slice
    (codegen, the winnowing_fingerprints shape) explode once; the
    frequency aggregation shuffles slim (hash, doc_id) pairs; the flagged
    relation (organic corpora: tiny) joins back onto the shingle relation
    and collapses to ONE starts-array row per affected doc (AQE broadcasts
    it when small); the corpus itself is never token-exploded — surviving
    tokens come from a filter-by-index over the materialized token array
    (starts per doc are few, so the nested exists is O(tokens·starts) with
    a small constant).  One slim shuffle + one per-doc join total.
    """
    docs = parallel_floor(docs)  # split-starved scans → serial k-gram pass
    with_toks = docs.select(
        F.col(id_col).alias("__id"), ws_tokens(text_col).alias("__toks")
    )
    n = F.size("__toks")
    idx = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    sh = with_toks.select(
        "__id",
        F.posexplode(
            F.transform(
                idx, lambda i: F.xxhash64(F.array_join(F.slice("__toks", i, k), " "))
            )
        ).alias("spos", "h"),
    )
    flagged = (
        sh.groupBy("h")
        .agg(F.countDistinct("__id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h")
    )
    starts = (
        sh.join(flagged, "h")
        .groupBy("__id")
        .agg(F.collect_set("spos").alias("__starts"))
    )
    joined = with_toks.join(starts, "__id", "left").withColumn(
        "__ss", F.coalesce("__starts", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: ~F.exists(
            F.col("__ss"), lambda s: (s <= i) & (i <= s + F.lit(k - 1))
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("__toks") - F.size(kept)).cast("int").alias("n_removed_tokens"),
    )


def fuzzy_join_jaccard(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.6,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 10_000,
    n_hint: int | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN: every (left, right) doc pair with
    exact k-shingle Jaccard >= threshold — fuzzy entity/document matching
    between TWO tables (match incoming docs against an existing corpus,
    or decontaminate against a benchmark set too large for q87's
    broadcast-shingle path; this is its shuffle-scale sibling).

    Reuses the self-join machinery: ids are remapped into one disjoint
    space (left 2·id, right 2·id+1 — ids must fit 62 bits), shingles run
    through the same hashed inverted index and ``df_cap`` guard, and pairs
    are restricted to CROSS-side (parity differs) BEFORE the shared-count
    aggregation — within-side pairs never reach the scoring join, so two
    large corpora with heavy internal duplication don't pay for pairs the
    caller didn't ask about.  Returns (left_id, right_id, jac).
    """
    if n_hint is not None and df_cap is not None and n_hint <= df_cap:
        df_cap = None
    l = left.select(
        (F.col(id_col) * 2).alias(id_col), F.col(text_col).alias(text_col)
    )
    r = right.select(
        (F.col(id_col) * 2 + 1).alias(id_col), F.col(text_col).alias(text_col)
    )
    # n_sh rides the exploded relation (the ngram_jaccard_pairs carry —
    # no size-relation joins, no persist) and exact-Jaccard output is
    # hash-identity-invariant, so the vectorized shingle kernel applies.
    sh = _doc_shingles_fast(l.unionByName(r), text_col, id_col, k)
    ex = sh.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("h"))
    cross = _group_pairs(ex, "h", df_cap, n=n_hint, payload=("n_sh",)).filter(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    )
    shared = cross.groupBy("doc_a", "n_sh_a", "doc_b", "n_sh_b").agg(
        F.count("*").alias("shared")
    )
    scored = (
        shared.withColumn(
            "jac",
            F.col("shared").cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
    )
    lid = F.when(F.col("doc_a") % 2 == 0, F.col("doc_a")).otherwise(F.col("doc_b"))
    rid = F.when(F.col("doc_a") % 2 == 1, F.col("doc_a")).otherwise(F.col("doc_b"))
    return scored.select(
        F.floor(lid / 2).cast("long").alias("left_id"),
        F.floor(rid / 2).cast("long").alias("right_id"),
        F.round("jac", 6).alias("jac"),
    )


# --- incremental dedup: persisted MinHash index -------------------------------


def _band_rows(
    sigs: DataFrame, num_hashes: int, bands: int, keep_sig: bool = False
) -> DataFrame:
    """(doc_id, bh): the slim banded-LSH relation derived from signatures —
    shared by the batch path (``minhash_lsh_pairs``) and the persisted
    index so build and probe can never disagree on the band hash.
    ``keep_sig`` additionally carries the full signature (the small-corpus
    payload-carry arm of ``minhash_lsh_pairs``)."""
    rpb = num_hashes // bands
    extra = ["sig"] if keep_sig else []
    return sigs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id",
        F.xxhash64("band", F.slice("sig", F.col("band") * rpb + 1, rpb)).alias("bh"),
        *extra,
    )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 5_000,
) -> str:
    """Persist the corpus side of incremental near-dup detection: MinHash
    signatures (``sigs/``: doc_id, sig) and the banded-LSH relation
    (``bands/``: doc_id, bh) under ``path``, plus ``_index_meta.json``
    recording the hash parameters and a corpus fingerprint (written LAST —
    completion marker, so an interrupted build never reads as valid).

    This is the append-only-corpus dedup shape (the reference's change-feed
    model applied to corpus curation): the 100 TB corpus is signed ONCE,
    and every incoming batch probes the index (``probe_minhash_index``)
    instead of re-running whole-corpus ``minhash_lsh_pairs`` — per-batch
    cost becomes O(batch + collisions), independent of corpus size.

    ``df_cap`` star-compresses viral band buckets AT REST: a bucket shared
    by m > df_cap docs (a template family — near-identical by LSH
    construction) keeps only its hub row (min id), so a probe hitting the
    family matches the hub in O(1) rows instead of fanning out to m
    scoring rows.  Matches `_group_pairs`'s star semantics; pass ``None``
    to keep every row (exact member-level attribution).

    ``sigs/`` also stores the exact shingle-set fingerprint (``fp``) so
    exact-duplicate probes verify instead of trusting the estimator, and
    ``fps/`` stores ONE representative per distinct fingerprint
    (fp, dup_of = min doc_id) — the exact-probe relation.  It is complete
    regardless of ``df_cap`` (star compression only thins ``bands/``, so
    an exact clone of a hot bucket's non-hub member still matches here),
    and bounded by DISTINCT content: a million-clone family is one row,
    so a probing clone attributes to the family hub in O(1) rows — the
    same anti-quadratic guarantee ``df_cap`` gives the band path.
    """
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(path)
    sigs = minhash_signatures(
        docs, num_hashes, k, text_col, id_col, with_fp=True
    ).persist()
    band = _band_rows(sigs, num_hashes, bands)
    if df_cap is not None:
        # Hot buckets collapse to their hub: count/min agg is map-side
        # combinable over (bh, long, long); the hot set is tiny → broadcast.
        stats = band.groupBy("bh").agg(
            F.count("*").alias("df"), F.min("doc_id").alias("hub")
        )
        hot = stats.filter(F.col("df") > df_cap)
        band = band.join(
            F.broadcast(hot.select("bh")), "bh", "left_anti"
        ).unionByName(hot.select(F.col("hub").alias("doc_id"), "bh"))
    sigs.write.mode("overwrite").parquet(fs.spark_path(fs.join(path, "sigs")))
    band.write.mode("overwrite").parquet(fs.spark_path(fs.join(path, "bands")))
    sigs.groupBy("fp").agg(F.min("doc_id").alias("dup_of")).write.mode(
        "overwrite"
    ).parquet(fs.spark_path(fs.join(path, "fps")))
    sigs.unpersist()
    from gofeed_spark.operators.similarity import _corpus_fingerprint, _write_index_meta

    _write_index_meta(
        path,
        {
            "kind": "minhash",
            "layout": 2,  # v2: adds fps/ — pre-v2 indexes rebuild on ensure
            "num_hashes": num_hashes,
            "bands": bands,
            "k": k,
            "df_cap": df_cap,
            "fingerprint": _corpus_fingerprint(docs),
        },
    )
    return path


def ensure_minhash_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = 5_000,
) -> str:
    """Idempotent ``build_minhash_index``: a completed index at ``path``
    with matching parameters AND corpus fingerprint short-circuits without
    touching ``docs``'s data; anything else rebuilds (same contract as
    ``similarity.ensure_ann_index``)."""
    from gofeed_spark.operators.similarity import (
        _corpus_fingerprint,
        _index_matches,
    )

    meta = {
        "kind": "minhash",
        "layout": 2,
        "num_hashes": num_hashes,
        "bands": bands,
        "k": k,
        "df_cap": df_cap,
        "fingerprint": _corpus_fingerprint(docs),
    }
    if _index_matches(path, meta) is not None:
        return path
    return build_minhash_index(
        docs, path, num_hashes, bands, k, text_col, id_col, df_cap
    )


def _rel_path(path: str, meta: dict, rel: str) -> str:
    """Resolve a relation's LOGICAL directory through the meta's pointer
    table.  Legacy indexes (no "rels" key) use the unversioned default
    names; compaction republished relations live at version-named dirs the
    meta points to (the object-store-safe single-pointer layout).  Pass
    the result through the path's FileSystem ``spark_path`` for data-plane
    reads/writes."""
    import posixpath

    return posixpath.join(path, meta.get("rels", {}).get(rel, rel))


def _read_index_meta(path: str) -> dict:
    import json

    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(path)
    return json.loads(fs.read_bytes(fs.join(path, "_index_meta.json")))


def probe_minhash_index(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Near-duplicate matches of an incoming batch against a persisted
    MinHash index: (new_id, dup_of, est_jac) with est_jac >= threshold.
    Hash parameters come FROM the index meta, so a probe can never run
    with mismatched num_hashes/bands/k.

    100 TB posture — the corpus never shuffles.  With ``broadcast_batch``
    (the incremental contract: batch ≪ corpus) the plan is three
    broadcast-hash joins against two straight index scans:

      1. batch band rows (16/doc, 8-byte keys) broadcast → ``bands/`` scan
         streams past them once; collisions become candidate (new_id,
         dup_of) pairs — no corpus-side shuffle, no sort.
      2. the candidate set (collisions only, small by construction)
         broadcast → ``sigs/`` scan picks up the corpus signatures.
      3. batch signatures broadcast → est_jac = agreeing-position fraction,
         threshold filter.

    Set ``broadcast_batch=False`` for a batch too large for the driver —
    the same plan with shuffled equi-joins (AQE still broadcasts any side
    that turns out small).  Identical-id rows (re-ingesting docs already
    indexed) are excluded.

    ``threshold >= 1.0`` requests EXACT-duplicate semantics and takes a
    DIFFERENT plan: one fp-equality join of the batch fingerprints against
    the index's ``fps/`` relation (one representative per distinct
    fingerprint), skipping the bands entirely.  Two reasons: est_jac = 1.0
    over-matches (natural jac-0.99 pairs pass all 64 minhashes with
    p ≈ 0.5, measured), and the band path under-matches on a
    ``df_cap``-compressed index — an exact clone of a NON-hub member of a
    hot bucket only collides with the hub, whose fp differs, so the band
    route would return no match at all.  ``fps/`` is complete regardless
    of star compression, and a probing member of an m-clone family matches
    its one representative row (the family hub), never m rows.

    The batch signature pass is deliberately NOT cached: the probe frame
    is lazy (callers compose/inspect its plan), and a ``persist`` here
    leaked cached signature blocks into every micro-batch of a
    streaming-ingest loop (foreachBatch probe per batch) — unbounded over
    a long-running service.  Both paths instead evaluate the batch's Arrow
    signature pass at most twice (deterministic, batch ≪ corpus by the
    incremental contract): the exact path runs one eager job up front to
    materialize the (tiny) self-rep hit set so the rare sigs/ fallback leg
    is skipped — or row-group-pruned via a pushed `fp IN` literal — rather
    than taxing every probe with a full second corpus scan."""
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(path)
    recover_minhash_index(path)  # restore a crashed compaction swap first
    meta = _read_index_meta(path)
    num_hashes, bands, k = meta["num_hashes"], meta["bands"], meta["k"]

    def side(df):
        return F.broadcast(df) if broadcast_batch else df

    bsigs = minhash_signatures(batch, num_hashes, k, text_col, id_col, with_fp=True)
    idx_sigs = spark.read.parquet(fs.spark_path(_rel_path(path, meta, "sigs")))
    if threshold >= 1.0:
        # appends may add duplicate (fp, rep) rows — dropDuplicates keeps
        # the fan-out at one row per distinct fp regardless
        bfp = bsigs.select(F.col("doc_id").alias("new_id"), "fp")
        hits = spark.read.parquet(
            fs.spark_path(_rel_path(path, meta, "fps"))
        ).join(side(bfp), "fp")
        direct = hits.filter(F.col("dup_of") != F.col("new_id")).select(
            "new_id", "dup_of"
        )
        # A probe whose id IS the stored representative (re-ingesting the
        # rep itself) must still surface its clones: fps/ holds ONE row per
        # fp, so the rep's own row is self-filtered above.  Those few fps
        # resolve against sigs/ (min other member) — but self-rep hits are
        # RARE, and an unconditional sigs/ leg would tax every exact probe
        # with a second full-corpus scan.  So the (tiny, ≤ batch rows)
        # self-hit set is materialized HERE: when empty (the common case)
        # the sigs/ leg is skipped outright, and when non-empty the
        # collected fps become an `isin` literal the parquet scan can
        # row-group-skip on (PushedFilters), not a full relation scan.
        # Cost: the exact path evaluates the batch signature pass twice,
        # same bound the estimate path already carries.
        self_hits = hits.filter(F.col("dup_of") == F.col("new_id")).select(
            "fp", "new_id"
        )
        self_rows = self_hits.distinct().collect()
        if not self_rows:
            return direct.select(
                "new_id", "dup_of", F.lit(1.0).alias("est_jac")
            ).dropDuplicates(["new_id", "dup_of"])
        sh_lit = spark.createDataFrame(self_rows, self_hits.schema)
        fallback = (
            idx_sigs.filter(
                F.col("fp").isin([r["fp"] for r in self_rows])
            )
            .select("fp", "doc_id")
            .join(F.broadcast(sh_lit), "fp")
            .filter(F.col("doc_id") != F.col("new_id"))
            .groupBy("new_id", "fp")
            .agg(F.min("doc_id").alias("dup_of"))
            .select("new_id", "dup_of")
        )
        return (
            direct.unionByName(fallback)
            .select("new_id", "dup_of", F.lit(1.0).alias("est_jac"))
            .dropDuplicates(["new_id", "dup_of"])
        )
    bband = _band_rows(bsigs, num_hashes, bands).withColumnRenamed("doc_id", "new_id")
    idx_bands = spark.read.parquet(fs.spark_path(_rel_path(path, meta, "bands")))
    cand = (
        idx_bands.join(side(bband), "bh")
        .select(F.col("doc_id").alias("dup_of"), "new_id")
        .filter(F.col("dup_of") != F.col("new_id"))
        .dropDuplicates(["dup_of", "new_id"])
    )
    cand_sig = idx_sigs.select(
        F.col("doc_id").alias("dup_of"),
        F.col("sig").alias("sig_a"),
    ).join(side(cand), "dup_of")
    scored = cand_sig.join(
        side(
            bsigs.select(
                F.col("doc_id").alias("new_id"),
                F.col("sig").alias("sig_b"),
            )
        ),
        "new_id",
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    scored = scored.withColumn(
        "est_jac", agree.cast("double") / F.lit(float(num_hashes))
    )
    return scored.filter(F.col("est_jac") >= threshold).select(
        "new_id", "dup_of", F.round("est_jac", 6).alias("est_jac")
    )


def append_minhash_index(
    spark,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Grow a persisted MinHash index by a batch — the write half of the
    append-only loop (probe the batch → keep the clean docs → append them
    so the NEXT batch dedups against them too).  Hash parameters come from
    the index meta (an append can never disagree with the build); sigs and
    band rows land as additional parquet files (no rewrite of the standing
    index), and the meta's corpus fingerprint is cleared to the sentinel
    ``"appended"`` — ``ensure_minhash_index`` treats any fingerprint
    mismatch as stale, so an appended index is explicitly NOT
    rebuild-elidable from the original corpus frame (the on-disk state is
    now the corpus of record).

    NOTE: appends do NOT re-apply ``df_cap`` star compression to buckets
    that go hot only across appends — run ``build_minhash_index`` afresh
    when append volume approaches the original corpus size.  For the
    cheaper problem of per-append FILE accretion (probe latency growing
    with footer opens), run ``compact_minhash_index`` — it preserves
    probe results exactly."""
    from gofeed_spark.fs import get_filesystem
    from gofeed_spark.operators.similarity import _write_index_meta

    fs = get_filesystem(path)
    recover_minhash_index(path)  # restore a crashed compaction swap first
    meta = _read_index_meta(path)
    num_hashes, bands, k = meta["num_hashes"], meta["bands"], meta["k"]
    if meta.get("layout", 1) < 2 or not fs.isdir(_rel_path(path, meta, "fps")):
        # pre-layout-2 index (no fps/): appending only the batch's fps
        # would make exact probes silently miss every originally-built
        # document.  Backfill fps/ from the FULL standing sigs/ relation
        # first, then stamp layout 2 so this runs once.
        old_sigs = spark.read.parquet(fs.spark_path(_rel_path(path, meta, "sigs")))
        if "fp" not in old_sigs.columns:
            raise ValueError(
                f"index at {path} predates shingle fingerprints (no 'fp' in "
                "sigs/); rebuild it with build_minhash_index before appending"
            )
        old_sigs.groupBy("fp").agg(F.min("doc_id").alias("dup_of")).write.mode(
            "overwrite"
        ).parquet(fs.spark_path(_rel_path(path, meta, "fps")))
        meta["layout"] = 2
    sigs = minhash_signatures(
        batch, num_hashes, k, text_col, id_col, with_fp=True
    ).persist()
    band = _band_rows(sigs, num_hashes, bands)
    sigs.write.mode("append").parquet(fs.spark_path(_rel_path(path, meta, "sigs")))
    band.write.mode("append").parquet(fs.spark_path(_rel_path(path, meta, "bands")))
    # one representative per distinct fp WITHIN the batch; a fp already in
    # fps/ gains a second row (probe dropDuplicates bounds the fan-out at
    # one per distinct fp per append — compact_minhash_index collapses
    # exact-duplicate rows and the per-append file accretion)
    sigs.groupBy("fp").agg(F.min("doc_id").alias("dup_of")).write.mode(
        "append"
    ).parquet(fs.spark_path(_rel_path(path, meta, "fps")))
    sigs.unpersist()
    meta["fingerprint"] = "appended"
    _write_index_meta(path, meta)
    return path


def recover_minhash_index(path: str, staging_ttl_sec: float = 1800.0) -> bool:
    """Crash-restore for the index relation lifecycle, run by
    probe/append/compact on entry so no crash point ever needs manual
    surgery.

    Two generations of crash state are repaired:

    - pointer-flip states (current ``compact_minhash_index``): relation
      dirs are version-named and the meta's ``rels`` table is the single
      commit point (one atomic small-file replace — the object-store
      publish shape).  A crash before the flip leaves unreferenced new
      ``rel_vNNNN`` dirs; after the flip, unreferenced old dirs.  Both are
      simply deleted: anything the meta does not reference is garbage by
      construction, and the referenced relations are complete (written
      before the flip).
    - legacy in-place-swap states (``rel__old`` / ``rel__compact`` from
      the pre-pointer compactor): ``rel`` missing + ``rel__old`` present
      → rename back; swap finished but cleanup lost → delete ``rel__old``;
      stray ``rel__compact`` staging → delete.  (POSIX backends only —
      these states predate the pointer-flip layout and cannot exist on a
      rename-less object store.)

    LIVE-compaction guard: the compactor drops a ``_staging.json`` marker
    (naming its in-progress version dirs) BEFORE writing them, RENEWS it
    between per-relation rewrites (a lease, so a compaction longer than
    one TTL stays protected), and deletes it after the flip + cleanup.
    Recovery honors a FRESH marker (mtime younger than ``staging_ttl_sec``,
    default 30 min) by leaving the named dirs alone — so a probe racing a
    live compaction no longer deletes the compactor's staging work.  A
    STALE marker is a crashed compaction: the marker is removed and its
    dirs reclaim normally.  Staleness is measured in the STORE's clock
    (a probe object is PUT and its observed mtime diffed against local
    now) so backend/driver clock skew can neither reclaim a live lease
    nor immortalize a crashed one.  The marker is also re-statted
    immediately before each version-dir delete, narrowing the window in
    which a compactor's renewal can lose to an in-flight reclaim pass.

    Idempotent; returns True if anything was repaired."""
    import json
    import re

    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(path)
    repaired = False
    rels = ("sigs", "bands", "fps")
    if fs.supports_rename():
        for rel in rels:
            rel_dir = fs.join(path, rel)
            old, tmp = rel_dir + "__old", rel_dir + "__compact"
            if not fs.exists(rel_dir) and fs.exists(old):
                fs.rename(old, rel_dir)
                repaired = True
            elif fs.exists(old):
                fs.delete_tree(old)
                repaired = True
            if fs.exists(tmp):
                fs.delete_tree(tmp)
                repaired = True
    marker = fs.join(path, "_staging.json")
    protected, stale = _staging_protected(fs, path, marker, staging_ttl_sec)
    if stale:  # crashed compaction: reclaim marker + dirs normally
        fs.delete(marker)
        repaired = True
    meta_path = fs.join(path, "_index_meta.json")
    if fs.exists(meta_path):
        meta = json.loads(fs.read_bytes(meta_path))
        referenced = {meta.get("rels", {}).get(r, r) for r in rels}
        # \d+ not \d{4}: {epoch:04d} widens past 9999 compactions and
        # those dirs must stay reclaimable
        pat = re.compile(r"^(sigs|bands|fps)(_v\d+)?$")
        for name in fs.listdir(path):
            full = fs.join(path, name)
            if (
                pat.match(name)
                and name not in referenced
                and name not in protected
                and fs.isdir(full)
            ):
                if "_v" in name:
                    # TOCTOU narrowing (ADVICE r11): a compactor may have
                    # started (and leased) between the stat above and this
                    # delete — re-check the marker right before reclaiming
                    # a version dir.  Plain rel dirs predate the lease
                    # protocol and stay on the single up-front check.
                    protected, _ = _staging_protected(
                        fs, path, marker, staging_ttl_sec
                    )
                    if name in protected:
                        continue
                fs.delete_tree(full)
                repaired = True
    return repaired


def _staging_protected(
    fs, path: str, marker: str, staging_ttl_sec: float
) -> tuple[set[str], bool]:
    """Read the compaction lease: returns (protected dir names, marker is
    stale).  (set(), False) when no marker exists.

    Age is measured against the STORE's clock, not the driver's: a raw
    ``time.time_ns() - marker_mtime`` misjudges freshness when the
    backend stamps objects with its own (skewed) clock — a live lease
    could look stale (premature reclamation of in-progress staging) or a
    crashed one perpetually fresh.  The skew is observed by PUTting a
    tiny probe object and statting it back; the probe write is paid only
    when the naive age already exceeds the TTL (the common fresh case
    stays one stat)."""
    import json
    import time

    mstat = fs.stat(marker)
    if mstat is None:
        return set(), False
    age_sec = (time.time_ns() - mstat[1]) / 1e9
    if age_sec >= staging_ttl_sec:
        probe = fs.join(path, "_clockprobe")
        try:
            fs.put_bytes(probe, b"")
            pstat = fs.stat(probe)
            fs.delete(probe)
            if pstat is not None:
                # clamp at 0: the probe is younger than the marker, so a
                # just-written marker's corrected age can only jitter
                # slightly negative — never let that defeat a 0-TTL reclaim
                age_sec = max(age_sec - (time.time_ns() - pstat[1]) / 1e9, 0.0)
        except OSError:  # unprobeable backend: keep the naive age
            pass
    if age_sec >= staging_ttl_sec:
        return set(), True
    try:
        return set(json.loads(fs.read_bytes(marker)).get("dirs", [])), False
    except (OSError, json.JSONDecodeError):
        return set(), False


def compact_minhash_index(
    spark,
    path: str,
    target_file_bytes: int = 64 * 1024 * 1024,
) -> dict:
    """Collapse the per-append file accretion of ``append_minhash_index``
    back to a byte-targeted file count — the ``maintain()``-style upkeep
    op for a long-lived index (each append lands new part-files in sigs/,
    bands/ and fps/; after N appends every probe pays N× the parquet
    footer/open overhead).

    Probe-result preserving BY CONSTRUCTION: sigs/ and bands/ are
    rewritten row-identically, and fps/ drops only exact duplicate
    (fp, dup_of) rows — which ``probe_minhash_index``'s dropDuplicates
    already made invisible.  Distinct representatives for the same fp
    (one per append epoch) are kept, so the match set is byte-identical
    before and after.

    PUBLISH = ONE POINTER FLIP: compacted relations are written to fresh
    version-named dirs (``sigs_vNNNN`` …) and become live when the meta's
    ``rels`` table is atomically replaced — no directory renames on the
    data path, which is exactly the lifecycle an object store supports
    (the meta PUT is the commit point; S3/GCS have no atomic dir rename).
    A crash at ANY point leaves either unreferenced new dirs (pre-flip)
    or unreferenced old dirs (post-flip), both reclaimed by
    ``recover_minhash_index`` (run on entry here and by probe/append).
    CONCURRENT probes are tolerated too: a ``_staging.json`` marker naming
    the in-progress version dirs lands BEFORE they are written, is RENEWED
    before each relation rewrite (a lease — compactions longer than one
    TTL stay protected as long as no single rewrite exceeds it), and
    entry-point recovery leaves marker-named dirs alone while the marker
    is fresh (< its TTL) — so a probe racing a live compaction can no
    longer reclaim the compactor's staging work.  Before the flip the
    lease is re-read: if it was reclaimed (a rewrite DID outlive the TTL)
    the publish ABORTS with the old relations still live, rather than
    pointing the meta at dirs a recovery may have deleted.  The marker is
    deleted after the flip; a crash leaves it to expire, after which the
    unpublished dirs reclaim normally.  Returns per-relation
    {files_before, files_after, bytes}."""
    import json
    import math

    from gofeed_spark.fs import get_filesystem
    from gofeed_spark.operators.similarity import _write_index_meta

    fs = get_filesystem(path)
    recover_minhash_index(path)
    meta = _read_index_meta(path)

    epoch = int(meta.get("rel_epoch", 0)) + 1
    plan = (("sigs", False), ("bands", False), ("fps", True))
    marker = fs.join(path, "_staging.json")
    lease = json.dumps(
        {"dirs": [f"{rel}_v{epoch:04d}" for rel, _ in plan], "epoch": epoch}
    ).encode()
    fs.put_bytes(marker, lease)
    stats, new_rels, old_dirs = {}, {}, []
    for rel, dedup_rows in plan:
        # renew the lease before each relation rewrite: a compaction whose
        # TOTAL runtime exceeds staging_ttl_sec stays protected as long as
        # no SINGLE rewrite does (ADVICE r11 — the marker was previously
        # PUT once and never refreshed)
        fs.put_bytes(marker, lease)
        rel_path = _rel_path(path, meta, rel)
        old_dirs.append(rel_path)
        n_before, nbytes = fs.tree_stats(rel_path)
        n_target = max(1, math.ceil(nbytes / target_file_bytes))
        df = spark.read.parquet(fs.spark_path(rel_path))
        if dedup_rows:
            df = df.dropDuplicates()
        new_name = f"{rel}_v{epoch:04d}"
        df.repartition(n_target).write.mode("overwrite").parquet(
            fs.spark_path(fs.join(path, new_name))
        )
        new_rels[rel] = new_name
        n_after, _ = fs.tree_stats(fs.join(path, new_name))
        stats[rel] = {
            "files_before": n_before,
            "files_after": n_after,
            "bytes": nbytes,
        }
    # verify the lease survived before publishing: if a recovery pass
    # reclaimed an expired marker (and possibly the staging dirs) while we
    # were rewriting, publishing would point the meta at deleted dirs and
    # brick the index.  Abort instead — the old rels are still live and
    # the orphaned staging reclaims on the next entry-point recovery.
    try:
        held = json.loads(fs.read_bytes(marker)).get("epoch") == epoch
    except (OSError, json.JSONDecodeError):
        held = False
    if not held:
        for rel in new_rels.values():
            d = fs.join(path, rel)
            if fs.exists(d):
                fs.delete_tree(d)
        raise RuntimeError(
            f"compact_minhash_index: staging lease for epoch {epoch} was "
            "reclaimed mid-compaction (runtime exceeded staging_ttl_sec); "
            "publish aborted, previous relations remain live"
        )
    meta["rels"] = new_rels
    meta["rel_epoch"] = epoch
    _write_index_meta(path, meta)  # THE atomic publish point
    for d in old_dirs:
        fs.delete_tree(d)
    fs.delete(marker)
    return stats
