"""Deduplication operators (SURVEY.md §2.3): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design — the whole point of the LSH family:
- Exact Jaccard is a shingle-explode + self-join: O(pairs sharing a
  shingle).  Correct, and the *oracle* for the approximate paths, but the
  join blows up on a 100 TB corpus.
- MinHash+LSH replaces it with: one pass to build 64-hash signatures
  (map-side, xxhash64 — JVM codegen, no Python), banding into 16 buckets
  of 4, a bucket-equijoin that only pairs up collision candidates, then
  exact verification on the candidate set.  Shuffle volume is
  O(docs x bands), not O(docs^2).
- SimHash gives a 64-bit per-doc sketch; near-dup = small Hamming
  distance, candidate generation via pigeonhole banding (distance <= 3
  guarantees an identical 16-bit quarter).

Everything is DataFrame expressions; xxhash64 keeps hashing deterministic
across runs/partitionings (and is why these have no DuckDB oracle — the
hash isn't reproducible there; tests verify against the exact-Jaccard
oracle instead, tests/test_dedup_similarity.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.text import shingles, tokens


def exact_dedup(df: DataFrame, cols: list[str], key: str) -> DataFrame:
    """Survivor-key SUMMARY of exact duplicate groups over ``cols``:
    one row per group carrying the group columns, the deterministic
    min-``key`` survivor id, and ``n_copies``.  NOT a full-row
    dropDuplicates replacement — other columns of the surviving row are
    deliberately absent (round 14 review: the previous docstring
    claimed dropDuplicates-equivalent semantics); join the result back
    on ``key`` to recover the survivor's payload, or use
    ``min_by``/a row_number window when the full row is wanted in one
    pass.  What it adds over dropDuplicates: a DETERMINISTIC survivor
    (dropDuplicates keeps an arbitrary row) and the copy count."""
    return df.groupBy(*cols).agg(F.min(key).alias(key), F.count("*").alias("n_copies"))


def shingle_table(docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) exploded distinct k-shingles."""
    return docs.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: (doc_a, doc_b, jaccard) with
    jaccard >= threshold, doc_a < doc_b.  The correctness oracle for the
    LSH paths; at scale prefer minhash_dedup_pairs."""
    sh = shingle_table(docs, k, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_hash_sets(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, hs array<long>): the doc's distinct k-shingle hashes.  Docs
    with < k tokens vanish: no shingles, Jaccard 0 to everything.

    Shape chosen for codegen, not elegance: a per-doc higher-order
    ``transform(shingles, xxhash64)`` is interpreted per ELEMENT (~10 µs
    each — minutes per billion shingles), so instead each document's
    token array is SLICED into k offset views (``slice`` is codegen),
    ``arrays_zip`` aligns them into k-gram structs, ``explode`` streams
    the grams, and each is hashed MAP-SIDE as the token tuple
    (``xxhash64(t0..tk-1)``, equivalent to hashing the joined string —
    tokens contain no whitespace).  Only then does ``collect_set``
    shuffle: the exchange carries (id, long) pairs, never token strings,
    and no per-doc sort exists anywhere (the previous window-``lead``
    formulation shuffled AND sorted the token stream before hashing —
    ~1.8x slower at sf0.1 and strictly more data in flight)."""
    ns = F.greatest(F.size("_t") - F.lit(k - 1), F.lit(0))
    sliced = docs.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_t")
    ).select(
        "id", *[F.slice("_t", j + 1, ns).alias(f"_t{j}") for j in range(k)]
    )
    grams = sliced.select(
        "id", F.explode(F.arrays_zip(*[f"_t{j}" for j in range(k)])).alias("s")
    )
    return (
        grams.select("id", F.xxhash64(*[f"s._t{j}" for j in range(k)]).alias("h"))
        .groupBy("id")
        .agg(F.collect_set("h").alias("hs"))
    )


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>): sig[i] = min over shingle hashes x of
    xxhash64(i, x).  Pass ``hs_df`` (a ``shingle_hash_sets`` result, e.g.
    persisted) to share the shingling pass with other consumers.

    Shape: explode the hashed-shingle LONGS (strings are hashed exactly
    once, map-side, in ``shingle_hash_sets``) and take ``num_perm``
    codegen'd min-aggregates — whole-stage codegen beats per-row
    higher-order-function lambdas for the 64-way hash fan-out, and the
    shuffle moves only (id, long) pairs with map-side partial mins."""
    if hs_df is None:
        hs_df = shingle_hash_sets(docs, k, id_col, text_col)
    exploded = hs_df.select("id", F.explode("hs").alias("h"))
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}") for i in range(num_perm)]
    sig = exploded.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig"))


def minhash_band_buckets(sig: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """(id, band, bucket): bucket = hash of the band's signature slice."""
    out = []
    for b in range(bands):
        cols = [F.element_at("sig", b * rows + j + 1) for j in range(rows)]
        out.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket")))
    return sig.select("id", F.explode(F.array(*out)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b) pairs colliding in >= 1 LSH band.  With b=16, r=4 the
    collision curve crosses ~0.5 Jaccard — high recall at 0.8."""
    sig = minhash_signatures(docs, num_perm, k, id_col, text_col)
    bk = minhash_band_buckets(sig, bands, rows)
    a = bk.select(F.col("id").alias("doc_a"), "band", "bucket")
    b = bk.select(F.col("id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — the scalable near-dup
    join: candidate generation O(docs x bands), verification only on
    collisions.

    Verification joins the candidate pairs (small) against the per-doc
    shingle-hash sets and computes |A∩B| with ``array_intersect`` — a
    per-pair array op instead of re-exploding the corpus into a
    (pair, shingle) join.  Jaccard here is over hashed shingles; a 64-bit
    collision between two distinct shingles of the same doc pair is the
    only divergence from string-set Jaccard (probability ~n²/2⁶⁴ — nil)."""
    # One pass computes the shingle-hash sets; persist shares it between
    # signature building and both sides of the verification join (Catalyst
    # does not dedupe repeated subtrees — without this the corpus is
    # re-scanned and re-shingled three times).  A caller running several
    # phases over the SAME docs (the streaming handler: classify, screen,
    # within, append) passes hs_df/sig_df to share ONE shingling/signing
    # pass across all of them — the caller owns that frame's lifecycle.
    owned = hs_df is None
    if owned:
        hs_df = shingle_hash_sets(docs, k, id_col, text_col).persist()
    sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col, hs_df=hs_df)
    )
    bk = minhash_band_buckets(sig)
    ca = bk.select(F.col("id").alias("doc_a"), "band", "bucket")
    cb = bk.select(F.col("id").alias("doc_b"), "band", "bucket")
    cand = (
        ca.join(cb, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = hs_df.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = hs_df.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    result = (
        cand.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Materialize the (small) surviving-pair set, then release the cached
    # shingle sets — otherwise every invocation leaks persisted partitions
    # for the session lifetime (bench loops this query).
    result = result.localCheckpoint(eager=True)
    if owned:
        hs_df.unpersist(blocking=False)
    return result


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash long): 64-bit SimHash over whitespace tokens.  Bit j of
    the sketch = sign of sum over tokens of (+1 if bit j of xxhash64(token)
    else -1).  All codegen expressions: explode, 64 conditional sums, bit
    reassembly."""
    toks = docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    h = F.xxhash64(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    per_doc = toks.groupBy("id").agg(*aggs)
    bits = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return per_doc.select("id", bits.alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming <= max_hamming.  Pigeonhole
    banding: distance <= 3 implies one of the four 16-bit quarters matches
    exactly, so candidates come from 4 bucket-equijoins, then the true
    Hamming distance filters."""
    sh = simhash64(docs, id_col, text_col)
    quarters = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("simhash", q * 16).bitwiseAND(F.lit(0xFFFF)).alias("qv"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("id", "simhash", F.col("qq.q").alias("q"), F.col("qq.qv").alias("qv"))
    a = quarters.select(F.col("id").alias("doc_a"), F.col("simhash").alias("sh_a"), "q", "qv")
    b = quarters.select(F.col("id").alias("doc_b"), F.col("simhash").alias("sh_b"), "q", "qv")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, on=["q", "qv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    docs: DataFrame, threshold: float, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT n-gram CONTAINMENT join: (doc_a, doc_b, containment) with
    |shingles(a) ∩ shingles(b)| / min(|a|, |b|) >= threshold, doc_a <
    doc_b.  Containment catches doc-IN-doc duplication (a quote, a
    boilerplate wrapper, a page embedding another) that Jaccard misses:
    a small doc fully contained in a large one has high containment but
    low Jaccard because the union is dominated by the large doc.

    PREFIX-FILTERED set-similarity join (the SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 — public literature):
    the naive every-shared-shingle equijoin fans out quadratically on hot
    shingles (stopword trigrams collide every doc with every doc — 31 s
    at sf0.1, unbounded at 100 TB).  Instead, order each doc's shingles
    by GLOBAL RARITY (document frequency ascending); if wlog |A| <= |B|
    and C(A,B) >= t then fewer than (1-t)·|A| of A's shingles miss B, so
    by pigeonhole A's first floor((1-t)·|A|)+1 rarest shingles must hit
    B — candidates = prefix(doc) equijoined against ALL shingles, run
    symmetrically so whichever side is smaller generates the pair.  Total
    recall by construction (EXACT, not probabilistic), and the join's
    fan-out rides the rare tail of the shingle DF distribution instead
    of its hot head.  Verification intersects the two docs' hashed
    shingle ARRAYS (codegen array_intersect) only for surviving candidate
    pairs.  Shingles are xxhash64 longs throughout — the exchange never
    carries token strings, and |hashed set| == |string set| absent a
    64-bit collision (the minhash gate's standing argument), so the
    containment values are bit-identical to the string-set oracle."""
    sets = shingle_hash_sets(docs, k, id_col, text_col)
    ex = sets.select("id", F.explode("hs").alias("h"))
    docfreq = ex.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "h")
    ranked = ex.join(docfreq, on="h").select(
        "id",
        "h",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    # prefix = misses+1 = n - ceil(t*n) + 1, computed ceil-side with an
    # epsilon guard (round 14 review): the floor((1-t)*n)+1 form is
    # equal in exact arithmetic but float-poisoned — 1.0-0.9 is
    # 0.09999999999999998, so at t=0.9, n=10 it yielded prefix 1 where
    # the pigeonhole bound needs 2, silently dropping exact-boundary
    # pairs from an operator documented as total-recall.  The 1e-9
    # slack only ever treats t*n sitting within noise of an integer AS
    # that integer, i.e. it can only LENGTHEN the prefix (recall-safe;
    # at most one extra candidate shingle per doc).
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
        + 1
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        F.col("id").alias("id_p"), "h"
    )
    cand = (
        prefix.join(ex.select(F.col("id").alias("id_f"), "h"), on="h")
        .filter(F.col("id_p") != F.col("id_f"))
        .select(
            F.least("id_p", "id_f").alias("doc_a"),
            F.greatest("id_p", "id_f").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / F.least(F.size("hs_a"), F.size("hs_b")).cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def substring_dup_pairs(
    docs: DataFrame, k: int = 20, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """EXACT k-token substring duplication: (doc_a, doc_b,
    n_shared_windows, frac_milli) for every pair sharing at least one
    exact k-token window — the exact-substring dedup criterion of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022; their suffix-array k=50 criterion, here as the equivalent
    sliding-window-hash formulation).  frac_milli = permille of the
    smaller doc's windows that appear in the other doc.

    Plan: the doc's distinct k-window xxhash64 set (the slice+zip
    shingler at k) exploded and self-equijoined on the hash.  Unlike
    3-gram shingles, k-token windows are almost all globally unique, so
    the equijoin's fan-out IS the duplication signal — no hot-key
    mitigation needed; the exchange carries (id, long).  At 100 TB this
    is the standard map-side-hash + shuffle-on-fingerprint sweep, cost
    linear in total tokens."""
    sets = shingle_hash_sets(docs, k, id_col, text_col)
    sizes = sets.select("id", F.size("hs").alias("n"))
    ex = sets.select("id", F.explode("hs").alias("h"))
    a = ex.select(F.col("id").alias("doc_a"), "h")
    b = ex.select(F.col("id").alias("doc_b"), "h")
    shared = (
        a.join(b, on="h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
    na = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        shared.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_windows",
            F.expr("(1000 * n_shared_windows) DIV least(na, nb)").alias("frac_milli"),
        )
    )


# -- round 7: cross-snapshot incremental dedup -----------------------------


def minhash_index_build(
    docs: DataFrame,
    table_prefix: str,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> int:
    """Persist a MinHash dedup INDEX for a corpus snapshot, so later
    batches dedup against it at DELTA cost (the nightly production run:
    "which of tonight's documents already exist in the 100 TB corpus?"
    — the streaming gate covers within-stream dedup only; this is the
    cross-snapshot half).  Returns the published GENERATION number.

    Two BUCKETED tables per generation (bucketing.write_bucketed under
    bucketing.index_gen_prefix naming — round 12 applies the IVF
    index's generation-versioned read discipline here, closing the
    r11 verdict's item 5 snapshot-less-rewrite reader class: a rebuild
    writes a brand-new generation's tables and publishes one marker,
    NEVER touching the tables a concurrent lazy reader resolved):

    - ``<prefix>__gN_bands``: (id, bkey) where bkey = xxhash64(band,
      bucket) folds the band id into the bucket hash so the candidate
      join needs ONE key — bucketed on bkey, the index side of every
      future candidate join is read CO-LOCATED, zero Exchange.
    - ``<prefix>__gN_shingles``: (id, hs) the shingle-hash sets,
      bucketed on id — the verification join reads the old side
      co-located too.

    Build cost is the corpus's one shingling pass + two bucketed
    writes; each incremental batch then shuffles only ITSELF.  The
    64-bit band-fold collision argument is the minhash gates' standing
    one (~pairs^2/2^64 — nil)."""
    from ..sinks import _hadoop_fs, claim_marker
    from .bucketing import (
        index_gen_prefix,
        index_generations,
        index_publish_generation,
        write_bucketed,
    )

    # Two racing nightly rebuilds would both believe they own the next
    # generation number — same atomic claim discipline as
    # sinks.replace_table (one builder wins, the loser raises
    # ConcurrentCommitError loudly; a crashed builder's marker names
    # itself).  The claim spans the whole build and is released ONLY on
    # success: a build that dies between the two write_bucketed calls
    # leaves the marker behind, so the next builder fails loudly and
    # the operator can clear the orphaned claim (the UNPUBLISHED
    # generation tables are overwrite-cleaned by the rerun — no marker
    # was ever created for them, so no reader can resolve them).
    # Readers never check this claim when a published generation
    # exists: published generations are immutable, so a mid-rebuild
    # read is safe by layout (it binds the previous generation).
    spark = docs.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"minhash_index_build({table_prefix})")
    gens = index_generations(spark, table_prefix)
    gen = (gens[-1] if gens else 0) + 1
    gp = index_gen_prefix(table_prefix, gen)
    # hs_df/sig_df: share one shingling/signing pass when the caller
    # runs several phases over the same corpus (minhash_dedup_pairs has
    # the full note); the caller owns a provided frame's lifecycle
    owned = hs_df is None
    hs = shingle_hash_sets(docs, k, id_col, text_col).persist() if owned else hs_df
    try:
        sig = (
            sig_df
            if sig_df is not None
            else minhash_signatures(docs, num_perm, k, id_col, text_col, hs_df=hs)
        )
        bk = minhash_band_buckets(sig, bands, rows)
        bkeyed = bk.select(
            "id", F.xxhash64(F.col("band"), F.col("bucket")).alias("bkey")
        )
        write_bucketed(bkeyed, f"{gp}_bands", key="bkey", n_buckets=n_buckets)
        write_bucketed(hs, f"{gp}_shingles", key="id", n_buckets=n_buckets)
    finally:
        # the persist must not outlive the build on ANY exit path; the
        # claim marker, by contrast, is released ONLY on success (a
        # half-built generation must stay unpublished AND the claim
        # must keep naming its dead builder) — see docstring
        if owned:
            hs.unpersist()
    # record the build parameters on disk BEFORE the publish (round 14
    # review) so readers/appends can validate theirs — see
    # MINHASH_PARAMS_FILE
    _record_minhash_params(spark, gp, num_perm, bands, rows, k)
    # publish THEN release the claim: the marker create is the atomic
    # commit point (claim_marker O_EXCL — under our build claim it
    # cannot collide; failing here leaves the claim as the loud wedge)
    index_publish_generation(
        spark, table_prefix, gen, f"minhash_index_build({table_prefix})"
    )
    fs.delete(jpath(claim), False)
    return gen


def _index_claim(warehouse: str, table_prefix: str) -> str:
    return f"{warehouse.rstrip('/')}/_{table_prefix}__index_build__"


# On-disk record of the minhash index's BUILD PARAMETERS (round 14
# review): the LSH index persists its sizing in {prefix}_meta because "a
# delta bucketed under different parameters would silently miss every
# candidate" — the identical hazard was open in this index (build with
# non-default num_perm/bands/rows/k, read or append with defaults: the
# bkey spaces differ and every probe join returns zero candidates, no
# error anywhere).  The record is a JSON sidecar in the generation's
# shingle-table directory (the _BUCKET_SPEC pattern — invisible to
# scans, crash-atomic publish); readers and appends VALIDATE their
# caller-supplied parameters against it and refuse loudly on mismatch.
# Generations written before the sidecar existed keep the old
# caller-trusting behavior (read_json_sidecar returns None).
MINHASH_PARAMS_FILE = "_MINHASH_PARAMS"


def _minhash_params_location(spark, gp: str) -> str:
    from .bucketing import warehouse_location

    return warehouse_location(spark, f"{gp}_shingles")


def _record_minhash_params(
    spark, gp: str, num_perm: int, bands: int, rows: int, k: int
) -> None:
    from .bucketing import write_json_sidecar

    write_json_sidecar(
        spark, _minhash_params_location(spark, gp), MINHASH_PARAMS_FILE,
        {"num_perm": num_perm, "bands": bands, "rows": rows, "k": k},
    )


def _check_minhash_params(
    spark, gp: str, who: str, num_perm: int, bands: int, rows: int, k: int
) -> None:
    from .bucketing import read_json_sidecar

    rec = read_json_sidecar(
        spark, _minhash_params_location(spark, gp), MINHASH_PARAMS_FILE
    )
    if rec is None:
        return  # pre-sidecar generation: caller-trusting legacy behavior
    got = {"num_perm": num_perm, "bands": bands, "rows": rows, "k": k}
    if {key: int(v) for key, v in rec.items()} != got:
        raise ValueError(
            f"{who}: caller parameters {got} contradict the index's "
            f"recorded build parameters {rec} — the band-bucket keys "
            "live in a different space, so every probe join would "
            "silently return zero candidates (or an append would "
            "publish a segment keyed in a foreign space); pass the "
            "recorded parameters"
        )


# Appended-rows / base-rows ratio at which an append recommends a full
# rebuild (minhash_index_build publishes the next generation).  Unlike the
# IVF index there is no quantizer to drift — signatures are per-document —
# so the trigger tracks the OTHER append cost: every published segment
# widens each incremental read's plan by one co-located probe join.
MINHASH_RETRAIN_FRAC = 0.5

# Segment-COUNT half of the trigger (the 1000x reflection): a year of
# tiny nightly appends could stay under the row-fraction trigger forever
# while growing the per-read plan to hundreds of probe joins and
# shuffling the delta batch once per segment.  Crossing this count flips
# retrain_due regardless of rows — the rebuild folds every segment back
# into one base.
MINHASH_MAX_SEGMENTS = 16


def minhash_index_append(
    new_docs: DataFrame,
    table_prefix: str,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    retrain_frac: float = MINHASH_RETRAIN_FRAC,
    max_segments: int = MINHASH_MAX_SEGMENTS,
    check_duplicate_ids: bool = True,
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
    hs_rows: int | None = None,
) -> dict:
    """INCREMENTAL minhash-index maintenance (round 12, late — the
    banked handoff candidate e, the lifecycle counterpart of
    :func:`ivf_append` for the text index): shingle + sign ONLY the
    delta batch and publish it as the resolved generation's next append
    SEGMENT — a brand-new pair of immutable bucketed tables
    (``bucketing.index_seg_prefix`` naming) plus one atomically-created
    segment marker.  Work is sized by the delta; the corpus is never
    re-shingled (previously the only way to grow the index was a
    full-corpus ``minhash_index_build`` rebuild).

    Semantics: a minhash signature depends only on its own document's
    text, so base ∪ segments indexes EXACTLY what one build over the
    union would index (pytest-pinned: append vs union-build, identical
    incremental pairs).  That per-document independence is also why
    appends here get the STRONGER isolation the IVF append cannot
    offer: nothing needs to mutate in place, so a published segment is
    immutable, readers resolve (generation, published segments) once
    (see :func:`incremental_dedup_pairs`), and an in-flight append is
    invisible until its marker lands — snapshot isolation by layout,
    no append-quiescence caveat.

    What appends cannot do is shrink the per-read plan: every segment
    adds one co-located probe join to each future incremental read.
    That is the REBUILD TRIGGER, recorded in the returned audit, and it
    is TWO-SIDED: appended_rows / base_rows >= ``retrain_frac`` OR
    n_segments >= ``max_segments`` flips ``retrain_due`` (the count
    side is the 1000x guard — a year of tiny nightly appends stays
    under any row fraction while growing the per-read plan to hundreds
    of probe joins) — the maintenance step is a full
    :func:`minhash_index_build` over the union corpus, which publishes
    the next GENERATION (atomic marker, concurrent readers keep their
    resolved generation) and resets the segment count to zero.
    :func:`minhash_index_status` recomputes the same audit from disk in
    a fresh session — the ledger is the layout itself, no sidecar.

    Concurrency: appends take the SAME build claim as
    ``minhash_index_build`` (builds, rebuilds and appends all
    serialize; one loud O_EXCL winner).  Everything before the first
    write releases the claim on failure (an untouched index must not
    wedge); once the segment tables start writing, the claim is
    success-only, and the segment marker create is the atomic commit
    point — a dead appender leaves unpublished tables no reader can
    resolve, plus the claim as the loud wedge.

    Append means NEW ids (same contract and default slim semi-join
    check as ``ivf_append``): a re-ingested id would collide with its
    base/segment copy in every future candidate join; replacing a
    document is a rebuild, not an append.  The delta's OWN ids are
    checked for internal duplicates too.  Refuses on the legacy flat
    layout (generation 0) — segments are a generation-layout feature;
    rebuild once to adopt it.

    Ledger semantics: ``batch_rows`` (and the base/appended counts it
    accumulates into) count INDEXABLE documents — those with >= k
    tokens; a shorter document produces no shingles, never enters the
    shingle store, and matches nothing at any threshold, exactly as in
    the one-shot operators."""
    from ..sinks import _hadoop_fs, claim_marker
    from .bucketing import (
        index_gen_prefix,
        index_generations,
        index_publish_segment,
        index_seg_prefix,
        index_segments,
        write_bucketed,
    )

    spark = new_docs.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"minhash_index_append({table_prefix})")
    # PRE-MUTATION SECTION (mirrors ivf_append): failures here release
    # the claim and re-raise — the index is untouched and valid, and
    # "rerun the append" would fail identically forever behind a wedge.
    owned = hs_df is None
    hs = None
    try:
        gens = index_generations(spark, table_prefix)
        if not gens:
            raise FileNotFoundError(
                f"minhash_index_append({table_prefix}): no published "
                "generation to append to — build the index first "
                "(minhash_index_build); the legacy flat layout predates "
                "segments and must be rebuilt once to adopt them."
            )
        gen = gens[-1]
        segs = index_segments(spark, table_prefix, gen)
        seg = (segs[-1] if segs else 0) + 1
        gp = index_gen_prefix(table_prefix, gen)
        parts = [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]
        # a mismatched-parameter segment would be keyed in a foreign
        # bkey space, silently poisoning recall — validate against the
        # generation's recorded build parameters (round 14 review)
        _check_minhash_params(
            spark, gp, f"minhash_index_append({table_prefix})",
            num_perm=num_perm, bands=bands, rows=rows, k=k,
        )
        # internal-duplicate check BEFORE shingling: shingle_hash_sets
        # groups by id, so two delta rows sharing an id would silently
        # MERGE their shingle sets into one indexed document — check the
        # raw input (round 15: ONE fused aggregation on a slim
        # projection, guide §1.2 — was two separate delta passes)
        from .bucketing import count_and_distinct

        n_input, n_ids = count_and_distinct(new_docs, id_col)
        if n_ids != n_input:
            raise ValueError(
                f"minhash_index_append({table_prefix}): delta batch has "
                f"{n_input - n_ids} internally duplicated {id_col} "
                "value(s) — ids must be unique (shingling would merge "
                "their texts into one indexed document)"
            )
        # hs_df/sig_df: share one shingling/signing pass when the caller
        # runs several phases over the same batch (minhash_dedup_pairs
        # has the full note); caller owns a provided frame's lifecycle
        hs = (
            shingle_hash_sets(new_docs, k, id_col, text_col).persist()
            if owned
            else hs_df
        )
        # hs_rows (round 16, guide §1.2): a caller that already counted
        # the SAME pinned hs frame (the streaming handler's indexable
        # guard runs hs.count() per batch) passes it and this job is
        # skipped — identical value by construction.  Without hs_df the
        # frame is this function's own, so a passed count is ignored
        batch_rows = hs.count() if owned or hs_rows is None else int(hs_rows)
        if check_duplicate_ids:
            # one slim semi-join per part against the 2-column shingle
            # store's id column; a hit refuses BEFORE any mutation.
            # Cross-session seam (round 14 review): a part published by
            # another session since this one attached must auto-attach
            # here, not die on TABLE_OR_VIEW_NOT_FOUND
            from functools import reduce

            from .bucketing import ensure_attached

            for p in parts:
                ensure_attached(
                    spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id",
                    INDEX_N_BUCKETS,
                )
            existing = reduce(
                DataFrame.unionByName,
                [spark.table(f"{p}_shingles").select("id") for p in parts],
            )
            n_dup = hs.select("id").join(existing, "id", "left_semi").count()
            if n_dup:
                raise ValueError(
                    f"minhash_index_append({table_prefix}): {n_dup} delta "
                    f"id(s) already indexed in generation {gen} — append "
                    "means new ids; replacing documents is a rebuild "
                    "(minhash_index_build), not an append. Pass "
                    "check_duplicate_ids=False only if disjointness is "
                    "guaranteed upstream."
                )
    except BaseException:
        # release discipline (round 14 review): EVERY pre-mutation
        # failure after the persist — not just the duplicate refusal —
        # must unpersist an owned hs, or each retried append strands
        # one cached delta's shingle sets for the session lifetime
        if owned and hs is not None:
            hs.unpersist()
        fs.delete(jpath(claim), False)
        raise
    # MUTATION SECTION: claim is success-only from here (docstring).
    sp = index_seg_prefix(table_prefix, gen, seg)
    try:
        sig = (
            sig_df
            if sig_df is not None
            else minhash_signatures(new_docs, num_perm, k, id_col, text_col, hs_df=hs)
        )
        bk = minhash_band_buckets(sig, bands, rows)
        bkeyed = bk.select(
            "id", F.xxhash64(F.col("band"), F.col("bucket")).alias("bkey")
        )
        write_bucketed(bkeyed, f"{sp}_bands", key="bkey", n_buckets=n_buckets)
        write_bucketed(hs, f"{sp}_shingles", key="id", n_buckets=n_buckets)
    finally:
        if owned:
            hs.unpersist()
    index_publish_segment(
        spark, table_prefix, gen, seg, f"minhash_index_append({table_prefix})"
    )
    fs.delete(jpath(claim), False)
    # retrain ledger — recomputed from the (cheap, slim) shingle-store
    # row counts so a fresh session's minhash_index_status agrees; the
    # parts attach unconditionally here (the dup-check loop above only
    # runs under check_duplicate_ids)
    from .bucketing import ensure_attached

    for p in parts:
        ensure_attached(
            spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id", INDEX_N_BUCKETS
        )
    # ledger counts in ONE job (round 15, guide §1.2): was one count()
    # job per part — a union tagged by part index aggregates them all
    from functools import reduce as _reduce

    _tagged = _reduce(
        DataFrame.unionByName,
        [spark.table(f"{gp}_shingles").select(F.lit(0).alias("_pi"))]
        + [
            spark.table(
                f"{index_seg_prefix(table_prefix, gen, s)}_shingles"
            ).select(F.lit(int(s)).alias("_pi"))
            for s in segs
        ],
    )
    _cnt = {
        int(r["_pi"]): int(r["c"])
        for r in _tagged.groupBy("_pi").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base_rows = _cnt.get(0, 0)
    prior_rows = sum(_cnt.get(int(s), 0) for s in segs)
    appended_rows = prior_rows + batch_rows
    frac = appended_rows / base_rows if base_rows else float("inf")
    n_segments = len(segs) + 1
    return {
        "generation": gen,
        "segment": seg,
        "n_segments": n_segments,
        "batch_rows": batch_rows,
        "base_rows": base_rows,
        "appended_rows": appended_rows,
        "appended_frac": frac,
        "retrain_due": bool(frac >= retrain_frac or n_segments >= max_segments),
    }


def minhash_index_compact(spark, table_prefix: str, n_buckets: int = 16) -> dict:
    """Fold a generation's published append SEGMENTS back into one base
    WITHOUT a retrain (round 13 — the r12 verdict's item 5): publish the
    next generation whose tables are the pure UNION of the resolved
    generation's base + segment tables.  Signatures are PER-DOCUMENT
    (the same independence argument that made appends exact), so the
    compacted generation indexes bit-identically what the wide one did —
    no shingling, no signing, no semantics change; the cost is one
    IO-bound rewrite of the generation's two slim tables.

    Why this exists: the segment-count arm of the retrain trigger
    (``MINHASH_MAX_SEGMENTS``) guards per-read PLAN WIDTH — every
    segment adds one co-located probe join and one delta shuffle to
    each incremental read.  Servicing that arm previously required a
    full ``minhash_index_build`` over the union corpus, re-paying the
    shingle/sign compute the index exists to amortize.  Compaction
    resets the plan width at union-rewrite cost instead; and since a
    minhash index has NO frozen sizing parameters to outgrow (unlike
    the LSH planes / IVF quantizer), compaction fully services BOTH
    trigger arms — a minhash index never needs a semantic rebuild.

    Commit discipline: runs under the index's build claim (serializing
    with builds and appends), stages unpublished gen-N+1 tables, and
    publishes with one atomic marker create.  Failure at ANY point
    leaves the resolved generation fully intact and answering, so the
    claim is released on every exit path (the ivf_retrain_swap
    semantics, not the append's success-only rule — there is no
    half-mutated state a wedge would be guarding).  The source
    generation stays published for pinned readers; reclaim it with
    :func:`minhash_index_vacuum`."""
    from functools import reduce

    from ..sinks import _hadoop_fs, claim_marker
    from .bucketing import (
        ensure_attached,
        index_gen_prefix,
        index_generations,
        index_publish_generation,
        index_seg_prefix,
        index_segments,
        write_bucketed,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    claim = _index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, f"minhash_index_compact({table_prefix})")
    try:
        gens = index_generations(spark, table_prefix)
        if not gens:
            raise FileNotFoundError(
                f"minhash_index_compact({table_prefix}): no published "
                "generation — compaction folds append segments, and the "
                "legacy flat layout has none; build first "
                "(minhash_index_build)."
            )
        gen = gens[-1]
        segs = index_segments(spark, table_prefix, gen)
        if not segs:
            raise ValueError(
                f"minhash_index_compact({table_prefix}): generation "
                f"{gen} has no published append segments — nothing to "
                "compact (a no-op rewrite would only churn storage)."
            )
        parts = [index_gen_prefix(table_prefix, gen)] + [
            index_seg_prefix(table_prefix, gen, s) for s in segs
        ]
        for p in parts:
            ensure_attached(
                spark, f"{p}_bands", INDEX_BANDS_DDL, "bkey", INDEX_N_BUCKETS
            )
            ensure_attached(
                spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id", INDEX_N_BUCKETS
            )
        new_gen = gen + 1
        np_ = index_gen_prefix(table_prefix, new_gen)
        bands = reduce(
            DataFrame.unionByName,
            [spark.table(f"{p}_bands").select("id", "bkey") for p in parts],
        )
        write_bucketed(bands, f"{np_}_bands", key="bkey", n_buckets=n_buckets)
        shingles = reduce(
            DataFrame.unionByName,
            [spark.table(f"{p}_shingles").select("id", "hs") for p in parts],
        )
        write_bucketed(shingles, f"{np_}_shingles", key="id", n_buckets=n_buckets)
        # carry the recorded build parameters to the new generation
        # VERBATIM (round 14 review) — compaction changes layout, never
        # the bkey space, so the contract travels with the fold
        from .bucketing import read_json_sidecar, write_json_sidecar

        rec = read_json_sidecar(
            spark, _minhash_params_location(spark, parts[0]), MINHASH_PARAMS_FILE
        )
        if rec is not None:
            write_json_sidecar(
                spark, _minhash_params_location(spark, np_),
                MINHASH_PARAMS_FILE, rec,
            )
        index_publish_generation(
            spark, table_prefix, new_gen, f"minhash_index_compact({table_prefix})"
        )
        return {
            "generation": new_gen,
            "from_generation": gen,
            "compacted_segments": segs,
            "rows": spark.table(f"{np_}_shingles").count(),
        }
    finally:
        fs.delete(jpath(claim), False)


def minhash_index_status(
    spark,
    table_prefix: str,
    retrain_frac: float = MINHASH_RETRAIN_FRAC,
    max_segments: int = MINHASH_MAX_SEGMENTS,
) -> dict:
    """The append/rebuild maintenance ledger of a persisted minhash
    index, recomputed FROM DISK (markers + shingle-store row counts) so
    a restarted nightly driver needs no sidecar state: resolved
    generation, its published segments, base/appended row counts, and
    whether the appended fraction has crossed ``retrain_frac`` (the
    cue to run a full ``minhash_index_build`` rebuild, which publishes
    the next generation).  Generation 0 (legacy flat layout) reports
    zero segments — appends refuse there."""
    from .bucketing import (
        index_gen_prefix,
        index_resolve,
        index_seg_prefix,
        index_segments,
    )

    gen = index_resolve(spark, table_prefix)
    segs = index_segments(spark, table_prefix, gen) if gen else []
    gp = index_gen_prefix(table_prefix, gen)
    # cross-session seam (round 14 review): "recomputed FROM DISK"
    # must hold for parts other sessions published too
    from .bucketing import ensure_attached

    if gen:
        for p in [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]:
            ensure_attached(
                spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id",
                INDEX_N_BUCKETS,
            )
    # per-part counts in ONE job (round 15, guide §1.2 — the append
    # ledger's tagged-union fuse applied to the status recompute)
    from functools import reduce as _reduce

    _tagged = _reduce(
        DataFrame.unionByName,
        [spark.table(f"{gp}_shingles").select(F.lit(0).alias("_pi"))]
        + [
            spark.table(
                f"{index_seg_prefix(table_prefix, gen, s)}_shingles"
            ).select(F.lit(int(s)).alias("_pi"))
            for s in segs
        ],
    )
    _cnt = {
        int(r["_pi"]): int(r["c"])
        for r in _tagged.groupBy("_pi").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base_rows = _cnt.get(0, 0)
    appended_rows = sum(_cnt.get(int(s), 0) for s in segs)
    frac = appended_rows / base_rows if base_rows else float("inf")
    return {
        "generation": gen,
        "segments": segs,
        "base_rows": base_rows,
        "appended_rows": appended_rows,
        "appended_frac": frac,
        "retrain_due": bool(
            appended_rows
            and (frac >= retrain_frac or len(segs) >= max_segments)
        ),
    }


def incremental_dedup_pairs(
    new_docs: DataFrame,
    table_prefix: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
    generation: int | None = None,
    as_of_segment: int | None = None,
    hs_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """(old_id, new_id, jaccard) pairs between a NEW batch and the
    indexed corpus snapshot, at Jaccard >= ``threshold``.

    Exactly equivalent to running :func:`minhash_dedup_pairs` over
    old ∪ new and keeping the cross pairs (pytest-pinned set equality):
    a document's signature — hence its band buckets — depends only on
    its own text, so the candidate collision set decomposes exactly,
    and verification re-scores with the same array_intersect Jaccard
    over the same shingle sets.

    Scale shape: the batch shingles/signs itself (delta-sized), the
    candidate join shuffles ONLY the batch's (id, bkey) rows into the
    index's bucket layout (the index scan reports its distribution —
    no Exchange on the corpus side), and verification joins the slim
    candidate ids against the bucketed shingle store the same way.
    Re-ingested identical ids are excluded (old_id != new_id).

    The read binds to ONE resolved index generation (newest published,
    or an explicit ``generation`` pin; see bucketing.index_resolve) —
    published generations are immutable, so a nightly rebuild racing
    this read cannot change what it scans (round 12; previously a
    rebuild rewrote the tables in place under any lazy reader).  Only
    the pre-generation FLAT layout (generation 0) still refuses to
    read under a standing build claim: flat tables were rewritten in
    place, so a dead mid-rewrite builder means a possibly mismatched
    bands/shingles snapshot.

    Round 12, late: the resolved generation's published APPEND SEGMENTS
    (:func:`minhash_index_append`) are part of the snapshot — resolved
    ONCE, alongside the generation, as the list of published segment
    markers.  The probe joins run PER PART (base + each segment), each
    one co-located against that part's bucketed layout with only the
    delta-sized batch shuffling, and union; a racing append is
    invisible (its marker lands after our resolve), so the plan is
    snapshot-isolated against appends too — by layout, no quiescence
    check.  ``as_of_segment`` pins the segment horizon: 0 = base only,
    N = segments <= N (the within-generation time-travel pin, same
    explicit-never-fallback contract as the generation pin)."""
    from ..sinks import ConcurrentCommitError, _hadoop_fs
    from .bucketing import index_gen_prefix, index_resolve

    spark = new_docs.sparkSession
    gen = index_resolve(spark, table_prefix, generation)
    if gen == 0:
        # legacy flat layout: in-place rewrites existed, claim = doubt
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        claim = _index_claim(warehouse, table_prefix)
        if fs.exists(jpath(claim)):
            raise ConcurrentCommitError(
                f"incremental_dedup_pairs({table_prefix}): index build "
                f"claim {claim} is held and no published generation "
                "exists — the flat-layout bands/shingles snapshot may be "
                "mismatched. Wait for the build, or rerun it if its "
                "builder is known dead."
            )
    from functools import reduce

    from .bucketing import index_seg_prefix, index_segments

    segs = index_segments(spark, table_prefix, gen) if gen else []
    if as_of_segment is not None:
        if as_of_segment != 0 and as_of_segment not in segs:
            raise FileNotFoundError(
                f"incremental_dedup_pairs({table_prefix}): segment "
                f"{as_of_segment} of generation {gen} not published "
                f"(have {segs or 'none'}) — segment pinning is explicit, "
                "never a silent fallback"
            )
        segs = [s for s in segs if s <= as_of_segment]
    gp = index_gen_prefix(table_prefix, gen)
    parts = [gp] + [index_seg_prefix(table_prefix, gen, s) for s in segs]
    # caller parameters must match the generation's recorded build
    # parameters or the probe joins return zero candidates silently
    # (round 14 review; pre-sidecar generations skip the check)
    _check_minhash_params(
        spark, gp, f"incremental_dedup_pairs({table_prefix})",
        num_perm=num_perm, bands=bands, rows=rows, k=k,
    )
    # cross-session seam: a segment published by ANOTHER session after
    # this one attached is in the marker listing but not this session's
    # catalog — attach any missing part before binding the plan
    from .bucketing import ensure_attached

    for p in parts:
        ensure_attached(spark, f"{p}_bands", INDEX_BANDS_DDL, "bkey", INDEX_N_BUCKETS)
        ensure_attached(
            spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id", INDEX_N_BUCKETS
        )
    # hs_df/sig_df: share one shingling/signing pass when the caller
    # runs several phases over the same batch (minhash_dedup_pairs has
    # the full note); the caller owns a provided frame's lifecycle
    owned = hs_df is None
    hs_new = (
        shingle_hash_sets(new_docs, k, id_col, text_col).persist()
        if owned
        else hs_df
    )
    sig = (
        sig_df
        if sig_df is not None
        else minhash_signatures(new_docs, num_perm, k, id_col, text_col, hs_df=hs_new)
    )
    nb = minhash_band_buckets(sig, bands, rows).select(
        F.col("id").alias("new_id"),
        F.xxhash64(F.col("band"), F.col("bucket")).alias("bkey"),
    )
    # one co-located probe join PER PART (the base tables + each append
    # segment — a part's ids are disjoint from every other's by the
    # append-time duplicate check, so the unions are exact): the index
    # side of each join reads its own bucket layout with zero Exchange;
    # only the delta-sized nb/cand sides shuffle, once per part
    cand = reduce(
        DataFrame.unionByName,
        [
            nb.join(
                spark.table(f"{p}_bands").select(
                    F.col("id").alias("old_id"), "bkey"
                ),
                "bkey",
            )
            for p in parts
        ],
    )
    cand = (
        cand.filter(F.col("old_id") != F.col("new_id"))
        .select("old_id", "new_id")
        .distinct()
    )
    # Persist the (delta-sized, slim) candidate set when the snapshot is
    # WIDE: the per-part VERIFICATION union below references it once per
    # part, and Catalyst does not dedupe repeated subtrees — uncached,
    # each verification branch re-executes the whole candidate union,
    # re-scanning every part's bands table (P parts -> P^2 scans; found
    # by the r13 compaction plan pin — 12 scans at 3 parts, 289 at the
    # 16-segment trigger ceiling).  Cached, the read is linear.  The
    # threshold exists because the cache is NOT free: at 1-2 parts the
    # materialization barrier costs more than AQE's exchange reuse
    # leaves on the table (measured r13: +3.5 s on the 2-part LSH gate,
    # zero win), so narrow snapshots keep the pipelined plan.
    cache_cand = len(parts) > 2
    if cache_cand:
        cand = cand.persist()
    inter = F.size(F.array_intersect("hs_old", "hs_new"))
    union = F.size("hs_old") + F.size("hs_new") - inter
    verified = reduce(
        DataFrame.unionByName,
        [
            cand.join(
                spark.table(f"{p}_shingles").select(
                    F.col("id").alias("old_id"), F.col("hs").alias("hs_old")
                ),
                "old_id",
            )
            for p in parts
        ],
    )
    result = (
        verified.join(
            hs_new.select(F.col("id").alias("new_id"), F.col("hs").alias("hs_new")),
            "new_id",
        )
        .select(
            "old_id",
            "new_id",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Same release discipline as minhash_dedup_pairs: materialize the
    # (small) surviving-pair set eagerly, then drop the cached batch
    # shingles — a nightly loop must not accumulate one cached delta per
    # run for the session lifetime.  ``materialize=False`` returns the
    # lazy plan instead (the cache stays held) — for plan inspection.
    if materialize:
        result = result.localCheckpoint(eager=True)
        if cache_cand:
            cand.unpersist(blocking=False)
        if owned:
            hs_new.unpersist(blocking=False)
    return result


# On-disk contract of the minhash index (see attach_bucketed: the
# re-attach spec must match the writing spec exactly).
INDEX_N_BUCKETS = 16
INDEX_BANDS_DDL = "id bigint, bkey bigint"
INDEX_SHINGLES_DDL = "id bigint, hs array<bigint>"


def minhash_index_attach(
    spark,
    table_prefix: str,
    n_buckets: int = INDEX_N_BUCKETS,
    generation: int | None = None,
) -> int:
    """Recover a persisted minhash index's catalog entries in a FRESH
    session (the restarted nightly driver): resolve the generation from
    the on-disk published markers (newest, or an explicit pin — 0 is
    the legacy flat layout and round-trips), then re-attach both
    bucketed tables over their existing warehouse directories so
    :func:`incremental_dedup_pairs` keeps its zero-index-shuffle plan.
    Returns the attached generation.  No data is read or written —
    catalog metadata only.  The generation's published append segments
    (:func:`minhash_index_append`) are re-attached alongside the base —
    they are part of the snapshot the reader binds to."""
    from .bucketing import (
        attach_bucketed,
        index_gen_prefix,
        index_resolve,
        index_seg_prefix,
        index_segments,
    )

    gen = index_resolve(spark, table_prefix, generation)
    parts = [index_gen_prefix(table_prefix, gen)] + [
        index_seg_prefix(table_prefix, gen, s)
        for s in (index_segments(spark, table_prefix, gen) if gen else [])
    ]
    for p in parts:
        attach_bucketed(spark, f"{p}_bands", INDEX_BANDS_DDL, "bkey", n_buckets)
        attach_bucketed(spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id", n_buckets)
    return gen


def minhash_index_vacuum(spark, table_prefix: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` published generations of
    a minhash index (marker first, then tables + files); returns the
    removed generation numbers.  The ONLY destroyer of a published
    generation — a reader still pinned to one fails loudly on its next
    scan, never silently reads a different snapshot."""
    from .bucketing import index_vacuum_generations

    return index_vacuum_generations(
        spark, table_prefix, ("_bands", "_shingles"), keep_last
    )
