"""Streaming exact dedup — the online twin of the batch dedup family
(operators/dedup.py): an at-least-once ingest feed (retries, replayed
batches) deduplicated on a key as it streams in.

``dropDuplicatesWithinWatermark`` is the scale-correct operator: the seen-
key state is dropped once the watermark passes the key's event time, so
state is bounded by (watermark window x key arrival rate) instead of
growing with the whole stream — the only viable shape for an unbounded
100 TB/day feed.  Plain ``dropDuplicates`` on a stream keeps every key
forever; use it only for bounded replays.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def exact_dedup_stream(
    events: DataFrame, key: str = "event_id", watermark: str = "24 hours"
) -> DataFrame:
    """Emit the FIRST arrival of each ``key``; duplicates arriving within
    the watermark window are dropped, state for older keys is reclaimed.
    Works on batch frames too (falls back to plain dropDuplicates
    semantics), which is how the oracle checks it."""
    if not events.isStreaming:
        return events.dropDuplicates([key])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


PAIRS_DDL = "doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE"


def incremental_minhash_dedup(
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch handler: ONLINE near-dup detection over a document
    stream — the incremental twin of ``minhash_dedup_pairs``
    (operators/dedup.py), for the ingest-time corpus-dedup a training
    pipeline runs continuously instead of as a nightly full-corpus join.

    Per micro-batch, only the NEW documents are shingled/signed (one pass
    over the batch, never the corpus), then:

    - candidates = batch band-buckets equijoined against the accumulated
      bucket INDEX (new-vs-old) plus a batch self-join (new-vs-new) — the
      same b=16/r=4 LSH collision logic as the batch operator, but the
      join's left side is one micro-batch, so per-batch cost is
      O(batch x bands + collisions), independent of corpus size;
    - candidates verify by exact Jaccard over stored shingle-hash sets
      (``array_intersect``, identical expression to the batch path);
    - surviving pairs append to ``pairs_dir``; the batch's buckets and
      hash sets append to ``index_dir`` AFTER the pairs write, so a
      mid-batch failure replays the batch and re-finds its pairs
      (at-least-once on the pairs sink — readers dedupe with
      ``distinct()``; values are deterministic so duplicates are exact).

    Every (a, b) pair is discovered exactly in the batch where the LATER
    member arrives (the index holds all earlier docs), so the final pair
    set equals the batch operator's output regardless of arrival order or
    batch boundaries — which is what lets the exact-Jaccard oracle check
    a genuinely streaming run.

    Scale note: the index is plain appended parquet here; at 100 TB the
    bucket index would live in a bucketed table (or Delta, Z-ordered on
    ``bucket``) so the new-vs-old equijoin prunes to colliding buckets
    instead of scanning the full index per batch — the join SHAPE (slim
    (id, band, bucket) rows, bucket equijoin, verify only collisions) is
    the same.
    """
    from ..operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        shingle_hash_sets,
    )

    buckets_dir = os.path.join(index_dir, "buckets")
    hs_dir = os.path.join(index_dir, "hs")

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        hs_new = shingle_hash_sets(batch, k, id_col, text_col).localCheckpoint(eager=True)
        sig = minhash_signatures(batch, k=k, id_col=id_col, text_col=text_col, hs_df=hs_new)
        bk_new = minhash_band_buckets(sig).localCheckpoint(eager=True)

        # existence probe through the Hadoop filesystem, NOT
        # os.path.isdir (round 14 review): a driver-local isdir on an
        # object-store/HDFS index_dir is always False, so the
        # accumulated index would never be consulted and every
        # cross-batch pair silently lost — the resolve-don't-assume
        # discipline every other probe in the engine follows
        from ..sinks import _hadoop_fs

        fs, jpath = _hadoop_fs(spark, buckets_dir)
        have_index = fs.exists(jpath(buckets_dir))
        new_a = bk_new.select(F.col("id").alias("doc_a"), "band", "bucket")
        new_b = bk_new.select(F.col("id").alias("doc_b"), "band", "bucket")
        # new-vs-new: within-batch collisions, ordered by id
        cand = (
            new_a.join(new_b, on=["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        hs_lookup = hs_new
        if have_index:
            bk_old = spark.read.parquet(buckets_dir)
            old = bk_old.select(F.col("id").alias("doc_old"), "band", "bucket")
            # new-vs-old: canonicalize with least/greatest (ids are disjoint
            # across distinct batches); the != guard drops the self-match a
            # REPLAYED batch makes against its own earlier index entries —
            # without it a retry emits (x, x, 1.0) self-pairs
            cross = (
                bk_new.select(F.col("id").alias("doc_new"), "band", "bucket")
                .join(old, on=["band", "bucket"])
                .filter(F.col("doc_new") != F.col("doc_old"))
                .select(
                    F.least("doc_new", "doc_old").alias("doc_a"),
                    F.greatest("doc_new", "doc_old").alias("doc_b"),
                )
            )
            cand = cand.unionByName(cross)
            # prefer the batch's fresh hs rows over any stored copy of
            # the same ids (a replayed batch that crashed between the
            # hs and buckets writes has its rows in BOTH) — broadcast
            # anti on the small batch id set, so the verify join never
            # sees the same id twice and its row count stays exact even
            # mid-replay
            hs_lookup = hs_new.unionByName(
                spark.read.parquet(hs_dir).join(
                    F.broadcast(hs_new.select("id")), on="id", how="left_anti"
                )
            )
        cand = cand.distinct()

        a = hs_lookup.select(F.col("id").alias("doc_a"), F.col("hs").alias("hs_a"))
        b = hs_lookup.select(F.col("id").alias("doc_b"), F.col("hs").alias("hs_b"))
        inter = F.size(F.array_intersect("hs_a", "hs_b"))
        union = F.size("hs_a") + F.size("hs_b") - inter
        pairs = (
            cand.join(a, on="doc_a")
            .join(b, on="doc_b")
            .select(
                F.col("doc_a").cast("long").alias("doc_a"),
                F.col("doc_b").cast("long").alias("doc_b"),
                (inter.cast("double") / union.cast("double")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        pairs.write.mode("append").parquet(pairs_dir)
        # index writes LAST (see at-least-once note above), hs BEFORE
        # buckets (round 14 review): ``have_index`` gates on
        # buckets_dir, so the LAST-written directory must be the gate —
        # a crash between the two writes then replays with
        # have_index=False, instead of the old order's permanent wedge
        # (gate true, hs_dir missing, PATH_NOT_FOUND on every
        # redelivery).  The hs append is IDEMPOTENT (ADVICE r14): a
        # crash-redelivered batch re-appended its hs rows verbatim, and
        # repeated crash cycles compounded — multiplying verify-join
        # rows for the affected ids in every future batch.  Ids already
        # present in hs_dir are dropped before the write (hs content is
        # deterministic per id, so the stored copy is identical); the
        # probe is two broadcast joins — batch ids broadcast against a
        # column-pruned id scan of hs_dir, collisions broadcast back —
        # never a corpus-side shuffle.
        if fs.exists(jpath(hs_dir)):
            collided = (
                spark.read.parquet(hs_dir)
                .select("id")
                .join(F.broadcast(hs_new.select("id")), on="id", how="semi")
            )
            hs_to_write = hs_new.join(
                F.broadcast(collided), on="id", how="left_anti"
            )
        else:
            hs_to_write = hs_new
        hs_to_write.write.mode("append").parquet(hs_dir)
        bk_new.write.mode("append").parquet(buckets_dir)

    return handle


EMB_PAIRS_DDL = "id_a BIGINT, id_b BIGINT, cosine DOUBLE"


def continuous_embedding_dedup(
    table_prefix: str,
    pairs_dir: str,
    threshold: float = 0.45,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch handler: continuous SEMANTIC near-dup detection over
    an embedding stream against the DURABLE decontamination index — the
    :func:`continuous_index_dedup` pattern applied to the THIRD
    persisted index, completing the streaming composition for all of
    them.  The first micro-batch bootstraps generation 1
    (lsh_index_build — plane parameters freeze at the bootstrap batch's
    sizing; smaller basis means coarser buckets, i.e. recall can only
    be HIGHER than full-corpus sizing, while the drift arm of the
    retrain trigger tracks growth past that recorded basis); every
    later batch (a) classifies itself against the snapshot's indexed
    ids BEFORE any write (all-new / fully-indexed replay / partial
    id-reuse refusal — the exact three-way contract of the minhash
    handler, same at-least-once argument), (b) screens itself against
    the index (decontaminate_incremental — cross pairs; the
    ``id_a != id_b`` filter drops the self-matches a replayed batch
    makes against its own indexed copy), (c) finds its within-batch
    pairs (cosine_lsh_pairs, batch-sized parameters with the same
    ``multiprobe=N_PLANES`` total-recall floor as the batch gate),
    appends both to ``pairs_dir`` canonicalized least/greatest, then
    (d) lands as the generation's next immutable append SEGMENT
    (lsh_index_append, frozen planes).

    Every (a, b) pair is discovered exactly once — in the batch where
    the later member arrives — so the accumulated distinct pair set
    equals exact all-pairs cosine over the whole corpus wherever the
    LSH candidate recall is total (the standing corpus-contingent
    contingency of dedup_embedding_cosine_pairs, pinned in pytest).
    Scale shape: per batch, one bucketing pass over the batch plus one
    co-located probe join per index part — the corpus is never
    rescanned; maintenance (compaction / retrain) applies between
    batches exactly as pinned for the minhash stream."""
    from functools import reduce as _reduce

    from ..operators.bucketing import (
        index_gen_prefix,
        index_generations,
        index_resolve,
        index_seg_prefix,
        index_segments,
    )
    from ..operators.similarity import (
        N_PLANES,
        cosine_lsh_pairs,
        decontaminate_incremental,
        lsh_index_append,
        lsh_index_build,
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)

        # ADVICE r13 (low): an EMPTY micro-batch is a no-op — the same
        # shape as the minhash handler's zero-indexable guard (an empty
        # batch could never classify as a replay under `n_batch > 0`,
        # so each crash-redelivery appended another empty segment, and
        # an empty FIRST batch would bootstrap a zero-row plane basis).
        # Round 15 (guide §1.2): count + distinct-count fused into one
        # aggregation job — two passes over the pinned batch become one.
        # Round 16 (guide §1.2): the WIDTH term rides the same
        # aggregation (identical expression to lsh_index_append's fused
        # validation — NULL size lands in otherwise(0)), so the append
        # can skip its own validation pass entirely (``precounted``).
        _vrow = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(id_col)).alias("d"),
            F.max(F.col(id_col).isNull().cast("int")).alias("has_null"),
            F.sum(
                F.when(F.size(F.col(vec_col)) != dim, 1).otherwise(0)
            ).alias("n_bad"),
        ).head()
        n_batch = int(_vrow["n"])
        n_ids = int(_vrow["d"]) + int(_vrow["has_null"] or 0)
        n_bad = int(_vrow["n_bad"] or 0)
        if n_batch == 0:
            return
        # internal duplicate ids refuse BEFORE any write, for EVERY
        # batch including the bootstrap (round 14 review):
        # lsh_index_build has no duplicate check — unlike
        # lsh_index_append, which refuses them on every later batch —
        # so a duplicated first batch would silently build a
        # generation that double-scores that vector in every screen,
        # permanently; and on later batches the append's own refusal
        # fires only after the pairs write (harmless but churny).
        if n_ids != n_batch:
            raise ValueError(
                f"continuous_embedding_dedup({table_prefix}): batch "
                f"{batch_id} has internally duplicated {id_col} values "
                "— the same vector would index and score twice. "
                "Nothing was written."
            )
        # n_rows=n_batch (round 15, guide §1.2): the auto-sizing inside
        # cosine_lsh_pairs and lsh_index_build would each re-count the
        # pinned batch — the count is already in hand and identical, so
        # the sizing (and therefore every result bit) is unchanged.
        # buckets_df (round 16, guide §4): BOTH bootstrap phases size
        # via the same lsh_params_for(n_batch, threshold,
        # min_multiprobe=N_PLANES) call, so their (n_planes, n_tables)
        # match by construction — ONE Arrow bucketing pass over the
        # pinned batch serves the within-batch pairs and the build
        # (buckets are a pure per-row function of the vector and those
        # parameters, so sharing is exact).
        from ..operators.similarity import lsh_params_for, with_lsh_buckets

        if not index_generations(spark, table_prefix):
            b_planes, b_tables, _bp, _ = lsh_params_for(
                n_batch, threshold, min_multiprobe=N_PLANES
            )
            boot_buckets = with_lsh_buckets(
                batch, dim, n_planes=b_planes, n_tables=b_tables,
                id_col=id_col, vec_col=vec_col,
            ).localCheckpoint(eager=True)
            cosine_lsh_pairs(
                batch, threshold, dim, id_col, vec_col, multiprobe=N_PLANES,
                n_rows=n_batch, buckets_df=boot_buckets,
            ).select(
                F.col("id_a").cast("long"),
                F.col("id_b").cast("long"),
                "cosine",
            ).write.mode("append").parquet(pairs_dir)
            lsh_index_build(
                batch, table_prefix, threshold=threshold, dim=dim,
                id_col=id_col, vec_col=vec_col, multiprobe=N_PLANES,
                n_rows=n_batch, buckets_df=boot_buckets,
            )
            return
        # classify BEFORE any write — the minhash handler's three cases
        gen = index_resolve(spark, table_prefix)
        parts = [index_gen_prefix(table_prefix, gen)] + [
            index_seg_prefix(table_prefix, gen, s)
            for s in index_segments(spark, table_prefix, gen)
        ]
        # cross-session seam (round 14 review): the classify step reads
        # the resolved parts BEFORE the screen call whose own
        # ensure_attached would self-heal them — a segment another
        # session (the nightly job this stream converges with)
        # published since this session attached would otherwise kill
        # the stream with TABLE_OR_VIEW_NOT_FOUND on every redelivery
        from ..operators.bucketing import ensure_attached
        from ..operators.similarity import (
            LSH_INDEX_N_BUCKETS,
            LSH_INDEX_VECTORS_DDL,
        )

        for p in parts:
            ensure_attached(
                spark, f"{p}_vectors", LSH_INDEX_VECTORS_DDL, "id",
                LSH_INDEX_N_BUCKETS,
            )
        existing = _reduce(
            DataFrame.unionByName,
            [spark.table(f"{p}_vectors").select("id") for p in parts],
        )
        n_in = (
            batch.select(F.col(id_col).alias("id"))
            .join(existing, "id", "left_semi")
            .count()
        )
        if 0 < n_in < n_batch:
            raise ValueError(
                f"continuous_embedding_dedup({table_prefix}): batch "
                f"{batch_id} has {n_in}/{n_batch} ids already indexed — "
                "id REUSE across batches, not a replay; stream ids must "
                "be unique. Nothing was written."
            )
        replay = n_in == n_batch  # n_batch > 0 guaranteed above
        # ONE Arrow bucketing pass per batch (round 16, guide §4 — the
        # minhash handler's hs_df/sig_df sharing applied to the
        # embedding boundary): the screen, the within-batch pairs and
        # the append each bucket the SAME pinned batch.  The screen and
        # append use the index's RECORDED (n_planes, n_tables) — read
        # once here from the generation's meta — and the within pass
        # auto-sizes from n_batch; whenever the two sizings coincide
        # (every batch at gate scale) all three phases share the one
        # pass, else the within pass recomputes its own.  Buckets are a
        # pure per-row function of (vector, dim, planes, tables), so
        # sharing is bit-exact.
        from ..operators.similarity import (
            _ensure_meta_attached,
            lsh_params_for,
            with_lsh_buckets,
        )

        _ensure_meta_attached(spark, parts[0])
        _meta = spark.table(f"{parts[0]}_meta").head()
        m_planes, m_tables, m_dim = (
            int(_meta["n_planes"]), int(_meta["n_tables"]), int(_meta["dim"]),
        )
        idx_buckets = None
        if m_dim == dim:
            idx_buckets = with_lsh_buckets(
                batch, dim, n_planes=m_planes, n_tables=m_tables,
                id_col=id_col, vec_col=vec_col,
            ).localCheckpoint(eager=True)
        w_planes, w_tables, _wp, _ = lsh_params_for(
            n_batch, threshold, min_multiprobe=N_PLANES
        )
        within_buckets = (
            idx_buckets if (w_planes, w_tables) == (m_planes, m_tables) else None
        )
        cross = (
            decontaminate_incremental(
                batch, table_prefix, id_col=id_col, vec_col=vec_col,
                generation=gen, buckets_df=idx_buckets,
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "cosine",
            )
        )
        within = cosine_lsh_pairs(
            batch, threshold, dim, id_col, vec_col, multiprobe=N_PLANES,
            n_rows=n_batch, buckets_df=within_buckets,
        ).select(
            F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cosine"
        )
        cross.unionByName(within).write.mode("append").parquet(pairs_dir)
        if not replay:
            # check_duplicate_ids=False (round 15, guide §1.2): the
            # classification above already semi-joined the batch's ids
            # against every part and proved ALL-NEW — the append's
            # index-side duplicate check would re-run the identical
            # join; the ivf handler's standing subsumption argument.
            # The append's INTERNAL duplicate check still runs.
            # SINGLE-WRITER ASSUMPTION (ADVICE r15): the classify ran
            # OUTSIDE the index claim, so a segment with overlapping ids
            # published by a concurrent writer between classify and
            # append is not re-checked inside the claim.  foreachBatch
            # handlers are inherently single-writer per index (one
            # stream owns its index; the nightly job converges BETWEEN
            # batches, and its own append takes the claim) — a
            # deployment with genuinely concurrent id-overlapping
            # writers must keep check_duplicate_ids=True.
            # buckets_df + precounted (round 16, guide §1.2/§4): the
            # shared bucketing pass and this batch's fused validation
            # counts ride into the append — two fewer jobs per batch
            # (the Arrow re-bucketing and the validation aggregation),
            # same refusal order and values by construction.
            lsh_index_append(
                batch, table_prefix, id_col=id_col, vec_col=vec_col,
                check_duplicate_ids=False, buckets_df=idx_buckets,
                precounted=(n_batch, n_ids, n_bad, dim),
            )

    return handle


def continuous_ivf_ingest(
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_audits: int = 256,
):
    """foreachBatch handler: continuous ANN-index INGEST — the vector-DB
    ingestion loop over the persisted IVF index (round 13, late; the
    third streaming lifecycle composition's ingest-only sibling).  The
    first micro-batch bootstraps generation 1 (ivf_build — the coarse
    quantizer freezes at the bootstrap batch's k-means); every later
    batch classifies itself against the snapshot's ids sidecar BEFORE
    any mutation (all-new: ivf_append as the next immutable segment;
    fully-indexed: a crash-after-publish replay, skip; partial overlap:
    id reuse, refuse loudly) — the same three-way contract as the
    dedup streams, but with NO side sink: the index itself is the
    product, and the segment marker is the batch's only commit point,
    so replay safety needs no duplicate-row argument at all.

    Maintenance applies between batches exactly as for the batch path:
    ivf_append's returned audit carries the two-sided retrain trigger,
    ivf_compact folds segments at IO cost, ivf_retrain_swap re-trains
    the quantizer — a resumed stream resolves whatever generation is
    newest and appends there.  Unlike the dedup handlers this returns
    the per-batch audits through a mutable list argument-free closure
    attribute (``handle.audits``) so a driver loop can act on
    retrain_due without a sidecar channel.  Retention is BOUNDED
    (round 14, the r13 verdict's audit): only the newest
    ``max_audits`` entries are kept — a maintenance loop reacts to the
    LATEST trigger state, and unbounded growth on a months-long stream
    is a slow driver-memory leak (one dict per micro-batch); a loop
    that wants every audit should drain the list as it reads it."""
    from ..operators.similarity import (
        _ivf_generations,
        _ivf_snapshot,
        ivf_append,
        ivf_build,
        ivf_resolve,
    )

    if max_audits < 1:
        raise ValueError(
            f"continuous_ivf_ingest: max_audits must be >= 1, got "
            f"{max_audits} (0 would keep EVERY audit — lst[:-0] is the "
            "empty slice — re-enabling the unbounded growth the bound "
            "exists to prevent)"
        )

    def _record(audit: dict) -> None:
        handle.audits.append(audit)
        del handle.audits[:-max_audits]

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        from ..operators.bucketing import count_and_distinct

        # count + distinct-count in ONE aggregation job (round 15,
        # guide §1.2 — one pass over the pinned batch, not two)
        n_batch, n_ids = count_and_distinct(batch, id_col)
        # empty micro-batch: a no-op, the same guard as the dedup
        # handlers (ADVICE r13 low) — it could never classify as a
        # replay, so each crash-redelivery would append/publish another
        # empty segment (or bootstrap a zero-row quantizer)
        if n_batch == 0:
            return
        # internal duplicate ids refuse BEFORE anything — including the
        # BOOTSTRAP (round 14 review: ivf_build performs no duplicate
        # check, so a duplicated first batch silently built a poisoned
        # generation 1, and its crash-redelivery then hit this check —
        # generations exist by then — wedging the stream on a batch
        # whose first delivery "succeeded").  The classification below
        # subsumes the append's index-side duplicate check
        # (check_duplicate_ids=False), but NOT this internal one.
        if n_ids != n_batch:
            raise ValueError(
                f"continuous_ivf_ingest({path}): batch {batch_id} has "
                "internally duplicated ids — the same candidate would "
                "score twice per query. Nothing was written."
            )
        if not _ivf_generations(spark, path):
            ivf_build(batch, path, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
            _record({"bootstrap": True, "batch_rows": n_batch})
            return
        content = ivf_resolve(spark, path)
        _, ids_table, _ = _ivf_snapshot(spark, content)
        n_in = (
            batch.select(id_col)
            .join(ids_table.select(id_col), id_col, "left_semi")
            .count()
        )
        if 0 < n_in < n_batch:
            raise ValueError(
                f"continuous_ivf_ingest({path}): batch {batch_id} has "
                f"{n_in}/{n_batch} ids already indexed — id REUSE across "
                "batches, not a replay; stream ids must be unique. "
                "Nothing was written."
            )
        if n_in == n_batch:  # n_batch > 0 guaranteed above
            _record({"replay": True, "batch_rows": n_batch})
            return
        # precounted (round 16, guide §1.2): this batch's fused
        # count/distinct rides into the append — one fewer delta pass
        # per micro-batch, identical values by construction.
        _record(
            ivf_append(spark, path, batch, id_col=id_col, vec_col=vec_col,
                       check_duplicate_ids=False,
                       precounted=(n_batch, n_ids))
        )

    handle.audits = []
    return handle


def continuous_index_dedup(
    table_prefix: str,
    pairs_dir: str,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch handler: the CONTINUOUS form of the nightly
    minhash-index contract (round 12, late) — where
    :func:`incremental_minhash_dedup` keeps a scratch parquet index,
    this one maintains the engine's DURABLE generation/segment index
    (operators/dedup.py): the first micro-batch bootstraps generation 1
    (minhash_index_build), and every later micro-batch (a) screens
    itself against the index state at batch start
    (incremental_dedup_pairs — cross pairs, delta-sized shuffles only),
    (b) finds its within-batch pairs (minhash_dedup_pairs), appends
    both to ``pairs_dir``, then (c) lands as the generation's next
    immutable append SEGMENT (minhash_index_append).  The stream and
    the nightly job converge on one index: a restarted driver attaches
    it (minhash_index_attach), the two-sided retrain trigger
    (row fraction OR segment count — one segment per micro-batch makes
    the count side the binding one here) cues the rebuild that folds
    segments into generation 2, and batch readers time-travel it.

    Every (a, b) pair is discovered exactly once, in the batch where
    the later member arrives (canonicalized least/greatest), so the
    accumulated pair set equals ``minhash_dedup_pairs`` over the whole
    corpus regardless of arrival order or batch boundaries — the batch
    operator is the oracle (pytest-pinned).

    AT-LEAST-ONCE replay safety rides the index's own atomic commit
    (the segment/generation marker) as the batch's commit point.  The
    batch is CLASSIFIED FIRST — one delta-sized semi-join of its
    indexable ids against the snapshot's indexed ids, BEFORE anything
    is written (ADVICE r12: the pre-classification version wrote the
    pair rows first and let ``minhash_index_append`` discover id reuse,
    so a refused partial-overlap batch had already appended pair rows
    that duplicate no committed rows — ``distinct()`` could never
    remove them and the pair set diverged permanently).  Three cases:

    - ALL-NEW (no id indexed — crash was before the publish, or a
      normal first delivery): screen, write pairs, append; a replay
      re-screens against the same pre-batch snapshot (published state
      never changed) and rewrites byte-identical pair rows — readers
      dedupe with ``distinct()``;
    - FULLY-INDEXED (every indexable id present — the segment's atomic
      publish landed before the crash): a pure REPLAY; rewrite the pair
      rows (still exact duplicates, because the batch's own documents
      now answering from the index turn its within-batch pairs into
      cross-pair duplicates of themselves under the least/greatest
      canonicalization) and SKIP the append — the refusal-then-classify
      round-trip is gone;
    - PARTIAL overlap: id reuse across batches — an upstream contract
      violation; refuse loudly BEFORE the pairs write, leaving both the
      pair sink and the index exactly as they were.

    Requires stream-unique ids (the dropDuplicatesWithinWatermark
    contract upstream).  Batch-internal duplicate ids still fail inside
    the append's internal-duplicate check, after the batch's pairs were
    written — but those rows are the batch's true pairs and a corrected
    redelivery (same ids, deduped) rewrites them identically, so the
    ``distinct()`` contract holds through that failure too.

    Scale shape: per batch cost is the batch's own shingling plus one
    co-located probe join per index part — identical to the nightly
    incremental path; nothing scans the corpus.  The signature
    operating point is the family's standard 64-perm/16x4 banding on
    BOTH the index and within-batch paths (one point, one recall
    contingency — which is why the handler exposes no banding knobs)."""
    from ..operators.bucketing import index_generations
    from ..operators.dedup import (
        incremental_dedup_pairs,
        minhash_dedup_pairs,
        minhash_index_append,
        minhash_index_build,
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # pin the micro-batch: the handler takes several actions over it
        # and must not re-read the streaming source per action
        batch = batch.localCheckpoint(eager=True)
        kw = dict(k=k, id_col=id_col, text_col=text_col)
        # ONE shingling + ONE signing pass per batch, shared by every
        # phase below (r13 profile: the pre-sharing handler re-shingled
        # the batch ~4x and re-signed it 3x — classify, screen, within,
        # append each recomputed them; the phases' input is the pinned
        # batch, so sharing is exact).  Eager localCheckpoint, because
        # these frames feed actions across several separate jobs.
        from ..operators.dedup import minhash_signatures, shingle_hash_sets

        hs = shingle_hash_sets(batch, k, id_col, text_col).localCheckpoint(
            eager=True
        )
        # ADVICE r13 (low): a batch with ZERO indexable rows (empty
        # micro-batch, or every doc under k tokens) is a NO-OP — no
        # pair can form (both pair paths require shingles) and there
        # is nothing to index.  Without this, such a batch can never
        # classify as a replay (n_in == n_indexable == 0 fails the
        # `n_indexable > 0` replay test), so every crash-redelivery
        # appended and PUBLISHED another empty segment, silently
        # widening every subsequent read plan until the max_segments
        # arm tripped; it would likewise bootstrap an empty generation
        # whose zero-row basis poisons the retrain ledger
        # (appended_frac = inf from the first real batch).  The guard
        # sits BEFORE the signing pass: hs is already materialized, so
        # the count is cheap, and a discarded batch must not pay a
        # full signature job it will throw away.
        n_indexable = hs.count()
        if n_indexable == 0:
            return
        sig = minhash_signatures(
            batch, k=k, id_col=id_col, text_col=text_col, hs_df=hs
        ).localCheckpoint(eager=True)
        share = dict(hs_df=hs, sig_df=sig)
        if not index_generations(spark, table_prefix):
            # bootstrap: within-batch pairs, then generation 1 (the
            # marker create is this batch's commit point)
            minhash_dedup_pairs(
                batch, threshold=threshold, **kw, **share
            ).write.mode("append").parquet(pairs_dir)
            minhash_index_build(batch, table_prefix, **kw, **share)
            return
        # classify BEFORE any write (see the docstring's three cases):
        # one delta-sized semi-join of the batch's INDEXABLE ids (docs
        # with < k tokens never enter the shingle store, so the raw
        # count would misclassify) against the snapshot's indexed ids
        from functools import reduce as _reduce

        from ..operators.bucketing import (
            index_gen_prefix,
            index_resolve,
            index_seg_prefix,
            index_segments,
        )

        gen = index_resolve(spark, table_prefix)
        parts = [index_gen_prefix(table_prefix, gen)] + [
            index_seg_prefix(table_prefix, gen, s)
            for s in index_segments(spark, table_prefix, gen)
        ]
        # cross-session seam (round 14 review): attach any part missing
        # from this session's catalog BEFORE the classify read — the
        # screen call's own ensure_attached runs too late to save a
        # stream racing the nightly job's append
        from ..operators.bucketing import ensure_attached
        from ..operators.dedup import INDEX_N_BUCKETS, INDEX_SHINGLES_DDL

        for p in parts:
            ensure_attached(
                spark, f"{p}_shingles", INDEX_SHINGLES_DDL, "id",
                INDEX_N_BUCKETS,
            )
        existing = _reduce(
            DataFrame.unionByName,
            [spark.table(f"{p}_shingles").select("id") for p in parts],
        )
        n_in = hs.select("id").join(existing, "id", "left_semi").count()
        if 0 < n_in < n_indexable:
            raise ValueError(
                f"continuous_index_dedup({table_prefix}): batch "
                f"{batch_id} has {n_in}/{n_indexable} ids already "
                "indexed — id REUSE across batches, not a replay; "
                "stream ids must be unique (dedupe upstream with "
                "exact_dedup_stream). Nothing was written."
            )
        replay = n_in == n_indexable  # n_indexable > 0 guaranteed above
        cross = incremental_dedup_pairs(
            batch, table_prefix, threshold=threshold, **kw, **share
        ).select(
            F.least("old_id", "new_id").alias("doc_a"),
            F.greatest("old_id", "new_id").alias("doc_b"),
            "jaccard",
        )
        within = minhash_dedup_pairs(
            batch, threshold=threshold, **kw, **share
        ).select("doc_a", "doc_b", "jaccard")
        cross.unionByName(within).write.mode("append").parquet(pairs_dir)
        if not replay:
            # check_duplicate_ids=False (round 15, guide §1.2): the
            # classify semi-join above already proved the batch ALL-NEW
            # against every part — the append's index-side duplicate
            # check is the identical join re-run (the ivf handler's
            # standing subsumption argument); its INTERNAL duplicate
            # check still runs.  SINGLE-WRITER ASSUMPTION (ADVICE r15):
            # the classify ran outside the index claim, so an
            # id-overlapping segment published by a CONCURRENT writer
            # between classify and append is not re-checked in-claim;
            # foreachBatch handlers are single-writer per index (the
            # nightly job converges between batches under its own
            # claim) — concurrent id-overlapping writers must keep
            # check_duplicate_ids=True.
            # hs_rows (round 16, guide §1.2): the indexable-guard count
            # above already counted the SAME pinned hs frame — the
            # append's batch_rows job is skipped, identical value.
            minhash_index_append(
                batch, table_prefix, **kw, **share, check_duplicate_ids=False,
                hs_rows=n_indexable,
            )

    return handle
