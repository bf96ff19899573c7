"""Round-10 property pins: IVF index maintenance (ivf_append) and the
two-level quantile rollup.

The append contract under test (operators/similarity.py ivf_append):
frozen-quantizer routing (append == rebuild with the same centroids),
delta-sized immutable SEGMENT publish (round 12: pre-existing index
files byte-identical BY LAYOUT; readers proceed under a standing
append claim and answer the published snapshot), the claim-marker
writer serialization, the two-sided recorded retrain trigger, and
within-generation as_of_segment time travel.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


def _emb(spark, sf_dir=SF_DIR):
    from distributed_graph_db_c_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for p in glob.glob(os.path.join(root, "**", "*"), recursive=True):
        if os.path.isfile(p) and not os.path.basename(p).startswith(("_", ".")):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


def test_ivf_append_equals_frozen_rebuild_and_splits(spark):
    """Three-way equivalence on the maintained index: (a) the appended
    index's (vec_id, cell) contents equal an independent recomputation
    of the frozen-quantizer assignment over base ∪ delta (what a
    rebuild with the SAME centroids would store); (b) appending the
    delta in one call equals appending it in two splits (associativity
    of maintenance); (c) batch query results over both maintained
    indexes are identical."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    d1 = delta.filter(F.col("vec_id") % 2 == 0)
    d2 = delta.filter(F.col("vec_id") % 2 != 0)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    s1, s2 = scratch_dir("ivfapp1"), scratch_dir("ivfapp2")
    try:
        ivf_build(base, f"{s1}/idx", n_cells=24)
        ivf_append(spark, f"{s1}/idx", delta)
        ivf_build(base, f"{s2}/idx", n_cells=24)
        ivf_append(spark, f"{s2}/idx", d1)
        ivf_append(spark, f"{s2}/idx", d2)

        from distributed_graph_db_c_spark.operators.similarity import (
            _ivf_snapshot,
            ivf_resolve,
        )

        c1, c2 = ivf_resolve(spark, f"{s1}/idx"), ivf_resolve(spark, f"{s2}/idx")
        # round 12: the snapshot = base + published append segments
        l1df, i1df, segs1 = _ivf_snapshot(spark, c1)
        l2df, _i2df, segs2 = _ivf_snapshot(spark, c2)
        assert segs1 == [1] and segs2 == [1, 2]  # one vs split appends
        lists1 = {(r["vec_id"], r["cell"]) for r in l1df.collect()}
        lists2 = {(r["vec_id"], r["cell"]) for r in l2df.collect()}
        assert lists1 == lists2, "split appends diverge from one append"

        # (a) frozen-quantizer recomputation: every vector (base AND
        # delta) must sit in the argmax cell of the persisted centroids
        cents = spark.read.parquet(f"{c1}/centroids").collect()
        C = np.vstack(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(cents, key=lambda r: r["cell"])
            ]
        )
        rows = emb.collect()
        expected = set()
        for r in rows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            vn = v / max(np.linalg.norm(v), 1e-12)
            expected.add((r["vec_id"], int(np.argmax(vn @ C.T))))
        assert lists1 == expected, "append placement != frozen-quantizer rebuild"

        # ids sidecar mirrors lists exactly (across base + segments)
        ids1 = {(r["vec_id"], r["cell"]) for r in i1df.collect()}
        assert ids1 == lists1

        q1 = sorted(
            map(
                tuple,
                ivf_batch_query_persisted(
                    spark, f"{s1}/idx", queries, top_k=3, nprobe=8
                ).collect(),
            )
        )
        q2 = sorted(
            map(
                tuple,
                ivf_batch_query_persisted(
                    spark, f"{s2}/idx", queries, top_k=3, nprobe=8
                ).collect(),
            )
        )
        assert q1 == q2
    finally:
        cleanup(s1)
        cleanup(s2)


def test_ivf_append_is_delta_sized_and_immutable(spark):
    """The maintenance cost contract: an append NEVER rewrites existing
    index bytes — every pre-append file is byte-identical after (round
    12: BY LAYOUT — the delta lands in a brand-new published segment
    directory) — and the segment's list files carry only cell
    directories that actually received delta rows (work sized by the
    delta, not the corpus)."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _cell_assigner,
        ivf_append,
        ivf_build,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    s = scratch_dir("ivfappdelta")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        before = _file_digests(f"{s}/idx")
        ivf_append(spark, f"{s}/idx", delta)
        after = _file_digests(f"{s}/idx")
        changed = {
            p for p in before if p not in after or after[p] != before[p]
        }
        assert not changed, f"append rewrote existing index files: {changed}"

        from distributed_graph_db_c_spark.operators.similarity import ivf_resolve

        content = ivf_resolve(spark, f"{s}/idx")
        cents = spark.read.parquet(f"{content}/centroids").collect()
        C = np.vstack(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(cents, key=lambda r: r["cell"])
            ]
        )
        delta_cells = {
            r["cell"]
            for r in delta.withColumn(
                "cell", _cell_assigner(C)(F.col("embedding"))
            ).collect()
        }
        rel = os.path.relpath(content, f"{s}/idx")
        new_list_files = [
            p
            for p in set(after) - set(before)
            if p.startswith(os.path.join(rel, "s0001", "lists") + os.sep)
        ]
        assert new_list_files, "append added no segment list files"
        # nothing lands outside the segment directory except the
        # advisory append_log ledger (documented outside the query
        # snapshot) — the base content gains no files: immutability by
        # layout
        outside = [
            p
            for p in set(after) - set(before)
            if not p.startswith(os.path.join(rel, "s0001") + os.sep)
            and not p.startswith(os.path.join(rel, "append_log") + os.sep)
        ]
        assert not outside, f"append wrote outside its segment: {outside}"
        for p in new_list_files:
            cell = int(p.split("cell=")[1].split(os.sep)[0])
            assert cell in delta_cells, (
                f"append touched cell {cell} that received no delta rows"
            )
    finally:
        cleanup(s)


def test_ivf_append_claim_blocks_writers_not_readers(spark):
    """The commit-path contract, round-12 form: a standing append claim
    makes a second APPEND refuse loudly (writer serialization — a dead
    appender wedges the write path until cleared), but READERS proceed
    and answer the published snapshot exactly — appends land as
    unpublished-until-marker segments, so a mid-append index is never a
    mismatched snapshot (the pre-r12 reader refusal is gone BY LAYOUT).
    The claim marker stays invisible to Spark's file listing
    (underscore prefix), and an in-flight appender's UNPUBLISHED
    segment directory is equally invisible to a racing reader."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_query_persisted,
        ivf_resolve,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    s = scratch_dir("ivfappclaim")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        qvec = [1.0] + [0.0] * 63
        pre = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=3, nprobe=24
                ).collect(),
            )
        )
        claim = _append_claim(f"{s}/idx")
        with open(claim, "w") as f:
            f.write("wedged-appender")
        with pytest.raises(ConcurrentCommitError):
            ivf_append(spark, f"{s}/idx", delta)
        # readers proceed under the claim and answer the published
        # snapshot bit-identically
        mid = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=3, nprobe=24
                ).collect(),
            )
        )
        assert mid == pre
        assert (
            ivf_batch_query_persisted(
                spark, f"{s}/idx", [(0, qvec)], top_k=3, nprobe=8
            ).count()
            > 0
        )
        # an in-flight appender's staged-but-UNPUBLISHED segment is
        # invisible: fake one on disk (no marker) and re-query
        content = ivf_resolve(spark, f"{s}/idx")
        base.limit(7).select("vec_id", "embedding").withColumn(
            "cell", F.lit(0)
        ).write.mode("overwrite").partitionBy("cell").parquet(
            f"{content}/s0001/lists"
        )
        assert (
            sorted(
                map(
                    tuple,
                    ivf_query_persisted(
                        spark, f"{s}/idx", query_vec=qvec, top_k=3, nprobe=24
                    ).collect(),
                )
            )
            == pre
        ), "unpublished segment leaked into a read"
        os.remove(claim)
        got = ivf_query_persisted(
            spark, f"{s}/idx", query_vec=qvec, top_k=3, nprobe=24
        )
        assert got.count() == 3
    finally:
        cleanup(s)


def test_ivf_append_retrain_audit_and_log(spark):
    """The recorded retrain trigger: the gate corpus's delta is exactly
    25% of base, so the default threshold (0.25) flips retrain_due on
    the first append; a higher threshold does not; a second append
    accumulates the fraction; and the persisted append_log carries one
    row per append with the same numbers."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_append,
        ivf_build,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    n_base, n_delta = base.count(), delta.count()
    s = scratch_dir("ivfappaudit")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        audit = ivf_append(spark, f"{s}/idx", delta)
        assert audit["batch_rows"] == n_delta
        assert audit["total_rows"] == n_base + n_delta
        assert (audit["segment"], audit["n_segments"]) == (1, 1)
        assert audit["appended_frac"] == pytest.approx(n_delta / n_base)
        assert audit["retrain_due"] is (n_delta / n_base >= 0.25)
        assert audit["retrain_due"] is True  # 100/400 on the gate corpus

        # duplicate-id refusal: re-ingesting an indexed id must refuse
        # loudly BEFORE mutation, with the claim released (index valid)
        from distributed_graph_db_c_spark.operators.similarity import (
            _append_claim,
        )

        with pytest.raises(ValueError, match="already in"):
            ivf_append(spark, f"{s}/idx", delta)
        assert not os.path.exists(_append_claim(f"{s}/idx")), (
            "duplicate refusal must release the claim"
        )
        # internal duplicates refuse the same way (round 12: parity
        # with the minhash/LSH appends), claim released
        fresh = delta.select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
        )
        with pytest.raises(ValueError, match="internally duplicated"):
            ivf_append(spark, f"{s}/idx", fresh.unionByName(fresh.limit(1)))
        assert not os.path.exists(_append_claim(f"{s}/idx"))
        from distributed_graph_db_c_spark.operators.similarity import (
            _ivf_snapshot,
            ivf_resolve,
        )

        content = ivf_resolve(spark, f"{s}/idx")
        _l, ids_df, segs = _ivf_snapshot(spark, content)
        assert segs == [1] and ids_df.count() == n_base + n_delta, (
            "duplicate refusal must not mutate the index"
        )

        # second append with the check explicitly waived (accounting
        # only — placement/query equivalence is the other tests' job)
        audit2 = ivf_append(
            spark, f"{s}/idx", delta, retrain_frac=0.6,
            check_duplicate_ids=False,
        )
        assert audit2["appended_frac"] == pytest.approx(2 * n_delta / n_base)
        assert audit2["retrain_due"] is (2 * n_delta / n_base >= 0.6)
        assert (audit2["segment"], audit2["n_segments"]) == (2, 2)
        # segment-COUNT side of the trigger (round 12, the 1000x guard):
        # with the fraction side out of reach, crossing max_segments
        # alone flips retrain_due
        audit3 = ivf_append(
            spark, f"{s}/idx", delta, retrain_frac=9.9, max_segments=3,
            check_duplicate_ids=False,
        )
        assert audit3["n_segments"] == 3 and audit3["retrain_due"] is True

        log = spark.read.parquet(f"{content}/append_log").orderBy("total_rows")
        rows = log.collect()
        assert len(rows) == 3
        assert rows[0]["batch_rows"] == n_delta
        assert rows[0]["retrain_due"] == audit["retrain_due"]
        assert rows[1]["total_rows"] == n_base + 2 * n_delta
        assert rows[2]["total_rows"] == n_base + 3 * n_delta
        assert rows[2]["retrain_due"] == audit3["retrain_due"]
    finally:
        cleanup(s)


def test_ivf_append_rankings_have_margin():
    """sim_ivf_index_append's oracle contingency, the twin of
    test_ivf_rankings_have_margin with BASE-corpus centroids: Spark
    ranks cells/assignments via numpy while DuckDB folds
    dot/(norm*norm) — the oracle is exact only while no assignment and
    no probe-boundary ranking sits inside float noise.  Fails loudly if
    a corpus change pushes any margin within 1e-9."""
    import pyarrow.parquet as pq

    from distributed_graph_db_c_spark.queries.similarity import (
        _APPEND_BASE_MOD,
        _APPEND_CELLS,
        _APPEND_NPROBE,
        _APPEND_Q,
    )

    for sf in (SF_DIR, SF01_DIR):
        t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
        ids = t["vec_id"].to_numpy()
        E = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
        bmask = ids % _APPEND_BASE_MOD != 0
        bids, BE = ids[bmask], E[bmask]
        h = np.array(
            [hashlib.md5(str(int(i)).encode()).hexdigest() for i in bids]
        )
        cidx = np.lexsort((bids, h))[:_APPEND_CELLS]
        C = BE[cidx]
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
        S = En @ Cn.T
        Ss = np.sort(S, axis=1)
        assert (Ss[:, -1] - Ss[:, -2]).min() > 1e-9, f"assignment margin at {sf}"
        Q = np.sort(S[ids < _APPEND_Q], axis=1)[:, ::-1]
        assert (
            Q[:, _APPEND_NPROBE - 1] - Q[:, _APPEND_NPROBE]
        ).min() > 1e-9, f"probe boundary margin at {sf}"


# -- two-level quantile rollup -------------------------------------------------


def test_rollup_merge_path_equals_direct(spark):
    """Merge-path invariance: the lang and global levels — computed by
    re-aggregating the LEAF HISTOGRAM's cells — must equal the same
    quantiles computed directly from raw documents (the histogram
    summary is exact, so merging loses nothing).  This is the property
    that makes the rollup safe at 100 TB: tier-2 never needs the raw
    rows back."""
    from distributed_graph_db_c_spark.queries.sketches import (
        ROLLUP_ALL,
        _hist_quantiles,
        sketch_quantiles_rollup_lang_source,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    got = {
        (r["lang"], r["source"]): tuple(r)[2:]
        for r in sketch_quantiles_rollup_lang_source(spark, SF01_DIR).collect()
    }
    docs = load_table(spark, SF01_DIR, "documents")
    direct_lang = _hist_quantiles(
        docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt")),
        F.col("lang"),
        F.lit(ROLLUP_ALL),
    )
    for r in direct_lang.collect():
        assert got[(r["lang"], ROLLUP_ALL)] == tuple(r)[2:], r["lang"]
    direct_global = _hist_quantiles(
        docs.groupBy("n_chars").agg(F.count("*").alias("cnt")),
        F.lit(ROLLUP_ALL),
        F.lit(ROLLUP_ALL),
    ).collect()
    assert got[(ROLLUP_ALL, ROLLUP_ALL)] == tuple(direct_global[0])[2:]
    # level row counts: leaves + langs + 1 global
    n_leaf = docs.select("lang", "source").distinct().count()
    n_lang = docs.select("lang").distinct().count()
    assert len(got) == n_leaf + n_lang + 1


def test_rollup_scans_raw_rows_once(spark):
    """The single-scan contract: the leaf histogram is checkpointed, so
    the three quantile levels read summary cells — the composed plan
    contains NO scan of the documents parquet (the one raw scan
    happened at checkpoint materialization)."""
    from distributed_graph_db_c_spark.queries.sketches import (
        sketch_quantiles_rollup_lang_source,
    )

    df = sketch_quantiles_rollup_lang_source(spark, SF01_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan, "a rollup level re-scanned raw rows"


def test_rollup_partitioning_invariance(spark):
    """The histogram merge is addition — associative and commutative —
    so the whole rollup is partitioning-invariant: 3 vs 17 input
    partitions produce identical rows (the determinism contract every
    oracle-backed gate carries)."""
    from distributed_graph_db_c_spark.queries.sketches import (
        ROLLUP_ALL,
        _hist_quantiles,
    )
    from distributed_graph_db_c_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    results = []
    for parts in (3, 17):
        hist = (
            docs.repartition(parts)
            .groupBy("lang", "source", "n_chars")
            .agg(F.count("*").alias("cnt"))
        )
        lang_hist = hist.groupBy("lang", "n_chars").agg(
            F.sum("cnt").alias("cnt")
        )
        lvl = _hist_quantiles(lang_hist, F.col("lang"), F.lit(ROLLUP_ALL))
        results.append(sorted(map(tuple, lvl.collect())))
    assert results[0] == results[1]


# -- IVF retrain-then-swap (registry gate sim_ivf_retrain_swap) ---------------


def test_ivf_retrain_swap_equals_fresh_rebuild(spark):
    """The swap contract: after build(base) -> append(delta) ->
    retrain_swap(full), the served index equals a FRESH ivf_build over
    the full corpus — identical lists contents, identical batch query
    results — and generation semantics hold: meta.n_base resets to the
    full count and the append_log restarts empty."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    s1, s2 = scratch_dir("ivfrts1"), scratch_dir("ivfrts2")
    try:
        ivf_build(base, f"{s1}/idx", n_cells=24)
        audit = ivf_append(spark, f"{s1}/idx", delta)
        assert audit["retrain_due"]
        ivf_retrain_swap(spark, f"{s1}/idx", emb, n_cells=24)
        ivf_build(emb, f"{s2}/idx", n_cells=24)

        from distributed_graph_db_c_spark.operators.similarity import ivf_resolve

        c1, c2 = ivf_resolve(spark, f"{s1}/idx"), ivf_resolve(spark, f"{s2}/idx")
        assert c1.endswith("g=00000002"), (
            "retrain must publish a NEW generation (build=g1, retrain=g2)"
        )
        lists1 = {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(f"{c1}/lists").collect()
        }
        lists2 = {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(f"{c2}/lists").collect()
        }
        assert lists1 == lists2, "retrained index != fresh full rebuild"

        q1 = sorted(
            map(
                tuple,
                ivf_batch_query_persisted(
                    spark, f"{s1}/idx", queries, top_k=3, nprobe=8
                ).collect(),
            )
        )
        q2 = sorted(
            map(
                tuple,
                ivf_batch_query_persisted(
                    spark, f"{s2}/idx", queries, top_k=3, nprobe=8
                ).collect(),
            )
        )
        assert q1 == q2

        # fresh generation: meta resets, ledger restarts
        assert (
            spark.read.parquet(f"{c1}/meta").head()["n_base"] == emb.count()
        )
        assert not os.path.exists(f"{c1}/append_log"), (
            "append_log must restart with the new generation"
        )
        # staging fully consumed by the publish (hidden _g_stage_* gone)
        assert not glob.glob(f"{s1}/idx/_g_stage_*"), (
            "publish must consume the staging sibling"
        )
        # the PREVIOUS generation survives for pinned readers (vacuum is
        # explicit) and still holds the pre-retrain meta
        assert os.path.exists(f"{s1}/idx/g=00000001/meta")
        assert (
            spark.read.parquet(f"{s1}/idx/g=00000001/meta").head()["n_base"]
            == base.count()
        )
    finally:
        cleanup(s1)
        cleanup(s2)


def test_ivf_retrain_swap_mutual_exclusion_and_failure(spark):
    """Two-sided WRITER exclusion: retrain refuses while an append
    claim stands (a swap would lose the in-flight delta); append
    refuses while the retrain claim stands.  Readers, by contrast,
    keep answering during a retrain (round 11): generations make the
    resolved directory immutable, so there is nothing to refuse.  And
    a retrain that fails BEFORE the publish leaves the old generation
    answering identically, claim released."""
    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_query_persisted,
        ivf_retrain_swap,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError, _commit_claim
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    s = scratch_dir("ivfrtsex")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)

        # retrain refuses under a standing append claim
        ap = _append_claim(f"{s}/idx")
        with open(ap, "w") as f:
            f.write("wedged-appender")
        with pytest.raises(ConcurrentCommitError):
            ivf_retrain_swap(spark, f"{s}/idx", emb, n_cells=24)
        os.remove(ap)

        # append refuses under a standing retrain claim; READERS NO
        # LONGER DO (round 11): a retrain publishes a brand-new g=
        # directory, so a reader pinned to the current generation stays
        # consistent — it answers normally while the claim stands
        rt = _commit_claim(f"{s}/idx")
        with open(rt, "w") as f:
            f.write("wedged-retrainer")
        with pytest.raises(ConcurrentCommitError):
            ivf_append(spark, f"{s}/idx", delta)
        assert (
            ivf_batch_query_persisted(
                spark, f"{s}/idx", [(0, [1.0] + [0.0] * 63)], top_k=3, nprobe=8
            ).count()
            == 3
        ), "generation-layout readers must keep answering during a retrain"
        assert (
            ivf_query_persisted(
                spark, f"{s}/idx", query_vec=[1.0] + [0.0] * 63, top_k=3, nprobe=8
            ).count()
            == 3
        )
        os.remove(rt)

        # failure BEFORE the swap: old generation intact, claim released
        before = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=[1.0] + [0.0] * 63,
                    top_k=3, nprobe=24,
                ).collect(),
            )
        )
        with pytest.raises(Exception):
            # empty corpus makes ivf_build fail (no centroid rows)
            ivf_retrain_swap(
                spark, f"{s}/idx", emb.filter(F.lit(False)), n_cells=24
            )
        assert not os.path.exists(rt), "failed retrain must release its claim"
        after = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=[1.0] + [0.0] * 63,
                    top_k=3, nprobe=24,
                ).collect(),
            )
        )
        assert before == after, "failed retrain disturbed the old generation"
    finally:
        cleanup(s)


# -- semantic decontamination (cross-corpus) -----------------------------------


def _grade_corpus_numpy(sf_dir):
    """The planted grade corpus, numpy replica (same 2a+b construction)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    ids = [int(i) for i in t["vec_id"]]
    E = {i: np.asarray(v, dtype=np.float64) for i, v in zip(ids, t["embedding"])}
    corpus = dict(E)
    for i in ids:
        if i % 7 == 0 and i + 1 in E:
            corpus[i + 1_000_000] = 2.0 * E[i] + E[i + 1]
    return corpus


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF01_DIR])
def test_decontaminate_matches_bruteforce(spark, sf_dir):
    """The gate's corpus-contingency pin: the LSH-candidate cross-pair
    path must find EVERY eval-train pair at cosine >= 0.8 (total
    candidate recall on this corpus — the exact SQL oracle is valid
    only under this), and the per-eval argmax row must match the brute
    force selection.  Cosine margins at the threshold are large (plants
    sit ~0.89), so numpy doubles vs the engine's left fold cannot flip
    a pair's membership."""
    from distributed_graph_db_c_spark.queries.dedup import (
        dedup_semantic_decontaminate,
    )

    corpus = _grade_corpus_numpy(sf_dir)
    ev = {i: v for i, v in corpus.items() if i >= 1_000_000}
    tr = {i: v for i, v in corpus.items() if i < 1_000_000}
    expected = {}
    for ei, evec in ev.items():
        en = evec / np.linalg.norm(evec)
        best = None
        for ti, tvec in sorted(tr.items()):
            c = float(en @ (tvec / np.linalg.norm(tvec)))
            if c >= 0.8 and (best is None or c > best[1] + 1e-12):
                best = (ti, c)
        if best:
            expected[ei] = best[0]
    got = {
        r["eval_id"]: r["train_id"]
        for r in dedup_semantic_decontaminate(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "gate corpus must be contaminated by construction"


def test_decontaminate_plan_has_no_cross_join(spark):
    """The scale contract: candidates come from a bucket equijoin
    between the frames — the plan must contain no cartesian/nested-loop
    join of eval x train."""
    from distributed_graph_db_c_spark.queries.dedup import (
        dedup_semantic_decontaminate,
    )

    df = dedup_semantic_decontaminate(spark, SF01_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_incremental_matches_oneshot(spark):
    """Batch-vs-index decomposition exactness: the persisted-index
    screening must produce BIT-IDENTICAL rows to the one-shot
    cross-pairs gate at both SFs (ids and cosines — same fold, same
    argmax, same tie rule), and the candidate join's INDEX side must
    read co-located (no Exchange above the bucketed scan; the only
    bkey Exchange hashes the eval batch)."""
    import re
    import uuid

    from distributed_graph_db_c_spark.operators.similarity import (
        decontaminate_incremental,
        lsh_index_build,
    )
    from distributed_graph_db_c_spark.queries.dedup import (
        _GRADE_MULTIPROBE,
        _GRADE_THRESHOLD,
        _PLANT_ID_OFFSET,
        _grade_corpus,
        dedup_decontaminate_incremental,
        dedup_semantic_decontaminate,
    )

    for sf_dir in (SF_DIR, SF01_DIR):
        one = sorted(
            map(tuple, dedup_semantic_decontaminate(spark, sf_dir).collect())
        )
        inc = sorted(
            map(tuple, dedup_decontaminate_incremental(spark, sf_dir).collect())
        )
        assert inc == one and one, sf_dir

    # plan contract (materialize=False keeps the lazy plan inspectable)
    corpus = _grade_corpus(spark, SF01_DIR)
    ev = corpus.filter(F.col("vec_id") >= _PLANT_ID_OFFSET)
    tr = corpus.filter(F.col("vec_id") < _PLANT_ID_OFFSET)
    prefix = f"deconpin_{uuid.uuid4().hex[:8]}"
    try:
        lsh_index_build(
            tr, prefix, threshold=_GRADE_THRESHOLD, dim=64,
            vec_col="v", multiprobe=_GRADE_MULTIPROBE,
        )
        plan = (
            decontaminate_incremental(ev, prefix, vec_col="v", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_exchanges = len(re.findall(r"Exchange hashpartitioning\(bkey", plan))
        assert n_exchanges <= 1, f"index side reshuffled: {n_exchanges}"
    finally:
        from distributed_graph_db_c_spark.operators.bucketing import index_drop_all

        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))


def test_decontaminate_incremental_refuses_mid_build(spark):
    """Round-12 amendment of the r10 claim-read pin: with a PUBLISHED
    generation, a standing build claim no longer blocks reads — the
    reader binds the published (immutable) generation and returns the
    exact pre-claim result.  Only the LEGACY flat layout (generation 0,
    in-place rewrites) still refuses under a claim, because there a
    dead mid-rewrite builder really can leave a mismatched snapshot."""
    import uuid

    from distributed_graph_db_c_spark.operators.bucketing import index_drop_all
    from distributed_graph_db_c_spark.operators.similarity import (
        _lsh_index_claim,
        decontaminate_incremental,
        lsh_index_build,
    )
    from distributed_graph_db_c_spark.queries.dedup import (
        _GRADE_MULTIPROBE,
        _GRADE_THRESHOLD,
        _PLANT_ID_OFFSET,
        _grade_corpus,
    )
    from distributed_graph_db_c_spark.sinks import ConcurrentCommitError

    corpus = _grade_corpus(spark, SF_DIR)
    ev = corpus.filter(F.col("vec_id") >= _PLANT_ID_OFFSET)
    tr = corpus.filter(F.col("vec_id") < _PLANT_ID_OFFSET)
    prefix = f"deconclaim_{uuid.uuid4().hex[:8]}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    claim = _lsh_index_claim(warehouse, prefix)
    try:
        lsh_index_build(
            tr, prefix, threshold=_GRADE_THRESHOLD, dim=64,
            vec_col="v", multiprobe=_GRADE_MULTIPROBE,
        )
        before = sorted(
            map(tuple, decontaminate_incremental(ev, prefix, vec_col="v").collect())
        )
        with open(claim.replace("file:", ""), "w") as f:
            f.write("wedged-builder")
        # published generation: the claim does not block, the result is
        # the exact same snapshot
        during = sorted(
            map(tuple, decontaminate_incremental(ev, prefix, vec_col="v").collect())
        )
        assert during == before and before
        # legacy/never-built prefix under a claim: refuse loudly (the
        # generation-0 path raises BEFORE touching any table)
        legacy_prefix = f"deconlegacy_{uuid.uuid4().hex[:8]}"
        legacy_claim = _lsh_index_claim(warehouse, legacy_prefix)
        with open(legacy_claim.replace("file:", ""), "w") as f:
            f.write("wedged-builder")
        try:
            with pytest.raises(ConcurrentCommitError):
                decontaminate_incremental(ev, legacy_prefix, vec_col="v")
        finally:
            os.remove(legacy_claim.replace("file:", ""))
    finally:
        if os.path.exists(claim.replace("file:", "")):
            os.remove(claim.replace("file:", ""))
        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))


def test_lsh_index_attach_recovers_catalog_and_result(spark):
    """The restarted-nightly-driver path for the decontamination index
    (the minhash attach test's twin): drop the catalog entries (the
    in-memory catalog's behavior at session end), restore the surviving
    files, lsh_index_attach, and require (a) the exact screening result
    back, (b) the bucketed scan retained (zero-index-shuffle plan), and
    (c) the managed-entry purge guard refusing a same-session attach."""
    import shutil
    import uuid
    from urllib.parse import urlparse

    from distributed_graph_db_c_spark.operators.similarity import (
        decontaminate_incremental,
        lsh_index_attach,
        lsh_index_build,
    )
    from distributed_graph_db_c_spark.queries.dedup import (
        _GRADE_MULTIPROBE,
        _GRADE_THRESHOLD,
        _grade_corpus,
        _is_eval_col,
    )

    corpus = _grade_corpus(spark, SF_DIR)
    ev = corpus.filter(_is_eval_col())
    tr = corpus.filter(~_is_eval_col())
    prefix = f"deconattach_{uuid.uuid4().hex[:8]}"
    try:
        lsh_index_build(
            tr, prefix, threshold=_GRADE_THRESHOLD, dim=64,
            vec_col="v", multiprobe=_GRADE_MULTIPROBE,
        )
        before = sorted(
            map(
                tuple,
                decontaminate_incremental(ev, prefix, vec_col="v").collect(),
            )
        )
        # (c) same-session attach must refuse, data surviving
        with pytest.raises(ValueError, match="MANAGED|managed"):
            lsh_index_attach(spark, prefix)
        # simulate session loss: files aside, drop managed (purges), restore
        from distributed_graph_db_c_spark.operators.bucketing import (
            index_gen_prefix,
            index_resolve,
        )

        gen = index_resolve(spark, prefix)
        gp = index_gen_prefix(prefix, gen)
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (f"{gp}_buckets", f"{gp}_vectors", f"{gp}_meta"):
            shutil.copytree(f"{warehouse}/{t}", f"{warehouse}/_keep_{t}")
            spark.sql(f"DROP TABLE {t}")
            shutil.move(f"{warehouse}/_keep_{t}", f"{warehouse}/{t}")
        assert lsh_index_attach(spark, prefix) == gen
        after = sorted(
            map(
                tuple,
                decontaminate_incremental(ev, prefix, vec_col="v").collect(),
            )
        )
        assert after == before and before
        plan = (
            decontaminate_incremental(ev, prefix, vec_col="v", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, (
            plan[:1500]
        )
    finally:
        from distributed_graph_db_c_spark.operators.bucketing import index_drop_all

        index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))


def test_ivf_append_precondition_failures_release_claim(spark):
    """An append that fails BEFORE any mutation — here: a legacy index
    with no meta table — must release its claim instead of permanently
    wedging a valid index behind a marker whose remedy ('rerun the
    append') would fail identically forever."""
    import shutil

    from distributed_graph_db_c_spark.operators.similarity import (
        _append_claim,
        ivf_append,
        ivf_build,
        ivf_query_persisted,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    s = scratch_dir("ivfappwedge")
    try:
        from distributed_graph_db_c_spark.operators.similarity import ivf_resolve

        ivf_build(base, f"{s}/idx", n_cells=24)
        # a pre-meta legacy index (meta sidecar missing in the generation)
        shutil.rmtree(f"{ivf_resolve(spark, f'{s}/idx')}/meta")
        with pytest.raises(Exception):
            ivf_append(spark, f"{s}/idx", delta)
        assert not os.path.exists(_append_claim(f"{s}/idx")), (
            "pre-mutation failure left the claim standing"
        )
        # the untouched index still answers
        assert (
            ivf_query_persisted(
                spark, f"{s}/idx", query_vec=[1.0] + [0.0] * 63,
                top_k=3, nprobe=24,
            ).count()
            == 3
        )
    finally:
        cleanup(s)


def test_ivf_segment_pin_time_travels_within_generation(spark):
    """Round 12: as_of_segment pins the IVF read's within-generation
    append horizon — 0 answers the pre-append base bit-identically, a
    fresh resolve sees base + segments, and pinning an unpublished
    segment raises (explicit, never a silent fallback).  The
    minhash/LSH readers' segment pin, applied to the third index."""
    from distributed_graph_db_c_spark.operators.similarity import (
        ivf_append,
        ivf_batch_query_persisted,
        ivf_build,
        ivf_query_persisted,
    )
    from distributed_graph_db_c_spark.streaming.sources import cleanup, scratch_dir

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    qvec = [1.0] + [0.0] * 63
    s = scratch_dir("ivfsegpin")
    try:
        ivf_build(base, f"{s}/idx", n_cells=24)
        pre = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24
                ).collect(),
            )
        )
        ivf_append(spark, f"{s}/idx", delta)
        pinned = sorted(
            map(
                tuple,
                ivf_query_persisted(
                    spark, f"{s}/idx", query_vec=qvec, top_k=5, nprobe=24,
                    as_of_segment=0,
                ).collect(),
            )
        )
        assert pinned == pre, "segment pin diverged from the pre-append base"
        fresh = {
            r["vec_id"]
            for r in ivf_query_persisted(
                spark, f"{s}/idx", query_vec=qvec, top_k=500, nprobe=24
            ).collect()
        }
        assert {r["vec_id"] for r in delta.collect()} <= fresh
        # batch path honors the same pin
        b_pre = sorted(
            map(
                tuple,
                ivf_batch_query_persisted(
                    spark, f"{s}/idx", [(7, qvec)], top_k=5, nprobe=24,
                    as_of_segment=0,
                ).collect(),
            )
        )
        assert [t[1] for t in b_pre] == [t[0] for t in pre], (
            "batch segment pin != single-query pin on the same snapshot"
        )
        with pytest.raises(FileNotFoundError, match="segment 9"):
            ivf_query_persisted(
                spark, f"{s}/idx", query_vec=qvec, as_of_segment=9
            )
    finally:
        cleanup(s)
