"""Pins for the minhash index's APPEND/RETRAIN lifecycle (round 12,
late — the banked handoff candidate e): delta-sized segment appends,
snapshot isolation by layout, the rebuild trigger, restart recovery and
vacuum hygiene.  The registry gate is dedup_index_append (oracle-backed);
these pins state the operator-level contracts the gate's one corpus
split cannot."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.bucketing import (
    index_drop_all,
    index_gen_prefix,
    index_seg_prefix,
    index_segments,
)
from distributed_graph_db_c_spark.operators.dedup import (
    _index_claim,
    incremental_dedup_pairs,
    minhash_index_append,
    minhash_index_attach,
    minhash_index_build,
    minhash_index_status,
    minhash_index_vacuum,
)
from distributed_graph_db_c_spark.sinks import ConcurrentCommitError


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, " ".join(f"w{j + i}" for j in range(25))) for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _pairs(df) -> dict:
    return {
        (r["old_id"], r["new_id"]): round(r["jaccard"], 9) for r in df.collect()
    }


def _clean(spark, prefix: str) -> None:
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_bands", "_shingles"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(_index_claim(warehouse, prefix)), False)


def test_append_matches_union_build_and_is_associative(spark):
    """base ∪ segments must index EXACTLY what one build over the union
    indexes (signatures are per-document), and splitting the delta into
    two appends must equal one append of the whole delta."""
    docs = _docs(spark, 0, 60)
    base = docs.filter(F.col("doc_id") < 30)
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
    batch = docs.filter(F.col("doc_id") >= 45)
    for p in ("apx_one", "apx_two", "apx_union"):
        _clean(spark, p)
    try:
        minhash_index_build(base, "apx_one")
        a1 = minhash_index_append(delta, "apx_one")
        assert (a1["generation"], a1["segment"]) == (1, 1)

        minhash_index_build(base, "apx_two")
        minhash_index_append(delta.filter(F.col("doc_id") < 38), "apx_two")
        a2 = minhash_index_append(delta.filter(F.col("doc_id") >= 38), "apx_two")
        assert a2["segment"] == 2
        assert index_segments(spark, "apx_two", 1) == [1, 2]

        minhash_index_build(base.unionByName(delta), "apx_union")

        want = _pairs(incremental_dedup_pairs(batch, "apx_union"))
        assert want, "fixture produced no cross pairs"
        assert _pairs(incremental_dedup_pairs(batch, "apx_one")) == want
        assert _pairs(incremental_dedup_pairs(batch, "apx_two")) == want
    finally:
        for p in ("apx_one", "apx_two", "apx_union"):
            _clean(spark, p)


def test_append_snapshot_isolation_and_segment_pin(spark):
    """A reader plan resolved BEFORE an append keeps answering the
    pre-append snapshot bit-identically (segments publish via one
    marker; the resolved segment list never changes underneath a plan).
    as_of_segment=0 pins the same snapshot explicitly; pinning an
    unpublished segment raises."""
    docs = _docs(spark, 0, 60)
    base = docs.filter(F.col("doc_id") < 30)
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
    batch = docs.filter(F.col("doc_id") >= 45)
    _clean(spark, "apx_iso")
    try:
        minhash_index_build(base, "apx_iso")
        before = _pairs(incremental_dedup_pairs(batch, "apx_iso"))
        lazy = incremental_dedup_pairs(batch, "apx_iso", materialize=False)
        minhash_index_append(delta, "apx_iso")
        assert _pairs(lazy) == before, "racing append leaked into a resolved plan"
        assert (
            _pairs(incremental_dedup_pairs(batch, "apx_iso", as_of_segment=0))
            == before
        )
        after = _pairs(incremental_dedup_pairs(batch, "apx_iso"))
        assert set(after) > set(before), "append invisible to a fresh resolve"
        assert all(30 <= o < 45 for (o, _n) in set(after) - set(before))
        with pytest.raises(FileNotFoundError, match="segment 5"):
            incremental_dedup_pairs(batch, "apx_iso", as_of_segment=5)
        # scale-shape pin: with a segment present the index side stays
        # CO-LOCATED — every part's bands/shingles scan reports its
        # bucket layout; only the delta's slim (id, bkey) rows shuffle,
        # once per part (2 parts -> <= 2 bkey exchanges)
        import re

        plan = (
            incremental_dedup_pairs(batch, "apx_iso", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("SelectedBucketsCount") >= 4, plan[:1500]
        n_bkey = len(re.findall(r"Exchange hashpartitioning\(bkey", plan))
        assert n_bkey <= 2, f"index side reshuffled: {n_bkey} bkey exchanges"
    finally:
        _clean(spark, "apx_iso")


def test_append_refusals_release_claim_when_untouched(spark):
    """Pre-mutation refusals (no generation / duplicate ids / internal
    duplicates / standing claim) must leave the index untouched AND the
    claim released — a valid index never wedges behind a marker whose
    remedy would fail identically forever."""
    from distributed_graph_db_c_spark.sinks import _hadoop_fs, claim_marker

    docs = _docs(spark, 0, 45)
    base = docs.filter(F.col("doc_id") < 30)
    delta = docs.filter(F.col("doc_id") >= 30)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    _clean(spark, "apx_ref")
    try:
        # (a) no published generation: refuse, release
        with pytest.raises(FileNotFoundError, match="no published generation"):
            minhash_index_append(delta, "apx_ref")
        assert not fs.exists(jpath(_index_claim(warehouse, "apx_ref")))
        minhash_index_build(base, "apx_ref")  # claim was released: build works
        # (b) re-ingested id: refuse, release, index intact
        with pytest.raises(ValueError, match="already indexed"):
            minhash_index_append(base.limit(3), "apx_ref")
        assert not fs.exists(jpath(_index_claim(warehouse, "apx_ref")))
        assert index_segments(spark, "apx_ref", 1) == []
        # (c) internally duplicated delta: refuse
        dup = delta.unionByName(delta.limit(1))
        with pytest.raises(ValueError, match="internally duplicated"):
            minhash_index_append(dup, "apx_ref")
        # (d) standing claim (a racing build/append): loud refusal
        claim_marker(fs, jpath, _index_claim(warehouse, "apx_ref"), "test")
        with pytest.raises(ConcurrentCommitError):
            minhash_index_append(delta, "apx_ref")
        fs.delete(jpath(_index_claim(warehouse, "apx_ref")), False)
        # healthy append still works after all refusals
        assert minhash_index_append(delta, "apx_ref")["segment"] == 1
    finally:
        _clean(spark, "apx_ref")


def test_retrain_trigger_and_status_recompute_from_disk(spark):
    """retrain_due flips when appended/base crosses retrain_frac, and
    minhash_index_status recomputes the identical ledger from markers +
    row counts alone (the restarted nightly driver needs no sidecar);
    a rebuild (next generation) resets the segment count."""
    docs = _docs(spark, 0, 80)
    base = docs.filter(F.col("doc_id") < 40)  # 40 rows
    d1 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 50))  # 10
    d2 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 64))  # 14
    _clean(spark, "apx_rt")
    try:
        minhash_index_build(base, "apx_rt")
        a1 = minhash_index_append(d1, "apx_rt")
        assert (a1["appended_frac"], a1["retrain_due"]) == (0.25, False)
        assert a1["n_segments"] == 1
        # the trigger's SEGMENT-COUNT side (the 1000x guard) trips
        # independently of the row fraction: same on-disk state, a
        # max_segments=1 policy is already due at frac 0.25
        assert minhash_index_status(spark, "apx_rt", max_segments=1)[
            "retrain_due"
        ]
        a2 = minhash_index_append(d2, "apx_rt")
        assert a2["appended_rows"] == 24 and a2["retrain_due"]  # 0.6 >= 0.5
        st = minhash_index_status(spark, "apx_rt")
        assert st == {
            "generation": 1,
            "segments": [1, 2],
            "base_rows": 40,
            "appended_rows": 24,
            "appended_frac": 0.6,
            "retrain_due": True,
        }
        # fraction side isolated: a lax segment budget is still due at 0.6
        assert minhash_index_status(spark, "apx_rt", max_segments=99)[
            "retrain_due"
        ]
        # the retrain itself: a full build over the union publishes g2
        # with zero segments and the ledger resets
        assert minhash_index_build(docs.filter(F.col("doc_id") < 64), "apx_rt") == 2
        st2 = minhash_index_status(spark, "apx_rt")
        assert (st2["generation"], st2["segments"], st2["retrain_due"]) == (
            2,
            [],
            False,
        )
    finally:
        _clean(spark, "apx_rt")


def test_append_ignores_hs_rows_without_hs_df(spark):
    """``hs_rows`` is the count of a caller's ``hs_df``; an append that
    shingles the batch itself counts its own frame, so a stray count
    cannot skew the ledger away from what minhash_index_status reads
    back from disk."""
    docs = _docs(spark, 0, 50)
    base = docs.filter(F.col("doc_id") < 40)
    delta = docs.filter(F.col("doc_id") >= 40)  # 10 rows
    for p in ("apx_hs", "apx_hs_ref"):
        _clean(spark, p)
    try:
        minhash_index_build(base, "apx_hs")
        minhash_index_build(base, "apx_hs_ref")
        got = minhash_index_append(delta, "apx_hs", hs_rows=999)
        want = minhash_index_append(delta, "apx_hs_ref")
        assert got == want
        assert got["batch_rows"] == 10
        st = minhash_index_status(spark, "apx_hs")
        assert st == minhash_index_status(spark, "apx_hs_ref")
        assert (st["appended_rows"], st["appended_frac"], st["retrain_due"]) == (
            got["appended_rows"],
            got["appended_frac"],
            got["retrain_due"],
        )
    finally:
        for p in ("apx_hs", "apx_hs_ref"):
            _clean(spark, p)


def test_vacuum_destroys_doomed_generation_segments(spark):
    """A vacuumed generation's append segments die with it — markers
    first, then tables/files — and a reader pinned to the vacuumed
    generation fails loudly, never silently re-resolves."""
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    docs = _docs(spark, 0, 60)
    base = docs.filter(F.col("doc_id") < 30)
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
    batch = docs.filter(F.col("doc_id") >= 45)
    _clean(spark, "apx_vac")
    try:
        minhash_index_build(base, "apx_vac")
        minhash_index_append(delta, "apx_vac")
        minhash_index_build(base.unionByName(delta), "apx_vac")  # g2 rebuild
        assert minhash_index_vacuum(spark, "apx_vac", keep_last=1) == [1]
        assert index_segments(spark, "apx_vac", 1) == []
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, jpath = _hadoop_fs(spark, warehouse)
        for p in (index_gen_prefix("apx_vac", 1), index_seg_prefix("apx_vac", 1, 1)):
            for sfx in ("_bands", "_shingles"):
                assert not fs.exists(jpath(f"{warehouse}/{p}{sfx}")), p + sfx
        with pytest.raises(FileNotFoundError):
            incremental_dedup_pairs(batch, "apx_vac", generation=1)
        # the surviving generation still answers
        assert _pairs(incremental_dedup_pairs(batch, "apx_vac"))
    finally:
        _clean(spark, "apx_vac")


def test_attach_recovers_segments_after_restart(spark):
    """The restarted-nightly-driver path WITH segments: dropping the
    catalog entries and re-attaching must restore base + every published
    segment (exact incremental result) and keep the bucketed scans."""
    import shutil
    from urllib.parse import urlparse

    docs = _docs(spark, 0, 60)
    base = docs.filter(F.col("doc_id") < 30)
    delta = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
    batch = docs.filter(F.col("doc_id") >= 45)
    _clean(spark, "apx_att")
    try:
        gen = minhash_index_build(base, "apx_att")
        minhash_index_append(delta, "apx_att")
        before = _pairs(incremental_dedup_pairs(batch, "apx_att"))
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        parts = [index_gen_prefix("apx_att", gen), index_seg_prefix("apx_att", gen, 1)]
        for p in parts:
            for sfx in ("_bands", "_shingles"):
                t = f"{p}{sfx}"
                shutil.copytree(f"{warehouse}/{t}", f"{warehouse}/_keep_{t}")
                spark.sql(f"DROP TABLE {t}")
                shutil.move(f"{warehouse}/_keep_{t}", f"{warehouse}/{t}")
        assert minhash_index_attach(spark, "apx_att") == gen
        assert _pairs(incremental_dedup_pairs(batch, "apx_att")) == before
        plan = (
            incremental_dedup_pairs(batch, "apx_att", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("SelectedBucketsCount") >= 4, plan[:1500]
    finally:
        _clean(spark, "apx_att")
