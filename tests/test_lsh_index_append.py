"""Pins for the decontamination (LSH/embedding) index's APPEND/RETRAIN
lifecycle (round 12, late): frozen-parameter segment appends, snapshot
isolation, the sizing-basis retrain trigger, restart recovery.  The
registry gate is dedup_decontaminate_append (oracle-backed); these pins
state the operator contracts on an adversarial planted corpus with a
brute-force referee."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from distributed_graph_db_c_spark.operators.bucketing import (
    index_drop_all,
    index_segments,
)
from distributed_graph_db_c_spark.operators.similarity import (
    _lsh_index_claim,
    decontaminate_incremental,
    lsh_index_append,
    lsh_index_attach,
    lsh_index_build,
    lsh_index_status,
    lsh_index_vacuum,
)
from distributed_graph_db_c_spark.sinks import ConcurrentCommitError

DIM = 16
THRESHOLD = 0.8


def _corpus(spark):
    """60 train vectors (ids 0..59) + 20 eval vectors (ids 1000+i):
    eval i is train 3i plus small noise — every eval has a planted
    strong match, most in-threshold pairs are unique and known."""
    rng = np.random.RandomState(7)
    train = rng.randn(60, DIM)
    rows = [(i, [float(x) for x in train[i]]) for i in range(60)]
    for i in range(20):
        noisy = train[3 * i] + 0.15 * rng.randn(DIM)
        rows.append((1000 + i, [float(x) for x in noisy]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _split(corpus):
    ev = corpus.filter(F.col("vec_id") >= 1000)
    base = corpus.filter(F.col("vec_id") < 30)
    delta = corpus.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    return ev, base, delta


def _brute_pairs(corpus, eval_min=1000, train_pred=lambda i: True):
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in corpus.collect()}
    out = {}
    for a, va in rows.items():
        if a < eval_min:
            continue
        for b, vb in rows.items():
            if b >= eval_min or not train_pred(b):
                continue
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if c >= THRESHOLD:
                out[(a, b)] = round(c, 9)
    return out


def _pairs(df):
    return {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9) for r in df.collect()
    }


def _clean(spark, prefix):
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    index_drop_all(spark, prefix, ("_buckets", "_vectors", "_meta"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    fs.delete(jpath(_lsh_index_claim(warehouse, prefix)), False)


def test_lsh_append_matches_bruteforce_and_segment_pin(spark):
    """build(base) + append(delta) must screen the eval batch exactly
    as brute force over eval x (base ∪ delta) does (frozen-parameter
    decomposition + total recall at this scale), and the as_of_segment=0
    pin must answer exactly the pre-append (base-only) construction."""
    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    _clean(spark, "lap_idx")
    try:
        g = lsh_index_build(
            base, "lap_idx", threshold=THRESHOLD, dim=DIM, multiprobe=4
        )
        assert g == 1
        audit = lsh_index_append(delta, "lap_idx")
        assert (audit["generation"], audit["segment"]) == (1, 1)
        assert index_segments(spark, "lap_idx", 1) == [1]

        want_full = _brute_pairs(corpus)
        want_base = _brute_pairs(corpus, train_pred=lambda b: b < 30)
        assert want_full and set(want_full) > set(want_base), "weak fixture"
        got_full = _pairs(decontaminate_incremental(ev, "lap_idx"))
        got_base = _pairs(
            decontaminate_incremental(ev, "lap_idx", as_of_segment=0)
        )
        assert got_full == want_full
        assert got_base == want_base
        with pytest.raises(FileNotFoundError, match="segment 9"):
            decontaminate_incremental(ev, "lap_idx", as_of_segment=9)
    finally:
        _clean(spark, "lap_idx")


def test_lsh_append_snapshot_isolation(spark):
    """A reader plan resolved BEFORE an append keeps answering the
    pre-append snapshot — appends are invisible to resolved plans by
    layout (segments publish via one marker)."""
    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    _clean(spark, "lap_iso")
    try:
        lsh_index_build(base, "lap_iso", threshold=THRESHOLD, dim=DIM, multiprobe=4)
        before = _pairs(decontaminate_incremental(ev, "lap_iso"))
        lazy = decontaminate_incremental(ev, "lap_iso", materialize=False)
        lsh_index_append(delta, "lap_iso")
        assert _pairs(lazy) == before, "racing append leaked into a resolved plan"
        after = _pairs(decontaminate_incremental(ev, "lap_iso"))
        assert set(after) > set(before)
        assert all(30 <= b < 60 for (_a, b) in set(after) - set(before))
        # scale-shape pin: with a segment present the index side stays
        # CO-LOCATED (bucketed scans on every part); only the eval
        # batch's slim bucket rows shuffle, once per part
        import re

        plan = (
            decontaminate_incremental(ev, "lap_iso", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("SelectedBucketsCount") >= 4, plan[:1500]
        n_bkey = len(re.findall(r"Exchange hashpartitioning\(bkey", plan))
        assert n_bkey <= 2, f"index side reshuffled: {n_bkey} bkey exchanges"
    finally:
        _clean(spark, "lap_iso")


def test_lsh_append_refusals_and_retrain_ledger(spark):
    """Pre-mutation refusals release the claim and leave the index
    untouched; the retrain trigger tracks the RECORDED sizing basis and
    lsh_index_status recomputes the identical ledger from disk; a
    rebuild resets it."""
    from distributed_graph_db_c_spark.sinks import _hadoop_fs, claim_marker

    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    _clean(spark, "lap_ref")
    try:
        with pytest.raises(FileNotFoundError, match="no published generation"):
            lsh_index_append(delta, "lap_ref")
        assert not fs.exists(jpath(_lsh_index_claim(warehouse, "lap_ref")))
        lsh_index_build(base, "lap_ref", threshold=THRESHOLD, dim=DIM, multiprobe=4)
        with pytest.raises(ValueError, match="already indexed"):
            lsh_index_append(base.limit(2), "lap_ref")
        assert not fs.exists(jpath(_lsh_index_claim(warehouse, "lap_ref")))
        assert index_segments(spark, "lap_ref", 1) == []
        with pytest.raises(ValueError, match="internally duplicated"):
            lsh_index_append(delta.unionByName(delta.limit(1)), "lap_ref")
        # wrong-width delta: pre-mutation refusal, claim released, index
        # untouched (not a mid-write wedge)
        bad = spark.createDataFrame(
            [(7777, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="width"):
            lsh_index_append(bad, "lap_ref")
        assert not fs.exists(jpath(_lsh_index_claim(warehouse, "lap_ref")))
        assert index_segments(spark, "lap_ref", 1) == []
        claim_marker(fs, jpath, _lsh_index_claim(warehouse, "lap_ref"), "t")
        with pytest.raises(ConcurrentCommitError):
            lsh_index_append(delta, "lap_ref")
        fs.delete(jpath(_lsh_index_claim(warehouse, "lap_ref")), False)

        # ledger: base 30, delta 30 -> frac 1.0 against the recorded basis
        audit = lsh_index_append(delta, "lap_ref")
        assert (audit["basis_rows"], audit["appended_rows"]) == (30, 30)
        assert audit["appended_frac"] == 1.0 and audit["retrain_due"]
        assert audit["n_segments"] == 1
        # segment-count side of the trigger (the 1000x guard): with the
        # fraction below threshold it still trips on count alone
        assert not lsh_index_status(
            spark, "lap_ref", retrain_frac=9.9, max_segments=2
        )["retrain_due"]
        assert lsh_index_status(
            spark, "lap_ref", retrain_frac=9.9, max_segments=1
        )["retrain_due"]
        st = lsh_index_status(spark, "lap_ref")
        assert st == {
            "generation": 1,
            "segments": [1],
            "basis_rows": 30,
            "appended_rows": 30,
            "appended_frac": 1.0,
            "retrain_due": True,
        }
        # the retrain: full rebuild over the union -> g2, ledger reset,
        # parameters re-sized for 60 rows (recorded basis updates)
        g2 = lsh_index_build(
            base.unionByName(delta), "lap_ref",
            threshold=THRESHOLD, dim=DIM, multiprobe=4,
        )
        assert g2 == 2
        st2 = lsh_index_status(spark, "lap_ref")
        assert (st2["generation"], st2["segments"], st2["basis_rows"],
                st2["retrain_due"]) == (2, [], 60, False)
        # g1 (with its segment) still answers its own construction
        pinned = _pairs(decontaminate_incremental(ev, "lap_ref", generation=1))
        assert pinned == _brute_pairs(corpus)
        # vacuum destroys g1 + its segment; pinned readers fail loudly
        assert lsh_index_vacuum(spark, "lap_ref", keep_last=1) == [1]
        assert index_segments(spark, "lap_ref", 1) == []
        with pytest.raises(FileNotFoundError):
            decontaminate_incremental(ev, "lap_ref", generation=1)
    finally:
        _clean(spark, "lap_ref")


def test_lsh_attach_recovers_segments_after_restart(spark):
    """Restart recovery WITH segments: drop catalog entries, re-attach,
    exact same screen result, bucketed scans preserved."""
    import shutil
    from urllib.parse import urlparse

    from distributed_graph_db_c_spark.operators.bucketing import (
        index_gen_prefix,
        index_seg_prefix,
    )

    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    _clean(spark, "lap_att")
    try:
        gen = lsh_index_build(
            base, "lap_att", threshold=THRESHOLD, dim=DIM, multiprobe=4
        )
        lsh_index_append(delta, "lap_att")
        before = _pairs(decontaminate_incremental(ev, "lap_att"))
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        parts = [index_gen_prefix("lap_att", gen), index_seg_prefix("lap_att", gen, 1)]
        tables = [f"{p}{s}" for p in parts for s in ("_buckets", "_vectors")]
        tables.append(f"{index_gen_prefix('lap_att', gen)}_meta")
        for t in tables:
            shutil.copytree(f"{warehouse}/{t}", f"{warehouse}/_keep_{t}")
            spark.sql(f"DROP TABLE {t}")
            shutil.move(f"{warehouse}/_keep_{t}", f"{warehouse}/{t}")
        assert lsh_index_attach(spark, "lap_att") == gen
        assert _pairs(decontaminate_incremental(ev, "lap_att")) == before
        plan = (
            decontaminate_incremental(ev, "lap_att", materialize=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("SelectedBucketsCount") >= 4, plan[:1500]
    finally:
        _clean(spark, "lap_att")


def test_lsh_append_refuses_buckets_of_another_width(spark):
    """A shared ``buckets_df`` bucketed under another n_tables than the
    index recorded is refused in the segment write: claim released, no
    segment published, and a correct retry appends normally."""
    from distributed_graph_db_c_spark.operators.bucketing import index_gen_prefix
    from distributed_graph_db_c_spark.operators.similarity import with_lsh_buckets
    from distributed_graph_db_c_spark.sinks import _hadoop_fs

    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, warehouse)
    _clean(spark, "lap_wid")
    try:
        gen = lsh_index_build(base, "lap_wid", threshold=THRESHOLD, dim=DIM, multiprobe=4)
        meta = spark.table(f"{index_gen_prefix('lap_wid', gen)}_meta").head()
        before = _pairs(decontaminate_incremental(ev, "lap_wid"))
        wide = with_lsh_buckets(
            delta, DIM, n_planes=int(meta["n_planes"]), n_tables=int(meta["n_tables"]) + 1
        )
        with pytest.raises(Exception, match="recorded n_tables"):
            lsh_index_append(delta, "lap_wid", buckets_df=wide)
        assert not fs.exists(jpath(_lsh_index_claim(warehouse, "lap_wid")))
        assert index_segments(spark, "lap_wid", gen) == []
        assert _pairs(decontaminate_incremental(ev, "lap_wid")) == before
        assert lsh_index_append(delta, "lap_wid")["segment"] == 1
    finally:
        _clean(spark, "lap_wid")


def test_continuous_embedding_dedup_screens_its_resolved_generation(
    spark, tmp_path, monkeypatch
):
    """The embedding stream handler classifies a batch against the
    generation it resolved; its screen must read that same generation
    even when a rebuild publishes a newer one before the screen runs."""
    from distributed_graph_db_c_spark.operators import similarity
    from distributed_graph_db_c_spark.operators.similarity import N_PLANES
    from distributed_graph_db_c_spark.streaming.dedup import (
        EMB_PAIRS_DDL,
        continuous_embedding_dedup,
    )

    corpus = _corpus(spark)
    ev, base, delta = _split(corpus)
    batch = ev.filter(F.col("vec_id") < 1010)  # planted matches 0, 3, .., 27: all in base
    screen = similarity.decontaminate_incremental

    def rebuild_then_screen(*args, **kwargs):
        # a rebuild over a same-sized corpus (same plane sizing) that
        # holds none of the batch's planted matches
        assert lsh_index_build(
            delta, "lap_gen", threshold=THRESHOLD, dim=DIM, multiprobe=N_PLANES
        ) == 2
        return screen(*args, **kwargs)

    monkeypatch.setattr(similarity, "decontaminate_incremental", rebuild_then_screen)
    pairs_dir = str(tmp_path / "pairs")
    _clean(spark, "lap_gen")
    try:
        handler = continuous_embedding_dedup("lap_gen", pairs_dir, threshold=THRESHOLD, dim=DIM)
        handler(base, 0)  # bootstraps generation 1
        handler(batch, 1)
        got = {
            (r["id_b"], r["id_a"])
            for r in spark.read.schema(EMB_PAIRS_DDL).parquet(pairs_dir).collect()
            if r["id_b"] >= 1000 and r["id_a"] < 1000
        }
        want = {p for p in _brute_pairs(corpus, train_pred=lambda b: b < 30) if p[0] < 1010}
        assert want and got == set(want)
    finally:
        _clean(spark, "lap_gen")
