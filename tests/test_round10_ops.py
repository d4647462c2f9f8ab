"""Round-10 operator tests: refs-aware vacuum, the MOR-aware change
feed, the oracle-exact IVF rewrite, and the partitioned delete-aware
CDF reader's restart reconciliation (SURVEY.md §2.12 r10 amendments).

The new keys carry hard in-key protocol asserts (ref-pinned survival +
rejected-batch collection, per-batch work-unit counts, signed-replay ==
sequence-scoped head, delete-strictly-exceeds-insert), so every
preflight run is already a behavior proof; the tests here pin what the
in-key asserts cannot see — event-set identity against independently
computed slices, the quantized-IVF/exact-kNN relationship, and the
restart-offset clamp on a fresh reader instance.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

import sparkgraft
from conftest import SF_DIR
from sparkgraft.catalog import load


def test_vacuum_refs_aware_digests(spark):
    """The post-vacuum ref reads must equal independently computed
    slices: main == full orders, the pinned tag == the pre-cutoff
    slice — proving the ref-pinned snapshot survived byte-identically."""
    rows = {
        r["ref"]: (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["sink_vacuum_refs_aware"](
            spark, SF_DIR
        ).collect()
    }
    o = load(spark, SF_DIR, "orders")
    digest = [
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("c"),
    ]
    full = o.agg(*digest).collect()[0]
    pre = (
        o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .agg(*digest)
        .collect()[0]
    )
    assert rows["branch:main"] == (full["n"], full["c"])
    assert rows["tag:baseline"] == (pre["n"], pre["c"])
    assert rows["tag:baseline"][0] < rows["branch:main"][0]


def test_cdf_mor_event_sets(spark):
    """Every commit class must stream the right event set: MOR delete ==
    the masked slice, the upsert's pair nets to the re-price delta, and
    sequence scoping keeps the upsert's own adds unmasked."""
    rows = {
        (r["version"], r["change_type"]): (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_cdf_mor"](spark, SF_DIR).collect()
    }
    assert set(rows) == {
        (1, "insert"),
        (2, "delete"),
        (3, "delete"),
        (3, "insert"),
        (4, "insert"),
    }
    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    n_total = o.count()
    del_slice = o.filter(F.col("o_orderkey") % 10 == 4)
    ups_slice = o.filter(F.col("o_orderkey") % 10 == 7)
    n_del, n_ups = del_slice.count(), ups_slice.count()
    assert n_del > 0 and n_ups > 0
    assert rows[(1, "insert")][0] == n_total
    assert rows[(2, "delete")][0] == n_del
    # upsert: delete+insert PAIR over the same keys; the insert side
    # carries the re-priced cents (+11 per row) — sequence scoping
    # proven because the inserts exist at all (a reader masking its own
    # commit's adds would emit zero v3 inserts)
    assert rows[(3, "delete")][0] == rows[(3, "insert")][0] == n_ups
    assert rows[(3, "insert")][1] - rows[(3, "delete")][1] == 11 * n_ups


def test_ivfq_matches_exact_knn_mostly(spark):
    """The quantized IVF top-5 must overlap the float-exact kNN top-5 at
    >= 0.9 recall AND its cosine values must agree with the float kernel
    to the quantization tolerance on the shared pairs."""
    exact = {
        (r.qid, r.vec_id): r.cos_sim
        for r in sparkgraft.QUERIES["sim_knn_per_query"](
            spark, SF_DIR
        ).collect()
    }
    ivf = {
        (r.qid, r.vec_id): r.cos_sim
        for r in sparkgraft.QUERIES["sim_ivf_knn"](spark, SF_DIR).collect()
    }
    shared = set(exact) & set(ivf)
    assert len(shared) / len(exact) >= 0.9
    # tolerance: two-stage 1e-6 quantization over 64 dims bounds the
    # dot error at ~1e-5; the float side additionally rounds to 6 dp
    for k in shared:
        assert abs(exact[k] - ivf[k]) < 2e-5, k


def test_partitioned_cdf_reader_restart_clamp(tmp_path):
    """r9 ADVICE: a FRESH reader instance must resume at the committed
    offset (state_dir) instead of re-announcing version 0, and a
    replayed partitions() call must re-sync the in-memory cursor so
    latestOffset never goes backward."""
    from sparkgraft.tablelog import SnapshotCDFSource

    log_dir = str(tmp_path / "log")
    state_dir = str(tmp_path / "state")
    os.makedirs(log_dir)
    for v in (1, 2, 3):
        with open(os.path.join(log_dir, f"v{v}.json"), "w") as fh:
            json.dump({"files": [f"f{i}" for i in range(v)]}, fh)

    src = SnapshotCDFSource(
        {"log_dir": log_dir, "state_dir": state_dir}
    )
    r1 = src.streamReader(None)
    assert r1.latestOffset() == {"version": 1}
    r1.commit({"version": 2})  # engine commits batch ending at v2

    # fresh instance (restart): resumes AT the committed version, and
    # the next latestOffset advances past it instead of restarting at 0
    r2 = src.streamReader(None)
    assert r2._last == 2
    assert r2.latestOffset() == {"version": 3}

    # no state_dir: a replayed partitions(start, end) re-syncs the cursor
    src2 = SnapshotCDFSource({"log_dir": log_dir})
    r3 = src2.streamReader(None)
    r3.partitions({"version": 1}, {"version": 2})  # checkpointed replay
    assert r3.latestOffset() == {"version": 3}


def test_cbo_reorder_result_matches_plain_join(spark):
    """The stats-reordered star must return exactly the plain DataFrame
    join's aggregate — reordering is a physical decision only. (The
    reorder itself is hard-asserted in-key on both conf sides.)"""
    got = {
        (r["n_name"], r["n_orders"], r["cents"])
        for r in sparkgraft.QUERIES["join_cbo_reorder"](spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer")
    n = load(spark, SF_DIR, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    want = {
        (r["n_name"], r["n_orders"], r["cents"])
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) == 2


def test_rollback_restores_and_preserves_history(spark):
    """The post-rollback head digest must equal base + the clean append,
    and the key's forensic flags must be true (v2 still travelable)."""
    row = sparkgraft.QUERIES["scan_snapshot_rollback"](spark, SF_DIR).collect()[0]
    o = load(spark, SF_DIR, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    n_total = o.count()
    n_good = o.filter(F.col("o_orderkey") % 1000 == 7).count()
    assert row["rollback_version"] == 3
    assert row["rollback_metadata_only"] and row["bad_batch_still_travelable"]
    assert row["n_rows"] == n_total + n_good


def test_cherry_pick_promotes_only_a2(spark):
    """Main after the cherry-pick must read base + the A2 slice exactly;
    the stale-removes conflict must have fired."""
    row = sparkgraft.QUERIES["sink_branch_cherry_pick"](spark, SF_DIR).collect()[0]
    o = load(spark, SF_DIR, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    want = o.filter(
        (F.col("o_orderdate") < cutoff)
        | ((F.col("o_orderdate") >= cutoff) & (F.col("o_orderkey") % 10 == 2))
    ).count()
    assert row["conflict_detected"] and row["a1_excluded"]
    assert row["n_rows"] == want


def test_cdf_mv_buckets_complete(spark):
    """The incrementally maintained MV must cover every key bucket and
    net to the post-delete row count (in-key asserts already pin it
    bucket-for-bucket against the direct recompute)."""
    rows = sparkgraft.QUERIES["stream_cdf_materialized_view"](
        spark, SF_DIR
    ).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(8))
    o = load(spark, SF_DIR, "orders")
    n_base = o.count()
    n_del = o.filter(F.col("o_orderkey") % 10 == 4).count()
    n_app = o.filter(F.col("o_orderkey") % 1000 == 7).count()
    assert sum(r["n_rows"] for r in rows) == n_base - n_del + n_app


def test_mv_exactly_once_matches_straight_run(spark):
    """The crash-replayed MV must equal the no-crash MV bucket-for-bucket
    — redelivery converges instead of double-applying (both keys already
    assert equality to the direct head recompute in-key; this pins the
    two keys to EACH OTHER so a shared systematic error cannot hide)."""
    straight = {
        r["bucket"]: (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_cdf_materialized_view"](
            spark, SF_DIR
        ).collect()
    }
    replayed = {
        r["bucket"]: (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_mv_exactly_once"](
            spark, SF_DIR
        ).collect()
    }
    assert straight == replayed and len(straight) == 8


def test_scd2_maintenance_chain(spark):
    """The streamed SCD2 table's four (eff_from, is_current) classes
    must match the independently computed slices, and the two closed
    generations must carry the two distinct re-price deltas."""
    rows = {
        (r["eff_from"], r["is_current"]): (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_scd2_maintenance"](
            spark, SF_DIR
        ).collect()
    }
    assert set(rows) == {(1, False), (1, True), (2, False), (3, True)}
    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ups = o.filter(F.col("o_orderkey") % 10 == 7)
    n_ups = ups.count()
    c_ups = ups.agg(F.sum("cents")).collect()[0][0]
    assert n_ups > 0
    assert rows[(1, False)] == (n_ups, c_ups)
    assert rows[(2, False)] == (n_ups, c_ups + 11 * n_ups)
    assert rows[(3, True)] == (n_ups, c_ups + 111 * n_ups)
    assert rows[(1, True)][0] == o.count() - n_ups


def test_branch_diff_sides_partition_table(spark):
    """shared + main_only + audit_only must partition exactly the union
    of both branch reads — no row lost or double-counted by the
    file-set arithmetic."""
    rows = {
        r["side"]: (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["scan_branch_diff"](spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    n_pre = o.filter(F.col("o_orderdate") < cutoff).count()
    n_rest = o.filter(F.col("o_orderdate") >= cutoff).count()
    assert rows["shared"][0] == n_pre
    assert rows["main_only"][0] + rows["audit_only"][0] == n_rest
    assert rows["main_only"][0] > 0 and rows["audit_only"][0] > 0
