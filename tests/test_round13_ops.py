"""Round-13 keys and fixes (SURVEY.md §2.12 r13 amendments).

Covers the r12 verdict's asks: the checkpoint-lost resume fix on the
stateful CDF readers (ADVICE #1), the re-lit general V>63 PPJoin
kernel (verdict "What's wrong" #1), and the new composition-seam keys
(checkpointed-root cross-table feed, OCC-rebase exactly-once,
AS-OF index consistency, schema evolution through the index feed,
vacuum x CDF contract).
"""

from __future__ import annotations

import json
import os

import sparkgraft
from conftest import SF_DIR


def _write_cursor(state_dir: str, version: int) -> None:
    os.makedirs(state_dir, exist_ok=True)
    with open(os.path.join(state_dir, "last_committed.json"), "w") as fh:
        json.dump({"version": version}, fh)


def test_log_cdf_reader_initial_offset_resumes_from_state_dir(tmp_path):
    """ADVICE r12 #1: a reader constructed with a state_dir cursor must
    RESUME from it in initialOffset() — the path Spark consults when
    the stream checkpoint is lost — not re-announce version 0 (which
    would replay 1.._last in one oversized batch, breaking the
    one-commit-per-batch contract and the feed_batch-stamp dedup)."""
    from sparkgraft.tablelog import LogCDFReader as base

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)

    # no cursor -> fresh start at 0 (unchanged contract)
    r = base({"log_dir": log_dir})
    assert r.initialOffset() == {"version": 0}

    # persisted cursor -> initialOffset resumes there
    state = str(tmp_path / "state")
    _write_cursor(state, 7)
    r2 = base({"log_dir": log_dir, "state_dir": state})
    assert r2.initialOffset() == {"version": 7}


def test_txn_cdf_reader_initial_offset_resumes_from_state_dir(tmp_path):
    """Same checkpoint-lost resume contract on the txn-root reader."""
    from sparkgraft.tablelog import TxnCDFSource as src_cls

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    state = str(tmp_path / "state")
    _write_cursor(state, 3)
    reader = src_cls(
        {"log_dir": log_dir, "state_dir": state}
    ).streamReader(None)
    assert reader.initialOffset() == {"version": 3}
    fresh = src_cls({"log_dir": log_dir}).streamReader(None)
    assert fresh.initialOffset() == {"version": 0}


def test_vacuum_horizon_contract_end_to_end(spark):
    """Driving the key exercises all three in-key proofs: the
    stale-cursor feed raises at planning time with nothing delivered,
    the documented seed-plus-stream recovery reproduces the live head
    digest, and the POST-VACUUM delete-bearing commit still plans
    (sequence scoping rides the persisted checkpoint, not the expired
    manifests)."""
    out = sparkgraft.QUERIES["stream_cdf_vacuum_horizon"](
        spark, SF_DIR
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.stale_cursor_raises and r.nothing_streamed_before_raise
    assert r.horizon == 2 and r.n_batches_after_seed == 2
    assert r.post_vacuum_delete_planned and r.delete_events > 0
    assert r.seed_rows < r.head_rows
    assert r.seed_cents < r.head_cents


def test_base_reader_refuses_cursor_below_vacuum_horizon(tmp_path):
    """Unit-level pin of the contract in `tablelog.LogCDFReader`: with
    expired manifests present, partitions() raises for any start at or
    below the newest expired version and plans normally above it."""
    import pytest

    from sparkgraft.tablelog import LogCDFReader

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    # manifests v1, v2 expired; v3, v4 retained (absolute file lists)
    (log_dir / "v1.json.expired").write_text('{"files": []}')
    (log_dir / "v2.json.expired").write_text('{"files": []}')
    (log_dir / "v3.json").write_text('{"snapshot": 3, "files": ["a"]}')
    (log_dir / "v4.json").write_text(
        '{"snapshot": 4, "files": ["a", "b"]}'
    )

    r = LogCDFReader({"log_dir": str(log_dir)})
    for stale in (0, 1, 2):
        with pytest.raises(RuntimeError, match="vacuum horizon"):
            r.partitions({"version": stale}, {"version": 4})
    # cursor 3 plans v4's delta without touching expired manifests
    parts = r.partitions({"version": 3}, {"version": 4})
    assert [(p.version, p.kind, p.path) for p in parts] == [
        (4, "insert", "b")
    ]


def test_txn_checkpoint_feed_open_discipline(spark):
    """Driving the key exercises the whole contract: the fresh feed's
    pointer+checkpoint+tail open sequence, the pre-checkpoint-cursor
    restart's pure-delta resumption, the txn-6 atomic cut, and the
    three-way MV digest agreement."""
    rows = sparkgraft.QUERIES["stream_cdf_txn_checkpoint"](
        spark, SF_DIR
    ).collect()
    assert rows  # one row per market segment
    r = rows[0]
    assert r.seed_version == 10
    assert r.fresh_batches == 3 and r.fresh_opens == 4
    assert r.restart_cursor == 3
    assert r.restart_batches == 9 and r.restart_opens == 9
    assert r.restart_skips_pointer
    assert r.seed_matches_checkpoint and r.txn6_spans_both_tables
    assert sum(x.n_rows for x in rows) > r.seed_fact_rows


def test_rebase_exactly_once_feed(spark):
    """Driving the key proves the race really happened, the lost
    attempt leaked nothing, nothing duplicated, and the event-built
    tables equal the head tables."""
    out = sparkgraft.QUERIES["stream_cdf_rebase_exactly_once"](
        spark, SF_DIR
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.txn_head == 3 and r.n_batches == 3
    assert r.race_happened and r.zero_delete_events
    assert r.no_duplicate_events and r.stale_map_would_retract_winner
    assert r.fact_rows > 0 and r.dim_rows > 0


def test_index_asof_two_versions(spark):
    """Driving the key proves both AS-OF equalities (index@k ==
    rebuild from docs@k for k=2,3) and that the versions genuinely
    differ by exactly the retired rows."""
    rows = sparkgraft.QUERIES["dedup_index_asof"](spark, SF_DIR).collect()
    v2 = [r for r in rows if r.asof_version == 2]
    v3 = [r for r in rows if r.asof_version == 3]
    assert v2 and v3
    assert all(r.stamps_monotone for r in rows)
    retired = rows[0].retired_rows
    assert retired > 0
    assert sum(r.n_docs for r in v2) - sum(r.n_docs for r in v3) == retired


def test_index_feed_survives_schema_evolution(spark):
    """Driving the key: metadata-only batch empty, index log invariant
    to it, post-evolution docs indexed, maintained == rebuilt."""
    rows = sparkgraft.QUERIES["dedup_index_schema_evolution"](
        spark, SF_DIR
    ).collect()
    assert rows
    r = rows[0]
    assert r.metadata_batch_empty and r.index_invariant_to_metadata
    assert r.post_evolution_indexed and r.n_index_commits == 3


def test_doc_cdf_planner_metadata_only_commit_zero_events(tmp_path):
    """Planner pin for the r13 evolution key: a commit whose file list
    is UNCHANGED from its parent (the add-column metadata commit)
    plans ZERO real partitions — only the empty-batch fallback."""
    from sparkgraft.tablelog import DocCDFSource as src_cls

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "v1.json").write_text(
        '{"snapshot": 1, "files": ["a.parquet"]}'
    )
    (log_dir / "v2.json").write_text(
        '{"snapshot": 2, "files": ["a.parquet"], "schema_version": 2}'
    )
    reader = src_cls({"log_dir": str(log_dir)}).streamReader(None)
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert [p.path for p in parts] == [""]  # the empty-batch fallback
    assert list(reader.read(parts[0])) == []


def test_ivf_index_asof_two_versions(spark):
    """ANN half of the AS-OF contract: code-table@k == frozen
    assignment of embeddings@k for k=2,3, versions differing by
    exactly the retired codes."""
    rows = sparkgraft.QUERIES["sim_ivf_index_asof"](spark, SF_DIR).collect()
    v2 = [r for r in rows if r.asof_version == 2]
    v3 = [r for r in rows if r.asof_version == 3]
    assert v2 and v3
    assert all(r.stamps_monotone for r in rows)
    retired = rows[0].retired_rows
    assert retired > 0
    assert sum(r.n_vecs for r in v2) - sum(r.n_vecs for r in v3) == retired
