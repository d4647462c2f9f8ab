"""Round-12 composition-seam keys (SURVEY.md §2.12 r12 amendments).

The oracle preflight proves value parity; these tests pin the protocol
invariants the hash can't see. Most keys carry their asserts IN-KEY
(they raise before returning), so the tests drive the keys end-to-end
at sf0.001 and then re-check the observable artifacts the asserts
leave behind.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

import sparkgraft
from conftest import SF_DIR


def test_cdf_schema_evolution_end_to_end(spark):
    """Driving the key exercises every in-key assert: the v1-head log
    plans WITHOUT channel / the v2-head log plans WITH it, the
    metadata-only add-column commit streams zero events, pre-evolution
    events carry NULL channel, and the signed per-channel replay equals
    the head merged-schema read."""
    out = sparkgraft.QUERIES["stream_cdf_schema_evolution"](spark, SF_DIR)
    rows = {
        (r.version, r.change_type, r.channel): (r.n_rows, r.cents)
        for r in out.collect()
    }
    # v2 (the add-column commit) must be absent from the feed entirely
    assert not any(v == 2 for v, _, _ in rows)
    # v1 inserts are ALL legacy (pre-evolution NULL projection)
    v1 = [ch for v, _, ch in rows if v == 1]
    assert v1 == ["LEGACY"]
    # v3 inserts carry all three channel values, never LEGACY
    v3 = sorted(ch for v, _, ch in rows if v == 3)
    assert v3 == ["b2b", "store", "web"]
    # v4 deletes cross BOTH generations: LEGACY and channel rows
    v4 = sorted(ch for v, _, ch in rows if v == 4)
    assert "LEGACY" in v4 and len(v4) == 4


def test_ivf_index_delete_never_serves_tombstoned(spark):
    """Serving from the maintained index: probe the nearest cells, take
    candidates from the POST-DELETE code table, exact re-rank — a
    tombstoned vector must never appear in any top-k, and the index
    must still serve well (recall@5 vs exact kNN over the LIVE corpus
    >= 0.9, the `sim_ivf_knn` floor)."""
    import numpy as np

    from sparkgraft.catalog import load
    from sparkgraft.vectorops import (
        _IVFDEL_MOD,
        _IVFDEL_REM,
        _IVFQ_PROBES,
        _KNN_QUERIES,
        _ivfq_assign,
        _ivfq_centroids,
        _ivfq_probe_ranks,
        _quantize_unit_int,
    )

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    pdf = e.toPandas()  # sf0.001: 500 vectors — bounded test corpus
    ids = pdf["vec_id"].to_numpy()
    X = _quantize_unit_int(np.stack(pdf["embedding"].to_numpy()))
    cq = _ivfq_centroids(spark, SF_DIR)
    codes = _ivfq_assign(spark, e, cq).toPandas()
    cell_of = dict(zip(codes["vec_id"], codes["cell"]))
    deleted = {int(v) for v in ids if v % _IVFDEL_MOD == _IVFDEL_REM}
    maintained = {
        int(v): int(c) for v, c in cell_of.items() if int(v) not in deleted
    }
    assert len(maintained) == len(ids) - len(deleted) and deleted

    qmask = ids < _KNN_QUERIES
    q_ids = ids[qmask]
    ranks = _ivfq_probe_ranks(cq, X[qmask])
    live = np.array([int(v) not in deleted for v in ids])
    dots = X @ X[qmask].T  # exact int64 (500×Q)
    hits, total = 0, 0
    for qi, qid in enumerate(q_ids):
        probed = set(np.where(ranks[qi] <= _IVFQ_PROBES)[0])
        cand = np.array(
            [
                j
                for j, v in enumerate(ids)
                if int(v) in maintained
                and maintained[int(v)] in probed
                and v != qid
            ]
        )
        order = cand[np.argsort(-dots[cand, qi], kind="stable")][:5]
        served = [int(ids[j]) for j in order]
        assert not (set(served) & deleted), f"q{qid} served a deleted id"
        # exact top-5 over the live corpus (excluding self)
        pool = np.where(live & (ids != qid))[0]
        exact = pool[np.argsort(-dots[pool, qi], kind="stable")][:5]
        hits += len(set(served) & {int(ids[j]) for j in exact})
        total += 5
    assert hits / total >= 0.9, f"recall@5 {hits / total:.3f} < 0.9"


def test_dedup_index_maintain_commit_shape(spark):
    """The index table's log must show the maintenance protocol: one
    commit per feed batch — v1/v2 add band-key files only, v3 adds ONLY
    a deletes-class tombstone (retirement is an add-only KB commit,
    never a rewrite of the index files)."""
    sparkgraft.QUERIES["dedup_index_maintain"](spark, SF_DIR)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-dedupidx-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    idx_log = os.path.join(root, "idxlog")
    manifests = {}
    for f in sorted(os.listdir(idx_log)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(idx_log, f)) as fh:
                manifests[int(f[1:-5])] = json.load(fh)["files"]
    assert sorted(manifests) == [1, 2, 3]
    seg = f"{os.sep}deletes{os.sep}"
    v1, v2, v3 = (set(manifests[v]) for v in (1, 2, 3))
    assert v1 and not any(seg in f for f in v1)
    assert v2 > v1 and not any(seg in f for f in v2 - v1)
    delta3 = v3 - v2
    assert delta3 and all(seg in f for f in delta3)
    # every earlier file survives: delete maintenance rewrote nothing
    assert v1 <= v2 <= v3


def test_txn_checkpoint_artifacts(spark):
    """The txn root must hold delta manifests for every txn, checkpoint
    files at the cadence, a pointer at the newest, and each checkpoint
    must equal the union of deltas up to its version."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["scan_txn_checkpoint"](spark, SF_DIR)
    txn_dir = os.path.join(
        _scratch(SF_DIR, "txn_checkpoint_root"), "txnlog"
    )
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(txn_dir)
        if f.startswith("v") and f.endswith(".json")
    )
    assert versions == list(range(1, 13))
    ckpts = sorted(
        int(f[6:-5])
        for f in os.listdir(txn_dir)
        if f.startswith("ckpt-v")
    )
    assert ckpts == [5, 10]
    with open(os.path.join(txn_dir, "_last_checkpoint")) as fh:
        assert int(fh.read()) == 10
    for at in ckpts:
        state: dict = {}
        for v in range(1, at + 1):
            with open(os.path.join(txn_dir, f"v{v}.json")) as fh:
                for t, fl in json.load(fh)["table_adds"].items():
                    state.setdefault(t, set()).update(fl)
        with open(os.path.join(txn_dir, f"ckpt-v{at}.json")) as fh:
            ck = json.load(fh)
        assert ck["version"] == at
        assert {t: sorted(fl) for t, fl in state.items()} == ck["tables"]
        # the dim generation at the checkpoint matches the txn cadence
        assert len(ck["tables"]["dim"]) == (1 if at == 5 else 2)


def test_rewrite_partition_evolution_log_shape(spark):
    """The rewritten head must carry BOTH generations under their own
    specs with zero delete-class files, and the rewrite commit must be
    op-stamped (the field the feed keys on)."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_rewrite_partition_evolution"](spark, SF_DIR)
    log_dir = os.path.join(_scratch(SF_DIR, "rpe_table"), "log")
    manifests = {}
    for f in sorted(os.listdir(log_dir)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                manifests[int(f[1:-5])] = json.load(fh)
    assert sorted(manifests) == [1, 2, 3, 4]
    assert manifests[3].get("op") == "mor-delete"
    assert manifests[4].get("op") == "rewrite"
    head = manifests[4]["files"]
    seg = f"{os.sep}deletes{os.sep}"
    assert not any(seg in f for f in head)
    g1 = [f for f in head if "rw_gen1" in f]
    g2 = [f for f in head if "rw_gen2" in f]
    assert g1 and g2 and len(g1) + len(g2) == len(head)
    assert all("o_year=" in f and "o_quarter=" not in f for f in g1)
    assert all("o_year=" in f and "o_quarter=" in f for f in g2)
    # the rewrite kept per-generation spec metadata in the commit
    assert manifests[4]["specs"] == {
        "1": ["o_year"], "2": ["o_year", "o_quarter"],
    }


def test_cdf_cross_table_state_artifacts(spark):
    """Driving the key exercises the injected crash + redelivery; the
    artifacts it leaves must show one MV state version per txn, the
    pointer at the last, and the reader cursor committed at txn 4."""
    out = sparkgraft.QUERIES["stream_cdf_cross_table"](spark, SF_DIR)
    segs = {r.segment for r in out.collect()}
    assert len(segs) == 5  # all five TPC-H market segments matched
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-cdfxt-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    mv_root = os.path.join(root, "mv")
    versions = sorted(
        d for d in os.listdir(mv_root) if d.startswith("v")
    )
    assert versions == [
        "v00000", "v00001", "v00002", "v00003", "v00004",
    ]
    with open(os.path.join(mv_root, "CURRENT")) as fh:
        assert fh.read().strip().endswith("v00004")
    with open(
        os.path.join(root, "reader_state", "last_committed.json")
    ) as fh:
        assert json.load(fh)["version"] == 5


# (source class, payload column, payload of key k) for each snapshot-log
# feed; the key column is the reader's COLUMNS[0]
_CDF_PAYLOADS = {
    "orders": ("MORCDFSource", "cents", lambda k: k * 100),
    "doc": ("DocCDFSource", "text", lambda k: f"doc {k}"),
    "emb": ("EmbCDFSource", "embedding", lambda k: [float(k), 0.5]),
}


@pytest.mark.parametrize("payload", sorted(_CDF_PAYLOADS))
def test_mor_cdf_same_commit_mixed_encodings_emit_once(payload, tmp_path):
    """One commit adds BOTH a positional DV and an equality tombstone
    whose masks OVERLAP. On a feed that accepts positional deletes
    (orders), a row masked by both must emit exactly one delete event
    (the DV owns it — the planner rides the commit's own DVs in the
    equality partitions' prior list). Feeds scoped to equality deletes
    (doc, emb) must refuse the DV loudly, and an equality-only commit
    streams exactly the tombstoned rows with their payloads. Drives the
    reader's partitions()/read() directly against hand-built logs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkgraft import tablelog

    src_name, col, value = _CDF_PAYLOADS[payload]
    src = getattr(tablelog, src_name)
    key = src.READER.COLUMNS[0]

    root = tmp_path / "mixed"
    (root / "deletes" / "pos").mkdir(parents=True)
    data = str(root / "base.parquet")
    keys = list(range(1, 11))
    pq.write_table(
        pa.table({key: keys, col: [value(k) for k in keys]}), data
    )
    eq = str(root / "deletes" / "eq.parquet")
    pq.write_table(pa.table({key: [3, 4]}), eq)  # keys 3,4
    dv = str(root / "deletes" / "pos" / "dv.parquet")
    pq.write_table(  # ordinals of keys 4,5 -> rows 3,4
        pa.table({"file_path": [data, data], "row_index": [3, 4]}), dv
    )

    def reader_over(name, head_files):
        log = root / name
        log.mkdir()
        (log / "v1.json").write_text(json.dumps({"files": [data]}))
        (log / "v2.json").write_text(json.dumps({"files": head_files}))
        return src(options={"log_dir": str(log)}).streamReader(None)

    def events(reader, parts):
        return sorted(
            (e[0], e[1], e[2], e[3]) for p in parts for e in reader.read(p)
        )

    def deleted(ks):
        return [(2, "delete", k, value(k)) for k in ks]

    reader = reader_over("log", [data, eq, dv])
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert sorted(p.kind for p in parts) == ["mor_delete", "pos_delete"]
    if src.READER.POSITIONAL:
        # key 3: eq only; key 4: BOTH (once!); key 5: DV only
        assert events(reader, parts) == deleted([3, 4, 5])
        return
    for p in parts:
        with pytest.raises(RuntimeError, match="positional delete"):
            list(reader.read(p))
    eq_only = reader_over("log_eq", [data, eq])
    parts = eq_only.partitions({"version": 1}, {"version": 2})
    assert [p.kind for p in parts] == ["mor_delete"]
    assert events(eq_only, parts) == deleted([3, 4])


def test_dedup_index_compaction_log_lifecycle(spark):
    """The index log must show the full lifecycle: three feed commits
    (each stamped with its feed batch), the op=rewrite compaction that
    retires the tombstone, and exactly one post-compaction feed commit
    landing on the compacted head."""
    sparkgraft.QUERIES["dedup_index_compaction"](spark, SF_DIR)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-dedupidxc-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    idx_log = os.path.join(root, "idxlog")
    manifests = {}
    for f in sorted(os.listdir(idx_log)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(idx_log, f)) as fh:
                manifests[int(f[1:-5])] = json.load(fh)
    assert sorted(manifests) == [1, 2, 3, 4, 5]
    assert [manifests[v].get("feed_batch") for v in (1, 2, 3)] == [0, 1, 2]
    assert manifests[4].get("op") == "rewrite"
    assert manifests[5].get("feed_batch") == 3
    seg = f"{os.sep}deletes{os.sep}"
    assert any(seg in f for f in manifests[3]["files"])  # debt existed
    assert not any(seg in f for f in manifests[4]["files"])  # retired
    assert not any(seg in f for f in manifests[5]["files"])
    # the compaction shrank the head; the feed then grew it by one add
    assert len(manifests[4]["files"]) < len(manifests[3]["files"])
    assert len(manifests[5]["files"]) == len(manifests[4]["files"]) + 1


def test_ivf_index_feed_commit_shape(spark):
    """The vector index's log must show the feed protocol: code-file
    adds for the base and delta batches (each stamped with its feed
    batch), an add-only tombstone commit for the delete batch, and no
    rewrites of earlier files."""
    sparkgraft.QUERIES["sim_ivf_index_feed"](spark, SF_DIR)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-ivffeed-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    idx_log = os.path.join(root, "idxlog")
    manifests = {}
    for f in sorted(os.listdir(idx_log)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(idx_log, f)) as fh:
                manifests[int(f[1:-5])] = json.load(fh)
    assert sorted(manifests) == [1, 2, 3]
    assert [manifests[v].get("feed_batch") for v in (1, 2, 3)] == [0, 1, 2]
    seg = f"{os.sep}deletes{os.sep}"
    v1, v2, v3 = (set(manifests[v]["files"]) for v in (1, 2, 3))
    assert v1 and not any(seg in f for f in v1)
    assert v2 > v1 and not any(seg in f for f in v2 - v1)
    delta3 = v3 - v2
    assert delta3 and all(seg in f for f in delta3)
    assert v1 <= v2 <= v3  # retirement rewrote nothing


def test_doc_cdf_inherits_rewrite_awareness(spark, tmp_path):
    """The shared planner base gives the documents feed the op=rewrite
    zero-event skip the MOR reader pioneered (before the r12 refactor
    the doc/schema-evo copies silently lacked it): a compaction commit
    on a documents log must plan no partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkgraft.tablelog import DocCDFSource

    root = tmp_path / "doclog"
    root.mkdir()
    log = root / "log"
    log.mkdir()
    a = str(root / "a.parquet")
    b = str(root / "b.parquet")
    c = str(root / "compacted.parquet")
    for p, ids in ((a, [1, 2]), (b, [3, 4]), (c, [1, 2, 3, 4])):
        pq.write_table(
            pa.table({"doc_id": ids, "text": ["x y z"] * len(ids)}), p
        )
    (log / "v1.json").write_text(json.dumps({"files": [a, b]}))
    (log / "v2.json").write_text(
        json.dumps({"files": [c], "op": "rewrite"})
    )

    reader = DocCDFSource(
        options={"log_dir": str(log)}
    ).streamReader(None)
    ins = reader.partitions({"version": 0}, {"version": 1})
    assert sorted(p.kind for p in ins) == ["insert", "insert"]
    rw = reader.partitions({"version": 1}, {"version": 2})
    # the rewrite commit plans only the empty fallback partition
    assert len(rw) == 1 and rw[0].path == ""
    assert list(reader.read(rw[0])) == []


def test_cdf_schema_evolution_planning_is_head_schema(spark):
    """The plan-time half directly: `head_event_schema` resolves the
    event schema from the head manifest's schema_version stamp."""
    from sparkgraft.tablelog import head_event_schema

    sparkgraft.QUERIES["stream_cdf_schema_evolution"](spark, SF_DIR)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-cdfevo-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    log_dir = os.path.join(root, "log")
    schema, sv = head_event_schema(log_dir)
    assert sv == 2
    assert schema.fieldNames() == [
        "version", "change_type", "o_orderkey", "cents", "channel",
    ]
    # every commit carries the schema stamp forward (the discipline the
    # planner depends on)
    for f in sorted(os.listdir(log_dir)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                assert "schema_version" in json.load(fh), f
