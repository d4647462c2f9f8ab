"""The table-log protocol: manifest-logged tables, their commits, and the
change-data feeds that tail them.

A snapshot log is a directory of immutable JSON manifests ``v{N}.json``,
each listing the table's full file set at version N. Commits publish the
next manifest with an atomic put-if-absent (link after write), so writers
race safely and readers never see a torn manifest. On top of that one
rule sit the other conventions every operator in this package shares:

- delete-class files live under a ``deletes/`` path segment (equality
  tombstones), positional delete vectors under ``deletes/pos/``;
- snapshot expiry tombstones a manifest to ``v{N}.json.expired`` and
  persists per-file sequence numbers to ``seq-v{horizon}.json`` first;
- a transaction root binds several tables' file lists in one manifest
  (``tables``, or delta-form ``table_adds`` with ``ckpt-v{N}.json``
  checkpoints behind a ``_last_checkpoint`` pointer);
- change feeds use log versions as streaming offsets, one version per
  micro-batch, with the reader cursor persisted to ``state_dir``.

The module registers no operators and imports no other sparkgraft module,
so a Python worker that unpickles a feed reader (every class here is
module-level and ships by reference) imports only this file.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# --- file-class and expiry conventions (the sink keys write these paths;
# the readers classify by them — one owner, never re-derived) ---

MOR_DELETE_CLASS = "deletes"  # path segment classifying tombstone files
POS_DELETE_CLASS = "pos"  # sub-segment for POSITIONAL delete vectors
EXPIRED_SUFFIX = ".json.expired"
SEQ_CKPT_PREFIX = "seq-v"
TXN_CKPT_POINTER = "_last_checkpoint"
CURSOR_FILE = "last_committed.json"

DELETE_SEGMENT = f"{os.sep}{MOR_DELETE_CLASS}{os.sep}"
POSITIONAL_SEGMENT = f"{DELETE_SEGMENT}{POS_DELETE_CLASS}{os.sep}"


def is_delete_file(path: str) -> bool:
    return DELETE_SEGMENT in path


def is_positional_delete(path: str) -> bool:
    """Positional delete vectors land under deletes/pos/ — (file_path,
    row_index) pairs, the OTHER delete encoding
    (`sink_positional_delete_vector`); they must never be read with the
    equality-tombstone schema."""
    return POSITIONAL_SEGMENT in path


# --- the snapshot log: listing, manifests, optimistic-concurrency
# commits (the ACID write side of the manifest-logged table) ---


def log_versions(log_dir: str) -> list[int]:
    """Committed snapshot versions, ascending (KB-scale metadata listing)."""
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def read_manifest(log_dir: str, version: int) -> dict:
    with open(os.path.join(log_dir, f"v{version}.json")) as fh:
        return json.load(fh)


def try_publish(
    log_dir: str,
    version: int,
    files: list[str],
    extra: dict | None = None,
) -> bool:
    """Attempt to commit snapshot ``version`` — the atomic COMPARE-AND-SWAP.

    The manifest is fully written to a writer-private temp file first,
    then ``os.link``ed to its final name: link(2) fails with EEXIST
    atomically when another writer already holds that version, and a
    winner's manifest appears complete in one shot (no torn reads — the
    reason this is link-after-write, not open(O_EXCL)-then-write, and
    why rename(2) is unusable here: it silently overwrites, so it can't
    arbitrate). Returns False when the version was lost to a racer; the
    caller re-reads the head and rebases. This is the single-node
    essence of Delta/Iceberg's commit protocol (their LogStores do the
    same put-if-absent against object storage)."""
    tmp = os.path.join(log_dir, f".tmp-v{version}-pid{os.getpid()}-{id(files)}")
    with open(tmp, "w") as fh:
        json.dump(
            {"snapshot": version, "files": sorted(files), **(extra or {})},
            fh,
        )
    try:
        os.link(tmp, os.path.join(log_dir, f"v{version}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class CommitConflict(RuntimeError):
    """A remove-set no longer present in the head snapshot: the files
    this commit rewrites were already rewritten/removed by a racer.
    Blind retry would resurrect or double-apply them — the caller must
    re-plan from the new head (Delta/Iceberg surface the same condition
    as ConcurrentModification/ValidationException)."""


def commit_snapshot(
    log_dir: str,
    add_files: list[str],
    remove_files: list[str] | None = None,
    max_attempts: int = 50,
    extra: dict | None = None,
) -> tuple[int, int]:
    """Optimistic-concurrency commit loop: read head, build the child
    file list (parent − removed + added), CAS-publish, rebase-and-retry
    on loss. Commits are REMOVE/ADD DELTAS, not absolute file lists —
    the reason rebase is safe: an append (no removes) commutes with
    anything, and a rewrite (compaction: removes the inputs it
    compacted, adds their replacement) rebased onto a racer's append
    keeps the appended files instead of silently dropping them (the
    lost-update a naive \"replace the whole list\" semantic has). The
    one genuine conflict — our removes are no longer all present in the
    head, i.e. a racer already rewrote the same files — raises
    ``CommitConflict`` instead of retrying. Returns
    (version, n_retries)."""
    removes = set(remove_files or [])
    retries = 0
    while True:
        versions = log_versions(log_dir)
        head = versions[-1] if versions else 0
        parent = read_manifest(log_dir, head)["files"] if head else []
        if removes and not removes <= set(parent):
            raise CommitConflict(
                f"removed files not in head v{head}: "
                f"{sorted(removes - set(parent))}"
            )
        files = [f for f in parent if f not in removes] + list(add_files)
        if try_publish(log_dir, head + 1, files, extra=extra):
            return head + 1, retries
        retries += 1
        if retries >= max_attempts:
            raise RuntimeError(
                f"commit lost the CAS {max_attempts} times in {log_dir}"
            )


def commit_rewrite(
    log_dir: str,
    add_files: list[str],
    remove_files: list[str],
    planned_at: int,
) -> tuple[int, int]:
    """Commit a rewrite PLANNED AT snapshot ``planned_at``, validating
    the race every delete-applying compaction must check: if any commit
    AFTER planned_at added a delete-class file, that delete applies (by
    the strictly-lower-sequence rule) to the data files this rewrite is
    replacing — but NOT to their replacements, whose sequence is higher.
    Committing anyway would silently RESURRECT the racer's deleted rows
    inside the clean files, so the only safe outcome is
    ``CommitConflict`` and a re-plan from the new head (Iceberg's
    rewrite_data_files surfaces the same condition as 'found new delete
    for replaced data file'). The check is KB manifest arithmetic —
    never a data read.

    The validation runs INSIDE the CAS-retry loop: a validate-once-
    then-delegate shape would re-validate nothing after losing the CAS,
    re-opening the exact window this helper closes (a tombstone landing
    between the check and the retried publish)."""
    removes = set(remove_files)
    retries = 0
    while True:
        versions = log_versions(log_dir)
        head = versions[-1] if versions else 0
        # validate EVERY commit between plan and the CURRENT head — on
        # a retry the window re-extends to the rebased head, so a
        # tombstone landing between a lost CAS and the retried publish
        # is still caught
        for v in range(planned_at + 1, head + 1):
            added = set(read_manifest(log_dir, v)["files"]) - set(
                read_manifest(log_dir, v - 1)["files"]
            )
            new_dels = sorted(p for p in added if is_delete_file(p))
            if new_dels:
                raise CommitConflict(
                    f"new delete file(s) landed at v{v} after the rewrite "
                    f"planned at v{planned_at}: {new_dels} — committing "
                    "would resurrect their rows; re-plan from the head"
                )
        parent = read_manifest(log_dir, head)["files"] if head else []
        if removes and not removes <= set(parent):
            raise CommitConflict(
                f"removed files not in head v{head}: "
                f"{sorted(removes - set(parent))}"
            )
        files = [f for f in parent if f not in removes] + list(add_files)
        if try_publish(log_dir, head + 1, files, extra={"op": "rewrite"}):
            return head + 1, retries
        retries += 1
        if retries >= 50:
            raise RuntimeError(f"rewrite lost the CAS 50 times in {log_dir}")


def data_files_of(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def split_head_files(files: list[str]) -> tuple[list[str], list[str]]:
    """Partition a snapshot's file list into (data, delete) classes by
    the tombstone path convention — the single-node essence of Iceberg's
    separate data/delete manifests (the class rides in KB metadata, the
    reader never opens a file to learn what kind it is)."""
    deletes = [f for f in files if is_delete_file(f)]
    data = [f for f in files if not is_delete_file(f)]
    return data, deletes


def mor_read(spark, files: list, key: str):
    """MERGE-ON-READ of a manifest's file list: data files anti-joined
    against the union of its equality tombstones on ``key`` (broadcast
    — tombstones are KB). The one way every snapshot-log table with
    deletes is read in this repo."""
    from pyspark.sql import functions as F

    data, tombs = split_head_files(files)
    df = spark.read.parquet(*data)
    if tombs:
        df = df.join(
            F.broadcast(spark.read.parquet(*tombs).select(key)),
            key,
            "left_anti",
        )
    return df


# --- snapshot expiry and durable sequence numbers ---


def seq_first_versions(log_dir: str) -> tuple[int, dict]:
    """The NEWEST persisted sequence checkpoint: (horizon,
    {file -> first-referencing version}) for files that were live when
    snapshots <= horizon expired; (0, {}) when no expiry has happened.
    Readers that derive per-file sequence numbers by walking manifests
    MUST seed from this once the walk would cross expired territory —
    the Iceberg discipline that sequence numbers are durable metadata,
    never re-derived from history retention may delete."""
    horizons = sorted(
        int(f[len(SEQ_CKPT_PREFIX):-5])
        for f in os.listdir(log_dir)
        if f.startswith(SEQ_CKPT_PREFIX) and f.endswith(".json")
    )
    if not horizons:
        return 0, {}
    with open(
        os.path.join(log_dir, f"{SEQ_CKPT_PREFIX}{horizons[-1]}.json")
    ) as fh:
        rec = json.load(fh)
    return int(rec["horizon"]), {
        f: int(v) for f, v in rec["first_versions"].items()
    }


def first_versions(log_dir: str, upto: int) -> dict:
    """file -> first version referencing it, for every file live in
    versions <= ``upto`` — the SEQUENCE NUMBER of every file, derived
    from the KB manifests (O(commits × files-per-manifest) driver-side
    metadata, never a data read). After snapshot expiry the genesis
    prefix of that walk is GONE (manifests tombstoned, so reading them
    raises FileNotFoundError), so the walk seeds from the persisted
    sequence checkpoint `expire_snapshots` writes and covers only the
    retained tail; a file first referenced before the horizon keeps its
    true pre-expiry sequence number from the checkpoint."""
    seen, start = {}, 1
    horizon, persisted = seq_first_versions(log_dir)
    if horizon:
        seen = dict(persisted)
        start = horizon + 1
    for v in range(start, upto + 1):
        for f in read_manifest(log_dir, v)["files"]:
            seen.setdefault(f, v)
    return seen


def vacuum_horizon(log_dir: str) -> int:
    """Newest version whose manifest was TOMBSTONED by snapshot expiry
    (0 when none). Planning version v's delta reads manifest v−1, so a
    feed cursor at or below this horizon has lost the history it would
    stream. KB-scale listing."""
    ex = [
        int(f[1:].split(".", 1)[0])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(EXPIRED_SUFFIX)
    ]
    return max(ex) if ex else 0


def expire_snapshots(
    log_dir: str, retain_last: int
) -> tuple[list[int], list[int], list[str]]:
    """Expire all but the last ``retain_last`` snapshots — the shared
    procedure `sink_snapshot_vacuum` proves and every caller reuses:

    1. PERSIST the sequence numbers the expired prefix owns — a
       ``seq-v{horizon}.json`` checkpoint mapping every still-live file
       to its first-referencing version — BEFORE the manifests
       disappear (without it, any later delete-bearing commit is
       unplannable: the CDF's sequence scoping walks manifests from
       genesis);
    2. delete files referenced ONLY by expired manifests (exact list,
       never a directory sweep);
    3. tombstone expired manifests to ``v{N}{EXPIRED_SUFFIX}`` so
       time travel past retention fails fast.

    Returns (retained, expired, orphans). KB manifest arithmetic
    throughout — a 100 TB table expires without touching data bytes
    beyond the orphan unlinks."""
    versions = log_versions(log_dir)
    retained = versions[-retain_last:]
    expired = versions[:-retain_last]
    if not expired:
        return retained, [], []
    live: set[str] = set()
    for v in retained:
        live |= set(read_manifest(log_dir, v)["files"])
    orphans: set[str] = set()
    for v in expired:
        orphans |= set(read_manifest(log_dir, v)["files"])
    orphans -= live
    seen: dict = {}
    for v in versions:
        for f in read_manifest(log_dir, v)["files"]:
            seen.setdefault(f, v)
    horizon = expired[-1]
    tmp = os.path.join(log_dir, f".seq-tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "horizon": horizon,
                "first_versions": {
                    f: v for f, v in sorted(seen.items()) if f in live
                },
            },
            fh,
        )
    os.replace(
        tmp, os.path.join(log_dir, f"{SEQ_CKPT_PREFIX}{horizon}.json")
    )
    for f in sorted(orphans):
        os.unlink(f)
    for v in expired:
        os.rename(
            os.path.join(log_dir, f"v{v}.json"),
            os.path.join(log_dir, f"v{v}{EXPIRED_SUFFIX}"),
        )
    return retained, expired, sorted(orphans)


# --- the transaction root: several tables, one atomic manifest ---


def txn_publish(
    txn_dir: str, version: int, tables: dict, ops: dict | None = None
) -> None:
    """CAS-publish transaction ``version`` binding every table's file
    list in ONE manifest — the multi-table generalization of
    `try_publish`: visibility for ALL tables flips on a single
    link(2), so readers can never observe table A at txn N and table B
    at txn N−1. Loses raise (single writer here; a rebase loop would
    wrap this exactly like `commit_snapshot`). ``ops`` stamps
    PER-TABLE operation labels (e.g. {"fact": "rewrite"} for a
    compaction txn) — the field the cross-table change feed keys on to
    emit zero events for layout-only table deltas."""
    extra = {"tables": tables}
    if ops:
        extra["ops"] = ops
    if not try_publish(txn_dir, version, [], extra=extra):
        raise CommitConflict(f"txn v{version} lost the CAS in {txn_dir}")


def txn_head_tables(txn_dir: str) -> tuple[int, dict]:
    versions = log_versions(txn_dir)
    head = versions[-1] if versions else 0
    return head, (read_manifest(txn_dir, head)["tables"] if head else {})


def txn_commit(
    txn_dir: str, updates: dict, read_at: int, max_attempts: int = 50
) -> tuple[int, int, int]:
    """Commit ``updates`` ({table -> new file list}) against the txn
    root with optimistic rebase — the multi-table generalization of
    `commit_snapshot`'s loop: read the head, overlay ONLY the tables
    this txn writes, CAS; on loss re-read and retry. The one genuine
    conflict: the head's version of a written table CHANGED since this
    txn read it (``read_at``) — a blind overlay would silently drop
    the racer's update to the same table, so the loser must abort and
    re-plan (Iceberg/Delta surface the same per-table check via
    validation snapshots). Disjoint-table racers always merge. Returns
    (version, n_retries, n_validations)."""
    retries = 0
    while True:
        versions = log_versions(txn_dir)
        head = versions[-1] if versions else 0
        head_tables = (
            dict(read_manifest(txn_dir, head)["tables"]) if head else {}
        )
        base_tables = (
            read_manifest(txn_dir, read_at)["tables"] if read_at else {}
        )
        for t in updates:
            if head_tables.get(t) != base_tables.get(t):
                raise CommitConflict(
                    f"table {t!r} changed between read_at v{read_at} and "
                    f"head v{head} — same-table race, re-plan required"
                )
        merged = {**head_tables, **updates}
        if try_publish(txn_dir, head + 1, [], extra={"tables": merged}):
            return head + 1, retries, len(updates)
        retries += 1
        if retries >= max_attempts:
            raise RuntimeError(
                f"txn lost the CAS {max_attempts} times in {txn_dir}"
            )


def txn_ckpt_path(txn_dir: str, at: int) -> str:
    return os.path.join(txn_dir, f"ckpt-v{at}.json")


def txn_delta_merge(state: dict, adds: dict) -> None:
    """Fold one delta-form txn manifest's per-table adds into a
    cumulative {table -> set(files)} state."""
    for t, fl in adds.items():
        state.setdefault(t, set()).update(fl)


def txn_write_checkpoint(txn_dir: str, at: int) -> None:
    """Materialize the cumulative {table -> files} map at txn ``at``
    (the checkpointer pays the genesis walk ONCE) as a put-if-absent
    checkpoint file, then advance the `_last_checkpoint` pointer via
    os.replace — racing checkpointers write identical bytes, so the
    link(2) collision is benign."""
    state: dict = {}
    for v in range(1, at + 1):
        txn_delta_merge(state, read_manifest(txn_dir, v)["table_adds"])
    tmp = os.path.join(txn_dir, f".ckpt-tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": at,
                "tables": {t: sorted(fl) for t, fl in state.items()},
            },
            fh,
        )
    try:
        os.link(tmp, txn_ckpt_path(txn_dir, at))
    except FileExistsError:
        pass  # racing checkpointers write identical bytes
    finally:
        os.unlink(tmp)
    ptmp = os.path.join(txn_dir, f".lastckpt-tmp-{os.getpid()}")
    with open(ptmp, "w") as fh:
        fh.write(str(at))
    os.replace(ptmp, os.path.join(txn_dir, TXN_CKPT_POINTER))


# --- change-data feeds: the reader cursor ---


def read_cursor(state_dir: str | None) -> int:
    """The feed cursor persisted under ``state_dir`` (0 when absent)."""
    if state_dir:
        p = os.path.join(state_dir, CURSOR_FILE)
        if os.path.exists(p):
            with open(p) as fh:
                return int(json.load(fh)["version"])
    return 0


def write_cursor(state_dir: str, version: int) -> None:
    """Persist a feed cursor atomically (temp file + os.replace)."""
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, ".tmp-last")
    with open(tmp, "w") as fh:
        json.dump({"version": version}, fh)
    os.replace(tmp, os.path.join(state_dir, CURSOR_FILE))


class LogCursorReader(DataSourceStreamReader):
    """The offset protocol every change feed over a log shares: OFFSETS
    ARE LOG VERSIONS and each micro-batch is exactly one commit
    (`latestOffset` advances by at most one version per call). New
    commits are discovered by re-listing the KB-scale log, so a commit
    landing while the query runs is picked up without restart; replay
    is deterministic because manifests are immutable once published.

    Restart safety: the in-memory cursor is clamped against every
    offset the engine hands back — `partitions(start, end)` re-syncs it
    when a checkpointed batch replays, and `commit(end)` persists it to
    ``state_dir`` (when given) so a fresh reader instance resumes at the
    committed version instead of re-announcing version 0 as the latest
    offset. `initialOffset` is consulted only when the stream
    checkpoint is absent; returning the restored cursor lets a
    checkpoint-lost restart resume instead of replaying 1.._last in ONE
    oversized batch — which would break the one-commit-per-batch
    contract and reset foreachBatch ids under the feed_batch-stamp
    dedup."""

    FORMAT = ""  # the data source name a FeedSource registers
    FIELDS: tuple = ()  # event schema as (name, type) pairs
    EMPTY_MANIFEST: dict = {"files": []}

    def __init__(self, options):
        self.log_dir = options["log_dir"]
        self.state_dir = options.get("state_dir")
        self._last = read_cursor(self.state_dir)
        # immutable snapshot of the restored cursor: initialOffset
        # must report it even after latestOffset has advanced _last
        # (the engine may poll latestOffset first)
        self._restored = self._last

    def _manifest(self, version):
        if version <= 0:
            return self.EMPTY_MANIFEST
        return read_manifest(self.log_dir, version)

    def initialOffset(self):
        return {"version": self._restored}

    def latestOffset(self):
        head = log_versions(self.log_dir)
        if head and head[-1] > self._last:
            self._last += 1  # one commit per micro-batch
        return {"version": self._last}

    def commit(self, end):
        self._last = max(self._last, end["version"])
        if self.state_dir:
            write_cursor(self.state_dir, self._last)

    @classmethod
    def event_schema(cls, options) -> T.StructType:
        return T.StructType([T.StructField(n, t) for n, t in cls.FIELDS])


class FeedSource(DataSource):
    """A change-feed data source: one subclass per reader, named by the
    reader's FORMAT, with the reader's event schema."""

    READER: type  # the LogCursorReader subclass this source serves

    @classmethod
    def name(cls) -> str:
        return cls.READER.FORMAT

    def schema(self):
        return self.READER.event_schema(self.options)

    def streamReader(self, schema):
        return self.READER(self.options)


# --- the snapshot-log change feed ---


class LogFilePartition(InputPartition):
    """One executor work unit of one commit's change set: an added data
    file ('insert'), a removed data file ('delete' — the COW form), or
    one PRE-IMAGE data file to be masked by the commit's new delete
    files ('mor_delete' for equality tombstones, 'pos_delete' for
    positional vectors — carries the KB-scale delete path lists; the
    executor reads both sides)."""

    def __init__(self, version, kind, path, new_dels=(), prior_dels=()):
        self.version = version
        self.kind = kind
        self.path = path
        self.new_dels = list(new_dels)
        self.prior_dels = list(prior_dels)


class LogCDFReader(LogCursorReader):
    """THE snapshot-log change feed. A commit's change set is derived
    from the manifest delta split by file class, planned on the driver
    from KB manifests and read on executors, one partition per file:

    - added DATA files -> 'insert' partitions;
    - removed data files -> 'delete' partitions (the COW form — removed
      files are still on disk inside retention, vacuum's job not the
      commit's);
    - added DELETE-class files -> one 'mor_delete' (equality) or
      'pos_delete' (positional) partition PER PRE-IMAGE DATA FILE: the
      executor emits a row as a delete event iff the commit's new
      delete files mask it and no PRIOR delete file already did.

    Planning rules, owned here for every table (a per-table planner
    copy drifts as soon as one rule is fixed in one copy only):

    - VACUUM HORIZON: a start offset at or below the newest expired
      manifest raises (Delta raises the same way when startingVersion
      predates the earliest available version) — never silent partial
      history;
    - SEQUENCE SCOPING: a delete file applies only to data files with a
      STRICTLY lower first-referencing version, so a MOR upsert that
      adds a tombstone AND a data file in one commit never masks its own
      adds;
    - CROSS-ENCODING priors: prior lists carry BOTH delete encodings;
      executors suppress on either mask;
    - SAME-COMMIT ownership: when one commit adds both a positional DV
      and an equality tombstone masking the same row, the DV owns it —
      the equality partitions carry the commit's own new DVs in their
      prior list, so the row emits exactly once;
    - COMPACTION awareness: a commit stamped op=rewrite changes file
      LAYOUT, not rows — zero events (the `rewrite_as_churn` option is
      the negative-proof counterfactual that streams it as churn).

    What differs per table is data on small subclasses: ``COLUMNS``
    read from each data file (the first is the key equality tombstones
    carry), the event ``FIELDS`` after (version, change_type), an
    optional row ``decode``, and whether positional deletes are in the
    feed's scope. Scale: per-commit feed cost is the commit's delta
    file set plus, for delete commits, one pass over the pre-image data
    files — what any CDF consumer of merge-on-read deletes must pay
    inside retention, distributed."""

    COLUMNS: tuple = ()
    decode = None  # optional (file row -> event payload) mapping
    POSITIONAL = True  # positional delete vectors are in scope
    SCOPE = ""  # why they are not, when POSITIONAL is False

    def __init__(self, options):
        super().__init__(options)
        self.rewrite_as_churn = (
            str(options.get("rewrite_as_churn", "false")).lower() == "true"
        )

    @classmethod
    def event_schema(cls, options) -> T.StructType:
        return T.StructType(
            [
                T.StructField("version", T.IntegerType()),
                T.StructField("change_type", T.StringType()),
            ]
            + [T.StructField(n, t) for n, t in cls.FIELDS]
        )

    def partitions(self, start, end):
        # replayed checkpointed batches re-sync the cursor so the NEXT
        # latestOffset never falls below the engine's start
        self._last = max(self._last, end["version"])
        horizon = vacuum_horizon(self.log_dir)
        if horizon and start["version"] <= horizon:
            raise RuntimeError(
                f"CDF start offset v{start['version']} predates the "
                f"vacuum horizon: manifests <= v{horizon} expired, so "
                f"versions <= v{horizon + 1} can no longer be planned "
                "as deltas. Re-seed from a retained snapshot (batch "
                f"read at >= v{horizon + 1}) and stream from there — "
                "this feed never silently emits partial history."
            )
        P = LogFilePartition
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            man = self._manifest(v)  # ONE manifest read per commit
            if man.get("op") == "rewrite" and not self.rewrite_as_churn:
                continue
            cur = set(man["files"])
            prev = set(self._manifest(v - 1)["files"])
            added = cur - prev
            new_dels_all = sorted(p for p in added if is_delete_file(p))
            fv = first_versions(self.log_dir, v) if new_dels_all else None
            new_pos = [p for p in new_dels_all if is_positional_delete(p)]
            new_eq = [
                p for p in new_dels_all if not is_positional_delete(p)
            ]
            prev_data = sorted(p for p in prev if not is_delete_file(p))
            for p in sorted(p for p in prev - cur if not is_delete_file(p)):
                parts.append(P(v, "delete", p))
            prior_all = [p for p in prev if is_delete_file(p)]
            if new_pos:
                for p in prev_data:
                    prior_for_p = sorted(
                        t for t in prior_all if fv[t] > fv[p]
                    )
                    parts.append(P(v, "pos_delete", p, new_pos, prior_for_p))
            if new_eq:
                for p in prev_data:
                    prior_for_p = sorted(
                        t for t in prior_all if fv[t] > fv[p]
                    )
                    # SAME-COMMIT ownership: the commit's own DVs ride in
                    # the equality partitions' prior list
                    parts.append(
                        P(
                            v,
                            "mor_delete",
                            p,
                            new_eq,
                            prior_for_p + sorted(new_pos),
                        )
                    )
            parts.extend(
                P(v, "insert", p)
                for p in sorted(added)
                if not is_delete_file(p)
            )
        # a no-op range still needs >= 1 partition for the engine
        return parts or [P(0, "insert", "")]

    def _rows(self, path):
        """One data file's rows, in file order (the positional ordinal),
        as event payload tuples (key first)."""
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=list(self.COLUMNS))
        rows = zip(*(t.column(c).to_pylist() for c in self.COLUMNS))
        return list(map(self.decode, rows)) if self.decode else list(rows)

    def read(self, partition):  # EXECUTOR-side
        import pyarrow.parquet as pq

        if not partition.path:
            return
        if not self.POSITIONAL and (
            partition.kind == "pos_delete"
            or any(is_positional_delete(t) for t in partition.prior_dels)
        ):
            raise RuntimeError(
                "positional delete vectors are out of this feed's "
                f"scope — {self.SCOPE}"
            )
        key = self.COLUMNS[0]

        def keys_of(paths):
            out = set()
            for p in paths:
                out |= set(
                    pq.read_table(p, columns=[key]).column(key).to_pylist()
                )
            return out

        def positions_of(paths):
            """Row ordinals of ``partition.path`` masked by the given
            DV files — parquet row order IS the ordinal
            (`_metadata.row_index` semantics), and each DV is filtered
            to this data file's path."""
            out = set()
            for p in paths:
                t = pq.read_table(p, columns=["file_path", "row_index"])
                for fp, ri in zip(
                    t.column("file_path").to_pylist(),
                    t.column("row_index").to_pylist(),
                ):
                    if fp == partition.path:
                        out.add(ri)
            return out

        rows = self._rows(partition.path)
        v = partition.version
        if partition.kind in ("mor_delete", "pos_delete"):
            # prior masks of BOTH encodings: a pre-image row is
            # suppressed if a prior equality tombstone covers its key OR
            # a prior DV covers its ordinal — exactly-once delete
            # emission across mixed-encoding histories
            priors = partition.prior_dels
            prior_keys = keys_of(
                [t for t in priors if not is_positional_delete(t)]
            )
            prior_pos = positions_of(
                [t for t in priors if is_positional_delete(t)]
            )
            if partition.kind == "mor_delete":
                mask, by_key = keys_of(partition.new_dels), True
            else:
                mask, by_key = positions_of(partition.new_dels), False
            for idx, row in enumerate(rows):
                if (
                    (row[0] if by_key else idx) in mask
                    and row[0] not in prior_keys
                    and idx not in prior_pos
                ):
                    yield (v, "delete", *row)
        else:
            change = "insert" if partition.kind == "insert" else "delete"
            for row in rows:
                yield (v, change, *row)


ORDERS_FIELDS = (("o_orderkey", T.LongType()), ("cents", T.LongType()))


def price_to_cents(row):
    k, price = row
    return k, int(math.floor(price * 100 + 0.5))


class SnapshotCDFReader(LogCDFReader):
    """Plain orders snapshot logs (copy-on-write commits of the source
    `orders` columns): cents decoded from o_totalprice."""

    FORMAT = "sparkgraft_snapshot_cdf"
    COLUMNS = ("o_orderkey", "o_totalprice")
    FIELDS = ORDERS_FIELDS
    decode = staticmethod(price_to_cents)


class MORCDFReader(LogCDFReader):
    """Orders tables with merge-on-read deletes of both encodings; data
    files store integer cents."""

    FORMAT = "sparkgraft_mor_cdf"
    COLUMNS = ("o_orderkey", "cents")
    FIELDS = ORDERS_FIELDS


class DocCDFReader(LogCDFReader):
    """DOCUMENTS logs (doc_id, text), so index maintainers (the dedup
    band-key index) consume inserts AND equality-delete retirements
    from a text corpus table."""

    FORMAT = "sparkgraft_doc_cdf"
    COLUMNS = ("doc_id", "text")
    FIELDS = (("doc_id", T.LongType()), ("text", T.StringType()))
    POSITIONAL = False
    SCOPE = "corpora delete by doc key"


class EmbCDFReader(LogCDFReader):
    """EMBEDDINGS logs (vec_id, embedding), so ANN index maintainers
    (`sim_ivf_index_feed`) consume vector inserts AND equality-delete
    retirements."""

    FORMAT = "sparkgraft_emb_cdf"
    COLUMNS = ("vec_id", "embedding")
    FIELDS = (
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
    )
    POSITIONAL = False
    SCOPE = "vector stores delete by id"


def head_event_schema(log_dir: str) -> tuple[T.StructType, int]:
    """Resolve the schema-evolving orders feed's event schema FROM THE
    HEAD MANIFEST — the plan-time half of schema-evolution awareness.
    Writers stamp `schema_version` into every commit (the
    metadata-carry-forward discipline real table formats use); the
    head's stamp decides whether the evolved `channel` column exists in
    the event schema."""
    versions = log_versions(log_dir)
    if not versions:
        raise RuntimeError(f"empty snapshot log: {log_dir}")
    sv = read_manifest(log_dir, versions[-1]).get("schema_version")
    if sv is None:
        raise RuntimeError(
            "head manifest carries no schema_version stamp — writers "
            "must carry the schema version forward on every commit"
        )
    fields = list(MORCDFReader.event_schema({}))
    if sv >= 2:
        fields.append(T.StructField("channel", T.StringType()))
    return T.StructType(fields), sv


class SchemaEvoCDFReader(LogCDFReader):
    """Orders logs with SCHEMA EVOLUTION: the event schema is planned
    from the HEAD manifest's `schema_version` (`head_event_schema`), and
    executors project data files written under an OLDER schema with
    NULL in the evolved column — exactly how a mergeSchema batch read
    treats them, applied to every change event (inserts AND the
    pre-image rows of delete commits). A metadata-only add-column
    commit changes no files, so the feed emits ZERO events for it.
    The schema resolution adds ONE head-manifest read per stream start;
    NULL projection is free (the column simply isn't read from old
    files)."""

    FORMAT = "sparkgraft_schema_evo_cdf"
    COLUMNS = ("o_orderkey", "cents")
    POSITIONAL = False
    SCOPE = "evolving tables here delete by key"

    def __init__(self, options):
        super().__init__(options)
        # plan-time schema resolution: captured once per stream start,
        # shipped to executors with the reader
        self._evolved = head_event_schema(self.log_dir)[1] >= 2

    @classmethod
    def event_schema(cls, options) -> T.StructType:
        return head_event_schema(options["log_dir"])[0]

    def _rows(self, path):
        """Read one data file PROJECTED TO THE PLANNED SCHEMA: files
        written before the add-column commit lack `channel` and read as
        NULL — never a crash, never a truncation. The unknown-column
        guard checks the FOOTER schema (metadata-only)."""
        import pyarrow.parquet as pq

        names = set(pq.read_schema(path).names)
        unknown = names - {"o_orderkey", "cents", "channel"}
        if unknown:
            raise RuntimeError(
                f"data file {path} carries columns {unknown} unknown to "
                "the planned head schema — reader is staler than the "
                "table; re-plan the stream"
            )
        cols = ["o_orderkey", "cents"]
        if self._evolved and "channel" in names:
            cols.append("channel")
        t = pq.read_table(path, columns=cols)
        rows = zip(*(t.column(c).to_pylist() for c in cols))
        if self._evolved and "channel" not in names:
            return [(*r, None) for r in rows]
        return list(rows)


class SnapshotCDFSource(FeedSource):
    READER = SnapshotCDFReader


class MORCDFSource(FeedSource):
    READER = MORCDFReader


class DocCDFSource(FeedSource):
    READER = DocCDFReader


class EmbCDFSource(FeedSource):
    READER = EmbCDFReader


class SchemaEvoCDFSource(FeedSource):
    READER = SchemaEvoCDFReader


# --- the transaction-root change feeds ---


class TxnFilePartition(InputPartition):
    def __init__(self, txn, table, kind, path):
        self.txn = txn
        self.table = table
        self.kind = kind
        self.path = path


class TxnCDFReader(LogCursorReader):
    """Change feed over the TRANSACTION ROOT: offsets are txn versions,
    one txn per micro-batch, and a txn's change set is the per-table
    file delta between its manifest's absolute {table -> files} map and
    its parent's — so a txn that touches BOTH tables lands BOTH tables'
    events in ONE micro-batch (txn-atomic cut points: a downstream
    star-join MV can never observe the fact at txn N joined to the dim
    at N−1, the torn read `sink_multi_table_publish` closes for batch
    readers, closed here for feeds). Added files stream as inserts,
    removed files as COW deletes; executors read each file with ITS
    table's schema.

    Scale: planning is KB txn-manifest diffs on the driver; executor
    work is per-changed-file. The feed's atomicity unit is the txn,
    matching the write side's single-CAS publish."""

    FORMAT = "sparkgraft_txn_cdf"
    FIELDS = (
        ("txn", T.IntegerType()),
        ("table", T.StringType()),
        ("change_type", T.StringType()),
        ("key", T.LongType()),
        ("custkey", T.LongType()),
        ("cents", T.LongType()),
        ("segment", T.StringType()),
    )
    EMPTY_MANIFEST: dict = {"tables": {}}

    def partitions(self, start, end):
        self._last = max(self._last, end["version"])
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            man = self._manifest(v)
            cur = man["tables"]
            prev = self._manifest(v - 1)["tables"]
            ops = man.get("ops", {})
            for table in sorted(set(cur) | set(prev)):
                # PER-TABLE rewrite awareness: a compaction delta
                # (op=rewrite stamp for that table) changes layout, not
                # rows — zero events, same contract as the single-table
                # feed's commit-level skip
                if ops.get(table) == "rewrite":
                    continue
                c = set(cur.get(table, []))
                p = set(prev.get(table, []))
                parts.extend(
                    TxnFilePartition(v, table, "delete", f)
                    for f in sorted(p - c)
                )
                parts.extend(
                    TxnFilePartition(v, table, "insert", f)
                    for f in sorted(c - p)
                )
        return parts or [TxnFilePartition(0, "fact", "insert", "")]

    def read(self, partition):  # EXECUTOR-side
        import pyarrow.parquet as pq

        if not partition.path:
            return
        change = partition.kind
        if partition.table == "fact":
            t = pq.read_table(
                partition.path,
                columns=["o_orderkey", "o_custkey", "cents"],
            )
            for k, ck, c in zip(
                t.column("o_orderkey").to_pylist(),
                t.column("o_custkey").to_pylist(),
                t.column("cents").to_pylist(),
            ):
                yield (partition.txn, "fact", change, k, ck, c, None)
        else:
            t = pq.read_table(
                partition.path, columns=["c_custkey", "c_mktsegment"]
            )
            for ck, seg in zip(
                t.column("c_custkey").to_pylist(),
                t.column("c_mktsegment").to_pylist(),
            ):
                yield (partition.txn, "dim", change, ck, ck, None, seg)


class CkptTxnCDFReader(TxnCDFReader):
    """Change feed over the DELTA-FORM transaction root (the
    `scan_txn_checkpoint` log shape: each txn manifest records only its
    per-table ADDS), resolving offsets the way that log is designed to
    be read:

    - A FRESH consumer (no persisted cursor) seeds from the
      `_last_checkpoint` pointer: batch 0 streams the checkpoint's
      cumulative {table -> files} map as change_type='seed' events
      stamped with the checkpoint txn — exactly TWO metadata opens
      (pointer + checkpoint), NEVER the genesis walk the no-checkpoint
      reader pays — then tails one txn per batch.
    - A RESTARTED consumer (persisted cursor) resumes from it streaming
      ONE delta manifest per txn — including a cursor that PREDATES the
      newest checkpoint: the checkpoint is a cache, the delta manifests
      stay the truth, so resumption never consults the pointer
      (asserted via the open log) and never skips/replays through the
      checkpoint.

    Supported restart modes (the same contract the state_dir cursor
    carries everywhere): Spark checkpoint and reader cursor TOGETHER,
    or a cold fresh start — the cursor is written on every commit, so
    the only way to restart with a Spark checkpoint but no cursor is to
    delete the cursor by hand; that unsupported mix would seed-resolve
    (2 logged opens) without using the seed.

    Everything below the planning layer — the per-table executor read,
    the 7-column event schema, the cursor — is inherited. Every
    metadata open is appended to ``open_log`` so the key can assert the
    exact open sequence — the `scan_txn_checkpoint` counting
    discipline carried into the feed."""

    FORMAT = "sparkgraft_ckpt_txn_cdf"

    def __init__(self, options):
        super().__init__(options)
        self.open_log = options.get("open_log")
        self._seed = None
        self._seed_resolved = False

    def _recorded(self, path):
        if self.open_log:
            with open(self.open_log, "a") as lg:
                lg.write(path + "\n")
        return open(path)

    def _ensure_seed(self):
        """Resolve the seed basis LAZILY at the first planning call (not
        __init__: Spark instantiates the reader once for schema
        resolution and once for the stream — only the planning instance
        may touch the log, or the open counts double)."""
        if self._seed_resolved:
            return
        self._seed_resolved = True
        ptr = os.path.join(self.log_dir, TXN_CKPT_POINTER)
        if self._restored == 0 and os.path.exists(ptr):
            # fresh start against a checkpointed root: resolve the seed
            # basis through the pointer — 2 opens, O(1) in the txn count
            with self._recorded(ptr) as fh:
                k = int(fh.read())
            with self._recorded(txn_ckpt_path(self.log_dir, k)) as fh:
                self._seed = (k, json.load(fh)["tables"])

    def _manifest(self, version):
        # delta-form manifests (table_adds), every open RECORDED
        with self._recorded(
            os.path.join(self.log_dir, f"v{version}.json")
        ) as fh:
            return json.load(fh)

    def latestOffset(self):
        self._ensure_seed()
        if self._seed and self._last == 0:
            # batch 0 jumps 0 -> checkpoint txn (the seed)
            self._last = self._seed[0]
            return {"version": self._last}
        return super().latestOffset()

    def partitions(self, start, end):
        self._ensure_seed()
        self._last = max(self._last, end["version"])
        P = TxnFilePartition
        parts = []
        v0 = start["version"]
        if self._seed and v0 == 0 and end["version"] >= self._seed[0]:
            k, tables = self._seed
            for table in sorted(tables):
                parts.extend(
                    P(k, table, "seed", f) for f in sorted(tables[table])
                )
            v0 = k
        for v in range(v0 + 1, end["version"] + 1):
            adds = self._manifest(v)["table_adds"]
            for table in sorted(adds):
                parts.extend(
                    P(v, table, "insert", f) for f in sorted(adds[table])
                )
        return parts or [P(0, "fact", "insert", "")]


class TxnCDFSource(FeedSource):
    READER = TxnCDFReader


class CkptTxnCDFSource(FeedSource):
    READER = CkptTxnCDFReader
