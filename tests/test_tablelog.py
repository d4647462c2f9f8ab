"""Unit tests for `sparkgraft.tablelog`'s change-feed readers as Spark ships
them: every reader and partition class is module-level, so cloudpickle
sends it by reference and a Python worker that unpickles it imports only
`sparkgraft.tablelog` — never the operator modules.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_SOURCES = [
    "SnapshotCDFSource",
    "MORCDFSource",
    "SchemaEvoCDFSource",
    "DocCDFSource",
    "EmbCDFSource",
    "TxnCDFSource",
    "CkptTxnCDFSource",
]

_UNPICKLE = (
    "import pickle, sys\n"
    "with open(sys.argv[1], 'rb') as fh:\n"
    "    reader, part = pickle.load(fh)\n"
    "assert reader.log_dir == sys.argv[2], reader.log_dir\n"
    "print(','.join(sorted(m for m in sys.modules\n"
    "                      if m.split('.')[0] == 'sparkgraft')))\n"
)


@pytest.mark.parametrize("source", _SOURCES)
def test_reader_unpickles_without_operator_modules(source, tmp_path):
    """Unpickle a reader and one of its partitions in a fresh
    interpreter: the only sparkgraft modules loaded are the package and
    tablelog (a reader class defined inside a factory function ships by
    value and drags in whatever module-level helpers it references)."""
    from pyspark import cloudpickle

    from sparkgraft import tablelog

    log = tmp_path / "log"
    log.mkdir()
    (log / "v1.json").write_text(
        json.dumps({"snapshot": 1, "files": [], "schema_version": 1})
    )
    src = getattr(tablelog, source)
    reader = src({"log_dir": str(log)}).streamReader(None)
    if isinstance(reader, tablelog.TxnCDFReader):
        part = tablelog.TxnFilePartition(1, "fact", "insert", "f.parquet")
    else:
        part = tablelog.LogFilePartition(1, "insert", "f.parquet")
    blob = cloudpickle.dumps((reader, part))
    # by reference: the blob names the classes, it does not carry them
    assert len(blob) < 4096, len(blob)
    path = tmp_path / "reader.pkl"
    path.write_bytes(blob)

    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", _UNPICKLE, str(path), str(log)],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["sparkgraft,sparkgraft.tablelog"]


def test_cursor_round_trip(tmp_path):
    """The cursor a reader commits is the cursor the next reader
    restores; no cursor file means version 0."""
    from sparkgraft.tablelog import MORCDFReader, read_cursor

    log = tmp_path / "log"
    log.mkdir()
    state = str(tmp_path / "state")
    assert read_cursor(state) == 0
    r = MORCDFReader({"log_dir": str(log), "state_dir": state})
    r.commit({"version": 5})
    assert read_cursor(state) == 5
    again = MORCDFReader({"log_dir": str(log), "state_dir": state})
    assert again.initialOffset() == {"version": 5}
    # no new commit in the log: the latest offset stays at the cursor
    assert again.latestOffset() == {"version": 5}
