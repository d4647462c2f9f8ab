"""Focused tests for the r14 optimization round's changed internals.

`_write_with_probe` (sparkgraft/streaming.py) replaced the per-batch
persist + distinct-collect + write triple inside the CDF protocol keys'
foreachBatch sinks with ONE observed write; the lazy package __init__
replaced the eager import of every operator module. Both must be
semantically identical to what they replaced — these tests pin that,
independent of the protocol keys that use them.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F


def test_write_with_probe_matches_distinct_collect(spark):
    """The observed write returns exactly distinct(probe_col) AND lands
    exactly the input rows on disk — the two halves of the persist +
    collect + write shape it replaced."""
    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame(
        [(1, "fact", 10), (1, "dim", 20), (2, "fact", 30), (2, "fact", 30)],
        "txn int, tbl string, cents long",
    )
    out = os.path.join(tempfile.mkdtemp(), "probe")

    vs = _write_with_probe(df, out, "txn")
    assert sorted(vs) == [1, 2]

    # struct probe (the stream_cdf_txn_checkpoint shape): collect_set
    # of a struct dedups exactly like select(...).distinct()
    pairs = _write_with_probe(df, out, F.struct("txn", "tbl"))
    assert sorted((r["txn"], r["tbl"]) for r in pairs) == [
        (1, "dim"),
        (1, "fact"),
        (2, "fact"),
    ]

    # the write half: exactly the input rows landed (duplicates kept)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_write_with_probe_empty_batch(spark):
    """Zero-event micro-batches (rewrite/metadata-only commits) must
    yield an empty probe, exactly like distinct().collect() did."""
    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame([], "version int, cents long")
    out = os.path.join(tempfile.mkdtemp(), "empty")
    assert _write_with_probe(df, out, "version") == []
    assert spark.read.parquet(out).count() == 0


def test_write_with_probe_raises_on_null_probe(spark):
    """collect_set drops NULLs, so a NULL probe value would vanish from
    the probe; the observed NULL count must make the call raise."""
    import pytest

    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame(
        [(1, 10), (None, 20), (2, 30)], "version int, cents long"
    )
    out = os.path.join(tempfile.mkdtemp(), "nullprobe")
    with pytest.raises(RuntimeError, match="NULL on 1 row"):
        _write_with_probe(df, out, "version")


def test_lazy_init_reraises_missing_dependency(monkeypatch):
    """A ModuleNotFoundError for anything but the requested submodule
    itself (a dependency missing inside it) must propagate, not turn
    into an AttributeError; a genuinely absent submodule still reads
    as a missing attribute."""
    import importlib

    import pytest

    import sparkgraft

    with pytest.raises(AttributeError):
        sparkgraft.__getattr__("no_such_submodule")

    def missing_pyarrow(name, package=None):
        raise ModuleNotFoundError("No module named 'pyarrow'", name="pyarrow")

    monkeypatch.setattr(importlib, "import_module", missing_pyarrow)
    with pytest.raises(ModuleNotFoundError) as ei:
        sparkgraft.__getattr__("tablelog")
    assert ei.value.name == "pyarrow"


def test_lazy_init_registry_complete():
    """The PEP 562 lazy __init__ must expose the same fully-populated
    registry the eager form did — checked in a FRESH interpreter so the
    laziness itself is exercised, not this session's warm state."""
    code = (
        "import sparkgraft\n"
        "assert len(sparkgraft.QUERIES) >= 495, len(sparkgraft.QUERIES)\n"
        "assert len(sparkgraft.ORACLE) >= 491, len(sparkgraft.ORACLE)\n"
        "assert sparkgraft.QUERIES is __import__("
        "'sparkgraft.registry', fromlist=['QUERIES']).QUERIES\n"
        "import sparkgraft.scans  # submodule import path stays valid\n"
        "from sparkgraft import ranking  # __getattr__ submodule path\n"
        "print('OK', len(sparkgraft.QUERIES))\n"
    )
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.startswith("OK")


def test_lazy_init_submodule_import_is_light():
    """Importing one submodule must NOT pull in the whole engine (the
    r14 point of the lazy __init__: short-lived Python workers pay only
    for what the pickled object references)."""
    code = (
        "import sys\n"
        "import sparkgraft.proofs\n"
        "loaded = [m for m in sys.modules if m.startswith('sparkgraft')]\n"
        "heavy = [m for m in loaded if any(h in m for h in ("
        "'vectorops', 'textops', 'graph', 'aggregates'))]\n"
        "assert not heavy, heavy\n"
        "print('OK')\n"
    )
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
