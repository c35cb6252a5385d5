"""Shared fixtures.

The ``spark`` fixture yields a self-healing proxy (r10 verdict #4): on this
shared host a long suite occasionally loses its JVM mid-run (host memory
pressure / external kill — "SparkContext was shut down" followed by a
ConnectionRefusedError cascade that once produced 73 false failures). The
proxy checks liveness on use and transparently recreates the session
(bounded retries), so one JVM death costs at most the test that was
in-flight plus any module-scoped DataFrames of the CURRENT module — not
every test that follows. Demonstrated in tests/test_session_recovery.py
(clean context stop AND a kill -9 of the JVM).

The ``loans_paths`` fixture gives the tests that only need loans INPUT
one train/valid split per session: the reference's CSVs when present,
else a seeded ``perfbench/loansgen.py`` split. The tests that compare
against the reference's own files skip on the ``REFERENCE_DATA`` paths
below.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
from pathlib import Path

import pytest

from consumer_loans_analysis_spark.session import get_spark

REFERENCE_DATA = "/root/reference/data"
ORIG_TRAIN = f"{REFERENCE_DATA}/orig_train.csv"
ORIG_VALID = f"{REFERENCE_DATA}/orig_valid.csv"
LOANSGEN = Path(__file__).resolve().parents[1] / "perfbench" / "loansgen.py"
LOANSGEN_SEED = 1


def _reset_pyspark_globals(dead) -> None:
    """Clear the module-level singletons a dead session leaves poisoned —
    getOrCreate would otherwise hand the corpse back (or reuse a gateway
    whose JVM is gone)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    with contextlib.suppress(Exception):
        dead.stop()
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


class ResilientSpark:
    """Attribute-forwarding proxy over a SparkSession that recreates the
    underlying session when the SparkContext is stopped or the py4j
    gateway is dead. Liveness is one py4j round-trip per attribute access
    (~sub-ms, invisible next to any Spark job)."""

    _MAX_RECREATES = 3

    def __init__(self, factory):
        self._factory = factory
        self._spark = factory()
        self.recreates = 0

    def _alive(self) -> bool:
        try:
            return not self._spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            # py4j gateway gone (ConnectionRefused / Py4JNetworkError) or
            # context never attached — either way, not usable
            return False

    def _ensure(self):
        if self._alive():
            return self._spark
        if self.recreates >= self._MAX_RECREATES:
            raise RuntimeError(
                f"Spark session died {self.recreates + 1}x — giving up"
            )
        self.recreates += 1
        _reset_pyspark_globals(self._spark)
        self._spark = self._factory()
        return self._spark

    def __getattr__(self, name):
        # only public attrs forward; _names are proxy internals
        return getattr(self._ensure(), name)


@pytest.fixture(scope="session")
def spark():
    proxy = ResilientSpark(
        lambda: get_spark(
            "tests", extra_configs={"spark.sql.shuffle.partitions": "8"}
        )
    )
    yield proxy
    with contextlib.suppress(Exception):
        proxy._spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def loans_paths(tmp_path_factory):
    """Raw train/valid CSVs for the tests that only need loans INPUT: the
    reference's files when present, else a seeded synthetic split in the
    reference's schema, domains and split sizes (``perfbench/loansgen.py``)
    written as CSV, so the same reader parses it."""
    if os.path.exists(ORIG_TRAIN):
        return {"train": ORIG_TRAIN, "valid": ORIG_VALID}
    spec = importlib.util.spec_from_file_location("loansgen", LOANSGEN)
    loansgen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(loansgen)
    sizes = {split: loansgen.SPLIT_ROWS[split] for split in ("train", "valid")}
    out = tmp_path_factory.mktemp("loans")
    paths = {}
    for split, pdf in loansgen.generate(LOANSGEN_SEED, sizes).items():
        paths[split] = str(out / f"{split}.csv")
        pdf.to_csv(paths[split], index=False)
    return paths


def requires_files(*paths):
    """skipif mark for a test that reads ``paths``: it runs wherever every
    file exists and is skipped, naming the absent ones, elsewhere."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file(s) absent: {', '.join(missing)}"
    )
