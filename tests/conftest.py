from __future__ import annotations

from pathlib import Path

import pytest

from documentconvert_spark.session import build_session

EXTRA_DOCS = Path(__file__).resolve().parent.parent / "documentconvert_spark" / "resources" / "extra_docs"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="dcs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "32"},
    )
    yield s
    s.stop()


@pytest.fixture
def extra_doc():
    """Bytes of a committed resources/extra_docs fixture, by file name."""
    return lambda name: (EXTRA_DOCS / name).read_bytes()
