from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from lvm_datapipe_spark.session import get_spark

    s = get_spark(
        "lvm-datapipe-tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _query_scope(request):
    """Run every test that uses ``spark`` inside ``session.query_scope``, so
    the caches and checkpoints it makes are freed when it ends, not when
    the JVM collects them.  Fixtures of a wider scope are set up before it
    and keep theirs."""
    if "spark" not in request.fixturenames:
        yield
        return
    from lvm_datapipe_spark.session import query_scope

    with query_scope(request.getfixturevalue("spark")):
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()
