from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from cdc_cascade_spark.session import get_spark

    spark = get_spark(app_name="cdc-cascade-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture(scope="session")
def replayed_rows():
    """The serving view's oracle: ``service -> rows`` by Spark latest-wins
    compaction of the service's changelog, key-ordered, timestamps in
    the service's text format — the rows ``GET /read`` served when it
    was a Spark plan."""
    from datetime import datetime

    from cdc_cascade_spark.cdc.compaction import current_state
    from cdc_cascade_spark.cdc.envelope import parse_envelope, valid_events

    def replay(service) -> list[dict]:
        df = current_state(valid_events(parse_envelope(service.changelog())))
        return [
            {k: v.strftime("%Y-%m-%dT%H:%M:%S") if isinstance(v, datetime) else v
             for k, v in r.asDict().items()}
            for r in df.orderBy("code").collect()
        ]

    return replay
