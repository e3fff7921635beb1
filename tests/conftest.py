import os
import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from citykg.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# CityGML documents committed with the tests (tests/data/)
DATA = Path(__file__).resolve().parent / "data"
MINIMAL_GML = str(DATA / "minimal.gml")
LOD1_GML = str(DATA / "lod1.gml")

# files of a CitiesKG checkout; tests that assert facts about these very
# files skip (see `needs`) where the checkout is absent
REFERENCE = "/root/reference"
REF_TEST_GML = f"{REFERENCE}/agents/src/test/resources/test.gml"
REF_POTSDAM = (
    f"{REFERENCE}/resources/samples/Potsdam/CityGML/Potsdam_LoD1/Potsdam_LoD1.gml"
)
REF_ONTO = f"{REFERENCE}/ontologies/OntoCityGML.owl"


def needs(path):
    """Skip mark for a test that reads `path` from the reference checkout."""
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"reference file absent: {path}"
    )


def spark_jobs(spark, fn):
    """Run `fn()` under a fresh job group and return (its result, the
    jobs it launched, their tasks), read from the status tracker once the
    listener bus has delivered every event (an undelivered job would
    count as none)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = sum(
        st.getStageInfo(s).numTasks for j in jobs for s in st.getJobInfo(j).stageIds
    )
    return result, len(jobs), tasks


@pytest.fixture(scope="session")
def spark():
    # the engine's default session is ANSI-off (permissive casts on dirty
    # web-scale text) but the round driver evaluates queries under Spark
    # 4's ANSI default — run the suite in the STRICTER mode so every op is
    # proven to work under both
    s = get_spark(
        "citykg-tests", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.sql.ansi.enabled": "true"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
