import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("WALDEN_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from walden_spark.session import get_spark

    # WALDEN_TEST_MASTER / WALDEN_TEST_SHUFFLE: partition-count
    # independence probes (e.g. local[5] + shuffle=3) — results must
    # not depend on the parallelism layout
    s = get_spark(
        app_name="walden_tests",
        master=os.environ.get("WALDEN_TEST_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("WALDEN_TEST_SHUFFLE", "8")),
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def jobs_launched(spark):
    """``jobs_launched(fn) -> (fn(), n)``: ``n`` is the number of Spark
    jobs ``fn`` launched, counted through a job group with the status
    tracker. The tracker is fed asynchronously by the listener bus, so
    a sentinel job launched afterwards is awaited first: once it is
    visible, every earlier job is too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group, sentinel = (f"probe-{uuid.uuid4().hex}" for _ in range(2))
        sc.setJobGroup(group, "job-count probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup(sentinel, "job-count sentinel")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
