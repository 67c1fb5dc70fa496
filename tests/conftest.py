import pytest

from geospark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="geospark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(fn) -> (fn(), number of Spark jobs fn ran)``, counted in
    a fresh job group."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, call):
        sc.setJobGroup(group, group)
        try:
            return call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run(fn):
        tag = f"t-{uuid.uuid4().hex[:8]}"
        out = in_group(tag, fn)
        in_group(f"{tag}-mark", lambda: spark.range(1).collect())
        # job events reach the tracker in order: once the marker job
        # shows, every job fn ran shows too
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(f"{tag}-mark") and time.time() < deadline:
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(tag))

    return run
