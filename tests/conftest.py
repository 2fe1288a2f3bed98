import os
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _load_slow_entries():
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    files, tests = set(), set()
    try:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                if "::" in line:
                    tests.add(tuple(line.split("::", 1)))
                else:
                    files.add(line)
    except OSError:
        pass
    return files, tests


_SLOW_FILES, _SLOW_TESTS = _load_slow_entries()


def pytest_collection_modifyitems(config, items):
    # Mark the long-running tests listed in slow_tests.txt so the
    # default selection (addopts -m "not slow") stays inside an
    # external verification window. Parameterized variants share their
    # base name. Full suite: -m ""; slow set only: -m slow.
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = re.sub(r"\[.*\]$", "", item.name)
        if fname in _SLOW_FILES or (fname, base) in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from distributed_vector_database_spark.session import get_spark

    s = get_spark(app_name="dvds-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from distributed_vector_database_spark.sources.fixtures import load_tables

    return load_tables(spark, SF_DIR)


def _run_in_job_group(spark, fn):
    """(fn(), the ids of the Spark jobs it ran): `fn` runs under its own
    job group, read back once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, {int(j) for j in sc.statusTracker().getJobIdsForGroup(group)}


@pytest.fixture
def spark_jobs(spark):
    """`run(fn)` calls `fn` (which must force its work, e.g. collect)
    and returns the number of Spark jobs it ran."""
    return lambda fn: len(_run_in_job_group(spark, fn)[1])


@pytest.fixture
def executed_plans(spark):
    """`run(fn)` calls `fn` (which must force its work, e.g. collect)
    under its own job group and returns (fn's result, the lines of the
    formatted physical plans of the SQL executions whose jobs that group
    ran), read from the driver's SQL status store: the plans the code
    under test actually executed, not ones rebuilt by hand."""
    conv = spark.sparkContext._gateway.jvm.scala.jdk.javaapi.CollectionConverters

    def run(fn):
        out, jobs = _run_in_job_group(spark, fn)
        store = spark._jsparkSession.sharedState().statusStore()
        lines = []
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if jobs & {int(j) for j in conv.asJava(ex.jobs().keySet())}:
                lines.extend(ex.physicalPlanDescription().splitlines())
        return out, lines

    return run


@pytest.fixture
def persisted_rdds(spark):
    """`run()` returns the ids of the RDDs persisted in the session now
    (cached or locally checkpointed blocks)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    return lambda: {int(i) for i in rdds().keySet().toArray()}


@pytest.fixture(params=["one_task", "loop"])
def cc_path(request, monkeypatch):
    """Runs the test once per dedup_clusters path: the one-task resolve
    (every edge count fits) and the distributed label loop (none does)."""
    from distributed_vector_database_spark.operators import dedup

    monkeypatch.setattr(
        dedup,
        "CC_ONE_TASK_MAX_EDGES",
        10**12 if request.param == "one_task" else -1,
    )
    return request.param


@pytest.fixture(params=["tail_on_driver", "state"])
def search_path(request, monkeypatch):
    """Runs the test once per store.search path: the snapshot job merged
    with the changelog tail on the driver (every changelog fits
    KEY_SCOPED_MAX_KEYS) and knn_exact over state() (none does)."""
    from distributed_vector_database_spark import store

    monkeypatch.setattr(
        store,
        "KEY_SCOPED_MAX_KEYS",
        10**9 if request.param == "tail_on_driver" else -1,
    )
    return request.param
