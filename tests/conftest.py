import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

pytest_plugins = ["pytester"]

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from jena_spark.session import get_spark

    s = get_spark(app="jena_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` and returns how many Spark jobs it
    submitted, counted through a job group of its own."""
    sc = spark.sparkContext

    def count(fn):
        group = f"jobs_of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job ceiling probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def py4j_calls_of(spark):
    """``py4j_calls_of(fn)`` runs ``fn`` and returns how many py4j
    commands the driver sent the JVM meanwhile, counted by wrapping the
    gateway client's ``send_command``.  Memory commands are not counted:
    py4j sends one whenever Python garbage-collects a JVM object proxy,
    so their number depends on GC timing and would not repeat."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        calls = 0
        orig = client.send_command

        def counted(command, *args, **kwargs):
            nonlocal calls
            if not command.startswith(MEMORY_COMMAND_NAME):
                calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = counted
        try:
            fn()
        finally:
            client.send_command = orig
        return calls

    return count


# --- conformance layers that need the Jena reference checkout ---------------

def _corpus_missing_reason():
    from jena_spark.w3c import reference_dir

    return (f"conformance corpus missing: {reference_dir()} "
            "(set JENA_REFERENCE_DIR to the Jena reference checkout)")


def pytest_collection_modifyitems(config, items):
    """Tests marked ``reference_corpus`` skip, all with one reason, when
    the reference checkout is absent; when it is present they run and
    their per-suite pass floors apply."""
    from jena_spark.w3c import reference_dir

    if os.path.isdir(reference_dir()):
        return
    skip = pytest.mark.skip(reason=_corpus_missing_reason())
    for item in items:
        if "reference_corpus" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """One line naming the conformance layers (the test modules holding
    ``reference_corpus`` tests) that ran and those skipped for a missing
    corpus, so a green run never hides the gap."""
    reason = _corpus_missing_reason()
    ran, skipped, n_skipped = set(), set(), 0
    for reports in terminalreporter.stats.values():
        for rep in reports:
            # "deselected" holds collected items, not reports
            if not isinstance(rep, pytest.TestReport):
                continue
            if "reference_corpus" not in rep.keywords:
                continue
            layer = rep.nodeid.split("::")[0]
            if rep.skipped and reason in str(rep.longrepr):
                skipped.add(layer)
                n_skipped += 1
            elif rep.when == "call":
                ran.add(layer)
    if not (ran or skipped):
        return
    terminalreporter.write_sep("-", "conformance layers")
    terminalreporter.write_line(
        f"{len(ran)} ran, {len(skipped - ran)} skipped for a missing corpus "
        f"({n_skipped} tests): {', '.join(sorted(skipped - ran)) or '-'}"
    )
    if skipped:
        terminalreporter.write_line(reason)
