import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from jena_spark.session import get_spark

    s = get_spark(app="jena_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


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
            if "reference_corpus" not in getattr(rep, "keywords", ()):
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
