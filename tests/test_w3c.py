"""W3C RDF 1.1 test-suite conformance — the P/R gate vs Jena RIOT.

Each suite must pass at 100% (the BASELINE.json bar is P/R ≥ 0.95; eval
tests compare by blank-node-bijection isomorphism exactly like the
reference harness, RiotEvalTest.java:105-116)."""

import pytest

from jena_spark.w3c import run_suite

pytestmark = pytest.mark.reference_corpus

SUITES = ["n-triples", "n-quads", "turtle", "trig", "xml"]


@pytest.mark.parametrize("suite", SUITES)
def test_suite_full_pass(suite):
    passed, total, failures = run_suite(suite)
    detail = "; ".join(f"{t.name}: {d[:80]}" for t, d in failures[:5])
    assert total > 50, f"suite {suite} did not load"
    assert passed == total, f"{suite}: {passed}/{total} — {detail}"
