"""The conformance-layer summary line of ``tests/conftest.py`` under
``-k`` selections."""

from pathlib import Path

import pytest

CONFTEST = Path(__file__).with_name("conftest.py")


@pytest.fixture
def corpus_suite(pytester):
    pytester.makeconftest(CONFTEST.read_text())
    pytester.makeini(
        "[pytest]\nmarkers =\n    reference_corpus: reads the reference checkout\n"
    )
    pytester.makepyfile(
        test_layer="""
        import pytest

        @pytest.mark.reference_corpus
        def test_corpus_case():
            pass

        def test_plain_case():
            pass
        """
    )
    return pytester


def test_deselected_corpus_test_keeps_exit_code(corpus_suite):
    """A selection that deselects a ``reference_corpus`` test ends with
    the selected tests' outcome, not a crash in the summary hook."""
    assert corpus_suite.runpytest("-k", "plain").ret == pytest.ExitCode.OK


def test_empty_selection_reports_no_tests(corpus_suite):
    res = corpus_suite.runpytest("-k", "nothing_matches_this")
    assert res.ret == pytest.ExitCode.NO_TESTS_COLLECTED
