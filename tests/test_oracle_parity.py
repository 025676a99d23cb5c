"""Driver-gate replica: Spark queries vs DuckDB oracles at sf0.001.

The full sweep lives in tools/parity.py; this keeps a representative
subset in the always-on test suite (one per operator family)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity import compare, duck_con

SF = "/root/testdata/sf0.001"

SUBSET = [
    "kg_extract_triples",
    "kg_pred_counts",
    "kg_lineage",
    "kg_salted_partitions",
    "alg_group_agg",
    "alg_join",
    "alg_agg_variety",
    "path_fixed_2hop",
    "path_transitive_plus",
    "dedup_minhash_sigs",
    "dedup_jaccard",
    "text_profile",
    "ann_topk",
    "mm_metadata",
]


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as em

    return em.queries(), em.oracle_sql(), duck_con(SF)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, harness, name):
    qs, oracles, con = harness
    sdf = qs[name](spark, SF).toPandas()
    odf = con.execute(oracles[name]).df()
    msg = compare(name, sdf, odf)
    assert not msg, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"pred", "n_triples"}


def test_every_query_has_oracle_or_is_documented(spark):
    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    missing = set(qs) - set(oracles)
    # rows-only checks are allowed only for genuinely non-SQL-expressible ops
    assert missing <= {"kg_salted_partitions"}, missing
    assert not (set(oracles) - set(qs)), "oracle without query"
