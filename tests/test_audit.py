"""The plan auditor reports sane numbers and flags Python-eval plans."""

import pytest

from abr_etl_spark import audit
from abr_etl_spark.plans import analytics
from tests.conftest import SF_ORACLE


def test_audit_q1(spark):
    info = audit.audit_plan(spark, analytics.q1_pricing_summary(spark, SF_ORACLE))
    assert info["scans"] == 1
    assert info["pushed_filters"] >= 1
    assert info["python_eval"] == 0
    assert info["codegen_subtrees"] >= 1


def test_audit_flags_python(spark):
    from abr_etl_spark.operators import multimodal
    from abr_etl_spark.sources.lake import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    feats = multimodal.extract_features(multimodal.attach_payload(d))
    info = audit.audit_plan(spark, feats)
    assert info["python_eval"] >= 1


def test_driver_registry_contract():
    """The driver contract must stay closed: every queries() key has an
    oracle (this engine has no rows-only keys -- a regression to
    rows-only should be a deliberate, visible choice), every oracle
    refers to a real query, and the priority head only lists real keys."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) == set(qs), (
        set(oracles) ^ set(qs)
    )
    # the priority head (its list is rotated every round)
    pri_names = [n for n in dir(entry) if n.endswith("PRIORITY")]
    assert len(pri_names) == 1, pri_names
    priority = getattr(entry, pri_names[0])
    missing = [k for k in priority if k not in qs]
    assert not missing, missing
    # priority head has no duplicates (duplicates silently waste the
    # driver's ~50-row budget)
    assert len(priority) == len(set(priority))


def test_registry_raises_when_a_plan_module_fails_to_import(monkeypatch):
    """A plan module that cannot be imported fails queries() instead of
    silently dropping every key it defines."""
    import sys

    import __spark_entry__ as entry

    # a None entry in sys.modules makes the import raise ImportError
    monkeypatch.setitem(sys.modules, "abr_etl_spark.plans.llm_pipeline9", None)
    with pytest.raises(ImportError, match="llm_pipeline9"):
        entry.queries()


def test_registry_raises_on_a_key_defined_twice(monkeypatch):
    """Two plan modules defining one key is an error, not a silent
    last-module-wins override."""
    import __spark_entry__ as entry
    from abr_etl_spark.plans import analytics2

    monkeypatch.setitem(
        analytics2.QUERIES,
        "q1_pricing_summary",
        analytics.QUERIES["q1_pricing_summary"],
    )
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        entry.queries()
