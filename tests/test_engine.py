"""Engine facade: tables, named queries, free-form SQL."""

from __future__ import annotations

import pytest

from hackatonbigdata_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, SF_DIR)


def test_tables_and_query(eng):
    assert "lineitem" in eng.tables()
    assert eng.table("region").count() == 5
    df = eng.query("flagship_weekly_brand_demand")
    assert df.count() > 0


def test_sql_over_views(eng):
    n = eng.sql(
        "SELECT count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey"
    ).first().n
    assert n == eng.table("lineitem").count()


def test_unknown_query_is_clear(eng):
    with pytest.raises(KeyError, match="unknown query"):
        eng.query("nope")


def test_queries_fail_cleanly_on_missing_sf_dir(spark):
    """The driver's robustness probe: a bad sf_dir must raise a clean
    AnalysisException (PATH_NOT_FOUND), not a hang or a wrong result."""
    import pytest
    from pyspark.errors import AnalysisException

    from hackatonbigdata_spark.registry import all_queries

    fn = all_queries()["flagship_weekly_brand_demand"]
    with pytest.raises(AnalysisException):
        fn(spark, "/root/testdata/sf_does_not_exist").collect()


def test_no_package_code_sets_session_config():
    """Building or running a query must not flip session-global config:
    the test sweeps build queries from several threads over one session.
    Settings belong in session.get_spark, reads carry their own options."""
    import pathlib
    import re

    import hackatonbigdata_spark

    root = pathlib.Path(hackatonbigdata_spark.__file__).parent
    hits = [
        f"{path.relative_to(root.parent)}:{i}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.conf\.set\(", line)
    ]
    assert not hits, "package code calls .conf.set(:\n" + "\n".join(hits)
