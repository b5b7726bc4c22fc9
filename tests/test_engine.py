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


# (pattern, the only package modules allowed to contain it)
OWNED_CALLS = [
    # building or running a query must not flip session-global config: the
    # tests build queries from several threads over one session; settings
    # belong in session.get_spark, reads carry their own options
    pytest.param(r"\.conf\.set\(", [], id="conf.set"),
    # the checkpoint dir is the deployment's choice (spark.checkpoint.dir)
    pytest.param(r"setCheckpointDir\(", [], id="setCheckpointDir"),
    # every observed stop test goes through ``iterate``: a loop that builds
    # its own Observation has its own cadence and cap again.  The upsert's
    # row counts ride its one write, which is not a loop
    pytest.param(
        r"Observation\(",
        ["functions/fixpoint.py", "sources/io.py"],
        id="Observation",
    ),
    # one materialization, which picks a mechanism a cluster can recover
    pytest.param(
        r"localCheckpoint\(|\.checkpoint\(",
        ["functions/materialize.py"],
        id="checkpoint",
    ),
    # the Python twin of the cross-engine hash ``h32`` lives beside it
    pytest.param(r"hexdigest\(\)\[:8\]", ["functions/core.py"], id="py_h32"),
    # stream kernels and their batch twins must agree on every sketch
    # parameter, so each is assigned once, in sketch_params
    pytest.param(
        r"^(BLOOM_M|BLOOM_K|HLL_M|HLL_W|HLL_ALPHA64|KLL_K|KLL_LEVELS"
        r"|KMV_K|SAMPLE_K|CMS_D|CMS_W|CMS_MONITORED|QUANT_PCTS)\b\s*[:=]",
        ["sketch_params.py"],
        id="sketch_params",
    ),
]


@pytest.mark.parametrize("pattern, owners", OWNED_CALLS)
def test_only_the_owner_module_calls(pattern, owners):
    import pathlib
    import re

    import hackatonbigdata_spark

    root = pathlib.Path(hackatonbigdata_spark.__file__).parent
    hits = [
        (str(path.relative_to(root)), f"{i}: {line.strip()}")
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(pattern, line)
    ]
    users = sorted({module for module, _ in hits})
    assert users == owners, "\n".join(f"{m}:{h}" for m, h in hits)


def test_ml_prewarm_lists_the_pyspark_ml_modules_the_package_imports():
    """tests/conftest.py pre-imports every pyspark.ml module the package
    imports (concurrent first imports deadlock), and nothing else."""
    import pathlib
    import re

    import hackatonbigdata_spark
    from tests.conftest import ML_PREWARM

    root = pathlib.Path(hackatonbigdata_spark.__file__).parent
    imported = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in re.finditer(
            r"^\s*(?:from|import)\s+(pyspark\.ml(?:\.\w+)*)", path.read_text(), re.M
        )
    }
    assert set(ML_PREWARM) == imported
