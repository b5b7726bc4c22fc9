from __future__ import annotations

import threading

import pytest
from py4j.protocol import Py4JError

# Pre-warm pyspark.ml's import graph ONCE, single-threaded: the operators
# import MLlib lazily inside their bodies, and Python's per-module import
# locks deadlock / raise partial-initialization ImportErrors when several
# sweep threads trigger the circular pyspark.ml submodule imports
# concurrently (observed: _DeadlockError on pyspark.ml.functions,
# "partially initialized module 'pyspark.ml'" on classification).
import pyspark.ml.classification  # noqa: F401,E402
import pyspark.ml.clustering  # noqa: F401,E402
import pyspark.ml.feature  # noqa: F401,E402
import pyspark.ml.functions  # noqa: F401,E402
import pyspark.ml.regression  # noqa: F401,E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hackatonbigdata_spark.session import get_spark

    spark = get_spark("hackatonbigdata-tests")
    yield spark
    if _jvm_error(spark) is None:  # a dead JVM was already reported
        spark.stop()


def _jvm_error(spark) -> Exception | None:
    """The py4j error of a trivial call into the driver JVM, or None."""
    try:
        spark._jvm.java.lang.System.nanoTime()
    except (Py4JError, OSError) as exc:
        return exc
    return None


@pytest.fixture(autouse=True)
def _spark_alive(request):
    """Before each test that uses ``spark``, ping the driver JVM over py4j.
    A dead JVM (e.g. OOM-killed) ends the run once, naming the cause,
    instead of failing every later test with ConnectionRefusedError."""
    if "spark" in request.fixturenames:
        exc = _jvm_error(request.getfixturevalue("spark"))
        if exc is not None:
            pytest.exit(
                "Spark driver JVM is unreachable (killed or crashed?), "
                f"ending the run: {exc!r}",
                returncode=1,
            )


# --- shared query-DataFrame cache (r15 suite-runtime fix) -------------------
# Both exhaustive sweeps (oracle parity and the plan-window audit) construct
# every registered query's DataFrame; construction is where iterative
# operators run their eager materialize jobs, so building each DF twice
# doubled real Spark work.  DataFrames are immutable — one construction per
# (sf_dir, name) serves both sweeps.  sf0.001 checkpoints are tiny, so
# pinning them for the session is cheap.
_DF_CACHE: dict = {}
_DF_LOCK = threading.Lock()


def cached_query_df(spark, sf_dir: str, name: str, fn):
    key = (sf_dir, name)
    with _DF_LOCK:
        hit = _DF_CACHE.get(key)
    if hit is not None:
        return hit
    df = fn(spark, sf_dir)
    with _DF_LOCK:
        _DF_CACHE.setdefault(key, df)
    return df
