import os
import shutil
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TESTS))
sys.path.insert(0, _TESTS)

from pyspark.sql import SparkSession  # noqa: E402
from strategies import STRATEGIES, forced_strategy  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("resin_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # arrow on, as in session.make_session: local pandas frames become
        # job-free local relations (the embedded fetch path relies on it)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_rows():
    from resin_spark.fixtures import gen_transcripts

    return gen_transcripts(n_convs=40, max_turns=6, n_unique_terms=8)


@pytest.fixture(scope="session")
def transcripts(spark, fixture_rows):
    from resin_spark.fixtures import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(fixture_rows, schema=TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="session")
def oracle(fixture_rows):
    from resin_spark.reference import build_oracle_index

    return build_oracle_index(fixture_rows)


@pytest.fixture(scope="session")
def index_root(spark, transcripts, tmp_path_factory):
    from resin_spark.build import build_index

    root = str(tmp_path_factory.mktemp("idx") / "collection")
    build_index(spark, transcripts, root, write_doclens=True)
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def engine(spark, index_root):
    from resin_spark.executor import SearchEngine

    return SearchEngine(spark, index_root)


@pytest.fixture(scope="session")
def mixed_index_root(spark, transcripts, tmp_path_factory):
    """The fixture corpus as a mixed index: conversations 0-19 from the
    Spark build, then 20-29 and 30-39 appended as two segments by the
    driver-side segment writer (append_docs' small-batch route)."""
    from pyspark.sql import functions as F

    from resin_spark.api import append_docs
    from resin_spark.build import build_index

    root = str(tmp_path_factory.mktemp("mixed") / "collection")
    cid = F.col("conv_id")
    build_index(spark, transcripts.filter(cid < "conv00000020"), root,
                write_doclens=True)
    for lo, hi in (("conv00000020", "conv00000030"),
                   ("conv00000030", "conv99999999")):
        seg = append_docs(spark, transcripts.filter((cid >= lo) & (cid < hi)),
                          root)["segment"]
        # the Spark writer leaves a _SUCCESS marker, the driver one none
        assert not os.path.exists(f"{root}/docs/segment={seg}/_SUCCESS")
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def mixed_engine(spark, mixed_index_root):
    from resin_spark.executor import SearchEngine

    return SearchEngine(spark, mixed_index_root)


@pytest.fixture(params=STRATEGIES)
def mixed_engine_s(request, mixed_engine):
    """engine_s over mixed_index_root."""
    with forced_strategy(mixed_engine, request.param):
        yield mixed_engine


@pytest.fixture(params=STRATEGIES)
def engine_s(request, engine):
    """The same engine under all six physical strategies (described in
    strategies.forced_strategy).  Rank-identity suites run under all six
    so no strategy loses oracle coverage."""
    with forced_strategy(engine, request.param):
        yield engine
