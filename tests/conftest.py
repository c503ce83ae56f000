import shutil
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession  # noqa: E402


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


@pytest.fixture(params=["driver", "driver_sparkio", "distributed",
                        "and_pruned", "blockmax", "and_blockmax"])
def engine_s(request, engine):
    """The same engine under all physical strategies: 'driver' (the
    size-gated driver-scored fast path with embedded pyarrow IO — the
    default for a local root at fixture scale), 'driver_sparkio' (driver
    scoring through Spark collects, the remote-root form), 'distributed'
    (driver scoring disabled, so the distributed mask-class fold runs), and
    'and_pruned' (Σdf cap 0, so every pure-AND query runs the
    block-pruned intersection path and everything else falls back to the
    distributed fold), 'blockmax' (single-term threshold 0, so every
    eligible single-positive-term or flat-OR query runs the block-max
    early-termination decode), and 'and_blockmax' (Σdf cap 0 + seed cap
    0, so every pure-AND query runs the flat-AND block-max decode).
    Rank-identity suites run under all six so no strategy loses oracle
    coverage."""
    cap = {"distributed": -1, "and_pruned": 0}.get(request.param)
    if request.param == "blockmax":
        engine._BLOCKMAX_MIN_POSTINGS = 0
        engine._BLOCKMAX_FLAT_MIN_POSTINGS = 0
        engine._BLOCKMAX_WARM_FALLBACK = False
        try:
            yield engine
        finally:
            del engine.__dict__["_BLOCKMAX_MIN_POSTINGS"]
            del engine.__dict__["_BLOCKMAX_FLAT_MIN_POSTINGS"]
            del engine.__dict__["_BLOCKMAX_WARM_FALLBACK"]
    elif request.param == "and_blockmax":
        engine._DRIVER_SCORE_MAX_POSTINGS = 0
        engine._AND_SEED_MAX_POSTINGS = 0
        try:
            yield engine
        finally:
            del engine.__dict__["_DRIVER_SCORE_MAX_POSTINGS"]
            del engine.__dict__["_AND_SEED_MAX_POSTINGS"]
    elif request.param == "driver_sparkio":
        prev = engine.io_mode
        engine.io_mode = "spark"
        try:
            yield engine
        finally:
            engine.io_mode = prev
    elif cap is not None:
        engine._DRIVER_SCORE_MAX_POSTINGS = cap
        # and_pruned must keep exercising the restricted READ even when
        # the shared engine's term LRU is warm from earlier strategies
        engine._AND_LRU_SERVE = False
        try:
            yield engine
        finally:
            del engine.__dict__["_DRIVER_SCORE_MAX_POSTINGS"]
            engine.__dict__.pop("_AND_LRU_SERVE", None)
    else:
        yield engine
