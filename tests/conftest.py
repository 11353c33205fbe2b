import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_oracle: differential test against the compiled reference "
        "(tools/fuzz_*.py); skipped without the reference sources or a JDK",
    )


def _reference_oracle_available() -> bool:
    try:
        import tools.fuzz_chain as fc
    except ImportError:
        return False
    return bool(os.path.isdir(fc.REF) and shutil.which("javac")
                and shutil.which("java"))


def pytest_collection_modifyitems(config, items):
    marked = [it for it in items if "reference_oracle" in it.keywords]
    if marked and not _reference_oracle_available():
        skip = pytest.mark.skip(reason="reference sources or JDK unavailable")
        for it in marked:
            it.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_small():
    """Deterministic 2000-doc corpus (seed 42)."""
    from lucene_solr_spark.corpus import generate_pages

    return generate_pages(2000, seed=42)


@pytest.fixture(scope="session")
def small_index(spark, pages_small):
    """Index built once per session over pages_small; yields (index_dir, manifest)."""
    from lucene_solr_spark.index.build import build_index

    idx = os.path.join(CACHE, "test_index_small")
    shutil.rmtree(idx, ignore_errors=True)
    sdf = spark.createDataFrame(pages_small[["url", "text"]])
    man = build_index(spark, sdf, idx, num_segments=6, build_id="t0")
    return idx, man


@pytest.fixture(scope="session")
def oracle_small(pages_small):
    from lucene_solr_spark.oracle import OracleSearcher

    return OracleSearcher(pages_small)
