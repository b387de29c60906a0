import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from xml_to_parquet_spark import get_spark

    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# The reference fixture pair: the purchase-order example of the W3C XML
# Schema Primer (FIXTURES.md §F1), vendored so the suite needs nothing
# outside the repo.
FIXTURES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
REF_XML = os.path.join(FIXTURES_DIR, "PurchaseOrder.xml")
REF_XSD = os.path.join(FIXTURES_DIR, "PurchaseOrder.xsd")
