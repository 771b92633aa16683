import sys
from pathlib import Path

import pytest

# repo root importable (gdal_spark, __spark_entry__)
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gdal_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdal_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def reference_file(path):
    """``path`` unchanged when the file exists; otherwise skip the
    calling test. Golden fixtures from the reference's autotest tree
    are read in place, never copied into this repo, so a checkout
    without that tree skips the golden-parity tests instead of failing
    them; the pure-engine tests beside them keep running."""
    if not Path(path).exists():
        pytest.skip(f"reference fixture not present: {path}")
    return path


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"
