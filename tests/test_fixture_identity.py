"""The committed kernel fixtures are the oracle, not a cache of it.

``fixture_sql`` regenerates a fixture whenever the kernel sources change
(their hash is part of the cache stamp), so a kernel change that alters
results would silently rewrite its own oracle.  This test rebuilds every
``FIXTURE_BUILDERS`` entry from the sf0.001 testdata with the current
code and compares it byte for byte with the committed file.
"""

import os

import pytest

from tsc_spark.oracle_fixtures import (
    DEFAULT_ORACLE_SF_DIR,
    FIXTURE_BUILDERS,
    FIXTURE_ROOT,
    build_fixture_sql,
)

SF_DIR = os.path.join(os.path.dirname(DEFAULT_ORACLE_SF_DIR), "sf0.001")


@pytest.mark.skipif(
    not os.path.isfile(os.path.join(SF_DIR, "documents.parquet")),
    reason=f"sf0.001 testdata not present at {SF_DIR}",
)
@pytest.mark.parametrize("name", sorted(FIXTURE_BUILDERS))
def test_rebuilt_fixture_equals_committed(name):
    with open(os.path.join(FIXTURE_ROOT, "sf0.001", f"{name}.sql")) as f:
        committed = f.read()
    assert build_fixture_sql(name, SF_DIR) == committed
