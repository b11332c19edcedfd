"""Every declared query against its DuckDB oracle at sf0.001: same
column names, same row count, same order-insensitive value hash — the
comparison scripts/check_correctness.py runs at any scale. The queries
run the plans production runs (exact k-NN through ``knn_join``'s auto
routing), so a kernel change that moves one row fails here.

The tables are read from ``$VICINITY_TESTDATA/sf0.001``, by default the
``testdata`` directory beside the repository.
"""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from check_correctness import compare, connect, run_oracle  # noqa: E402

from vicinity_spark.queries import ORACLES, QUERIES  # noqa: E402

SF_DIR = os.path.join(
    os.environ.get("VICINITY_TESTDATA") or os.path.join(os.path.dirname(REPO), "testdata"),
    "sf0.001",
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no testdata tables at {SF_DIR}"
)


@pytest.fixture(scope="module")
def duck():
    con = connect(SF_DIR)
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    ocols, orows = run_oracle(duck, ORACLES[name])
    problems = compare(sdf.columns, srows, ocols, orows)
    assert not problems, "\n".join(problems)
