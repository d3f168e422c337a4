import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from ont_d2rq_spark.session import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def eval_expr(spark):
    """Evaluate one SPARQL expression (text) over each row of a small
    frame → list of values, one per row."""
    from ont_d2rq_spark.sparql_expr import as_tree, compile_expr, frame_resolver

    def run(text, rows=((),), schema="_dummy int"):
        df = spark.createDataFrame([tuple(r) or (0,) for r in rows], schema)
        col = compile_expr(as_tree(text), frame_resolver(df.columns))
        return [r[0] for r in df.select(col).collect()]

    return run
