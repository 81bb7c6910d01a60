"""The in-memory model of the transactional table, and the engine against
it on a short stream at sf0.001."""

import datetime
import os

import pytest
from ops import TxnOp, inserted_row
from txn_model import TxnModel


def _base(n):
    return [inserted_row(k) for k in range(n)]


def test_model_semantics():
    m = TxnModel(_base(10))
    assert [r[0] for r in m.apply(TxnOp("range", 3, 6))] == [3, 4, 5]
    m.apply(TxnOp("insert", 10, 12))
    m.apply(TxnOp("merge", 8, 11, 5.5))
    m.apply(TxnOp("delete", 0, 2))
    assert m.apply(TxnOp("point", 1, 2)) == []
    assert m.apply(TxnOp("point", 9, 10))[0][3] == 5.5
    assert m.apply(TxnOp("point", 11, 12))[0] == inserted_row(11)
    assert m.apply(TxnOp("compact")) is None
    assert [r[0] for r in m.snapshot()] == list(range(2, 12))


def test_inserted_row_is_exact():
    r = inserted_row(12345)
    assert r[3] == (100_000 + (12345 * 7919) % 49_900_000) / 100.0
    assert r[4] == datetime.date(1995, 1, 1) + datetime.timedelta(days=12345 % 2400)


def test_user_bytes_counts_strings_by_length():
    m = TxnModel([(1, 2, "O", 3.0, datetime.date(2000, 1, 1), "1-GEN")])
    assert m.user_bytes() == 8 * 4 + 1 + 5


@pytest.fixture(scope="module")
def spark():
    from dbms_query_optimizer_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_engine_matches_model(spark, tmp_path):
    """Three cycles through the workload's own op code: every read and the
    final table equal the model's."""
    from spans import Tracer
    from workloads import DATA_DIR, Context, OpResult, TxnIngestRead, row_counts

    sf_dir = os.path.join(DATA_DIR, "sf0.001")
    counts = row_counts(sf_dir)
    wl = TxnIngestRead(11, counts)
    ctx = Context(spark=spark, sf_dir=sf_dir, tracer=Tracer(spark, False, None),
                  work_dir=str(tmp_path), counts=counts)
    wl.setup(ctx)
    for i in range(3):
        results = [OpResult(op, 0.0, wl.run(ctx, op, True)) for op in wl.pass_ops()]
        assert wl.check(ctx, results, warmup=(i == 0)) == 0, wl.failures
    assert wl.finish(ctx)["bytes_per_user_byte"] > 0
