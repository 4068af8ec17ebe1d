"""read_orc's one-stripe rule: a scan that plans to at most one stripe of
at most ``batch_rows`` rows is decoded on the driver and returned as a
local relation. Each case reads the same rows once from a one-stripe file
(driver path) and once from a four-stripe file (distributed path) and
requires identical rows and an identical schema."""

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

N = 1000


def _table() -> pa.Table:
    k = np.arange(N, dtype=np.int64)
    ts = [np.datetime64("2020-06-01T12:34:56.789123", "ns"), None,
          np.datetime64("1969-12-31T23:59:58.5", "ns"), np.datetime64("2015-01-01", "ns")]
    return pa.table({
        "k": k,
        # a permutation of k: every stripe's min/max spans the whole range,
        # so stripe statistics cannot prune a point lookup on it
        "u": (k * 7919) % N,
        "b": pa.array([True, False, None, True] * (N // 4)),
        "i32": pa.array([100000, -7, None, 2**31 - 1] * (N // 4), type=pa.int32()),
        "f64": pa.array([1.5e300, -0.0, None, float("inf")] * (N // 4)),
        "s": pa.array(["hi", "", None, "unicode ✓"] * (N // 4)),
        "bin": pa.array([b"\x00\x01", b"", None, b"\xff"] * (N // 4), type=pa.binary()),
        "d": pa.array([0, 10957, None, -3650] * (N // 4), type=pa.int32()).cast(pa.date32()),
        "ts": pa.array(ts * (N // 4), type=pa.timestamp("ns")),
        "dec": pa.array([Decimal("12345678901234567890.12345"), Decimal("-1.00000"), None,
                         Decimal("0.00001")] * (N // 4), type=pa.decimal128(38, 5)),
        "lst": pa.array([[1, 2], [], None, [None, 5]] * (N // 4), type=pa.list_(pa.int64())),
        "mp": pa.array([[("a", 1)], [], None, [("b", None)]] * (N // 4),
                       type=pa.map_(pa.string(), pa.int32())),
        "st": pa.array([{"x": 1, "y": "a"}, {"x": None, "y": "b"}, None, {"x": 3, "y": None}]
                       * (N // 4), type=pa.struct([("x", pa.int64()), ("y", pa.string())])),
    })


@pytest.fixture(scope="module")
def orc_pair(tmp_path_factory):
    """(one-stripe file, four-stripe file) of the same rows."""
    from orc_rs_spark.orcfile.reader import read_tail
    from orc_rs_spark.orcfile.writer import write_orc

    d = tmp_path_factory.mktemp("one_stripe")
    t = _table()
    one, four = str(d / "one.orc"), str(d / "four.orc")
    write_orc(t, one, stripe_rows=N, row_index_stride=100)
    write_orc(t, four, stripe_rows=N // 4, row_index_stride=100)
    assert len(read_tail(one).footer.stripes) == 1
    assert len(read_tail(four).footer.stripes) == 4
    return one, four


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["k"])


def _same(local, distributed) -> list[dict]:
    assert "MapInArrow" not in _plan(local)
    assert "MapInArrow" in _plan(distributed)
    assert local.schema == distributed.schema
    rows = _rows(local)
    assert rows == _rows(distributed)
    return rows


@pytest.mark.spark
def test_one_stripe_scan_all_types(spark, orc_pair):
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, four = orc_pair
    rows = _same(read_orc(spark, one), read_orc(spark, four))
    assert len(rows) == N
    assert [r["k"] for r in rows] == list(range(N))


@pytest.mark.spark
def test_one_stripe_scan_runs_no_job(spark, orc_pair):
    """The local relation is collected without any Spark job, so no task
    and no Python worker runs for it."""
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, _ = orc_pair
    sc = spark.sparkContext
    sc.setJobGroup("one-stripe-scan", "one-stripe scan")
    try:
        df = read_orc(spark, one, predicate=("u", 7, 7), columns=["k", "u"], residual=True)
        want = [(k, 7) for k in range(N) if k * 7919 % N == 7]
        assert [tuple(r) for r in df.collect()] == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("one-stripe-scan") == []


@pytest.mark.spark
def test_one_stripe_point_lookup(spark, orc_pair):
    from pyspark.sql import functions as F

    from orc_rs_spark.orcfile.spark_source import read_orc

    one, four = orc_pair
    key = 123
    pred, cols = ("u", key, key), ["k", "u", "s"]
    rows = _same(read_orc(spark, one, predicate=pred, columns=cols).where(F.col("u") == key),
                 read_orc(spark, four, predicate=pred, columns=cols).where(F.col("u") == key))
    assert [r["u"] for r in rows] == [key]


@pytest.mark.spark
def test_one_stripe_residual(spark, orc_pair):
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, four = orc_pair
    pred = [("u", 100, 400), ("k", [3, 250, 251, 640, 999])]
    rows = _same(read_orc(spark, one, predicate=pred, residual=True),
                 read_orc(spark, four, predicate=pred, residual=True))
    want = [k for k in (3, 250, 251, 640, 999) if 100 <= k * 7919 % N <= 400]
    assert [r["k"] for r in rows] == want


@pytest.mark.spark
def test_one_stripe_projection(spark, orc_pair):
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, four = orc_pair
    cols = ["mp", "k", "ts", "dec"]
    local = read_orc(spark, one, columns=cols)
    _same(local, read_orc(spark, four, columns=cols))
    assert local.columns == ["k", "ts", "dec", "mp"]  # file order, as distributed


@pytest.mark.spark
def test_one_stripe_everything_pruned(spark, orc_pair):
    """A predicate no stripe survives gives an empty local frame with the
    schema of the unpruned (distributed) scan."""
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, four = orc_pair
    for path in (one, four):
        df = read_orc(spark, path, predicate=("k", N + 10, N + 20))
        assert "MapInArrow" not in _plan(df)
        assert df.schema == read_orc(spark, four).schema
        assert df.collect() == []


@pytest.mark.spark
def test_one_stripe_rule_needs_one_batch(spark, orc_pair):
    """A single stripe larger than batch_rows stays distributed."""
    from orc_rs_spark.orcfile.spark_source import read_orc

    one, _ = orc_pair
    assert "MapInArrow" in _plan(read_orc(spark, one, batch_rows=N - 1))
    assert "MapInArrow" not in _plan(read_orc(spark, one, batch_rows=N))
