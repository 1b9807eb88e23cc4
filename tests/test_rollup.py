"""RollupLadder: continuous-aggregate tiers stay exact under out-of-order
and late arrival (invalidation re-folds), and replays are no-ops."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite
from kafka2iceberg_spark.timeseries import RollupLadder
from kafka2iceberg_spark.transactions import CatalogLite

MIN_US = 60_000_000
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def _mk(spark, tmp_path, tiers=None):
    cat = CatalogLite(str(tmp_path / "cat"))
    tiers = tiers or [("hour", HOUR_US), ("day", DAY_US)]
    for name, _ in tiers:
        cat.register(
            name,
            IcebergLite(
                str(tmp_path / name), pk=["bucket_us"], partition_field=None
            ),
        )
    cat.register(
        "rollup_meta",
        IcebergLite(
            str(tmp_path / "meta"), pk=["tier"], partition_field=None
        ),
    )
    return RollupLadder(cat, tiers)


def _rows(spark, pairs):
    """pairs: [(ts_us, v)]"""
    return spark.createDataFrame(pairs, "ts_us long, v long")


def _tier(spark, rl, name):
    return {
        r["bucket_us"]: (r["n"], r["s"])
        for r in rl.read(spark, name).collect()
    }


def _want(pairs, step):
    out = {}
    for ts, v in pairs:
        b = ts - ts % step
        n, s = out.get(b, (0, 0))
        out[b] = (n + 1, s + v)
    return out


def test_tiers_exact_under_out_of_order_batches(spark, tmp_path):
    rl = _mk(spark, tmp_path)
    import random

    rng = random.Random(5)
    pairs = [
        (rng.randrange(0, 5 * DAY_US), rng.randrange(100))
        for _ in range(400)
    ]
    # three arbitrary arrival slices; watermark advances by day
    cuts = [2 * DAY_US, 4 * DAY_US, 6 * DAY_US]
    for b, hi in enumerate(cuts):
        batch = [p for i, p in enumerate(pairs) if i % 3 == b]
        rl.apply_batch(_rows(spark, batch), str(b), wm_us=hi)
    # finest tier always holds EVERYTHING that arrived
    assert _tier(spark, rl, "hour") == _want(pairs, HOUR_US)
    # day tier: all buckets below the final fold watermark, exact —
    # including buckets dirtied by late arrivals after their fold
    want_day = {
        b: v for b, v in _want(pairs, DAY_US).items() if b < 6 * DAY_US
    }
    assert _tier(spark, rl, "day") == want_day
    assert rl.fold_his(spark) == {"day": 6 * DAY_US}


def test_late_row_refolds_dirty_day(spark, tmp_path):
    rl = _mk(spark, tmp_path)
    rl.apply_batch(
        _rows(spark, [(1 * HOUR_US, 10), (30 * HOUR_US, 5)]),
        "b0", wm_us=2 * DAY_US,
    )
    assert _tier(spark, rl, "day") == {0: (1, 10), DAY_US: (1, 5)}
    # a VERY late row lands in day 0, long after that day folded
    rl.apply_batch(
        _rows(spark, [(2 * HOUR_US, 7)]), "b1", wm_us=2 * DAY_US
    )
    assert _tier(spark, rl, "day") == {0: (2, 17), DAY_US: (1, 5)}
    assert _tier(spark, rl, "hour")[2 * HOUR_US] == (1, 7)


def test_replay_noop(spark, tmp_path):
    rl = _mk(spark, tmp_path)
    assert rl.apply_batch(
        _rows(spark, [(0, 1)]), "b0", wm_us=DAY_US
    )
    v = rl.catalog.current_version()
    assert not rl.apply_batch(
        _rows(spark, [(0, 1)]), "b0", wm_us=DAY_US
    )
    assert rl.catalog.current_version() == v
    assert _tier(spark, rl, "hour") == {0: (1, 1)}


def test_three_tier_ladder(spark, tmp_path):
    tiers = [("minute", MIN_US), ("hour", HOUR_US), ("day", DAY_US)]
    rl = _mk(spark, tmp_path, tiers)
    import random

    rng = random.Random(11)
    pairs = [
        (rng.randrange(0, 3 * DAY_US), rng.randrange(100))
        for _ in range(300)
    ]
    half = len(pairs) // 2
    rl.apply_batch(_rows(spark, pairs[:half]), "b0", wm_us=DAY_US + HOUR_US)
    rl.apply_batch(_rows(spark, pairs[half:]), "b1", wm_us=3 * DAY_US)
    for name, step in tiers:
        hi = rl.fold_his(spark).get(name)
        want = _want(pairs, step)
        if hi is not None:
            want = {b: v for b, v in want.items() if b < hi}
        assert _tier(spark, rl, name) == want, name
