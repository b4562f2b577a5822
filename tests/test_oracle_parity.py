"""Oracle-differential tests (SURVEY.md §5.1): every registered query with
an oracle runs on Spark AND DuckDB at sf0.001; results must match on column
names + multiset of values. This mirrors the driver's CORRECTNESS gate."""

from __future__ import annotations

import datetime

import pytest

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.plans.registry import (
    all_specs,
    norm_rows,
)

from .conftest import assert_matches_oracle

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        # rows-only check (driver's weaker path): runs and yields >= 0 rows
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, spec.oracle)


def test_norm_rows_cell_rules():
    """The comparison's cell rules, without Spark: NaN equals NaN, float
    jitter far below the 9-decimal rounding vanishes, a tz-aware datetime
    equals its naive twin, a nested list equals the nested tuple, None
    stays None, and column names compare case-insensitively."""
    tz = datetime.timezone(datetime.timedelta(hours=2))
    spark_side = norm_rows(
        ["X", "ts", "v", "n", "nested"],
        [(
            float("nan"),
            datetime.datetime(2024, 1, 1, 12, tzinfo=tz),
            0.3,
            None,
            [[1.0], [2.0, float("nan")]],
        )],
    )
    duck_side = norm_rows(
        ["x", "ts", "v", "n", "nested"],
        [(
            float("nan"),
            datetime.datetime(2024, 1, 1, 12),
            0.3 + 1e-12,
            None,
            ((1.0,), (2.0, float("nan"))),
        )],
    )
    assert spark_side == duck_side
    # a difference the rounding must not absorb
    assert norm_rows(["v"], [(0.3,)]) != norm_rows(["v"], [(0.3 + 1e-6,)])
