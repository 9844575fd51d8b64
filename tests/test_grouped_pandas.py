"""The grouped-map z-score body against a plain-Python reference."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ssafynews_data_spark.operators.grouped_pandas import _zscore_group


def _zscore_reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Python pass per step: fsum mean, two-pass fsum variance,
    per-row z and floor."""
    v = pdf["value"].to_numpy()
    n = len(v)
    mean = math.fsum(v) / n if n else 0.0
    if n > 1:
        var = math.fsum((x - mean) ** 2 for x in v) / (n - 1)
        std = math.sqrt(var)
    else:
        std = 0.0
    z = [(x - mean) / std if std > 0 else 0.0 for x in v]
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "z_q4": [math.floor(x * 10000) for x in z],
        }
    )


_values = st.lists(
    st.one_of(
        st.floats(-1e6, 1e6, allow_nan=False),
        st.integers(-50, 50).map(float),  # ties and repeated values
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=300, deadline=None)
@given(_values)
def test_zscore_group_matches_python_reference(values):
    pdf = pd.DataFrame(
        {
            "event_id": range(len(values)),
            "event_type": "click",
            "value": pd.Series(values, dtype="float64"),
        }
    )
    got, want = _zscore_group(pdf), _zscore_reference(pdf)
    assert got["z_q4"].dtype == "int64"
    assert got["z_q4"].tolist() == want["z_q4"].tolist()
    assert got["event_id"].tolist() == want["event_id"].tolist()


def test_zscore_group_constant_and_single_groups_are_zero():
    for values in ([3.0], [2.5, 2.5, 2.5]):
        pdf = pd.DataFrame({"event_id": range(len(values)), "event_type": "x", "value": values})
        assert _zscore_group(pdf)["z_q4"].tolist() == [0] * len(values)
