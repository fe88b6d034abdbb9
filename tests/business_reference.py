"""Day-walking reference for ``business_seconds``.

An implementation of P6 independent of the library's closed form: a
pandas UDF that walks every calendar day of each interval in a Python
loop (one ``pd.date_range`` per row) and clips each workday against the
business window. The golden and property tests compare the two.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def business_seconds_pandas_udf(
    workdays: tuple[int, ...] = (0, 1, 2, 3, 4),
    hour_start: int = 9,
    hour_end: int = 22,
    holiday_dates: tuple[str, ...] = (),
):
    """Pandas UDF with the semantics of ``business_seconds``:
    ``udf = business_seconds_pandas_udf(); df.select(udf("start", "end"))``.
    Cost is per row and grows with the interval's length in days."""
    holiday_set = frozenset(pd.Timestamp(d).date() for d in holiday_dates)
    workday_set = frozenset(workdays)

    @pandas_udf("long")
    def _business_seconds(start: pd.Series, end: pd.Series) -> pd.Series:
        lo = np.minimum(start.values, end.values)
        hi = np.maximum(start.values, end.values)
        out = np.zeros(len(start), dtype="float64")
        lo_days = pd.Series(lo).dt.normalize()
        hi_days = pd.Series(hi).dt.normalize()
        for i in range(len(start)):
            if pd.isna(lo[i]) or pd.isna(hi[i]):
                out[i] = np.nan
                continue
            days = pd.date_range(lo_days.iloc[i], hi_days.iloc[i], freq="D")
            mask = np.array(
                [d.weekday() in workday_set and d.date() not in holiday_set for d in days]
            )
            win_lo = np.maximum(
                (days + pd.Timedelta(hours=hour_start)).values, lo[i]
            )
            win_hi = np.minimum((days + pd.Timedelta(hours=hour_end)).values, hi[i])
            secs = (win_hi - win_lo) / np.timedelta64(1, "s")
            out[i] = np.where(mask, np.maximum(secs, 0), 0).sum()
        return pd.Series(out).astype("Int64")

    return _business_seconds
