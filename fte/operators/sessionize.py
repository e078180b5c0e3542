"""Sessionization: split a conversation where the ts gap exceeds G.

Classic two-window cumulative-sum formulation (SURVEY.md §2.B):

    gap        = ts - lag(ts)                 over (conv, ts-order)
    is_new     = gap IS NULL OR gap > G
    session_id = running sum of is_new        same window

Both windows share partitioning+ordering, so Catalyst plans ONE
shuffle + ONE sort and evaluates both frames in a single WindowExec.
This is the batch analog of ``F.session_window`` (which targets
streaming aggregation, not per-row session labeling).

pandas reference: (ts.diff() > G).cumsum() within groupby(conv).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from fte.functions import epoch_seconds
from fte.operators.windows import DEFAULT_ORDER, _wt, running_window
from fte.schema import SESSION_GAP_SECONDS


def sessionize(
    df: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    out_col: str = "session_id",
) -> DataFrame:
    ts_s = epoch_seconds(ts_col)
    gap = ts_s - F.lag(ts_s).over(_wt(conv_col, order_cols))
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(out_col, F.sum(is_new).over(running_window(conv_col, order_cols)))
