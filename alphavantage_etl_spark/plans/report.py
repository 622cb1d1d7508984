"""Report/analytics surface — the reference's ``visualize_data`` query layer
(data_viz.py:81-192) minus chart rendering.

The engine's responsibility ends at the frames (SURVEY.md section 3.3):
three DESC-ordered scans (data_viz.py:87-98) and six SMA windows over them
(:100-109, k ∈ {20, 90} from constants.py:17). Each fact table is loaded
once, so its schema is inferred once: ``converted`` joins the same two bar
frames. The dual-axis comparison pair (:143-161) and the first-N-column
data tables (P2, :185-188) are column subsets of these frames;
``plans.render`` takes them as pandas positional slices after its three
``toPandas`` calls, as the reference does.

Scale: every frame is a lazy plan over the one-row-per-date bar
aggregations; nothing here collects. The SMA windows are global-order by
design (one series); with a symbol column they become
``partitionBy(symbol)`` and parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.windows import sma
from .views import convert, fx_bars, px_bars

SMA_WINDOWS = (20, 90)  # constants.py:17


def _with_smas(df: DataFrame, value_col: str) -> DataFrame:
    """The six apply sites of data_viz.py:100-109: SMA_k columns with the
    exclusive trailing frame and NULL-under-k pandas parity."""
    return df.select(
        "*",
        *[
            sma(value_col, k, order_col="date").alias(f"sma{k}")
            for k in SMA_WINDOWS
        ],
    )


def report_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The three series the report consumes, full history, date DESC (the
    reference's scan order), each with sma20/sma90 trend columns:
    ``px``, ``fx`` and ``converted`` (``convert`` of the same two bar
    frames, so each fact table is loaded once)."""
    px, fx = px_bars(spark, sf_dir), fx_bars(spark, sf_dir)
    return {
        "px": _with_smas(px, "close").orderBy(F.desc("date")),
        "fx": _with_smas(fx, "close").orderBy(F.desc("date")),
        "converted": _with_smas(convert(px, fx), "close_price_fx").orderBy(
            F.desc("date")
        ),
    }
