"""HTML report renderer + publish sink — the reference's consumption layer
(IO7), closing the last user-visible capability.

The reference assembles a datapane ``dp.App`` (data_viz.py:165-190): a
title block, two chart-select blocks (Candlestick/OHLC/Line views of the
price and FX series), the dual-axis comparison plot, and a select of three
data tables — then saves it to ``report/index.html`` and pushes that
directory to a GitHub Pages repo (to_github_pages.py:89-107).

This module reproduces the same document structure WITHOUT the datapane/
plotly dependency chain: every block renders as semantic HTML (``<details>``
groups stand in for ``dp.Select``) with dependency-free inline SVG figures —
real candlestick/OHLC/line marks per chart kind — each followed by the data
table carrying the exact series the chart consumed. The reference's
dual-axis ComparisonFigure renders as a twin-y SVG (``_svg_dual_axis``,
per-series tick tinting), followed by single-axis small multiples — twin
y-scales invite false slope comparison, so the multiples and the table stay
alongside as the honest reading. The engine boundary is explicit:

- everything upstream of ``render_report`` is a lazy Spark plan
  (``plans.report.report_frames``);
- ``render_report`` is the DRIVER EDGE: three ``toPandas()`` calls, one
  per series, each limited to ``max_rows`` (the frames are date-DESC, so
  this is "most recent N" — a TakeOrderedAndProject, never a full
  collect). The comparison pair and the three data tables are pandas
  column slices of those frames (``iloc[:, :5]``/``[:, :4]``, as in
  data_viz.py:185-188), not further Spark queries;
- ``publish_report`` mirrors ``report.save(path=.../index.html)``
  (to_github_pages.py:106). The git push itself needs a remote + token
  (``AV_ETL_GITHUB_TOKEN``/``AV_ETL_REMOTE_REPO`` in the reference) and is
  environment-gated here exactly like the live REST fetch: the directory
  written by ``publish_report`` is the push-ready Pages workdir.
"""

from __future__ import annotations

import html as _html
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pandas only at the driver edge
    import pandas as pd

# chart kinds the reference offers per series (create_fig calls,
# data_viz.py:135-140) and the columns each kind actually consumes
CHART_KINDS = ("Candlestick chart", "OHLC chart", "Line chart")

# Chart colors (validated: adjacent-pair CVD ΔE >= 8, lightness band,
# chroma floor all pass; the aqua contrast WARN is relieved by the data
# table accompanying every figure). Categorical hues are assigned in FIXED
# column order, never cycled past the palette — a 4th trend column would
# fold into the table, not mint a new hue. Up/down candles use an
# aqua/red pair (ΔE 9.9 under deutan — green/red fails at 4.1) PLUS a
# secondary encoding: up bodies are hollow, down bodies filled.
_SERIES_COLORS = ("#2a78d6", "#eb6834", "#1baf7a")
_UP, _DOWN = "#1baf7a", "#d03b3b"
_GRID, _AXIS_INK = "#e1e0d9", "#c3c2b7"
_INK, _MUTED = "#52514e", "#898781"

# plot geometry (px): margins fit 6-char y tick labels and one date row
_W, _H, _ML, _MR, _MT, _MB = 720, 260, 56, 12, 12, 28


def _spans(pdf: "pd.DataFrame", cols: list[str]):
    """Ascending-time row order + x/y scaling callables for the plot area.

    Frames arrive date-DESC (the reference's scan order); charts read
    left-to-right in time. Returns ``(rows, x(i), y(v))`` or ``None`` when
    there is nothing drawable (empty frame / no finite values).
    """
    rows = pdf.iloc[::-1].reset_index(drop=True)
    vals = [
        float(v)
        for c in cols
        if c in rows.columns
        for v in rows[c]
        if v is not None and v == v  # drop None/NaN
    ]
    if not len(rows) or not vals:
        return None
    lo, hi = min(vals), max(vals)
    if lo == hi:  # degenerate span: pad so the mark sits mid-plot
        lo, hi = lo - 1.0, hi + 1.0
    pad = (hi - lo) * 0.05
    lo, hi = lo - pad, hi + pad
    step = (_W - _ML - _MR) / len(rows)

    def x(i: int) -> float:
        return _ML + (i + 0.5) * step

    def y(v: float) -> float:
        return _MT + (_H - _MT - _MB) * (hi - float(v)) / (hi - lo)

    return rows, x, y, step, lo, hi


def _svg_frame(body: list[str], rows, x, y, lo: float, hi: float) -> str:
    """Shared chart chrome: recessive gridlines + y tick labels on round-ish
    values, first/last date labels, then the data marks on top."""
    parts = [
        f'<svg viewBox="0 0 {_W} {_H}" width="{_W}" height="{_H}" '
        f'role="img" style="max-width:100%">'
    ]
    for k in range(5):  # 5 hairline gridlines, muted tick text
        v = lo + (hi - lo) * k / 4
        yy = y(v)
        parts.append(
            f'<line x1="{_ML}" y1="{yy:.1f}" x2="{_W - _MR}" y2="{yy:.1f}" '
            f'stroke="{_GRID}" stroke-width="1"/>'
            f'<text x="{_ML - 6}" y="{yy + 3.5:.1f}" text-anchor="end" '
            f'font-size="10" fill="{_MUTED}">{v:.6g}</text>'
        )
    parts.append(
        f'<line x1="{_ML}" y1="{_H - _MB}" x2="{_W - _MR}" y2="{_H - _MB}" '
        f'stroke="{_AXIS_INK}" stroke-width="1"/>'
    )
    if "date" in rows.columns:
        d0, d1 = str(rows["date"].iloc[0]), str(rows["date"].iloc[-1])
        parts.append(
            f'<text x="{_ML}" y="{_H - 8}" font-size="10" fill="{_MUTED}">'
            f"{_html.escape(d0)}</text>"
            f'<text x="{_W - _MR}" y="{_H - 8}" text-anchor="end" '
            f'font-size="10" fill="{_MUTED}">{_html.escape(d1)}</text>'
        )
    parts.extend(body)
    parts.append("</svg>")
    return "".join(parts)


def _svg_line(pdf: "pd.DataFrame", value_cols: list[str]) -> str:
    """Multi-series line chart: 2px polylines, one fixed hue per column,
    legend row above the plot (identity never rides on color alone — the
    legend text is ink-colored with a colored swatch)."""
    cols = [c for c in value_cols if c in pdf.columns][: len(_SERIES_COLORS)]
    sp = _spans(pdf, cols)
    if sp is None:
        return ""
    rows, x, y, step, lo, hi = sp
    body, legend = [], []
    for si, c in enumerate(cols):
        color = _SERIES_COLORS[si]
        pts = " ".join(
            f"{x(i):.1f},{y(v):.1f}"
            for i, v in enumerate(rows[c])
            if v is not None and v == v
        )
        if not pts:
            continue
        body.append(
            f'<polyline points="{pts}" fill="none" stroke="{color}" '
            f'stroke-width="2"><title>{_html.escape(c)}</title></polyline>'
        )
        lx = _ML + 8 + 90 * len(legend)
        legend.append(
            f'<rect x="{lx}" y="{_MT}" width="9" height="9" rx="2" fill="{color}"/>'
            f'<text x="{lx + 13}" y="{_MT + 8.5}" font-size="11" fill="{_INK}">'
            f"{_html.escape(c)}</text>"
        )
    if len(cols) > 1:
        body.extend(legend)
    return _svg_frame(body, rows, x, y, lo, hi)


def _svg_dual_axis(pdf: "pd.DataFrame", left_col: str, right_col: str) -> str:
    """Twin-y comparison figure — the reference's ``ComparisonFigure``
    (data_viz.py:9-38, ``make_subplots(specs=[[{'secondary_y': True}]])``)
    as dependency-free SVG: each series keeps its OWN linear y-scale, left
    axis for the first series, right axis for the second, tick labels
    TINTED to their series' hue so scale ownership never rides on reading
    position alone. Twin axes invite false slope comparison, which is why
    the report also keeps the single-axis small multiples and the exact
    two-column table next to this figure."""
    if left_col not in pdf.columns or right_col not in pdf.columns:
        return ""
    rows = pdf.iloc[::-1].reset_index(drop=True)
    if not len(rows):
        return ""
    mr = 56  # widened right margin: the secondary axis owns it

    def scale(col):
        vals = [float(v) for v in rows[col] if v is not None and v == v]
        if not vals:
            return None
        lo, hi = min(vals), max(vals)
        if lo == hi:
            lo, hi = lo - 1.0, hi + 1.0
        pad = (hi - lo) * 0.05
        return lo - pad, hi + pad

    sl, sr = scale(left_col), scale(right_col)
    if sl is None or sr is None:
        return ""
    step = (_W - _ML - mr) / len(rows)

    def x(i: int) -> float:
        return _ML + (i + 0.5) * step

    def y(v: float, lo: float, hi: float) -> float:
        return _MT + (_H - _MT - _MB) * (hi - float(v)) / (hi - lo)

    cl, cr = _SERIES_COLORS[0], _SERIES_COLORS[1]
    parts = [
        f'<svg viewBox="0 0 {_W} {_H}" width="{_W}" height="{_H}" '
        f'role="img" class="dual-axis" style="max-width:100%">'
    ]
    # both scales map linearly onto the same pixel span, so tick k of the
    # left scale and tick k of the right scale share a gridline
    for k in range(5):
        vl = sl[0] + (sl[1] - sl[0]) * k / 4
        vr = sr[0] + (sr[1] - sr[0]) * k / 4
        yy = y(vl, *sl)
        parts.append(
            f'<line x1="{_ML}" y1="{yy:.1f}" x2="{_W - mr}" y2="{yy:.1f}" '
            f'stroke="{_GRID}" stroke-width="1"/>'
            f'<text x="{_ML - 6}" y="{yy + 3.5:.1f}" text-anchor="end" '
            f'font-size="10" fill="{cl}">{vl:.6g}</text>'
            f'<text x="{_W - mr + 6}" y="{yy + 3.5:.1f}" '
            f'font-size="10" fill="{cr}">{vr:.6g}</text>'
        )
    parts.append(
        f'<line x1="{_ML}" y1="{_H - _MB}" x2="{_W - mr}" y2="{_H - _MB}" '
        f'stroke="{_AXIS_INK}" stroke-width="1"/>'
    )
    if "date" in rows.columns:
        d0, d1 = str(rows["date"].iloc[0]), str(rows["date"].iloc[-1])
        parts.append(
            f'<text x="{_ML}" y="{_H - 8}" font-size="10" fill="{_MUTED}">'
            f"{_html.escape(d0)}</text>"
            f'<text x="{_W - mr}" y="{_H - 8}" text-anchor="end" '
            f'font-size="10" fill="{_MUTED}">{_html.escape(d1)}</text>'
        )
    legend = []
    for si, (col, sc, color) in enumerate(
        ((left_col, sl, cl), (right_col, sr, cr))
    ):
        pts = " ".join(
            f"{x(i):.1f},{y(v, *sc):.1f}"
            for i, v in enumerate(rows[col])
            if v is not None and v == v
        )
        if not pts:
            continue
        parts.append(
            f'<polyline points="{pts}" fill="none" stroke="{color}" '
            f'stroke-width="2"><title>{_html.escape(col)}</title></polyline>'
        )
        lx = _ML + 8 + 110 * len(legend)
        side = "left axis" if si == 0 else "right axis"
        legend.append(
            f'<rect x="{lx}" y="{_MT}" width="9" height="9" rx="2" fill="{color}"/>'
            f'<text x="{lx + 13}" y="{_MT + 8.5}" font-size="11" fill="{_INK}">'
            f"{_html.escape(col)} ({side})</text>"
        )
    parts.extend(legend)
    parts.append("</svg>")
    return "".join(parts)


def _svg_bars(pdf: "pd.DataFrame", kind: str) -> str:
    """Candlestick / OHLC marks. Up bars (close >= open) draw hollow in
    aqua, down bars filled in red — direction is double-encoded (hue +
    fill) so the chart survives red-green CVD and monochrome print.
    Native ``<title>`` tooltips carry the full O/H/L/C per bar."""
    need = ["open", "high", "low", "close"]
    if any(c not in pdf.columns for c in need):
        return ""
    sp = _spans(pdf, need)
    if sp is None:
        return ""
    rows, x, y, step, lo, hi = sp
    half = max(1.0, min(5.0, step * 0.3))
    body = []
    for i in range(len(rows)):
        o, h, l, c = (float(rows[k].iloc[i]) for k in need)
        if any(v != v for v in (o, h, l, c)):
            continue
        up = c >= o
        color = _UP if up else _DOWN
        xc = x(i)
        tip = (
            f"<title>{_html.escape(str(rows['date'].iloc[i]))} "
            f"O {o:.6g} H {h:.6g} L {l:.6g} C {c:.6g}</title>"
        )
        if kind == "Candlestick chart":
            top, bot = y(max(o, c)), y(min(o, c))
            fill = "none" if up else _DOWN
            body.append(
                f'<g>{tip}<line x1="{xc:.1f}" y1="{y(h):.1f}" x2="{xc:.1f}" '
                f'y2="{y(l):.1f}" stroke="{color}" stroke-width="1"/>'
                f'<rect x="{xc - half:.1f}" y="{top:.1f}" width="{2 * half:.1f}" '
                f'height="{max(bot - top, 1):.1f}" fill="{fill}" '
                f'stroke="{color}" stroke-width="1.5"/></g>'
            )
        else:  # OHLC: high-low spine, open tick left, close tick right
            body.append(
                f'<g>{tip}<line x1="{xc:.1f}" y1="{y(h):.1f}" x2="{xc:.1f}" '
                f'y2="{y(l):.1f}" stroke="{color}" stroke-width="1.5"/>'
                f'<line x1="{xc - half:.1f}" y1="{y(o):.1f}" x2="{xc:.1f}" '
                f'y2="{y(o):.1f}" stroke="{color}" stroke-width="1.5"/>'
                f'<line x1="{xc:.1f}" y1="{y(c):.1f}" x2="{xc + half:.1f}" '
                f'y2="{y(c):.1f}" stroke="{color}" stroke-width="1.5"/></g>'
            )
    return _svg_frame(body, rows, x, y, lo, hi)


def _svg_chart(pdf: "pd.DataFrame", kind: str, value_col: str) -> str:
    if kind == "Line chart":
        cols = [value_col] + [c for c in pdf.columns if c.startswith("sma")]
        return _svg_line(pdf, cols)
    return _svg_bars(pdf, kind)


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.6g}"
    return _html.escape(str(v))


def _table(pdf: "pd.DataFrame", caption: str) -> str:
    head = "".join(f"<th>{_html.escape(str(c))}</th>" for c in pdf.columns)
    rows = "".join(
        "<tr>" + "".join(f"<td>{_fmt(v)}</td>" for v in row) + "</tr>"
        for row in pdf.itertuples(index=False, name=None)
    )
    return (
        f'<table class="data"><caption>{_html.escape(caption)}</caption>'
        f"<thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"
    )


def _select(blocks: list[tuple[str, str]]) -> str:
    """``dp.Select`` analog: labelled, individually collapsible blocks."""
    out = []
    for i, (label, body) in enumerate(blocks):
        open_attr = " open" if i == 0 else ""
        out.append(
            f"<details{open_attr}><summary>{_html.escape(label)}</summary>"
            f"{body}</details>"
        )
    return f'<div class="select">{"".join(out)}</div>'


def _chart_columns(pdf: "pd.DataFrame", kind: str, value_col: str) -> "pd.DataFrame":
    """The column set each chart kind consumes: OHLC-style charts read the
    full bar; the line chart reads close + the two SMA trend lines."""
    if kind == "Line chart":
        keep = ["date", value_col] + [c for c in pdf.columns if c.startswith("sma")]
    else:
        keep = [
            c
            for c in pdf.columns
            if c in ("date", "open", "high", "low", "close", value_col)
        ]
    return pdf[[c for c in keep if c in pdf.columns]]


def render_report(
    frames: dict[str, DataFrame],
    symbol: str = "PX",
    currency: str = "FX",
    max_rows: int = 250,
) -> str:
    """Assemble the full report HTML from ``plans.report.report_frames``.

    Document structure mirrors the reference's ``dp.App`` block list
    (data_viz.py:165-190): title, price-chart select, FX-chart select,
    comparison section, data-table select. ``max_rows`` bounds the driver
    edge — each frame is already date-DESC, so ``limit`` takes the most
    recent rows as a TakeOrderedAndProject, regardless of corpus size.
    The comparison pair and the data tables are column slices of the three
    collected frames.
    """

    px, fx, conv = (
        frames[name].limit(max_rows).toPandas() for name in ("px", "fx", "converted")
    )
    # P2: df.iloc[:, 0:5] / [:, 0:4] (data_viz.py:185-188); date is unique
    # per bar, so these are the rows a narrower ORDER BY ... LIMIT selects
    px_t, fx_t, conv_t = px.iloc[:, :5], fx.iloc[:, :4], conv.iloc[:, :4]
    comparison = conv[["date", "close_price_usd", "close_price_fx"]].rename(
        columns={"close_price_usd": "close_usd", "close_price_fx": "close_fx"}
    )

    sym, ccy = symbol.upper(), currency.upper()
    fig1_title = f"{sym} price in USD"
    fig2_title = f"USD/{ccy} exchange rate"
    fig3_title = f"{sym} price in {ccy} and USD"

    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{_html.escape(sym)} price report</title>",
        "<style>"
        "#container{margin:auto;text-align:center;height:50px}"
        "h1{color:#444444}"
        "table.data{border-collapse:collapse;margin:1em 0}"
        "table.data td,table.data th{border:1px solid #ccc;padding:2px 8px}"
        "</style></head><body>",
        f'<div id="container"><h1>{_html.escape(sym)} price report</h1></div>',
        f"<h2>{_html.escape(fig1_title)}</h2>",
        _select(
            [
                (
                    kind,
                    _svg_chart(px, kind, "close")
                    + _table(_chart_columns(px, kind, "close"), f"{fig1_title} — {kind}"),
                )
                for kind in CHART_KINDS
            ]
        ),
        f"<h2>{_html.escape(fig2_title)}</h2>",
        _select(
            [
                (
                    kind,
                    _svg_chart(fx, kind, "close")
                    + _table(_chart_columns(fx, kind, "close"), f"{fig2_title} — {kind}"),
                )
                for kind in CHART_KINDS
            ]
        ),
        f"<h2>{_html.escape(fig3_title)}</h2>",
        # The reference plots this pair on twin y-axes (ComparisonFigure,
        # data_viz.py:9-38): rendered here as the dual-axis figure for
        # parity, FOLLOWED by single-axis small multiples and the exact
        # two-column table (twin axes invite false slope comparison; the
        # multiples remain the honest reading).
        f"<figure><figcaption>{_html.escape(fig3_title)} — twin axes"
        "</figcaption>"
        + _svg_dual_axis(comparison, "close_usd", "close_fx")
        + "</figure>",
        f"<figure><figcaption>{_html.escape(sym)} close (USD)</figcaption>"
        + _svg_line(comparison, ["close_usd"])
        + "</figure>",
        f"<figure><figcaption>{_html.escape(sym)} close ({_html.escape(ccy)})</figcaption>"
        + _svg_line(comparison, ["close_fx"])
        + "</figure>",
        _table(comparison, f"{fig3_title} — close_usd vs close_fx"),
        _table(
            conv[["date"] + [c for c in conv.columns if c.startswith("sma")]],
            f"{fig3_title} — SMA trend",
        ),
        "<h2>Data</h2>",
        _select(
            [
                (f"{sym} price in USD", _table(px_t, f"{sym} price in USD")),
                (f"USD/{ccy} exchange rate", _table(fx_t, f"USD/{ccy} exchange rate")),
                (
                    f"{sym} price comparison in both currencies",
                    _table(conv_t, f"{sym} price comparison in both currencies"),
                ),
            ]
        ),
        "</body></html>",
    ]
    return "".join(parts)


def publish_report(html: str, report_dir: str) -> str:
    """Write ``index.html`` into the Pages working directory — the
    ``report.save(path=os.path.join(report_path, 'index.html'))`` step of
    to_github_pages.py:106. Returns the written path.

    The surrounding git pull/commit/push (to_github_pages.py:89-107) needs
    a live remote and an access token and is deliberately NOT performed
    here: the written directory is the push-ready artifact, and any
    orchestrator (CI job, cron) can run ``git push`` on it.
    """
    os.makedirs(report_dir, exist_ok=True)
    path = os.path.join(report_dir, "index.html")
    with open(path, "w", encoding="utf-8") as f:
        f.write(html)
    return path
