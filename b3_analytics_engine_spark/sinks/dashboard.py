"""K6 dashboard RENDERING — stdlib-only SVG/HTML over the query-checked
frames (closes the last presentation-layer gap vs the reference
analytics dashboard, reference analytics_service/dashboard.py:110-176:
metric tiles, per-symbol price line chart, market-cap share pie,
volume and amplitude bars).

Design rules for a 100 TB deployment:

- **Rendering is driver-side by nature, so every collect here is
  BOUNDED by construction**: tiles/pies/bars read per-symbol top-1
  frames (≤ n_symbols rows — the frames `pipelines.dashboard_frames`
  already computes and the oracle suite checks); the line chart caps
  history to the last ``max_points`` rows PER SYMBOL with a window
  rank pushed into Spark before the collect. A dashboard over a
  100 TB warehouse therefore collects KBs, never the table.
- **No chart library**: the SVG is assembled from primitives
  (polyline / rect / path arcs / text). Deterministic output — byte-
  stable for a given input — so tests can pin structure.
"""

from __future__ import annotations

import math
from html import escape

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PALETTE = (
    "#4c78a8", "#f58518", "#54a24b", "#e45756", "#72b7b2",
    "#eeca3b", "#b279a2", "#ff9da6", "#9d755d", "#bab0ac",
)


def _scale(v: float, lo: float, hi: float, a: float, b: float) -> float:
    if hi <= lo:
        return (a + b) / 2.0
    return a + (v - lo) * (b - a) / (hi - lo)


def svg_line_chart(
    series: dict[str, list[tuple[float, float]]],
    title: str = "",
    width: int = 640,
    height: int = 320,
) -> str:
    """Multi-series line chart; x is any ordinal (epoch seconds,
    day index), y linear. Axes carry min/max labels only — the
    dashboard reader wants shape, not a grid."""
    pad = 42
    xs = [x for pts in series.values() for x, _ in pts]
    ys = [y for pts in series.values() for _, y in pts]
    if not xs:
        return f'<svg width="{width}" height="{height}"></svg>'
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" class="line-chart">',
        f'<text x="{width // 2}" y="16" text-anchor="middle" '
        f'font-weight="bold">{escape(title)}</text>',
        f'<rect x="{pad}" y="{pad // 2}" width="{width - 2 * pad}" '
        f'height="{height - 2 * pad}" fill="none" stroke="#ccc"/>',
        f'<text x="{pad}" y="{height - 6}">{y0:.2f}..{y1:.2f}</text>',
    ]
    for i, (name, pts) in enumerate(sorted(series.items())):
        color = _PALETTE[i % len(_PALETTE)]
        coords = " ".join(
            f"{_scale(x, x0, x1, pad, width - pad):.1f},"
            f"{_scale(y, y0, y1, height - pad, pad // 2):.1f}"
            for x, y in sorted(pts)
        )
        parts.append(
            f'<polyline fill="none" stroke="{color}" stroke-width="1.5" '
            f'points="{coords}"/>'
        )
        parts.append(
            f'<text x="{width - pad + 4}" y="{pad + 14 * i}" '
            f'fill="{color}" font-size="11">{escape(name)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def svg_bar_chart(
    labels: list[str],
    values: list[float],
    title: str = "",
    width: int = 420,
    height: int = 260,
) -> str:
    pad = 36
    n = max(len(values), 1)
    vmax = max([v for v in values if v is not None], default=0.0) or 1.0
    bw = (width - 2 * pad) / n
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" class="bar-chart">',
        f'<text x="{width // 2}" y="16" text-anchor="middle" '
        f'font-weight="bold">{escape(title)}</text>',
    ]
    for i, (lab, v) in enumerate(zip(labels, values)):
        v = v or 0.0
        bh = (height - 2 * pad) * v / vmax
        x = pad + i * bw
        y = height - pad - bh
        parts.append(
            f'<rect x="{x:.1f}" y="{y:.1f}" width="{bw * 0.8:.1f}" '
            f'height="{bh:.1f}" fill="{_PALETTE[i % len(_PALETTE)]}"/>'
        )
        parts.append(
            f'<text x="{x + bw * 0.4:.1f}" y="{height - pad + 14}" '
            f'text-anchor="middle" font-size="10">{escape(str(lab))}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def svg_pie_chart(
    labels: list[str],
    values: list[float],
    title: str = "",
    size: int = 260,
) -> str:
    total = sum(v for v in values if v) or 1.0
    cx = cy = size / 2
    r = size / 2 - 30
    angle = -math.pi / 2
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{size + 140}" '
        f'height="{size}" class="pie-chart">',
        f'<text x="{size / 2:.0f}" y="16" text-anchor="middle" '
        f'font-weight="bold">{escape(title)}</text>',
    ]
    for i, (lab, v) in enumerate(zip(labels, values)):
        frac = (v or 0.0) / total
        a0, a1 = angle, angle + 2 * math.pi * frac
        angle = a1
        large = 1 if (a1 - a0) > math.pi else 0
        x0, y0 = cx + r * math.cos(a0), cy + r * math.sin(a0)
        x1, y1 = cx + r * math.cos(a1), cy + r * math.sin(a1)
        color = _PALETTE[i % len(_PALETTE)]
        if frac >= 0.999999:  # single-slice: a full circle, not an arc
            parts.append(
                f'<circle cx="{cx:.1f}" cy="{cy:.1f}" r="{r:.1f}" '
                f'fill="{color}"/>'
            )
        else:
            parts.append(
                f'<path d="M{cx:.1f},{cy:.1f} L{x0:.1f},{y0:.1f} '
                f'A{r:.1f},{r:.1f} 0 {large} 1 {x1:.1f},{y1:.1f} Z" '
                f'fill="{color}"/>'
            )
        parts.append(
            f'<text x="{size + 6}" y="{30 + 14 * i}" fill="{color}" '
            f'font-size="11">{escape(str(lab))} '
            f'{100.0 * frac:.1f}%</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def bounded_history(
    warehouse: DataFrame,
    key_col: str = "symbol",
    time_col: str = "date",
    value_col: str = "close",
    max_points: int = 200,
) -> DataFrame:
    """The line chart's collect guard: the LAST ``max_points`` rows
    per symbol, cut inside Spark (descending row_number over the key
    window) so the driver never sees more than
    ``n_symbols × max_points`` rows regardless of warehouse size."""
    w = Window.partitionBy(key_col).orderBy(F.col(time_col).desc())
    return (
        warehouse.select(key_col, time_col, value_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_points)
        .drop("_rn")
    )


def render_dashboard(
    warehouse: DataFrame,
    frames: dict[str, DataFrame] | None = None,
    max_points: int = 200,
) -> str:
    """Assemble the reference dashboard as one self-contained HTML
    string: metric tiles (top volume / largest move / max amplitude),
    per-symbol price evolution, market-cap share pie, volume and
    amplitude bars. ``frames`` defaults to
    ``pipelines.dashboard_frames(warehouse)``; every collect is
    bounded (see module docstring)."""
    from ..pipelines import dashboard_frames

    frames = frames or dashboard_frames(warehouse)
    latest = sorted(
        frames["latest"].collect(), key=lambda r: r["symbol"]
    )  # ≤ n_symbols rows
    cap = {r["symbol"]: r["cap_pct"] for r in frames["cap_share"].collect()}
    top_vol = frames["top_volume"].collect()
    big_move = frames["largest_move"].collect()
    max_amp = frames["max_amplitude"].collect()

    hist = bounded_history(warehouse, max_points=max_points).collect()
    series: dict[str, list[tuple[float, float]]] = {}
    for r in hist:
        t = r["date"]
        x = t.toordinal() if hasattr(t, "toordinal") else float(t)
        series.setdefault(r["symbol"], []).append((float(x), float(r["close"])))

    def tile(label: str, value: str) -> str:
        return (
            f'<div class="tile"><div class="tile-label">{escape(label)}'
            f'</div><div class="tile-value">{escape(value)}</div></div>'
        )

    tiles = [
        tile("Top volume", top_vol[0]["symbol"] if top_vol else "—"),
        tile("Largest move", big_move[0]["symbol"] if big_move else "—"),
        tile("Max amplitude", max_amp[0]["symbol"] if max_amp else "—"),
    ]
    tiles += [
        tile(r["symbol"], f"{r['close']:.2f}") for r in latest
        if "close" in r.__fields__
    ]

    syms = [r["symbol"] for r in latest]
    vols = [float(r["volume"] or 0) for r in latest]
    amps = [float((r["high"] or 0) - (r["low"] or 0)) for r in latest]
    charts = [
        svg_line_chart(series, "Price evolution"),
        svg_pie_chart(
            syms, [float(cap.get(s) or 0) for s in syms], "Market-cap share"
        ),
        svg_bar_chart(syms, vols, "Trading volume"),
        svg_bar_chart(syms, amps, "Price amplitude (high-low)"),
    ]
    style = (
        "<style>body{font-family:sans-serif;margin:16px}"
        ".tiles{display:flex;gap:12px;flex-wrap:wrap}"
        ".tile{border:1px solid #ddd;border-radius:6px;padding:8px 14px}"
        ".tile-label{font-size:11px;color:#666}"
        ".tile-value{font-size:20px;font-weight:bold}"
        ".charts{display:flex;gap:16px;flex-wrap:wrap;margin-top:16px}"
        "</style>"
    )
    return (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        f"<title>B3 analytics dashboard</title>{style}</head><body>"
        f"<h1>B3 analytics dashboard</h1><div class='tiles'>"
        + "".join(tiles)
        + "</div><div class='charts'>"
        + "".join(charts)
        + "</div></body></html>"
    )


# ------------------------------------------------- report charts
# The reference's second rendering surface beside the dashboard: the
# report generator (reference include/tasks/generate_dashboard.py:37-60)
# saves a per-symbol cumulative-returns line chart (x100, matplotlib)
# and an annotated correlation heatmap of daily returns (seaborn
# coolwarm) as output/cumulative_returns.png and
# output/correlation_heatmap.png. Same frames, same rules here: the
# values come from the oracle-checked W3/W4 window operators and the
# A5 single-pass corr matrix, every collect bounded, output
# deterministic SVG.


def _diverging_color(v: float) -> str:
    """coolwarm-style diverging map on [-1, 1]: blue → white → red.
    NaN (pairwise-complete corr with <2 paired rows) renders gray."""
    if v is None or v != v:
        return "#cccccc"
    v = max(-1.0, min(1.0, v))
    lo, mid, hi = (59, 76, 192), (255, 255, 255), (180, 4, 38)
    a, b, t = (mid, hi, v) if v >= 0 else (mid, lo, -v)
    rgb = tuple(round(x + (y - x) * t) for x, y in zip(a, b))
    return "#%02x%02x%02x" % rgb


def svg_heatmap(
    labels: list[str],
    cells: dict[tuple[str, str], float | None],
    title: str = "",
    cell_px: int = 56,
) -> str:
    """Annotated N x N heatmap (the seaborn ``annot=True fmt='.2f'``
    analog): one rect per (row, col) colored by the diverging map,
    the value printed in the cell, row/col labels on the margins."""
    pad = 70
    n = len(labels)
    w = pad + n * cell_px + 10
    h = pad + n * cell_px + 10
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
        f'height="{h}" class="heatmap">',
        f'<text x="{w // 2}" y="16" text-anchor="middle" '
        f'font-weight="bold">{escape(title)}</text>',
    ]
    for j, lab in enumerate(labels):  # column labels
        parts.append(
            f'<text x="{pad + (j + 0.5) * cell_px:.1f}" y="{pad - 8}" '
            f'text-anchor="middle" font-size="11">{escape(lab)}</text>'
        )
    for i, row in enumerate(labels):
        parts.append(
            f'<text x="{pad - 6}" y="{pad + (i + 0.5) * cell_px + 4:.1f}" '
            f'text-anchor="end" font-size="11">{escape(row)}</text>'
        )
        for j, col in enumerate(labels):
            v = cells.get((row, col))
            x, y = pad + j * cell_px, pad + i * cell_px
            parts.append(
                f'<rect x="{x}" y="{y}" width="{cell_px}" '
                f'height="{cell_px}" fill="{_diverging_color(v)}" '
                f'stroke="#fff" stroke-width="1"/>'
            )
            txt = "—" if v is None or v != v else f"{v:.2f}"
            # dark cells (strong correlation either way) get white text
            fill = (
                "#fff" if v is not None and v == v and abs(v) > 0.6
                else "#000"
            )
            parts.append(
                f'<text x="{x + cell_px / 2:.1f}" y="{y + cell_px / 2 + 4:.1f}" '
                f'text-anchor="middle" font-size="11" fill="{fill}">'
                f"{txt}</text>"
            )
    parts.append("</svg>")
    return "".join(parts)


def render_report_charts(
    warehouse: DataFrame,
    symbols: list[str] | None = None,
    max_points: int = 200,
) -> dict[str, str]:
    """The two report-generator charts as deterministic SVG strings
    (keys ``cumulative_returns`` and ``correlation_heatmap``) —
    reference include/tasks/generate_dashboard.py:37-60.

    - *cumulative_returns*: one line per symbol of the W3/W4
      compounded return x100 (``(1+pct_change).cumprod()-1``), cut to
      the last ``max_points`` rows per symbol INSIDE Spark
      (:func:`bounded_history`) before the collect.
    - *correlation_heatmap*: the A5 pairwise-complete Pearson matrix
      of daily returns, annotated ``.2f`` on a diverging colormap;
      the collect is the N² matrix cells, never the table.

    ``symbols`` defaults to the warehouse's distinct symbols (sorted;
    a dashboard-scale cardinality — for a wider universe pass the
    watchlist explicitly)."""
    from ..pipelines import daily_returns, returns_correlation

    if symbols is None:
        symbols = sorted(
            r["symbol"]
            for r in warehouse.select("symbol").distinct().collect()
        )
    rets = daily_returns(warehouse).withColumn(
        "cum_pct", F.col("cumulative_return") * 100.0
    )
    hist = bounded_history(
        rets, value_col="cum_pct", max_points=max_points
    ).collect()
    series: dict[str, list[tuple[float, float]]] = {}
    for r in hist:
        if r["cum_pct"] is None:
            continue  # first row per symbol: pandas plots skip NaN too
        t = r["date"]
        x = t.toordinal() if hasattr(t, "toordinal") else float(t)
        series.setdefault(r["symbol"], []).append(
            (float(x), float(r["cum_pct"]))
        )
    corr = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in returns_correlation(warehouse, symbols).collect()
    }
    return {
        "cumulative_returns": svg_line_chart(
            series, "Cumulative return (%)"
        ),
        "correlation_heatmap": svg_heatmap(
            symbols, corr, "Daily-return correlation"
        ),
    }


def write_report_charts(
    warehouse: DataFrame,
    out_dir: str,
    symbols: list[str] | None = None,
    max_points: int = 200,
) -> list[str]:
    """Save both report charts under ``out_dir`` as
    ``cumulative_returns.svg`` and ``correlation_heatmap.svg`` — the
    reference's ``output/*.png`` pair, SVG-native."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    charts = render_report_charts(
        warehouse, symbols=symbols, max_points=max_points
    )
    paths = []
    for name, svg in sorted(charts.items()):
        path = os.path.join(out_dir, f"{name}.svg")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(svg)
        paths.append(path)
    return paths
