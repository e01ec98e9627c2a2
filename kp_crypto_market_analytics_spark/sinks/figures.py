"""Figure sink (SURVEY.md §2.1 S19): PNG rendering of the reference's
dashboard/report charts — line chart, bar chart, heatmap — with no
imaging dependency (this container has neither matplotlib nor PIL, so
the PNGs are encoded directly from the spec: zlib scanlines + CRC
chunks, public knowledge).

Reference parity: `src/dashboard/app.py:1-230` and
`binance_analysis.py:251-323,700-721` render price/volume lines, the
weekday×hour activity heatmap, and the correlation matrix from
ALREADY-AGGREGATED frames.  The Spark contract here is identical to
the CSV artifact sinks: every figure consumes the small summary table
an analytics query produced (days × symbols, 7×24 pivot, k×k
correlation), never a fact table — the `.collect()` is a bounded
presentation-layer edge (guarded by ``max_points``), the same class as
``artifacts.write_csv_artifact``.  All rendering is deterministic:
same frame → byte-identical PNG (tests hash them).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame

# Categorical series palette (RGB).
PALETTE = [
    (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40),
    (148, 103, 189), (140, 86, 75), (227, 119, 194), (127, 127, 127),
]
_BG = 255        # canvas white
_AXIS = 64       # axis gray
_MARGIN = 40     # px reserved for axes on the left/bottom


def write_png(path: str, rgb: np.ndarray) -> None:
    """Encode an (H, W, 3) uint8 array as a non-interlaced 8-bit RGB
    PNG: signature + IHDR + one zlib IDAT of filter-0 scanlines + IEND.
    """
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError(f"expected (H, W, 3) uint8, got {rgb.shape} {rgb.dtype}")
    h, w = rgb.shape[:2]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    with open(path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\n")
        f.write(chunk(b"IHDR", ihdr))
        f.write(chunk(b"IDAT", zlib.compress(raw, 9)))
        f.write(chunk(b"IEND", b""))


def _canvas(width: int, height: int) -> np.ndarray:
    img = np.full((height, width, 3), _BG, dtype=np.uint8)
    img[-_MARGIN, _MARGIN:, :] = _AXIS   # x axis
    img[: -_MARGIN + 1, _MARGIN, :] = _AXIS  # y axis
    return img


def _plot_area(width: int, height: int) -> tuple[int, int, int, int]:
    """(x0, y0, plot_w, plot_h) of the drawable region."""
    return _MARGIN + 1, 0, width - _MARGIN - 2, height - _MARGIN - 1


def _scale(vals: np.ndarray, lo: float, hi: float, pixels: int) -> np.ndarray:
    span = hi - lo
    frac = np.zeros_like(vals, dtype=np.float64) if span == 0 else (vals - lo) / span
    return np.clip((frac * (pixels - 1)).round().astype(np.int64), 0, pixels - 1)


def _draw_polyline(img: np.ndarray, xs: np.ndarray, ys: np.ndarray, color) -> None:
    """Dense line rasterization: each segment sampled at max(|dx|,|dy|)+1
    evenly spaced points — deterministic, no anti-aliasing."""
    for i in range(len(xs) - 1):
        n = int(max(abs(xs[i + 1] - xs[i]), abs(ys[i + 1] - ys[i]))) + 1
        px = np.linspace(xs[i], xs[i + 1], n).round().astype(np.int64)
        py = np.linspace(ys[i], ys[i + 1], n).round().astype(np.int64)
        img[py, px] = color


def line_chart(
    df: DataFrame,
    x: str,
    y: str,
    series: str | None = None,
    path: str | None = None,
    width: int = 640,
    height: int = 360,
    max_points: int = 100_000,
) -> np.ndarray:
    """Time-series line chart (price/volatility panels, dashboard
    app.py price chart).  One polyline per ``series`` value, shared
    x/y scale.  ``x`` may be any orderable type; rows are collected
    (bounded) and positioned by rank of ``x`` per series."""
    rows = df.select(*( [series] if series else [] ), x, y).limit(max_points + 1).collect()
    if len(rows) > max_points:
        raise ValueError(
            f"line_chart is a presentation sink for aggregated frames; got "
            f">{max_points} rows — aggregate before rendering"
        )
    img = _canvas(width, height)
    if not rows:
        return _finish(img, path)
    groups: dict[object, list] = {}
    for r in rows:
        groups.setdefault(r[series] if series else None, []).append(r)
    ally = np.array([float(r[y]) for r in rows if r[y] is not None])
    if ally.size == 0:
        return _finish(img, path)
    ylo, yhi = float(ally.min()), float(ally.max())
    x0, _, pw, ph = _plot_area(width, height)
    for gi, gkey in enumerate(sorted(groups, key=lambda k: (k is None, str(k)))):
        pts = sorted(
            (r for r in groups[gkey] if r[y] is not None), key=lambda r: r[x]
        )
        if not pts:
            continue
        xs = x0 + _scale(np.arange(len(pts), dtype=np.float64), 0, max(len(pts) - 1, 1), pw)
        ys = (ph - 1) - _scale(np.array([float(r[y]) for r in pts]), ylo, yhi, ph)
        _draw_polyline(img, xs, ys, PALETTE[gi % len(PALETTE)])
    return _finish(img, path)


def bar_chart(
    df: DataFrame,
    label: str,
    value: str,
    path: str | None = None,
    width: int = 640,
    height: int = 360,
    max_points: int = 10_000,
) -> np.ndarray:
    """Categorical bar chart (volume-by-weekday / top-anomalies
    panels).  Bars ordered by ``label``; heights share one linear
    scale floored at min(0, min(value))."""
    rows = df.select(label, value).limit(max_points + 1).collect()
    if len(rows) > max_points:
        raise ValueError(f"bar_chart got >{max_points} rows — aggregate first")
    img = _canvas(width, height)
    rows = sorted((r for r in rows if r[value] is not None), key=lambda r: r[label])
    if not rows:
        return _finish(img, path)
    vals = np.array([float(r[value]) for r in rows])
    lo, hi = min(0.0, float(vals.min())), float(vals.max())
    x0, _, pw, ph = _plot_area(width, height)
    heights = _scale(vals, lo, hi, ph)
    slot = pw // len(rows)
    bar_w = max(1, (slot * 3) // 4)
    for i, hpx in enumerate(heights):
        left = x0 + i * slot + (slot - bar_w) // 2
        img[ph - 1 - hpx : ph, left : left + bar_w] = PALETTE[0]
    return _finish(img, path)


def heatmap(
    df: DataFrame,
    row: str,
    col: str,
    value: str,
    path: str | None = None,
    cell: int = 24,
    max_points: int = 10_000,
) -> np.ndarray:
    """Matrix heatmap (weekday×hour activity, correlation matrix).
    Rows/cols positioned by sorted key; value mapped on a blue→red
    diverging ramp over the observed range (nulls render background)."""
    rows = df.select(row, col, value).limit(max_points + 1).collect()
    if len(rows) > max_points:
        raise ValueError(f"heatmap got >{max_points} cells — aggregate first")
    rkeys = sorted({r[row] for r in rows}, key=str)
    ckeys = sorted({r[col] for r in rows}, key=str)
    if not rkeys or not ckeys:
        return _finish(_canvas(2 * _MARGIN, 2 * _MARGIN), path)
    vals = [float(r[value]) for r in rows if r[value] is not None]
    lo, hi = (min(vals), max(vals)) if vals else (0.0, 0.0)
    h = len(rkeys) * cell + _MARGIN
    w = len(ckeys) * cell + _MARGIN
    img = _canvas(w, h)
    ri = {k: i for i, k in enumerate(rkeys)}
    ci = {k: i for i, k in enumerate(ckeys)}
    for r in rows:
        if r[value] is None:
            continue
        frac = 0.5 if hi == lo else (float(r[value]) - lo) / (hi - lo)
        # blue (0) → white (0.5) → red (1) diverging ramp
        if frac < 0.5:
            t = frac * 2
            color = (int(t * 255), int(t * 255), 255)
        else:
            t = (frac - 0.5) * 2
            color = (255, int((1 - t) * 255), int((1 - t) * 255))
        y0 = ri[r[row]] * cell
        x0 = _MARGIN + 1 + ci[r[col]] * cell
        img[y0 : y0 + cell - 1, x0 : x0 + cell - 1] = color
    return _finish(img, path)


def hist_chart(
    df: DataFrame,
    value: str,
    bins: int = 200,
    path: str | None = None,
    width: int = 640,
    height: int = 360,
) -> np.ndarray:
    """Histogram panel (returns distribution,
    binance_analysis.py:275-284).  Binning is SPARK-SIDE: one min/max
    aggregate fixes the bin grid, one groupBy counts per bin — only the
    ≤ ``bins`` bucket counts are collected, so the input frame may be
    any size (unlike the collect-then-render charts)."""
    from pyspark.sql import functions as F

    img = _canvas(width, height)
    stats = df.agg(F.min(value).alias("lo"), F.max(value).alias("hi")).collect()[0]
    if stats["lo"] is None:
        return _finish(img, path)
    lo, hi = float(stats["lo"]), float(stats["hi"])
    step = ((hi - lo) or 1.0) / bins
    counts = {
        r["b"]: r["n"]
        for r in df.where(F.col(value).isNotNull())
        .select(
            F.least(
                F.lit(bins - 1),
                F.floor((F.col(value) - F.lit(lo)) / F.lit(step)).cast("int"),
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    vals = np.array([float(counts.get(b, 0)) for b in range(bins)])
    if vals.max() == 0:
        return _finish(img, path)
    x0, _, pw, ph = _plot_area(width, height)
    heights = _scale(vals, 0.0, float(vals.max()), ph)
    xs = x0 + _scale(np.arange(bins, dtype=np.float64), 0, max(bins - 1, 1), pw)
    bar_w = max(1, pw // bins)
    for i in range(bins):
        if vals[i] > 0:
            img[ph - 1 - heights[i] : ph, xs[i] : xs[i] + bar_w] = PALETTE[0]
    return _finish(img, path)


def _xnum(v) -> float:
    """Numeric x position of an orderable value (timestamps → epoch)."""
    if hasattr(v, "timestamp") and not isinstance(v, str):
        return v.timestamp()
    return float(v)


def scatter_chart(
    df: DataFrame,
    x: str,
    y: str,
    path: str | None = None,
    base: DataFrame | None = None,
    width: int = 640,
    height: int = 360,
    max_points: int = 10_000,
    dot: int = 2,
) -> np.ndarray:
    """Scatter panel (vol-vs-volume, binance_analysis.py:712-721;
    anomaly dots :701-710).  Points are positioned by VALUE on both
    axes (timestamps by epoch).  ``base`` is an optional second frame
    drawn first as a polyline in the same coordinate space — the
    |log-ret| series under the anomaly dots."""
    rows = df.select(x, y).limit(max_points + 1).collect()
    if len(rows) > max_points:
        raise ValueError(f"scatter_chart got >{max_points} rows — aggregate first")
    pts = [
        (_xnum(r[x]), float(r[y]))
        for r in rows
        if r[x] is not None and r[y] is not None
    ]
    bpts: list[tuple[float, float]] = []
    if base is not None:
        brows = base.select(x, y).limit(100_000 + 1).collect()
        if len(brows) > 100_000:
            raise ValueError("scatter_chart base got >100000 rows — aggregate first")
        bpts = sorted(
            (_xnum(r[x]), float(r[y]))
            for r in brows
            if r[x] is not None and r[y] is not None
        )
    img = _canvas(width, height)
    allp = pts + bpts
    if not allp:
        return _finish(img, path)
    xlo, xhi = min(p[0] for p in allp), max(p[0] for p in allp)
    ylo, yhi = min(p[1] for p in allp), max(p[1] for p in allp)
    x0, _, pw, ph = _plot_area(width, height)
    if bpts:
        bxs = x0 + _scale(np.array([p[0] for p in bpts]), xlo, xhi, pw)
        bys = (ph - 1) - _scale(np.array([p[1] for p in bpts]), ylo, yhi, ph)
        _draw_polyline(img, bxs, bys, PALETTE[0])
    if pts:
        xs = x0 + _scale(np.array([p[0] for p in pts]), xlo, xhi, pw)
        ys = (ph - 1) - _scale(np.array([p[1] for p in pts]), ylo, yhi, ph)
        color = PALETTE[3] if bpts else PALETTE[0]
        for px, py in zip(xs, ys):
            img[
                max(0, py - dot + 1) : py + dot,
                max(x0, px - dot + 1) : px + dot,
            ] = color
    return _finish(img, path)


def line_chart_dual(
    df: DataFrame,
    x: str,
    y1: str,
    y2: str,
    path: str | None = None,
    width: int = 640,
    height: int = 360,
    max_points: int = 100_000,
) -> np.ndarray:
    """Dual-axis panel (price + rolling volatility,
    binance_analysis.py:251-268): each series is min-max normalized to
    its OWN vertical scale — the ``twinx`` visual — and drawn as a
    rank-positioned polyline over the shared x order."""
    rows = df.select(x, y1, y2).limit(max_points + 1).collect()
    if len(rows) > max_points:
        raise ValueError(f"line_chart_dual got >{max_points} rows — aggregate first")
    rows = sorted((r for r in rows if r[x] is not None), key=lambda r: r[x])
    img = _canvas(width, height)
    x0, _, pw, ph = _plot_area(width, height)
    for ci, col in enumerate((y1, y2)):
        pts = [(i, float(r[col])) for i, r in enumerate(rows) if r[col] is not None]
        if len(pts) < 2:
            continue
        idxs = np.array([i for i, _ in pts], dtype=np.float64)
        vals = np.array([v for _, v in pts])
        xs = x0 + _scale(idxs, 0, max(len(rows) - 1, 1), pw)
        ys = (ph - 1) - _scale(vals, float(vals.min()), float(vals.max()), ph)
        _draw_polyline(img, xs, ys, PALETTE[ci])
    return _finish(img, path)


def _finish(img: np.ndarray, path: str | None) -> np.ndarray:
    if path:
        write_png(path, img)
    return img


def thin_evenly(df: DataFrame, order_col: str, cap: int = 100_000) -> DataFrame:
    """Deterministic even-stride downsample: keep every ceil(n/cap)-th
    row in ``order_col`` order, so a frame of any size renders within
    the chart collect caps while preserving the series' shape.  A
    no-op (same frame, no sort) when the frame already fits — the
    golden-pixel fixtures are all under the cap, so goldens are
    unaffected.  The global row_number sort is a presentation-edge
    cost, bounded by the chart that consumes it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = df.count()
    if n <= cap:
        return df
    stride = -(-n // cap)  # ceil
    w = Window.orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") - F.lit(1)) % F.lit(stride) == 0)
        .drop("__rn")
    )


def write_figures(
    artifacts: dict[str, DataFrame],
    out_dir: str,
    features: DataFrame | None = None,
) -> list[str]:
    """Dashboard fan-out: render the standard figure set from the
    analytics artifact frames (the same dict ``analytics_fanout``
    returns), mirroring the reference dashboard's panels.  Unknown or
    missing keys are skipped — figures are additive to the CSV
    artifacts, never a gate.

    ``features``: the raw per-minute feature frame (``add_features``
    output).  When provided, the four raw-frame panels the reference
    plots from its feature DataFrame directly render too
    (binance_analysis.py:251-284 price/vol + returns hist, :701-721
    anomaly dots + vol-vs-volume scatter), completing the reference's
    figure set 1:1.  The focus symbol is the alphabetically first (the
    deterministic stand-in for the reference's configured primary
    pair)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    written = []

    def out(name: str) -> str:
        p = os.path.join(out_dir, name)
        written.append(p)
        return p

    if "daily" in artifacts:  # price panel (binance_analysis.py:251-268)
        d = artifacts["daily"]
        scol = "symbol" if "symbol" in d.columns else None
        line_chart(d, "date", "avg_value", series=scol, path=out("daily_avg.png"))
    if "monthly" in artifacts:  # volume panel
        bar_chart(artifacts["monthly"], "month", "volume", path=out("monthly_volume.png"))
    if "dow" in artifacts:  # weekday profile (dow_key keeps Mon..Sun order)
        bar_chart(artifacts["dow"], "dow_key", "avg_value", path=out("dow_profile.png"))
    if "heatmap" in artifacts:  # weekday×hour activity (app.py heatmap)
        d = artifacts["heatmap"]
        hours = [c for c in d.columns if c.startswith("h") and c[1:].isdigit()]
        if hours and "dow_key" in d.columns:
            stack = ", ".join(f"'{int(c[1:]):02d}', {c}" for c in hours)
            long = d.selectExpr(
                "dow_key", f"stack({len(hours)}, {stack}) AS (hour, v)"
            )
            heatmap(long, "dow_key", "hour", "v", path=out("activity_heatmap.png"))
    if "correlation" in artifacts:  # correlation matrix (:700-721)
        d = artifacts["correlation"]
        if {"key_a", "key_b", "corr"} <= set(d.columns):
            heatmap(d, "key_a", "key_b", "corr", path=out("correlation.png"))
    if features is not None:  # raw-frame panels (:251-284, :701-721)
        from pyspark.sql import functions as F

        sym = features.agg(F.min("symbol")).collect()[0][0]
        if sym is not None:
            d = features.where(F.col("symbol") == sym)
            # Downsample the raw per-minute frame to the chart collect
            # caps BEFORE rendering: figures stay "additive, never a
            # gate" — without this, >100k minutes per symbol (~70 days
            # of 1m candles) would trip the chart row caps and crash
            # the CLI after the CSV artifacts were already written.
            dthin = thin_evenly(d, "open_time", cap=100_000)
            line_chart_dual(
                dthin, "open_time", "close", "vol_60m",
                path=out("price_and_vol.png"),
            )
            hist_chart(d, "log_ret", bins=200, path=out("returns_hist.png"))
            top = d.orderBy(F.col("anomaly_score").desc(), "open_time").limit(200)
            scatter_chart(
                top,
                "open_time",
                "abs_ret",
                base=dthin.select("open_time", "abs_ret"),
                path=out("anomalies_absret.png"),
            )
            # Deterministic 5000-row sample (the reference's seeded
            # .sample): hash-ordered limit, stable across partitionings.
            samp = d.orderBy(F.xxhash64("open_time"), "open_time").limit(5000)
            scatter_chart(
                samp,
                "log_volume",
                "abs_ret",
                path=out("vol_vs_volume_scatter.png"),
            )
    return written
