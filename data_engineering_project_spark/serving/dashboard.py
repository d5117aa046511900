"""Static dashboard renderer — the reference's Streamlit surface
without Streamlit.

Reference parity: ``dashboard/app_fase1.py:160-256`` renders the
7-query analytics workload as Streamlit metric tiles + vega/plotly
charts behind a customer-state filter. This module renders the SAME
workload (plans/analytics.py, the exact frames the driver checks) into
ONE self-contained HTML file — inline SVG, zero dependencies, no
network (the reference's choropleth pulls a remote geojson; its
replacement here is an orders-by-state bar, declared substitution).

Serving-edge contract (SURVEY §2 S13): every chart is drawn from a
collected aggregate of bounded cardinality (5 KPI scalars, top-10
categories, ≤27 states, ≤25 months, 7 weekdays) — the render step
touches kilobytes regardless of fact-table scale; all heavy lifting
stayed in Spark. That is the same boundary Streamlit had.

Chart conventions follow a validated accessible palette (categorical
slots below pass CVD/normal-vision separation checks; the two slots
below 3:1 surface contrast carry the required relief: every bar is
direct-labeled and every figure ships a <details> table view). Single
series per figure, so no legends; one axis per chart; light and dark
mode from the same hues via CSS custom properties.
"""

from __future__ import annotations

import html as _html
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

# Validated categorical slots (light, dark) — see module docstring.
_PALETTE = [
    ("#2a78d6", "#3987e5"),  # blue
    ("#eb6834", "#d95926"),  # orange
    ("#1baf7a", "#199e70"),  # aqua
    ("#eda100", "#c98500"),  # yellow
]

_CSS = """
.viz-root { color-scheme: light;
  --surface-1:#fcfcfb; --surface-2:#f2f1ec;
  --text-primary:#0b0b0b; --text-secondary:#52514e; --grid:#e4e3dd;
  %(light)s
  font-family: system-ui, sans-serif; background: var(--surface-1);
  color: var(--text-primary); margin: 0 auto; max-width: 1080px;
  padding: 24px; }
@media (prefers-color-scheme: dark) {
  :root:where(:not([data-theme="light"])) .viz-root { color-scheme: dark;
    --surface-1:#1a1a19; --surface-2:#252523;
    --text-primary:#ffffff; --text-secondary:#c3c2b7; --grid:#3a3a37;
    %(dark)s } }
:root[data-theme="dark"] .viz-root { color-scheme: dark;
  --surface-1:#1a1a19; --surface-2:#252523;
  --text-primary:#ffffff; --text-secondary:#c3c2b7; --grid:#3a3a37;
  %(dark)s }
.viz-root h1 { font-size: 22px; margin: 0 0 4px; }
.viz-root .sub { color: var(--text-secondary); font-size: 13px;
  margin-bottom: 20px; }
.tiles { display: flex; gap: 12px; flex-wrap: wrap; margin-bottom: 24px; }
.tile { background: var(--surface-2); border-radius: 8px;
  padding: 12px 16px; min-width: 150px; flex: 1; }
.tile .v { font-size: 24px; font-weight: 600; }
.tile .k { color: var(--text-secondary); font-size: 12px; margin-top: 2px; }
.grid2 { display: grid; grid-template-columns: 1fr 1fr; gap: 24px; }
figure { margin: 0 0 8px; }
figcaption { font-size: 14px; font-weight: 600; margin-bottom: 8px; }
svg text { fill: var(--text-primary); font-size: 11px;
  font-family: system-ui, sans-serif; }
svg .muted { fill: var(--text-secondary); }
svg .grid-line { stroke: var(--grid); stroke-width: 1; }
details { margin: 4px 0 16px; font-size: 12px; }
details summary { color: var(--text-secondary); cursor: pointer; }
details table { border-collapse: collapse; margin-top: 6px; }
details td, details th { padding: 2px 10px 2px 0; text-align: left;
  border-bottom: 1px solid var(--grid); }
"""


def _fmt(v) -> str:
    if v is None:
        return "–"
    v = float(v)
    if v == int(v) and abs(v) < 1e15:
        return f"{int(v):,}"
    return f"{v:,.2f}"


def _table(headers: Sequence[str], rows: Sequence[Sequence]) -> str:
    head = "".join(f"<th>{_html.escape(str(h))}</th>" for h in headers)
    body = "".join(
        "<tr>"
        + "".join(
            f"<td>{_html.escape(_fmt(c) if isinstance(c, (int, float)) or c is None else str(c))}</td>"
            for c in r
        )
        + "</tr>"
        for r in rows
    )
    return (
        "<details><summary>table view</summary>"
        f"<table><tr>{head}</tr>{body}</table></details>"
    )


def _hbar_svg(labels: Sequence[str], values: Sequence[float], slot: int) -> str:
    """Horizontal bars: thin marks, rounded data end, direct labels
    (the contrast-relief requirement), native <title> tooltips."""
    n = len(labels)
    if n == 0:
        return "<p class='sub'>no data</p>"
    bar_h, gap, left, right, top = 16, 6, 150, 70, 4
    width = 480
    height = top * 2 + n * (bar_h + gap)
    vmax = max(max(values), 1e-12)
    plot_w = width - left - right
    parts = [
        f'<svg viewBox="0 0 {width} {height}" role="img" '
        f'style="width:100%;height:auto">'
    ]
    for i, (lab, v) in enumerate(zip(labels, values)):
        y = top + i * (bar_h + gap)
        w = max(v / vmax * plot_w, 1)
        lab_e = _html.escape(str(lab))
        parts.append(
            f'<text x="{left - 6}" y="{y + bar_h - 4}" text-anchor="end" '
            f'class="muted">{lab_e}</text>'
            f'<rect x="{left}" y="{y}" width="{w:.1f}" height="{bar_h}" '
            f'rx="4" fill="var(--s{slot})">'
            f"<title>{lab_e}: {_fmt(v)}</title></rect>"
            f'<text x="{left + w + 5:.1f}" y="{y + bar_h - 4}">{_fmt(v)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def _vbar_svg(labels: Sequence[str], values: Sequence[float], slot: int) -> str:
    n = len(labels)
    if n == 0:
        return "<p class='sub'>no data</p>"
    width, height, bottom, top = 480, 220, 24, 18
    gap = 10
    bar_w = (width - gap) / n - gap
    vmax = max(max(values), 1e-12)
    plot_h = height - top - bottom
    parts = [
        f'<svg viewBox="0 0 {width} {height}" role="img" '
        f'style="width:100%;height:auto">'
    ]
    for i, (lab, v) in enumerate(zip(labels, values)):
        h = max(v / vmax * plot_h, 1)
        x = gap + i * (bar_w + gap)
        y = height - bottom - h
        lab_e = _html.escape(str(lab))
        parts.append(
            f'<rect x="{x:.1f}" y="{y:.1f}" width="{bar_w:.1f}" '
            f'height="{h:.1f}" rx="4" fill="var(--s{slot})">'
            f"<title>{lab_e}: {_fmt(v)}</title></rect>"
            f'<text x="{x + bar_w / 2:.1f}" y="{y - 4:.1f}" '
            f'text-anchor="middle">{_fmt(v)}</text>'
            f'<text x="{x + bar_w / 2:.1f}" y="{height - bottom + 14}" '
            f'text-anchor="middle" class="muted">{lab_e}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def _line_svg(labels: Sequence[str], values: Sequence[float], slot: int) -> str:
    n = len(labels)
    if n == 0:
        return "<p class='sub'>no data</p>"
    width, height, left, bottom, top, right = 480, 220, 10, 24, 14, 10
    vmax = max(max(values), 1e-12)
    plot_w, plot_h = width - left - right, height - top - bottom
    step = plot_w / max(n - 1, 1)
    pts = []
    for i, v in enumerate(values):
        x = left + i * step
        y = top + plot_h * (1 - v / vmax)
        pts.append((x, y))
    path = " ".join(
        f"{'M' if i == 0 else 'L'}{x:.1f},{y:.1f}" for i, (x, y) in enumerate(pts)
    )
    parts = [
        f'<svg viewBox="0 0 {width} {height}" role="img" '
        f'style="width:100%;height:auto">',
        f'<line x1="{left}" y1="{height - bottom}" x2="{width - right}" '
        f'y2="{height - bottom}" class="grid-line"/>',
        f'<path d="{path}" fill="none" stroke="var(--s{slot})" '
        'stroke-width="2" stroke-linejoin="round"/>',
    ]
    # markers with native tooltips; selective direct labels (endpoints
    # and the maximum only — never a number on every point)
    imax = max(range(n), key=lambda i: values[i])
    label_at = {0, n - 1, imax}
    for i, (x, y) in enumerate(pts):
        lab_e = _html.escape(str(labels[i]))
        parts.append(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="4" fill="var(--s{slot})">'
            f"<title>{lab_e}: {_fmt(values[i])}</title></circle>"
        )
        if i in label_at:
            anchor = "start" if i == 0 else ("end" if i == n - 1 else "middle")
            parts.append(
                f'<text x="{x:.1f}" y="{max(y - 8, 10):.1f}" '
                f'text-anchor="{anchor}">{_fmt(values[i])}</text>'
            )
    # x labels: first / last only (months are dense)
    parts.append(
        f'<text x="{left}" y="{height - 6}" class="muted">'
        f"{_html.escape(str(labels[0]))}</text>"
        f'<text x="{width - right}" y="{height - 6}" text-anchor="end" '
        f'class="muted">{_html.escape(str(labels[-1]))}</text>'
    )
    parts.append("</svg>")
    return "".join(parts)


def _figure(title: str, svg: str, headers, rows) -> str:
    return (
        f"<figure><figcaption>{_html.escape(title)}</figcaption>"
        f"{svg}</figure>{_table(headers, rows)}"
    )


def render_dashboard(
    spark: SparkSession,
    sf_dir: str,
    states: Sequence[str] | None = None,
    out_path: str | None = None,
    frames: dict | None = None,
    source_label: str | None = None,
) -> str:
    """Run the 7-query dashboard workload and render it to one
    self-contained HTML string (optionally written to ``out_path``).

    ``states`` is the reference dashboard's one dynamic parameter
    (customer-state IN-list) — passed to the SAME parameterized plans
    the driver checks, not string-spliced. ``frames`` overrides the
    default testdata star schema with caller-built gold frames (keys
    ``fact_sales``, ``dim_customers``, ``dim_products``) — the hook
    the scheduled pipeline uses to render the lake it just built.
    ``source_label`` names the data source in the subtitle; it
    defaults to ``sf_dir`` only when the frames were actually built
    from it — a ``frames`` override MUST say where those frames came
    from (ADVICE r08: the artifact must not misstate provenance)."""
    from data_engineering_project_spark.plans import analytics

    if frames is None:
        from data_engineering_project_spark.plans.medallion import gold

        frames = gold(spark, sf_dir)
        if source_label is None:
            source_label = sf_dir
    elif source_label is None:
        source_label = "caller-provided gold frames"
    fact = frames["fact_sales"]
    dc, dp = frames["dim_customers"], frames["dim_products"]

    # all seven charts read the same frames. Over bare gold parquet
    # scans the analytics result cache answers repeat renders with no
    # job, and a miss fills it; the persist below serves the misses and
    # every uncached frame (e.g. the derived testdata gold) from one
    # lineage, instead of seven fact re-scans
    fact = fact.persist()
    dc, dp = dc.persist(), dp.persist()
    try:
        kpi = analytics.kpis(fact, dc, states).collect()[0]
        cats = analytics.top_categories(fact, dp, dc, states).collect()
        by_state = analytics.orders_by_state(fact, dc, states).collect()
        deliv = analytics.delivery_days_by_state(fact, dc, states).collect()
        freight = analytics.freight_by_state(fact, dc, states).collect()
        trend = analytics.monthly_trend(fact, dc, states).collect()
        weekly = analytics.weekday_seasonality(fact, dc, states).collect()
    finally:
        fact.unpersist()
        dc.unpersist()
        dp.unpersist()

    light = " ".join(
        f"--s{i + 1}:{lt};" for i, (lt, _) in enumerate(_PALETTE)
    )
    dark = " ".join(f"--s{i + 1}:{dk};" for i, (_, dk) in enumerate(_PALETTE))
    css = _CSS % {"light": light, "dark": dark}

    tiles = "".join(
        f'<div class="tile"><div class="v">{_fmt(v)}</div>'
        f'<div class="k">{_html.escape(k)}</div></div>'
        for k, v in [
            ("Total revenue", kpi["total_revenue"]),
            ("Total orders", kpi["total_orders"]),
            ("Avg delivery (days)", kpi["avg_delivery_days"]),
            ("Avg freight", kpi["avg_freight"]),
            ("Avg order value", kpi["avg_order_value"]),
        ]
    )

    def col(rows, name):
        return [r[name] for r in rows]

    figures = [
        _figure(
            "Top 10 categories by revenue",
            _hbar_svg(
                col(cats, "product_category_name"),
                [float(v) for v in col(cats, "revenue")],
                1,
            ),
            ["category", "revenue"],
            [(r["product_category_name"], float(r["revenue"])) for r in cats],
        ),
        _figure(
            "Orders by customer state",
            _hbar_svg(
                col(by_state, "customer_state"),
                [float(v) for v in col(by_state, "total_orders")],
                2,
            ),
            ["state", "orders"],
            [(r["customer_state"], int(r["total_orders"])) for r in by_state],
        ),
        _figure(
            "Avg delivery days by state",
            _hbar_svg(
                col(deliv, "customer_state"),
                [float(v or 0) for v in col(deliv, "avg_delivery_days")],
                3,
            ),
            ["state", "avg days"],
            [
                (r["customer_state"], r["avg_delivery_days"])
                for r in deliv
            ],
        ),
        _figure(
            "Avg freight by state",
            _hbar_svg(
                col(freight, "customer_state"),
                [float(v or 0) for v in col(freight, "avg_freight")],
                4,
            ),
            ["state", "avg freight"],
            [(r["customer_state"], r["avg_freight"]) for r in freight],
        ),
        _figure(
            "Monthly revenue trend",
            _line_svg(
                col(trend, "period"),
                [float(v) for v in col(trend, "revenue")],
                1,
            ),
            ["month", "revenue"],
            [(r["period"], float(r["revenue"])) for r in trend],
        ),
        _figure(
            "Weekday seasonality (revenue)",
            _vbar_svg(
                [str(d)[:3] for d in col(weekly, "day_of_week")],
                [float(v) for v in col(weekly, "revenue")],
                2,
            ),
            ["weekday", "revenue"],
            [(r["day_of_week"], float(r["revenue"])) for r in weekly],
        ),
    ]
    filt = (
        ", ".join(states) if states else "all states"
    )
    body = (
        f"<h1>Sales dashboard</h1>"
        f'<div class="sub">filter: {_html.escape(filt)} · generated from '
        f"{_html.escape(source_label)}</div>"
        f'<div class="tiles">{tiles}</div>'
        f'<div class="grid2">{"".join(figures)}</div>'
    )
    doc = (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<meta name='viewport' content='width=device-width,initial-scale=1'>"
        f"<title>Sales dashboard</title><style>{css}</style></head>"
        f"<body class='viz-root'>{body}</body></html>"
    )
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(doc)
    return doc
