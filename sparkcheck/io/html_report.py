"""Self-contained HTML + CSV reporting — the analog of the reference's
reporting stack (generators/html_generator.py:907 dashboard sections,
generators/csv_generator.py export, interactive.py trend charts).

Sections covered:
- rule-outcome table with pass/fail badges and violation-rate meters
- per-rule TREND over stored run history (inline SVG sparklines — the
  reference embedded Chart.js; here zero external assets)
- profile-comparison (drift) section over a ProfileDelta: per-column
  PSI/KS/null-delta with drift badges
- CSV export of outcomes (csv_generator.py semantics: one row per rule)
- run-history store: JSONL appender/loader (the durable analog of the
  reference's report scheduler storage, reporting/scheduler.py — cron
  itself is infra, not engine, and is deliberately out of scope)

Driver-side rendering over already-collected summaries (never touches
row data), so it costs nothing at any scale. Zero external assets: one
HTML file with inline CSS/SVG, viewable anywhere.
"""

from __future__ import annotations

import csv
import html
import json
import os
import re
import time
from typing import Any, Iterable, Mapping, Sequence

_CSS = """
body{font-family:system-ui,sans-serif;margin:2rem;color:#1a1a2e}
h1{font-size:1.4rem} h2{font-size:1.1rem;margin-top:2rem}
table{border-collapse:collapse;width:100%;font-size:0.9rem}
th,td{text-align:left;padding:.4rem .6rem;border-bottom:1px solid #ddd}
th{background:#f4f4f8} .pass{color:#0a7a3d;font-weight:600}
.fail{color:#b3261e;font-weight:600}
.bar{background:#e8e8ef;border-radius:3px;height:10px;min-width:120px}
.bar>div{background:#b3261e;height:10px;border-radius:3px}
.meta{color:#666;font-size:.85rem}
.chartgrid{display:flex;flex-wrap:wrap;gap:1.2rem}
.colchart{margin:0;padding:.4rem;border:1px solid #e4e4ec;border-radius:6px}
.colchart figcaption{font-size:.85rem;font-weight:600;margin-bottom:.2rem}
.hbar{fill:#5561d8}.hbar:hover{fill:#2b3aa0}
.kbar{fill:#7a86e0}.kbar:hover{fill:#2b3aa0}
.axis{font-size:9px;fill:#666}
.plan{font-size:.75rem;background:#f7f7fb;padding:.5rem;overflow-x:auto}
.pkbadge{background:#0a7a3d;color:#fff;border-radius:3px;padding:0 .3rem;
font-size:.7rem;font-weight:700;vertical-align:middle}
.chip{display:inline-block;border:1px solid #ccd;border-radius:9px;
padding:0 .45rem;font-size:.72rem;font-weight:500;margin-left:.3rem;
background:#f7f7fb}
.chip.fail{background:#b3261e;color:#fff;border-color:#b3261e}
.chip.pass{background:#0a7a3d;color:#fff;border-color:#0a7a3d}
.cmp{margin:0;padding:.5rem;border:1px solid #e4e4ec;border-radius:6px}
.cmp figcaption{font-size:.9rem;font-weight:600;margin-bottom:.3rem}
.cmpgrid{display:flex;gap:1rem}
.cmpgrid .meta{margin:.1rem 0}
"""


def _bar(rate: float) -> str:
    pct = max(0.0, min(rate * 100.0, 100.0))
    return f'<div class="bar"><div style="width:{pct:.2f}%"></div></div>'


def _as_report(report: Any) -> Any:
    """Accept a ValidationReport object OR its asdict()/JSON form."""
    if not isinstance(report, Mapping):
        return report
    from types import SimpleNamespace

    outcomes = [
        SimpleNamespace(**{"message": "", "skipped": False, "sample_values": [], **o})
        for o in report.get("outcomes", [])
    ]
    return SimpleNamespace(
        ruleset=report.get("ruleset", "?"),
        outcomes=outcomes,
        elapsed_sec=float(report.get("elapsed_sec", 0.0)),
        passed=all(o.passed or o.severity != "error" for o in outcomes),
        total_violations=sum(int(o.violations) for o in outcomes),
    )


def render_validation_html(report: Any, title: str = "sparkcheck report") -> str:
    """Render a ValidationReport (run/engine.py, object or asdict form)
    to one HTML page."""
    report = _as_report(report)
    rows = []
    for o in report.outcomes:
        status = '<span class="pass">PASS</span>' if o.passed else '<span class="fail">FAIL</span>'
        rate = (o.violations / o.evaluated) if o.evaluated else 0.0
        rows.append(
            "<tr>"
            f"<td>{html.escape(o.rule_id)}</td><td>{html.escape(o.table)}</td>"
            f"<td>{html.escape(o.column)}</td><td>{status}</td>"
            f"<td>{o.violations:,}</td><td>{o.evaluated:,}</td>"
            f"<td>{_bar(rate)}</td><td>{o.elapsed_sec:.2f}s</td>"
            "</tr>"
        )
    verdict = ('<span class="pass">SUITE PASSED</span>' if report.passed
               else '<span class="fail">SUITE FAILED</span>')
    # captured physical plans (engine capture_plans=True) as collapsed
    # blocks — the reporting face of the reference's query analysis
    # (query_analyzer.py attaches plans/suggestions to slow queries)
    from sparkcheck.run.analyze import plan_groups

    plan_blocks = [
        f"<details><summary>{html.escape(', '.join(rule_ids))}</summary>"
        f"<pre class='plan'>{html.escape(plan)}</pre></details>"
        for plan, rule_ids in plan_groups(report.outcomes).items()
    ]
    plans_html = (
        f"<h2>Captured physical plans</h2>{''.join(plan_blocks)}"
        if plan_blocks
        else ""
    )
    return f"""<!doctype html><html><head><meta charset="utf-8">
<title>{html.escape(title)}</title><style>{_CSS}</style></head><body>
<h1>{html.escape(title)} — {verdict}</h1>
<p class="meta">ruleset {html.escape(report.ruleset)} ·
{len(report.outcomes)} rules · {report.total_violations:,} violations ·
{report.elapsed_sec:.2f}s · generated {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())}</p>
<h2>Rule outcomes</h2>
<table><tr><th>rule</th><th>table</th><th>column</th><th>status</th>
<th>violations</th><th>evaluated</th><th>rate</th><th>time</th></tr>
{''.join(rows)}
</table>
{plans_html}</body></html>"""


def write_validation_html(report: Any, path: str, title: str = "sparkcheck report") -> None:
    with open(path, "w") as f:
        f.write(render_validation_html(report, title))


# ---------------------------------------------------------------------------
# CSV export (reference reporting/generators/csv_generator.py semantics:
# one row per rule outcome, stable column order)

OUTCOME_FIELDS = ("rule_id", "table", "column", "passed", "violations",
                  "evaluated", "total_rows", "severity", "skipped",
                  "message", "elapsed_sec")


def write_outcomes_csv(report: Any, path: str) -> None:
    """Export rule outcomes to CSV. Accepts a ValidationReport or any
    object/dict with an ``outcomes`` list of outcome objects/dicts."""
    outcomes = report["outcomes"] if isinstance(report, Mapping) else report.outcomes
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=OUTCOME_FIELDS, extrasaction="ignore")
        w.writeheader()
        for o in outcomes:
            d = o if isinstance(o, Mapping) else {k: getattr(o, k, "") for k in OUTCOME_FIELDS}
            w.writerow({k: d.get(k, "") for k in OUTCOME_FIELDS})


def write_merged_outcomes_csv(reports: Mapping[str, Any], path: str) -> None:
    """CSV across an orchestrated multi-suite run: every suite's outcome
    rows with a leading ``rule_set`` column."""
    fields = ["rule_set", *OUTCOME_FIELDS]
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=fields, extrasaction="ignore")
        w.writeheader()
        for name, report in reports.items():
            outcomes = (report["outcomes"] if isinstance(report, Mapping)
                        else report.outcomes)
            for o in outcomes:
                d = (o if isinstance(o, Mapping)
                     else {k: getattr(o, k, "") for k in OUTCOME_FIELDS})
                row = {k: d.get(k, "") for k in OUTCOME_FIELDS}
                row["rule_set"] = name
                w.writerow(row)


# ---------------------------------------------------------------------------
# run history (JSONL) + per-rule trends

def append_history(report: Any, path: str, run_ts: float | None = None) -> None:
    """Append one run's per-rule counters to a JSONL history file — the
    durable input of the trend section."""
    outcomes = report["outcomes"] if isinstance(report, Mapping) else report.outcomes
    if run_ts is None:
        # prefer the report's own run id so cmd_report can later match
        # this record to the report exactly (not via the violations map)
        run_ts = (
            report.get("run_ts") if isinstance(report, Mapping)
            else getattr(report, "run_ts", None)
        ) or None
    rec = {
        "ts": run_ts if run_ts is not None else time.time(),
        "ruleset": report["ruleset"] if isinstance(report, Mapping) else report.ruleset,
        "rules": {
            (o["rule_id"] if isinstance(o, Mapping) else o.rule_id): {
                "violations": o["violations"] if isinstance(o, Mapping) else o.violations,
                "passed": bool(o["passed"] if isinstance(o, Mapping) else o.passed),
                # wall time feeds the slow-rule detector (run.analyze)
                "elapsed_sec": float(
                    (o.get("elapsed_sec", 0.0) if isinstance(o, Mapping) else o.elapsed_sec)
                    or 0.0
                ),
            }
            for o in outcomes
        },
    }
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def load_history(path: str) -> list[dict[str, Any]]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return sorted(out, key=lambda r: r.get("ts", 0))


def _sparkline(values: Sequence[float], width: int = 220, height: int = 36) -> str:
    """Inline SVG polyline sparkline (no external chart lib)."""
    if not values:
        return ""
    vmax = max(max(values), 1)
    n = len(values)
    pts = []
    for i, v in enumerate(values):
        x = 4 + (width - 8) * (i / max(n - 1, 1))
        y = height - 4 - (height - 8) * (v / vmax)
        pts.append(f"{x:.1f},{y:.1f}")
    dots = "".join(
        f'<circle cx="{p.split(",")[0]}" cy="{p.split(",")[1]}" r="2" fill="#5561d8"/>'
        for p in pts
    )
    return (
        f'<svg width="{width}" height="{height}" role="img">'
        f'<polyline points="{" ".join(pts)}" fill="none" stroke="#5561d8" '
        f'stroke-width="1.5"/>{dots}</svg>'
    )


def render_trend_section(history: Iterable[Mapping[str, Any]]) -> str:
    """Per-rule violation trend over stored runs (interactive.py's trend
    charts, Chart.js → inline SVG sparklines)."""
    history = list(history)
    if len(history) < 2:
        return ""
    rule_ids: list[str] = []
    for rec in history:
        for rid in rec.get("rules", {}):
            if rid not in rule_ids:
                rule_ids.append(rid)
    rows = []
    for rid in rule_ids:
        series = [float(rec.get("rules", {}).get(rid, {}).get("violations", 0))
                  for rec in history]
        last = history[-1].get("rules", {}).get(rid, {})
        badge = ('<span class="pass">PASS</span>' if last.get("passed", True)
                 else '<span class="fail">FAIL</span>')
        direction = "↑" if len(series) > 1 and series[-1] > series[-2] else (
            "↓" if len(series) > 1 and series[-1] < series[-2] else "→")
        rows.append(
            f"<tr><td>{html.escape(rid)}</td><td>{badge}</td>"
            f"<td>{int(series[-1]):,} {direction}</td><td>{_sparkline(series)}</td></tr>"
        )
    return (
        f"<h2>Per-rule trend ({len(history)} runs)</h2>"
        "<table><tr><th>rule</th><th>last status</th>"
        "<th>last violations</th><th>violations over runs</th></tr>"
        f"{''.join(rows)}</table>"
    )


def render_drift_section(delta: Mapping[str, Any] | Any) -> str:
    """Profile-comparison section over a ProfileDelta (drift/compare.py)
    or its asdict()."""
    if not isinstance(delta, Mapping):
        import dataclasses

        delta = dataclasses.asdict(delta)
    drifted = set(delta.get("drifted_columns", []))
    rows = []
    for col, ch in sorted(delta.get("column_changes", {}).items()):
        badge = ('<span class="fail">DRIFT</span>' if col in drifted
                 else '<span class="pass">ok</span>')
        def fmt(key: str) -> str:
            v = ch.get(key)
            return f"{v:.4f}" if isinstance(v, (int, float)) else "—"
        rows.append(
            f"<tr><td>{html.escape(col)}</td><td>{badge}</td>"
            f"<td>{fmt('psi')}</td><td>{fmt('ks')}</td>"
            f"<td>{fmt('chi2')} (V={fmt('cramers_v')})</td>"
            f"<td>{fmt('null_pct_delta')}</td><td>{fmt('unique_pct_delta')}</td></tr>"
        )
    schema_bits = []
    if delta.get("added_columns"):
        schema_bits.append("added: " + ", ".join(delta["added_columns"]))
    if delta.get("removed_columns"):
        schema_bits.append("removed: " + ", ".join(delta["removed_columns"]))
    schema = (f'<p class="meta">schema drift — {html.escape("; ".join(schema_bits))}</p>'
              if schema_bits else "")
    stability = delta.get("stability_score")
    meta = (f'<p class="meta">rows {delta.get("baseline_rows", 0):,} → '
            f'{delta.get("current_rows", 0):,} · stability '
            f'{stability:.2f}</p>' if stability is not None else "")
    if not rows and not schema_bits:
        return "<h2>Profile comparison</h2><p>No drift detected.</p>"
    return (
        "<h2>Profile comparison (baseline vs current)</h2>"
        f"{meta}{schema}"
        "<table><tr><th>column</th><th>status</th><th>PSI</th><th>KS</th>"
        "<th>χ² (Cramér V)</th>"
        "<th>Δnull%</th><th>Δunique%</th></tr>"
        f"{''.join(rows)}</table>"
    )


def _hist_chart(
    hist: Sequence[Mapping[str, Any]],
    lo: float | None,
    hi: float | None,
    width: int = 320,
    height: int = 120,
    y_max: int | None = None,
) -> str:
    """Inline-SVG histogram bar chart for one numeric column (reference
    interactive.py column distribution charts; zero-asset here like the
    trend sparklines). Each bar carries a <title> tooltip with its bin
    range and count; axis labels show lo/hi and the max bin count.
    ``y_max`` pins the y-scale (side-by-side comparison charts)."""
    counts = [int(h.get("count", 0)) for h in hist]
    if not counts:
        return ""
    mx = (y_max if y_max else max(counts)) or 1
    pad_l, pad_b, pad_t = 34, 16, 6
    plot_w, plot_h = width - pad_l - 4, height - pad_b - pad_t
    bw = plot_w / len(counts)
    bars = []
    for i, n in enumerate(counts):
        bh = plot_h * n / mx
        x = pad_l + i * bw
        y = pad_t + plot_h - bh
        if lo is not None and hi is not None:
            b_lo = lo + (hi - lo) * i / len(counts)
            b_hi = lo + (hi - lo) * (i + 1) / len(counts)
            tip = f"[{b_lo:.4g}, {b_hi:.4g}): {n:,}"
        else:
            tip = f"bin {i}: {n:,}"
        bars.append(
            f'<rect class="hbar" x="{x:.1f}" y="{y:.1f}" '
            f'width="{max(bw - 1, 1):.1f}" height="{max(bh, 0.5):.1f}">'
            f"<title>{html.escape(tip)}</title></rect>"
        )
    lo_lbl = "" if lo is None else f"{lo:.4g}"
    hi_lbl = "" if hi is None else f"{hi:.4g}"
    return (
        f'<svg class="chart" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}">'
        f'<line x1="{pad_l}" y1="{pad_t + plot_h}" x2="{width - 4}" '
        f'y2="{pad_t + plot_h}" stroke="#bbb"/>'
        f'<text x="{pad_l}" y="{height - 3}" class="axis">{lo_lbl}</text>'
        f'<text x="{width - 4}" y="{height - 3}" class="axis" '
        f'text-anchor="end">{hi_lbl}</text>'
        f'<text x="{pad_l - 4}" y="{pad_t + 8}" class="axis" '
        f'text-anchor="end">{mx:,}</text>'
        f"{''.join(bars)}</svg>"
    )


def _topk_chart(
    top_values: Sequence[Mapping[str, Any]],
    width: int = 320,
    row_h: int = 18,
    max_rows: int = 10,
    y_max: int | None = None,
) -> str:
    """Inline-SVG horizontal bar chart of a column's top-k values
    (string/categorical analog of the histogram chart). ``y_max`` pins
    the bar scale (side-by-side comparison charts)."""
    tv = list(top_values)[:max_rows]
    if not tv:
        return ""
    mx = (y_max if y_max else max(int(t.get("count", 0)) for t in tv)) or 1
    label_w, count_w = 110, 54
    plot_w = width - label_w - count_w
    height = row_h * len(tv) + 4
    rows = []
    for i, t in enumerate(tv):
        n = int(t.get("count", 0))
        y = 2 + i * row_h
        label = str(t.get("value", ""))
        if len(label) > 16:
            label = label[:15] + "…"
        bw = max(plot_w * n / mx, 0.5)
        rows.append(
            f'<text x="{label_w - 6}" y="{y + row_h - 6}" class="axis" '
            f'text-anchor="end">{html.escape(label)}</text>'
            f'<rect class="kbar" x="{label_w}" y="{y + 2}" '
            f'width="{bw:.1f}" height="{row_h - 6}">'
            f'<title>{html.escape(str(t.get("value", "")))}: {n:,}</title></rect>'
            f'<text x="{label_w + bw + 4:.1f}" y="{y + row_h - 6}" '
            f'class="axis">{n:,}</text>'
        )
    return (
        f'<svg class="chart topk" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}">{"".join(rows)}</svg>'
    )


def render_orchestration_html(
    result: Any, title: str = "sparkcheck orchestrated run"
) -> str:
    """Aggregate page for a multi-rule-set run (run/orchestrate.py —
    reference orchestration.py/enterprise_executor.py aggregate
    reporting): cross-suite summary table, then each suite's full
    outcome section."""
    reports = result.reports if hasattr(result, "reports") else dict(result)
    skipped = list(getattr(result, "skipped", ()))

    def _slug(name: str) -> str:
        # anchors must be valid HTML ids (no whitespace) or the summary
        # links silently stop navigating
        return re.sub(r"[^A-Za-z0-9_-]", "-", name)

    rows = []
    for name, rep in reports.items():
        passed = rep.passed if hasattr(rep, "passed") else rep.get("passed")
        nviol = (rep.total_violations if hasattr(rep, "total_violations")
                 else rep.get("total_violations", 0))
        nrules = len(rep.outcomes if hasattr(rep, "outcomes")
                     else rep.get("outcomes", []))
        elapsed = (rep.elapsed_sec if hasattr(rep, "elapsed_sec")
                   else rep.get("elapsed_sec", 0.0))
        badge = ('<span class="pass">PASS</span>' if passed
                 else '<span class="fail">FAIL</span>')
        rows.append(
            f'<tr><td><a href="#suite-{_slug(name)}">{html.escape(name)}'
            f"</a></td><td>{badge}</td><td>{nrules}</td>"
            f"<td>{nviol:,}</td><td>{elapsed:.2f}s</td></tr>"
        )
    for name in skipped:
        rows.append(
            f"<tr><td>{html.escape(name)}</td>"
            '<td><span class="meta">SKIPPED (fail_fast)</span></td>'
            "<td>—</td><td>—</td><td>—</td></tr>"
        )
    sections = []
    for name, rep in reports.items():
        page = render_validation_html(rep, title=name)
        body = page[page.index("<body>") + 6 : page.rindex("</body>")]
        sections.append(f'<section id="suite-{_slug(name)}">{body}</section>')
    return (
        f'<!doctype html><html><head><meta charset="utf-8">'
        f"<title>{html.escape(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{html.escape(title)}</h1>"
        "<table><tr><th>rule set</th><th>status</th><th>rules</th>"
        "<th>violations</th><th>elapsed</th></tr>"
        f"{''.join(rows)}</table>{''.join(sections)}</body></html>"
    )


# Zero-dependency interactivity (the last user-visible gap vs the
# reference's interactive.py dashboards): a substring column filter and
# a flagged-only toggle, pure inline JS over data-col / data-flag
# attributes — pages stay fully self-contained (no external assets).
_FILTER_JS = """<script>
(function(){
  var inp=document.getElementById('colfilter');
  var tog=document.getElementById('flagonly');
  function apply(){
    var q=(inp&&inp.value?inp.value:'').toLowerCase();
    var only=!!(tog&&tog.checked);
    var els=document.querySelectorAll('[data-col]');
    for(var i=0;i<els.length;i++){
      var el=els[i];
      var hit=el.getAttribute('data-col').toLowerCase().indexOf(q)>=0;
      if(only&&el.getAttribute('data-flag')!=='1')hit=false;
      el.style.display=hit?'':'none';
    }
  }
  if(inp)inp.addEventListener('input',apply);
  if(tog)tog.addEventListener('change',apply);
})();
</script>"""


def _filter_bar(toggle_label: str) -> str:
    return (
        '<p class="filterbar"><input id="colfilter" type="search" '
        'placeholder="filter columns…"> '
        '<label><input id="flagonly" type="checkbox"> '
        f"{html.escape(toggle_label)}</label></p>"
    )


def render_comparison_html(
    baseline: Any,
    current: Any,
    delta: Mapping[str, Any] | Any | None = None,
    title: str = "sparkcheck profile comparison",
) -> str:
    """Side-by-side two-profile comparison page — the reference's
    baseline-vs-current comparison dashboard
    (reporting/interactive.py comparison views, html_generator.py):
    for every common column, the baseline and current distribution
    charts rendered next to each other ON THE SAME y-scale, with drift
    verdict chips (PSI / KS / χ²+Cramér V / Δnull% / Δunique%) from the
    ProfileDelta, plus the drift summary table. Accepts TableProfile
    objects or their to_dict()/asdict() forms; computes the delta with
    drift.compare_profiles when not supplied."""
    import dataclasses

    def _as_map(p: Any) -> Mapping[str, Any]:
        if isinstance(p, Mapping):
            return p
        if hasattr(p, "to_dict"):
            return p.to_dict()
        return dataclasses.asdict(p)

    if delta is None:
        from sparkcheck.drift import compare_profiles
        from sparkcheck.profile.models import TableProfile

        def _as_profile(p: Any) -> TableProfile:
            return p if isinstance(p, TableProfile) else TableProfile.from_dict(_as_map(p))

        delta = compare_profiles(_as_profile(baseline), _as_profile(current))
    if not isinstance(delta, Mapping):
        delta = dataclasses.asdict(delta)
    bmap, cmap = _as_map(baseline), _as_map(current)
    bcols, ccols = bmap.get("columns", {}), cmap.get("columns", {})
    drifted = set(delta.get("drifted_columns", []))
    changes = delta.get("column_changes", {})

    def _chips(col: str) -> str:
        ch = changes.get(col, {})
        chips = [
            ('<span class="chip fail">DRIFT</span>' if col in drifted
             else '<span class="chip pass">ok</span>')
        ]
        if "psi" in ch:
            chips.append(f'<span class="chip">PSI {ch["psi"]:.4f}</span>')
        if "ks" in ch:
            chips.append(f'<span class="chip">KS {ch["ks"]:.4f}</span>')
        if "chi2" in ch:
            chips.append(
                f'<span class="chip">χ² {ch["chi2"]:.4g} '
                f'(p={ch.get("chi2_p", float("nan")):.2g}, '
                f'V={ch.get("cramers_v", float("nan")):.3f})</span>'
            )
        if "null_pct_delta" in ch:
            chips.append(
                f'<span class="chip">Δnull {ch["null_pct_delta"]:+.2f}pp</span>'
            )
        if "unique_pct_delta" in ch:
            chips.append(
                f'<span class="chip">Δuniq {ch["unique_pct_delta"]:+.2f}pp</span>'
            )
        return "".join(chips)

    figures = []
    for col in [c for c in bcols if c in ccols]:
        b, c = dict(bcols[col]), dict(ccols[col])
        bh, ch_ = b.get("histogram") or [], c.get("histogram") or []
        if bh and ch_:
            # shared y-scale so the two charts are visually comparable
            mx = max(
                [int(h.get("count", 0)) for h in bh]
                + [int(h.get("count", 0)) for h in ch_]
            )
            left = _hist_chart(bh, b.get("histogram_lo"), b.get("histogram_hi"),
                               y_max=mx)
            right = _hist_chart(ch_, c.get("histogram_lo"), c.get("histogram_hi"),
                                y_max=mx)
            kind = "histogram"
        else:
            btv, ctv = b.get("top_values") or [], c.get("top_values") or []
            if not btv or not ctv:
                continue
            # Chart EXACTLY the pooled category set the chi-square
            # verdict used — same helper, no truncation, so a category
            # that churns across the top-k boundary shows up in
            # '<other>' on both charts (previously a missing bar on one
            # side with no verdict) and the bar driving a DRIFT chip is
            # always one of the bars drawn.
            from sparkcheck.drift.compare import pooled_category_counts

            labels, e, a = pooled_category_counts(
                {str(t.get("value")): float(t.get("count", 0)) for t in btv},
                {str(t.get("value")): float(t.get("count", 0)) for t in ctv},
                float(b.get("non_null_count", 0)),
                float(c.get("non_null_count", 0)),
            )
            bl = [{"value": v, "count": int(n)} for v, n in zip(labels, e)]
            cl = [{"value": v, "count": int(n)} for v, n in zip(labels, a)]
            mx = max([t["count"] for t in bl] + [t["count"] for t in cl], default=1)
            left = _topk_chart(bl, y_max=mx, max_rows=len(bl))
            right = _topk_chart(cl, y_max=mx, max_rows=len(cl))
            kind = "top values, tail pooled"
        figures.append(
            f'<figure class="cmp" data-col="{html.escape(col)}" '
            f'data-flag="{1 if col in drifted else 0}">'
            f'<figcaption>{html.escape(col)} '
            f'<span class="meta">({kind})</span> {_chips(col)}</figcaption>'
            f'<div class="cmpgrid"><div><p class="meta">baseline</p>{left}</div>'
            f'<div><p class="meta">current</p>{right}</div></div></figure>'
        )

    body = render_drift_section(delta)
    if figures:
        body += (
            "<h2>Per-column comparison (baseline | current)</h2>"
            + _filter_bar("drifted columns only")
            + f'<div class="chartgrid">{"".join(figures)}</div>'
            + _FILTER_JS
        )
    return (
        f'<!doctype html><html><head><meta charset="utf-8">'
        f"<title>{html.escape(title)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{html.escape(title)}</h1>"
        f'<p class="meta">{html.escape(str(bmap.get("table", "?")))} — '
        f'baseline {bmap.get("total_rows", 0):,} rows vs current '
        f'{cmap.get("total_rows", 0):,} rows</p>'
        f"{body}</body></html>"
    )


def render_insights_section(insights: Sequence[Any]) -> str:
    """Advisory findings from run.analyze (slow rules, plan smells) as a
    report section — the reference surfaced these in its intelligent-
    analysis report (intelligent_analysis.py:535-567)."""
    items = []
    for ins in insights:
        d = ins.to_dict() if hasattr(ins, "to_dict") else dict(ins)
        badge = "fail" if d.get("severity") == "warning" else "meta"
        items.append(
            f'<li><span class="{badge}">[{html.escape(str(d.get("severity", "")))}]'
            f"</span> <b>{html.escape(str(d.get('rule_id', '')))}</b> — "
            f"{html.escape(str(d.get('message', '')))}</li>"
        )
    if not items:
        return ""
    return f"<h2>Analysis warnings</h2><ul class='insights'>{''.join(items)}</ul>"


def render_profile_html(profile: Any, title: str | None = None) -> str:
    """Profile dashboard (reference html_generator.py's profile section):
    per-column stats table, inline histogram bars, top values, detected
    patterns. Accepts a TableProfile or its asdict()/JSON form."""
    if not isinstance(profile, Mapping):
        import dataclasses

        profile = dataclasses.asdict(profile)
    title = title or f"sparkcheck profile — {profile.get('table', '?')}"
    rows = []
    charts: list[str] = []
    for name, cs in profile.get("columns", {}).items():
        cs = dict(cs)
        hist = cs.get("histogram") or []
        if hist:
            mx = max((h["count"] for h in hist), default=1) or 1
            bars = "".join(
                f'<div style="display:inline-block;width:9px;'
                f'height:{max(2, 28 * h["count"] / mx):.0f}px;'
                f'background:#5561d8;margin-right:1px;vertical-align:bottom"></div>'
                for h in hist
            )
        else:
            bars = ""
        top = ", ".join(
            f'{html.escape(str(t["value"]))}×{t["count"]}'
            for t in (cs.get("top_values") or [])[:3]
        )
        pats = ", ".join(
            f'{p["pattern"]} ({p["confidence"]:.0%})'
            for p in (cs.get("patterns") or [])
        )
        nn = cs.get("non_null_count") or 0
        total = cs.get("total_count") or 0
        null_pct = 100.0 * (total - nn) / total if total else 0.0
        mean = cs.get("mean")
        pk = (
            ' <span class="pkbadge" title="primary-key candidate: all rows '
            'distinct and non-null (HLL-estimated at scale — confirm with '
            'a uniqueness rule)">PK?</span>'
            if cs.get("pk_candidate") else ""
        )
        flag = 1 if (null_pct > 0 or cs.get("pk_candidate")) else 0
        rows.append(
            f'<tr data-col="{html.escape(name)}" data-flag="{flag}">'
            f"<td>{html.escape(name)}{pk}</td>"
            f"<td>{html.escape(str(cs.get('data_type', '')))}</td>"
            f"<td>{null_pct:.1f}%</td>"
            f"<td>{cs.get('distinct_count') or ''}</td>"
            f"<td>{html.escape(str(cs.get('min_value', '')))} … "
            f"{html.escape(str(cs.get('max_value', '')))}</td>"
            f"<td>{'' if mean is None else f'{mean:.4g}'}</td>"
            f"<td>{bars}</td><td>{html.escape(top)}</td>"
            f"<td>{html.escape(pats)}</td></tr>"
        )
        # full-size per-column chart (reference interactive.py per-column
        # distribution charts): histogram for numeric, top-k for the rest
        if hist:
            chart = _hist_chart(hist, cs.get("histogram_lo"), cs.get("histogram_hi"))
            kind = "histogram"
        else:
            chart = _topk_chart(cs.get("top_values") or [])
            kind = "top values"
        if chart:
            charts.append(
                f'<figure class="colchart" data-col="{html.escape(name)}" '
                f'data-flag="{flag}"><figcaption>'
                f"{html.escape(name)} <span class='meta'>({kind})</span>"
                f"</figcaption>{chart}</figure>"
            )
    charts_html = (
        f"<h2>Column charts</h2><div class='chartgrid'>{''.join(charts)}</div>"
        if charts
        else ""
    )
    return f"""<!doctype html><html><head><meta charset="utf-8">
<title>{html.escape(title)}</title><style>{_CSS}</style></head><body>
<h1>{html.escape(title)}</h1>
<p class="meta">{profile.get('total_rows', 0):,} rows ·
{len(profile.get('columns', {}))} columns ·
generated {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())}</p>
{_filter_bar('columns with nulls / PK candidates only')}
<table><tr><th>column</th><th>type</th><th>null%</th><th>ndv</th>
<th>range</th><th>mean</th><th>histogram</th><th>top values</th>
<th>patterns</th></tr>{''.join(rows)}</table>
{charts_html}{_FILTER_JS}</body></html>"""


def render_full_html(
    report: Any = None,
    history: Iterable[Mapping[str, Any]] | None = None,
    drift: Mapping[str, Any] | Any | None = None,
    title: str = "sparkcheck report",
    insights: Sequence[Any] | None = None,
) -> str:
    """Compose rule outcomes + trend + drift + analysis sections into
    one page. ``insights=None`` computes them from report+history
    (pass ``()`` to suppress the section)."""
    # materialize once: a one-shot iterator consumed by analyze_report
    # would otherwise leave the trend section silently empty
    history = list(history) if history else []
    body: list[str] = []
    if report is not None:
        page = render_validation_html(report, title)
        body.append(page[page.index("<body>") + 6 : page.rindex("</body>")])
    else:
        body.append(f"<h1>{html.escape(title)}</h1>")
    if insights is None and report is not None:
        from sparkcheck.run.analyze import analyze_report

        insights = analyze_report(report, history or ())
    if insights:
        body.append(render_insights_section(insights))
    if history:
        body.append(render_trend_section(history))
    if drift is not None:
        body.append(render_drift_section(drift))
    return (
        f'<!doctype html><html><head><meta charset="utf-8">'
        f"<title>{html.escape(title)}</title><style>{_CSS}</style></head>"
        f"<body>{''.join(body)}</body></html>"
    )
