"""HTML static-site sink (reference: exporters/html_page_exporter.py:
440-707 export flow, 1395-1720 detail/index rendering, 1171-1260 static
pages) — Jinja2 rendering of per-entity pages, a nav bar, an index listing,
and optional static pages from the group results table.

Site generation is presentation, not Spark work (SURVEY §2.1): widget JSON
is already computed.  Detail pages stream through the driver one
partition at a time (toLocalIterator), so entity counts scale past driver
memory and no Python worker starts; only the pruned index columns are
collected, mirroring json_api.  Widget payloads render by SHAPE — lists of
objects become tables, objects become definition lists, scalars become
paragraphs — so every widget the transform phase emits shows as content
rather than a raw JSON dump."""

from __future__ import annotations

import json
import os
from typing import Any, Mapping

from pyspark.sql import DataFrame

from niamoto_spark.exporters.json_api import safe_filename
from niamoto_spark.registry import PluginType, register

_CSS = """body{font-family:system-ui,sans-serif;margin:0;color:#222}
nav{background:#1a5632;padding:.6rem 1rem}nav a{color:#fff;margin-right:1rem;
text-decoration:none}main{max-width:60rem;margin:1rem auto;padding:0 1rem}
table{border-collapse:collapse;margin:.5rem 0}td,th{border:1px solid #ccc;
padding:.25rem .6rem;text-align:left}dl{display:grid;
grid-template-columns:max-content 1fr;gap:.2rem .8rem}dt{font-weight:600}
section{margin:1.25rem 0}h2{border-bottom:1px solid #ddd;padding-bottom:.2rem}
"""

_BASE = """<!doctype html><html lang="{{ lang }}"><head><meta charset="utf-8">
<title>{{ title }}</title>
<link rel="stylesheet" href="{{ root }}assets/site.css"></head><body>
<nav><a href="{{ root }}index.html">{{ site_name }}</a>
{%- for item in nav %} <a href="{{ root }}{{ item.url }}">{{ item.label }}</a>
{%- endfor %}</nav><main>{{ body }}</main></body></html>"""

_DETAIL_BODY = """<h1>{{ group }} — {{ entity_id }}</h1>
{% for w in widgets %}<section><h2>{{ w.title }}</h2>{{ w.html }}</section>
{% endfor %}<a href="../index.html">← {{ group }} index</a>"""

_INDEX_BODY = """<h1>{{ group }}</h1>
<table><thead><tr>{% for c in columns %}<th>{{ c }}</th>{% endfor %}</tr>
</thead><tbody>
{% for row in rows %}<tr>{% for c in columns %}<td>
{%- if loop.first %}<a href="detail/{{ row.__slug }}.html">{{ row[c] }}</a>
{%- else %}{{ row[c] }}{% endif %}</td>{% endfor %}</tr>
{% endfor %}</tbody></table>"""


def _render_value(env, v: Any) -> str:
    """Shape-directed widget rendering (reference widget sections,
    html_page_exporter.py:1395-1720): plotly figure dict -> embedded
    chart payload, list[dict] -> table, dict -> <dl>, list -> <ul>,
    scalar -> <p>."""
    from niamoto_spark.exporters.plotly_figures import is_plotly_figure

    e = env.filters["e"]
    if is_plotly_figure(v):
        # the figure JSON rides in a script block (never interpreted as
        # markup, so no escaping hole: only </script-safe JSON inside);
        # a front-end bootstrap calls Plotly.newPlot on each pair.
        payload = json.dumps(v).replace("</", "<\\/")
        return ('<div class="plotly-chart"></div>'
                f'<script type="application/json" data-plotly>{payload}'
                "</script>")
    if isinstance(v, list) and v and all(isinstance(x, Mapping) for x in v):
        cols: list[str] = []
        for x in v:
            for k in x:
                if k not in cols:
                    cols.append(k)
        head = "".join(f"<th>{e(str(c))}</th>" for c in cols)
        body = "".join(
            "<tr>" + "".join(f"<td>{e(str(x.get(c, '')))}</td>" for c in cols)
            + "</tr>" for x in v)
        return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
    if isinstance(v, Mapping):
        items = "".join(f"<dt>{e(str(k))}</dt><dd>{e(str(val))}</dd>"
                        for k, val in v.items())
        return f"<dl>{items}</dl>"
    if isinstance(v, list):
        items = "".join(f"<li>{e(str(x))}</li>" for x in v)
        return f"<ul>{items}</ul>"
    return f"<p>{e(str(v))}</p>"


@register("html_page_exporter", PluginType.EXPORTER)
def export_html_site(results: DataFrame, id_col: str, out_dir: str,
                     group_name: str = "entities",
                     detail_template: str | None = None,
                     index_template: str | None = None,
                     index_columns: list[str] | None = None,
                     site_name: str = "Niamoto",
                     nav: list[Mapping[str, str]] | None = None,
                     static_pages: Mapping[str, str] | None = None,
                     lang: str = "en") -> dict:
    """Render ``<out_dir>/index.html`` + ``detail/<id>.html`` per entity +
    ``assets/site.css`` + optional static pages.

    - ``index_columns``: extra columns shown in the index table (the first
      is always the id link column).
    - ``nav``: [{label, url}] items appended to the top bar (the
      reference's navigation config, html_page_exporter.py:317-350).
    - ``static_pages``: {name: html_body} -> ``<name>.html`` wrapped in the
      site chrome (reference _process_static_pages :1171-1260).
    Custom detail/index templates (Jinja2 source) override the body.
    NOTE: custom detail templates render under an autoescaping
    environment; each widget's ``w.html`` is prebuilt HTML and must be
    emitted with ``{{ w.html | safe }}`` or it will be double-escaped."""
    import jinja2

    env = jinja2.Environment(autoescape=True)
    base_t = jinja2.Environment(autoescape=False).from_string(_BASE)
    body_index_t = jinja2.Environment(autoescape=False).from_string(_INDEX_BODY)
    esc = env.filters["e"]

    detail_dir = os.path.join(out_dir, "detail")
    assets_dir = os.path.join(out_dir, "assets")
    os.makedirs(detail_dir, exist_ok=True)
    os.makedirs(assets_dir, exist_ok=True)
    with open(os.path.join(assets_dir, "site.css"), "w") as f:
        f.write(_CSS)
    nav = list(nav or [])
    for name in (static_pages or {}):
        nav.append({"label": name.title(), "url": f"{name}.html"})
    # the chrome template renders with autoescape off (widget HTML is
    # prebuilt), so nav entries -- config-provided data -- are escaped HERE
    # or they'd inject raw markup into every page (ADVICE r2)
    nav = [{"label": esc(str(n.get("label", ""))),
            "url": esc(str(n.get("url", "")))} for n in nav]

    def page(path: str, title: str, body: str, depth: int) -> None:
        html = base_t.render(title=esc(title), body=body, lang=lang,
                             site_name=esc(site_name), nav=nav,
                             root="../" * depth)
        with open(path, "w") as f:
            f.write(html)

    # Detail pages stream through the driver one partition at a time
    # (toLocalIterator): the row payload ships as one JSON doc per entity
    # and never collects whole; only the (pruned) index columns do.
    from pyspark.sql import functions as F

    idx_cols = [id_col] + [c for c in (index_columns or []) if c != id_col]
    payload = results.select(
        F.col(id_col).alias("__id"),
        F.to_json(F.struct(*results.columns),
                  {"ignoreNullFields": "false"}).alias("__doc"))
    det_t = env.from_string(detail_template) if detail_template else None
    body_det_t = jinja2.Environment(autoescape=False).from_string(
        _DETAIL_BODY)

    def render_detail(doc: str) -> None:
        d = json.loads(doc)
        eid = d.pop(id_col)
        widgets = []
        for name, pl in d.items():
            if isinstance(pl, str) and pl[:1] in "{[":
                try:
                    pl = json.loads(pl)
                except (ValueError, TypeError):
                    pass
            widgets.append({"title": esc(name.replace("_", " ")),
                            "html": _render_value(env, pl)})
        if det_t is not None:
            body = det_t.render(group=group_name, entity_id=eid,
                                widgets=widgets)
        else:
            body = body_det_t.render(group=esc(group_name),
                                     entity_id=esc(str(eid)),
                                     widgets=widgets)
        page(os.path.join(detail_dir, f"{safe_filename(str(eid))}.html"),
             f"{group_name} {eid}", body, depth=1)

    # persist across the TWO actions (detail render + index collect) so
    # an expensive upstream transform DAG computes once, not twice
    results = results.persist()
    try:
        for r in payload.toLocalIterator():
            render_detail(r["__doc"])

        ids = []
        index_rows = []
        # streamed partition-at-a-time (not one big collect): only the
        # narrow idx_cols projection ever reaches the driver, and never
        # all partitions at once
        for r in (results.select(*idx_cols).orderBy(id_col)
                  .toLocalIterator()):
            d = r.asDict()
            ids.append(d[id_col])
            index_rows.append({c: d.get(c) for c in idx_cols})
    finally:
        results.unpersist()

    # __slug rides beside the escaped cells so the detail link
    # targets the sanitized FILE name while displaying the raw id
    esc_rows = [dict({c: esc(str(v)) if v is not None else ""
                      for c, v in row.items()},
                     __slug=safe_filename(str(row[idx_cols[0]])))
                for row in index_rows]
    if index_template:
        body = env.from_string(index_template).render(
            group=group_name, ids=ids, rows=index_rows, columns=idx_cols)
    else:
        body = body_index_t.render(group=esc(group_name), rows=esc_rows,
                                   columns=idx_cols)
    page(os.path.join(out_dir, "index.html"), group_name, body, depth=0)

    for name, content in (static_pages or {}).items():
        page(os.path.join(out_dir, f"{name}.html"), name, content, depth=0)

    return {"entities": len(ids), "out_dir": out_dir,
            "static_pages": sorted(static_pages or {})}
