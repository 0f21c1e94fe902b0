"""Report sink (reference S9, ``save-data/save_data_pdf_report.py``).

The reference renders 5 query results + 3 matplotlib charts into a
ReportLab PDF (``save_data_pdf_report.py:225-355`` charts,
``:480-745`` document assembly). Rendering is a driver-side concern (the
result tables are small aggregates): the distributed part ends at
``collect()``.

This module renders the same report structure natively — title page,
five sections (heading, summary paragraph, styled table), a horizontal
bar chart for category counts, a vertical bar chart for the top-5
employees, a line chart for the monthly series, and the date-imputation
warning box — through the dependency-free vector writer in
:mod:`sales_data_etl_pipeline_spark.pdfgen` (no reportlab/matplotlib
needed). A Markdown renderer remains for ``*.md`` paths.
"""

from __future__ import annotations

import logging
from collections.abc import Mapping

from pyspark.sql import DataFrame

from sales_data_etl_pipeline_spark import pdfgen
from sales_data_etl_pipeline_spark.pdfgen import A4, PdfCanvas, text_width

logger = logging.getLogger(__name__)

#: Section layout mirrors the reference report (save_data_pdf_report.py:480-745):
#: (query key, heading, summary, chart kind or None).
SECTIONS = (
    (
        "sales_by_employee",
        "Total de vendas por funcionário",
        "Volume total de vendas por funcionário — soma de todas as vendas "
        "associadas a cada colaborador, para identificar as maiores "
        "contribuições à receita.",
        None,
    ),
    (
        "average_ticket_by_product",
        "Ticket médio por produto",
        "Valor médio por venda de cada produto (total vendido dividido pelo "
        "número de transações) — aponta os produtos de maior valor agregado.",
        None,
    ),
    (
        "sales_by_category",
        "Quantidade de vendas por categoria de produto",
        "Distribuição das vendas entre as categorias de produto — apoia "
        "planejamento de estoque e estratégias de marketing.",
        "hbar",
    ),
    (
        "top5_employees",
        "Top 5 funcionários com maior volume de vendas",
        "Os cinco colaboradores com maior volume total de vendas — útil para "
        "reconhecimento e definição de metas.",
        "bar",
    ),
    (
        "sales_by_period",
        "Quantidade de vendas por período",
        "Evolução mensal das vendas — revela sazonalidade e tendências para "
        "o planejamento estratégico.",
        "line",
    ),
)

#: Reference's data-quality caveat box (save_data_pdf_report.py:700-709).
WARNING_TEXT = (
    "OBSERVAÇÃO IMPORTANTE: devido à imputação de datas ausentes na tabela "
    "de vendas (mediana por funcionário e global), os valores por período "
    "podem variar em até 15%."
)

# palette lifted from the reference's chart/table styling
_HEADER_FILL = (200 / 255, 221 / 255, 242 / 255)  # #c8ddf2
_HEADER_TEXT = (41 / 255, 128 / 255, 185 / 255)  # #2980b9
_CORAL = (240 / 255, 128 / 255, 128 / 255)
_DARKRED = (139 / 255, 0, 0)
_SKYBLUE = (135 / 255, 206 / 255, 235 / 255)
_NAVY = (0, 0, 128 / 255)
_GREEN = (0, 128 / 255, 0)
_GRID = (0.8, 0.8, 0.8)

_L, _R, _TOP, _BOT = 57.0, 57.0, 60.0, 60.0


class _Flow:
    """Cursor-based top-down layout over :class:`PdfCanvas` pages."""

    def __init__(self) -> None:
        self.c = PdfCanvas()
        self.width = A4[0] - _L - _R
        self.y = A4[1] - _TOP

    def page_break(self) -> None:
        self.c.new_page()
        self.y = A4[1] - _TOP

    def ensure(self, h: float) -> None:
        if self.y - h < _BOT:
            self.page_break()

    def heading(self, s: str, *, size: float = 14) -> None:
        self.ensure(size + 14)
        self.c.text(_L, self.y - size, s, size=size, bold=True)
        self.y -= size + 10

    def paragraph(
        self,
        s: str,
        *,
        size: float = 9.5,
        color=(0.2, 0.2, 0.2),
        boxed: bool = False,
    ) -> None:
        words, lines, cur = s.split(), [], ""
        for w in words:
            cand = f"{cur} {w}".strip()
            if text_width(cand, size) > self.width - (16 if boxed else 0):
                lines.append(cur)
                cur = w
            else:
                cur = cand
        if cur:
            lines.append(cur)
        lh = size * 1.35
        block_h = lh * len(lines) + (14 if boxed else 4)
        self.ensure(block_h)
        if boxed:
            self.c.rect(
                _L,
                self.y - block_h + 4,
                self.width,
                block_h,
                fill=(1.0, 0.97, 0.88),
                stroke=(0.8, 0.6, 0.2),
            )
            self.y -= 8
        for ln in lines:
            self.c.text(_L + (8 if boxed else 0), self.y - size, ln, size=size, color=color)
            self.y -= lh
        self.y -= 8 if boxed else 4

    def table(
        self, headers: list[str], rows: list[list[str]], *, row_h: float = 17.0
    ) -> None:
        n = len(headers)
        col_w = self.width / n
        self.ensure(row_h * 2)

        def _row(cells, *, header=False):
            self.ensure(row_h)
            y0 = self.y - row_h
            for i, cell in enumerate(cells):
                x0 = _L + i * col_w
                self.c.rect(
                    x0,
                    y0,
                    col_w,
                    row_h,
                    fill=_HEADER_FILL if header else (1, 1, 1),
                    stroke=(0, 0, 0),
                    line_width=0.7,
                )
                s = str(cell)
                while len(s) > 1 and text_width(s, 9) > col_w - 8:
                    s = s[:-2]
                if header:
                    x_text = x0 + (col_w - text_width(s, 9.5)) / 2
                    self.c.text(
                        x_text, y0 + 5, s, size=9.5, bold=True, color=_HEADER_TEXT
                    )
                else:
                    self.c.text(x0 + 4, y0 + 5, s, size=9)
            self.y = y0

        _row(headers, header=True)
        for r in rows:
            _row(r)
        self.y -= 12


def _chart_frame(flow: _Flow, title: str, w: float = 432.0, h: float = 252.0):
    """Reserve chart space; return (x0, y0) of the plot's bottom-left."""
    flow.ensure(h + 40)
    x0 = _L + (flow.width - w) / 2 + 40
    top = flow.y
    flow.c.text(
        _L + (flow.width - text_width(title, 12)) / 2,
        top - 12,
        title,
        size=12,
        bold=True,
    )
    y0 = top - h - 24
    flow.y = y0 - 44
    return x0, y0, w - 60, h - 30


def _fmt_val(v) -> str:
    return f"{v:,.0f}" if isinstance(v, float) else str(v)


def chart_hbar(flow: _Flow, labels, values, title: str) -> None:
    """Horizontal bars, first row on top (reference inverts the y axis)."""
    x0, y0, w, h = _chart_frame(flow, title)
    vmax = max(max(values), 1)
    n = len(labels)
    bh = h / max(n, 1)
    for i, (lab, v) in enumerate(zip(labels, values)):
        by = y0 + h - (i + 1) * bh
        bw = w * (v / vmax) * 0.88
        flow.c.rect(
            x0, by + bh * 0.12, bw, bh * 0.76, fill=_CORAL, stroke=_DARKRED
        )
        flow.c.text(
            x0 - 4 - text_width(str(lab), 8),
            by + bh / 2 - 3,
            str(lab),
            size=8,
        )
        flow.c.text(
            x0 + bw + 3, by + bh / 2 - 3, _fmt_val(v), size=8, bold=True
        )
    flow.c.line(x0, y0, x0, y0 + h)
    flow.c.line(x0, y0, x0 + w, y0)


def chart_bar(flow: _Flow, labels, values, title: str) -> None:
    """Vertical bars with 45°-rotated x labels and value captions."""
    x0, y0, w, h = _chart_frame(flow, title)
    vmax = max(max(values), 1)
    n = len(labels)
    bw = w / max(n, 1)
    for i, (lab, v) in enumerate(zip(labels, values)):
        bx = x0 + i * bw
        bh_ = h * (v / vmax) * 0.85
        flow.c.rect(
            bx + bw * 0.12, y0, bw * 0.76, bh_, fill=_SKYBLUE, stroke=_NAVY
        )
        cap = f"R$ {v:,.0f}" if isinstance(v, float) else str(v)
        flow.c.text(
            bx + bw / 2 - text_width(cap, 7.5) / 2,
            y0 + bh_ + 3,
            cap,
            size=7.5,
            bold=True,
        )
        flow.c.text(bx + bw * 0.35, y0 - 10, str(lab), size=8, angle_deg=-45)
    flow.c.line(x0, y0, x0, y0 + h)
    flow.c.line(x0, y0, x0 + w, y0)


def chart_line(flow: _Flow, labels, values, title: str) -> None:
    """Line chart with point markers, light grid, rotated x labels."""
    x0, y0, w, h = _chart_frame(flow, title)
    vmin, vmax = min(values), max(values)
    rng = (vmax - vmin) or 1
    lo, hi = vmin - rng * 0.10, vmax + rng * 0.25
    n = len(values)
    step = w / max(n - 1, 1)
    for frac in (0.25, 0.5, 0.75):
        gy = y0 + h * frac
        flow.c.line(x0, gy, x0 + w, gy, color=_GRID, line_width=0.5)
    pts = [
        (x0 + i * step, y0 + h * (v - lo) / (hi - lo))
        for i, v in enumerate(values)
    ]
    flow.c.polyline(pts, color=_GREEN, line_width=1.6)
    label_every = max(1, n // 24)
    for i, ((px, py), lab, v) in enumerate(zip(pts, labels, values)):
        flow.c.rect(px - 2, py - 2, 4, 4, fill=_GREEN, stroke=None)
        if i % label_every == 0:
            flow.c.text(
                px - text_width(str(v), 7) / 2, py + 5, str(v), size=7, bold=True
            )
            flow.c.text(px - 6, y0 - 10, str(lab), size=7, angle_deg=-45)
    flow.c.line(x0, y0, x0, y0 + h)
    flow.c.line(x0, y0, x0 + w, y0)


def _df_to_markdown(df: DataFrame, limit: int = 50) -> str:
    rows = df.limit(limit).collect()
    if not rows:
        return "_(sem dados)_\n"
    cols = df.columns
    out = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for r in rows:
        out.append("| " + " | ".join(str(v) for v in r) + " |")
    return "\n".join(out) + "\n"


def _cells(rows, cols) -> list[list[str]]:
    def _fmt(v):
        if isinstance(v, float):
            return f"{v:.2f}"
        return "" if v is None else str(v)

    return [[_fmt(r[c]) for c in cols] for r in rows]


def save_report(
    results: Mapping[str, DataFrame],
    path: str,
    *,
    title: str = "Relatório de Vendas",
    limit: int = 50,
) -> str:
    """Render the analytics results to ``path``.

    Returns the path written: a native PDF (default), or Markdown when
    ``path`` ends in ``.md``. Only ``limit`` rows per section are
    collected — the sink never pulls a full fact table to the driver.
    """
    if path.endswith(".md"):
        return _save_markdown(results, path, title=title, limit=limit)
    pdf_path = path if path.endswith(".pdf") else path + ".pdf"
    flow = _Flow()
    flow.c.text(
        _L + (flow.width - text_width(title, 18)) / 2,
        flow.y - 18,
        title,
        size=18,
        bold=True,
    )
    flow.y -= 36

    known = {k for k, *_ in SECTIONS}
    extra = [(k, k, "", None) for k in results if k not in known]
    for key, heading, summary, chart in list(SECTIONS) + extra:
        if key not in results:
            continue
        df = results[key]
        rows = df.limit(limit).collect()
        # reference page layout: the three charted sections
        # (categoria/top5/período) each open a fresh page
        if chart is not None:
            flow.page_break()
        flow.heading(heading)
        if summary:
            flow.paragraph(summary)
        if key == "sales_by_period":
            flow.paragraph(WARNING_TEXT, boxed=True)
        flow.table(list(df.columns), _cells(rows, df.columns))
        if chart and rows:
            cols = df.columns
            # label = the reference's display column when present, else the
            # first non-numeric column; value = its charted measure column,
            # else the last numeric column
            numeric = {
                c for c in cols if isinstance(rows[0][c], (int, float))
            }
            lcol = next(
                (c for c in ("nome", "categoria", "periodo") if c in cols),
                next((c for c in cols if c not in numeric), cols[0]),
            )
            vcol = next(
                (
                    c
                    for c in ("quantidade_vendas", "valor_total", "ticket_medio")
                    if c in numeric
                ),
                next((c for c in reversed(cols) if c in numeric), cols[-1]),
            )
            labels = [str(r[lcol]) for r in rows]
            values = [r[vcol] for r in rows]
            titles = {
                "hbar": "Vendas por Categoria de Produto",
                "bar": "Top 5 Funcionários - Volume de Vendas",
                "line": "Evolução de Vendas por Período",
            }
            {"hbar": chart_hbar, "bar": chart_bar, "line": chart_line}[chart](
                flow, labels, values, titles[chart]
            )
    flow.c.save(pdf_path)
    logger.info("report written: %s (%d pages)", pdf_path, len(flow.c.pages))
    return pdf_path


def _save_markdown(
    results: Mapping[str, DataFrame],
    path: str,
    *,
    title: str,
    limit: int = 50,
) -> str:
    parts = [f"# {title}\n"]
    headings = {k: h for k, h, *_ in SECTIONS}
    for key, heading, _s, _c in SECTIONS:
        if key in results:
            parts.append(f"\n## {heading}\n")
            parts.append(_df_to_markdown(results[key], limit))
    for key in results:
        if key not in headings:
            parts.append(f"\n## {key}\n")
            parts.append(_df_to_markdown(results[key], limit))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(parts))
    logger.info("report written: %s", path)
    return path
