"""Deterministic generator of messy month-column sales sheets.

Each sheet is a wide CSV in the shape the template pipeline exists for: one
row per (article, customer) with twelve month columns of order totals,
orders-shaped (TPC-H `o_totalprice` range and 2-decimal cents). The dirt is
the kind real exports carry:

- padded and oddly cased header cells, month headers in several date styles;
- thousands separators (quoted `12,345.67`, or `12 345.67`), padded cells;
- `n/a`, `N/A` and `-` cells (numeric parse failures) and empty cells;
- on every other sheet, one to three title rows above the header (template
  `header_row` > 0, which takes the zipWithIndex path of
  `TemplateReader.readCsv`).

Some sheets carry more than 10% parse failures, so the pipeline must
quarantine them. Next to every sheet goes its `.df-template.json`.

The generator also returns its own truth per sheet (rows the pipeline must
write, their summed amount, and whether the sheet must be quarantined); the
benchmark checks the program's outputs against it. The same seed gives
byte-identical files.
"""
import json
import os
import random

FILES = 4
ROWS = 300
MONTHS = 12
QUARANTINED = 1      # sheets with > 10% parse failures
BAD_SHARE = 0.15     # their failure share; the others stay at 2%
GOOD_SHARE = 0.02
THRESHOLD = 0.10     # graft.plans.Pipeline's default quarantine threshold

SKU_HEADERS = ["Article SKU", "  Article SKU ", "article sku", "SKU "]
CUST_HEADERS = ["Customer", " Cust. key", "CUSTOMER  ", "customer id"]
NA_CELLS = ["n/a", "N/A", "-"]


def month_header(year, month, style):
    return [f"{year}-{month:02d}-01", f"{year}/{month:02d}/01",
            f"{month:02d}/01/{year}", f"01.{month:02d}.{year}"][style]


def amount_cell(cents, style):
    whole, frac = divmod(cents, 100)
    if style == 0:
        return f"{whole}.{frac:02d}"
    if style == 1:
        return f'"{whole:,}.{frac:02d}"'
    if style == 2:
        return f"{whole:,}.{frac:02d}".replace(",", " ")
    return f"  {whole}.{frac:02d} "


def sheet(rng, index, bad, titled, rows):
    """One sheet: (csv text, template dict, truth dict)."""
    year = 2019 + index % 5
    style = rng.randrange(4)
    sku_h = SKU_HEADERS[rng.randrange(len(SKU_HEADERS))]
    cust_h = CUST_HEADERS[rng.randrange(len(CUST_HEADERS))]
    months = [(" " * rng.randrange(3)) + month_header(year, m, style)
              + (" " * rng.randrange(2)) for m in range(1, MONTHS + 1)]
    header = [sku_h, cust_h] + months
    width = len(header)

    cells = rows * MONTHS
    n_fail = int(cells * (BAD_SHARE if bad else GOOD_SHARE))
    fail_at = set(rng.sample(range(cells), n_fail))
    n_empty = cells // 50
    empty_at = set(rng.sample(sorted(set(range(cells)) - fail_at), n_empty))

    lines = []
    n_title = 1 + rng.randrange(3) if titled else 0
    for t in range(n_title):
        title = [f"Sales report {year} part {t + 1}", f"provider {index:02d}"]
        lines.append(",".join(title + [""] * (width - len(title))))
    lines.append(",".join(header))
    total_cents = 0
    for r in range(rows):
        sku = f"SKU-{rng.randrange(100000):05d}"
        if rng.random() < 0.1:
            sku = f" {sku}  "
        row = [sku, str(1 + rng.randrange(1500))]
        for m in range(MONTHS):
            c = r * MONTHS + m
            if c in fail_at:
                row.append(NA_CELLS[rng.randrange(len(NA_CELLS))])
            elif c in empty_at:
                row.append("")
            else:
                cents = rng.randrange(90_000, 50_000_000)
                total_cents += cents
                row.append(amount_cell(cents, rng.randrange(4)))
        lines.append(",".join(row))
    csv = "\n".join(lines) + "\n"

    template = {
        "template_version": 3,
        "source_type": "csv",
        "header_row": n_title,
        "delimiter": ",",
        "columns": header,
        "column_mappings": {sku_h: "article_sku", cust_h: "customer_id"},
        "provider_name": f"provider_{index:02d}",
        "trim_strings": True,
        "strip_thousands": True,
        "unpivot": True,
        "var_name": "report_date",
        "value_name": "sales_amount",
    }
    quarantined = n_fail / cells > THRESHOLD
    truth = {"rows": 0 if quarantined else cells,
             "cells": cells,
             "amount_cents": 0 if quarantined else total_cents,
             "quarantined": quarantined,
             "title_rows": n_title}
    return csv, template, truth


def generate(out_dir, seed, files=FILES, rows=ROWS):
    """Write the sheets and templates into `out_dir`; return the truth map."""
    rng = random.Random(seed)
    # every seed gets the same kinds of sheet in the same places, so the
    # work per pass stays alike: even sheets carry title rows, and the
    # QUARANTINED sheets from sheet 1 on must be quarantined
    bad = set(range(1, 1 + QUARANTINED))
    titled = set(range(0, files, 2))
    os.makedirs(out_dir, exist_ok=True)
    truth = {}
    for i in range(files):
        stem = f"sales_{i:02d}"
        csv, template, t = sheet(rng, i, i in bad, i in titled, rows)
        with open(os.path.join(out_dir, stem + ".csv"), "w",
                  encoding="utf-8", newline="") as f:
            f.write(csv)
        with open(os.path.join(out_dir, stem + ".df-template.json"), "w",
                  encoding="utf-8", newline="") as f:
            f.write(json.dumps(template, indent=2, sort_keys=True) + "\n")
        truth[stem + ".csv"] = t
    return truth
