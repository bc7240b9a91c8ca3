"""Minimal XLSX (OOXML spreadsheet) reader on the stdlib only.

XLSX is a zip of XML parts (ECMA-376): xl/workbook.xml lists sheets,
xl/sharedStrings.xml interns strings, xl/worksheets/sheetN.xml holds
cells as <c r="A1" t="s"><v>0</v></c>.  This covers the subset the
reference's xlrd-based backend read: inline/shared strings, numbers,
booleans, dates (numeric + style heuristic skipped — dates come back
as serial numbers, callers retype).
"""
from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
REL_NS = {
    "r": "http://schemas.openxmlformats.org/package/2006/relationships",
}
RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"


def _sheet_target(z: zipfile.ZipFile, sheet: str | int) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    sheets = wb.findall(".//m:sheet", NS)
    if isinstance(sheet, int):
        node = sheets[sheet]
    else:
        node = next((s for s in sheets if s.get("name") == sheet), None)
        if node is None:
            raise KeyError(f"no sheet named {sheet!r}")
    rid = node.get(RID)
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.findall("r:Relationship", REL_NS):
        if rel.get("Id") == rid:
            t = rel.get("Target")
            return t if t.startswith("xl/") else f"xl/{t}"
    raise KeyError(f"no relationship for sheet {sheet!r}")


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall("m:si", NS):
        out.append("".join(t.text or "" for t in si.iter(f"{{{NS['m']}}}t")))
    return out


_COL = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    m = _COL.match(ref)
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def read_rows(path: str, sheet: str | int = 0) -> list[list]:
    """All rows of one sheet as ragged lists (None for gaps)."""
    with zipfile.ZipFile(path) as z:
        strings = _shared_strings(z)
        ws = ET.fromstring(z.read(_sheet_target(z, sheet)))
    rows = []
    for row in ws.findall(".//m:row", NS):
        cells: dict[int, object] = {}
        for c in row.findall("m:c", NS):
            ref, typ = c.get("r"), c.get("t", "n")
            v = c.find("m:v", NS)
            if typ == "inlineStr":
                t = c.find("m:is/m:t", NS)
                val = t.text if t is not None else None
            elif v is None or v.text is None:
                val = None
            elif typ == "s":
                val = strings[int(v.text)]
            elif typ == "b":
                val = v.text == "1"
            elif typ == "str":
                val = v.text
            else:  # 'n' numeric (dates arrive as serial numbers)
                val = float(v.text) if "." in v.text or "e" in v.text.lower() else int(v.text)
            idx = _col_index(ref) if ref else len(cells)
            cells[idx] = val
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    return rows
