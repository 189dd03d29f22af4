"""Seeded input generators for the kgforge benchmark.

Every generator is a pure function of its seed and size arguments and
writes only into the directory it is given. The program under test
receives nothing but the files written here.

- :func:`write_sf_dir` writes the TPC-H-column parquet tables that
  ``kgforge.fixtures`` derives transcripts and entities from. With
  ``replicas > 1`` every conversation is copied under new order keys, so
  the edges, the closure and the triples stay those of one replica.
- :func:`write_workbook` writes a Windchill-shaped ``.xlsx`` (parts
  sheets behind a 4-row banner, a tree-shaped ``Level``/``Number`` BOM
  with a small reused fastener pool, alternate and describe sheets) and
  returns the counts the import must reproduce, computed from the tree
  itself.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "bolt nut washer frame ski track belt gear shaft seat hood lamp brake "
    "pulley spring clamp bracket panel cable hose valve pump filter sensor"
).split()
_TYPES = ("STANDARD ANODIZED TIN", "SMALL PLATED STEEL", "LARGE BRUSHED COPPER")


# ------------------------------------------------------------ transcripts
def write_sf_dir(
    out: str,
    seed: int | tuple[int, ...],
    n_orders: int,
    n_parts: int,
    n_suppliers: int,
    replicas: int = 1,
) -> int:
    """Write ``lineitem``/``part``/``supplier`` parquet into ``out``.

    Orders carry 1-7 lines each with uniformly drawn part and supplier
    keys. ``seed`` is anything ``numpy.random.default_rng`` takes.
    Returns the number of lineitem rows (= transcript turns)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    pk = np.arange(1, n_parts + 1, dtype=np.int64)
    w = rng.integers(0, len(_WORDS), size=(n_parts, 2))
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{_WORDS[a]} {_WORDS[b]}" for a, b in w],
            "p_brand": [f"Brand#{x}" for x in rng.integers(11, 56, n_parts)],
            "p_type": [_TYPES[x] for x in rng.integers(0, len(_TYPES), n_parts)],
        }
    )
    pq.write_table(part, os.path.join(out, "part.parquet"))
    pq.write_table(
        pa.table({"s_suppkey": np.arange(1, n_suppliers + 1, dtype=np.int64)}),
        os.path.join(out, "supplier.parquet"),
    )

    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, n_parts + 1, n).astype(np.int64)
    suppkey = rng.integers(1, n_suppliers + 1, n).astype(np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    shipdate = day0 + rng.integers(0, 2000, n).astype("timedelta64[D]")

    reps = np.arange(replicas, dtype=np.int64)
    lineitem = pa.table(
        {
            "l_orderkey": (orderkey[None, :] + reps[:, None] * n_orders).ravel(),
            "l_partkey": np.tile(partkey, replicas),
            "l_suppkey": np.tile(suppkey, replicas),
            "l_linenumber": np.tile(linenumber, replicas),
            "l_quantity": np.tile(quantity, replicas),
            "l_shipdate": np.tile(shipdate, replicas),
        }
    )
    pq.write_table(lineitem, os.path.join(out, "lineitem.parquet"))
    return n * replicas


# ------------------------------------------------------------ workbook
def _col_name(i: int) -> str:
    name = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        name = chr(ord("A") + r) + name
    return name


def _sheet_xml(rows: list[list]) -> str:
    body = []
    for r_i, row in enumerate(rows, start=1):
        cells = []
        for c_i, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_name(c_i)}{r_i}"
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
        body.append(f'<row r="{r_i}">{"".join(cells)}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(body)}</sheetData></worksheet>'
    )


def _write_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    names = list(sheets)
    decl = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(names))
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f"{overrides}</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{decl}</sheets></workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f"{rels}</Relationships>",
        )
        for i, n in enumerate(names):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(sheets[n]))


_BANNER = [["Export report"], [], ["Generated by PLM"], []]
_PART_HEADER = ["Number", "Name", "Type", "Source", "View", "State", "Revision", "Container"]


def write_workbook(
    path: str,
    seed: int,
    n_assemblies: int,
    max_depth: int,
    n_fasteners: int,
    fasteners_per_assembly: int,
    n_alternates: int,
    n_describes: int,
) -> dict:
    """Write a Windchill-shaped workbook and return its expected counts.

    The BOM is a random tree of ``n_assemblies`` part numbers no deeper
    than ``max_depth`` (each node's parent is drawn among the nodes
    already placed above the depth limit), written depth-first as
    ``Level``/``Number`` rows. Every assembly also lists a few parts from
    a pool of ``n_fasteners`` shared fasteners, so fasteners have many
    parents while the closure stays about N x depth, not N^2.

    Returned keys: ``parts`` (distinct part numbers), ``edges``
    (distinct parent-child pairs), ``closure`` (distinct
    ancestor-descendant pairs), ``alternates``, ``describes`` and
    ``bom_rows``."""
    rng = np.random.default_rng(seed)
    parent = np.full(n_assemblies, -1, dtype=np.int64)
    depth = np.zeros(n_assemblies, dtype=np.int64)
    for i in range(1, n_assemblies):
        # attach to a recent node (deep chains), falling back to the
        # root's subtree when that node sits at the depth limit
        p = int(rng.integers(max(0, i - 64), i))
        while depth[p] >= max_depth - 1:
            p = int(parent[p])
        parent[i] = p
        depth[i] = depth[p] + 1
    children: list[list[int]] = [[] for _ in range(n_assemblies)]
    for i in range(1, n_assemblies):
        children[parent[i]].append(i)
    fast = [
        rng.choice(n_fasteners, size=fasteners_per_assembly, replace=False).tolist()
        if children[i]
        else []
        for i in range(n_assemblies)
    ]

    def asm_no(i: int) -> str:
        return f"A{i:07d}"

    def fst_no(j: int) -> str:
        return f"F{j:05d}"

    bom_rows: list[list] = _BANNER + [["Level", "Number", "Quantity"]]
    stack = [(0, 0)]
    while stack:
        node, lvl = stack.pop()
        bom_rows.append([lvl, asm_no(node), 1])
        for j in fast[node]:
            bom_rows.append([lvl + 1, fst_no(j), int(rng.integers(1, 9))])
        for c in reversed(children[node]):
            stack.append((c, lvl + 1))

    # expected counts, from the tree itself
    edges = {(asm_no(int(parent[i])), asm_no(i)) for i in range(1, n_assemblies)}
    edges |= {(asm_no(i), fst_no(j)) for i in range(n_assemblies) for j in fast[i]}
    anc: list[tuple[int, ...]] = [()] * n_assemblies
    n_closure = 0
    fastener_anc: dict[int, set[int]] = {}
    for i in range(n_assemblies):  # parents precede children
        if i:
            anc[i] = anc[parent[i]] + (int(parent[i]),)
            n_closure += len(anc[i])
        for j in fast[i]:
            fastener_anc.setdefault(j, set()).update(anc[i] + (i,))
    n_closure += sum(len(s) for s in fastener_anc.values())

    numbers = [asm_no(i) for i in range(n_assemblies)] + [fst_no(j) for j in range(n_fasteners)]
    views = ("Design", "Manufacturing", "Service")
    states = ("RELEASED", "DESIGN", "INPLANNING")

    def part_row(k: int, no: str) -> list:
        return [
            no,
            f"{_WORDS[k % len(_WORDS)]} {no}",
            _TYPES[k % len(_TYPES)],
            "Make" if k % 2 else "Buy",
            views[k % 3],
            states[k % 3],
            chr(65 + k % 5),
            f"container-{k % 7}",
        ]

    half = len(numbers) // 2
    mech = _BANNER + [_PART_HEADER] + [part_row(k, no) for k, no in enumerate(numbers[:half])]
    wt = _BANNER + [_PART_HEADER] + [
        part_row(k, no) for k, no in enumerate(numbers[half:], start=half)
    ]
    alt_idx = rng.choice(len(numbers), size=(n_alternates, 2))
    alternates = {(numbers[a], numbers[b]) for a, b in alt_idx if a != b}
    alt_sheet = _BANNER + [["Child Part Number", "Replacement Part Number", "Replacement Type"]] + [
        [a, b, "alternate"] for a, b in sorted(alternates)
    ]
    desc_idx = rng.integers(0, len(numbers), n_describes)
    describes = {(f"DOC-{d:06d}", numbers[p]) for d, p in enumerate(desc_idx)}
    desc_sheet = _BANNER + [
        ["Document Number", "Part Number", "Document Revision", "Document Owning Organization"]
    ] + [[d, p, "A", "org-1"] for d, p in sorted(describes)]

    _write_xlsx(
        path,
        {
            "MechanicalPart-Sheet": mech,
            "WTPart-Sheet": wt,
            "BOM-Sheet": bom_rows,
            "WTPartAlternateLink-Sheet": alt_sheet,
            "WTPartDescribeLink-Sheet": desc_sheet,
        },
    )
    return {
        "parts": len(numbers),
        "edges": len(edges),
        "closure": n_closure,
        "alternates": len(alternates),
        "describes": len(describes),
        "bom_rows": len(bom_rows) - len(_BANNER) - 1,
    }
