"""Seeded input generators for the benchmark.

Two families:

* ``tables(out, sf, seed)`` writes the ten parquet tables the operator
  registries read (``region`` .. ``embeddings``), with the column names,
  types and value shapes of the engine's test tables: TPC-H-like keys and
  prices, an ``events`` stream over January 2024, a 30-word multilingual
  ``documents`` corpus in which 5% of documents are a copy of another
  with `` dup`` appended, and 64-dim label-clustered ``embeddings``.
* ``workbooks(out, seed, k, rows)`` writes ``k`` messy multilingual source
  workbooks (alternating ``.csv`` and ``.xlsx``) modelled on the engine's
  ``messy_source.csv`` fixture, plus the translation dictionary and the
  generator's own model of what the ETL pipeline must write for each.
"""
import json
import os
import zipfile
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, end):
    span = (np.datetime64(end) - np.datetime64(start)).astype("timedelta64[D]")
    d = rng.integers(0, span.astype(int) + 1, n).astype("timedelta64[D]")
    return (np.datetime64(start) + d).astype("datetime64[us]")


def tables(out, sf, seed):
    """Write the ten tables at scale factor ``sf`` into directory ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    def bal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    nc, ns, np_, no = (int(150000 * sf), int(10000 * sf), int(200000 * sf),
                       int(1500000 * sf))
    nl, ne = int(6000000 * sf), int(1000000 * sf)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": bal(nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": bal(ns)})
    adj = ["blue", "red", "hot", "new", "large", "small", "green", "old",
           "cold", "dark", "light", "tiny", "huge"]
    noun = ["ring", "bolt", "anvil", "widget", "rod"]
    pk = np.arange(np_)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 13, np_), rng.integers(0, 5, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    qty = rng.integers(1, 51, nl).astype(float)
    lpart = rng.integers(0, np_, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (lpart % 1000) / 10)
                                    * rng.uniform(0.9, 2.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    jan = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": jan + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), ne), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = max(500, int(50000 * sf))
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = 2000 if sf >= 0.1 else 500
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# --------------------------------------------------------------- workbooks

# Foreign source value -> English, per translated column. Extends the
# engine's translation_map.json fixture; every foreign value carries a
# non-ASCII letter, so any sample the language detector sees is foreign.
DICTIONARY = {
    "emission_source": {
        "Diesel für Firmenwagen": "Diesel for company cars",
        "Strom für Büros": "Electricity for offices",
        "Fernwärme Gebäude": "District heating buildings",
        "Flüge Inland": "Domestic flights",
        "Flüge Ausland": "International flights",
        "Électricité du réseau": "Grid electricity",
        "Gaz naturel chaudière": "Natural gas boiler",
        "Déchets ménagers": "Household waste",
        "Vuelos en avión económico": "Economy flights",
        "Calefacción de gasóleo": "Heating oil",
        "Tjänsteresor med tåg å": "Business trips by train",
        "Milersättning": "Mileage allowance",
    },
    "category_name": {
        "Geschäftsreisen": "Business travel",
        "Gebäudeenergie": "Building energy",
        "Fuhrpark und Logistik": "Fleet and logistics",
        "Abfälle": "Waste",
        "Énergie achetée": "Purchased energy",
        "Déplacements professionnels": "Business travel",
        "Transporte por carretera ñ": "Road transport",
        "Resor och boende å": "Travel and lodging",
    },
}

COMPANIES = ["Deutsche Bahn", "Aral Autohof", "Stadtwerke Nord",
             "Acme Logistics", "Nordic Energy", "Iberia Fuels"]
COUNTRIES = [("Germany", "DE"), ("France", "FR"), ("Spain", "ES"),
             ("Sweden", "SE"), ("Austria", "AT")]
SCOPES = ["Scope 1", "Scope 2", "Scope 3"]
SUBCATEGORIES = ["air travel", "rail travel", "company cars", "heating",
                 "electricity", "waste disposal", "hotel stays"]
UNITS = ["kWh", "litre", "km", "kg", "night"]
NOTES = ["taxi to the airport", "train to the client site",
         "hotel for the conference", "fuel for the van",
         "heating of the main office", "waste collection at the depot"]
CODES = ["x", "y", "z", "w"]
PLACEHOLDERS_NULLED = ["n/a", "-", "null", "none"]
PLACEHOLDERS_KEPT = ["N/A", " - "]

# Destination star schema (nine tables). Every source header normalizes to
# exactly one destination column, so the name-similarity mapping is exact.
GHG = {
    "DIM_Scopes": ["scope_name"],
    "DIM_ActivityCategory": ["category_name"],
    "DIM_ActivitySubCategory": ["subcategory_name"],
    "DIM_ActivityEmissionSource": ["emission_source"],
    "DIM_Country": ["country_code", "country_name"],
    "DIM_Company": ["company_name"],
    "DIM_Date": ["activity_date"],
    "FACT_EmissionActivityData": ["activity_amount", "activity_id",
                                  "emission_factor"],
    "DIM_Unit": ["unit_name"],
}

# (raw header, normalized name, kind); kinds drive value generation.
COLUMNS = [
    (" Activity ID ", "activity_id", "id"),
    ("Scope Name", "scope_name", "scope"),
    ("Col#1!", "col1", "code"),
    (None, "unnamed", "junk"),              # blank header -> dropped (P3)
    ("empty_col", "empty_col", "empty"),    # all null -> dropped (P2)
    ("Category Name", "category_name", "category"),
    ("Subcategory Name ", "subcategory_name", "subcategory"),
    ("Emission Source", "emission_source", "source"),
    (" Country Name ", "country_name", "country"),
    ("COUNTRY_CODE", "country_code", "ccode"),
    ("country name", "country_name", "country_dup"),  # dup name (P4)
    ("Company Name!", "company_name", "company"),
    ("Activity Date", "activity_date", "date"),
    ("Activity Amount", "activity_amount", "amount"),
    ("Emission Factor", "emission_factor", "factor_text"),
    ("Unit Name", "unit_name", "unit"),
    ("Notes", "notes", "notes"),
]


def _value(rng, kind, i):
    """Raw cell text for column ``kind`` of data row ``i`` (None = empty)."""
    r = rng.random()
    if kind == "id":
        return str(1000 + i)
    if kind == "scope":
        return rng.choice(SCOPES)
    if kind == "code":
        return rng.choice(CODES)
    if kind == "junk":
        return "junkcol" if r < 0.3 else None
    if kind == "empty":
        return None
    if kind == "category":
        v = rng.choice(sorted(DICTIONARY["category_name"]))
        return f" {v} " if r < 0.2 else v
    if kind == "subcategory":
        return rng.choice(SUBCATEGORIES)
    if kind == "source":
        if r < 0.06:
            return rng.choice(PLACEHOLDERS_NULLED)
        if r < 0.09:
            return rng.choice(PLACEHOLDERS_KEPT)
        return rng.choice(sorted(DICTIONARY["emission_source"]))
    if kind in ("country", "country_dup"):
        return rng.choice(COUNTRIES)[0]
    if kind == "ccode":
        return rng.choice(COUNTRIES)[1]
    if kind == "company":
        v = rng.choice(COMPANIES)
        return f"  {v}" if r < 0.15 else v
    if kind == "date":
        if r < 0.08:
            return "junk"
        if r < 0.12:
            return None
        d = datetime(2024, 1, 1) + timedelta(days=int(rng.integers(0, 365)))
        if r < 0.5:
            return d.strftime("%Y-%m-%d")
        return (d + timedelta(hours=int(rng.integers(0, 24)))).strftime(
            "%Y-%m-%d %H:%M:%S")
    if kind == "amount":
        v = f"{rng.integers(1, 5000)}.{rng.integers(0, 100):02d}"
        return f" {v} " if r < 0.2 else v
    if kind == "factor_text":
        if r < 0.05:
            return "0,25"
        return f"{rng.integers(0, 3)}.{rng.integers(0, 1000):03d}"
    if kind == "unit":
        return rng.choice(UNITS)
    if kind == "notes":
        return rng.choice(NOTES)
    raise ValueError(kind)


def _clean_value(kind, raw, numeric_cols):
    """The expected cleaned value of one raw cell (P5, P6, P7, P8)."""
    if raw is None:
        return None
    if kind == "id":
        return float(int(raw))
    if raw in PLACEHOLDERS_NULLED or raw == "":
        return None
    v = raw.strip()
    if kind in numeric_cols:
        return float(v)
    if kind == "date":
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return datetime.strptime(v, fmt).strftime("%Y-%m-%d %H:%M:%S")
            except ValueError:
                pass
        return None
    return v


def _model(rows):
    """Expected output rows: P1-P9 cleaning, translation, the second
    cleaning pass of the mapping stage, keyed by destination column."""
    kinds = {k: i for i, (_, _, k) in enumerate(COLUMNS)}
    numeric = {"amount"}
    if all(r[kinds["factor_text"]] is None or
           _is_float(r[kinds["factor_text"]].strip()) for r in rows):
        numeric.add("factor_text")
    kept = []  # (normalized name, kind, index) in output order, keep-first
    seen = set()
    for i, (_, name, kind) in enumerate(COLUMNS):
        if kind in ("junk", "empty") or name in seen:
            continue
        seen.add(name)
        kept.append((name, kind, i))
    out = {tuple(_clean_value(k, r[i], numeric) for _, k, i in kept)
           for r in rows}
    names = [n for n, _, _ in kept]
    translated = set()
    for row in out:
        d = dict(zip(names, row))
        for c, m in DICTIONARY.items():
            if d[c] is not None:
                d[c] = m.get(d[c], d[c])
        # The mapping stage cleans again, as the reference's mapping entry
        # point cleans the translated output it loads (SURVEY.md, EP3 step
        # 2): a value the first pass trimmed into a placeholder
        # (" - " -> "-") is nulled by the second.
        translated.add(tuple(None if v in PLACEHOLDERS_NULLED else v
                             for v in (d[n] for n in names)))
    dest = {c for cols in GHG.values() for c in cols}
    return [{n: v for n, v in zip(names, row) if n in dest}
            for row in sorted(translated, key=repr)]


def _is_float(s):
    try:
        float(s)
        return True
    except ValueError:
        return False


def _csv_cell(v):
    if v is None:
        return ""
    if any(c in v for c in ',"\n') or v != v.strip():
        return '"' + v.replace('"', '""') + '"'
    return v


def _xlsx_cell(ref, v):
    if v is None:
        return ""
    if _is_float(v) and v == v.strip() and not v.startswith("0,"):
        return f'<c r="{ref}"><v>{v}</v></c>'
    esc = (v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))
    sp = ' xml:space="preserve"' if v != v.strip() else ""
    return f'<c r="{ref}" t="inlineStr"><is><t{sp}>{esc}</t></is></c>'


def _col_ref(i):
    s, n = "", i + 1
    while n:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """One-sheet workbook written with the standard library only."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006"
    xml = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
           f'<worksheet xmlns="{ns}"><sheetData>']
    for r, vals in enumerate([header] + rows, start=1):
        cells = "".join(_xlsx_cell(f"{_col_ref(i)}{r}", v)
                        for i, v in enumerate(vals))
        xml.append(f'<row r="{r}">{cells}</row>')
    xml.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{pkg}/content-types">'
                   '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/>'
                   '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
                   '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                   '</Types>')
        z.writestr("_rels/.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
                   f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
                   '</Relationships>')
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}">'
                   '<sheets><sheet name="source" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}/relationships">'
                   f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
                   '</Relationships>')
        z.writestr("xl/worksheets/sheet1.xml", "".join(xml))


def workbooks(out, seed, k, rows):
    """Write ``k`` source workbooks of ``rows`` data rows (plus exact
    duplicates) and return ``[(path, expected rows)]``; also writes the
    translation dictionary and destination schema as JSON."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    result = []
    for w in range(k):
        body = [[_value(rng, kind, i) for _, _, kind in COLUMNS]
                for i in range(rows)]
        for _ in range(rows // 10):  # exact duplicate rows (P9)
            body.insert(int(rng.integers(0, len(body))),
                        list(body[int(rng.integers(0, len(body)))]))
        ext = "csv" if w % 2 == 0 else "xlsx"
        path = os.path.join(out, f"source_{w}.{ext}")
        if ext == "csv":
            header = [h if h is not None else "Unnamed: 3" for h, _, _ in COLUMNS]
            with open(path, "w", encoding="utf-8") as fh:
                for vals in [header] + body:
                    fh.write(",".join(_csv_cell(v) for v in vals) + "\n")
        else:
            write_xlsx(path, [h for h, _, _ in COLUMNS], body)
        result.append((path, _model(body)))
    with open(os.path.join(out, "dictionary.json"), "w", encoding="utf-8") as fh:
        json.dump(DICTIONARY, fh, ensure_ascii=False)
    with open(os.path.join(out, "schema.json"), "w", encoding="utf-8") as fh:
        json.dump(GHG, fh)
    return result

