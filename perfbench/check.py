"""Correctness checks, computed apart from the program under test.

* Query results: DuckDB runs each query's oracle SQL over the same parquet
  tables and the Spark result is compared with it at the repository's
  DuckDB-oracle parity (columns sorted by name, arrow type kinds equal,
  rows sorted by their text form, floats bit-equal, NULL != NaN).
* Workbooks: every output ``.xlsx`` is read back with the standard-library
  reader below (never with the engine's codec) and compared against the
  generator's model of cleaning and translation; row ``i`` of every sheet
  must reassemble into one expected row.
"""
import glob
import math
import os
import zipfile
import xml.etree.ElementTree as ET

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

# The P1-P10 cleaning pass over documents.text, as SQL: placeholders to
# NULL (exact match, before the trim), trim, exact-row dedup.
CLEAN_TEXT_SQL = """
SELECT DISTINCT trim(CASE WHEN text IN ('n/a', 'none', '-', 'null', '')
                          THEN NULL ELSE text END) AS text
FROM documents"""


# ------------------------------------------------------------ query results

def _kind(t):
    import pyarrow as pa
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{_kind(t.value_type)}>"
    return str(t)


def _text(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_text(x) for x in v) + "]"
    return str(v)


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows(tbl):
    cols = sorted(tbl.column_names)
    rows = list(zip(*[tbl.column(c).to_pylist() for c in cols])) if cols else []
    rows.sort(key=lambda r: tuple(_text(v) for v in r))
    return rows


def compare_tables(spark_tbl, duck_tbl):
    """None when equal at oracle parity, else a one-line reason."""
    sk = {f.name: _kind(f.type) for f in spark_tbl.schema}
    dk = {f.name: _kind(f.type) for f in duck_tbl.schema}
    if sorted(sk) != sorted(dk):
        return f"columns differ: {sorted(sk)} vs {sorted(dk)}"
    diff = {c: (sk[c], dk[c]) for c in sk if sk[c] != dk[c]}
    if diff:
        return f"type kinds differ: {diff}"
    s, d = _rows(spark_tbl), _rows(duck_tbl)
    if len(s) != len(d):
        return f"row count {len(s)} vs {len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i} differs: {a!r} vs {b!r}"
    return None


def check_queries(data_dir, results_dir, oracle):
    """Compare each written result with DuckDB; returns {op: reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for op, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results_dir, op, "*.parquet")))
        if not files:
            bad[op] = "no result written"
            continue
        spark_tbl = con.sql(f"SELECT * FROM read_parquet({files!r})").arrow()
        try:
            duck_tbl = con.sql(sql).arrow()
        except Exception as exc:  # noqa: BLE001 - any oracle error is a failed check
            bad[op] = f"oracle error: {exc}"
            continue
        why = compare_tables(spark_tbl, duck_tbl)
        if why:
            bad[op] = why
    return bad


# ----------------------------------------------------------------- workbooks

def _col(ref):
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + ord(ch.upper()) - 64
    return n - 1


def read_xlsx(path):
    """{sheet name: [rows]} where a row is a list of str / float / None."""
    z = zipfile.ZipFile(path)
    names = z.namelist()
    shared = []
    if "xl/sharedStrings.xml" in names:
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{NS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))
    rels = {}
    if "xl/_rels/workbook.xml.rels" in names:
        for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")):
            t = rel.get("Target")
            rels[rel.get("Id")] = t.lstrip("/") if t.startswith("/") else "xl/" + t
    out = {}
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    for i, sh in enumerate(wb.iter(f"{NS}sheet")):
        part = rels.get(sh.get(f"{RNS}id"), f"xl/worksheets/sheet{i + 1}.xml")
        rows = []
        for row in ET.fromstring(z.read(part)).iter(f"{NS}row"):
            cells = {}
            for j, c in enumerate(row.findall(f"{NS}c")):
                k = _col(c.get("r")) if c.get("r") else j
                t = c.get("t")
                if t == "inlineStr":
                    cells[k] = "".join(x.text or "" for x in c.iter(f"{NS}t"))
                elif t == "s":
                    cells[k] = shared[int(c.find(f"{NS}v").text)]
                elif t in ("str", "b"):
                    cells[k] = c.find(f"{NS}v").text
                else:
                    v = c.find(f"{NS}v")
                    cells[k] = None if v is None else float(v.text)
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(k) for k in range(width)])
        out[sh.get("name")] = rows
    return out


def _canon(v):
    return ("n", v) if isinstance(v, float) else ("s", v)


def check_workbook(path, expected, schema):
    """None when the workbook holds exactly the expected rows, else why."""
    try:
        sheets = read_xlsx(path)
    except Exception as exc:  # noqa: BLE001 - an unreadable file fails the check
        return f"unreadable: {exc}"
    if sorted(sheets) != sorted(schema):
        return f"sheets {sorted(sheets)} != {sorted(schema)}"
    n = len(expected)
    cols, parts = [], []
    for table in sorted(schema):
        rows = sheets[table]
        if not rows or rows[0] != sorted(schema[table]):
            return f"{table}: header {rows[:1]}"
        if len(rows) - 1 != n:
            return f"{table}: {len(rows) - 1} rows, expected {n}"
        cols += rows[0]
        parts.append([r + [None] * (len(rows[0]) - len(r)) for r in rows[1:]])
    got = sorted((tuple(_canon(v) for p in parts for v in p[i]) for i in range(n)),
                 key=repr)
    want = sorted((tuple(_canon(row[c]) for c in cols) for row in expected),
                  key=repr)
    for g, w in zip(got, want):
        if g != w:
            return f"rows do not reassemble: got {g} expected {w}"
    return None
