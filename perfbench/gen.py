"""Seeded input generator for the benchmark workloads.

Everything the package sees is written here, from ``random.Random(seed)``
alone, so one seed always gives byte-identical files. Next to the files the
generator writes ``manifest.json``: input rows/bytes/files, each file's
expected outcome (success or the expected taxonomy error, inserts, updates,
unchanged, DLQ rows, run-log rows), and the expected final row counts and
business-column digests of every table. The benchmark compares the
package's results against the manifest; the package never reads it.

Usage: python3 perfbench/gen.py --seed 1 --out DIR [--scale 1.0]
"""

from __future__ import annotations

import argparse
import datetime as dt
import gzip
import hashlib
import json
import os
import random
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

BULK_ROWS = 10_000  # rows of each ingest bulk file at scale 1
FILE_ROWS = (150, 300)  # row range of each small drop-directory file
DOCS, PARTS, ORDERS, VECTORS = 250, 500, 4000, 250  # curation tables at scale 1
CURATION_QUERIES = {  # suite query of the curation workload -> the table it reads
    "fuzzy_match_parts": "part",
    "knn_join_lsh": "embeddings",
    "curation_text_signals": "documents",
    "packed_sequences_unigram": "documents",
    "hll_index_stream": "orders",
}

# stages one file logs before its error surfaces (plans/pipeline.py order:
# check_if_processed, [archive_file], read_data, validate_data, write_data,
# audit_data, publish_data, cleanup_dlq_records)
_FAIL_STAGE = {
    "DuplicateFileError": "check_if_processed",
    "MissingColumnsError": "read_data",
    "ValidationThresholdExceededError": "write_data",
    "GrainValidationError": "audit_data",
    "AuditFailedError": "audit_data",
}
_STAGES = ["check_if_processed", "archive_file", "read_data", "validate_data",
           "write_data", "audit_data", "publish_data", "cleanup_dlq_records"]


def log_rows(error_type: str | None, archived: bool) -> int:
    stages = _STAGES if archived else [s for s in _STAGES if s != "archive_file"]
    return len(stages) if error_type is None else stages.index(_FAIL_STAGE[error_type]) + 1


def row_digest(values) -> int:
    """Order-insensitive digest term of one row's canonical business values
    (None renders as ``\\N``); a table's digest is the sum over its rows."""
    s = "|".join("\\N" if v is None else v for v in values)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# value pools
# ---------------------------------------------------------------------------

_FIRST = ["Ana", "Ben", "Cara", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun", "Kai", "Lea"]
_LAST = ["Stone", "Rivera", "Okafor", "Chen", "Novak", "Silva", "Berg", "Ito", "Khan", "Moreau"]
_COMPANY = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Stark", "Wayne"]
_CITY = ["Lisbon", "Osaka", "Lagos", "Quito", "Oslo", "Perth", "Tunis", "Hanoi", "Austin"]
_COUNTRY = ["Portugal", "Japan", "Nigeria", "Ecuador", "Norway", "Australia", "Tunisia"]
_CATEGORY = ["tools", "garden", "kitchen", "toys", "office"]
_ACCOUNT = [("1000", "Cash"), ("1200", "Receivables"), ("2000", "Payables"), ("4000", "Revenue")]
_WORDS = ("a the row key agg scan slow fast table value part hash merge batch spark line "
          "sort window order data column join small customer query big group filter "
          "stream vector").split()
_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
_ADJ = ["small", "red", "blue", "cold", "hot", "large", "new", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]


def _date(r: random.Random) -> dt.date:
    return dt.date(2020, 1, 1) + dt.timedelta(days=r.randrange(1500))


# ---------------------------------------------------------------------------
# customers (FIXTURES.md section 4): header aliases, phone/email cleaners
# ---------------------------------------------------------------------------

CUSTOMER_HEADERS = ["Customer Id", "First Name", "Last Name", "Company", "City", "Country",
                    "Phone 1", "Phone 2", "Email", "Subscription Date", "Website"]


def _phone(r: random.Random) -> str:
    a, b, c = r.randrange(200, 999), r.randrange(100, 999), r.randrange(1000, 9999)
    return r.choice([f"+1-{a}-{b}-{c}", f"({a}) {b}-{c}", f"001.{a}.{b}.{c}x{r.randrange(99)}"])


def _customer(r: random.Random, cid: str) -> list:
    first, last = r.choice(_FIRST), r.choice(_LAST)
    return [cid, first, last, r.choice(_COMPANY), r.choice(_CITY), r.choice(_COUNTRY),
            _phone(r), _phone(r) if r.random() < 0.8 else None,
            f" {first}.{last}{r.randrange(999)}@Example.COM ",
            _date(r).isoformat(), f"https://www.{last.lower()}{r.randrange(99)}.com"]


def _customer_clean(raw: list) -> tuple:
    def phone(v):
        return None if v is None else "".join(ch for ch in v if ch.isdigit() or ch == "+")
    return (raw[0], raw[1], raw[2], raw[3], raw[4], raw[5], phone(raw[6]), phone(raw[7]),
            raw[8].strip().lower(), raw[9], raw[10])


def _customer_invalid(r: random.Random, cid: str) -> list:
    raw = _customer(r, cid)
    if r.random() < 0.5:
        raw[8] = raw[8].replace("@", " at ")  # fails the email check
    else:
        raw[6] = "+" + "9" * 30  # cleaned phone over max_length 25
    return raw


def _write_customers(path: str, rows: list[list], drop: str | None = None) -> None:
    cols = {h: [row[i] for row in rows] for i, h in enumerate(CUSTOMER_HEADERS) if h != drop}
    pq.write_table(pa.table({h: pa.array(v, pa.string()) for h, v in cols.items()}), path)


# ---------------------------------------------------------------------------
# transactions (section 1, CSV + gzip), products (section 2, Excel),
# ledger_entries (section 3, JSON with array path)
# ---------------------------------------------------------------------------

SALES_HEADERS = ["transaction_id", "customer_id", "product_sku", "quantity", "unit_price",
                 "total_amount", "sale_date", "sales_rep"]
PRODUCT_HEADERS = ["SKU", "Product Name", "Category", "Price", "Stock Qty", "Supplier", "Last Date"]


def _sale(r: random.Random, key: int) -> list:
    qty, price = r.randrange(1, 20), r.randrange(100, 99999) / 100
    return [f"TXN{key:08d}", f"CUST{r.randrange(5000):05d}", f"SKU-{r.randrange(900)}",
            str(qty), f"{price:.2f}", f"{qty * price:.2f}", _date(r).isoformat(),
            r.choice(_FIRST).lower()]


def _sale_clean(raw: list) -> tuple:
    return (raw[0], raw[1], raw[2], raw[3], f"{float(raw[4]):.2f}", f"{float(raw[5]):.2f}",
            raw[6], raw[7])


def _product(r: random.Random, key: int) -> list:
    serial = (_date(r) - dt.date(1899, 12, 30)).days
    return [f"SKU{key:07d}", f"{r.choice(_ADJ)} {r.choice(_NOUN)}", r.choice(_CATEGORY),
            r.randrange(100, 50000) / 100, r.randrange(0, 500), r.choice(_COMPANY), serial]


def _product_clean(raw: list) -> tuple:
    day = dt.date(1899, 12, 30) + dt.timedelta(days=raw[6])
    return (raw[0], raw[1], raw[2], f"{raw[3]:.2f}", str(raw[4]), raw[5], day.isoformat())


def _ledger(r: random.Random, key: int) -> dict:
    code, name = r.choice(_ACCOUNT)
    debit = r.randrange(100, 900000) / 100
    return {"entry_id": key, "account_code": code, "account_name": name, "debit_amount": debit,
            "credit_amount": None if r.random() < 0.5 else r.randrange(100, 9000) / 100,
            "description": " ".join(r.choice(_WORDS) for _ in range(6)),
            "transaction_date": _date(r).isoformat(), "reference_number": f"REF{r.randrange(10**6):06d}"}


def _ledger_clean(raw: dict) -> tuple:
    def money(v):
        return None if v is None else f"{v:.2f}"
    return (str(raw["entry_id"]), raw["account_code"], raw["account_name"],
            money(raw["debit_amount"]), money(raw["credit_amount"]), raw["description"],
            raw["transaction_date"], raw["reference_number"])


def _csv_text(headers: list[str], rows: list[list]) -> str:
    return "\n".join([",".join(headers)] + [",".join(row) for row in rows]) + "\n"


def _write_xlsx(path: str, sheet: str, rows: list[list]) -> None:
    """Minimal one-sheet .xlsx: inline strings and numbers, fixed zip times."""
    def col(i):
        s = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            s = chr(65 + rem) + s
        return s

    def cell(ref, v):
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    body = "".join(
        f'<row r="{ri + 1}">' + "".join(cell(f"{col(ci)}{ri + 1}", v) for ci, v in enumerate(row))
        + "</row>" for ri, row in enumerate(rows))
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/'
            'package/2006/content-types"><Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" '
            'ContentType="application/xml"/></Types>'),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats'
            f'.org/package/2006/relationships"><Relationship Id="rId1" Type="{rel}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel}"><sheets>'
            f'<sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats'
            f'.org/package/2006/relationships"><Relationship Id="rId1" Type="{rel}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>{body}'
            "</sheetData></worksheet>"),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), text)


# ---------------------------------------------------------------------------
# ingest inputs
# ---------------------------------------------------------------------------


class _Table:
    """Expected state of one target table: grain -> canonical business row."""

    def __init__(self):
        self.rows: dict = {}

    def apply(self, clean_rows: list[tuple]) -> tuple[int, int, int]:
        ins = upd = same = 0
        for row in clean_rows:
            old = self.rows.get(row[0])
            if old is None:
                ins += 1
            elif old != row:
                upd += 1
            else:
                same += 1
            self.rows[row[0]] = row
        return ins, upd, same

    def expect(self) -> dict:
        return {"rows": len(self.rows),
                "digest": str(sum(row_digest(v) for v in self.rows.values()))}


def _redeliver(r: random.Random, old: list, remake, key_of, n_changed: int, n_same: int) -> list:
    """``n_changed`` rows of ``old`` re-made under their own grain (new
    values) and ``n_same`` other rows of ``old`` re-sent unchanged."""
    picks = r.sample(old, n_changed + n_same)
    return [remake(r, key_of(x)) if i < n_changed else x for i, x in enumerate(picks)]


def gen_bulk(r: random.Random, out: str, n: int, files: list, tables: dict) -> None:
    """Customers file pair: a first load, then a same-size re-delivery mixing
    updated, unchanged and new grains plus ~1% invalid rows (to the DLQ)."""
    table = tables.setdefault("bulk.customers", _Table())
    first = [_customer(r, f"{i:07d}{r.randrange(16**5):05x}") for i in range(n)]
    n_changed, n_same, n_bad = n // 5, 3 * n // 10, max(1, n // 100)
    second = _redeliver(r, first, _customer, lambda raw: raw[0], n_changed, n_same)
    second += [_customer(r, f"{n + i:07d}{r.randrange(16**5):05x}") for i in range(n - len(second) - n_bad)]
    bad = [_customer_invalid(r, f"{2 * n + i:07d}{r.randrange(16**5):05x}") for i in range(n_bad)]
    second += bad
    bad_ids = {id(x) for x in bad}
    r.shuffle(second)
    for k, rows in enumerate([first, second], start=1):
        name = f"customers-bulk-{k:04d}.parquet"
        _write_customers(os.path.join(out, "bulk", name), rows)
        valid = [_customer_clean(x) for x in rows if id(x) not in bad_ids]
        ins, upd, same = table.apply(valid)
        files.append(_outcome("bulk", name, "customers", len(rows), None, ins, upd, same,
                              len(rows) - len(valid), archived=False))


def _outcome(phase, name, source, rows, error_type, ins=0, upd=0, same=0, dlq=0, archived=True):
    return {"phase": phase, "file": name, "source": source, "rows": rows,
            "error_type": error_type, "inserts": ins, "updates": upd, "unchanged": same,
            "dlq_rows": dlq, "log_rows": log_rows(error_type, archived)}


def gen_files(r: random.Random, out: str, rows_range: tuple[int, int], files: list, tables: dict) -> None:
    """Drop directories: ``first/`` creates one target per source; ``again/``
    holds a gzip CSV and a JSON re-delivery (different sources, so counts do
    not depend on which concurrent file publishes first; the bulk phase
    covers the Parquet merge) and one file per expected error of the
    taxonomy."""
    first_dir, again_dir = os.path.join(out, "first"), os.path.join(out, "again")
    lo, hi = rows_range
    key = iter(range(1, 10**9))

    def size():
        return r.randrange(lo, hi + 1)

    def book(source, phase, name, raw_rows, clean, error=None, dlq=0):
        ins, upd, same = (0, 0, 0)
        if error is None:
            ins, upd, same = tables.setdefault(source, _Table()).apply(clean)
        files.append(_outcome(phase, name, source, len(raw_rows), error, ins, upd, same, dlq))

    # --- first deliveries (each creates its target) -----------------------
    sales0 = [_sale(r, next(key)) for _ in range(size())]
    with open(os.path.join(first_dir, "sales_0001.csv"), "w") as f:
        f.write(_csv_text(SALES_HEADERS, sales0))
    book("transactions", "first", "sales_0001.csv", sales0, [_sale_clean(x) for x in sales0])
    prod0 = [_product(r, next(key)) for _ in range(size())]
    _write_xlsx(os.path.join(first_dir, "inventory_0001.xlsx"), "Products", [PRODUCT_HEADERS] + prod0)
    book("products", "first", "inventory_0001.xlsx", prod0, [_product_clean(x) for x in prod0])
    led0 = [_ledger(r, next(key)) for _ in range(size())]
    with open(os.path.join(first_dir, "ledger_0001.json"), "w") as f:
        json.dump({"entries": {"item": led0}}, f)
    book("ledger_entries", "first", "ledger_0001.json", led0, [_ledger_clean(x) for x in led0])
    cust0 = [_customer(r, f"F{next(key):08d}") for _ in range(size())]
    _write_customers(os.path.join(first_dir, "customers-0001.parquet"), cust0)
    book("customers", "first", "customers-0001.parquet", cust0, [_customer_clean(x) for x in cust0])

    # --- re-deliveries: half of a first delivery (a third of that half with
    # changed values) plus new grains, so each takes the merge path -------
    def redeliver(old, remake, key_of, fresh):
        half = len(old) // 2
        rows = _redeliver(r, old, remake, key_of, half // 3, half - half // 3)
        rows += [fresh() for _ in range(size() // 2)]
        r.shuffle(rows)
        return rows

    rows = redeliver(sales0, _sale, lambda x: int(x[0][3:]), lambda: _sale(r, next(key)))
    bad = _sale(r, next(key))
    bad[4] = "asdf"  # one unparseable price, below the source's threshold
    rows.insert(r.randrange(len(rows)), bad)
    with open(os.path.join(again_dir, "sales_0002.csv.gz"), "wb") as f:
        with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0) as gz:
            gz.write(_csv_text(SALES_HEADERS, rows).encode())
    book("transactions", "again", "sales_0002.csv.gz", rows,
         [_sale_clean(x) for x in rows if x is not bad], dlq=1)

    rows = redeliver(led0, _ledger, lambda x: x["entry_id"], lambda: _ledger(r, next(key)))
    with open(os.path.join(again_dir, "ledger_0002.json"), "w") as f:
        json.dump({"entries": {"item": rows}}, f)
    book("ledger_entries", "again", "ledger_0002.json", rows, [_ledger_clean(x) for x in rows])

    # --- expected failures: one per error of the taxonomy -----------------
    # a re-delivery of an already published file name
    with open(os.path.join(again_dir, "sales_0001.csv"), "w") as f:
        f.write(_csv_text(SALES_HEADERS, sales0))
    book("transactions", "again", "sales_0001.csv", sales0, None, "DuplicateFileError")
    # a duplicated grain inside one file
    dup = [_ledger(r, next(key)) for _ in range(size() // 2)]
    dup.append(dict(dup[0], description="re-keyed duplicate"))
    with open(os.path.join(again_dir, "ledger_0090.json"), "w") as f:
        json.dump({"entries": {"item": dup}}, f)
    book("ledger_entries", "again", "ledger_0090.json", dup, None, "GrainValidationError")
    # too many unparseable values: over the validation threshold
    over = [_sale(r, next(key)) for _ in range(size() // 2)]
    for x in over[: len(over) // 3]:
        x[3] = "many"
    with open(os.path.join(again_dir, "sales_0090.csv"), "w") as f:
        f.write(_csv_text(SALES_HEADERS, over))
    book("transactions", "again", "sales_0090.csv", over, None,
         "ValidationThresholdExceededError", dlq=len(over) // 3)
    # a custom audit failure (negative price passes validation, fails audit)
    neg = [_product(r, next(key)) for _ in range(size() // 2)]
    neg[0][3] = -12.5
    _write_xlsx(os.path.join(again_dir, "inventory_0090.xlsx"), "Products", [PRODUCT_HEADERS] + neg)
    book("products", "again", "inventory_0090.xlsx", neg, None, "AuditFailedError")
    # a required column missing from the header
    miss = [_customer(r, f"F{next(key):08d}") for _ in range(size() // 2)]
    _write_customers(os.path.join(again_dir, "customers-0090.parquet"), miss, drop="Email")
    book("customers", "again", "customers-0090.parquet", miss, None, "MissingColumnsError")


def generate_ingest(seed: int, out: str, scale: float = 1.0) -> dict:
    r = random.Random(seed)
    for d in ("bulk", "first", "again"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    files: list[dict] = []
    bulk_tables: dict = {}
    file_tables: dict = {}
    gen_bulk(r, out, max(200, int(BULK_ROWS * scale)), files, bulk_tables)
    lo, hi = FILE_ROWS
    gen_files(r, out, (max(20, int(lo * scale)), max(30, int(hi * scale))), files, file_tables)
    for f in files:
        f["bytes"] = os.path.getsize(os.path.join(out, f["phase"], f["file"]))

    def phase_expect(phase, tables, archived):
        fs = [f for f in files if f["phase"] in phase]
        return {
            "tables": {name.split(".")[-1]: t.expect() for name, t in tables.items()},
            "dlq_rows": sum(f["dlq_rows"] for f in fs),
            "log_rows": sum(f["log_rows"] for f in fs),
            "input_rows": sum(f["rows"] for f in fs),
            "input_bytes": sum(f["bytes"] for f in fs),
            "files": len(fs),
        }

    return {
        "seed": seed,
        "scale": scale,
        "files": files,
        "bulk": phase_expect(("bulk",), bulk_tables, False),
        "drop": phase_expect(("first", "again"), file_tables, True),
    }


# ---------------------------------------------------------------------------
# curation tables (the suite's documents / part / orders / embeddings shapes)
# ---------------------------------------------------------------------------


def generate_curation(seed: int, out: str, scale: float = 1.0) -> dict:
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_docs, n_parts, n_orders, n_vec = (max(20, int(n * scale)) for n in (DOCS, PARTS, ORDERS, VECTORS))
    texts = [" ".join(r.choice(_WORDS) for _ in range(r.randrange(8, 90))) for _ in range(n_docs)]
    for i in range(0, n_docs, 25):  # a few near-duplicates: one word changed
        words = texts[i].split()
        words[len(words) // 2] = r.choice(_WORDS)
        texts[min(i + 1, n_docs - 1)] = " ".join(words)
    tables = {
        "documents": pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [r.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{r.randrange(20)}" for _ in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": [f"{r.choice(_ADJ)} {r.choice(_NOUN)}" for _ in range(n_parts)],
            "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n_parts)],
            "p_type": [r.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE"]) for _ in range(n_parts)],
            "p_size": pa.array([r.randrange(1, 51) for _ in range(n_parts)], pa.int32()),
            "p_retailprice": [900.0 + i / 10 for i in range(n_parts)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([r.randrange(max(1, n_orders // 10)) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [r.choice("OFP") for _ in range(n_orders)],
            "o_totalprice": [r.randrange(100, 50000000) / 100 for _ in range(n_orders)],
            "o_orderdate": pa.array([dt.datetime(2020, 1, 1) + dt.timedelta(days=r.randrange(2000))
                                     for _ in range(n_orders)], pa.timestamp("us")),
            "o_orderpriority": [r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                                for _ in range(n_orders)],
        }),
    }
    vecs = []
    for _ in range(n_vec):
        v = [r.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(n_vec)], pa.int32()),
    })
    info = {"seed": seed, "scale": scale, "tables": {}}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        info["tables"][name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--scale", type=float, default=1.0)
    a = p.parse_args(argv)
    manifest = {"ingest": generate_ingest(a.seed, os.path.join(a.out, "ingest"), a.scale),
                "curation": generate_curation(a.seed, os.path.join(a.out, "curation"), a.scale)}
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
