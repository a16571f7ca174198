"""Independent output oracle: DuckDB over the generated feed.

DuckDB reads the same files the pipeline read, applies the reference
cleanse rules (FIXTURES.md §1/§3) and last-write-wins by arrival
order, and builds the 7 star tables with dense surrogate keys. Each
table the pipeline published (parquet) is compared against its oracle
twin on cardinality and on an order-insensitive hash of its rows. The
README verification queries run on the published warehouse as well.

Arrival order comes from the data: the generator writes ``id`` as the
row's position in its file (checked here), so a capture line's Kafka
offset is the file's base offset + ``id`` - 1, and a CSV row's
``arrival_seq`` is file rank * 2^32 + row-in-file, as the producer
assigns it.
"""

from __future__ import annotations

import os

import duckdb

from feed import FIELDS, SEQ_STRIDE

# Natural key, oracle expressions for the attribute columns (named as
# the pipeline publishes them), surrogate key column.
DIMS = {
    "dim_customer": ("source_customer_id", {
        "customer_name": "customer_name", "country": "customer_country",
        "age": "customer_age", "email": "customer_email"}, "customer_key"),
    "dim_seller": ("source_seller_id", {
        "seller_name": "seller_name", "country": "seller_country",
        "email": "seller_email"}, "seller_key"),
    "dim_product": ("source_product_id", {
        "product_name": "product_name", "category": "product_category",
        "price": "product_price", "rating": "product_rating",
        "reviews": "product_reviews"}, "product_key"),
    "dim_store": ("store_name", {
        "city": "store_city", "country": "store_country", "email": "store_email"}, "store_key"),
    "dim_supplier": ("supplier_name", {
        "country": "supplier_country", "email": "supplier_email"}, "supplier_key"),
    "dim_date": ("sale_date", {
        "year": "year(sale_date)", "month": "month(sale_date)",
        "day": "day(sale_date)"}, "date_key"),
}
FACT_COLS = ["fact_key", "source_sale_id", "customer_key", "seller_key", "product_key",
             "store_key", "supplier_key", "date_key", "sale_quantity", "sale_total_price"]
TABLES = list(DIMS) + ["fact_sales"]


def _int(c: str) -> str:
    # Python int(float(x)): truncation; '' / junk -> NULL
    return f"TRY_CAST(trunc(TRY_CAST(trim({c}) AS DOUBLE)) AS BIGINT)"


def _text(c: str) -> str:
    return f"NULLIF(trim({c}), '')"


def _name(a: str, b: str) -> str:
    return f"NULLIF(trim(coalesce({_text(a)}, '') || ' ' || coalesce({_text(b)}, '')), '')"


def _dec(c: str, p: int, s: int) -> str:
    return f"CAST(TRY_CAST(trim({c}) AS DOUBLE) AS DECIMAL({p},{s}))"


CLEANSE_SQL = f"""
SELECT arrival_seq,
  {_int('id')} AS source_sale_id,
  CAST(coalesce({_int('sale_quantity')}, 0) AS INTEGER) AS sale_quantity,
  CAST(coalesce(TRY_CAST(trim(sale_total_price) AS DOUBLE), 0) AS DECIMAL(14,2)) AS sale_total_price,
  {_int('sale_customer_id')} AS source_customer_id,
  {_name('customer_first_name', 'customer_last_name')} AS customer_name,
  {_text('customer_country')} AS customer_country,
  {_int('customer_age')} AS customer_age,
  {_text('customer_email')} AS customer_email,
  {_int('sale_seller_id')} AS source_seller_id,
  {_name('seller_first_name', 'seller_last_name')} AS seller_name,
  {_text('seller_country')} AS seller_country,
  {_text('seller_email')} AS seller_email,
  {_int('sale_product_id')} AS source_product_id,
  {_text('product_name')} AS product_name,
  {_text('product_category')} AS product_category,
  {_dec('product_price', 12, 2)} AS product_price,
  {_dec('product_rating', 3, 1)} AS product_rating,
  {_int('product_reviews')} AS product_reviews,
  {_text('store_name')} AS store_name,
  {_text('store_city')} AS store_city,
  {_text('store_country')} AS store_country,
  {_text('store_email')} AS store_email,
  {_text('supplier_name')} AS supplier_name,
  {_text('supplier_country')} AS supplier_country,
  {_text('supplier_email')} AS supplier_email,
  TRY_CAST(TRY_STRPTIME(trim(sale_date), '%m/%d/%Y') AS DATE) AS sale_date
FROM raw
"""


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _file_counts(con, files: list[str]) -> list[int]:
    """Rows per file in ``files`` order, after checking that ``pos`` is
    the row position 1..n in every file (the generator's invariant)."""
    stats = {f: (n, lo, hi, nd) for f, n, lo, hi, nd in con.execute(
        "SELECT filename, count(*), min(pos), max(pos), count(DISTINCT pos) FROM raw_pos "
        "GROUP BY filename").fetchall()}
    for f, (n, lo, hi, nd) in stats.items():
        if not (lo == 1 and hi == n and nd == n):
            raise ValueError(f"{f}: ids are not row positions 1..{n}")
    return [stats[f][0] if f in stats else 0 for f in files]


def _load_raw(con, files: list[str], kind: str) -> None:
    """Table ``raw``: the 50 string fields + arrival_seq, as the
    transport delivers them. ``kind`` is 'capture' (kafkadump files:
    arrival_seq is the line's offset) or 'csv' (producer order: file
    rank * 2^32 + row)."""
    flist = "[" + ", ".join(_lit(f) for f in files) + "]"
    cols = ", ".join(f"{_lit(f)}: 'VARCHAR'" for f in FIELDS)
    if kind == "capture":
        src = f"read_json({flist}, format='newline_delimited', columns={{{cols}}}, filename=true)"
    else:
        src = (f"read_csv({flist}, header=true, all_varchar=true, quote='\"', escape='\"', "
               f"filename=true, columns={{{cols}}}, auto_detect=false)")
    # position within the file: id minus the file's smallest id, + 1
    con.execute(f"CREATE TEMP TABLE raw_pos AS SELECT *, CAST(id AS BIGINT) - "
                f"min(CAST(id AS BIGINT)) OVER (PARTITION BY filename) + 1 AS pos FROM {src}")
    counts = _file_counts(con, files)
    con.execute("CREATE TEMP TABLE ranks(filename VARCHAR, rnk BIGINT, base BIGINT)")
    con.executemany("INSERT INTO ranks VALUES (?, ?, ?)",
                    [(f, i, sum(counts[:i])) for i, f in enumerate(files)])
    seq = "r.base + p.pos - 1" if kind == "capture" else f"r.rnk * {SEQ_STRIDE} + p.pos"
    con.execute(f"CREATE TEMP TABLE raw AS SELECT p.*, {seq} AS arrival_seq "
                "FROM raw_pos p JOIN ranks r USING (filename)")


def build_oracle(con) -> None:
    """Oracle star tables ``o_<table>`` from table ``raw``."""
    con.execute(f"CREATE TEMP TABLE cl AS {CLEANSE_SQL}")
    for name, (key, attrs, skey) in DIMS.items():
        sel = ", ".join(f"{expr} AS {col}" for col, expr in attrs.items())
        con.execute(f"""
            CREATE TEMP TABLE o_{name} AS
            SELECT {key}, {sel}, row_number() OVER (ORDER BY {key}) AS {skey}
            FROM (SELECT * FROM cl WHERE {key} IS NOT NULL
                  QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY arrival_seq DESC) = 1)
        """)
    joins = "\n".join(
        f"LEFT JOIN o_{name} USING ({key})" for name, (key, _, _) in DIMS.items()
    )
    con.execute(f"""
        CREATE TEMP TABLE o_fact_sales AS
        SELECT row_number() OVER (ORDER BY source_sale_id) AS fact_key, source_sale_id,
               customer_key, seller_key, product_key, store_key, supplier_key, date_key,
               sale_quantity, sale_total_price
        FROM (SELECT * FROM cl WHERE source_sale_id IS NOT NULL
              QUALIFY row_number() OVER (PARTITION BY source_sale_id ORDER BY arrival_seq DESC) = 1) f
        {joins}
    """)


def _columns(name: str) -> list[str]:
    if name == "fact_sales":
        return FACT_COLS
    key, attrs, skey = DIMS[name]
    return [key, *attrs, skey]


def _digest(con, rel: str, cols: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash) over a canonical text form."""
    row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in sorted(cols))
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {rel}"
    ).fetchone()
    return int(n), int(h)


def warehouse_rel(warehouse: str, name: str) -> str:
    if name == "fact_sales":
        return (f"read_parquet({_lit(os.path.join(warehouse, name, '**', '*.parquet'))}, "
                "hive_partitioning=true)")
    return f"read_parquet({_lit(os.path.join(warehouse, name, '*.parquet'))})"


def check(files: list[str], kind: str, warehouse: str) -> dict:
    """Compare a published warehouse with the oracle over ``files``.

    Returns {"tables": {name: {...}}, "invariants": {...}, "failed": n,
    "attempted": n} where one table or one invariant is one operation.
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        _load_raw(con, files, kind)
        build_oracle(con)
        out: dict = {"tables": {}, "invariants": {}}
        failed = 0
        for name in TABLES:
            cols = _columns(name)
            got = _digest(con, f"(SELECT {', '.join(cols)} FROM {warehouse_rel(warehouse, name)})", cols)
            want = _digest(con, f"o_{name}", cols)
            ok = got == want
            failed += not ok
            out["tables"][name] = {"rows": got[0], "oracle_rows": want[0], "ok": ok}
        fact = warehouse_rel(warehouse, "fact_sales")
        n, nd = con.execute(f"SELECT count(*), count(DISTINCT source_sale_id) FROM {fact}").fetchone()
        missing = 0
        for name, (_, _, skey) in DIMS.items():
            missing += con.execute(
                f"SELECT count(*) FROM {fact} f LEFT JOIN {warehouse_rel(warehouse, name)} d "
                f"USING ({skey}) WHERE d.{skey} IS NULL"
            ).fetchone()[0]
        out["invariants"] = {"fact_unique": n == nd, "missing_keys": int(missing)}
        failed += (n != nd) + (missing != 0)
        out["attempted"] = len(TABLES) + 2
        out["failed"] = int(failed)
        return out
    finally:
        con.close()


def check_queries(results: dict, sqls: dict, data_dir: str) -> dict:
    """Compare Spark query results (``results``: name -> (columns,
    row count)) with their DuckDB twins (``sqls``) over the parquet
    tables in ``data_dir``, on row count and column names. One query
    is one operation."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = _lit(os.path.join(data_dir, f))
                con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet({path})")
        out: dict = {"queries": {}}
        failed = 0
        for name, (columns, rows) in results.items():
            cur = con.execute(f"SELECT * FROM ({sqls[name]}) LIMIT 0")
            want_cols = [d[0].lower() for d in cur.description]
            want = con.execute(f"SELECT count(*) FROM ({sqls[name]})").fetchone()[0]
            ok = rows == want and [c.lower() for c in columns] == want_cols
            failed += not ok
            out["queries"][name] = {"rows": int(rows), "oracle_rows": int(want), "ok": ok}
        out["attempted"] = len(results)
        out["failed"] = int(failed)
        return out
    finally:
        con.close()
