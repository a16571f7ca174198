"""Star-schema builders (SURVEY.md §2 S6, A4, J1; FIXTURES.md §2).

Rebuilds the reference's PostgreSQL star schema
(/root/reference/postgres/00_ddl_dw.sql:3-66) as a set-based Spark
plan. Where the reference does 7 per-row SQL round-trips per message
(/root/reference/flink/stream_to_star.py:287-295), we do one
declarative pass:

    raw strings → cleanse projection → per-dim last-write-wins dedup
    → deterministic surrogate keys → fact left-joins dims

Semantics ported:

* Last-write-wins upsert (``ON CONFLICT … DO UPDATE``,
  stream_to_star.py:116-121 etc.) → ``row_number() OVER
  (PARTITION BY natural_key ORDER BY arrival_seq DESC) = 1``.
* Null-gate (dim skipped when natural key NULL; stream_to_star.py:
  101-102 etc.) → ``filter(key.isNotNull())``.
* Surrogate keys (BIGSERIAL; 00_ddl_dw.sql:4 etc.) → dense
  ``row_number()`` over natural-key order. Deterministic across
  partitions and runs — ``monotonically_increasing_id`` is neither.
* FK resolution via upsert RETURNING (stream_to_star.py:121-125) →
  left equi-joins on natural keys (AQE-sized: broadcast while the
  dim fits, shuffle-hash beyond).

Scale notes: each dim dedup is one shuffle on its natural key — the
minimum possible. Surrogate-key assignment via a global-order
row_number is a single-partition sort of the *deduped dim* (small by
definition: dims are bounded by key cardinality, not fact volume); at
extreme dim cardinality swap in zipWithIndex-style two-phase
numbering. The fact build joins all six dims unhinted: AQE
broadcasts each dim while it fits (keeping the 100-TB fact side
shuffle-free), and degrades to a shuffle join per oversized dim
instead of OOMing the executors on a forced build side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataflink_spark.functions import cleanse as C
from bigdataflink_spark.operators.dedup import lww_dedup

# dim name -> (natural key, fact FK / surrogate key column,
# {cleansed attribute column: published column}). The cleansed names
# are what streaming state stores (and the DBAPI sink's tables); the
# published names are what the warehouse serves. The fact joins each
# dim on its natural key.
DIM_SPECS: dict[str, tuple[str, str, dict[str, str]]] = {
    "dim_customer": ("source_customer_id", "customer_key", {
        "customer_name": "customer_name", "customer_country": "country",
        "customer_age": "age", "customer_email": "email",
    }),
    "dim_seller": ("source_seller_id", "seller_key", {
        "seller_name": "seller_name", "seller_country": "country",
        "seller_email": "email",
    }),
    "dim_product": ("source_product_id", "product_key", {
        "product_name": "product_name", "product_category": "category",
        "product_price": "price", "product_rating": "rating",
        "product_reviews": "reviews",
    }),
    "dim_store": ("store_name", "store_key", {
        "store_city": "city", "store_country": "country", "store_email": "email",
    }),
    "dim_supplier": ("supplier_name", "supplier_key", {
        "supplier_country": "country", "supplier_email": "email",
    }),
    # year/month/day are derived from the key at publish time
    "dim_date": ("sale_date", "date_key", {}),
}

# the fact's cleansed columns: LWW order, natural key, measures, and
# the dims' natural keys it resolves to FKs
FACT_COLS = [
    "arrival_seq", "source_sale_id", "sale_quantity", "sale_total_price",
    "source_customer_id", "source_seller_id", "source_product_id",
    "store_name", "supplier_name", "sale_date",
]


def cleanse_sales(raw: DataFrame) -> DataFrame:
    """50-col string row → typed, cleansed columns for all dims + fact.

    Mirrors the field mapping in stream_to_star.py:99-282, one
    projection instead of six per-row functions. ``arrival_seq`` must
    already be present (sources/csv_sales.py) — it is the
    conflict-resolution order.

    The reference probes several candidate field names per id
    (stream_to_star.py:100,128,154,248); we coalesce over whichever
    candidates actually exist in the input schema.
    """

    def probe(*candidates: str):
        present = [c for c in candidates if c in raw.columns]
        if not present:
            return F.lit(None).cast("string")
        return C.coalesce_first(*present)

    return raw.select(
        F.col("arrival_seq"),
        # fact natural key + measures (stream_to_star.py:248-253)
        C.to_int_safe(probe("id", "sale_id")).alias("source_sale_id"),
        C.default_zero(C.to_int_safe("sale_quantity")).cast("int").alias("sale_quantity"),
        C.default_zero(C.to_float_safe("sale_total_price"))
        .cast("decimal(14,2)")
        .alias("sale_total_price"),
        # customer (stream_to_star.py:99-110)
        C.to_int_safe(probe("sale_customer_id", "customer_id", "customer_key")).alias(
            "source_customer_id"
        ),
        C.concat_name("customer_first_name", "customer_last_name").alias("customer_name"),
        C.clean_text("customer_country").alias("customer_country"),
        C.to_int_safe("customer_age").cast("int").alias("customer_age"),
        C.clean_text("customer_email").alias("customer_email"),
        # seller (stream_to_star.py:127-136)
        C.to_int_safe(probe("sale_seller_id", "seller_id")).alias("source_seller_id"),
        C.concat_name("seller_first_name", "seller_last_name").alias("seller_name"),
        C.clean_text("seller_country").alias("seller_country"),
        C.clean_text("seller_email").alias("seller_email"),
        # product (stream_to_star.py:153-162)
        C.to_int_safe(probe("sale_product_id", "product_id")).alias("source_product_id"),
        C.clean_text("product_name").alias("product_name"),
        C.clean_text("product_category").alias("product_category"),
        C.to_float_safe("product_price").cast("decimal(12,2)").alias("product_price"),
        C.to_float_safe("product_rating").cast("decimal(3,1)").alias("product_rating"),
        C.to_int_safe("product_reviews").cast("int").alias("product_reviews"),
        # store (stream_to_star.py:181-188)
        C.clean_text("store_name").alias("store_name"),
        C.clean_text("store_city").alias("store_city"),
        C.clean_text("store_country").alias("store_country"),
        C.clean_text("store_email").alias("store_email"),
        # supplier (stream_to_star.py:205-211)
        C.clean_text("supplier_name").alias("supplier_name"),
        C.clean_text("supplier_country").alias("supplier_country"),
        C.clean_text("supplier_email").alias("supplier_email"),
        # date (stream_to_star.py:227-243)
        C.parse_date_multi("sale_date").alias("sale_date"),
    )


def dim_rows(cleansed: DataFrame, name: str) -> DataFrame:
    """One dim's last-write-wins rows (latest arrival_seq per non-NULL
    natural key) in cleansed column names: (arrival_seq, natural key,
    attrs…) — the unit every sink merges."""
    key, _, attrs = DIM_SPECS[name]
    rows = cleansed.select("arrival_seq", key, *attrs).filter(F.col(key).isNotNull())
    return lww_dedup(rows, [key], "arrival_seq")


def fact_rows(cleansed: DataFrame) -> DataFrame:
    """The fact's last-write-wins rows over FACT_COLS, keyed on
    source_sale_id."""
    rows = cleansed.select(*FACT_COLS).filter(F.col("source_sale_id").isNotNull())
    return lww_dedup(rows, ["source_sale_id"], "arrival_seq")


def publish_dim(name: str, rows: DataFrame) -> DataFrame:
    """One row per natural key (cleansed column names) → the published
    dim: attributes renamed, dim_date's calendar parts, and a dense
    deterministic surrogate key (row_number over natural-key order).
    The one publish step of the batch build and the streaming
    finalize, so stream ≡ batch by construction."""
    key, surrogate, attrs = DIM_SPECS[name]
    cols = [F.col(key)] + [F.col(c).alias(out) for c, out in attrs.items()]
    if name == "dim_date":
        cols += [
            F.year(key).alias("year"),
            F.month(key).alias("month"),
            F.dayofmonth(key).alias("day"),
        ]
    w = Window.orderBy(key)
    return rows.select(*cols).withColumn(surrogate, F.row_number().over(w).cast("long"))


def build_dims(cleansed: DataFrame) -> dict[str, DataFrame]:
    """Six dims with LWW dedup + deterministic surrogate keys."""
    return {name: publish_dim(name, dim_rows(cleansed, name)) for name in DIM_SPECS}


def build_fact(cleansed: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """fact_sales: LWW on source_sale_id, then join in the dim keys.

    The dims derive from the same sales feed, so they scale with the
    data — no forced broadcast: AQE broadcasts them while they fit
    (every micro-batch, and small backfills) and shuffles on the
    natural key at 100-TB backfill scale where a forced build side
    would OOM the executors.

    LEFT joins — a fact row with an unresolvable dim keeps a NULL FK
    (the reference leaves the fact column NULL too when the dim id is
    NULL: stream_to_star.py:287-294 pass None keys through).
    """
    fact = fact_rows(cleansed).drop("arrival_seq")
    for name, (nk, surrogate, _) in DIM_SPECS.items():
        fact = fact.join(dims[name].select(nk, surrogate), on=nk, how="left")

    w = Window.orderBy("source_sale_id")
    return fact.withColumn("fact_key", F.row_number().over(w).cast("long")).select(
        "fact_key",
        "source_sale_id",
        "customer_key",
        "seller_key",
        "product_key",
        "store_key",
        "supplier_key",
        "date_key",
        "sale_quantity",
        "sale_total_price",
    )


def build_star(raw: DataFrame) -> dict[str, DataFrame]:
    """Full pipeline: raw strings → {6 dims + fact_sales}."""
    cleansed = cleanse_sales(raw)
    dims = build_dims(cleansed)
    tables: dict[str, DataFrame] = dict(dims)
    tables["fact_sales"] = build_fact(cleansed, dims)
    return tables


def persist_star(star: dict[str, DataFrame], out_dir: str) -> None:
    """Write the warehouse to parquet: dims plain, the fact Hive-
    partitioned by sale year/month.

    Directory-level partition pruning is the Spark analog of the
    reference's three fact B-tree indexes
    (postgres/00_ddl_dw.sql:68-70): a date-ranged scan touches only
    the matching ``year=/month=`` directories, and parquet min/max
    stats prune inside them. At 100 TB the fact is additionally
    bucketed on the hot FK (``saveAsTable`` + ``bucketBy``) so
    fact⋈dim repartitions nothing; partitioning alone already keeps
    date-sliced scans proportional to the slice.
    """
    fact = star["fact_sales"]
    dd = star["dim_date"].select("date_key", "year", "month")
    fact_p = fact.join(F.broadcast(dd), on="date_key", how="left").withColumn(
        "year", F.coalesce(F.col("year"), F.lit(-1))
    ).withColumn("month", F.coalesce(F.col("month"), F.lit(-1)))
    fact_p.write.mode("overwrite").partitionBy("year", "month").parquet(
        f"{out_dir}/fact_sales"
    )
    for name, df in star.items():
        if name != "fact_sales":
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def load_star(spark, out_dir: str) -> dict[str, DataFrame]:
    """Read a persisted warehouse back (partition columns included)."""
    names = list(DIM_SPECS) + ["fact_sales"]
    return {n: spark.read.parquet(f"{out_dir}/{n}") for n in names}
