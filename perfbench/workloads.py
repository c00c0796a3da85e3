"""The benchmark's workloads: what each one runs, at what size, and how its
outputs are checked.

Input generation (``prepare``) runs in the harness process without Spark;
everything else runs inside the Spark process started by ``worker.py``.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass

# Registry queries flagged ``headline=True``, the two with the most jobs
# per warm second (a star join and TPC-H Q3). The run budget buys either a
# few queries timed over many warm passes or many queries over few; on a
# shared 4-core host the JIT is still warming after three passes, so few
# queries and more passes give the steadier medians.
HEADLINE = (
    "star_revenue_by_nation",
    "q3_shipping_priority",
)

# Codec gates: pure-Python encode/decode inside mapInPandas (zstd frames;
# gzip-framed WARC records through operators/web_extract).
CRAWL = (
    "zst_text_archive",
    "warc_ingest_extract",
)

# run_warehouse's stages, in PL_Master order, and the module function each
# one calls.
JDE_STAGES = {
    "bronze": "ingest_bronze",
    "silver_f4211": "silver_clean_f4211",
    "silver_f0101": "silver_clean_f0101",
    "gold_dim_date": "gold_dim_date",
    "gold_dim_customer": "gold_dim_customer",
    "gold_fact_sales": "gold_fact_sales",
    "verification": "verification",
}
JDE_RUN_DATE = "2025-01-01"
JDE_INITIAL_AT = dt.datetime(2025, 1, 1)
JDE_INCREMENTAL_AT = dt.datetime(2025, 2, 1)
JDE_CHANGE_SHARE = 0.05


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "catalog" or "jde"
    min_passes: int  # warm passes per run, at least
    queries: tuple[str, ...] = ()
    sf: float = 0.0  # catalog table scale factor
    customers: int = 0  # jde landing size
    orders: int = 0


# Why each workload exists: BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("headline_crawl", "catalog", 5, HEADLINE + CRAWL, sf=0.002),
        Workload("jde_migration", "jde", 3, customers=100, orders=2_000),
    )
}

# One repetition at the smallest sizes, for the self-test.
TINY = {
    "headline_crawl": dict(sf=0.001),
    "jde_migration": dict(customers=50, orders=200),
}


def prepare(w: Workload, data_dir: str, seed: int) -> dict:
    """Generate the run's inputs from ``seed`` (harness side, no Spark)."""
    if w.kind == "catalog":
        from tables import generate_tables

        return generate_tables(os.path.join(data_dir, "tables"), seed, w.sf)
    from data_warehouse_migration_spark.plans.fixtures import generate_landing

    return generate_landing(
        os.path.join(data_dir, "source"), w.customers, w.orders, seed=seed
    )


# --------------------------------------------------------------------------
# Catalog workloads (run inside the Spark process)
# --------------------------------------------------------------------------


def query_order(w: Workload, seed: int) -> list[str]:
    """The seed sets the query order of every pass in the run."""
    names = list(w.queries)
    random.Random(seed).shuffle(names)
    return names


def check_query(con, q, s_cols: list[str], s_rows: list[tuple],
                corrupt: bool) -> str | None:
    """Compare one query's collected result with its DuckDB oracle the way
    tools/check_oracle.py does; return a problem description, or None when
    they agree. ``corrupt`` swaps a row for nulls first (self-test)."""
    from tools.check_oracle import table_hash

    if corrupt:
        s_rows = s_rows[1:] + [tuple(None for _ in s_cols)]
    if q.oracle is None:
        return None if s_rows else "no rows"
    rel = con.sql(q.oracle)
    o_cols = list(rel.columns)
    o_rows = rel.fetchall()
    if sorted(s_cols) != sorted(o_cols):
        return f"columns spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"rows spark={len(s_rows)} oracle={len(o_rows)}"
    if table_hash(s_cols, s_rows) != table_hash(o_cols, o_rows):
        return "value-hash mismatch"
    return None


def duckdb_views(sf_dir: str):
    import duckdb

    from tables import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


# --------------------------------------------------------------------------
# JDE migration (run inside the Spark process)
# --------------------------------------------------------------------------


def _julian_to_date(j: int) -> dt.date:
    year = 1900 + 100 * (j // 100_000) + (j // 1000) % 100
    return dt.date(year, 1, 1) + dt.timedelta(days=j % 1000 - 1)


def change_customers(landing: str, seed: int) -> int:
    """Rewrite F0101.csv with a seeded share of customers re-categorised;
    return how many changed."""
    path = os.path.join(landing, "F0101.csv")
    with open(path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    rng = random.Random(seed)
    picked = rng.sample(range(len(rows)), max(1, round(len(rows) * JDE_CHANGE_SHARE)))
    for i in picked:
        rows[i]["ABAC01"] = "900"  # outside the generator's 100/200/300
    with open(path, "w", newline="") as fh:
        writer = csv.DictWriter(fh, fieldnames=list(rows[0]))
        writer.writeheader()
        writer.writerows(rows)
    return len(picked)


def fresh_root(source: str, root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(os.path.join(source, "landing"), os.path.join(root, "landing"))


def jde_checks(spark, root: str, n_customers: int, n_changed: int,
               initial_counts: dict, corrupt: bool) -> dict[str, str | None]:
    """Invariants of one initial + incremental load, against the landing
    CSVs; each maps to a problem description or None."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from data_warehouse_migration_spark.sources.medallion import MedallionLayout

    layout = MedallionLayout(root)
    with open(layout.landing("F4211.csv"), newline="") as fh:
        orders = list(csv.DictReader(fh))
    dim_date = spark.read.parquet(layout.gold("Dim_Date"))
    lo, hi, n_days = dim_date.agg(
        F.min("FullDate"), F.max("FullDate"), F.count("*")
    ).first()
    kept = [r for r in orders if lo <= _julian_to_date(int(r["SDTRDJ"])) <= hi]
    want_cents = sum(int(r["SDAEXP"]) for r in kept) + (1 if corrupt else 0)

    fact = spark.read.parquet(layout.gold("Fact_Sales"))
    n_fact, total = fact.agg(F.count("*"), F.sum("ExtendedAmount")).first()
    dim = spark.read.parquet(layout.gold("Dim_Customer"))
    n_versions, n_ids, n_active, bad_ids = dim.groupBy("CustomerID").agg(
        F.count("*").alias("v"), F.sum(F.col("IsActive").cast("int")).alias("a")
    ).agg(
        F.sum("v"), F.count("*"), F.sum("a"), F.sum((F.col("a") != 1).cast("int"))
    ).first()
    n_silver = spark.read.parquet(layout.silver("CleanSalesOrders")).count()

    def expect(label, got, want):
        return None if got == want else f"{label}: got {got}, want {want}"

    return {
        "silver_rows": expect("silver rows", n_silver, len(orders)),
        "dim_date_days": expect("Dim_Date rows", n_days, (hi - lo).days + 1),
        "initial_versions": expect(
            "Dim_Customer after initial load", initial_counts["Dim_Customer"], n_customers
        ),
        "versions_after_change": expect(
            "Dim_Customer after incremental load", n_versions, n_customers + n_changed
        ),
        "one_current_version": expect(
            "customers without exactly one current version", bad_ids, 0
        ) or expect("current versions", (n_ids, n_active), (n_customers, n_customers)),
        "fact_rows": expect("Fact_Sales rows", n_fact, len(kept)),
        "extended_amount_cents": expect(
            "Fact_Sales ExtendedAmount cents", int(Decimal(total) * 100), want_cents
        ),
    }
