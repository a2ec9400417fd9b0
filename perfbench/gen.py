"""Seeded input generator for the ETL part of the benchmark.

``retail_snapshot`` writes the raw retail-sales CSV, product records and
category list the ETL pipeline extracts (plain numpy/csv, no Spark
job, so generation cost is the benchmark's own and never the
program's), with the counts a correct load must reproduce. The same
seed gives byte-identical inputs.

The query workloads read no generated tables: they read the shipped
TPC-H-ish testdata copied under ``perfbench/data/``.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np

CSV_HEADER = [
    "Transaction ID", "Date", "Customer ID", "Gender", "Age",
    "Product Category", "Quantity", "Price per Unit", "Total Amount",
]
SALES_CATEGORIES = ["Beauty", "Clothing", "Electronics"]
API_CATEGORIES = ["electronics", "jewelery", "men's clothing", "women's clothing"]


@dataclass
class RetailSnapshot:
    """One generated nightly snapshot and the counts a correct load of
    it must reproduce."""

    csv_path: str
    churn_csv_path: str
    products: list[dict]
    categories: list[str]
    valid_rows: int
    customers: int
    valid_days: int
    churned: int


def retail_snapshot(
    out_dir: str, rows: int, seed: int, days: int = 30, churn: float = 0.02
) -> RetailSnapshot:
    """Write the raw sales CSV twice: as extracted, and with ``churn``
    of the customers' ages changed (each one a new SCD2 version on the
    incremental run). Sales fall on ``days`` consecutive days (one fact
    partition each). About 2% of rows fail cleaning: an unparseable
    date or a non-positive quantity."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    n_cust = max(20, rows // 10)
    cust = rng.integers(0, n_cust, rows)
    day = rng.integers(0, days, rows)
    dates = (np.datetime64("2023-06-01") + day).astype(str)
    bad_date = rng.random(rows) < 0.01
    qty = rng.integers(1, 5, rows)
    bad_qty = (rng.random(rows) < 0.01) & ~bad_date
    qty[bad_qty] = -rng.integers(0, 3, int(bad_qty.sum()))
    gender_of = np.array(["Female", "Male"])[rng.integers(0, 2, n_cust)]
    age_of = rng.integers(18, 65, n_cust)
    price = np.array([25.0, 30.0, 50.0, 300.0, 500.0])[rng.integers(0, 5, rows)]
    cat = np.array(SALES_CATEGORIES)[rng.integers(0, 3, rows)]
    valid = ~bad_date & ~bad_qty
    seen = np.unique(cust[valid])
    churned = rng.choice(seen, size=max(1, int(round(churn * len(seen)))), replace=False)
    churn_age = age_of.copy()
    churn_age[churned] += 1

    def _write_csv(path: str, ages: np.ndarray) -> None:
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(CSV_HEADER)
            for i in range(rows):
                c = int(cust[i])
                w.writerow([
                    i + 1,
                    "not-a-date" if bad_date[i] else dates[i],
                    f"CUST{c:06d}",
                    gender_of[c],
                    int(ages[c]),
                    cat[i],
                    int(qty[i]),
                    price[i],
                    qty[i] * price[i],
                ])

    csv_path = os.path.join(out_dir, "retail_sales.csv")
    churn_path = os.path.join(out_dir, "retail_sales_churn.csv")
    _write_csv(csv_path, age_of)
    _write_csv(churn_path, churn_age)
    products = [
        {
            "id": i + 1,
            "title": f"  Product {i + 1} ",
            "price": float(np.round(rng.uniform(5, 1000), 2)),
            "description": "x" * int(rng.integers(10, 700)),
            "category": API_CATEGORIES[i % len(API_CATEGORIES)],
            "image": f"https://img.example/{i + 1}.jpg",
            "rating": {"rate": float(np.round(rng.uniform(0, 5), 1)), "count": int(rng.integers(0, 500))},
        }
        for i in range(20)
    ]
    return RetailSnapshot(
        csv_path=csv_path,
        churn_csv_path=churn_path,
        products=products,
        categories=list(API_CATEGORIES),
        valid_rows=int(valid.sum()),
        customers=int(len(seen)),
        valid_days=int(len(np.unique(day[valid]))),
        churned=int(len(churned)),
    )
