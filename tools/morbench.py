"""COW vs merge-on-read delete: measured write amplification (r12).

Same logical delete ('P'-status rows of two order-years) executed both
ways against identical year-partitioned §2.O tables at a given sf:

- COW: rewrite every touched year-file without the matched rows,
  commit the reference swap (tablefmt.cow_delete through
  operators/tableformat.py::_cow_delete_p_years — the
  table_delete_cow path).
- MOR: write one equality-delete key file, commit it
  (tablefmt.mor_delete — the table_merge_on_read_delete path, no
  purge).

Bytes written is the headline (deterministic on any host — the
wall-clock on this box swings 2×, see SCALING.md's variance notes);
seconds are reported for context only.

Run: python -m tools.morbench [sf_dir]   (default /root/testdata/sf0.1)

r13 adds ``--router``: execute BOTH branches of
table_delete_cost_router's cost routing (dense -> COW, sparse -> MOR)
and, for each, ALSO materialize the bytes the opposite strategy would
have written (to an uncommitted scratch subdir) — the measured
evidence that the router picks the cheaper-write side at both
extremes, and by how much.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time


def _tree_bytes(root: str, sub: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(root, sub, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


def router_bench(sf_dir: str) -> int:
    """Measured byte trade at both router branches (r13)."""
    from pyspark.sql import functions as F

    from logdb_spark.operators.tableformat import (
        _auto_delete,
        _year_table,
    )
    from logdb_spark.tablefmt import write_grouped

    from logdb_spark.plans.session import get_spark

    spark = get_spark("morbench-router")
    out = {}
    for label, pred_f in (
        (
            "dense",
            lambda: F.col("o_orderstatus").isin("F", "O")
            & (F.col("g") <= 1997),
        ),
        ("sparse", lambda: F.col("o_orderkey") % 64 == 1),
    ):
        tx, _ = _year_table(spark, sf_dir)
        pred = pred_f()
        # Hypothetical other-branch bytes, written uncommitted.
        snap = tx.read().withColumn("g", F.year("o_orderdate"))
        alt_keys = write_grouped(
            snap.filter(pred).select("o_orderkey", F.lit(0).alias("g")),
            tx.root,
            "_alt_keys",
            "o_orderkey",
        )
        touched_years = sorted(
            {r["g"] for r in snap.filter(pred).select("g").distinct().collect()}
        )
        write_grouped(
            snap.filter(F.col("g").isin(touched_years) & ~pred),
            tx.root,
            "_alt_rewrite",
            "o_orderkey",
        )
        strategy, matched = _auto_delete(tx, pred, "chosen", ts=2000)
        chosen_bytes = _tree_bytes(tx.root, "chosen")
        alt_bytes = _tree_bytes(
            tx.root, "_alt_rewrite" if strategy == "mor" else "_alt_keys"
        )
        out[label] = {
            "strategy": strategy,
            "matched_rows": matched,
            "chosen_write_bytes": chosen_bytes,
            "alternative_write_bytes": alt_bytes,
            "alt_over_chosen": round(alt_bytes / max(1, chosen_bytes), 2),
        }
    # The router must have picked opposite branches at the extremes.
    assert out["dense"]["strategy"] == "cow"
    assert out["sparse"]["strategy"] == "mor"
    print(json.dumps({"sf_dir": sf_dir, "router": out}, indent=1))
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--router"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    if "--router" in sys.argv[1:]:
        return router_bench(sf_dir)

    from pyspark.sql import functions as F

    from logdb_spark.operators.tableformat import (
        _cow_delete_p_years,
        _orders_with_year,
        _p_in_years,
        _year_table,
    )
    from logdb_spark.plans.session import get_spark
    from logdb_spark.sources.scratch import scratch_dir
    from logdb_spark.tablefmt import TxTable, mor_delete, write_grouped

    spark = get_spark("morbench")
    years = (1995, 2000)

    # --- COW arm ---------------------------------------------------------
    tx_cow, _ = _year_table(spark, sf_dir)
    touched_bytes = sum(
        _tree_bytes(tx_cow.root, f"data1/g={y}") for y in years
    )
    t0 = time.perf_counter()
    _cow_delete_p_years(tx_cow, years, subdir="rw1", meta={"ts": 2000})
    cow_sec = round(time.perf_counter() - t0, 2)
    cow_bytes = _tree_bytes(tx_cow.root, "rw1")

    # --- MOR arm ---------------------------------------------------------
    orders = _orders_with_year(spark, sf_dir)
    tx_mor = TxTable(spark, scratch_dir("morbench_"))
    tx_mor.commit(
        write_grouped(orders, tx_mor.root, "data1", "o_orderkey"),
        meta={"ts": 1000},
    )
    t0 = time.perf_counter()
    dels = mor_delete(
        tx_mor,
        tx_mor.read()
        .withColumn("g", F.year("o_orderdate"))
        .filter(_p_in_years(years)),
        "o_orderkey",
        "dv1",
        meta={"ts": 2000},
    )
    mor_sec = round(time.perf_counter() - t0, 2)
    mor_bytes = _tree_bytes(tx_mor.root, "dv1")

    # parity: both strategies must produce the same surviving rows
    cow_n = tx_cow.read().count()
    mor_n = tx_mor.read().count()
    assert cow_n == mor_n, (cow_n, mor_n)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "deleted_keys": sum(d["rows"] for d in dels),
                "touched_file_bytes": touched_bytes,
                "cow_rewrite_bytes": cow_bytes,
                "mor_delete_file_bytes": mor_bytes,
                "write_amplification_cow_over_mor": round(
                    cow_bytes / mor_bytes, 1
                ),
                "cow_sec": cow_sec,
                "mor_sec": mor_sec,
                "surviving_rows_parity": cow_n,
            },
            indent=1,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
