"""Dump .explain('formatted') for named operators to plans/<tag>/.

Usage: python -m tools.dumpplans <tag> <op> [<op> ...]
Writes plans/<tag>/<op>_<suffix>.txt (suffix via $PLAN_SUFFIX, default
'before'); an absolute <tag> is used as the output directory itself.
Ops that materialize side state before returning their DataFrame
(table/stream lifecycles) still work — the plan captured is the one
the bench's noop sink executes. Every DataFrame the op passes to
``DataFrameWriter.parquet`` while it builds (table-format writes and
rewrites, ``foreachBatch`` batches) is dumped too, in write order, as
<op>_<suffix>.write<N>.txt.

The written text drops what differs between two sessions planning the
same query: expression ids (``vec_id#123L`` → ``vec_id#L``), ``plan_id=``
numbers, lambda-variable counters (``lambda x_90#`` → ``lambda x_#``),
the random suffix of scratch directories (``/logdb_sdm_e3ytgb06`` →
``/logdb_sdm_*``), and the whole-stage codegen ids and query-stage ids
(``[codegen id : 2]``, a ``ShuffleQueryStage``'s ``Arguments: 3``),
which follow the order AQE plans stages in and so swap between the
branches of one query from run to run. ``diff -r`` between two dump
directories then shows only node changes.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys

_SESSION_IDS = (
    (re.compile(r"(#|plan_id=)\d+"), r"\1"),
    (re.compile(r"(lambda \w+?_)\d+#"), r"\1#"),
    (re.compile(r"(/logdb_[a-z_]+?_)[a-z0-9_]{8}(?=[/\],\s]|$)"), r"\1*"),
    (re.compile(r"(\[codegen id : )\d+"), r"\1"),
    (re.compile(r"(QueryStage\n(?:.+\n)*?Arguments: )\d+"), r"\1"),
)


def normalize(plan: str) -> str:
    """``plan`` without its per-session ids (see the module docstring)."""
    for pattern, repl in _SESSION_IDS:
        plan = pattern.sub(repl, plan)
    return plan


@contextlib.contextmanager
def capture_writes():
    """Yield a list that collects every DataFrame passed to
    ``DataFrameWriter.parquet`` inside the block; the writes still run."""
    from pyspark.sql import DataFrameWriter

    written, parquet = [], DataFrameWriter.parquet

    def recording(self, *args, **kwargs):
        written.append(self._df)
        return parquet(self, *args, **kwargs)

    DataFrameWriter.parquet = recording
    try:
        yield written
    finally:
        DataFrameWriter.parquet = parquet


def main() -> int:
    tag, names = sys.argv[1], sys.argv[2:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)

    from logdb_spark.plans.session import get_spark
    from logdb_spark.registry import all_operators

    spark = get_spark("dumpplans")
    # Wide projections (the MinHash signature's 64+ columns) would
    # otherwise print as "... N more fields" and hide their changes.
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    ops = all_operators()
    for name in names:
        with capture_writes() as written:
            df = ops[name].fn(spark, sf_dir)
        dumps = [(f"{name}_{suffix}.txt", df)] + [
            (f"{name}_{suffix}.write{n}.txt", w)
            for n, w in enumerate(written, 1)
        ]
        for fname, d in dumps:
            txt = normalize(
                d._sc._jvm.PythonSQLUtils.explainString(
                    d._jdf.queryExecution(), "formatted"
                )
            )
            with open(os.path.join(outdir, fname), "w") as f:
                f.write(txt)
            print(f"wrote {fname} ({len(txt)} bytes)")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
