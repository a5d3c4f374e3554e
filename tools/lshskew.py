"""LSH hot-bucket skew proof (VERDICT r8 #5).

The r9 de-broadcast turned the LSH family's exact-verify joins into
plain shuffle joins — the shape that scales, but also the shape where
a HOT BAND BUCKET (thousands of near-identical docs hashing to one
(band, bucket) key) could, in principle, concentrate load on a single
reducer. This tool builds exactly that corpus and measures what
actually happens at each stage of the candidates path:

  - ``n_hot`` near-identical docs (one shared 40-token set, each doc
    dropping one token → pairwise J ≈ 0.95, above the 0.9 verify
    threshold) — they collide into the same band buckets, so the
    bucket self-join emits ~n_hot²/2 pairs under just n_bands keys;
  - ``n_cold`` docs with doc-unique token sets — no collisions; the
    long tail that must not be held hostage by the hot bucket.
  - Vocabulary ≈ n_cold·30 distinct tokens, far past the 4096 bitmask
    cutoff, so the verify runs the OPEN-VOCABULARY generic kernel —
    the true 100 TB text regime.

What it records:
  1. ``bucket_max`` / ``bucket_p50``: how adversarial the banding
     input is (the hottest (band,bucket) key holds every hot doc).
  2. ``verify_part_max`` / ``verify_part_p50``: rows per shuffle
     partition AT THE VERIFY JOIN under forced-shuffle confs
     (auto-broadcast −1 — the 100 TB regime where the corpus side
     cannot broadcast). The verify join keys on doc_id, not bucket,
     so the hot bucket's ~n_hot²/2 pairs fan out over n_hot distinct
     keys — a balanced histogram here IS the no-straggler proof.
  3. Interleaved wall times: forced-shuffle arm vs default-conf arm
     (AQE re-broadcasts the small sides at local scale — same query,
     the pre-100-TB plan), plus result-count parity between both.

Note AQE's skew-join split never fires here and would not help: the
skew is OUTPUT amplification inside the band self-join (input bytes
per partition stay tiny), and the 8 hot band keys already spread over
8 tasks. The structural protections are (a) banding keys carrying the
band id (n_bands× the key space), and (b) verify keyed on doc_id.

Usage: python -m tools.lshskew [--hot N] [--cold N] [--runs N]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def _build_corpus(spark, out_dir: str, n_hot: int, n_cold: int) -> None:
    from pyspark.sql import functions as F

    base_n = 40  # hot docs' shared vocabulary
    base = [f"hot_{i:02d}" for i in range(base_n)]
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.array_remove(
                F.array(*[F.lit(t) for t in base]),
                # drop one base token per doc -> pairwise
                # |A∩B|=38, |A∪B|=40 -> J = 0.95 > 0.9 threshold
                F.element_at(
                    F.array(*[F.lit(t) for t in base]),
                    (F.col("id") % base_n + 1).cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    cold = spark.range(n_cold).select(
        (F.col("id") + n_hot).alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: F.concat_ws(
                    "_", F.lit("c"), F.col("id"), i.cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    docs = hot.unionByName(cold).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("syn").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    docs.repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot", type=int, default=1500)
    ap.add_argument("--cold", type=int, default=8000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    # fd-level stdout hygiene (same as bench.py): exactly one JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from pyspark.sql import functions as F

    from logdb_spark.operators.llm import (
        _minhash_bands,
        _minhash_candidates,
        _set_pairs,
        _word_sets,
    )
    from logdb_spark.plans.session import get_spark

    spark = get_spark("logdb-lshskew")
    scratch = tempfile.mkdtemp(prefix="logdb_lshskew_")
    forced = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    try:
        _build_corpus(spark, scratch, args.hot, args.cold)

        def pipeline():
            cand = _minhash_candidates(spark, scratch)
            return _set_pairs(
                spark, *_word_sets(spark, scratch), 0.9, candidates=cand
            )

        def set_confs(confs):
            before = {k: spark.conf.get(k, None) for k in confs}
            for k, v in confs.items():
                spark.conf.set(k, v)
            return before

        def restore(before):
            for k, v in before.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)

        # 1. How hot is the hottest bucket?
        bucket_sizes = (
            _minhash_bands(spark, scratch)
            .groupBy("band", "bucket")
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.expr("percentile(count, 0.5)").alias("md"),
            )
            .first()
        )

        # 2. Partition balance at the verify join, forced-shuffle arm.
        #    spark_partition_id() right after the join reads the rows
        #    exactly as the join's reducers emitted them.
        before = set_confs(forced)
        try:
            hist = (
                pipeline()
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .agg(
                    F.max("count").alias("mx"),
                    F.expr("percentile(count, 0.5)").alias("md"),
                    F.count(F.lit(1)).alias("nparts"),
                )
                .first()
            )
        finally:
            restore(before)

        # 3. Interleaved wall times + parity, forced vs default confs.
        def timed_run(confs):
            before = set_confs(confs)
            try:
                t0 = time.perf_counter()
                n = pipeline().count()
                return time.perf_counter() - t0, n
            finally:
                restore(before)

        forced_s, default_s, counts = [], [], set()
        for _ in range(args.runs):
            dt, n = timed_run(forced)
            forced_s.append(dt)
            counts.add(n)
            dt, n = timed_run({})
            default_s.append(dt)
            counts.add(n)
        if len(counts) != 1:
            os.write(
                real_stdout,
                json.dumps({"parity": False, "counts": sorted(counts)})
                .encode() + b"\n",
            )
            return 1

        out = {
            "n_hot": args.hot,
            "n_cold": args.cold,
            "pairs": counts.pop(),
            "bucket_max": int(bucket_sizes["mx"]),
            "bucket_p50": float(bucket_sizes["md"]),
            "verify_part_max": int(hist["mx"]),
            "verify_part_p50": float(hist["md"]),
            "verify_nparts": int(hist["nparts"]),
            "forced_shuffle_sec": round(statistics.median(forced_s), 3),
            "default_sec": round(statistics.median(default_s), 3),
        }
        os.write(real_stdout, (json.dumps(out) + "\n").encode())
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
