"""Decompose stream_incremental_dedup's per-batch cost (VERDICT r8 #5).

The r8 scaling curve measured the query at exponent 0.71 over
sf0.1→sf1 — the highest production-path exponent on the curve. This
tool answers WHY, the way stream_first_seen_tws was decomposed in r7:
run the SAME 3-wave availableNow harness with four foreachBatch
bodies of increasing work and min-of-N each at both scale factors:

  noop    — count() the arriving batch only: tape read + trigger +
            micro-batch machinery; the fixed per-batch floor.
  sig     — compute the LSH band rows (shingle → minhash → band) and
            count() them; adds the signature cost.
  index   — sig + append the band rows to the parquet index; adds the
            index-write cost (no probe).
  full    — the real query body: probe the accumulated index, write
            the matched pairs, then append (what the registry runs).

Component costs: floor = noop; signature = sig − noop; index write =
index − sig; probe+pairs = full − index. The exponent of each
component across the 10× tells which part actually scales with data
and which is per-batch protocol floor.

Usage: python tools/decompose_incdedup.py [sf0.1_dir] [sf1_dir] [passes]
Writes decompose_incdedup.json and prints one row per (variant, sf).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.session import get_spark


def build_tape(spark, sf_dir: str) -> str:
    from pyspark.sql import functions as F

    from arcon_spark.io import load_table
    from arcon_spark.streaming.queries import _SPLIT_TAPE_CACHE
    from arcon_spark.streaming.tape import write_segments

    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "docs3"))
    if cached is not None and os.path.isdir(cached[0]):
        return cached[0]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = write_segments([docs.filter(F.col("doc_id") % 3 == k) for k in range(3)])
    _SPLIT_TAPE_CACHE[(sf_dir, "docs3")] = (root, None)
    return root


def run_variant(spark, sf_dir: str, variant: str) -> float:
    from pyspark.sql import functions as F

    from arcon_spark.functions.dedup import (
        lsh_bands_of,
        shingles_of,
        signatures_of_shingles,
    )
    from arcon_spark.scratch import scratch_dir
    from arcon_spark.streaming.queries import _drain
    from arcon_spark.streaming.tape import read_segments

    root = build_tape(spark, sf_dir)
    work = scratch_dir("arcon_incdec_")
    index_dir = os.path.join(work, "band_index")
    results_dir = os.path.join(work, "pairs")

    def handle(batch_df, batch_id):
        if variant == "noop":
            batch_df.count()
            return
        bands = lsh_bands_of(signatures_of_shingles(shingles_of(batch_df)))
        if variant == "sig":
            bands.count()
            return
        bands = bands.persist()
        if variant == "full" and os.path.isdir(index_dir):
            idx = spark.read.parquet(index_dir)
            (
                idx.alias("a")
                .join(bands.alias("b"), ["band_id", "band_hash"])
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
                .write.mode("append")
                .parquet(results_dir)
            )
        bands.write.mode("append").parquet(index_dir)
        bands.unpersist()

    writer = (
        read_segments(spark, root, "doc_id long, text string")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
    )
    t0 = time.monotonic()
    _drain(spark, writer)
    return time.monotonic() - t0


def main() -> int:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scratch", "sf1")
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("decompose_incdedup")

    variants = ("noop", "sig", "index", "full")
    results: dict[str, dict[str, float]] = {v: {} for v in variants}
    for sf_key, sf_dir in (("t_sf01", sf01), ("t_sf1", sf1)):
        build_tape(spark, sf_dir)
        # warm pass over every variant first (C2 JIT of the query paths)
        for v in variants:
            run_variant(spark, sf_dir, v)
        for v in variants:
            best = min(run_variant(spark, sf_dir, v) for _ in range(passes))
            results[v][sf_key] = round(best, 2)
            print(f"{sf_key:7s} {v:6s} {results[v][sf_key]}", flush=True)

    # component decomposition at each SF
    comp = {}
    for sf_key in ("t_sf01", "t_sf1"):
        n = results["noop"][sf_key]
        s = results["sig"][sf_key]
        i = results["index"][sf_key]
        f = results["full"][sf_key]
        comp[sf_key] = {
            "floor": round(n, 2),
            "signature": round(s - n, 2),
            "index_write": round(i - s, 2),
            "probe_pairs": round(f - i, 2),
            "full": round(f, 2),
        }
    out = {"variants": results, "components": comp}
    with open(os.path.join(REPO, "decompose_incdedup.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(comp, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
