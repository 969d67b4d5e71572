"""100x-row scale ladder for the dedup family (SCALE.md r12).

Extends the per-round 10x protocol (union of id-shifted copies of the
sf0.1 documents table with per-copy text suffixes — so every doc gains
N-1 lexical near-copies, the adversarial near-dup case) to 100x:
base (5k docs) -> 10x (50k) -> 100x (500k), measuring the two operators
whose OUTPUT grows with near-dup structure:

* ``MinHashDeduplicator.transform`` — star-paired banded LSH dedup;
* ``MinHashTopK.topk`` — capped band-bucket top-k search.

Usage: python tools/scale100_dedup.py [reps_small] [reps_100x]
Prints one line per point plus a RESULT summary; warm best-of-reps,
``clearCache`` between reps (same discipline as prior rounds).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_ml__spark.functions.dedup import (MinHashDeduplicator,  # noqa: E402
                                             MinHashTopK)
from flink_ml__spark.session import get_spark  # noqa: E402
from flink_ml__spark.sources import load_table  # noqa: E402


def replicate(docs, n_copies):
    copies = [docs.select(
        (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
        F.concat("text", F.lit(f" copysuffix{i}")).alias("text"))
        for i in range(n_copies)]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    return big


def main():
    reps_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    reps_big = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    # sized to the host (session.host_size); SPARK_DRIVER_MEM overrides
    spark = get_spark("scale100")
    print("loadavg:", os.getloadavg())
    docs = (load_table(spark, "documents", "/root/testdata/sf0.1")
            .select("doc_id", "text"))

    frames = {}
    for mult, parts in ((1, 32), (10, 64), (100, 256)):
        f = (replicate(docs, mult).repartition(parts).persist())
        frames[mult] = f
        print(f"{mult}x: {f.count()} docs")

    def run_dedup(frame):
        MinHashDeduplicator().setSeed(42).transform(frame) \
            .write.format("noop").mode("overwrite").save()

    def run_topk(frame):
        op = (MinHashTopK().setSeed(42).setK(3).setMinJaccard(0.05)
              .setBands(12).setMaxBandBucket(64))
        q = frame.filter(F.col("doc_id") % 17 == 0)
        op.topk(q, frame).write.format("noop").mode("overwrite").save()

    results = {}
    for label, fn in (("minhash_dedup", run_dedup),
                      ("minhash_topk", run_topk)):
        for mult in (1, 10, 100):
            reps = reps_big if mult == 100 else reps_small
            best = None
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(frames[mult])
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                # operator-internal signature caches are evicted by the
                # dedup module's bounded registry; input frames stay
                # persisted so later reps measure the operator alone
            results[(label, mult)] = best
            print(f"{label} {mult}x: {best:.2f} s", flush=True)

    for label in ("minhash_dedup", "minhash_topk"):
        a, b, c = (results[(label, m)] for m in (1, 10, 100))
        print(f"RESULT {label}: {a:.2f} -> {b:.2f} ({b / a:.1f}x) "
              f"-> {c:.2f} ({c / a:.1f}x vs 1x, {c / b:.1f}x vs 10x)")


if __name__ == "__main__":
    main()
