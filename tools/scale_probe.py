"""Empirical scaling probe: time key operators at 1x/2x/4x/8x data.

The correctness gate runs at sf0.01 and bench at sf0.1; this tool
backs the "holds at scale" design claims with measured growth curves.
It builds k-times-scaled copies of the hot tables in /tmp by unioning
sf0.1 with key-shifted copies, then times selected queries end-to-end
(noop sink) at each scale and prints per-query seconds plus the
log2(t_k/t_1)/log2(k) growth exponent (1.0 = perfectly linear).

Scaling model per table (matches how the real corpus grows):
- documents: doc_id shifted, a per-copy suffix token appended to text
  (new documents are distinct, not byte-clones);
- embeddings: vec_id shifted AND label shifted per copy — corpus
  growth adds new IVF cells/blocks, it does not inflate one block
  (that is the blocked-ANN scaling contract; a hot block is the skew
  case j12's chunking bounds separately);
- orders/lineitem: orderkey spine shifted per copy (new orders);
- all other tables copied 1x (dims stay dims).

Usage: python tools/scale_probe.py [--scales 1,2,4,8] [--queries ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from servicenow_cmdb_integration_to_aws_spark.session import build_session
from servicenow_cmdb_integration_to_aws_spark.sources.tables import TABLE_NAMES

SRC = "/root/testdata/sf0.1"

DEFAULT_QUERIES = [
    "d2_agg_group",        # partial-agg shuffle over lineitem
    "c2_join_shuffle",     # large equi-join + reagg
    "t4_golden_q18",       # agg-before-join 3-way
    "e8_dedup_latest",     # window keep-latest (events: fixed size)
    "h12_wordcount",       # explode + partial agg
    "j1_exact_dedup",      # single hash shuffle
    "j2_minhash_lsh",      # LSH banding (group-collapse guards dups)
    "j8_tfidf",            # explode + co-keyed joins
    "j12_embedding_neardup",  # blocked all-pairs (blocks stay bounded)
    "j15_dup_clusters",    # digest window
    "j17_bigram_lm",       # map-side bigrams + count joins
]


def build_scaled(spark, k: int) -> str:
    out = f"/tmp/scale_{k}x"
    if os.path.isdir(out) and os.path.exists(f"{out}/.complete"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    for t in TABLE_NAMES:
        src = f"{SRC}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if (
            t not in ("documents", "embeddings", "orders", "lineitem", "events")
            or k == 1
        ):
            shutil.copy(src, dst)
            continue
        # ns-timestamp events parquet reads ts as raw nanos LONG (the
        # session's nanosAsLong) and stays long in the scaled copy, so
        # the engine's scan() path still applies its own conversion.
        df = spark.read.parquet(src)
        parts = []
        for i in range(k):
            if t == "documents":
                # suffix EVERY token per copy: cross-copy Jaccard is 0,
                # so the near-dup structure per copy matches 1x and the
                # probe measures machinery scaling, not output growth.
                # (Appending one shared token instead makes every copy a
                # genuine near-dup of the original — the output pair set
                # then grows k^2 SEMANTICALLY, which is a corpus
                # property, not an operator property.)
                shift = 10_000_000 * i
                parts.append(
                    df.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
                    .withColumn(
                        "text",
                        F.regexp_replace("text", r"(\S+)", rf"$1q{i}")
                        if i
                        else F.col("text"),
                    )
                    .withColumn(
                        "n_chars",
                        F.length("text").cast("long"),
                    )
                )
            elif t == "embeddings":
                parts.append(
                    df.withColumn(
                        "vec_id", F.col("vec_id") + F.lit(10_000_000 * i)
                    ).withColumn("label", F.col("label") + F.lit(1000 * i))
                )
            elif t == "orders":
                parts.append(
                    df.withColumn(
                        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000 * i)
                    )
                )
            elif t == "events":
                # new users per copy (org growth): same time range, k x
                # the per-bucket occupancy — the c14 stress axis.
                parts.append(
                    df.withColumn(
                        "event_id", F.col("event_id") + F.lit(10_000_000 * i)
                    ).withColumn("user_id", F.col("user_id") + F.lit(1_000_000 * i))
                )
            else:  # lineitem
                parts.append(
                    df.withColumn(
                        "l_orderkey", F.col("l_orderkey") + F.lit(100_000_000 * i)
                    )
                )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        # single output file per table to mirror the source layout
        u.coalesce(max(4, k)).write.mode("overwrite").parquet(dst)
    open(f"{out}/.complete", "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    spark = build_session("scale-probe")
    queries = entrymod.queries()
    results: dict[str, dict[int, float]] = {q: {} for q in args.queries}

    # untimed warmup at base scale: JVM + codegen + parquet footers —
    # otherwise the first scale's numbers carry ~3-4 s of cold-start
    # and every growth exponent is garbage
    warm_dir = build_scaled(spark, scales[0])
    for q in args.queries:
        queries[q](spark, warm_dir).write.mode("overwrite").format("noop").save()

    for k in scales:
        sf_dir = build_scaled(spark, k)
        for q in args.queries:
            t0 = time.perf_counter()
            queries[q](spark, sf_dir).write.mode("overwrite").format("noop").save()
            results[q][k] = round(time.perf_counter() - t0, 3)
            print(f"  {k}x {q}: {results[q][k]}s", file=sys.stderr)

    base = scales[0]
    top = scales[-1]
    print(json.dumps({"scales": scales, "results": results}))
    print("\n| query | " + " | ".join(f"{k}x s" for k in scales) + " | exponent |")
    print("|---|" + "---|" * (len(scales) + 1))
    for q in args.queries:
        r = results[q]
        exp = (
            math.log(r[top] / r[base]) / math.log(top / base)
            if r[base] > 0 and top > base
            else float("nan")
        )
        cells = " | ".join(f"{r[k]:.2f}" for k in scales)
        print(f"| {q} | {cells} | {exp:.2f} |")


if __name__ == "__main__":
    main()
