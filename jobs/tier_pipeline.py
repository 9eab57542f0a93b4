"""spark-submit entry point: the full tier pipeline as a cluster job.

    # package the library
    bash jobs/package.sh                      # -> dist/sparkts.zip

    # run (cluster: swap --master / add --deploy-mode cluster)
    spark-submit --master local[8] \
        --py-files dist/sparkts.zip \
        jobs/tier_pipeline.py \
        --input /path/to/pages.parquet \
        --out   /path/to/tiers \
        --as-of "2026-01-15 00:00:00" \
        --forecast-h 24

Runs: pages → extraction-checked activity (ONE raw scan) → checkpointed
1m/5m/1h/1d tier cascade with per-partition lineage (resume-safe: rerun the
same command after a kill and completed days are skipped) → retention →
gap-filled 1h panel → SeasonalNaive/Naive forecast written next to the
tiers. Prints a one-line JSON summary to stdout.

get_spark() sets no master and no heap here, so spark-submit's --master
and memory flags hold; the OPENBLAS/OMP clamps ship to executors via
spark.executorEnv.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    ap.add_argument("--out", required=True, help="output dir for tiers + lineage")
    ap.add_argument("--as-of", default=None, help="retention as-of timestamp")
    ap.add_argument("--forecast-h", type=int, default=24)
    ap.add_argument("--app-name", default="sparkts-tier-pipeline")
    args = ap.parse_args()

    # imports AFTER arg parsing so --help works without the zip
    from pyspark.sql import functions as F

    from sparkts.datagen import extract_text
    from sparkts.engine import SparkForecast
    from sparkts.kernels import Naive, SeasonalNaive
    from sparkts.lineage import TierPipeline
    from sparkts.operators import (
        apply_retention,
        crawl_activity_checked,
        gap_fill,
    )
    from sparkts.session import get_spark

    # master="" → spark-submit owns the master and the heap (its default,
    # local[*], covers direct runs)
    spark = get_spark(args.app_name, master="")
    t0 = time.perf_counter()

    pages = spark.read.parquet(args.input)
    act = crawl_activity_checked(
        extract_text(pages), F.col("extracted_text") != F.col("text")
    )

    pipe = TierPipeline(spark, args.out, key_cols=["domain"])
    new_days = pipe.run(act, ts_col="warc_ts", value_col="bytes",
                        extra_aggs={"n_bad": F.sum("bad")})

    tiers = {t: pipe.read_tier(t) for t in new_days}
    kept = apply_retention(tiers, as_of=args.as_of) if args.as_of else tiers
    tier_counts = {t: df.count() for t, df in kept.items()}
    # finest tier by WIDTH (string min would pick '1d'); n_bad must be 0 —
    # the north rule's byte-identical-extraction invariant
    from sparkts.operators.rollup import TIERS as _TIERS
    finest = min(tiers, key=lambda t: _TIERS[t])
    n_bad = (tiers[finest].agg(F.sum("n_bad")).collect()[0][0]
             if "n_bad" in tiers[finest].columns else None)

    filled = gap_fill(tiers["1h"], ["domain"], "bucket", value_cols=[],
                      step_s=3600, zero_cols=["v_sum"])
    panel = filled.select(
        F.col("domain").alias("unique_id"),
        F.col("bucket").alias("ds"),
        F.col("v_sum").alias("y"),
    )
    eng = SparkForecast([SeasonalNaive(24), Naive()], freq="h")
    fc_path = f"{args.out}/forecast_1h"
    eng.forecast(panel, h=args.forecast_h).write.mode("overwrite").parquet(fc_path)

    print(json.dumps({
        "seconds": round(time.perf_counter() - t0, 2),
        "tier_points": tier_counts,
        "extraction_mismatches": n_bad,
        "forecast_path": fc_path,
        "lineage": f"{args.out}/_lineage",
        "new_day_partitions": new_days,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
