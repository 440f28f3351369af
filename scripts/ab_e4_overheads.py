"""Interleaved A/B for the r7 census "auto" prefilter resolving to exact
below the crossover, on the driver-scale dup/excise window gates. (The
curation_pipeline arm measured its exact-dedup checkpoint against the
re-scan form; that form is gone, and its numbers stay in
OPTIMIZATION_r07.md.)"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
import logagent_spark.queries as q  # noqa: E402
from logagent_spark.operators import textstats  # noqa: E402

SF = "/root/testdata/sf0.1"
ROUNDS = int(os.environ.get("AB_ROUNDS", "3"))


def main():
    spark = bench._session(32)
    spark.read.parquet(f"{SF}/documents.parquet").count()

    def dup_new():
        q.q_text_dup_windows(spark, SF).write.format("noop") \
            .mode("overwrite").save()

    def dup_old():
        old = textstats.AUTO_PREFILTER_MIN_WINDOWS
        textstats.AUTO_PREFILTER_MIN_WINDOWS = 1
        try:
            dup_new()
        finally:
            textstats.AUTO_PREFILTER_MIN_WINDOWS = old

    def exc_new():
        q.q_text_excise_windows(spark, SF).write.format("noop") \
            .mode("overwrite").save()

    def exc_old():
        old = textstats.AUTO_PREFILTER_MIN_WINDOWS
        textstats.AUTO_PREFILTER_MIN_WINDOWS = 1
        try:
            exc_new()
        finally:
            textstats.AUTO_PREFILTER_MIN_WINDOWS = old

    for label, new_fn, old_fn in [
        ("text_dup_windows", dup_new, dup_old),
        ("text_excise_windows", exc_new, exc_old),
    ]:
        new_t, old_t = [], []
        for _ in range(ROUNDS):
            t = time.monotonic(); new_fn()
            new_t.append(time.monotonic() - t)
            t = time.monotonic(); old_fn()
            old_t.append(time.monotonic() - t)
        print(f"{label}: new={[round(x,2) for x in new_t]} "
              f"old={[round(x,2) for x in old_t]} "
              f"best new={min(new_t):.2f}s old={min(old_t):.2f}s "
              f"old/new={min(old_t)/min(new_t):.2f}x", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
