"""Isolated min-of-5 arbitration for the two whipsawing headline rows
(r11 verdict asks #2 and #4): dedup_minhash_lsh (retirement band
0.6-1.2 s) and enrich_indicators (historical clean band 1.06-1.30 s).

Protocol: one bench-identical session (get_spark, sf0.1, noop force),
one warm-up execution per query, then FIVE timed executions each —
every observation recorded, min + median reported.

Run on an idle machine:

    PYTHONPATH=/root/repo python tools/headline_band_arbitration.py
"""

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from big_data_engineering_financial_analysis_spark import get_spark  # noqa: E402
from big_data_engineering_financial_analysis_spark.plans.registry import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
N = 5

spark = get_spark("band-arbitration")


def force(df):
    df.write.mode("overwrite").format("noop").save()


def run(name):
    t0 = time.perf_counter()
    force(QUERIES[name](spark, SF_DIR))
    return round(time.perf_counter() - t0, 3)


out = {}
for name in ("dedup_minhash_lsh", "enrich_indicators"):
    run(name)  # warm-up: plan compilation + JIT, uncharged
    obs = [run(name) for _ in range(N)]
    srt = sorted(obs)
    out[name] = {
        "obs": obs,
        "min": srt[0],
        "median": srt[N // 2],
        "max": srt[-1],
    }
    spark.catalog.clearCache()

print(json.dumps(out))
spark.stop()
