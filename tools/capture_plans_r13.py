#!/usr/bin/env python3
"""Capture .explain("formatted") output for bench-timed (and named)
queries.

Writes plans/r13/<query>_<label>.txt. Usage:

    python tools/capture_plans_r13.py before [query ...]
    python tools/capture_plans_r13.py after  [query ...]

With explicit query names those are captured (ANY registry query, not
just the bench set — r13 touches non-bench operators like
rrf_hybrid_search and the collapsed pair variants); with none, the
whole bench set is dumped.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_eng_project_spark.plans import REGISTRY  # noqa: E402
from data_eng_project_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXTRA = [
    "dedup_ngram_jaccard_collapsed",
    "winsorize_length_bounds",
    "quantized_topk_agreement",
]
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = list(dict.fromkeys(sys.argv[2:]))
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_session("capture-plans-r13")
    spark.sparkContext.setLogLevel("ERROR")
    if only:
        missing = [n for n in only if n not in REGISTRY]
        if missing:
            raise SystemExit(f"not in REGISTRY: {missing}")
        names = only
    else:
        names = [n for n, s in REGISTRY.items() if s.headline] + EXTRA
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(OUT_DIR, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
