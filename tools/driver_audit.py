"""Driver-mirror audit at the driver's scale factor (sf0.01): a CLI over
the strict comparator in ``tests/oracle_harness.py``.

Usage:
    python tools/driver_audit.py --scan                 # output-type risk scan, all registry queries
    python tools/driver_audit.py [name ...]             # strict compare for named queries
    python tools/driver_audit.py --all                  # strict compare, every oracle query
    python tools/driver_audit.py --window N             # restrict to first N registry entries

The scan compares no rows, but is not free: building some DataFrames
runs a driver-side fit (the BPE and PCA entries) just to expose a schema.
Prints PASS/FAIL per query and exits 1 if any query has a problem.
"""

from __future__ import annotations

import os
import sys
import time

# PySpark's collect() materializes TimestampType via the PROCESS-local
# timezone (datetime.fromtimestamp), not spark.sql.session.timeZone —
# on a non-UTC host every collected timestamp would shift against
# DuckDB's stored-UTC values and all timestamp queries would FAIL
# spuriously. Pin the process to UTC before anything collects.
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import compare, risky_fields  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main(argv: list[str]) -> int:
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.session import get_session

    scan_only = "--scan" in argv
    window = None
    if "--window" in argv:
        window = int(argv[argv.index("--window") + 1])
    names = [a for a in argv if not a.startswith("--") and not a.isdigit()]

    entries = list(REGISTRY.items())
    if window is not None:
        entries = entries[:window]
    if names:
        entries = [(n, REGISTRY[n]) for n in names]

    spark = get_session()
    n_bad = 0
    for name, spec in entries:
        if spec.oracle is None and not scan_only:
            continue
        t0 = time.time()
        problems = []
        try:
            df = spec.fn(spark, SF_DIR)
            if scan_only:
                risks = risky_fields(df.schema)
                if risks:
                    n_bad += 1
                    print(f"RISK {name}: {risks}")
                continue
            compare(df, SF_DIR, spec.oracle)
        except AssertionError as e:
            problems = str(e).splitlines()
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if problems:
            n_bad += 1
            print(f"FAIL {name} ({dt:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"PASS {name} ({dt:.1f}s)")
    print(f"\n{n_bad} problem queries / {len(entries)} checked")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
