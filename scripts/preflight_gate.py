#!/usr/bin/env python
"""Pre-flight the driver's correctness gate locally: run the first 50
``queries()`` entries (the GATE_PRIORITY window) at sf0.01 against
their DuckDB oracles, exactly as the driver's verify does — row-count
plus exact value comparison on column-name-sorted, row-sorted values
(``tests/oracle_harness.compare``, the parity test's comparison, which
sorts rows by each cell's text so NULLs sort beside strings).  Run
this BEFORE a round ends whenever the window rotated or gate-row code
churned.

    python scripts/preflight_gate.py [--all] [names...]

--all checks every registered query (slow); naming specific queries
checks just those."""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from opengauss_vectordb_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    check_all = "--all" in sys.argv
    spark = get_spark()
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = (args or
             (list(qs) if check_all else list(qs)[:50]))
    fails = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, SF_DIR)
            if name not in oracles:
                print(f"ROWS {name}: {len(df.collect())} (no oracle — "
                      "rows-only)", flush=True)
                continue
            problems = compare(df, oracles[name], SF_DIR)
            if not problems:
                print(f"OK   {name}  ({time.time() - t0:.1f}s)",
                      flush=True)
            else:
                fails.append(name)
                print(f"FAIL {name}", flush=True)
                for p in problems[:4]:
                    print("   ", p)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:160]}",
                  flush=True)
    print("\nFAILURES:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
