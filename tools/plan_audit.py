"""Plan-shape audit over the whole registry (r13 optimization sweep).

For every ``queries()`` entry, build the DataFrame (no action beyond what
query construction itself runs) and count ``Scan parquet`` / ``Exchange``
occurrences in the formatted physical plan. Queries whose scan count far
exceeds their distinct input tables re-evaluate some subtree per branch —
the multi-consumer pattern this round hunts.

Usage: python tools/plan_audit.py [sf_dir] > /tmp/plan_audit.tsv
"""

from __future__ import annotations

import io
import os
import sys
import traceback
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from eventstore_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    qs = entry.queries()
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            scans = plan.count("Scan parquet")
            mem = plan.count("InMemoryTableScan")
            exch = plan.count("Exchange")
            bnlj = plan.count("BroadcastNestedLoopJoin")
            py = (plan.count("BatchEvalPython")
                  + plan.count("ArrowEvalPython")
                  + plan.count("MapInPandas") + plan.count("MapInArrow"))
            print(f"{name}\t{scans}\t{mem}\t{exch}\t{bnlj}\t{py}",
                  flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"{name}\tERR\t{e!r}", flush=True)
            traceback.print_exc(file=sys.stderr)


if __name__ == "__main__":
    main()
