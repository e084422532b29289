"""Physical-plan red-flag sweep over every queries() entry: builds each
query's DataFrame at the given sf_dir and greps its executed plan for the
operators that do not survive a 100x scale-up — CartesianProduct and
BroadcastNestedLoopJoin — plus, for context, an Exchange (shuffle) count
and a FlatMapGroupsInPandas count: the grouped-map nodes that still pay a
Python call per key (not a red flag; it shows where that cost remains).

Queries that RUN work eagerly when called (streaming availableNow sinks,
driver-side sketch builds) still only pay their normal cost; the plan
inspected is the returned DataFrame's.

Expected flags (labeled exact baselines whose all-pairs shape is the
point): q30_embedding_neardup_exact (pairwise cosine over ids), q11's
brute-force scoring is mapInPandas (no join), so it should NOT flag.

Usage: python tools/audit_plans.py [sf_dir] [prefix ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from bloomfilter_spark.config import get_spark  # noqa: E402

RED = ("CartesianProduct", "BroadcastNestedLoopJoin")


def main(sf_dir: str, only: list[str] | None = None) -> int:
    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    qs = entry_mod.queries()
    if only:
        qs = {k: v for k, v in qs.items()
              if any(k.startswith(p) for p in only)}
    flagged, errors = [], []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            errors.append((name, f"{type(e).__name__}: {e}"))
            continue
        hits = [r for r in RED if r in plan]
        n_ex = plan.count("Exchange")
        n_fg = plan.count("FlatMapGroupsInPandas")
        mark = " <-- RED" if hits else ""
        print(f"{name}: exchanges={n_ex} flatmap_groups_in_pandas={n_fg} "
              f"{','.join(hits) or '-'}{mark}")
        if hits:
            flagged.append((name, hits))
    print(f"\nflagged: {flagged or 'none'}")
    if errors:
        print(f"errors: {errors}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
                  sys.argv[2:] or None))
