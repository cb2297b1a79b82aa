"""Plan shape of suite queries: a one-line summary each, or full dumps.

Usage:
    python tools/explain.py <sf_dir> [query ...] [--full] [--out DIR]

With no query list, covers every ``bench.BENCH_QUERIES`` entry.  Plans
are built, not executed.  The summary comes from
``plans.inspect.plan_report`` (exchanges, join strategies, pushed
filters); ``--full`` also prints ``.explain("formatted")``, and
``--out DIR`` writes it to ``DIR/<query>.txt`` instead.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")

from transcriptomics_data_integration_spark.plans.inspect import (  # noqa: E402
    explain_formatted,
    plan_report,
)
from transcriptomics_data_integration_spark.session import get_spark  # noqa: E402
from transcriptomics_data_integration_spark.suite import QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    names = args.queries
    if not names:
        from bench import BENCH_QUERIES

        names = list(BENCH_QUERIES)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, args.sf_dir)
            rep = plan_report(df)
            text = explain_formatted(df) if args.out or args.full else ""
        except Exception as exc:  # noqa: BLE001 - record, keep going
            print(f"{name}: ERROR {exc}", flush=True)
            continue
        print(
            f"{name}: exchanges={rep.n_exchanges} bhj={rep.n_broadcast_joins} "
            f"smj={rep.n_sortmerge_joins} bnlj={rep.n_nested_loop_joins} "
            f"pushed_filters={len(rep.pushed_filters)} "
            f"take_ordered={rep.has_take_ordered}",
            flush=True,
        )
        if args.out:
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(f"== {name} @ {args.sf_dir}\n{text}\n")
        elif args.full:
            print(text)


if __name__ == "__main__":
    main()
