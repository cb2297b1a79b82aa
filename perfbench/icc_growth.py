"""ICC growth probe for the ``expression_scale`` workload.

    python3 perfbench/icc_growth.py [icc_genes ...]

Runs the workload's chain once per ICC gene count (same seed, same
inputs otherwise; the gene count grows with it when it must), after
one warm-up chain, and prints the wall time of the ``meta`` operation:
F5 top-k, per-platform t, the gene x gene correlation join (G^2 x S
per platform), profile correlation, Stouffer.
Each size's result is checked against the NumPy reference.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.workloads import ExpressionScale

    run.size_session(ROOT)
    from transcriptomics_data_integration_spark.session import get_spark

    spark = get_spark("perfbench-icc")
    spark.sparkContext.setLogLevel("ERROR")
    sizes = [int(a) for a in argv] or [80, 320, 600, 1200]
    try:
        for k in [sizes[0]] + sizes:  # the first run warms the JVM
            wl = ExpressionScale(1, os.path.join(run.STATE, "work", f"icc-{k}"))
            base = ExpressionScale.sizes
            wl.sizes = dataclasses.replace(base, genes=max(base.genes, k), icc_genes=k)
            wl.stage()
            wl.prepare_reference()
            times = {}
            for op in wl.operations(spark):
                t = time.perf_counter()
                result = op.deliver(op.build())
                times[op.name] = time.perf_counter() - t
                assert not wl.check(op.name, result), op.name
            print(f"icc_genes={k} meta_s={times['meta']:.2f} matrix_s={times['matrix']:.2f}", flush=True)
            wl.cleanup()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
