"""Fixed cost of a Python task: run N trivial ``mapInPandas`` tasks on a
``get_spark`` session and print, as one JSON line,

- ``median_gap_ms``: the median gap between the end of one task's UDF
  and the start of the next task's UDF on the same worker process
  (what a reused worker spends between tasks: reading the task,
  ``setup_spark_files``, deserializing the UDF);
- ``init_s``: the MapInPandas SQL metric "time to initialize Python
  workers", summed over the tasks.

Usage: python tools/worker_tax.py [--tasks 96] [--master local[4]]
                                  [--conf KEY=VALUE ...]

``--conf spark.python.daemon.module=pyspark.daemon`` measures the stock
daemon instead of the one ``get_spark`` picks for local masters.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))  # its plan reader


def _stamp(batches):
    import os
    import time

    import pandas as pd

    t0 = time.time()
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "t0": [t0], "t1": [time.time()]})


def median_gap_s(rows) -> float:
    """Median of next-start minus previous-end over consecutive tasks of
    each worker process; rows are (pid, t0, t1)."""
    by_pid: dict = {}
    for pid, t0, t1 in rows:
        by_pid.setdefault(pid, []).append((t0, t1))
    gaps = []
    for spans in by_pid.values():
        spans.sort()
        gaps += [b[0] - a[1] for a, b in zip(spans, spans[1:])]
    return statistics.median(gaps) if gaps else float("nan")


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=96)
    ap.add_argument("--master", default=None)
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE")
    args = ap.parse_args(argv)

    from raster_tools_spark.session import get_spark
    from tracing import plan_nodes

    conf = {"spark.ui.showConsoleProgress": "false",
            **dict(kv.split("=", 1) for kv in args.conf)}
    spark = get_spark(app_name="worker-tax", master=args.master,
                      extra_conf=conf)
    try:
        df = spark.range(0, args.tasks, 1, args.tasks).mapInPandas(
            _stamp, "pid long, t0 double, t1 double")
        rows = [tuple(r) for r in df.collect()]
        init_ms = sum(
            m.get("time to initialize Python workers", 0)
            for name, m in plan_nodes(df) if name == "MapInPandas"
        )
        out = {
            "tasks": len(rows),
            "workers": len({r[0] for r in rows}),
            "median_gap_ms": round(median_gap_s(rows) * 1e3, 1),
            "init_s": round(init_ms / 1e3, 3),
            "daemon_module": spark.conf.get("spark.python.daemon.module",
                                            "pyspark.daemon"),
            "master": spark.sparkContext.master,
            "python": sys.version.split()[0],
        }
    finally:
        spark.stop()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
