"""Write data/eventlog.jsonl, the event log test_tracing.py parses.

    python3 perfbench/tests/make_eventlog.py

Runs three small jobs under the benchmark's Tracer with the event log
on, then keeps only the job, stage and task events (trimmed of their
per-stage RDD and accumulator details) so the committed file stays
small.
"""

from __future__ import annotations

import json
import operator
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")


def main() -> None:
    from pyspark.sql import SparkSession

    from tracing import Tracer

    with tempfile.TemporaryDirectory(dir=HERE) as logdir:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", logdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        tracer = Tracer(sc)
        sc.parallelize(range(9), 3).count()
        with tracer.span("outer"):
            sc.parallelize(range(8), 2).count()
            with tracer.span("inner"):
                sc.parallelize(range(8), 4).map(lambda x: (x % 2, 1)).reduceByKey(
                    operator.add, 2
                ).collect()
        spark.stop()
        (name,) = os.listdir(logdir)
        with open(os.path.join(logdir, name)) as f:
            events = [json.loads(line) for line in f]

    out = os.path.join(HERE, "data", "eventlog.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        for ev in events:
            if ev["Event"] not in KEEP:
                continue
            ev.pop("Stage Infos", None)
            if "Properties" in ev:
                ev["Properties"] = {
                    k: v for k, v in ev["Properties"].items() if k.startswith("spark.job")
                }
            if "Task Info" in ev:
                ev["Task Info"].pop("Accumulables", None)
            f.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    main()
