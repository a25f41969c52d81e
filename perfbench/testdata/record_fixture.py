"""Re-record the small event log the reader test uses.

    python3 perfbench/testdata/record_fixture.py

Runs three spans against a local Spark session with the uncompressed event
log on: ``grouped`` (a shuffle under its own job group), ``threaded`` (a
parquet scan from a thread that does not inherit the group) inside
``root``. Keeps only the events and fields the reader uses.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing as tr  # noqa: E402

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted"}


def slim(e: dict) -> dict:
    if e["Event"] == "SparkListenerJobStart":
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        return {"Event": e["Event"], "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {"spark.jobGroup.id": group} if group else {}}
    if e["Event"] == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        return {"Event": e["Event"], "Stage Info": {
            "Stage ID": info["Stage ID"],
            "RDD Info": [{"Name": r["Name"]} for r in info["RDD Info"] if r["Name"] == "FileScanRDD"],
            "Accumulables": [a for a in info["Accumulables"]
                             if a["Name"].startswith("internal.metrics.")
                             and not a["Name"].startswith("internal.metrics.shuffle.read")],
        }}
    return {k: e[k] for k in ("Event", "Job ID", "Completion Time", "Job Result")}


def main() -> None:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp(prefix="perfbench-fixture-")
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + tmp)
            .getOrCreate()
        )
        sc = spark.sparkContext
        spark.range(1000).write.parquet(os.path.join(tmp, "t"))
        t = tr.Tracer(run_id="fixture", on_enter=lambda i, n: sc.setJobGroup(i, n),
                      on_exit=lambda i, n: sc.setJobGroup(i, n) if i else
                      sc.setLocalProperty("spark.jobGroup.id", None))
        with t.span("root"):
            with t.span("grouped"):
                spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
            with t.span("threaded"):
                th = threading.Thread(
                    target=lambda: spark.read.parquet(os.path.join(tmp, "t")).selectExpr("sum(id)").collect()
                )
                th.start()
                th.join()
        spark.stop()
        app = [p for p in os.listdir(tmp) if p.startswith(("eventlog_v2_", "local-"))][0]
        events = [slim(e) for e in tr.read_event_log(os.path.join(tmp, app)) if e["Event"] in KEEP]
        with open(os.path.join(HERE, "events.jsonl"), "w", encoding="utf-8") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
        t.dump(os.path.join(HERE, "spans.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
