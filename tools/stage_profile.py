"""Per-stage profile of one query's steady-state run: name, tasks,
executorRunTime vs executorCpuTime (the parked-time attribution meter),
input rows. Usage: python tools/stage_profile.py [sf_dir] query
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from affinity_spark import get_spark
from affinity_spark.cache import release_shared


USAGE = "usage: python tools/stage_profile.py [sf_dir] query"


def parse_args(args: list[str]) -> tuple[str, str]:
    """(sf_dir, query): the first argument is the sf_dir only when a query
    name follows it, so a query named like a directory stays a query."""
    if len(args) not in (1, 2):
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    sf_dir = (
        args[0]
        if len(args) == 2
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    return sf_dir, args[-1]


def main() -> None:
    sf_dir, name = parse_args(sys.argv[1:])
    spark = get_spark(
        app_name="affinity-stage-profile",
        conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "40000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    fn = queries[name]
    # warm run (codegen/classloader), then the measured run
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_shared()
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def stages():
        url = (
            f"{ui}/api/v1/applications/{app}/stages"
            "?status=complete&status=failed"
        )
        with urllib.request.urlopen(url, timeout=10) as r:
            return {(s["stageId"], s.get("attemptId", 0)): s
                    for s in json.load(r)}

    before = stages()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    after = stages()
    rows = []
    for key, s in after.items():
        if key in before:
            continue
        rows.append((
            s["stageId"],
            int(s.get("executorRunTime", 0)),
            int(s.get("executorCpuTime", 0)) // 1_000_000,
            int(s.get("numCompleteTasks", 0) or s.get("numTasks", 0)),
            int(s.get("inputRecords", 0)),
            (s.get("name") or "").split("\n")[0][:90],
        ))
    rows.sort(key=lambda r: -r[1])
    print(f"{'stage':>6} {'run_ms':>8} {'cpu_ms':>8} {'tasks':>6} {'in_rows':>9}  name")
    for sid, run, cpu, nt, ir, nm in rows:
        print(f"{sid:>6} {run:>8} {cpu:>8} {nt:>6} {ir:>9}  {nm}")
    print(f"total stages={len(rows)} run={sum(r[1] for r in rows)} cpu={sum(r[2] for r in rows)}")


if __name__ == "__main__":
    main()
