"""Stage and SQL-node metrics of one job group, read from the Spark UI REST
API of the running application.

Stages are found through the jobs of a job group, never by stage name:
under AQE every stage carries the same anonymous-function name. SQL-node
row counts come from ``/sql?details=true``. Byte counts stay raw bytes.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def _settled(self, group: str) -> list[dict]:
        """The group's jobs once the UI listener has caught up: every job
        ended and every one of its stages reported."""
        for _ in range(100):
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.05)
        raise RuntimeError(f"jobs of group {group!r} did not settle")

    def group_stats(self, group: str) -> dict:
        """Totals over the completed stages of ``group``'s jobs, and the
        task skew (max / median task run time) of its slowest stage."""
        jobs = self._settled(group)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        out = {
            "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            # (records, bytes) each stage wrote to its shuffle
            "shuffle_writes": [
                (s.get("shuffleWriteRecords", 0), s.get("shuffleWriteBytes", 0))
                for s in stages
            ],
            "task_skew": 0.0,
        }
        if stages:
            slow = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"stages/{slow['stageId']}/{slow['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )
            med, top = q["executorRunTime"]
            out["task_skew"] = top / med if med > 0 else float(top > 0)
        out["sql_nodes"] = self._sql_nodes(job_ids)
        return out

    def _sql_nodes(self, job_ids: set[int]) -> list[dict]:
        """(nodeName, metric name -> value) for every plan node of the SQL
        executions that ran ``job_ids``."""
        nodes = []
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for n in ex.get("nodes", []):
                nodes.append({
                    "name": n["nodeName"],
                    "metrics": {m["name"]: m["value"] for m in n.get("metrics", [])},
                })
        return nodes


def metric_count(value: str) -> int:
    """A SQL metric value as an integer: '1,234' or the total of a
    'total (min, med, max ...)' line."""
    m = re.search(r"[\d,]+", value.replace("\n", " "))
    return int(m.group(0).replace(",", "")) if m else 0


def node_rows(stats: dict, node_name: str) -> int:
    """Output rows summed over the plan nodes named ``node_name``."""
    return sum(
        metric_count(n["metrics"].get("number of output rows", "0"))
        for n in stats["sql_nodes"]
        if n["name"] == node_name
    )
