"""Tests for the event-log summary: python3 -m unittest tools/test_evlog.py"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from evlog import stage_peaks, summarise  # noqa: E402

MB = 2**20
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def task(stage, peak_mb):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1100},
            "Task Metrics": {"Peak Execution Memory": peak_mb * MB}}


def stage_done(stage, name):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Name": name}}


def synthetic_log():
    """Two SQL executions: sql 0's job runs a six-task stage (peaks 1..6 MB)
    and a one-task stage holding nothing; sql 1's job runs a two-task stage
    (peaks 30 and 1 MB)."""
    return ([{"Event": "SparkListenerApplicationStart", "Timestamp": 0},
             {"Event": SQL_START, "executionId": 0, "time": 10,
              "description": "knn"},
             {"Event": "SparkListenerJobStart", "Job ID": 0,
              "Submission Time": 20, "Stage IDs": [0, 1],
              "Properties": {"spark.sql.execution.id": "0"}}]
            + [task(0, mb) for mb in (1, 2, 3, 4, 5, 6)]
            + [task(1, 0), stage_done(0, "run at Pairs.scala:12"),
               stage_done(1, "count at Pairs.scala:13"),
               {"Event": "SparkListenerJobEnd", "Job ID": 0,
                "Completion Time": 900},
               {"Event": SQL_END, "executionId": 0, "time": 950},
               {"Event": SQL_START, "executionId": 1, "time": 1000,
                "description": "funnel"},
               {"Event": "SparkListenerJobStart", "Job ID": 1,
                "Submission Time": 1010, "Stage IDs": [2],
                "Properties": {"spark.sql.execution.id": "1"}},
               task(2, 30), task(2, 1), stage_done(2, "collect at F.scala:7"),
               {"Event": "SparkListenerJobEnd", "Job ID": 1,
                "Completion Time": 1500},
               {"Event": SQL_END, "executionId": 1, "time": 1600},
               {"Event": "SparkListenerApplicationEnd", "Timestamp": 2000}])


class MemoryTest(unittest.TestCase):

    def test_a_stage_sums_its_four_largest_task_peaks_largest_first(self):
        (_, _, _, jobs, stage_job, _, _, _, _, task_peaks,
         stage_names) = summarise(synthetic_log())
        self.assertEqual(
            stage_peaks(jobs, stage_job, task_peaks, stage_names),
            [(31 * MB, 1, 2, "collect at F.scala:7"),
             ((3 + 4 + 5 + 6) * MB, 0, 0, "run at Pairs.scala:12")])

    def test_the_memory_flag_prints_one_line_per_stage(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "app-1")
            with open(path, "w", encoding="utf-8") as fh:
                for e in synthetic_log():
                    fh.write(json.dumps(e) + "\n")
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "evlog.py"), path,
                 "--memory"], capture_output=True, text=True, check=True).stdout
        lines = out.splitlines()
        head = next(i for i, l in enumerate(lines) if "peak_mb" in l)
        self.assertIn("2 stages held execution memory", lines[head - 1])
        self.assertEqual(lines[head + 1].split()[:4], ["31.0", "1", "2", "collect"])
        self.assertEqual(lines[head + 2].split()[:4], ["18.0", "0", "0", "run"])
        self.assertTrue(lines[head + 3].startswith("--"))


if __name__ == "__main__":
    unittest.main()
