"""``pipeline_tick``: the reference's whole DAG, one ``run_pipeline_once``
call per tick on one persistent work dir.

Before each tick a new batch of generated customer events lands in the
input directory, with the anomaly scenario of ``tools/pipeline_tick_sf1.py``
(20% late, 10% missing country/plan, schema drift every 10th event), and
``now`` moves on by five minutes. Quality scoring is on. The work lands in
the streaming ingest, the DQ suite (which re-scans the growing curated table
every tick), the decision agent and the incident store.
"""

from __future__ import annotations

import json
import sys
import traceback
from collections import Counter
from datetime import datetime, timedelta, timezone
from pathlib import Path

import duckdb

from perfbench.workload import Workload

#: the anomaly scenario of tools/pipeline_tick_sf1.py
SCENARIO = {"late_rate": 0.2, "missing_rate": 0.1, "drift_frequency": 10}
N_CUSTOMERS = 1000
TICK_MINUTES = 5
START = datetime(2024, 1, 15, 1, 0, 0, tzinfo=timezone.utc)
LATE_SECONDS = 15 * 60
LATE_ESCALATION = 0.15
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class PipelineTick(Workload):
    def __init__(self, spark, work: Path, seed: int, events_per_tick: int,
                 n_ticks: int, tracer) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.events_per_tick, self.n_ticks = events_per_tick, n_ticks
        self.tracer = tracer
        #: tick -> the dict run_pipeline_once returned
        self.results: dict[int, dict] = {}

    def generate(self) -> None:
        """Write every tick's event batch to a staging directory, and build
        the quality-score model constant the tick embeds."""
        from autonomous_orchestrator_ai_spark.operators.classify import (
            TRAIN_BUCKETS, frozen_weight_table, weight_table_as_dict,
        )
        from autonomous_orchestrator_ai_spark.testing.generator import (
            EventGenerator,
        )

        self.qweights = weight_table_as_dict(
            frozen_weight_table(self.spark, TRAIN_BUCKETS)
        )

        gen = EventGenerator(seed=self.seed, n_customers=N_CUSTOMERS,
                             now=START, **SCENARIO)
        staging = self.work / "staging"
        for k in range(self.n_ticks):
            gen.now = self._now(k)
            gen.write_jsonl(staging / f"batch_{k:04d}.jsonl", self.events_per_tick)

    def _now(self, k: int) -> datetime:
        return START + timedelta(minutes=TICK_MINUTES * k)

    def land(self, k: int) -> None:
        """Move tick ``k``'s batch into the input directory (untimed)."""
        inbox = self.work / "in"
        inbox.mkdir(parents=True, exist_ok=True)
        name = f"batch_{k:04d}.jsonl"
        (self.work / "staging" / name).rename(inbox / name)

    def unit(self, k: int) -> int:
        """One tick; returns the number of failed operations."""
        from autonomous_orchestrator_ai_spark.pipeline_driver import (
            run_pipeline_once,
        )

        try:
            with self.tracer.span("pipeline_driver.run_pipeline_once", unit=k):
                self.results[k] = run_pipeline_once(
                    self.spark, str(self.work / "in"), str(self.work / "work"),
                    now=self._now(k).replace(tzinfo=None),
                    quality_weights=self.qweights,
                )
        except Exception:  # a failed tick is counted; the next one still runs
            traceback.print_exc(file=sys.stderr)
            return 1
        return 0

    def install_spans(self) -> None:
        """Wrap the library functions the tick calls in spans."""
        from autonomous_orchestrator_ai_spark import pipeline_driver
        from autonomous_orchestrator_ai_spark.agent.tools import PipelineTools
        from autonomous_orchestrator_ai_spark.operators.incidents import (
            IncidentStore,
        )

        t = self.tracer
        t.wrap(pipeline_driver, "run_bounded", "streaming.run_bounded")
        t.wrap(pipeline_driver, "run_suite", "operators.dq.run_suite")
        t.wrap(pipeline_driver, "rule_based_decision", "agent.decide")
        t.wrap(PipelineTools, "execute_actions", "agent.execute_actions")
        t.wrap(IncidentStore, "recent", "operators.incidents.recent")
        t.wrap(IncidentStore, "log_incident", "operators.incidents.log_incident")

    def unit_counters(self, k: int) -> dict:
        """Deterministic size counters of the curated sink after tick ``k``."""
        files = [p for p in (self.work / "work" / "curated").rglob("*.parquet")]
        return {
            "sources.curated_files": len(files),
            "sources.curated_bytes": sum(p.stat().st_size for p in files),
        }

    # ---- correctness: computed from the generated events, not by Spark --

    def check(self) -> list[str]:
        problems = []
        seen: Counter = Counter()
        for k in range(self.n_ticks):
            with (self.work / "in" / f"batch_{k:04d}.jsonl").open() as f:
                events = [json.loads(line) for line in f]
            seen.update((e["country"], e["plan"]) for e in events)
            if k not in self.results:
                continue
            result = self.results[k]
            now_s = int(self._now(k).timestamp())
            late = sum(now_s - e["event_ts"] // 1000 > LATE_SECONDS for e in events)
            drift = sum(e["version"] > 1 for e in events)
            rr, decision = result["run_report"], result["decision"]
            want = {"total_records": len(events), "late_records": late,
                    "schema_drift_count": drift,
                    "quality_scored_records": len(events)}
            for key, value in want.items():
                if rr.get(key) != value:
                    problems.append(f"tick {k}: {key} {rr.get(key)} != {value}")
            # reference rules: late rate > 0.15 escalates; drift remaps
            if (late / len(events) > LATE_ESCALATION) != decision["escalation_required"]:
                problems.append(f"tick {k}: escalation does not follow late rate")
            tools = [a["tool"] for a in decision["actions_taken"]]
            if (drift > 0) != ("apply_schema_remap" in tools):
                problems.append(f"tick {k}: schema remap does not follow drift")
            if not all(a["result"]["success"] for a in result["actions_executed"]):
                problems.append(f"tick {k}: a remediation action failed")
        if self.results:
            got = self._curated_counts()
            want = {(c or HIVE_NULL, p or HIVE_NULL): n for (c, p), n in seen.items()}
            if got != want:
                diff = set(got.items()) ^ set(want.items())
                problems.append(f"curated (country, plan) counts differ: {sorted(diff)[:4]}")
        return problems

    def _curated_counts(self) -> dict:
        glob = str(self.work / "work" / "curated" / "**" / "*.parquet")
        rows = duckdb.sql(
            "SELECT country, plan, COUNT(*) FROM read_parquet("
            f"'{glob}', hive_partitioning = true, hive_types_autocast = false)"
            " GROUP BY ALL"
        ).fetchall()
        return {(c, p): n for c, p, n in rows}
