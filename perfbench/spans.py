"""Spans recorded around calls into the package, and Spark counters per span.

A span is ``{id, name, start, end, parent, run}`` plus optional attributes.
A span opened with ``group=True`` also tags the Spark jobs it starts with a
job group (``SparkContext.setJobGroup``). After the run, the Spark event log
(written uncompressed and unrolled) maps each job to its group, so jobs,
tasks, shuffle bytes and spill bytes are attributed to spans without extra
actions that would change the plans being measured.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Keeps spans in memory; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # the current SparkContext, set after each setup
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group:
            rec["group"] = f"{self.run_id}-{rec['id']}"
            self._groups.append(rec["group"])
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self._groups.pop()
                # jobs after this span belong to the enclosing group again
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", self._groups[-1] if self._groups else None
                )

    def ancestor(self, rec: dict, name: str) -> dict | None:
        while rec is not None and rec["name"] != name:
            rec = None if rec["parent"] is None else self.spans[rec["parent"]]
        return rec


def read_event_logs(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle read/write bytes, spilled bytes.

    Reads every application log in ``log_dir`` (one per SparkContext the run
    created). Only job-start and task-end events are parsed."""
    out: dict[str, dict[str, float]] = {}
    for path in sorted(log_dir.iterdir()):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    _acc(out, group)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    acc = _acc(out, group)
                    acc["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def _acc(out: dict, group: str) -> dict[str, float]:
    if group not in out:
        out[group] = dict.fromkeys(
            ("jobs", "tasks", "shuffle_read", "shuffle_write", "spill"), 0
        )
    return out[group]


def layer_metrics(tracer: Tracer, groups: dict, n_passes: int) -> dict[str, float]:
    """Per-layer values from one traced run.

    Set-up layers are medians over the run's set-ups (``session.cold_start_s``
    and ``setup.imports_s`` come from the first, cold one). Pass layers are
    medians over the warm passes; ``spark.jobs_first_pass`` is the cold pass."""
    from statistics import median

    setup: list[dict[str, float]] = []
    per_pass: list[dict[str, float]] = [{} for _ in range(n_passes)]
    for s in tracer.spans:
        secs = s["end"] - s["start"]
        name = s["name"]
        top = tracer.ancestor(s, "run_setup")
        if top is not None:
            while len(setup) <= top["index"]:
                setup.append({})
            setup[top["index"]][name] = secs
            continue
        p = tracer.ancestor(s, "pass")
        if p is None:
            continue
        acc = per_pass[p["index"]]

        def add(key, value):
            acc[key] = acc.get(key, 0) + value

        q, stage = s.get("query"), s.get("stage")
        if name == "build":
            add("queries.build_s", secs)
            add(f"graph.{q}.build_s", secs)
        elif name == "plan":
            add("spark.plan_s", secs)
        elif name == "exec":
            add("operators.exec_s", secs)
        elif name == "sources.sessions_build":
            add("sources.sessions_build_s", secs)
        elif name == "pipeline.write":
            add(f"pipeline.{stage}.write_s", secs)
        elif name == "pipeline.count":
            add("pipeline.count_s", secs)
        g = groups.get(s.get("group"))
        if g is None:
            continue
        add("spark.jobs", g["jobs"])
        add("spark.tasks", g["tasks"])
        add("spark.shuffle_read_mb", g["shuffle_read"] / 2**20)
        add("spark.shuffle_write_mb", g["shuffle_write"] / 2**20)
        add("spark.spill_mb", g["spill"] / 2**20)
        if name == "build":
            add("queries.jobs_build", g["jobs"])
            add(f"graph.{q}.jobs_build", g["jobs"])
        elif name == "pipeline.write":
            add(f"pipeline.{stage}.jobs", g["jobs"])
        elif name == "pipeline.count":
            add("pipeline.count_jobs", g["jobs"])

    warm = per_pass[1:] or per_pass
    out = {k: median(p.get(k, 0) for p in warm) for p in warm for k in p}
    out["spark.jobs_first_pass"] = per_pass[0].get("spark.jobs", 0)
    for name in ("session.start", "sources.load", "session.py_workers"):
        out[f"{name}_s"] = median(s[name] for s in setup)
    out["session.cold_start_s"] = setup[0]["session.start"]
    out["setup.imports_s"] = setup[0]["imports"]
    return out
