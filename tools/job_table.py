#!/usr/bin/env python3
"""Per-job table of a live-store tick, from an uncompressed Spark event log.

Usage:
  python3 tools/job_table.py EVENTLOG [--batch N ...] [--summary]

EVENTLOG is an event-log file or an `eventlog_v2_*` dir (write it with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false`). A tick
opens with the jobs of one streaming micro-batch (their properties carry
`streaming.sql.batchId`; in perfbench they all have the call site
`start at Main.scala:261`) and runs until the next micro-batch: the
benchmark's `extendIndex`, retrieve and recall jobs, named by the
`perfbench.span` property their thread carries.

Each job is named by what its last stage does and where its rows come
from (see `label`): `write <output path>` (the path of its SQL
execution's InsertIntoHadoopFsRelationCommand), `shuffle`, `checkpoint`
or `collect`, from MicroBatchScan (the stream source), a local
checkpoint, parquet, LocalTableScan (driver rows) or a shuffle read.
Jobs that graft runs outside a SQL execution of their own (its `Small`
collects, a checkpoint's count) carry the micro-batch's execution id,
so the plan root of that id does not name them.

For each job the table gives its tasks, the executor deserialize ms
summed over them, the driver gap ms before it (from the previous job's
completion, or from the tick's first job), its run ms (submission to
completion) and, for a write, the part files it wrote (tasks that wrote
a row) and their bytes. `--batch` picks micro-batches (default: all);
`--summary` prints one line per tick: jobs, write jobs, tasks,
deserialize ms, gap ms and run ms of the ingest phase.
"""
import argparse
import glob
import json
import os
import re


def events(path):
    files = [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "events_*"))
        if not f.endswith(".crc"))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand(?: |\n[^\n]*\n"
                   r"Arguments: )file:(\S+?),")
SOURCES = {"Exchange": "shuffle read", "Scan parquet": "parquet"}


def label(stage, ex):
    """What a job does, from the RDD chain of its last stage: `write
    <path>`, `shuffle` (a map stage run as a job of its own),
    `checkpoint` (Dataset.localCheckpoint's copy-and-count) or `collect`,
    then `<-` and the scope of the chain's first RDD."""
    rdds = sorted(stage["RDD Info"], key=lambda r: r["RDD ID"])
    scopes = [json.loads(r["Scope"])["name"].strip() if r.get("Scope") else ""
              for r in rdds]
    if any(r["Name"] == "LocalCheckpointRDD" for r in rdds):
        src = "local checkpoint"
    else:
        src = SOURCES.get(scopes[0], scopes[0]) if scopes else "?"
    if "WriteFiles" in scopes:
        m = ex and WRITE.search(ex["sparkPlanInfo"].get("simpleString", "") +
                                ex.get("physicalPlanDescription", ""))
        path = re.sub(r"seg-[0-9a-f-]{36}", "seg-*", m.group(1)) if m else "?"
        act = "write " + "/".join(path.split("/")[-3:])
    elif scopes[-1:] == ["Exchange"]:
        act = "shuffle"
    elif scopes[-1:] == ["map"]:
        act = "checkpoint"
    else:
        act = "collect"
    return f"{act} <- {src}"


def load(path):
    execs, jobs, stage_job, last = {}, {}, {}, {}
    for e in events(path):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            execs[e["executionId"]] = e
        elif kind == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            j = {"id": e["Job ID"], "start": e["Submission Time"],
                 "exec": int(p["spark.sql.execution.id"])
                 if "spark.sql.execution.id" in p else None,
                 "batch": int(p["streaming.sql.batchId"])
                 if "streaming.sql.batchId" in p else None,
                 "span": p.get("perfbench.span", ""),
                 "tasks": 0, "deser": 0, "files": 0, "bytes": 0, "end": None}
            jobs[j["id"]] = j
            last[j["id"]] = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            for s in e["Stage IDs"]:
                stage_job[s] = j["id"]
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            m = e.get("Task Metrics") or {}
            if j is not None:
                j["tasks"] += 1
                j["deser"] += m.get("Executor Deserialize Time", 0)
                out = m.get("Output Metrics") or {}
                j["files"] += out.get("Records Written", 0) > 0
                j["bytes"] += out.get("Bytes Written", 0)
    order = sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))
    for j in order:
        j["root"] = label(last[j["id"]], execs.get(j["exec"]))
    return order


def ticks(order):
    """[(batch id, [jobs])]: a micro-batch's jobs and every job after
    them up to the next micro-batch."""
    out = []
    for j in order:
        if j["batch"] is not None and (not out or out[-1][0] != j["batch"]):
            out.append((j["batch"], []))
        if out:
            out[-1][1].append(j)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("eventlog")
    ap.add_argument("--batch", type=int, nargs="*")
    ap.add_argument("--summary", action="store_true")
    a = ap.parse_args()
    for batch, js in ticks(load(a.eventlog)):
        if a.batch and batch not in a.batch:
            continue
        prev = js[0]["start"]
        rows = []
        for j in js:
            phase = "ingest" if j["batch"] is not None else (j["span"] or "-")
            rows.append((phase, j, j["start"] - prev,
                         (j["end"] or j["start"]) - j["start"]))
            prev = j["end"] or j["start"]
        if a.summary:
            ing = [r for r in rows if r[0] == "ingest"]
            print(f"batch {batch}: ingest jobs {len(ing)}, writes "
                  f"{sum(r[1]['root'].startswith('write ') for r in ing)}, "
                  f"tasks {sum(r[1]['tasks'] for r in ing)}, deserialize ms "
                  f"{sum(r[1]['deser'] for r in ing)}, gap ms "
                  f"{sum(r[2] for r in ing)}, run ms {sum(r[3] for r in ing)}")
            continue
        print(f"== micro-batch {batch}")
        print(f"{'job':>5} {'phase':<22} {'exec':>5} {'tasks':>5} "
              f"{'deser_ms':>8} {'gap_ms':>6} {'run_ms':>6} {'files':>5} "
              f"{'bytes':>7}  root")
        for phase, j, gap, run in rows:
            print(f"{j['id']:>5} {phase:<22} {str(j['exec']):>5} "
                  f"{j['tasks']:>5} {j['deser']:>8} {gap:>6} {run:>6} "
                  f"{j['files']:>5} {j['bytes']:>7}  {j['root']}")


if __name__ == "__main__":
    main()
