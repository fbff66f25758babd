#!/usr/bin/env python3
"""The shape of each streaming trigger, read from a decompressed Spark event
log (one JSON event per line). Usage:
    python3 tools/trigger_shape.py [events.json]    # stdin when absent or "-"

Prints, for every completed stage of a streaming micro-batch, its task count
and duration; then, over all triggers of the log: the medians of stages and
tasks per trigger, of the trigger's `triggerExecution`, `addBatch` and
`queryPlanning` durations and its state operators' summed `commitTimeMs`;
and the median start offset of a micro-batch's jobs from the start of their
trigger, with the median job duration. Turn the log on for one run with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///...` and
decompress it with `zstd -dc`.
"""
import datetime
import json
import statistics
import sys

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
BATCH_ID = "streaming.sql.batchId"
# a streaming query runs its jobs in a job group named by its run id
RUN_ID = "spark.jobGroup.id"


def epoch_ms(iso):
    """A progress timestamp ("2026-10-19T16:38:43.033Z") in epoch ms."""
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def read(lines):
    """(stages, jobs, triggers): stage id -> (trigger, tasks, ms); job id ->
    (trigger, submitted, ms); trigger -> progress, a trigger being the pair
    (run id, batch id)."""
    job_trigger, job_submitted, stage_job = {}, {}, {}
    stages, jobs, triggers = {}, {}, {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if BATCH_ID in props:
                job_trigger[e["Job ID"]] = (props.get(RUN_ID), int(props[BATCH_ID]))
                job_submitted[e["Job ID"]] = e["Submission Time"]
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_trigger:
            j = e["Job ID"]
            jobs[j] = (job_trigger[j], job_submitted[j], e["Completion Time"] - job_submitted[j])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            j = stage_job.get(si["Stage ID"])
            if j is not None and "Submission Time" in si:
                stages[si["Stage ID"]] = (job_trigger[j], si["Number of Tasks"],
                                          si["Completion Time"] - si["Submission Time"])
        elif kind == PROGRESS:
            p = e["progress"]
            triggers[(p["runId"], p["batchId"])] = p
    return stages, jobs, triggers


def main(argv):
    src = sys.stdin if len(argv) < 2 or argv[1] == "-" else open(argv[1])
    with src:
        stages, jobs, triggers = read(src)
    print("stage  batch  tasks       ms")
    for s in sorted(stages):
        (_, batch), tasks, ms = stages[s]
        print(f"{s:5d}  {batch:5d}  {tasks:5d}  {ms:7d}")
    per_trigger = {}
    for trig, tasks, _ in stages.values():
        n, t = per_trigger.get(trig, (0, 0))
        per_trigger[trig] = (n + 1, t + tasks)
    print(f"\n{len(triggers)} triggers, {len(per_trigger)} with a job")
    print(f"stages per trigger   median {median([n for n, _ in per_trigger.values()])}")
    print(f"tasks per trigger    median {median([t for _, t in per_trigger.values()])}")
    ps = list(triggers.values())
    for k in ("triggerExecution", "addBatch", "queryPlanning"):
        print(f"{k + ' ms':20s} median {median([p['durationMs'].get(k, 0) for p in ps])}")
    commits = [sum(o["commitTimeMs"] for o in p["stateOperators"]) for p in ps if p["stateOperators"]]
    print(f"{'commitTimeMs':20s} median {median(commits)}")
    offsets = [submitted - epoch_ms(triggers[trig]["timestamp"])
               for trig, submitted, _ in jobs.values() if trig in triggers]
    print(f"job start offset ms  median {median(offsets)}")
    print(f"job ms               median {median([ms for _, _, ms in jobs.values()])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
