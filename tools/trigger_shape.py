#!/usr/bin/env python3
"""The shape of each streaming trigger, read from a decompressed Spark event
log (one JSON event per line). Usage:
    python3 tools/trigger_shape.py [events.json]    # stdin when absent or "-"

Prints, for every completed stage of a streaming micro-batch, its task count
and duration; for every trigger, its input rows, `triggerExecution`,
`addBatch` and state commit durations, and its state operators' summed
`numRowsTotal` and `memoryUsedBytes`; then one row of medians per streaming
query, in the order the queries first triggered, each labelled with its id
and its state operators' names: triggers, the stages and tasks per trigger,
the trigger's `triggerExecution`, `addBatch` and `queryPlanning` durations,
its state operators' summed `commitTimeMs`, the start offset of a
micro-batch's jobs from the start of their trigger, and the job duration.
Turn the log on for one run with
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


MEDIANS_HEADER = ("trigs  stages  tasks  trigger_ms  addBatch_ms  planning_ms  "
                  "commit_ms  job_offset_ms  job_ms")


def kind(progress):
    """A query's state operators' names in plan order ("stateless" for none),
    e.g. "symmetricHashJoin+stateStoreSave*2"."""
    names = [o.get("operatorName", "?") for o in progress["stateOperators"]]
    seen = list(dict.fromkeys(names))
    return "+".join(n if names.count(n) == 1 else f"{n}*{names.count(n)}" for n in seen) or "stateless"


def medians(trigs, triggers, per_trigger, jobs):
    """One row of medians over the triggers `trigs`."""
    ps = [triggers[t] for t in trigs]
    shapes = [per_trigger[t] for t in trigs if t in per_trigger]
    commits = [sum(o["commitTimeMs"] for o in p["stateOperators"]) for p in ps if p["stateOperators"]]
    mine = set(trigs)
    offsets = [submitted - epoch_ms(triggers[trig]["timestamp"])
               for trig, submitted, _ in jobs.values() if trig in mine]
    job_ms = [ms for trig, _, ms in jobs.values() if trig in mine]
    d = [median([p["durationMs"].get(k, 0) for p in ps])
         for k in ("triggerExecution", "addBatch", "queryPlanning")]
    return (f"{len(ps):5d}  {median([n for n, _ in shapes]):6.1f}  {median([t for _, t in shapes]):5.1f}  "
            f"{d[0]:10.1f}  {d[1]:11.1f}  {d[2]:11.1f}  {median(commits):9.1f}  "
            f"{median(offsets):13.1f}  {median(job_ms):6.1f}")


def main(argv):
    src = sys.stdin if len(argv) < 2 or argv[1] == "-" else open(argv[1])
    with src:
        stages, jobs, triggers = read(src)
    print("stage  batch  tasks       ms")
    for s in sorted(stages):
        (_, batch), tasks, ms = stages[s]
        print(f"{s:5d}  {batch:5d}  {tasks:5d}  {ms:7d}")
    print("\nbatch   rows  trigger_ms  addBatch_ms  commit_ms  state_rows  state_bytes")
    for p in sorted(triggers.values(), key=lambda p: p["timestamp"]):
        ops, d = p["stateOperators"], p["durationMs"]
        rows = sum(src["numInputRows"] for src in p["sources"])
        print(f"{p['batchId']:5d}  {rows:5d}  {d.get('triggerExecution', 0):10d}  "
              f"{d.get('addBatch', 0):11d}  {sum(o['commitTimeMs'] for o in ops):9d}  "
              f"{sum(o['numRowsTotal'] for o in ops):10d}  {sum(o['memoryUsedBytes'] for o in ops):11d}")
    per_trigger = {}
    for trig, tasks, _ in stages.values():
        n, t = per_trigger.get(trig, (0, 0))
        per_trigger[trig] = (n + 1, t + tasks)
    print(f"\n{len(triggers)} triggers, {len(per_trigger)} with a job")
    by_query = {}
    for trig, p in sorted(triggers.items(), key=lambda kv: kv[1]["timestamp"]):
        by_query.setdefault(p["id"], []).append(trig)
    print(f"\n{'query  state operators':44s}  {MEDIANS_HEADER}")
    for qid, trigs in by_query.items():
        print(f"{qid[:8] + ' ' + kind(triggers[trigs[0]]):44s}  {medians(trigs, triggers, per_trigger, jobs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
