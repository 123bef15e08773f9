#!/usr/bin/env python3
"""Parse a Spark event log into per-query job/stage attribution.

Usage: evlog.py <eventlog-file-or-dir> [top_n]

Jobs are grouped by spark.job.description (set by Bench to the entry
name).  For each description prints: number of jobs, summed job wall
time, summed task time, max single job, and the bench-measured wall
from ./BENCH_partial.json when SPARK_GRAFT_QUERIES is set (as for the
Bench run that wrote the log), else ./BENCH_full.json, so driver-side
gaps are visible.
"""
import json, sys, os, glob, collections

path = sys.argv[1]
drill = None
try:
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 40
except ValueError:
    drill = sys.argv[2]
    top_n = 0
def open_lines(path):
    """Yield event-log lines; handles rolling dirs and .zstd parts."""
    import io, subprocess
    if os.path.isdir(path):
        subdirs = [f for f in sorted(glob.glob(path + "/*"))
                   if os.path.isdir(f)]
        if subdirs:
            path = max(subdirs, key=os.path.getmtime)
        parts = [f for f in sorted(glob.glob(path + "/*"))
                 if not os.path.basename(f).startswith("appstatus")]
    else:
        parts = [path]
    for p in parts:
        if p.endswith(".zstd"):
            proc = subprocess.Popen(["zstd", "-dc", p],
                                    stdout=subprocess.PIPE)
            yield from io.TextIOWrapper(proc.stdout)
        else:
            yield from open(p)

job_desc = {}
job_start = {}
agg = collections.defaultdict(lambda: dict(jobs=0, wall=0.0, tasks=0,
                                           task_time=0.0, maxjob=0.0, gc=0.0, cpu=0.0, deser=0.0,
                                           stages=0, shuf_w=0, shuf_r=0,
                                           first=None, last=None))
stage_job = {}
stage_cpu = collections.defaultdict(lambda: [0.0, 0.0])

if True:
    for line in open_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = (ev.get("Properties") or {}).get(
                "spark.job.description", "")
            job_desc[jid] = desc
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            agg[desc]["jobs"] += 1
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            desc = job_desc.get(jid, "")
            dt = (ev["Completion Time"] - job_start.get(jid, ev["Completion Time"])) / 1e3
            a = agg[desc]
            a["wall"] += dt
            a["maxjob"] = max(a["maxjob"], dt)
            if a["first"] is None:
                a["first"] = job_start.get(jid)
            a["last"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            jid = stage_job.get(si["Stage ID"])
            desc = job_desc.get(jid, "")
            a = agg[desc]
            a["stages"] += 1
            a["tasks"] += si.get("Number of Tasks", 0)
            if drill is not None and desc == drill:
                dt = (si.get("Completion Time", 0) -
                      si.get("Submission Time", 0)) / 1e3
                nm = si.get("Stage Name", "")
                sc = stage_cpu.get(si["Stage ID"], [0.0, 0.0])
                print(f"stage {si['Stage ID']:4d} job {jid:4d} "
                      f"tasks {si.get('Number of Tasks', 0):4d} "
                      f"{dt:7.2f}s cpu {sc[0]:6.1f} maxT {sc[1]:5.2f}  {nm[:70]}")
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            desc = job_desc.get(stage_job.get(sid), "")
            ti = ev.get("Task Info", {})
            agg[desc]["task_time"] += (ti.get("Finish Time", 0) -
                                       ti.get("Launch Time", 0)) / 1e3
            m = ev.get("Task Metrics") or {}
            sw = (m.get("Shuffle Write Metrics") or {})
            sr = (m.get("Shuffle Read Metrics") or {})
            agg[desc]["shuf_w"] += sw.get("Shuffle Bytes Written", 0)
            agg[desc]["shuf_r"] += (sr.get("Remote Bytes Read", 0) +
                                    sr.get("Local Bytes Read", 0))
            agg[desc]["gc"] += m.get("JVM GC Time", 0) / 1e3
            sc = stage_cpu[sid]
            sc[0] += m.get("Executor CPU Time", 0) / 1e9
            sc[1] = max(sc[1], (ti.get("Finish Time", 0) -
                                ti.get("Launch Time", 0)) / 1e3)
            agg[desc]["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            agg[desc]["deser"] += m.get("Executor Deserialize Time", 0) / 1e3

# the artifact Bench writes for this kind of run: a SPARK_GRAFT_QUERIES
# subset writes BENCH_partial.json, the full battery BENCH_full.json
bench_file = ("BENCH_partial.json" if os.environ.get("SPARK_GRAFT_QUERIES")
              else "BENCH_full.json")
bench = {}
if os.path.exists(bench_file):
    bench = json.load(open(bench_file)).get("queries", {})

rows = []
for desc, a in agg.items():
    span = ((a["last"] - a["first"]) / 1e3) if a["first"] else 0.0
    rows.append((desc, a["jobs"], a["stages"], a["tasks"], a["wall"], span,
                 a["task_time"], a["maxjob"], a["shuf_w"], a["shuf_r"],
                 bench.get(desc), a["gc"], a["cpu"], a["deser"]))
rows.sort(key=lambda r: -(r[10] if r[10] is not None else r[4]))
print(f"{'entry':34s} {'jobs':>4s} {'stg':>4s} {'tasks':>6s} "
      f"{'jobS':>7s} {'spanS':>7s} {'taskS':>8s} {'maxJ':>6s} "
      f"{'shW_MB':>7s} {'bench':>7s} {'gap':>6s} {'gcS':>6s} {'cpuS':>7s} {'desS':>6s}")
for r in rows[:top_n]:
    d, j, st, t, w, span, tt, mj, sw, srd, b, gc, cpu, des = r
    gap = (b - span) if b is not None else float('nan')
    print(f"{d[:34]:34s} {j:4d} {st:4d} {t:6d} {w:7.2f} {span:7.2f} "
          f"{tt:8.1f} {mj:6.2f} {sw/1e6:7.1f} "
          f"{b if b is not None else float('nan'):7.2f} {gap:6.2f} "
          f"{gc:6.1f} {cpu:7.1f} {des:6.1f}")
tot_jobs = sum(r[1] for r in rows)
tot_wall = sum(r[4] for r in rows)
print(f"TOTAL jobs={tot_jobs} jobwall={tot_wall:.1f}s "
      f"entries={len(rows)}")
