"""Per-task durations of each traced perfbench operation.

Runs ``perfbench/run.py`` with ``--trace 1`` and the arguments given,
and records the duration of every task (ms, from the status store) of
every stage that ran in each traced operation's job group.  After the
run's own output it prints one JSON line: operation name -> one list of
task durations per call.

usage: python plans/worker_start/task_ms.py --workload bulk_ann --seed N --seconds 3
Run it from the root of a checkout; copy it into a checkout of another
commit to trace that commit.
"""
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.getcwd())

from perfbench import run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

task_ms: dict[str, list] = defaultdict(list)
group_stats = Tracer._group_stats


def _group_stats(self, group, start, end):
    out = group_stats(self, group, start, end)  # drains the listener bus first
    sc = self.sc
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    durations = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(
                stage_ids.apply(i), False, jvm.java.util.ArrayList(), False,
                sc._gateway.new_array(jvm.double, 0),
            )
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                tasks = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
                for t in range(tasks.size()):
                    d = tasks.apply(t).duration()
                    if d.isDefined():
                        durations.append(int(d.get()))
    task_ms[group.split("-", 2)[2]].append(sorted(durations))
    return out


Tracer._group_stats = _group_stats
code = run.main(sys.argv[1:] + ["--trace", "1"])
print(json.dumps({"task_ms": task_ms}))
sys.exit(code)
