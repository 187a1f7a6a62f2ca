#!/usr/bin/env python3
"""Where a JVM's threads waited, from a JFR recording, per micro-batch.

    python3 tools/jfr_waits.py REC.jfr [--warmup N] [--thread REGEX] [--checkpoint REGEX] [--frames N]

Reads the recording's blocking events (`jdk.JavaMonitorWait`,
`jdk.JavaMonitorEnter`, `jdk.ThreadPark`) and `jdk.FileWrite` events through
`jfr print --json` (the `jfr` tool of the JDK on PATH) and sums the time they
blocked:

- by thread group: the thread's name with every run of digits replaced by `#`,
  so Spark's `Executor task launch worker for task #.# in stage #.# (TID #)`
  threads add up to one row;
- by thread group and top frames: the first frames (`--frames`, default 2)
  of the stack below the JDK's own (`java.*`, `jdk.*`, `sun.*`), e.g.
  `KeyLock.acquireLock < KeyLock.withLock < NonFateSharingLoadingCache.get <
  CodeGenerator$.compile` for a task waiting on another task's compile of the
  same code; a stack of JDK frames only (an idle pool thread) shows its first
  frames above the blocking primitives, marked `JDK:`;
- per micro-batch. Micro-batches are counted by `tools/jfr_forks.py`'s
  `by_batch`: a write to a temp file `.<batchId>.<uuid>.tmp` in a directory
  named `offsets` starts one, and each event belongs to the last offset-log
  write before it started. The tables cover the batches after the first N of
  each checkpoint (`--warmup`, default 20) and give milliseconds per batch;
  `--checkpoint` keeps the checkpoints whose path matches a regular expression
  (a perfbench run's output check runs a second stream).

Idle pool threads park or wait for work all the time, so the totals are
dominated by them; `--thread` keeps the threads whose name matches a regular
expression (e.g. `--thread 'task launch worker'` for the task threads).

The events are recorded only above a threshold (20 ms by default), so record
with the threshold at 0 on all four, e.g.

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/pb.jfr,jdk.JavaMonitorWait#threshold=0ms,jdk.JavaMonitorEnter#threshold=0ms,jdk.ThreadPark#threshold=0ms,jdk.FileWrite#threshold=0ms'

Without offset-log writes every event counts as one batch.
"""

import argparse
import collections
import re
import statistics
import sys

from jfr_forks import by_batch, events

WAITS = ("jdk.JavaMonitorWait", "jdk.JavaMonitorEnter", "jdk.ThreadPark")
DURATION = re.compile(r"^PT(?:(?P<h>[\d.]+)H)?(?:(?P<m>[\d.]+)M)?(?:(?P<s>[\d.]+)S)?$")
JDK = ("java.", "jdk.", "sun.")
# where a thread blocks, whatever it waits for
PRIMITIVES = ("jdk.internal.misc.Unsafe", "java.util.concurrent.locks.", "java.lang.Object")
TOP = 15  # rows per table
STACK_DEPTH = 32  # frames jfr prints per event, the JDK's own included


def millis(duration):
    """Milliseconds of an ISO-8601 duration such as `PT0.026S` or `PT1M2S`."""
    m = DURATION.match(duration or "")
    if not m:
        return 0.0
    h, mi, s = (float(m.group(k) or 0) for k in ("h", "m", "s"))
    return ((h * 60 + mi) * 60 + s) * 1000.0


def group(thread):
    return re.sub(r"\d+", "#", thread)


def frames(values, n):
    """The first `n` frames below the JDK's own, innermost first, as
    `Class.method`, joined by ` < `. A stack with JDK frames only (an idle
    pool thread waiting for work) gets its first frames above the blocking
    primitives instead, marked `JDK:`."""
    own, jdk = [], []
    for f in ((values.get("stackTrace") or {}).get("frames") or []):
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
        name = "%s.%s" % (cls.rsplit(".", 1)[-1], m.get("name") or "?")
        if not cls.startswith(JDK):
            own.append(name)
        elif not cls.startswith(PRIMITIVES):
            jdk.append(name)
    if own:
        return " < ".join(own[:n])
    return "JDK: " + (" < ".join(jdk[:n]) or "?")


def table(title, ms, counts, batches):
    print(title)
    print("  %10s %8s %9s  %s" % ("ms", "events", "ms/batch", "key"))
    for k, t in sorted(ms.items(), key=lambda kv: -kv[1])[:TOP]:
        print("  %10.1f %8d %9.2f  %s" % (t, counts[k], t / max(batches, 1), k))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("recording")
    p.add_argument("--warmup", type=int, default=20,
                   help="micro-batches left out of the tables")
    p.add_argument("--thread", default="",
                   help="keep only threads whose name matches this regular expression")
    p.add_argument("--checkpoint", default="",
                   help="keep only checkpoints whose path matches this regular expression")
    p.add_argument("--frames", type=int, default=2,
                   help="non-JDK frames per key in the frame table")
    a = p.parse_args()

    keep, keep_log = re.compile(a.thread), re.compile(a.checkpoint)
    batches, tagged = by_batch(events(a.recording, WAITS, STACK_DEPTH))
    order = collections.OrderedDict()  # checkpoint -> its batch keys in order
    for b in batches:
        order.setdefault(b[0], []).append(b)
    batch_of = [(b, kind, thread, v) for b, (kind, _, thread, v) in tagged if keep.search(thread)]

    for log, keys in order.items():
        print("%s: %d micro-batches%s" % (log, len(keys), "" if keep_log.search(log) else " (left out)"))
    counted = [k for log, keys in order.items() if keep_log.search(log) for k in keys[a.warmup:]]
    if counted:
        n = len(counted)
        print("%s: tables cover %d micro-batches, after the first %d of each checkpoint"
              % (a.recording, n, a.warmup))
    elif order:
        print("no micro-batches left: check --checkpoint and --warmup")
        return 1
    else:
        counted, n = {None}, 1
        print("%s: no offset-log writes recorded (record with jdk.FileWrite#threshold=0ms);"
              " the whole recording counts as one batch" % a.recording)

    per_batch = collections.Counter()
    by_group, by_frames = collections.Counter(), collections.Counter()
    n_group, n_frames = collections.Counter(), collections.Counter()
    by_kind = collections.Counter()
    counted = set(counted)
    for b, kind, thread, v in batch_of:
        if b not in counted:
            continue
        t = millis(v.get("duration"))
        g = group(thread)
        k = "%s | %s" % (g, frames(v, a.frames))
        per_batch[b] += t
        by_kind[kind] += t
        by_group[g] += t
        n_group[g] += 1
        by_frames[k] += t
        n_frames[k] += 1

    if order and n:
        sums = [per_batch[b] for b in counted]
        print("blocked ms per micro-batch: mean %.1f, median %.1f, max %.1f"
              % (statistics.mean(sums), statistics.median(sums), max(sums)))
    print("blocked ms by event: " + ", ".join(
        "%s %.1f" % (k, by_kind[k]) for k in WAITS))
    table("by thread group:", by_group, n_group, n)
    table("by thread group | top frames:", by_frames, n_frames, n)
    return 0


if __name__ == "__main__":
    sys.exit(main())
