#!/usr/bin/env python3
"""Where a JVM's threads spent CPU, from a JFR recording, per micro-batch.

    python3 tools/jfr_cpu.py REC.jfr [--thread RE] [--under FRAME_RE] [--warmup N] [--checkpoint RE]

Reads the recording's `jdk.ExecutionSample` events (one per sampled running
Java thread) and `jdk.FileWrite` events through `jfr print --json` (the `jfr`
tool of the JDK on PATH) and counts the samples:

- by thread group: the sampled thread's name with every run of digits
  replaced by `#`, as `tools/jfr_waits.py` groups them;
- under a frame: with `--under`, the samples with a stack frame whose
  `package.Class.method` matches a regular expression, e.g.
  `Expression.genCode` (code generation) or
  `StateManagerImplBase.state(Seri|Deseri)alizerFunc` (a stateful operator
  building its state serializer or deserializer), as a count and a share of
  the group's samples;
- per micro-batch. Micro-batches are counted by `tools/jfr_forks.py`'s
  `by_batch`: a write to a temp file `.<batchId>.<uuid>.tmp` in a directory
  named `offsets` starts one, and each sample belongs to the last offset-log
  write before it. The figures cover the batches after the first N of each
  checkpoint (`--warmup`, default 20); `--checkpoint` keeps the checkpoints
  whose path matches a regular expression (a perfbench run's output check
  runs a second stream).

`--thread` keeps the threads whose name matches a regular expression (e.g.
`--thread 'task launch worker'` for the task threads). Record with the
`profile` settings (a sample every 10 ms) and the offset-log writes, e.g.

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/pbc.jfr,settings=profile,jdk.FileWrite#threshold=0ms'

Without offset-log writes every sample counts as one batch.
"""

import argparse
import collections
import re
import sys

from jfr_forks import by_batch, events
from jfr_waits import group

STACK_DEPTH = 64  # frames jfr prints per sample; genCode sits deep in a task's stack


def names(values):
    """The sample's frames as `package.Class.method`, innermost first."""
    out = []
    for f in ((values.get("stackTrace") or {}).get("frames") or []):
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
        out.append("%s.%s" % (cls, m.get("name") or "?"))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("recording")
    p.add_argument("--thread", default="",
                   help="keep only threads whose name matches this regular expression")
    p.add_argument("--under", default="",
                   help="count the samples with a frame matching this regular expression")
    p.add_argument("--warmup", type=int, default=20,
                   help="micro-batches left out of the figures")
    p.add_argument("--checkpoint", default="",
                   help="keep only checkpoints whose path matches this regular expression")
    a = p.parse_args()

    keep, keep_log = re.compile(a.thread), re.compile(a.checkpoint)
    under = re.compile(a.under) if a.under else None
    batches, tagged = by_batch(events(a.recording, ("jdk.ExecutionSample",), STACK_DEPTH))
    order = collections.OrderedDict()  # checkpoint -> its batch keys in order
    for b in batches:
        order.setdefault(b[0], []).append(b)
    for log, keys in order.items():
        print("%s: %d micro-batches%s" % (log, len(keys), "" if keep_log.search(log) else " (left out)"))
    counted = {k for log, keys in order.items() if keep_log.search(log) for k in keys[a.warmup:]}
    if counted:
        n = len(counted)
        print("%s: figures cover %d micro-batches, after the first %d of each checkpoint"
              % (a.recording, n, a.warmup))
    elif order:
        print("no micro-batches left: check --checkpoint and --warmup")
        return 1
    else:
        counted, n = {None}, 1
        print("%s: no offset-log writes recorded (record with jdk.FileWrite#threshold=0ms);"
              " the whole recording counts as one batch" % a.recording)

    samples, hits = collections.Counter(), collections.Counter()
    for b, (_, _, _, v) in tagged:
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        if b not in counted or not keep.search(thread):
            continue
        g = group(thread)
        samples[g] += 1
        if under and any(under.search(f) for f in names(v)):
            hits[g] += 1

    total, total_hits = sum(samples.values()), sum(hits.values())
    print("samples: %d, %.1f per micro-batch" % (total, total / n))
    if under:
        print("under /%s/: %d samples, %.1f%% of them, %.1f per micro-batch"
              % (a.under, total_hits, 100.0 * total_hits / max(total, 1), total_hits / n))
    print("by thread group:")
    print("  %8s %9s%s  %s" % ("samples", "per batch", "    under   share" if under else "", "group"))
    for g, k in samples.most_common():
        extra = "  %7d %6.1f%%" % (hits[g], 100.0 * hits[g] / k) if under else ""
        print("  %8d %9.1f%s  %s" % (k, k / n, extra, g))
    return 0


if __name__ == "__main__":
    sys.exit(main())
