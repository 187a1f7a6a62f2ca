#!/usr/bin/env python3
"""Child processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py REC.jfr [--warmup N]

Reads the recording's `jdk.ProcessStart` and `jdk.FileWrite` events through
`jfr print --json` (the `jfr` tool of the JDK on PATH) and prints the process
starts:

- by command (the program, e.g. `chmod` or `readlink`);
- by Java thread;
- per micro-batch. A micro-batch is counted by its offset-log write: a write
  to a temp file `.<batchId>.<uuid>.tmp` in a directory named `offsets`. Each
  process start belongs to the last offset-log write before it. The summary
  gives the starts per micro-batch over all batches and over the batches after
  the first N (`--warmup`, default 20).

`jdk.FileWrite` events below a threshold (20 ms by default) are not recorded,
so record with `jdk.FileWrite#threshold=0ms` to count micro-batches, e.g.

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/pb-%p.jfr,jdk.FileWrite#threshold=0ms'

Without offset-log writes the per-batch part is left out.
"""

import argparse
import collections
import json
import re
import statistics
import subprocess
import sys

OFFSET_WRITE = re.compile(r"^(?P<log>.*)/offsets/\.(?P<batch>\d+)\.[^/]*\.tmp$")


def events(rec, types=("jdk.ProcessStart",), depth=1):
    """(type, startTime, thread, values) of every event of `types` and
    every FileWrite event, in time order, with `depth` stack frames."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth),
         "--events", ",".join(tuple(types) + ("jdk.FileWrite",)), rec],
        capture_output=True, text=True, check=True)
    evs = []
    for e in json.loads(out.stdout)["recording"]["events"]:
        v = e["values"]
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        evs.append((e["type"], v["startTime"], thread, v))
    evs.sort(key=lambda e: instant(e[1]))
    return evs


def instant(stamp):
    """A sortable key of an ISO-8601 UTC stamp, whose fraction has 0 to 9
    digits: (date and time to the second, nanoseconds)."""
    whole, _, frac = stamp.rstrip("Z").partition(".")
    return whole, int(frac.ljust(9, "0"))


def by_batch(evs):
    """The micro-batches of `events`' output and the events in them.

    A micro-batch is an offset-log write: a write to a temp file
    `.<batchId>.<uuid>.tmp` in a directory named `offsets`. Returns the
    (checkpoint, batch id) keys in the order of their first write, and
    every event other than a FileWrite as (key of the last offset-log write
    before it, or None, event)."""
    batches = collections.OrderedDict()
    tagged = []
    current = None
    for e in evs:
        if e[0] == "jdk.FileWrite":
            m = OFFSET_WRITE.search(e[3].get("path") or "")
            if m:
                current = (m.group("log"), int(m.group("batch")))
                batches[current] = None
        else:
            tagged.append((current, e))
    return list(batches), tagged


def program(command):
    """The command's program name, without its directory or arguments."""
    first = (command or "?").split()[0]
    return first.rsplit("/", 1)[-1]


def table(title, counts):
    print(title)
    for k, n in counts.most_common():
        print("  %6d  %s" % (n, k))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("recording")
    p.add_argument("--warmup", type=int, default=20,
                   help="micro-batches left out of the after-warm-up figure")
    a = p.parse_args()

    evs = events(a.recording)
    starts = [e for e in evs if e[0] == "jdk.ProcessStart"]
    print("%s: %d process starts" % (a.recording, len(starts)))
    table("by command:", collections.Counter(program(e[3].get("command")) for e in starts))
    table("by thread:", collections.Counter(e[2] for e in starts))

    batches, tagged = by_batch(evs)
    per_batch = collections.OrderedDict((b, 0) for b in batches)  # starts after each offset write
    before_first = 0
    for b, _ in tagged:
        if b is None:
            before_first += 1
        else:
            per_batch[b] += 1
    if not per_batch:
        print("no offset-log writes recorded: record with jdk.FileWrite#threshold=0ms")
        return 0
    counts = list(per_batch.values())
    after = counts[a.warmup:]
    print("micro-batches: %d in %d checkpoint(s); %d starts before the first"
          % (len(counts), len({k[0] for k in per_batch}), before_first))
    print("starts per micro-batch: mean %.1f, median %.1f"
          % (statistics.mean(counts), statistics.median(counts)))
    if after:
        print("after the first %d: %d batches, mean %.1f, median %.1f, max %d"
              % (a.warmup, len(after), statistics.mean(after), statistics.median(after), max(after)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
