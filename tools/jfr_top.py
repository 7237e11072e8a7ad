#!/usr/bin/env python3
"""Where a JVM spent its time, from a JDK Flight Recorder file.

Usage:
  python3 tools/jfr_top.py <file.jfr> [--match REGEX ...]

Reads the recording with the JDK's `jfr print` and prints:
  - execution samples per thread group, with each group's top 8 frames
    outside the JDK and Scala runtimes by inclusive samples (a frame
    counts once per sample it is on), and its top 8 call sites by self
    samples;
  - park time (jdk.ThreadPark) per thread group and its top 8 call
    sites. A call site is the first 2 frames outside the JDK and Scala
    runtimes, innermost first, joined by " < ";
  - for each --match REGEX, the samples and park seconds per thread group
    whose stack matches it. The stack is matched as one string of
    `Class.method` frames, innermost first, one per line, so
    'Encoders\\$\\.product\\n[^\\n]*Processor\\.init' finds a product
    encoder built directly in a processor's init.

A thread group is the thread name cut at " for " or " [" with digit runs
replaced by N: "Executor task launch worker for task 3.0 in stage 7.0
(TID 21)" is "Executor task launch worker".

Record a benchmark run with, for example,
  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/jfr/" \\
    python3 perfbench/run.py --workload alert_stream --seed 11 --seconds 10
"""
import argparse
import collections
import re
import subprocess
import sys

RUNTIME = ("java.", "javax.", "jdk.", "sun.", "scala.")
TOP = 8         # frames and call sites listed per thread group
SITE_DEPTH = 2  # frames outside the runtimes that name a call site
UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def thread_group(name):
    return re.sub(r"\d+", "N", re.split(r" for | \[", name)[0]).strip()


def seconds(text):
    """A `jfr print` duration such as "40.2 ms" or "1 m 5 s"; N/A is 0."""
    if text == "N/A":
        return 0.0
    parts = text.split()
    return sum(float(n) * UNITS[u] for n, u in zip(parts[::2], parts[1::2]))


def events(path, kind):
    """(thread group, duration s, [Class.method, innermost first]) per event."""
    out = subprocess.run(["jfr", "print", "--events", kind, "--stack-depth", "128", path],
                         check=True, capture_output=True, text=True).stdout
    for block in out.split(f"{kind} {{")[1:]:
        group, dur, frames, in_stack = "?", 0.0, [], False
        for line in block.splitlines():
            s = line.strip()
            if in_stack:
                if s == "]":
                    in_stack = False
                elif s != "...":
                    frames.append(s.split("(", 1)[0])
            elif s.startswith(("eventThread = ", "sampledThread = ")):
                m = re.search(r'"(.*)"', s)
                group = thread_group(m.group(1)) if m else "?"
            elif s.startswith("duration = "):
                dur = seconds(s[len("duration = "):])
            elif s.startswith("stackTrace = ["):
                in_stack = True
        yield group, dur, frames


def site(frames):
    own = [f for f in frames if not f.startswith(RUNTIME)]
    return " < ".join(own[:SITE_DEPTH]) if own else (frames[0] if frames else "?")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("--match", action="append", default=[])
    a = ap.parse_args()
    patterns = [re.compile(p) for p in a.match]

    samples = collections.Counter()
    incl = collections.defaultdict(collections.Counter)
    self_ = collections.defaultdict(collections.Counter)
    hits = collections.defaultdict(collections.Counter)
    for group, _, frames in events(a.jfr, "jdk.ExecutionSample"):
        samples[group] += 1
        incl[group].update({f for f in frames if not f.startswith(RUNTIME)})
        self_[group][site(frames)] += 1
        stack = "\n".join(frames)
        for p in patterns:
            if p.search(stack):
                hits[p.pattern][group] += 1

    park = collections.Counter()
    park_site = collections.defaultdict(collections.Counter)
    park_hits = collections.defaultdict(collections.Counter)
    for group, dur, frames in events(a.jfr, "jdk.ThreadPark"):
        park[group] += dur
        park_site[group][site(frames)] += dur
        stack = "\n".join(frames)
        for p in patterns:
            if p.search(stack):
                park_hits[p.pattern][group] += dur

    total = sum(samples.values())
    print(f"== execution samples: {total}")
    for group, n in samples.most_common():
        print(f"\n{n:7d}  {100.0 * n / max(total, 1):5.1f}%  {group}")
        print("  inclusive:")
        for f, k in incl[group].most_common(TOP):
            print(f"  {k:7d}  {f}")
        print("  self, by call site:")
        for f, k in self_[group].most_common(TOP):
            print(f"  {k:7d}  {f}")

    print(f"\n== park time: {sum(park.values()):.1f} s")
    for group, s in park.most_common():
        print(f"\n{s:9.2f} s  {group}")
        for f, k in park_site[group].most_common(TOP):
            print(f"  {k:9.2f} s  {f}")

    for p in patterns:
        print(f"\n== match {p.pattern!r}: {sum(hits[p.pattern].values())} samples, "
              f"{sum(park_hits[p.pattern].values()):.2f} s parked")
        for group in sorted(set(hits[p.pattern]) | set(park_hits[p.pattern])):
            print(f"  {hits[p.pattern][group]:7d} samples  {park_hits[p.pattern][group]:9.2f} s  {group}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
