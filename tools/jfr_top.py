#!/usr/bin/env python3
"""Summarize a JFR recording printed as JSON: where the CPU samples
fall and which processes the JVM started.

    java -XX:StartFlightRecording=filename=rec.jfr,settings=profile ...
    jfr print --json --stack-depth 64 \\
        --events jdk.ExecutionSample,jdk.ProcessStart rec.jfr > rec.json
    python3 tools/jfr_top.py rec.json [--top N] [--prefix FRAME]...

Prints four sections:
 - execution samples per thread group; a group is the thread name cut
   at its first " for ", " [" or " (" with every digit run written as
   N, so "Executor task launch worker for task 3.0 in stage 7.0
   (TID 19)" counts as "Executor task launch worker";
 - the top self frames: the frame each sample stopped in;
 - for each --prefix, the samples with a frame that starts with it
   (inclusive count), in all and per thread group. A frame is written
   `package.Class.method`, e.g.
   `org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec.<init>`;
 - the jdk.ProcessStart commands, with how often each ran.

`jfr print` keeps 5 frames per stack unless --stack-depth says more;
an inclusive count only sees the frames that were printed.
Standard library only.
"""
import argparse
import collections
import json
import re
import sys

_CUT = re.compile(r" for | \[| \(")


def thread_group(thread):
    """The group of a JFR thread record (see the module doc)."""
    if not thread:
        return "?"
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.sub(r"\d+", "N", _CUT.split(name, 1)[0])


def frame_name(frame):
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{method.get('name') or '?'}"


def events(path, chunk=1 << 20):
    """The events of `jfr print --json` output, parsed one at a time:
    a minute's recording at a 1 ms sampling period prints about a
    gigabyte, which json.load would hold in memory several times over."""
    dec = json.JSONDecoder()
    with open(path, encoding="utf-8") as f:
        buf, pos = "", -1
        while pos < 0:  # up to the opening bracket of the events array
            more = f.read(chunk)
            if not more:
                return
            buf += more
            key = buf.find('"events"')
            pos = buf.find("[", key) + 1 if key >= 0 else -1
            if pos == 0:
                pos = -1
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos == len(buf):
                buf, pos = f.read(chunk), 0
                if not buf:
                    return
                continue
            if buf[pos] == "]":
                return
            try:
                ev, pos = dec.raw_decode(buf, pos)
            except json.JSONDecodeError:
                more = f.read(chunk)
                if not more:
                    raise
                buf, pos = buf[pos:] + more, 0
                continue
            yield ev


def summarize(evs, prefixes=(), top=20):
    """The four sections as lists of (label, count), most first."""
    groups = collections.Counter()
    self_frames = collections.Counter()
    inclusive = {p: collections.Counter() for p in prefixes}
    commands = collections.Counter()
    for ev in evs:
        values = ev.get("values") or {}
        if ev.get("type") == "jdk.ProcessStart":
            commands[values.get("command") or "?"] += 1
            continue
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        group = thread_group(values.get("sampledThread"))
        groups[group] += 1
        frames = [frame_name(f) for f in
                  (values.get("stackTrace") or {}).get("frames") or []]
        if frames:
            self_frames[frames[0]] += 1
        for p in prefixes:
            if any(f.startswith(p) for f in frames):
                inclusive[p]["(all)"] += 1
                inclusive[p][group] += 1
    return {
        "groups": groups.most_common(),
        "self": self_frames.most_common(top),
        "inclusive": {p: c.most_common() for p, c in inclusive.items()},
        "commands": commands.most_common(),
    }


def render(s, out):
    def section(title, rows):
        out.write(f"== {title}\n")
        for label, n in rows:
            out.write(f"{n:8d}  {label}\n")
    total = sum(n for _, n in s["groups"])
    section(f"execution samples per thread group ({total} samples)",
            s["groups"])
    section("top self frames", s["self"])
    for p, rows in s["inclusive"].items():
        section(f"inclusive: {p}", rows)
    section(f"process starts ({sum(n for _, n in s['commands'])})",
            s["commands"])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="output of `jfr print --json`")
    ap.add_argument("--top", type=int, default=20,
                    help="self frames to print (default 20)")
    ap.add_argument("--prefix", action="append", default=[],
                    help="frame prefix to count inclusively (repeatable)")
    a = ap.parse_args(argv)
    render(summarize(events(a.json), a.prefix, a.top), sys.stdout)


if __name__ == "__main__":
    main()
