#!/usr/bin/env python3
"""Check tools/jfr_top.py against tools/jfr_top_fixture.json, a
hand-made `jfr print --json` recording: five execution samples on two
thread groups, one event of another type and three process starts.

Run: python3 tools/test_jfr_top.py   (exit 0 = pass)
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
JOIN_INIT = ("org.apache.spark.sql.execution.streaming.operators.stateful"
             ".join.StreamingSymmetricHashJoinExec.<init>")
CONF = "org.apache.hadoop.conf.Configuration"


def sections(text):
    """{title: [(count, label)]} from the tool's output."""
    out, title = {}, None
    for line in text.splitlines():
        if line.startswith("== "):
            title = line[3:]
            out[title] = []
        else:
            n, label = line.strip().split("  ", 1)
            out[title].append((int(n), label))
    return out


def main():
    p = subprocess.run(
        [sys.executable, f"{HERE}/jfr_top.py",
         f"{HERE}/jfr_top_fixture.json", "--top", "3",
         "--prefix", JOIN_INIT, "--prefix", CONF],
        capture_output=True, text=True, timeout=60)
    if p.returncode != 0:
        print(p.stdout + p.stderr)
        print("FAIL")
        sys.exit(1)
    got = sections(p.stdout)
    want = {
        "execution samples per thread group (5 samples)": [
            (3, "stream execution thread"),
            (2, "Executor task launch worker")],
        "top self frames": [
            (2, "java.util.HashMap.resize"),
            (1, CONF + ".<init>"),
            (1, "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider$HDFSBackedStateStore.commit")],
        "inclusive: " + JOIN_INIT: [
            (2, "(all)"), (2, "stream execution thread")],
        "inclusive: " + CONF: [
            (3, "(all)"), (2, "stream execution thread"),
            (1, "Executor task launch worker")],
        "process starts (3)": [
            (2, "chmod 644 /tmp/ckpt/0.delta"),
            (1, "readlink /tmp/ckpt/offsets/0")],
    }
    ok = got == want
    if not ok:
        print("want:", want, "\ngot:", got, "\noutput:\n" + p.stdout)
    print("PASS: jfr_top summarizes the fixture" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
