#!/usr/bin/env python3
"""graft's benchmark: one command per workload, every end-to-end metric
by name and unit, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --survey        # traced pass over all registry keys
    python3 perfbench/run.py --references    # re-derive references.json

Run from the root of a graft checkout. The first run builds graft and
perfbench's Scala side with sbt (offline) and generates the input
tables; both are cached under .bench_build/ and rebuilt when their
sources change. Each run starts one JVM (`local[N]`, N = nproc, N
shuffle partitions), sets the session up several times, runs a cold
pass and then warm passes until `--seconds` after JVM start, and
prints one JSON object as its last line. Workloads, key lists and the
layer map live in perfbench/workloads.json; reference digests in
perfbench/references.json.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt-compiles graft and perfbench's Scala side once per source state; returns
    the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src"]
    stamp = tree_hash([p for p in sources
                       if os.path.exists(os.path.join(ROOT, p))])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and perfbench with sbt")
    # JVMs keep perf data and temp files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in r.stdout.splitlines()
             if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        die("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def data_dir():
    d = os.path.join(BUILD, "data")
    stamp = tree_hash(["perfbench/gen_data.py"])
    sf = os.path.join(d, "gen.stamp")
    if os.path.exists(sf) and open(sf).read() == stamp:
        return d
    log("generating input tables")
    shutil.rmtree(d, ignore_errors=True)
    gen_data.write_tables(d)
    with open(sf, "w") as f:
        f.write(stamp)
    return d


def run_jvm(cp, args, work, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"the JVM ran past {timeout} s")
        finally:
            # a timeout, ^C or SIGTERM never leaves the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        kept = os.path.join(BUILD, "failed-jvm.log")
        shutil.copy(os.path.join(work, "jvm.log"), kept)
        die(f"the JVM exited with {rc}; its log is in {kept}")
    with open(os.path.join(work, "records.jsonl")) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # a plain checkout: do not pick up an enclosing repo
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ------------------------------------------------------------ workloads

def chunk_shift(seed, chunk_rows):
    """First chunk boundary offset for `seed`; every boundary moves
    with it. At most a fifth of a chunk, so chunk sizes stay close."""
    return random.Random(seed).randrange(chunk_rows // 5)


def check_batch(recs, refs, failures):
    """Every query record against its reference digest."""
    for r in recs:
        ref = refs.get(r["key"])
        if not r["ok"]:
            failures.append(f'{r["key"]} pass {r["pass"]}: {r["phase"]} '
                            f'{r["error"]}')
        elif ref is None:
            failures.append(f'{r["key"]}: no reference digest')
        elif [r["xor"], r["count"]] != ref:
            failures.append(f'{r["key"]} pass {r["pass"]}: result '
                            f'{[r["xor"], r["count"]]} != reference {ref}')
        else:
            continue
        r["failed"] = True


def end_to_end(kind, recs, refs, failures):
    setups = [r for r in recs if r["type"] == "setup"]
    passes = [r for r in recs if r["type"] == "pass"]
    end = next(r for r in recs if r["type"] == "end")
    for s in setups:
        if [s["xor"], s["count"]] != refs["batch"].get("q1_pricing_summary"):
            failures.append(f'setup {s["i"]}: smoke query result wrong')
    if kind == "batch":
        qs = [r for r in recs if r["type"] == "query"]
        check_batch(qs, refs["batch"], failures)
        ops = [{"pass": r["pass"], "failed": r.get("failed", False),
                "ms": r["plan_ms"] + r["action_ms"]} for r in qs]
    else:
        ops = []
        for r in (r for r in recs if r["type"] == "op"):
            bad = None
            ref = refs["stream"].get(r["op"])
            if not r["ok"]:
                bad = f'{r["phase"]} {r["error"]}'
            elif r["dropped"]:
                bad = f'{r["dropped"]} rows dropped by the watermark'
            elif [r["xor"], r["count"]] != ref:
                bad = f'output {[r["xor"], r["count"]]} != reference {ref}'
            if bad:
                failures.append(f'{r["op"]} pass {r["pass"]}: {bad}')
            r["failed"] = bool(bad)
            ops += [{"pass": r["pass"], "failed": bool(bad), "ms": t}
                    for t in r["triggers"]]
            if not r["ok"]:
                ops.append({"pass": r["pass"], "failed": True, "ms": 0.0})
    lat = [(o["pass"], math.inf if o["failed"] else o["ms"]) for o in ops]
    cold = [v for p, v in lat if p == 0]
    warm = [v for p, v in lat if p > 0]
    # Warm figures are per operation (a batch key, or a stream
    # operator's replay and each of its triggers by index): its median
    # over the warm passes, so a noise burst in one pass does not move
    # them, and a last pass cut off by the deadline still counts.
    walls, op_ms = {}, {}
    if kind == "batch":
        clean = {(r["pass"], r["key"]): r["ms"] for r in recs
                 if r["type"] == "cleanup"}
        for r in (r for r in qs if r["pass"] > 0):
            ms = math.inf if r.get("failed") else r["plan_ms"] + r["action_ms"]
            walls.setdefault(r["key"], []).append(
                ms + clean.get((r["pass"], r["key"]), 0.0))
            op_ms.setdefault(r["key"], []).append(ms)
    else:
        for r in (r for r in recs if r["type"] == "op" and r["pass"] > 0):
            bad = r["failed"]
            walls.setdefault(r["op"], []).append(math.inf if bad else r["wall_ms"])
            for i, t in enumerate(r["triggers"]):
                op_ms.setdefault((r["op"], i), []).append(math.inf if bad else t)
    medians = lambda d: [statistics.median(v) for v in d.values()]  # noqa: E731
    m = {
        "setup_s": (statistics.median(s["total_ms"] for s in setups) / 1e3, "s"),
        "cold_pass_s": (passes[0]["wall_ms"] / 1e3, "s"),
        "warm_pass_s": (sum(medians(walls)) / 1e3, "s"),
        "warm_op_ms_mean": (statistics.mean(medians(op_ms)), "ms"),
        "peak_rss_mb": (end["peak_rss_kb"] / 1024.0, "MB"),
    }
    # printed, not gated: medians over a few dozen operations of unlike
    # kinds jump between kinds from run to run
    whole = [p for p in passes[1:] if p["whole"]]
    samples = {"cold_op": len(cold), "warm_op": len(warm),
               "warm_pass": len(passes) - 1, "warm_pass_whole": len(whole),
               "setup": len(setups),
               "cold_op_ms_p50": round(fin(statistics.median(cold)), 3),
               "warm_op_ms_p50": round(fin(statistics.median(warm)), 3)}
    if kind == "stream":
        rows = sum(n for r in recs if r["type"] == "op" and r["pass"] > 0
                   for n in r["input_rows"])
        wall = sum(r["wall_ms"] for r in recs if r["type"] == "op" and r["pass"] > 0)
        samples["events_per_s"] = round(1e3 * rows / wall, 1)
    return m, samples, len(ops), sum(o["failed"] for o in ops)


def per_layer(w, recs, cores):
    """Layer metrics of a traced run: cold pass and the mean traced
    warm pass, stream triggers, session set-up, span self times and
    the tracing overhead."""
    spans = [r for r in recs if r["type"] == "span"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = {s["id"]: max(0.0, s["end_ms"] - s["start_ms"]) for s in spans}

    def below(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s["id"], [])
        return out

    passes = {r["pass"]: r for r in recs if r["type"] == "pass"}
    pass_spans = {int(s["label"]): s for s in spans if s["name"] == "pass"}
    traced_warm = sorted(p for p in pass_spans if p > 0 and passes[p]["whole"])
    sync = ("codegen.compiles", "codegen.compile_ms", "driver.gc_ms",
            "storage.rdds_persisted", "framecache.rdds_built")
    listener = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                "scheduler.deserialize_ms", "executor.run_ms", "executor.cpu_ms",
                "executor.gc_ms", "executor.input_bytes", "shuffle.write_bytes",
                "shuffle.read_bytes", "shuffle.fetch_wait_ms",
                "shuffle.spill_bytes", "catalyst.analysis_ms",
                "catalyst.optimization_ms", "catalyst.planning_ms")

    def pass_layers(p):
        all_ = below(pass_spans[p])
        tot = lambda c, ss: sum(s.get(c, 0.0) for s in ss)  # noqa: E731
        leaves = [s for s in all_ if s["name"] in ("plan_build", "action", "operator")]
        builds = [s for s in all_ if s["name"] == "plan_build"]
        m = {c: tot(c, leaves) for c in sync}
        m.update({c: tot(c, all_) for c in listener})
        m["entry.plan_build_ms"] = sum(dur[s["id"]] for s in builds)
        m["entry.plan_build_jobs"] = tot("scheduler.jobs", builds)
        m["entry.plan_build_task_ms"] = tot("executor.run_ms", builds)
        m["driver.result_bytes"] = tot("driver.result_bytes", builds)
        m["storage.cleanup_ms"] = sum(dur[s["id"]] for s in all_
                                      if s["name"] == "cleanup")
        m["scheduler.slot_util"] = m["executor.run_ms"] / (
            passes[p]["wall_ms"] * cores)
        m["framecache.rdds_live"] = passes[p]["framecache_live"]
        m["storage.memory_mb"] = passes[p]["storage_bytes"] / 2**20
        return m

    out = {}
    cold = pass_layers(0)
    warm = [pass_layers(p) for p in traced_warm]
    for name in w["layer_metrics"]["per_pass"]:
        out[f"{name}.cold"] = cold[name]
        out[f"{name}.warm"] = statistics.mean(x[name] for x in warm)

    # stream triggers of the traced warm passes (0 on batch workloads)
    trig = [s for p in traced_warm for s in below(pass_spans[p])
            if s["name"] == "trigger"]
    n = max(1, len(trig))
    for c in ("source.latest_offset_ms", "source.get_batch_ms",
              "stream.add_batch_ms", "stream.planning_ms",
              "stream.wal_commit_ms", "stream.commit_offsets_ms",
              "state.rows_updated", "state.rows_removed", "state.update_ms",
              "state.removal_ms", "state.commit_ms"):
        out[c] = sum(s.get(c, 0.0) for s in trig) / n
    out["stream.jobs_per_trigger"] = sum(s.get("scheduler.jobs", 0) for s in trig) / n
    out["stream.tasks_per_trigger"] = sum(s.get("scheduler.tasks", 0) for s in trig) / n
    out["state.rows_total"] = max([s.get("state.rows_total", 0) for s in trig] or [0])
    out["state.memory_bytes"] = max([s.get("state.memory_bytes", 0) for s in trig] or [0])
    op_recs = [r for r in recs if r["type"] == "op"]
    out["state.rows_dropped_by_watermark"] = sum(r["dropped"] for r in op_recs)
    for op in w["layer_metrics"]["stream_ops"]:
        ts = [t for r in op_recs if r["op"] == op and r["pass"] > 0
              for t in r["triggers"]]
        out[f"stream.{op}.trigger_ms_p50"] = statistics.median(ts) if ts else 0.0

    setups = [r for r in recs if r["type"] == "setup"]
    out["session.start_ms"] = statistics.median(s["session_ms"] for s in setups)
    out["session.input_prep_ms"] = statistics.median(s["input_prep_ms"] for s in setups)

    # self time per span kind, per traced warm pass
    warm_spans = [s for p in traced_warm for s in below(pass_spans[p])]
    for kind_ in w["layer_metrics"]["spans"]:
        tot = sum(max(0.0, dur[s["id"]] - sum(dur[k["id"]] for k in kids.get(s["id"], [])))
                  for s in warm_spans if s["name"] == kind_)
        out[f"self.{kind_}_ms"] = tot / max(1, len(traced_warm))
    untraced = [r["wall_ms"] for r in recs
                if r["type"] == "pass" and r["pass"] > 0 and r["whole"]
                and not r["traced"]]
    traced = [passes[p]["wall_ms"] for p in traced_warm]
    out["trace.overhead_pct"] = (100.0 * (statistics.median(traced) /
                                          statistics.median(untraced) - 1.0)
                                 if untraced and traced else 0.0)
    return out


# ----------------------------------------------------------------- main

def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def jvm_args(mode, w, data, work, seed, seconds, trace, cores, chunks=""):
    return ["--mode", mode, "--data", data, "--work", work,
            "--out", os.path.join(work, "records.jsonl"),
            "--keys", ",".join(w.get("keys", [])),
            "--tables", ",".join(w.get("tables", gen_data.TABLES)),
            "--ops", ",".join(w.get("ops", [])), "--chunks", chunks,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--setups", str(w.get("setups", 3)),
            "--min-warm", str(w.get("min_warm", 2)),
            "--state", w.get("state", "hdfs")]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--survey", action="store_true")
    ap.add_argument("--only", default="",
                    help="survey: comma-separated keys instead of all")
    ap.add_argument("--references", action="store_true")
    a = ap.parse_args()

    try:
        spec = load_json("workloads.json")
        refs = load_json("references.json")
    except OSError as e:
        die(f"missing benchmark file: {e}")
    cores = len(os.sched_getaffinity(0))
    cp = build()
    data = data_dir()
    work = os.path.join(BUILD, "runs", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.survey:
            return survey(cp, data, work, cores, a.only)
        if a.references:
            return references(cp, spec, data, work, cores)
        w = spec["workloads"].get(a.workload)
        if w is None:
            die(f"unknown workload {a.workload!r}; "
                f"choose from {sorted(spec['workloads'])}")
        chunks = ""
        if w["kind"] == "stream":
            chunks = os.path.join(work, "chunks")
            gen_data.write_chunks(os.path.join(data, "events.parquet"), chunks,
                                  w["chunk_rows"],
                                  chunk_shift(a.seed, w["chunk_rows"]))
        w = dict(w, layer_metrics=spec["layer_metrics"])
        recs = run_jvm(cp, jvm_args(w["kind"], w, data, work, a.seed,
                                    a.seconds, a.trace, cores, chunks),
                       work, JVM_TIMEOUT_S)
        failures = []
        m, samples, attempted, failed = end_to_end(w["kind"], recs, refs,
                                                   failures)
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "nproc": cores, "heap": HEAP, "git_commit": git_commit(),
                  "samples": samples, "attempted": attempted,
                  "failed": failed, "failures": failures,
                  "failed_ratio": failed / attempted if attempted else 1.0}
        for r in recs:
            if r["type"] == "record":
                record["spark"] = r["spark"]
                record["noise_before"] = {k: r[k] for k in ("spin_s", "load5", "cpu_avg300")}
            if r["type"] == "end":
                record["noise_after"] = {k: r[k] for k in ("spin_s", "load5", "cpu_avg300")}
        if a.trace:
            metrics = per_layer(w, recs, cores)
            shown = {k: (v, unit_of(k)) for k, v in metrics.items()}
        else:
            shown = m
        record["metrics"] = {k: v for k, (v, _) in shown.items()}
        # the run record, and the raw records with the spans of a
        # traced run, are kept under .bench_build/records/
        rec_dir = os.path.join(BUILD, "records")
        os.makedirs(rec_dir, exist_ok=True)
        stem = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        shutil.copy(os.path.join(work, "records.jsonl"), stem + ".jsonl")
        for msg in failures[:20]:
            print(f"FAILED {msg}")
        print(f"# {a.workload} seed={a.seed} nproc={cores} heap={HEAP} "
              f"spark={record.get('spark')} samples={samples} "
              f"failed_ratio={record['failed_ratio']:.4f} "
              f"noise={record.get('noise_before')}->{record.get('noise_after')}")
        for k, (v, unit) in shown.items():
            print(f"{k} = {v:.6g} {unit}")
        result = {"correct": not failures, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": fin(v), "unit": unit}
                              for k, (v, unit) in shown.items()}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    base = base[:-len("_p50")] if base.endswith("_p50") else base
    for suffix, unit in (("_ms", "ms"), ("_bytes", "bytes"), ("_mb", "MB"),
                         ("_pct", "%"), ("slot_util", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


def fin(v):
    """Failed operations count as infinitely slow; JSON has no inf."""
    return v if math.isfinite(v) else 1e18


def references(cp, spec, data, work, cores):
    """Digests of every workload key (one pass) and of every stream
    operator over the whole stream in one data trigger plus the tick.
    Only keep batch digests whose keys pass tools/compare.py."""
    keys = sorted({k for w in spec["workloads"].values()
                   for k in w.get("keys", [])} | {"q1_pricing_summary"})
    ops = sorted({o for w in spec["workloads"].values() for o in w.get("ops", [])})
    recs = run_jvm(cp, jvm_args("batch", {"keys": keys, "setups": 1, "min_warm": 0},
                                data, work, 0, 0, False, cores), work, 3600)
    batch = {r["key"]: [r["xor"], r["count"]] for r in recs
             if r["type"] == "query" and r["ok"] and r["pass"] == 0}
    chunks = os.path.join(work, "chunks")
    gen_data.write_chunks(os.path.join(data, "events.parquet"), chunks,
                          10 ** 9, 0)
    recs = run_jvm(cp, jvm_args("stream", {"ops": ops, "setups": 1, "min_warm": 0},
                                data, work, 0, 0, False, cores, chunks), work, 3600)
    stream = {r["op"]: [r["xor"], r["count"]] for r in recs
              if r["type"] == "op" and r["ok"] and r["pass"] == 0 and not r["dropped"]}
    with open(os.path.join(HERE, "references.json"), "w") as f:
        json.dump({"batch": batch, "stream": stream}, f, indent=1, sort_keys=True)
    print(json.dumps({"batch": len(batch), "stream": len(stream)}))


def survey(cp, data, work, cores, only):
    """Traced cold + warm pass over every registry key; writes each
    key's layer split to .bench_build/survey.json."""
    keys = [k for k in only.split(",") if k]
    recs = run_jvm(cp, jvm_args("survey", {"setups": 1, "min_warm": 1, "keys": keys}, data,
                                work, 0, 0, True, cores), work, 6 * 3600)
    spans = [r for r in recs if r["type"] == "span"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    pass_of = {s["id"]: int(s["label"]) for s in spans if s["name"] == "pass"}
    rows = {}
    for q in (s for s in spans if s["name"] == "query"):
        phase = "cold" if pass_of.get(q["parent"]) == 0 else "warm"
        sub = kids.get(q["id"], [])
        build = [s for s in sub if s["name"] == "plan_build"]
        allq = [q] + sub
        tot = lambda c, ss: sum(s.get(c, 0.0) for s in ss)  # noqa: E731
        rows.setdefault(q["label"], {})[phase] = {
            "wall_ms": q["end_ms"] - q["start_ms"],
            "entry.plan_build_ms": sum(s["end_ms"] - s["start_ms"] for s in build),
            "entry.plan_build_jobs": tot("scheduler.jobs", build),
            "scheduler.jobs": tot("scheduler.jobs", allq),
            "executor.run_ms": tot("executor.run_ms", allq),
            "framecache.rdds_built": tot("framecache.rdds_built",
                                         [s for s in sub if s["name"] != "cleanup"]),
            "driver.result_bytes": tot("driver.result_bytes", build)}
    fails = [r for r in recs if r["type"] == "query" and not r["ok"]]
    # per-job overhead: warm wall not covered by task time, per job
    per_job = statistics.median(
        (v["warm"]["wall_ms"] - v["warm"]["executor.run_ms"] / cores)
        / v["warm"]["scheduler.jobs"]
        for v in rows.values() if v.get("warm", {}).get("scheduler.jobs"))
    rank = sorted(rows, key=lambda k: -rows[k].get("warm", {}).get("scheduler.jobs", 0))
    out = {"nproc": cores, "per_job_overhead_ms": per_job,
           "failed": [(r["key"], r["phase"], r["error"]) for r in fails],
           "rank_by_jobs_x_overhead": [
               (k, rows[k].get("warm", {}).get("scheduler.jobs", 0) * per_job)
               for k in rank],
           "keys": rows}
    path = os.path.join(BUILD, "survey.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}: {len(rows)} keys, {len(fails)} failed, "
          f"per-job overhead {per_job:.1f} ms")


if __name__ == "__main__":
    main()
