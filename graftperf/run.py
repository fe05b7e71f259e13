#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON result line.

Usage (from the repository root):
  python3 graftperf/run.py --workload <llm_batch|curate_stream>
                           --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source when their sources changed
(graftperf/build.sh), runs the workload in a JVM on local[nproc] over the
tables pinned in graftperf/data, and prints as the last line of stdout
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The full self-describing record goes to
graftperf/out/<workload>/; a traced run also leaves its spans there as
JSONL and a "where the time goes" table. Everything the run writes stays
under graftperf/ (.build, .work, out).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("llm_batch", "curate_stream")
JVM_TIMEOUT_S = 170
HEAP = ["-Xmx2g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME")
    return os.path.join(home, "jars")


def fail(msg):
    print(f"graftperf: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.sh")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile into graftperf/.build/classes unless the stamp matches."""
    build_dir = os.path.join(HERE, ".build")
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = classes + ".tmp"
    t0 = time.time()
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), ROOT, tmp, spark_jars()],
                   check=True, stdout=sys.stderr, timeout=840)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    print(f"graftperf: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def jvm_cmd(classes, work, args):
    """The benchmark JVM: heap capped at 2 GiB; temp files and Derby under `work`, no
    perf-data file in /tmp."""
    return (["java"] + HEAP + ["-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}:{spark_jars()}/*", "graft.perf.Main",
               "--data", os.path.join(HERE, "data"), "--work", work,
               "--cores", str(len(os.sched_getaffinity(0)))] + args)


def run_jvm(classes, args, work):
    cmd = jvm_cmd(classes, work, ["--fingerprints", os.path.join(HERE, "fingerprints.tsv")] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"JVM exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
    finally:
        log.close()
    lines = [l for l in out.splitlines() if l.startswith("GRAFTPERF ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"JVM exited {p.returncode} without a result")
    return json.loads(lines[-1][len("GRAFTPERF "):])


def self_times(spans):
    """Self time per (phase, layer): each span's length minus the part of it
    its child spans cover, charged to the phase of its root span (set-up,
    the cold lap, a traced warm lap, a traced micro-batch)."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def phase(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        if s["name"] == "setup":
            return "set-up"
        if s["name"] == "lap 0":
            return "cold lap"
        if s["name"].startswith("lap "):
            return "traced warm lap"
        if s["name"].startswith("batch "):
            return "traced micro-batch"
        return "outside any harness span"

    roots = {}
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted((max(a, c["start_ms"]), min(b, c["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, end = 0.0, a
        for x, y in iv:
            if y > end:
                covered += y - max(x, end)
                end = y
        ph = phase(s)
        if s["parent"] not in by_id:
            roots.setdefault(ph, [0, 0.0])
            roots[ph][0] += 1
            roots[ph][1] += (b - a) / 1000
        cell = out.setdefault((ph, s["layer"]), [0.0, 0])
        cell[0] += (b - a - covered) / 1000
        cell[1] += 1
    return roots, out


def where_time_goes(workload, seed, spans, per_layer):
    roots, cells = self_times(spans)
    unit = "micro-batch" if "stream" in workload else "warm lap"
    lines = [f"# Where the time goes: {workload} (seed {seed}, traced run)", "",
             "Self time per layer: each span's length minus the part its child spans",
             "cover. Spans that run at once (stages of one job, tasks of a batch) each",
             "count, so a phase's layers can add up to more than its wall time. For",
             "traced warm laps and micro-batches the figures are per lap or batch.", ""]
    for ph, (n, wall) in sorted(roots.items()):
        if ph == "outside any harness span":
            continue
        rows = sorted(((l, v) for (p, l), v in cells.items() if p == ph), key=lambda kv: -kv[1][0])
        lines += [f"## {ph}: {n} span(s), {wall / n:.3f} s wall each", "",
                  "| layer | self s | spans |", "|---|---:|---:|"]
        lines += [f"| {l} | {v[0] / n:.3f} | {v[1] / n:g} |" for l, v in rows]
        lines.append("")
    lines += [f"Tracing overhead (traced minus untraced {unit}, median): "
              f"{per_layer.get('trace.overhead_s', 0):.3f} s "
              f"({100 * per_layer.get('trace.overhead_frac', 0):.1f}%)", ""]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        fail("no graft sources under src/main/scala; run from a full checkout")
    load_start = loadavg()
    digest = source_hash(files)
    classes = build(digest)

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["per_layer"] if a.trace else res["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"result lacks metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = res["record"]
    record.update({"git_commit": git_commit(), "source_hash": digest,
                   "loadavg_start": load_start, "loadavg_end": loadavg(),
                   "samples": res["samples"], "e2e": res["e2e"], "per_layer": res["per_layer"]})
    out_dir = os.path.join(HERE, "out", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"seed{a.seed}-trace{a.trace}"
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        spans_src = os.path.join(work, "spans.jsonl")
        shutil.copy(spans_src, os.path.join(out_dir, f"spans-{tag}.jsonl"))
        spans = [json.loads(l) for l in open(spans_src) if l.strip()]
        with open(os.path.join(out_dir, "where_time_goes.md"), "w") as f:
            f.write(where_time_goes(a.workload, a.seed, spans, res["per_layer"]))

    summary = {k: v for k, v in res["e2e"].items()}
    summary["failed_frac"] = record["failed_frac"]
    print("graftperf " + a.workload + ": " + json.dumps(
        {k: [v, res["samples"].get(k)] for k, v in sorted(summary.items())}))
    for f in record["failures"][:10]:
        print("graftperf failure: " + f)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
