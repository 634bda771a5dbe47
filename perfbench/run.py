#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload archive|curate|battery \
        --seed N --seconds S --trace 0|1

Run from the repository root.  It builds the library and the benchmark
harness from source into `.bench_build/` (scalac from the Spark
distribution, nothing downloaded), generates the workload's inputs from
the seed, runs the workload in one JVM on local[nproc], checks the
outputs, and prints one JSON line: {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD = ".bench_build"
# JVM start, set-up and the last operation past the deadline; listed
# workloads at their run_seconds stay within the 180 s a run may take
JVM_SLACK_S = 135
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
MODULES = ["Archive", "Analytics", "Text", "Vector", "Pipeline", "Temporal",
           "Scalar", "Curation"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH, else the directory the sbt build names."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    dirs = [os.path.join(h, "jars") for h in homes if h]
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            dirs += re.findall(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        die("no src/main/scala here: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                   recursive=True))


def build(jars):
    """Compile library + harness once per source tree; reuse after."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
                        "-nowarn", "-d", tmp] + srcs,
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compile failed")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def inputs(workload, seed):
    """Generated inputs, cached per (generator source, workload, seed)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.abspath(os.path.join(BUILD, "inputs", f"{workload}-{seed}-{tag}"))
    if not os.path.exists(os.path.join(d, "spec.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "spec.json")) as f:
        spec = json.load(f)
    # data paths in the spec are relative to the spec's directory
    for k in ("tables", "batches"):
        if k in spec:
            spec[k] = os.path.join(d, spec[k])
    return d, spec


def run_jvm(classes, jars, workload, spec_dir, work, seconds, trace, cores):
    out = os.path.join(work, "out.json")
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main", workload, spec_dir, work, str(seconds),
            str(trace), str(cores), out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(work) + "/tmp")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=seconds + JVM_SLACK_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


def m(value, unit):
    return {"value": float(value), "unit": unit}


def summarize(workload, spec, r):
    """Checks + metrics.  Returns (attempted, failed, e2e, layer, notes)."""
    s, v = r["samples"], r["values"]
    attempted, failed = r["attempted"], r["failed"]
    notes = list(r["errors"])
    layer = {}
    if workload == "archive":
        f, msgs, rows = checks.check_archive(spec, r["obs"])
        failed += f
        notes += msgs
        op = s.get("page_ms", [])
        thr = v.get("pages", 0) / max(1e-9, v.get("read_ms", 0) / 1e3)
        ing = s.get("ingest_batch_ms", [])
        it, _, _ = checks.tail(ing)
        pt, _, _ = checks.tail(op)
        st = r["store"]
        layer.update({
            "archive.ingest_files_per_s": v.get("ingested_files", 0) / max(1e-9, v.get("ingest_ms", 0) / 1e3),
            "archive.ingest_batch_p50_ms": checks.median(ing),
            "archive.ingest_batch_tail_ms": it,
            "archive.pages_per_s": thr,
            "archive.page_p50_ms": checks.median(op),
            "archive.page_tail_ms": pt,
            "archive.latest_p50_ms": checks.median(s.get("latest_ms", [])),
            "store.maintain_ms": checks.median(s.get("maintain_ms", [])),
            "store.bytes_per_record": st["bytes"] / max(1, rows),
            "streaming.replay_dropped_ratio": v.get("replay.absorbed", 0)
            / max(1, v.get("replay.delivered", 0)),
            "query.latest_table_hit_ratio": v.get("query.latest_table_hits", 0)
            / max(1, v.get("query.latest_direct", 0)),
            "api.overhead_ms": checks.median(s.get("api.overhead_page_ms", [])),
            "api.overhead_latest_ms": checks.median(s.get("api.overhead_latest_ms", [])),
        })
    elif workload == "curate":
        batches = r["batches"]
        f, msgs, kept, rejected = checks.check_curate(
            spec, r["out"], batches, os.path.join(BUILD, "state"))
        failed += f
        notes += msgs
        op = s.get("batch_ms", [])
        thr = v["docs"] / max(1e-9, v["wall_ms"] / 1e3)
        rows_in = spec["per_batch"] * (batches + 1)
        layer.update({
            "curate.docs_per_s": thr,
            "curate.batch_p50_ms": checks.median(op),
            "curate.warm_ms": v.get("curate.warm_ms", 0.0),
            "curate.rows_in": rows_in, "curate.gate_rejected": rejected,
            "curate.rows_kept": kept, "curate.keep_ratio": kept / max(1, rows_in),
        })
        layer.update(r.get("stores", {}))
    else:
        with open(r["oracle"]) as fo:
            oracle = json.load(fo)
        names = [o["name"] for o in r["obs"]]
        f, msgs = checks.check_battery(spec["tables"], r["results"], oracle, names)
        failed += f
        notes += msgs
        op = s.get("query_ms", [])
        thr = len(op) / max(1e-9, sum(op) / 1e3)
        layer.update({"battery.battery_s": sum(op) / 1e3,
                      "battery.query_p50_ms": checks.median(op)})
        for q in gen.HOT_QUERIES:
            layer[f"battery.{q}_s"] = v.get(f"battery.{q}_s", 0.0)
            layer[f"battery.{q}.jobs"] = v.get(f"battery.{q}.jobs", 0.0)
        for k in ["battery.jobs_construct", "battery.shuffle_bytes",
                  "battery.spill_bytes"] + [
                f"battery.{mod}.{x}" for mod in MODULES
                for x in ("construct_s", "plan_s", "exec_s", "jobs")]:
            layer[k] = v.get(k, 0.0)
    # medians of every per-sample layer metric the JVM recorded
    for k, xs in s.items():
        if "." in k and k not in layer:
            layer[k] = checks.median(xs)
    tv, tp, tn = checks.tail(op)
    e2e = {"setup_s": m(checks.median(r["setup_s"]), "s"),
           "op_p50_ms": m(checks.median(op), "ms"),
           "throughput_per_s": m(thr, "1/s")}
    n_ops = max(1, attempted)
    layer.update({"op_tail_ms": tv, "op_cpu_ms": checks.median(s.get("op_cpu_ms", [])),
                  "op_tail.percentile": tp,
                  "op_tail.samples": tn,
                  "failed_frac": failed / n_ops,
                  "jvm.peak_rss_mb": r["jvm.peak_rss_mb"],
                  "jvm.gc_ms": r["jvm.gc_ms"]})
    for lay, ms in r.get("self_ms", {}).items():
        layer[f"self.{lay}_ms"] = ms / n_ops
    return attempted, failed, e2e, layer, notes


def declared_layers():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [(x["name"], x["unit"]) for x in json.load(f)["per_layer"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["archive", "curate", "battery"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    spec_dir, spec = inputs(a.workload, a.seed)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(classes, jars, a.workload, spec_dir, work, a.seconds,
                    a.trace, cores)
        attempted, failed, e2e, layer, notes = summarize(a.workload, spec, r)
        # keep the raw record of the latest run per (workload, seed, trace)
        keep = os.path.join(BUILD, "last")
        os.makedirs(keep, exist_ok=True)
        tag = f"{a.workload}-{a.seed}-t{a.trace}"
        shutil.copy(os.path.join(work, "out.json"), f"{keep}/{tag}.json")
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), f"{keep}/{tag}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = os.path.join(BUILD, "state", f"last-untraced-{a.workload}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: x["value"] for k, x in e2e.items()}, f)
        metrics = e2e
    else:
        # tracing overhead: this traced run against the latest untraced one
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            layer["trace.overhead_op_p50_ms"] = (
                e2e["op_p50_ms"]["value"] - base["op_p50_ms"])
            layer["trace.overhead_throughput_frac"] = (
                1 - e2e["throughput_per_s"]["value"] / base["throughput_per_s"])
        metrics = {n: m(layer.get(n, 0.0), u) for n, u in declared_layers()}
    for n in notes[:20]:
        print(f"check: {n}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
