#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_board --seed 1 --seconds 12 --trace 0

Builds the engine and the driver from source on first use (cached by a hash
of the sources under .bench_build/), runs the workload in a fresh JVM, checks
every query's result hash against perfbench/expected/, and prints as the last
stdout line {"correct", "attempted", "failed", "metrics"}. --trace 0 prints
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones and
writes spans plus per-layer totals to .bench_build/trace/. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CORPUS = HERE / "data" / "sf0.01"
WARM_CORPUS = HERE / "data" / "sf0.001"
EXPECTED = HERE / "expected"
CDS_ARCHIVE = BUILD / "classes.jsa"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kills and reaps every process this run started (also on SIGTERM)."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if signum is not None:
        fail(f"stopped by signal {signum}")


def start(cmd, **kw):
    # Own process group, so a kill also reaches the JVM a launcher forks.
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles engine + driver with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"engine sources not found under {ROOT}")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    meta = BUILD / "build.json"
    if meta.is_file():
        m = json.loads(meta.read_text())
        if m.get("stamp") == stamp:
            return m["classpath"]
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and driver with sbt", file=sys.stderr)
    with open(BUILD / "build.log", "w") as log:
        p = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop_children()
            fail("build exceeded the time limit")
        log.write(out)
    lines = [l for l in out.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {BUILD / 'build.log'}")
    classpath = jar_class_dirs(lines[-1])
    archive_classes(classpath)
    meta.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    return classpath


def jar_class_dirs(classpath):
    """Packs each class directory on the classpath into a jar, because the
    class-data-sharing archive takes classes from jars only."""
    jars = BUILD / "jars"
    shutil.rmtree(jars, ignore_errors=True)
    jars.mkdir(parents=True)
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if Path(entry).is_dir():
            jar = jars / f"classes{i}.jar"
            subprocess.run(["jar", "--create", "--file", str(jar), "-C", entry, "."],
                           check=True)
            entry = str(jar)
        entries.append(entry)
    return os.pathsep.join(entries)


def java_cmd(classpath, main, *args):
    # No perf-data file: the JVM would write it under the system /tmp.
    # A fixed set of JIT compiler threads, so the driver can take their CPU
    # time out of cpu_s (a thread that exits would take its time along).
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if CDS_ARCHIVE.is_file():
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                  "-cp", classpath, main, *map(str, args)]


def archive_classes(classpath):
    """Records the classes a short training run loads into a class-data-
    sharing archive. Every run maps them instead of loading them from jars,
    which takes several seconds off JVM and Spark start-up."""
    CDS_ARCHIVE.unlink(missing_ok=True)
    cmd = java_cmd(classpath, "perfbench.Train", WARM_CORPUS)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    (BUILD / "run").mkdir(exist_ok=True)
    with open(BUILD / "train.log", "w") as log:
        p = start(cmd, cwd=BUILD / "run", stdout=log, stderr=log)
        try:
            p.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop_children()
            fail("class archive run exceeded the time limit")
    if p.returncode != 0:
        fail(f"class archive run failed, see {BUILD / 'train.log'}")


def corpus_digest():
    digest = hashlib.sha256()
    for f in sorted(CORPUS.iterdir()):
        digest.update(f.name.encode())
        digest.update(f.read_bytes())
    return digest.hexdigest()


def run_driver(classpath, args, deadline):
    """Runs the driver JVM; returns (record, launch epoch seconds). The
    corpus stamp is computed by the first run and cached by file content."""
    stamp_file = BUILD / "corpus_md5.json"
    digest = corpus_digest()
    cached = json.loads(stamp_file.read_text()) if stamp_file.is_file() else {}
    run_dir = BUILD / "run"
    out = BUILD / "out"
    for d in (run_dir, out):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record_file = out / f"{tag}.json"
    spans_file = out / f"{tag}-spans.json"
    record_file.unlink(missing_ok=True)
    cmd = java_cmd(classpath, "perfbench.Driver",
                   "--workload", args.workload, "--seed", args.seed,
                   "--seconds", args.seconds, "--trace", args.trace,
                   "--corpus", CORPUS, "--warm", WARM_CORPUS,
                   "--out", record_file, "--spans", spans_file)
    if digest in cached:
        cmd += ["--corpus-md5", cached[digest]]
    with open(out / f"{tag}.log", "w") as log:
        launched = time.time()
        proc = start(cmd, cwd=run_dir, stdout=log, stderr=log)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop_children()
            fail(f"driver exceeded the time limit, see {log.name}")
    if proc.returncode != 0 or not record_file.is_file():
        fail(f"driver exited with {proc.returncode}, see {out / (tag + '.log')}")
    record = json.loads(record_file.read_text())
    stamp_file.write_text(json.dumps({digest: record["corpus_md5"]}))
    if spans_file.is_file():
        record["spans"] = json.loads(spans_file.read_text())
    return record, launched


def settled(record):
    """The untraced passes after the first. The first timed pass still pays
    JIT compilation for the timed corpus' data sizes (1.2-1.6x the later
    passes' wall time, up to 2x their CPU time), so it is reported apart."""
    return [p for p in record["passes"] if not p["traced"]][1:]


def end_to_end(record, launched, failed):
    """Pass metrics are the minimum over the settled passes: host noise only
    ever adds time. Each query's latency is its minimum over those passes,
    so the latency metrics keep their meaning when a faster tree fits more
    passes into the run."""
    passes = settled(record)
    names = {q for p in passes for q in p["lat"]}
    lat = [min(p["lat"][q] for p in passes if q in p["lat"]) for q in names]
    # The highest percentile with ten samples beyond it lies below the median
    # with fewer than 20 queries, so the tail is then the slowest query.
    tail_s, tail_pct = ((max(lat), 100.0) if len(lat) < 20 else
                        (sorted(lat)[-11], 100.0 * (len(lat) - 10) / len(lat)))
    info = {"lat_tail_percentile": round(tail_pct, 1), "lat_samples": len(lat),
            "settled_passes": len(passes),
            "first_pass_s": record["passes"][0]["wall_s"],
            "jit_cpu_s": statistics.median(p["jit_cpu_s"] for p in passes)}
    return {
        "setup_s": record["setup_done_epoch_s"] - launched,
        "wall_s": min(p["wall_s"] for p in passes),
        "cpu_s": min(p["cpu_s"] for p in passes),
        "lat_p50_s": statistics.median(lat),
        "lat_tail_s": tail_s,
        "heap_peak_mb": record["heap_peak_mb"],
        "ok_frac": 1.0 - failed / record["attempted"],
    }, info


def max_gap_frac(spans):
    """Largest share of a query span that its build, plan and run spans
    leave uncovered."""
    covered = {}
    for s in spans:
        if s["name"] in ("build", "plan", "run"):
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    fracs = [1.0 - covered.get(s["id"], 0.0) / (s["end_s"] - s["start_s"])
             for s in spans if s["name"] == "query" and s["end_s"] > s["start_s"]]
    return max(fracs, default=0.0)


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    keys = {k for p in traced for k in p["layers"]}
    m = {k: statistics.median(p["layers"].get(k, 0.0) for p in traced)
         for k in keys}
    g = lambda k: m.get(k, 0.0)
    for k in ("", ".build"):
        run_s = g("exec.run_s") if k == "" else g("entry.build_s")
        m[f"exec.cores_busy{k}"] = g(f"exec.task_run_s{k}") / run_s if run_s else 0.0
        m[f"exec.cpu_per_run{k}"] = (g(f"exec.task_cpu_s{k}") / g(f"exec.task_run_s{k}")
                                     if g(f"exec.task_run_s{k}") else 0.0)
    for j in ("gc", "jit"):
        m[f"jvm.{j}_s"] = sum(g(f"jvm.{j}_s.{ph}") for ph in ("build", "plan", "run"))
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in settled(record)))
    m["trace.passes"] = float(len(traced))
    m["trace.max_gap_frac"] = max_gap_frac(record.get("spans", []))
    for k, v in record["setup"].items():
        if isinstance(v, (int, float)):
            m[f"setup.{k}"] = float(v)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write this run's result hashes as the expected ones "
                         "(only after the oracle check in README.md passes)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    deadline = time.monotonic() + RUN_LIMIT_S
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not CORPUS.is_dir() or not WARM_CORPUS.is_dir():
        fail("corpus not found under perfbench/data")
    classpath = build()
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 60)
    record, launched = run_driver(classpath, args, deadline)

    expected_file = EXPECTED / f"{args.workload}.json"
    hashes = record["hashes"]
    if args.record_expected:
        if record["failures"]:
            fail(f"not recording: queries failed: {record['failures']}")
        EXPECTED.mkdir(exist_ok=True)
        expected_file.write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    expected = json.loads(expected_file.read_text()) if expected_file.is_file() else {}
    # A query without a hash threw during the check; it is in failures.
    mismatched = sorted(q for q in expected if q in hashes and hashes[q] != expected[q])
    unchecked = sorted(set(hashes) - set(expected))
    failed = len(record["failures"]) + len(mismatched)
    for q, msg in record["failures"].items():
        print(f"perfbench: FAILED {q}: {msg}", file=sys.stderr)
    for q in mismatched:
        print(f"perfbench: WRONG RESULT {q}: {hashes[q]} != {expected[q]}",
              file=sys.stderr)

    e2e, info = end_to_end(record, launched, failed)
    meta = {"workload": args.workload, "seed": args.seed,
            "nproc": record["nproc"], "corpus_md5": record["corpus_md5"],
            "loadavg_per_core_start": record["load_start"],
            "loadavg_per_core_end": record["load_end"],
            "unchecked_queries": unchecked, **info}
    if args.trace:
        values = per_layer(record)
        trace_dir = BUILD / "trace"
        trace_dir.mkdir(exist_ok=True)
        trace_file = trace_dir / f"{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps({
            "meta": meta, "end_to_end_untraced": e2e, "per_layer": values,
            "passes": record["passes"], "spans": record.get("spans", [])}))
        meta["trace_file"] = str(trace_file.relative_to(ROOT))
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": failed == 0 and not unchecked,
                      "attempted": record["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
