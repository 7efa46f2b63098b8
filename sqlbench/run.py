#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft SQL engine (GraftDatabase).

    python3 sqlbench/run.py --workload point_select --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark's JVM side from source into
.bench_build/ (once per source tree), generates the workload's tables and
statements from --seed, drives GraftDatabase through a closed loop of one
client over a fixed number of statements sized to take about --seconds,
checks every result, and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("point_select", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the repository's build.sbt names as its unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        jars = sorted(c.glob("*.jar"))
        if jars:
            return jars
    raise BenchError("no Spark jars found (set SPARK_HOME)")


def build():
    """Compiles src/main/scala and sqlbench/src into .bench_build/bench.jar,
    unless a build of the same sources and jars is already there."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").glob("*.scala"))
    if not program:
        raise BenchError("program sources src/main/scala not found")
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in program + bench:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    for j in jars:
        digest.update(j.name.encode())
    stamp = digest.hexdigest()
    jar, stamp_file = BUILD / "bench.jar", BUILD / "bench.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar, jars
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in program + bench) + "\n")
    print(f"[sqlbench] compiling {len(program) + len(bench)} sources", file=sys.stderr)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    # a jar, not a class directory: class data sharing archives only
    # classes that come from jars
    with zipfile.ZipFile(BUILD / "bench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    ARCHIVE.unlink(missing_ok=True)
    (BUILD / "bench.jar.tmp").replace(jar)
    stamp_file.write_text(stamp)
    return jar, jars


def java_command(jar, jars, work, args):
    """The benchmark JVM. The first run after a build records the classes
    it loads in a class data sharing archive (kept only if that run
    succeeds); later runs map the archive instead of loading those classes
    from the jars, which shortens JVM start and the first, cold set-up."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(jar)] + [str(j) for j in jars])
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if ARCHIVE.is_file()
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", *opens, "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", cds,
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-cp", cp, "sqlbench.Main"] + args)


def run_jvm(cmd, log):
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S, cwd=ROOT)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM did not finish within {JVM_TIMEOUT_S} s; log: {log}")
    if proc.returncode != 0:
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise BenchError(f"JVM exited with {proc.returncode}; log tail:\n{tail}")
    recorded = Path(f"{ARCHIVE}.tmp")
    if recorded.is_file():
        recorded.replace(ARCHIVE)


def result_line(raw, spec, trace):
    """The result line; each metric takes its unit from BENCHMARK.json."""
    measured = [r for p in raw["phases"] for r in p["records"]]
    failed = [r for r in measured if not r["ok"]]
    values = metrics.per_layer(raw) if trace else metrics.end_to_end(raw)
    declared = spec["per_layer" if trace else "end_to_end"]
    problems = metrics.check_names(values, declared)
    if problems:
        raise BenchError("metric set does not match BENCHMARK.json: " + "; ".join(problems))
    out = {
        "correct": not failed and len(measured) > 0,
        "attempted": len(measured),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    return out, failed


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "BENCHMARK.json").is_file():
        raise BenchError("BENCHMARK.json not found at the repository root")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    BUILD.mkdir(exist_ok=True)
    jar, jars = build()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_file = work / "raw.json"
    started = time.time()
    try:
        imported, imported_bytes = gen.generate(a.workload, a.seed, work / "input")
        gen_s = time.time() - started
        run_jvm(java_command(jar, jars, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(raw_file)]),
            BUILD / f"{name}.log")
        raw = json.loads(raw_file.read_text())
        raw["gen_s"] = gen_s
        raw["tables"] = dict(imported)
        for t, n in raw["inserted_rows"].items():
            raw["tables"][t] = raw["tables"].get(t, 0) + n
        raw["user_bytes"] = imported_bytes + raw["inserted_user_bytes"]
        for sub in ("traces", "results"):
            (BUILD / sub).mkdir(exist_ok=True)
        (BUILD / "results" / f"{name}.json").write_text(json.dumps(raw))
        if a.trace:
            shutil.copy(raw["spans_file"], BUILD / "traces" / f"{name}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out, failed = result_line(raw, spec, a.trace)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "tables_rows": raw["tables"], "setup_runs_s": raw["setup_s"],
        "generate_s": round(raw["gen_s"], 3), "expected_answers_s": round(raw["expected_s"], 3),
        "planned_statements": raw["planned_statements"],
        "timed_s": round(sum(p["elapsed_s"] for p in raw["phases"]), 2),
        "select_samples": sum(1 for r in raw["phases"][-1]["records"]
                              if not r["insert"] and r["ok"]),
        "insert_samples": sum(1 for r in raw["phases"][-1]["records"] if r["insert"] and r["ok"]),
        "failed_frac": out["failed"] / out["attempted"] if out["attempted"] else 1.0,
        "failures": [{"id": r["id"], "sql": r["sql"], "error": r["err"]} for r in failed],
        "wall_s": round(time.time() - started, 1),
    }
    if a.trace:
        info["layer_self_ms"] = metrics.layer_self_ms(raw)
    print(json.dumps(info, ensure_ascii=False))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # a SIGTERM unwinds like an error: subprocess.run kills and reaps the
    # JVM, and the run's scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"sqlbench: {e}", file=sys.stderr)
        sys.exit(1)
