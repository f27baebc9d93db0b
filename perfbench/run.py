#!/usr/bin/env python3
"""Repository benchmark: serve and ingest workloads over the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first run builds the engine and the benchmark from source with sbt
(products under .bench_build/), later runs reuse the build while the
sources are unchanged. Each run starts one JVM that holds the load
generator and the engine, prints `report` lines for the workload's
named metrics and ends with one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.

--smoke runs every workload at tiny sizes in one JVM and checks
that every metric is reported with its unit and every output check
passes.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# The named end-to-end metrics of each workload, printed as report lines.
REPORT = {
    "serve": {"serve_rps": "1/s", "serve_p90_ms": "ms", "probe_p50_ms": "ms",
              "ann_p50_ms": "ms", "sql_p50_ms": "ms", "plan_api_p50_ms": "ms",
              "refresh_s": "s"},
    "ingest": {"ingest_docs_per_s": "1/s", "commit_p50_s": "s", "raw_p50_ms": "ms",
               "store_bytes_per_doc": "B", "pipeline_s": "s"},
}
REPORT_ALL = {"setup_s": "s", "error_rate": "ratio", "live_heap_peak_mb": "MB"}

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


BUILD_SUFFIXES = {".scala", ".java", ".sbt", ".properties"}


def sources_digest():
    """Digest of the build definitions and sources the build compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", HERE):
        files += [p for p in top.rglob("*") if p.is_file() and p.suffix in BUILD_SUFFIXES
                  and "target" not in p.parts]
    for p in sorted(files):
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "sources.sha256"
    digest = sources_digest()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == digest:
        return cp_file.read_text().strip()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt's state and every temporary file of the build stay in the checkout
    env = {**os.environ, "TMPDIR": str(tmp),
           "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    cmd = ["sbt", f"-Dsbt.global.base={BUILD / 'sbt-global'}", "-Dsbt.server.autostart=false",
           "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(digest)
    return lines[-1]


def run_jvm(cp, workloads, seed, seconds, trace, tiny):
    """Run the benchmark JVM; return its report lines and JSON results."""
    work = BUILD / "work" / f"{'-'.join(workloads)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", ",".join(workloads),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--spans", str(BUILD / "traces")]
    if tiny:
        cmd.append("--tiny")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    reports, results = [], {}
    for line in out.splitlines():
        kind, _, rest = line.partition(" ")
        if kind == "report":
            reports.append(line)
        elif kind in ("e2e", "layers"):
            w, _, js = rest.partition(" ")
            results[(kind, w)] = json.loads(js)
    return reports, results


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def smoke(cp, seed):
    """All workloads at tiny sizes: every metric named with its unit, every check passing."""
    t0 = time.time()
    reports, results = run_jvm(cp, WORKLOADS, seed, 3, True, True)
    s = spec()
    problems = []
    for w in WORKLOADS:
        for kind, key in (("e2e", "end_to_end"), ("layers", "per_layer")):
            r = results.get((kind, w))
            if r is None:
                problems.append(f"{w}: no {kind} result")
                continue
            want = {m["name"]: m["unit"] for m in s[key]}
            got = {n: m["unit"] for n, m in r["metrics"].items()}
            if got != want:
                problems.append(f"{w} {kind}: metrics {sorted(set(got) ^ set(want))} differ")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{w} {kind}: correct={r['correct']} "
                                f"failed={r['failed']} attempted={r['attempted']}")
        printed = {}
        for line in reports:
            _, rw, name, value, unit = line.split(" ")
            if rw == w:
                printed[name] = (float(value), unit)
        for name, unit in {**REPORT[w], **REPORT_ALL}.items():
            if name not in printed or printed[name][1] != unit:
                problems.append(f"{w}: report {name} [{unit}] missing")
        if printed.get("error_rate", (1, ""))[0] != 0:
            problems.append(f"{w}: error_rate {printed.get('error_rate')}")
    for line in reports:
        print(line)
    verdict = {"smoke": "ok" if not problems else "failed", "seconds": round(time.time() - t0, 1),
               "problems": problems}
    print(json.dumps(verdict))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)", 2)
    cp = build()
    if a.smoke:
        sys.exit(smoke(cp, a.seed))
    reports, results = run_jvm(cp, [a.workload], a.seed, a.seconds, a.trace == 1, False)
    result = results.get(("layers" if a.trace else "e2e", a.workload))
    if result is None:
        fail("the benchmark JVM printed no result")
    for line in reports:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
