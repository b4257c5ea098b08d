#!/usr/bin/env python3
"""Point-cloud pipeline benchmark: LAZ ingest, small-window select and
region select + LAS export against the program's public API.

    python3 pcbench/run.py --workload <select_small|select_large>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (see build.py), runs one
workload in one JVM and prints, as its last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. A labels line (machine, input and calibration) comes just
before it. Reports and span files go to pcbench/out/. Exits 1 on any
failed op or oracle mismatch, 2 when the program's sources are missing.
"""
import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import build

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
HEAP = "-Xmx2g"
JVM_TIMEOUT_S = 170
OUT = build.BENCH / "out"


def java_cmd(classes, main, work, args):
    """Command line running `main` from `classes`, with scratch in `work`."""
    return ["java", HEAP, *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-cp", build.classpath(classes), main] + args


def run_jvm(classes, args):
    """Runs pcbench.Main; returns (exit code, stdout lines)."""
    OUT.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=OUT))
    (work / "tmp").mkdir()
    cmd = java_cmd(classes, "pcbench.Main", work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(OUT)])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
        return proc.returncode, proc.stdout.splitlines()
    except subprocess.TimeoutExpired:
        print(f"[pcbench] timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)


def last_json(lines, key):
    for line in reversed(lines):
        if line.startswith("{") and f'"{key}"' in line:
            return json.loads(line)
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["select_small", "select_large"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not build.PROGRAM_SRC.is_dir():
        print(f"[pcbench] no program sources at {build.PROGRAM_SRC.relative_to(build.ROOT)}",
              file=sys.stderr)
        return 2
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    classes = build.build()
    code, lines = run_jvm(classes, args)
    labels = last_json(lines, "labels")
    result = last_json(lines, "ok")
    if result is None:
        print("[pcbench] the harness printed no result", file=sys.stderr)
        return 1
    got = result["metrics"]
    # a null per-layer metric does not apply to this workload (an nn
    # class metric of select_large, export time of select_small); the
    # result line needs a number, so it reads 0 there and is named in
    # the labels' not_applicable. Every end-to-end metric applies.
    not_applicable = sorted(n for n in units if n in got and got[n] is None)
    missing = sorted(n for n in units if n not in got or (not args.trace and got[n] is None))
    if missing:
        print(f"[pcbench] metrics missing: {missing}", file=sys.stderr)
    if labels is not None:
        labels["labels"]["source_sha256"] = build.source_key()
        labels["labels"]["not_applicable"] = not_applicable
        print(json.dumps(labels, sort_keys=True))
    correct = bool(result["ok"]) and code == 0 and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": 0.0 if got[n] is None else got[n], "unit": u}
                    for n, u in units.items() if n in got},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
