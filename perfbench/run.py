"""Pipeline benchmark: publish, serve and refresh workloads over the
GeoTIFF -> COG -> STAC job.

    python3 perfbench/run.py --workload publish --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 1
    python3 perfbench/run.py --selftest

Builds the program from source (build.py), runs one workload in one JVM
and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Exits non-zero when any
correctness check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170

# what Spark on JDK 17 needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_result(line, bench, trace):
    """Problems with a result line against BENCHMARK.json; [] when it
    parses and carries exactly the metrics of its mode with their
    units."""
    try:
        res = json.loads(line)
    except ValueError as e:
        return ["not JSON: %s" % e]
    if not isinstance(res, dict):
        return ["not a JSON object"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return ["keys %s" % sorted(res)]
    if not isinstance(res["correct"], bool):
        problems.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool):
            problems.append("%s is not a whole number" % k)
    if isinstance(res["attempted"], int) and res["attempted"] < 1:
        problems.append("attempted < 1")
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = res["metrics"] if isinstance(res["metrics"], dict) else {}
    if set(got) != set(want):
        problems.append("metrics differ: missing %s, extra %s" % (
            sorted(set(want) - set(got)), sorted(set(got) - set(want))))
    for name, m in got.items():
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            problems.append("%s is not {value, unit}" % name)
            continue
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            problems.append("%s value %r is not a number" % (name, v))
        if name in want and m["unit"] != want[name]:
            problems.append("%s unit %s, expected %s" % (
                name, m["unit"], want[name]))
    return problems


def jvm(classpath, main, args, tmp, trace=False, cds=None):
    """Runs `main` in a fresh JVM; returns its exit code and stdout lines.

    `cds` names a class-data-sharing archive of the classes this kind of
    run loads. A run without one writes it when it exits; later runs map
    it instead of loading and verifying Spark's classes one by one, which
    takes seconds off every JVM's start. It moves no median: every class
    a timed call needs is loaded by the untimed warm-up or the first
    set-up, and no median uses the first set-up."""
    java = build.java()
    if trace:
        # counts local filesystem operations (see trace-conf/core-site.xml);
        # appended, so that the archive's class path stays a prefix
        classpath = classpath + os.pathsep + os.path.join(HERE, "trace-conf")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    dump = None
    if cds and os.path.exists(cds):
        cmd.append("-XX:SharedArchiveFile=" + cds)
    elif cds and not trace:
        # a directory on the class path cannot be archived
        dump = cds + ".tmp"
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.stderr.write("perfbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
        return 1, []
    if dump and os.path.exists(dump):
        if proc.returncode == 0:
            os.replace(dump, cds)
        else:
            os.remove(dump)
    return proc.returncode, out.splitlines()


def selftest(classpath):
    work = os.path.join(WORK, "work", "selftest-%d" % os.getpid())
    try:
        code, lines = jvm(classpath, "perfbench.SelfTest", [work],
                          os.path.join(work, "tmp"), trace=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write("".join(l + "\n" for l in lines))
    bench = spec()
    good = {"correct": True, "attempted": 3, "failed": 0, "metrics": {
        m["name"]: {"value": 1.5, "unit": m["unit"]}
        for m in bench["end_to_end"]}}
    cases = [
        ("a full end-to-end line parses", json.dumps(good), False, True),
        ("a per-layer line parses", json.dumps(dict(good, metrics={
            m["name"]: {"value": 0, "unit": m["unit"]}
            for m in bench["per_layer"]})), True, True),
        ("a missing metric is caught", json.dumps(dict(good, metrics={
            k: v for k, v in list(good["metrics"].items())[1:]})), False, False),
        ("a null value is caught", json.dumps(dict(good, metrics=dict(
            good["metrics"], setup_s={"value": None, "unit": "s"}))), False, False),
        ("a wrong unit is caught", json.dumps(dict(good, metrics=dict(
            good["metrics"], setup_s={"value": 1.0, "unit": "ms"}))), False, False),
        ("truncated output is caught", json.dumps(good)[:-3], False, False),
    ]
    ok = code == 0
    for name, line, trace, want_ok in cases:
        passed = (check_result(line, bench, trace) == []) == want_ok
        ok &= passed
        print("%s %s" % ("PASS" if passed else "FAIL", name))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classpath = build.build()
    if a.selftest:
        return selftest(classpath)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        ap.error("unknown workload %s" % a.workload)
    work = os.path.join(WORK, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, lines = jvm(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-dir", os.path.join(WORK, "trace")],
            os.path.join(work, "tmp"), trace=a.trace == 1,
            cds=os.path.join(WORK, "cds-%s.jsa" % a.workload))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not lines:
        sys.stderr.write("perfbench: no output\n")
        return 1
    problems = check_result(lines[-1], bench, a.trace == 1)
    if problems:
        sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
        sys.stderr.write("perfbench: bad result line: %s\n%s\n" % (
            "; ".join(problems), lines[-1]))
        return 1
    sys.stdout.write("".join(l + "\n" for l in lines))
    return code


if __name__ == "__main__":
    sys.exit(main())
