#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, one Spark JVM per run.

  python3 perfbench/run.py --workload <radar_ingest|lake_mixed|query_registry>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.py). Each run generates its inputs from the seed,
sets up, measures a closed loop of one client for the given seconds,
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics (computed from spans the harness records around each call into an
engine layer and from Spark listeners registered only in that run; a
traced run alternates traced and untraced steps and reports the tracing
overhead between them). The line above it, "report: {...}", carries
everything else: the workload's named metrics, the per-op Catalyst /
Spark-job / driver-gap split and the host context (nproc, load average
before and after, other JVMs running).

Everything is written under the build directory (.bench_build, or
$CARGO_TARGET_DIR): classes and jars, start-up class archives, per-run
scratch space (removed after the run) and span files.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("radar_ingest", "lake_mixed", "query_registry")
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """The host's aggregate CPU counters (/proc/stat "cpu" line)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def other_jvms():
    """Java processes running beside this benchmark (their main classes)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            main = next((a.decode(errors="replace") for a in argv[1:]
                         if a and not a.startswith(b"-") and b"/" not in a
                         and b"." in a), "?")
            found.append(main)
    return found


def host_context(before, after, cpu0, cpu1):
    """`steal_share`: the share of the host's CPU time during the run that
    the hypervisor gave to other machines (a noisy neighbour shows here)."""
    steal = None
    if cpu0 and cpu1 and len(cpu0) > 7:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        steal = d[7] / max(1, sum(d))
    return {"nproc": os.cpu_count(), "load_before": before, "load_after": after,
            "steal_share": steal, "other_jvms": other_jvms()}


def java_cmd(cp, jars, work, main, args, cds=None):
    """`cds`: (archive path, exists) — use the start-up class archive, or
    write it when this JVM exits."""
    share = []
    if cds:
        share = [f"-XX:SharedArchiveFile={cds[0]}" if cds[1]
                 else f"-XX:ArchiveClassesAtExit={cds[0]}", "-Xlog:all=warning:stderr"]
    return (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
            + share + [
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]), main] + args)


def run_jvm(cmd, work, timeout):
    """Runs the JVM in its own process group; returns (exit code, stdout
    lines). The group is killed and reaped on timeout or interrupt."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if p.returncode != 0:
        sys.stderr.write("\n".join(l for l in err.splitlines()
                                   if "perfbench" in l or "Exception" in l or "Error" in l)[-6000:]
                         + "\n")
    return p.returncode, out.splitlines()


def tagged(lines, tag):
    for line in reversed(lines):
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    return None


def one_run(cp, jars, base, workload, seed, seconds, trace):
    work = os.path.join(base, "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(base, "results", f"spans-{workload}-s{seed}.jsonl")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--refs", os.path.join(HERE, "registry_refs.tsv")]
    if trace:
        args += ["--span-file", spans]
    # the first run of a workload in a checkout archives the classes its
    # JVM loaded; later runs map that archive and start seconds faster
    archive = os.path.join(base, "cds", f"{workload}.jsa")
    have = os.path.exists(archive)
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    cds = (archive if have else archive + f".{os.getpid()}.tmp", have)
    before, cpu0 = load_avg(), cpu_times()
    t0 = time.time()
    try:
        code, lines = run_jvm(java_cmd(cp, jars, work, "perfbench.Main", args, cds),
                              work, JVM_TIMEOUT_S)
        if not have and code == 0 and os.path.exists(cds[0]):
            os.replace(cds[0], archive)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not have and os.path.exists(cds[0]):
            os.remove(cds[0])
    wall = time.time() - t0
    result = tagged(lines, "PERFBENCH-RESULT")
    report = tagged(lines, "PERFBENCH-REPORT")
    if code != 0 or result is None or report is None:
        raise SystemExit(f"perfbench: {workload} run failed (exit {code})")
    report["host"] = host_context(before, load_avg(), cpu0, cpu_times())
    report["jvm_wall_s"] = wall
    return result, report


def contract_line(result, names, fill_zero):
    metrics = {}
    for name, unit in names:
        m = result.get(name)
        if m is None:
            if not fill_zero:
                raise SystemExit(f"perfbench: metric {name} missing from the run")
            m = {"value": 0.0, "unit": unit}
        metrics[name] = {"value": m["value"], "unit": unit}
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, jars = build.build()
    base = build.build_dir()
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    result, report = one_run(cp, jars, base, a.workload, a.seed, a.seconds, a.trace)
    if a.trace:
        metrics = contract_line(result["per_layer"],
                                [(m["name"], m["unit"]) for m in spec["per_layer"]],
                                fill_zero=True)
    else:
        metrics = contract_line(result["end_to_end"],
                                [(m["name"], m["unit"]) for m in spec["end_to_end"]],
                                fill_zero=False)
    report["end_to_end"] = result["end_to_end"]
    if a.trace:
        report["per_layer"] = result["per_layer"]
    print("report: " + json.dumps(report, separators=(",", ":")))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
