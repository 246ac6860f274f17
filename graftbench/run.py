"""graftbench: closed-loop end-to-end benchmark of graft.

    python3 graftbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source (build.py), runs one JVM with
a local Spark session, and prints as its last stdout line one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
The full run record (raw samples, checks, load average, Spark config,
spans) lands under `.bench_out/`. Workloads and metrics are described in
BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
# one fixed schedule per run: 45-75 s untraced, 55-80 s traced on a
# 4-core host; the cap keeps a hung run inside its 180 s
JVM_TIMEOUT_S = 170
HEAP = "2g"
# Processors the JVM sees: Spark runs local[CORES] with CORES shuffle
# partitions, and the GC sizes its threads to them. Two leave a 4-core
# host's other cores to the JIT, whose JIT_THREADS finish compiling the
# hot paths sooner and at a more even pace than the one C2 thread two
# processors would get: runs then differ less from each other.
CORES = 2
JIT_THREADS = 4
# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, out, main_args):
    jars = build.spark_jars()
    cp = os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                          str(jars / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={CORES}",
             f"-XX:CICompilerCount={JIT_THREADS}",
             f"-Djava.io.tmpdir={out / 'tmp'}", "-Djava.awt.headless=true"]
            + opens + ["-cp", cp, "graftbench.Main"] + main_args)


def run_jvm(cmd, out):
    """Run the benchmark JVM in its own process group; return its stdout
    lines, or None if it failed or timed out (the group is killed)."""
    log = open(out / "jvm.log", "w")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                         text=True, start_new_session=True, env=env)
    try:
        stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"graftbench: JVM timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
        return None
    finally:
        # on a timeout or a signal to this script: no JVM outlives it
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    if p.returncode != 0:
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        print(f"graftbench: JVM exited {p.returncode}\n{tail}", file=sys.stderr)
        return None
    return stdout.splitlines()


def cpu_times():
    """The machine's CPU time counters (the `cpu` line of /proc/stat), or
    None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of the CPU time between two `cpu_times` readings that the
    hypervisor gave to other guests (steal, the 8th counter): a run with
    a high share ran on a host busy with other work."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted, but it does not size the run: every run does the same
    # fixed schedule, however fast the host is
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="only print the digest of the generated inputs")
    return ap.parse_args(argv)


def main(argv):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"graftbench: unknown workload {a.workload} (have {names})",
              file=sys.stderr)
        return 2
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2
    tag = "digest" if a.digest else f"t{a.trace}"
    out = ROOT / ".bench_out" / f"{a.workload}-s{a.seed}-{tag}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    main_args = ["--workload", a.workload, "--seed", str(a.seed),
                 "--out", str(out)]
    if a.digest:
        lines = run_jvm(jvm_command(classes, out, main_args + ["--digest"]), out)
        shutil.rmtree(out, ignore_errors=True)
        got = [l for l in (lines or []) if l.startswith("GRAFTBENCH_DIGEST ")]
        if not got:
            return 1
        print(got[-1].split(" ", 1)[1])
        return 0

    load_before = os.getloadavg()
    cpu_before = cpu_times()
    lines = run_jvm(jvm_command(classes, out, main_args + [
        "--trace", str(a.trace)]), out)
    load_after = os.getloadavg()
    steal = steal_share(cpu_before, cpu_times())
    rec_lines = [l for l in (lines or []) if l.startswith("GRAFTBENCH_RECORD ")]
    if not rec_lines:
        return 1
    record = json.loads(rec_lines[-1].split(" ", 1)[1])
    record["diag"]["nproc"] = os.cpu_count()
    record["diag"]["loadavg_before"] = list(load_before)
    record["diag"]["loadavg_after"] = list(load_after)
    record["diag"]["cpu_steal_share"] = steal
    result = stats.result(record, spec, a.trace == 1)
    record["result"] = result
    shutil.rmtree(out / "tables", ignore_errors=True)
    shutil.rmtree(out / "tmp", ignore_errors=True)
    shutil.rmtree(out / "spark-local", ignore_errors=True)
    (out / "record.json").write_text(json.dumps(record, indent=1))
    for c in record["checks"]:
        if not c["ok"]:
            print(f"graftbench: check failed: {c['name']}: {c['detail']}",
                  file=sys.stderr)
    if not record["diag"]["valid"]:
        print("graftbench: run INVALID: " + record["diag"]["invalid_reason"],
              file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
