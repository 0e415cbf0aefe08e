#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Run from the repository root. On first use it builds the library and the
benchmark program together (sbt, offline), then generates the workload's
inputs from the seed, starts a fresh JVM running `perfbench.Main`
(`local[N]`, N = usable cores, one closed-loop client) and prints, as its
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from a traced run, whose spans are written to
.bench_build/runs/<workload>-s<seed>-t1/spans.jsonl.

It writes inside the checkout only: sbt output under perfbench/target/ and
perfbench/project/target/, everything else under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {
    # name -> (input kind, seeded inputs?)
    "registry": ("registry", False),
    "reference_jobs": ("jobs", True),
}
JVM_HEAP = "2g"
JVM_YOUNG = "512m"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END_UNITS = {"setup_s": "s", "first_pass_cpu_s": "s",
                    "warm_pass_cpu_s": "s", "peak_rss_mb": "MB"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def layer_unit(name):
    for part, unit in (("_ms", "ms"), ("bytes", "bytes"), ("_mb", "MB"),
                       ("concurrency", "ratio")):
        if part in name:
            return unit
    return "count"


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns[:] = sorted(x for x in dns if x != "target")
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_checked(cmd, log, timeout, **kw):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def spark_home(root):
    """The Spark distribution whose jars the build compiles against:
    SPARK_HOME, else the jars directory the repository's own build names."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)/jars"\)', f.read())
    if m is None:
        die("set SPARK_HOME to a Spark 4 distribution")
    return m.group(1)


def build(root, work):
    """Compile library + benchmark once per source tree; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=spark_home(root))
    log = os.path.join(work, "build.log")
    code = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       log, BUILD_LIMIT_S, cwd=HERE, env=env)
    if code != 0:
        die(f"build failed (exit {code}); see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip().startswith("/")]
    if not lines or ".jar" not in lines[-1]:
        die(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs(work, kind, seeded, seed):
    """Generate (once per generator version) the inputs for `kind` and
    return their directory."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    name = f"{kind}-{version}" + (f"-s{seed}" if seeded else "")
    path = os.path.join(work, "data", name)
    if os.path.exists(os.path.join(path, "_READY")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), kind, tmp,
           "--seed", str(seed)]
    if subprocess.call(cmd) != 0:
        die(f"input generation failed: {' '.join(cmd)}")
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-expected", action="store_true",
                    help="record the registry checksums instead of measuring")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)

    kind, seeded = WORKLOADS[a.workload]
    data = inputs(work, kind, seeded, a.seed)
    out = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")

    cores = len(os.sched_getaffinity(0))
    # The serial collector, a fixed young generation and a heap that grows
    # on demand up to JVM_HEAP: the old generation grows only when what the
    # program keeps live needs room, so the peak RSS follows the program
    # (with G1, its concurrent marking and adaptive sizing moved the peak
    # RSS by 13-18 % from run to run on their own). glibc keeps two malloc
    # arenas, so per-thread arenas do not move the RSS either.
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:+UseSerialGC",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--data", data, "--out", out,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores),
              "--expected", expected])
    if a.make_expected:
        cmd += ["--make-expected", expected]
    log = open(os.path.join(out, "jvm.log"), "w")
    steal0, total0 = cpu_ticks()
    launch_ms = time.time() * 1000
    p = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)],
                         stdout=log, stderr=subprocess.STDOUT,
                         env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    timer = threading.Timer(RUN_LIMIT_S, p.kill)
    timer.start()
    _, status, usage = os.wait4(p.pid, 0)
    timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    log.close()
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    if p.returncode != 0:
        die(f"JVM exited with {p.returncode}; see {log.name}")
    if a.make_expected:
        print(f"wrote {expected}")
        return
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    metrics = res["metrics"]
    if a.trace == 0:
        metrics["peak_rss_mb"] = usage.ru_maxrss / 1024.0   # KiB -> MiB
        units = END_TO_END_UNITS
    else:
        units = {k: layer_unit(k) for k in metrics}
    info = res["info"]
    steal1, total1 = cpu_ticks()
    # host interference witness: share of CPU time the hypervisor took
    info["host_steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={cores}: "
          + ", ".join(f"{k}={v:.6g}" for k, v in sorted(info.items())
                      if v is not None))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
