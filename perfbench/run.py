#!/usr/bin/env python3
"""graft benchmark: one seeded end-to-end workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The script builds graft plus the
benchmark JVM's code (perfbench/build.sbt, offline sbt) unless an identical
build exists, generates the workload's inputs from the seed (gen.py),
runs the benchmark JVM (set up several times, then iterate for S seconds),
checks the first iteration's outputs against the DuckDB oracle SQL that
graft's SparkEntry.oracleSql holds, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). NOTES.md describes the
workloads and metrics. The exit code is nonzero when the build, the
run or the oracle check fails.
"""
import argparse
import hashlib
import json
import math
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
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import gen  # noqa: E402
import oracle  # noqa: E402

# Per workload: the tables it reads (graftbench.Workloads lists the
# same) and the share of their full-size rows they hold (gen.py).
WORKLOADS = {
    "fusion_nightly": (["customer", "orders", "events", "lineitem"], 0.5),
    "corpus_curate": (["documents"], 0.1),
    "iterative_fit": (["lineitem", "documents"], 0.125),
}
# BPE merge count; the 31-word corpus runs out of merges at 108.
BPE_K = 8
# Wall-clock cap for the benchmark JVM; a whole run stays under 3 minutes.
JVM_TIMEOUT_S = 150

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB", "out_mb": "MB", "ok_rate": "ratio"}


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def sources_digest():
    """Digest of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir: Path) -> str:
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp, cp_file = build_dir / "build.stamp", build_dir / "classpath.txt"
    digest = sources_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=str(build_dir / "sbt-target"))
    props = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "-Dsbt.global.base=" + str(build_dir / "sbt-global")]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        props += ["-Dsbt.override.build.repos=true",
                  "-Dsbt.repository.config=" + str(repos)]
    t0 = time.time()
    with open(build_dir / "build.log", "w") as out:
        r = subprocess.run([sbt, "--batch", *props, "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = (build_dir / "build.log").read_text().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {r.returncode}); see {build_dir / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    log(f"# built in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, workload, inputs, work, seconds, trace, cores):
    result = work / "result.json"
    heap = "2g"
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # A fixed, pre-touched heap: the resident memory outside it is
           # then VmHWM less the heap (see graftbench.Main.peakMemoryMb).
           # A fixed young generation: G1 otherwise sizes eden per run,
           # and the heap's peak use moves with it.
           f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xmn768m",
           # A fixed set of JIT compiler threads, so cpu_s can leave out
           # their time (see graftbench.Main.jitCpuSeconds).
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--in", str(inputs), "--work", str(work),
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores),
           "--bpe-k", str(BPE_K), "--result", str(result)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; see {work / 'jvm.log'}")
        finally:
            # Also on SIGTERM (raised as SystemExit below): no JVM outlives us.
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not result.exists():
        tail = (work / "jvm.log").read_text().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM failed (exit {code}); see {work / 'jvm.log'}")
    return json.loads(result.read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src/main/scala'}")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = build(build_dir)

    cores = os.cpu_count() or 4
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass

    data = build_dir / "data"
    inputs = data / f"{args.workload}-seed{args.seed}"
    # Only the current input set of each workload is kept on disk.
    if data.exists():
        for d in data.iterdir():
            if d.name.startswith(args.workload + "-seed") and d != inputs:
                shutil.rmtree(d)
    tables, fraction = WORKLOADS[args.workload]
    t0 = time.time()
    gen.generate(inputs, args.seed, tables, fraction)
    log(f"# inputs: {args.workload} seed {args.seed} x {fraction} "
        f"({time.time() - t0:.1f}s)")

    work = build_dir / "work" / args.workload
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    r = run_jvm(cp, args.workload, inputs, work, args.seconds, args.trace, cores)

    mismatches = oracle.check(inputs, work / "check", BPE_K)
    for m in mismatches:
        log(f"# CHECK FAILED {m}")

    its = r["iterations"]
    ok = [i for i in its if i["ok"]]
    plain = [i for i in ok if not i["traced"]]
    failed = len(its) - len(ok)
    # An iteration that threw or missed the pin fails the run as well.
    correct = not mismatches and failed == 0
    for n, i in enumerate(its):
        log(f"# iter {n}: wall {i['wall_s']:.3f}s cpu {i['cpu_s']:.2f}s jit {i['jit_s']:.2f}s "
            f"codegen {i['compiles']} "
            f"write {i['write_bytes'] / 2**20:.1f}MB heap {i['heap_mb']:.0f}MB "
            f"off-heap {i['off_heap_mb']:.0f}MB steal {i['steal']} "
            f"load {i['loadavg']} traced {i['traced']} ok {i['ok']} {i['error']}")
    log(f"# setups {['%.2f' % s for s in r['setup_s']]} "
        f"session init {['%.2f' % s for s in r['init_s']]} "
        f"pin {r['pin']} error_rate {failed / len(its):.3f}")

    if args.trace == 0:
        metrics = {
            "wall_s": median([i["wall_s"] for i in plain]),
            "cpu_s": median([i["cpu_s"] for i in plain]),
            "setup_s": median(r["setup_s"]),
            "peak_rss_mb": median([i["heap_mb"] + i["off_heap_mb"] for i in plain]),
            "out_mb": median([i["write_bytes"] / 2**20 for i in plain]),
            "ok_rate": len(ok) / len(its),
        }
        units = END_TO_END
        samples = len(plain)
    else:
        layers = r["layers"]
        metrics = {k: median([m[k] for m in layers]) for k in layers[0]} if layers else {}
        metrics["session.init_s"] = median(r["init_s"])
        metrics["trace.overhead_s"] = metrics.get("trace.wall_s", float("nan")) - \
            median([i["wall_s"] for i in plain])
        units = {k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb")
                     else "ratio" if k.endswith("_util") else "count") for k in metrics}
        samples = len(layers)
    log(f"# {args.workload}: medians over {samples} iterations")
    for k in sorted(metrics):
        log(f"#   {k} = {metrics[k]:.6g} {units[k]}")
    if any(math.isnan(v) for v in metrics.values()):
        correct = False
    print(json.dumps({
        "correct": correct, "attempted": len(its), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
