#!/usr/bin/env python3
"""graft workload benchmark.

One run:
    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

builds the program from src/main/scala (cached under perfbench/.build),
generates the workload's inputs from the seed, runs one JVM (local[4],
graft.Bench's session config), checks the outputs, prints a table of
every metric with its unit, and ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.

Steadiness mode (runs one workload repeatedly, one seed per run):
    python3 perfbench/run.py --steady 5 --workload query_mix --seconds 10
prints each metric's median, quartiles and spread, and the canary per run.

Everything a run writes lives under perfbench/.runs/<run> and is deleted
when the run ends; the build cache lives under perfbench/.build.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import traceops  # noqa: E402

BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
WORKLOADS = list(gen.GENERATORS)
JVM_TIMEOUT_S = 170
GEN_REPS = 3
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    """The Spark install's jar directory (it ships scala-compiler too):
    $SPARK_HOME, else the first install on PATH with a spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise BenchError("no Spark install with Scala jars found: set SPARK_HOME")


def scala_sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build():
    """Compile the program, then the harness against it; a build of
    identical sources is reused. Returns the class path."""
    main = scala_sources(os.path.join(REPO, "src", "main", "scala"))
    bench = scala_sources(os.path.join(HERE, "scala"))
    if not main:
        raise BenchError("no program sources under src/main/scala: run from a checkout of the repo")
    jars = spark_jars()

    def digest(files, seed=""):
        h = hashlib.sha256(seed.encode())
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()[:16]
    main_h = digest(main)
    main_out = os.path.join(BUILD, "main-" + main_h)
    bench_out = os.path.join(BUILD, "bench-" + digest(bench, main_h))
    t0 = time.time()
    for out, files, cp in ((main_out, main, jars),
                           (bench_out, bench, os.pathsep.join([main_out, jars]))):
        if os.path.exists(os.path.join(out, ".ok")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        scalac(jars, cp, out, files)
        if out == main_out:
            res = os.path.join(REPO, "src", "main", "resources")
            if os.path.isdir(res):
                shutil.copytree(res, out, dirs_exist_ok=True)
        open(os.path.join(out, ".ok"), "w").close()
        print(f"[perfbench] built {os.path.basename(out)} in {time.time() - t0:.1f}s", file=sys.stderr)
    for d in os.listdir(BUILD):  # drop stale builds
        if os.path.join(BUILD, d) not in (main_out, bench_out):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    return os.pathsep.join([main_out, bench_out, jars])


def generate(workload, seed, root):
    """Generate the inputs GEN_REPS times (the median is set-up time);
    keep the first copy."""
    times = []
    for i in range(GEN_REPS):
        t0 = time.perf_counter()
        gen.generate(workload, seed, os.path.join(root, f"gen{i}"))
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(root, f"gen{i}"))
    return os.path.join(root, "gen0"), statistics.median(times)


def run_jvm(cp, workload, gen_dir, root, seconds, trace, deadline):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(root, "result.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p)] +
           # a fixed heap keeps peak RSS from tracking GC timing; no
           # perf-data file, which the JVM would write under /tmp
           ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Harness",
            workload, gen_dir, os.path.join(root, "work"), str(seconds),
            "1" if trace else "0", out])
    log = os.path.join(root, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=root)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("the benchmark JVM overran its time budget")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise BenchError(f"the benchmark JVM exited {proc.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def judge(res, check_rows):
    """(correct, attempted, failed, check lines). Failed operations plus
    operations whose output a failed check shows wrong."""
    w = res["workload"]
    ops = res["untraced"]["ops"]
    primary = [o for o in ops if traceops.PRIMARY[w](o[0]) or o[0] in ("redelivery",)
               or o[0].startswith("bg:")]
    bad = {i for i, o in enumerate(primary) if not o[3]}
    # a wrong store after the stream means every batch wrote wrong rows;
    # a failed pipeline stage is already a failed operation
    rows = [(c["name"], c["ok"], c["detail"], "batch" if w == "ingest_stream" else None)
            for c in res["checks"]] + check_rows
    for name, ok, _, key in rows:
        if not ok and key is not None:
            bad |= {i for i, o in enumerate(primary) if key == "*" or o[0].startswith(key)}
    correct = all(ok for _, ok, _, _ in rows)
    return correct, len(primary), len(bad), rows


def run_once(workload, seed, seconds, trace, quiet=False):
    cp = build()
    # the run after the build must end within 180 s; leave the checks room
    deadline = time.time() + JVM_TIMEOUT_S - 10
    os.makedirs(RUNS, exist_ok=True)
    root = os.path.join(RUNS, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    try:
        gen_dir, gen_s = generate(workload, seed, root)
        res = run_jvm(cp, workload, gen_dir, root, seconds, trace, deadline)
        correct, attempted, failed, rows = judge(res, checks.run(workload, res["exports"]))
        e2e, info = traceops.end_to_end(res, gen_s)
        layers = traceops.per_layer(res) if trace else None
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(root, ignore_errors=True)
    if not quiet:
        report(workload, seed, e2e, info, layers, rows, attempted, failed)
    metrics = layers if trace else e2e
    units = dict((n, u) for n, u, _ in (traceops.per_layer_spec() if trace else traceops.END_TO_END))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}, info


def report(workload, seed, e2e, info, layers, rows, attempted, failed):
    print(f"== {workload} seed {seed} ==")
    for name, unit, _ in traceops.END_TO_END:
        print(f"  {name:<28} {e2e[name]:>14.6g} {unit}")
    print(f"  {'failed_ratio':<28} {failed / max(attempted, 1):>14.6g} ratio"
          f"  ({failed} of {attempted} operations)")
    print(f"  op_tail_s is p{info['op_tail_pct']} of {info['op_samples']} samples"
          f" ({info['op_tail_beyond']} beyond); canary {info['canary_s']:.3f}s;"
          f" {info['units']} timed unit(s) in {info['elapsed_s']:.1f}s")
    print(f"  setup: generate {info['gen_s']:.2f}s, session {info['session_s']:.2f}s,"
          f" repetitions {', '.join(f'{x:.2f}' for x in info['setup_reps_s'])}s,"
          f" warm-up {info['warmup_s']:.2f}s")
    for name, ok, detail, _ in rows:
        print(f"  check {name:<40} {'ok' if ok else 'FAILED'}  {detail}")
    if layers:
        print("  per-layer (traced pass):")
        for name, unit, _ in traceops.per_layer_spec():
            if layers[name]:
                print(f"    {name:<54} {layers[name]:>14.6g} {unit}")


def steady(workload, runs, seconds, first_seed):
    """Run `runs` seeds back to back; print per-metric median, quartiles
    and spread (interquartile distance over median) and the canary."""
    vals, canaries = {}, []
    for i in range(runs):
        t0 = time.time()
        out, info = run_once(workload, first_seed + i, seconds, False, quiet=True)
        canaries.append(info["canary_s"])
        for k, v in out["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        print(f"run {i + 1}/{runs} seed {first_seed + i} ({time.time() - t0:.0f}s): canary {info['canary_s']:.3f}s "
              f"correct={out['correct']} failed={out['failed']}/{out['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
    print(f"== {workload}: {runs} runs, canary per run {[round(c, 3) for c in canaries]} ==")
    bounds = {}
    bj = os.path.join(REPO, "BENCHMARK.json")
    if os.path.exists(bj):
        with open(bj) as fh:
            bounds = {m["name"]: m.get("bound") for m in json.load(fh).get("end_to_end", [])}
    for k, xs in vals.items():
        q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        sp = traceops.spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if sp < b / 3 else " WIDE" if sp > b else " near")
        print(f"  {k:<28} median {statistics.median(xs):.6g}  q1 {q1:.6g}  q3 {q3:.6g}"
              f"  spread {sp:.4f}" + (f"  (bound {b}){flag}" if b is not None else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="RUNS")
    a = ap.parse_args()
    try:
        if a.steady:
            steady(a.workload, a.steady, a.seconds, a.seed)
            return
        out, _ = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
