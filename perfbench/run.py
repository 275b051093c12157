#!/usr/bin/env python3
"""graft's benchmark of record.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds graft's main sources and the harness (perfbench/src) with the
Scala compiler shipped in Spark's jars (build.sbt is not used), generates
the workload's inputs from the seed (perfbench/gen.py), runs the workload
in one JVM on local[nproc] (perfbench/src/Harness.scala), checks every
op's output, and prints a per-workload report. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics and the tracing overhead, and writes the spans to
perfbench/out/runs/<run>/spans.json. Everything the benchmark writes goes
under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")
SCALA_VERSION = "2.13.17"
JVM_TIMEOUT_S = 170
# build.sbt's javaOptions: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("set SPARK_HOME or put spark-submit on PATH")
    jars = os.path.join(home, "jars")
    if not os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
        fail(f"no Scala {SCALA_VERSION} compiler in {jars}")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out_dir, files):
    os.makedirs(out_dir, exist_ok=True)
    comp = ":".join(os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                    for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def build(repo):
    """Compiles graft (src/main/scala) and the harness once per source hash."""
    jars = spark_jars()
    graft_src = sources(os.path.join(repo, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not graft_src:
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in graft_src + bench_src:
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(OUT, "build", h.hexdigest()[:16])
    graft_cls, bench_cls = os.path.join(out, "graft"), os.path.join(out, "harness")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        spark_cp = os.path.join(jars, "*")
        scalac(jars, spark_cp, graft_cls, graft_src)
        scalac(jars, f"{graft_cls}:{spark_cp}", bench_cls, bench_src)
        open(os.path.join(out, "ok"), "w").close()
    return f"{bench_cls}:{graft_cls}:{os.path.join(jars, '*')}"


def heap():
    """The tier-1 test command's heap: MemTotal / 2 GiB, clamped to [2, 8] GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def plan(spec, tables, seed):
    """The pass order (shuffled from the seed) with each op's primary rows."""
    ops = [dict(op, rows=tables[op["input"]]["rows"]) for op in spec["ops"]]
    random.Random(seed).shuffle(ops)
    return ops


def timed_passes(wl, args):
    """Whole passes that fit in --seconds at the workload's typical pass
    length, at least one. A fixed count per (workload, --seconds) keeps the
    measured window the same from run to run. A traced run runs pairs of
    an untraced and a traced pass, at least four pairs, so the tracing
    overhead rests on several of them."""
    n = max(1, round(args.seconds / wl["pass_s"]))
    return 2 * max(n, 4) if args.trace else n


def run_jvm(classpath, plan_ops, data, run_dir, args, cores, passes):
    plan_file = os.path.join(run_dir, "plan.tsv")
    with open(plan_file, "w") as f:
        for op in plan_ops:
            f.write(f"{op['id']}\t{op['kind']}\t{op['name']}\t{op['rows']}\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed 2 GB young generation keeps the resident-set high-water mark
    # steady from run to run: with G1's adaptive young sizing it swung by
    # 30%, and with a 1 GB young generation by 20-30% on dedup_ann. It
    # costs about 8% on sql_mix's op latency against 1 GB. It also makes
    # up most of that mark, so the harness reports the heap after GC too.
    cmd = (["java", f"-Xmx{heap()}", "-Xmn2g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Harness", plan_file, data, run_dir,
              str(passes), str(args.trace), str(cores), str(args.seed)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=run_dir)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; log in {log.name}")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode}; log in {log.name}")
    return json.loads(lines[-1])


def oracle_checks(result, data, run_dir, repo):
    """DuckDB comparison, by tools/oracle_check.py, for the ops whose
    output and oracle SQL the harness wrote under run_dir/oracle."""
    pending = [op for op in result["ops"] if op["oracle_check"] == "pending"]
    if not pending:
        return
    r = subprocess.run([sys.executable, os.path.join(repo, "tools", "oracle_check.py"),
                        data, os.path.join(run_dir, "oracle")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    # its verdict lines: "  <name>: OK (<n> rows)..." or "X <name>: <why>"
    verdicts = {}
    for line in r.stdout.splitlines():
        name, _, rest = line[2:].partition(": ")
        if line.startswith("  ") and rest.startswith("OK"):
            verdicts[name] = f"pass (DuckDB: {rest})"
        elif line.startswith("X "):
            verdicts[name] = f"FAIL: {rest}"
    for op in pending:
        op["oracle_check"] = verdicts.get(
            op["name"], f"FAIL: no verdict from tools/oracle_check.py (exit {r.returncode})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    excluded = [op["name"] for op in wl["ops"] if op["name"] in spec["excluded"]]
    if excluded:
        fail(f"workload {args.workload} lists excluded ops {excluded}")
    classpath = build(repo)

    sys.path.insert(0, HERE)
    import gen
    # keyed by the table spec and the generator too, so neither change
    # reuses old inputs
    h = hashlib.sha256(json.dumps(wl["tables"], sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    spec_hash = h.hexdigest()[:8]
    data = os.path.join(OUT, "inputs", f"{args.workload}-s{args.seed}-{spec_hash}")
    tables = gen.ensure(args.workload, args.seed, data)

    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    ops = plan(wl, tables, args.seed)
    t0 = time.time()
    result = run_jvm(classpath, ops, data, run_dir, args, cores, timed_passes(wl, args))
    oracle_checks(result, data, run_dir, repo)
    # an op that fails the DuckDB check failed every execution it had
    attempted, failed = result["attempted"], result["failed"] + sum(
        op["samples"] for op in result["ops"] if op["oracle_check"].startswith("FAIL"))
    checks_ok = failed == 0 and not any(op["digest_check"].startswith("FAIL") for op in result["ops"])

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{cores}]  heap {heap()}  {len(ops)} ops/pass  {result['passes']} timed passes  "
          f"{result['wall_s']:.1f} s timed  {time.time() - t0:.1f} s in the JVM")
    for k, t in tables.items():
        print(f"  input {k:<11} {t['rows']:>9} rows {t['bytes']:>10} bytes")
    print(f"  ops attempted {attempted}  failed {failed}  error_rate {failed / max(attempted, 1):.4f}"
          f"  latency samples {result['samples']}")
    for name, m in result["metrics"].items():
        print(f"  {name:<30} {m['value']:>16.6g} {m['unit']}")
    for op in result["ops"]:
        print(f"  op {op['id']:<34} rows {op['rows']:>8}  p50 {op['p50_s'] or 0:8.4f} s  "
              f"out {op['out_rows']:>6}  digest: {op['digest_check']}  oracle: {op['oracle_check']}")
    print(json.dumps({"correct": checks_ok, "attempted": attempted,
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
