#!/usr/bin/env python3
"""Benchmark entry point for the graft engine (see perfbench/README.md).

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest   # checks at sf0.001, exit 0 if all pass
  python3 perfbench/run.py --record     # rewrite reference_sf0.01.tsv

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or the
one next to spark-submit on PATH) into .bench_build/; later runs reuse
the classes while the sources are unchanged. Each run then gets a JVM
of its own with a fresh java.io.tmpdir and SPARK_LOCAL_DIRS under
.bench_run/, removed after the JVM exits; the bytes the run left there
are reported as tmp_left_bytes. The last line of stdout is the result
JSON; a header line and the run's report path go to stderr, the full
report (every op, and the spans of a traced run) to .bench_out/.
"""
import argparse, hashlib, json, os, shutil, statistics, subprocess, sys, time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
HISTORY = os.path.join(OUT, "untraced.jsonl")
REFS = os.path.join(HERE, "reference_sf0.01.tsv")
WORKLOADS = ("batch", "stream_drain")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# what spark-submit would pass on JDK 17 (the engine's build.sbt keeps
# the same list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark's jar directory not found; set SPARK_HOME")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        fail(f"engine sources not found at {os.path.relpath(prog)}; "
             "run from the root of a full checkout")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source digest."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, digest)
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes, digest
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
        fail("build failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, classes)
    print(f"[perfbench] built {len(files)} sources in {time.time() - t:.1f} s",
          file=sys.stderr)
    return classes, digest


def cpus():
    return len(os.sched_getaffinity(0))


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def du(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def jvm(classes, jars, mode, args, tag, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in a fresh JVM with its own temp and Spark
    local dirs; returns (exit code, bytes left behind, stderr log path)."""
    os.makedirs(RUNS, exist_ok=True)
    for stale in os.listdir(RUNS):  # leftovers of runs no longer alive
        if not pid_alive(int(stale.rsplit("-", 1)[1])):
            shutil.rmtree(os.path.join(RUNS, stale), ignore_errors=True)
    run_dir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, f"{tag}.log")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # time the served plans the engine runs in production, as the
    # engine's own bench does; results are identical either way
    env["SPARK_GRAFT_PROVE"] = "0"
    env["SPARK_LOCAL_DIRS"] = local
    cmd = ([java(), f"-Xmx{HEAP}", "-Xss8m"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dperfbench.dir={HERE}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", mode] + args)
    with open(log, "w") as err:
        try:
            code = subprocess.run(cmd, cwd=run_dir, env=env, stdout=err,
                                  stderr=err, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            code = -9
    left = du(run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    return code, left, log


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def commit():
    """HEAD of the checkout, or None outside git (the source digest then
    identifies the tree)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.decode().strip() or None if r.returncode == 0 else None


def one_run(classes, digest, jars, workload, seed, seconds, trace):
    tag = f"{workload}-s{seed}-t{trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    out = os.path.join(OUT, tag + ".jvm.json")
    os.makedirs(OUT, exist_ok=True)
    header = {"workload": workload, "seed": seed, "trace": trace,
              "seconds": seconds, "sf": "sf0.01", "cpus": cpus(),
              "box_cpus": os.cpu_count(), "commit": commit(),
              "source_digest": digest, "load1_start": load1()}
    launch_us = time.time_ns() // 1000
    code, left, log = jvm(classes, jars, "run", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cpus", str(cpus()),
        "--data", os.path.join(HERE, "data", "sf0.01"), "--refs", REFS,
        "--launch-us", str(launch_us), "--out", out], tag)
    header.update(load1_end=load1(), tmp_left_bytes=left, jvm_exit=code)
    if code != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (JVM exit {code}); log: {os.path.relpath(log, ROOT)}", 1)
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    header.update(res.pop("header"))
    report = os.path.join(OUT, tag + ".json")
    with open(report, "w") as fh:
        json.dump(dict(header=header, **res), fh)
    return header, res, report


def run(a):
    spec = benchmark_json()
    jars = spark_jars()
    classes, digest = build(jars)
    header, res, report = one_run(classes, digest, jars, a.workload, a.seed,
                                  a.seconds, a.trace)
    metrics = res["metrics"]
    # tracing overhead: a traced run's wall_s against the untraced runs
    # of the same tree, workload, seed and length (one is made now if
    # there is none)
    key = {"digest": digest, "workload": a.workload, "seed": a.seed,
           "seconds": a.seconds}

    def remember(wall_s):
        with open(HISTORY, "a") as fh:
            fh.write(json.dumps(dict(key, wall_s=wall_s)) + "\n")

    if a.trace == 0:
        remember(metrics["wall_s"])
    else:
        base = []
        if os.path.isfile(HISTORY):
            with open(HISTORY) as fh:
                rows = [json.loads(l) for l in fh if l.strip()]
            base = [r["wall_s"] for r in rows
                    if all(r.get(k) == v for k, v in key.items())]
        if not base:
            _, ures, _ = one_run(classes, digest, jars, a.workload, a.seed,
                                 a.seconds, 0)
            base = [ures["metrics"]["wall_s"]]
            remember(base[0])
        metrics["trace.overhead_frac"] = (
            metrics["trace.wall_s"] / statistics.median(base) - 1.0)
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in want if m["name"] not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    print(json.dumps(header), file=sys.stderr)
    print(f"[perfbench] report: {os.path.relpath(report, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in want}}))


def selftest():
    spec = benchmark_json()
    jars = spark_jars()
    classes, _ = build(jars)
    os.makedirs(OUT, exist_ok=True)
    names = os.path.join(OUT, "selftest-metrics.txt")
    with open(names, "w") as fh:
        for kind in ("end_to_end", "per_layer"):
            for m in spec[kind]:
                # overhead is computed here, not in the JVM
                if m["name"] != "trace.overhead_frac":
                    fh.write(f"{kind} {m['name']}\n")
    code, left, log = jvm(classes, jars, "selftest", [
        "--data", os.path.join(HERE, "data", "sf0.001"), "--cpus", str(cpus()),
        "--metrics", names], "selftest", timeout=1200)
    with open(log, errors="replace") as fh:
        sys.stderr.write("".join(l for l in fh if l.startswith("[selftest]")))
    ok = code == 0 and [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    print(f"[selftest] {'ok  ' if left == 0 else 'FAIL'} tmp_left_bytes={left}",
          file=sys.stderr)
    sys.exit(0 if ok and left == 0 else 1)


def record():
    jars = spark_jars()
    classes, _ = build(jars)
    code, _, log = jvm(classes, jars, "record", [
        "--data", os.path.join(HERE, "data", "sf0.01"), "--cpus", str(cpus()),
        "--out", REFS], "record", timeout=3600)
    if code != 0:
        fail(f"record failed; log: {os.path.relpath(log, ROOT)}", 1)


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if a.selftest:
        selftest()
    elif a.record:
        record()
    elif a.workload:
        run(a)
    else:
        p.error("--workload, --selftest or --record is required")


if __name__ == "__main__":
    main()
