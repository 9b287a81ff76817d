#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload {analytics,curation,stream} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The command
  1. compiles graft (src/main/scala) and the harness (perfbench/scala)
     with the Scala compiler shipped in Spark's jars, into .bench_build/;
  2. generates the workload's inputs from --seed (perfbench/gen.py);
  3. runs the harness JVM (perfbench.Harness): set-up, an untimed warm
     pass, the timed phase, and with --trace 1 the traced phase, probes
     and the attribution canary;
  4. checks every batch op's output against DuckDB running graft's oracle
     SQL over the same parquet (the stream is checked against its batch
     twin inside the JVM);
  5. prints one JSON line: end-to-end metrics (--trace 0) or per-layer
     metrics (--trace 1), as listed in BENCHMARK.json.
It exits non-zero on a build failure, a crash, or any wrong answer.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = ".bench_build"
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(f"{d}/scala-compiler-*.jar"):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {d}")
    return d


def sources(root):
    return sorted(glob.glob(f"{root}/**/*.scala", recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(files, out, classpath, jars, depends=""):
    """scalac into `out`, skipped when the sources' stamp (and that of
    what they compile against) is unchanged."""
    st = stamp(files, classpath + depends)
    if os.path.exists(f"{out}/.stamp") and open(f"{out}/.stamp").read() == st:
        return st
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(f"{tmp}.args", "w") as fh:
        fh.write("\n".join(files))
    t = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", classpath, f"@{tmp}.args"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(f"{tmp}.args")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compiling {len(files)} files into {out} failed")
    with open(f"{tmp}/.stamp", "w") as fh:
        fh.write(st)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log(f"compiled {len(files)} files into {out} in {time.time() - t:.1f}s")
    return st


def jar(classes, st):
    """Package a classes dir as a jar: the JVM's class-data-sharing
    archive covers classes from jars only."""
    path = f"{classes}.jar"
    if os.path.exists(f"{path}.stamp") and open(f"{path}.stamp").read() == st:
        return path
    with zipfile.ZipFile(f"{path}.tmp", "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(classes):
            for f in files:
                if f != ".stamp":
                    z.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), classes))
    os.replace(f"{path}.tmp", path)
    with open(f"{path}.stamp", "w") as fh:
        fh.write(st)
    return path


def build(jars):
    """Returns (classpath entries, stamp of everything on it)."""
    graft_src = sources("src/main/scala")
    if not graft_src:
        raise SystemExit("perfbench: no graft sources under src/main/scala (run from the repo root)")
    graft_cls = f"{BUILD}/graft-classes"
    graft_stamp = compile_scala(graft_src, graft_cls, f"{jars}/*", jars)
    res = "src/main/resources"
    if os.path.isdir(res):
        shutil.copytree(res, graft_cls, dirs_exist_ok=True)
        graft_stamp = stamp(sources(res), graft_stamp)
    bench_cls = f"{BUILD}/perfbench-classes"
    bench_stamp = compile_scala(sources(f"{HERE}/scala"), bench_cls, f"{graft_cls}:{jars}/*", jars,
                                depends=graft_stamp)
    return [jar(bench_cls, bench_stamp), jar(graft_cls, graft_stamp), f"{jars}/*"], bench_stamp


def run_jvm(cp, cds, args, run_dir):
    """Runs the harness. The first run of a build records a class-data-
    sharing archive at exit; later runs map it, which shortens JVM and
    Spark start-up. Without a usable archive the JVM simply loads classes."""
    tmp = os.path.abspath(f"{run_dir}/tmp")
    os.makedirs(tmp, exist_ok=True)
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}.{os.getpid()}.tmp")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", share,
           *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.abspath(run_dir)}/warehouse",
           "-cp", ":".join(os.path.abspath(p) for p in cp),
           "perfbench.Harness", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(f"{run_dir}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s (log: {run_dir}/jvm.log)")
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    if os.path.exists(f"{cds}.{os.getpid()}.tmp"):
        for old in glob.glob(f"{os.path.dirname(cds)}/cds-*.jsa"):
            os.remove(old)
        os.replace(f"{cds}.{os.getpid()}.tmp", cds)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    jars = spark_jars()
    cp, build_stamp = build(jars)
    cds = os.path.abspath(f"{BUILD}/cds-{build_stamp[:16]}.jsa")
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.abspath(f"{BUILD}/runs/{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = f"{run_dir}/data", f"{run_dir}/out"
    ok = False
    try:
        t0 = time.time()
        meta = gen.generate(a.workload, a.seed, data)
        t1 = time.time()
        run_jvm(cp, cds, [a.workload, data, out, str(a.seconds), str(a.trace), str(a.seed), str(nproc)],
                run_dir)
        t2 = time.time()
        with open(f"{out}/result.json") as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        if a.workload != "stream":
            for op, why in oracle.check(res, data, out).items():
                if why:
                    failures.append(f"{op}: oracle mismatch: {why}")
        log(f"generate {t1 - t0:.1f}s, harness {t2 - t1:.1f}s, oracle {time.time() - t2:.1f}s")
        e2e = dict(res["end_to_end"])
        e2e["setup_s"] = res["setup_s"]
        if "input_mb_s" not in e2e:
            e2e["input_mb_s"] = meta["input_mb"] / e2e["run_s"]
        layer = dict(res["per_layer"])
        attempted = max(1, int(res["attempted"]))
        failed = min(attempted, len(failures))
        layer["error_rate"] = failed / attempted
        for f in failures:
            log(f"FAIL {f}")
        key = "per_layer" if a.trace else "end_to_end"
        metrics = {m["name"]: {"value": float(e2e.get(m["name"], layer.get(m["name"], 0.0))),
                               "unit": m["unit"]} for m in spec[key]}
        log(f"{a.workload} seed={a.seed}: setup samples {res['setup_samples']}, "
            f"warm-up {res['warmup_s']:.2f}s, {int(e2e['samples'])} latency samples")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        ok = not failures
        return 0 if ok else 1
    finally:
        # a failed run keeps its directory (JVM log, result, spans, dumps)
        if ok:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            log(f"kept {run_dir}")


if __name__ == "__main__":
    sys.exit(main())
