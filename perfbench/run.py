#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source
(perfbench/build.py), makes the workload's seeded inputs, runs the workload in
a Spark local[nproc] JVM (perfbench/src), checks every output, writes the full
record under .bench_build/runs/ and prints, as its last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1 the
per_layer ones. perfbench/README.md defines every metric per workload.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ["extract_mixed", "extract_legacy", "query_mix"]
RUN_DEADLINE_S = 170.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap_size():
    """Heap sized to the machine the way the tier-1 test command sizes it:
    half of MemTotal in GiB, clamped to [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm_cmd(args, classpath, work, mem):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    return (["java", f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "graft.perfbench.Main"] + args)


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources here: run from the repository root")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except (OSError, ValueError) as ex:
        fail(f"cannot read BENCHMARK.json: {ex}")

    import build
    source_id = build.build()
    # a build (the first run in a checkout) does not count against the deadline
    t_built = time.monotonic()
    import oracle
    import querydata

    work = os.path.join(root, ".bench_build")
    out = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log_path = os.path.join(out, "jvm.log")
    mem = heap_size()
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = mem
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PERFBENCH_SOURCE_ID"] = source_id
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)

    prepare = {}
    extra = []
    if a.workload == "query_mix":
        tables, gen_s = querydata.ensure(os.path.join(work, "inputs"), a.seed)
        prepare["tables_generate_s"] = gen_s
        extra = ["--tables", tables]

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--work", work] + extra
    cmd = jvm_cmd(args + ["--launch-ms", str(int(time.time() * 1000))],
                  build.classpath(), work, mem)
    rc = run_jvm(cmd, env, log_path, RUN_DEADLINE_S - (time.monotonic() - t_built))
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}; log {log_path}", 1)
    with open(os.path.join(out, "jvm.json")) as fh:
        rec = json.load(fh)

    attempted, failed = rec["attempted"], rec["failed"]
    failures = list(rec["failures"])
    unverified = []
    if a.workload == "query_mix":
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            sql = json.load(fh)
        verdicts, self_test = oracle.check(extra[1], os.path.join(out, "results"), sql)
        rec["oracle"] = {"queries": verdicts, "self_test_failures": self_test}
        attempted += len(verdicts) + 1
        for q, v in sorted(verdicts.items()):
            if v["status"] == "fail":
                failed += 1
                failures.append(f"oracle {q}: {v['why']}")
            elif v["status"] == "unverified":
                unverified.append(q)
        if self_test:
            failed += 1
            failures += self_test

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = rec["layers"] if a.trace else rec["metrics"]
    metrics, not_exercised = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None and a.trace:
            # a layer this workload does not run
            not_exercised.append(m["name"])
            v = 0.0
        if v is None or not math.isfinite(v):
            failed += 1
            failures.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    rec.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "attempted": attempted, "failed": failed, "failures": failures,
        "failed_ratio": failed / max(1, attempted), "unverified": unverified,
        "not_exercised": not_exercised, "prepare": prepare,
        "git_commit": git_commit(root), "source_id": source_id,
        "wall_s": time.monotonic() - t_start,
    })
    record_path = os.path.join(out, "record.json")
    with open(record_path, "w") as fh:
        json.dump(rec, fh, indent=1)

    lat = rec.get("latency", {})
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: record {record_path}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(f"  latency samples {lat.get('samples')} ({lat.get('unit')}), "
          f"tail = p{lat.get('tail_percentile')}")
    if "extract_gb_per_s" in rec:
        print(f"  html GB/s {rec['extract_gb_per_s']:.6g} (median of the timed passes)")
    print(f"  setup rounds {['%.3f' % s for s in rec['setup']['round_s']]} s, "
          f"prepare {rec['setup']['prepare_s']:.3f} s")
    print(f"  failed_ratio {rec['failed_ratio']:.6g} ({failed}/{attempted})"
          + (f"; unverified (zero rows): {', '.join(unverified)}" if unverified else ""))
    if a.trace and "trace.overhead_s" in rec["layers"]:
        print(f"  tracing overhead {rec['layers']['trace.overhead_s']:.4f} s per pass")
    for f in failures[:10]:
        print(f"  FAILURE {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
