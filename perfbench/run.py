"""One command for the benchmark: builds the program from source, runs one
seeded workload in one JVM with Spark local[nproc], checks its outputs and
prints the result as the last line of standard output.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selftest

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 turns
on the Spark listener, file-system statistics, progress capture and spans,
and reports the per-layer metrics, the spans' self times and the tracing
overhead against the untraced runs made before in the same checkout.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "4g"


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


CDS_LOGS = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def archive_path(classes, name):
    return os.path.join(classes, name + ".jsa")


def record_archive(classes, name, args, work):
    """Class-data sharing: when a build has no archive for a workload yet,
    the workload first runs once in a JVM that records the classes it
    loaded into an archive when it exits (~18 s more), and that run's
    results are thrown away: a JVM that records an archive spends up to a
    fifth more CPU time on the same operations. Every measured run maps the
    archive instead of loading Spark's classes from the jars again (session
    start drops from ~7 s to ~3 s on 4 cores). The archive is written under
    a temporary name and renamed, so a run never sees a partial one."""
    path = archive_path(classes, name)
    if os.path.exists(path):
        return
    tmp = "%s.%d.tmp" % (path, os.getpid())
    run_jvm(java_cmd(classes, "perfbench.Main", args, work, ["-XX:ArchiveClassesAtExit=" + tmp] + CDS_LOGS), work)
    os.replace(tmp, path)
    shutil.rmtree(work)


# The JIT compiles with C1 only, on one thread: a run lasts under a minute,
# too short for C2 to settle, and C2's background compiles take about a
# core of their own, so their timing would move every figure of a run. The
# collector is the serial one: parallel collector threads spin while they
# wait for each other, and on a shared host that spinning adds CPU time that
# depends on the host, not on the program.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1", "-XX:+UseSerialGC"]


def java_cmd(classes, main, args, work, cds=()):
    cp = os.path.join(classes, "classes.jar") + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    return (["java"] + list(cds) + JVM_FLAGS + ["-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + build.jvm_opens() + ["-cp", cp, main] + args)


# The CPU the JVM moves all its threads to when its measured phase starts:
# the last one this process may use.
CPU = max(os.sched_getaffinity(0))


def run_jvm(cmd, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the run exceeded %d s" % TIMEOUT_S)
    if p.returncode != 0:
        with open(os.path.join(work, "stderr.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: the JVM exited with code %d" % p.returncode)
    return out.splitlines()


def git_sha():
    """The checkout's commit, or "none" when the checkout is not a git work
    tree (the source hash in the build stamp identifies the code either way)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def canon_rows(cols, rows):
    """Rows as sorted tuples over the columns sorted by name, each value in
    a form that compares exactly: floats by value (-0.0 as 0.0), arrays as
    tuples."""
    def canon(v):
        if isinstance(v, float):
            return repr(v + 0.0)
        if isinstance(v, (list, tuple)):
            return tuple(canon(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        return v
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def oracle_check(dump):
    """pipeline_batch: each query's rows from the run's last pass against
    the query's own DuckDB oracle (SparkEntry.oracleSql) over the same
    generated parquet. Returns (problems, wrong executions)."""
    try:
        import duckdb
    except ImportError:
        raise SystemExit("perfbench: pipeline_batch checks its results with the duckdb module, which is missing")
    with open(os.path.join(dump, "oracle.json")) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')" % (t, spec["data"], t))

    def query(sql):
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    problems, wrong, selftested = [], 0, False
    for q, sql in spec["oracle"].items():
        got = canon_rows(*query("SELECT * FROM read_parquet('%s/%s/*.parquet')" % (dump, q)))
        want = canon_rows(*query(sql))
        if got != want:
            diff = "columns %s vs %s" % (got[0], want[0]) if got[0] != want[0] else \
                "%d rows vs %d, %d differ" % (len(got[1]), len(want[1]), len(set(got[1]) ^ set(want[1])))
            problems.append("%s: the result differs from its DuckDB oracle: %s" % (q, diff))
            wrong += spec["executions"][q]
        elif not selftested:
            # the check's self-test: the same result with one row dropped
            # (or added, when empty) must be rejected
            rows = got[1][1:] if got[1] else [tuple(None for _ in got[0])]
            if (got[0], rows) == want:
                problems.append("self-test: the oracle check accepted a corrupted %s result" % q)
            selftested = True
    return problems, wrong


def overhead_lines(results_file, build_id, e2e_traced):
    """Traced minus untraced, per end-to-end metric, against the median of
    the untraced runs of the same build recorded in this checkout."""
    rows = []
    if os.path.exists(results_file):
        rows = [r["e2e"] for r in map(json.loads, filter(str.strip, open(results_file)))
                if r.get("build") == build_id]
    if not rows:
        return ["perfbench tracing_overhead unavailable: no untraced run of this workload and build yet"]
    lines = []
    for name, m in e2e_traced.items():
        base = [r[name]["value"] for r in rows if name in r]
        if not base:
            continue
        med = statistics.median(base)
        lines.append("perfbench tracing_overhead %-18s traced %.4f untraced_median %.4f (n=%d) delta %+.1f%%"
                     % (name, m["value"], med, len(base), 100.0 * (m["value"] - med) / med))
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()

    contract = load_contract()
    classes = build.build(ROOT)
    work = os.path.join(ROOT, ".bench_build", "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            lines = run_jvm(java_cmd(classes, "perfbench.SelfTest", [], work), work)
            print("\n".join(lines))
            return
        names = [w["name"] for w in contract["workloads"]]
        if a.workload not in names:
            raise SystemExit("perfbench: --workload must be one of " + ", ".join(names))
        trace_dir = os.path.join(ROOT, ".bench_build", "trace")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--pin-cpu", str(CPU),
                "--spans", os.path.join(trace_dir, "%s-seed%d.spans.jsonl" % (a.workload, a.seed))]
        record_archive(classes, a.workload, args, work)
        cds = ["-XX:SharedArchiveFile=" + archive_path(classes, a.workload)] + CDS_LOGS
        lines = run_jvm(java_cmd(classes, "perfbench.Main", args, work, cds), work)
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            raise SystemExit("perfbench: malformed result line")
        if a.workload == "pipeline_batch":
            problems, wrong = oracle_check(os.path.join(work, "pipeline-results"))
            lines[-1:-1] = ["perfbench WRONG " + p for p in problems]
            result["correct"] = result["correct"] and not problems
            result["failed"] += wrong
        declared = contract["per_layer" if a.trace else "end_to_end"]
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            raise SystemExit("perfbench: metrics %s do not match BENCHMARK.json %s"
                             % (sorted(set(got) ^ set(want)), "units" if set(got) == set(want) else "names"))
        e2e = next(json.loads(l[len("perfbench e2e "):]) for l in lines if l.startswith("perfbench e2e "))
        build_id = os.path.basename(classes)[len("classes-"):]
        print("perfbench build " + json.dumps({"git_sha": git_sha(), "src_hash": build_id,
                                               "nproc": os.cpu_count()}))
        results_file = os.path.join(ROOT, ".bench_build", "results", a.workload + ".jsonl")
        for l in lines[:-1]:
            print(l)
        if a.trace:
            print("\n".join(overhead_lines(results_file, build_id, e2e)))
        elif result["correct"] and result["failed"] == 0:
            os.makedirs(os.path.dirname(results_file), exist_ok=True)
            with open(results_file, "a") as f:
                f.write(json.dumps({"build": build_id, "e2e": e2e}) + "\n")
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if a.workload:  # an archive left by a JVM that failed
            tmp = "%s.%d.tmp" % (archive_path(classes, a.workload), os.getpid())
            if os.path.exists(tmp):
                os.remove(tmp)


if __name__ == "__main__":
    main()
