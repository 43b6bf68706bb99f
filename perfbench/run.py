#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from source, runs
one workload, checks every result against DuckDB and prints every metric
with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. Workloads, their entry lists and the
reasons for them are in perfbench/design.json. `--trace 0` prints the
end-to-end metrics of an untraced timed pass; `--trace 1` adds a traced
pass after it and prints the per-layer metrics, including the tracing
overhead. The last stdout line is one JSON object. Exit status: 0 when
every result is correct, 1 when any is not, 2 when the benchmark cannot
run (bad arguments, GRAFT_* set, no engine sources, build failure).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
BUDGET_S = 170

sys.path.insert(0, HERE)
import checks  # noqa: E402
import stats  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def unit_of(name):
    """Unit of a metric, from its name."""
    base = name[:-4] if name.endswith(".p50") else name
    if base == "throughput_qps" or base.endswith("rows_per_s"):
        return "1/s"
    if base.endswith(("_ms", "ms_max")) or base in ("enumerate.ms", "cpu_ms_per_query"):
        return "ms"
    if base.endswith("_s"):
        return "s"
    if base.endswith("_mb"):
        return "MB"
    if base.endswith(("_frac", "_ratio", "_eff")):
        return "ratio"
    return "count"


def tree_hash(paths):
    """Hash of the files under `paths` (relative to the checkout root)."""
    h = hashlib.sha256()
    files = []
    for top in paths:
        top = os.path.join(ROOT, top)
        if os.path.isfile(top):
            files.append(top)
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_stamp():
    """Hash of everything the benchmark JVM is built from."""
    return tree_hash(["build.sbt", os.path.join("project", "build.properties"),
                      os.path.join("src", "main"), os.path.join("perfbench", "build.sbt"),
                      os.path.join("perfbench", "project", "build.properties"),
                      os.path.join("perfbench", "src")])


def imdb_root():
    """Directory for the JOB IMDb, named after a hash of the corpus's
    sources (generators, query texts, data version), so a change to any
    of them regenerates the data and asks DuckDB again. Directories of
    other source states are removed."""
    key = tree_hash([os.path.join("src", "main", "scala", "graft", "job"),
                     os.path.join("src", "main", "resources", "job")])[:16]
    root = os.path.join(WORK, f"imdb-{key}")
    for name in os.listdir(WORK):
        if name.startswith("imdb-") and name != os.path.basename(root):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    return root


_children = []
_run_dirs = []


def _stop_all_children():
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _stop_all():
    """Kill every process group this run started and remove its run dir."""
    _stop_all_children()
    for d in _run_dirs:
        shutil.rmtree(d, ignore_errors=True)


def _on_signal(signum, _frame):
    # DuckDB calls do not return to the interpreter until they finish, so
    # clean up here and leave at once instead of raising.
    _stop_all()
    os._exit(128 + signum)


def run_logged(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group on timeout or interruption. Returns the exit status."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        finally:
            _stop_all_children()


def build():
    """Compile the engine and the benchmark JVM once per source state; returns
    (jvm options, classpath)."""
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "launch.stamp")
    stamp = source_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp
             and all(os.path.exists(p) for p in
                     open(launch).read().splitlines()[-1].split(os.pathsep)))
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                        HERE, os.path.join(WORK, "build.log"), 850, env)
        if rc != 0:
            fail(f"build failed (exit {rc}); see {os.path.join(WORK, 'build.log')}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[:-1], lines[-1]


def analytics_tables():
    """The analytics tables, generated once per state of the generator
    (fixed data seed); tables of other states are removed."""
    key = tree_hash([os.path.join("perfbench", "gen_tables.py")])[:16]
    d = os.path.join(WORK, f"sf0.1-{key}")
    for name in os.listdir(WORK):
        if name.startswith("sf0.1") and name != os.path.basename(d):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    if not os.path.exists(os.path.join(d, "_READY")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        import gen_tables
        gen_tables.write(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def sweep_stale_runs():
    """Remove run dirs left by runs that were killed."""
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            try:
                os.kill(int(name[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
            except PermissionError:
                pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        fail(f"refusing to run with {', '.join(knobs)} set: the benchmark "
             "measures the shipped defaults")
    design = json.load(open(os.path.join(HERE, "design.json")))
    if args.workload not in design["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(design['workloads'])}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        fail(f"no engine sources at {ROOT}: run from the root of a graft checkout")

    os.makedirs(WORK, exist_ok=True)
    jvm_opts, classpath = build()
    # The per-run limit starts after the (once per checkout) build.
    t_start = time.monotonic()
    sweep_stale_runs()
    entries = [e["name"] for e in design["workloads"]["analytics_sf01"]["entries"]]
    sf_dir = analytics_tables() if args.workload == "analytics_sf01" else ""
    imdb = imdb_root() if args.workload.startswith("job_") else ""
    clients = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _run_dirs.append(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
               + jvm_opts + ["-cp", classpath, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--clients", str(clients), "--run-dir", run_dir,
               "--imdb-dir", imdb, "--sf-dir", sf_dir,
               "--entries", ",".join(entries)])
        log = os.path.join(WORK, f"{args.workload}.log")
        remaining = BUDGET_S - (time.monotonic() - t_start)
        try:
            rc = run_logged(cmd, ROOT, log, max(30, remaining))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded the time budget; see {log}")
        if rc != 0:
            fail(f"benchmark JVM exited {rc}; see {log}")
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        record, correct = evaluate(args, result, entries, sf_dir, imdb, run_dir)
    finally:
        _stop_all()
    record_path = os.path.join(WORK, f"last-{args.workload}-trace{args.trace}.json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps({"record": record_path, "config": record["config"],
                      "setup": record["setup"]}))
    print(json.dumps(record["summary"]))
    sys.exit(0 if correct else 1)


def evaluate(args, result, entries, sf_dir, imdb, run_dir):
    """Check every result and build the printed summary plus the full
    record (configuration, per-query figures, check failures)."""
    passes = result["passes"]
    if args.workload == "job_compass_x1":
        expected = job_expected_cached(result["oracle_sql"], imdb)
        problems = {}
    else:
        expected, problems = check_analytics(result["check"], sf_dir, run_dir)
    runs = [r for p in passes for r in p["queries"]]
    bad = stats.failures(runs, expected)
    attempted, failed = len(runs), len(bad)
    correct = failed == 0 and not problems
    if args.workload == "job_compass_x1":
        off_path = [r["name"] for r in runs if "sketch_ms" not in r]
        correct = correct and not off_path
    else:
        off_path = []
    plain = passes[0]
    if args.trace:
        metrics = stats.per_layer(result, [plain, passes[2]], passes[1], entries)
    else:
        metrics = stats.end_to_end(plain, expected)
    summary = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }
    record = {
        "summary": summary, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "failed_frac": stats.failed_frac(runs, expected),
        # Sample count per untraced pass and the highest percentile that
        # still has ten samples beyond it.
        "latency_samples": len(plain["queries"]),
        "highest_percentile_10_beyond": stats.highest_percentile(len(plain["queries"])),
        "failures": [{"name": r["name"], "result": r["result"], "expected": expected.get(r["name"]),
                      "error": r.get("error")} for r in bad],
        "check_problems": problems, "off_compass_path": off_path,
        "config": dict(result["config"], child_conf=result.get("child_conf", {}),
                       git_commit=git_commit(), nproc=len(os.sched_getaffinity(0)),
                       heap=HEAP, seed=args.seed),
        "setup": {k: result[k] for k in ("session_s", "ensure_data_s", "template_warm_s",
                                         "check_lap_s", "templates_warmed") if k in result},
        "passes": [{k: v for k, v in p.items() if k != "spans"} for p in passes],
        "query_self_ms": [[s[0], t] for p in passes
                          for s, t in zip(p["spans"], stats.self_times(p["spans"]))
                          if s[1] == "query"],
    }
    return record, correct


def check_analytics(check, sf_dir, run_dir):
    """Compare the check lap's outputs with each entry's oracle through
    tools/check_oracle.py. Returns ({entry: row count} of the entries that
    passed, {entry: reason} of those that did not)."""
    check_dir = os.path.join(run_dir, "check")
    os.makedirs(check_dir, exist_ok=True)
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({c["name"]: c["oracle"] for c in check if "oracle" in c}, f)
    log = os.path.join(run_dir, "check_oracle.log")
    rc = run_logged([sys.executable, os.path.join("tools", "check_oracle.py"), sf_dir, check_dir],
                    ROOT, log, BUDGET_S)
    with open(log) as f:
        problems = checks.oracle_failures(f.read())
    if rc not in (0, 1) or (rc == 1 and not problems):
        problems = {c["name"]: f"check_oracle.py exited {rc}" for c in check}
    for c in check:
        if "error" in c:
            problems[c["name"]] = c["error"]
    expected = {c["name"]: checks.row_count(os.path.join(check_dir, c["name"]))
                for c in check if c["name"] not in problems}
    return expected, problems


def job_expected_cached(oracle_sql, imdb):
    """DuckDB's JOB counts. They depend only on the oracle text and the
    IMDb files, both fixed for one state of the corpus's sources, so
    DuckDB answers once per state; every run still compares every count."""
    key = hashlib.sha256(oracle_sql.encode()).hexdigest()
    path = os.path.join(imdb, f"expected-{key[:16]}.json")
    markers = glob.glob(os.path.join(imdb, "*", "_GRAFT_READY"))
    if (os.path.exists(path) and markers
            and os.path.getmtime(path) > max(map(os.path.getmtime, markers))):
        with open(path) as f:
            return json.load(f)
    expected = checks.job_expected(oracle_sql)
    with open(path, "w") as f:
        json.dump(expected, f)
    return expected


def git_commit():
    """The checkout's commit when it is a git work tree, else null."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
