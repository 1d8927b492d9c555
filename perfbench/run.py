#!/usr/bin/env python3
"""The repository's benchmark: the catalogue CLI and the curation queries.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):
  catalog_build     plain `build` then `build --verbose` of a probe-bound
                    tree, against the fake ffprobe
  catalog_maintain  `update` of a tree holding a few novel videos, `merge`
                    of volume dbs, `report --verbose` of the merged db
The curation queries run in traced runs only, on a tiny fixture.

A run does one pass on a cold JVM, then warm-up passes for WARMUP_SHARE of
--seconds, then measured passes for the rest of it (at least
MIN_MEASURED_PASSES of them). The first run in a checkout compiles the
program (the root build) and the harness (perfbench/build.sbt) with sbt;
later runs reuse the classes while the sources are unchanged. Inputs are
generated from --seed under perfbench/work/. The last line of stdout is the result JSON; with
--trace 1 it holds the per-layer metrics, and the spans go to
perfbench/work/<workload>-<seed>/trace.json.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)  # gen.py, also when the interpreter runs with -P

import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# Seconds a run may take once the program is built.
RUN_LIMIT_S = 170

# The curation queries of traced runs, one or two per module of the program.
QUERIES = ["q188_ppjoin", "q105_curation_pipeline", "q27_cube_stats"]

# Input sizes. "tiny" serves, in traced runs, the operations a workload
# does not focus on.
SIZES = {
    "tiny": {"videos": 6, "corrupt": 1, "novel": 1, "dbs": 2, "rows": 300,
             "fixture": 0.001},
    "catalog_build": {"videos": 16, "corrupt": 2},
    "catalog_maintain": {"videos": 80, "corrupt": 2, "novel": 2,
                         "dbs": 4, "rows": 6000},
}
# After the cold pass, the JIT still speeds the verbs up for a few passes:
# the passes that start in this share of --seconds are not measured.
WARMUP_SHARE = 0.4
MIN_MEASURED_PASSES = 3
# Set-ups per run; setup_s is their median.
SETUPS = 7
OPS = {
    "catalog_build": ["build", "verbose_build"],
    "catalog_maintain": ["update", "merge", "report"],
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(code)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def file_size_cap():
    """The largest file this process may write, or None. A sandbox may cap
    file sizes (RLIMIT_FSIZE): the soft cap is raised to the hard one, and
    the generator shrinks the sparse videos below what remains."""
    soft, hard = resource.getrlimit(resource.RLIMIT_FSIZE)
    if soft != hard:
        try:
            resource.setrlimit(resource.RLIMIT_FSIZE, (hard, hard))
            soft = hard
        except (ValueError, OSError):
            pass
    return None if soft == resource.RLIM_INFINITY else soft


CHILDREN = []


def stop_children(*_):
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(130)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this process is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ------------------------------------------------------------------ build
def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    out = os.path.join(HERE, "target")
    cp_file = os.path.join(out, "perfbench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "perfbench-build.log")
    with open(log, "wb") as lf:
        try:
            code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "compile", "export Runtime/fullClasspath"],
                             timeout=850, cwd=HERE, env=env, stdout=lf,
                             stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            code = None
    with open(log, errors="replace") as lf:
        text = lf.read().strip().splitlines()
    if code != 0 or not text:
        sys.stderr.write(tail(log))
        die("build %s, see %s" % ("timed out" if code is None else "failed",
                                   log))
    cp = text[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


# ----------------------------------------------------------------- inputs
def fake_ffprobe(bin_dir):
    """Install the fake as `ffprobe`, run by this interpreter with -SE
    (no site packages, no PYTHON* variables: a fast, isolated start)."""
    os.makedirs(bin_dir, exist_ok=True)
    with open(os.path.join(HERE, "fake_ffprobe.py")) as f:
        body = f.read()
    path = os.path.join(bin_dir, "ffprobe")
    with open(path, "w") as f:
        f.write("#!%s -SE\n" % sys.executable + body)
    os.chmod(path, 0o755)


def catalogue(plan, prefix, d, seed, s, want_build, want_update,
              want_merge, cap):
    """Generate one size's catalogue inputs under `d`; record in `plan`
    the paths and the outputs the program must produce."""
    root = os.path.join(d, "tree")
    m = gen.make_tree(root, seed, s["videos"], s["corrupt"], cap)
    videos = m["videos"]
    plan[prefix + "root"] = root
    if want_build:
        plan[prefix + "build_sha"] = gen.sha256(
            gen.db_bytes(gen.db_lines(videos, "BENCH")))
        plan[prefix + "variants"] = gen.variant_counts(
            [v["path"] for v in videos])[0]
        corrupt_list = os.path.join(d, "corrupt.txt")
        with open(corrupt_list, "w") as f:
            f.write("".join(p + "\n" for p in m["corrupt"]))
        plan[prefix + "corrupt_list"] = corrupt_list
    if want_update:
        novel = videos[-s["novel"]:]
        old = videos[:-s["novel"]]
        src = os.path.join(d, "update-src.tsv")
        gen.write_db(src, gen.db_lines(old, "BENCH"))
        plan[prefix + "update_src"] = src
        plan[prefix + "update_old"] = len(old)
        plan[prefix + "update_delta"] = len(novel)
        plan[prefix + "update_probed"] = len(novel) + len(m["corrupt"])
        plan[prefix + "update_sha"] = gen.sha256(
            gen.db_bytes(gen.db_lines(videos, "BENCH")))
    if want_merge:
        paths, lines = gen.make_volume_dbs(d, seed, s["dbs"], s["rows"])
        lst = os.path.join(d, "merge-inputs.txt")
        with open(lst, "w") as f:
            f.write("".join(p + "\n" for p in paths))
        plan[prefix + "merge_list"] = lst
        plan[prefix + "merge_rows"] = len(lines)
        merged = gen.db_bytes(lines, header=True)
        plan[prefix + "merge_sha"] = gen.sha256(merged)
        report_db = os.path.join(d, "report.tsv")
        with open(report_db, "wb") as f:
            f.write(merged)
        groups, details = gen.variant_counts(
            [ln.rsplit("\t", 1)[1] for ln in lines])
        plan[prefix + "report_db"] = report_db
        plan[prefix + "report_groups"] = groups
        plan[prefix + "report_details"] = details
    plan[prefix + "files"] = sum(len(fs) for _, _, fs in os.walk(root))
    plan[prefix + "probed"] = len(videos) + len(m["corrupt"])


def run_workload(a, d, cp, expected):
    """Generate the inputs of one run under `d`, run the harness on them
    and return its result."""
    deadline = time.monotonic() + RUN_LIMIT_S
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    bin_dir = os.path.join(d, "bin")
    fake_ffprobe(bin_dir)

    w = a.workload
    ops = OPS[w]
    plan = {"workload": w, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": d, "size": w,
            "cpus": len(os.sched_getaffinity(0)), "ops": ",".join(ops),
            "setups": SETUPS, "warmup_share": WARMUP_SHARE,
            "min_measured_passes": MIN_MEASURED_PASSES,
            "queries": ",".join(QUERIES),
            "fork_log": os.path.join(d, "ffprobe-calls.log"),
            "result": os.path.join(d, "result.json")}
    cap = file_size_cap()
    plan["fixtures"] = ""
    if a.trace:  # tiny inputs for the operations the workload skips
        tiny = SIZES["tiny"]
        os.makedirs(os.path.join(d, "tiny"))
        catalogue(plan, "tiny.", os.path.join(d, "tiny"), a.seed + 1000003,
                  tiny, True, True, True, cap)
        scale = tiny["fixture"]
        fx = os.path.join(WORK, "fixture-%s" % scale)
        plan["tiny.fixture"] = fx
        plan["fixtures"] = "%s=%s" % (fx, scale)
        for q in QUERIES:
            plan["tiny.query.%s" % q] = expected["queries"][str(scale)][q]
    os.makedirs(os.path.join(d, "main"))
    catalogue(plan, w + ".", os.path.join(d, "main"), a.seed, SIZES[w],
              "build" in ops or a.trace, "update" in ops, "merge" in ops, cap)
    plan_path = os.path.join(d, "plan.properties")
    with open(plan_path, "w") as f:
        for k in sorted(plan):
            v = str(plan[k]).replace("\\", "\\\\")
            f.write("%s=%s\n" % (k, v))

    env = dict(os.environ)
    env["PATH"] = bin_dir + os.pathsep + env.get("PATH", "")
    env["PERFBENCH_FFPROBE_LOG"] = plan["fork_log"]
    env["SPARK_LOCAL_DIRS"] = os.path.join(d, "tmp")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap: with a growing one, the peak RSS swung by 40% between
    # runs of the same inputs
    cmd += ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(d, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness", plan_path]
    log = os.path.join(d, "jvm.log")
    with open(log, "wb") as lf:
        try:
            code = run_group(cmd, timeout=max(10, deadline - time.monotonic()),
                             cwd=d, env=env,
                             stdout=lf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            die("timed out; see %s" % log, 3)
    if code != 0 or not os.path.exists(plan["result"]):
        sys.stderr.write(tail(log))
        die("harness exited %d; see %s" % (code, log), 4)
    with open(plan["result"]) as f:
        res = json.load(f)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not "
            "beside perfbench/; run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die("%s is not on PATH" % tool)
    cp = build()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    d = os.path.join(WORK, "%s-%d" % (a.workload, a.seed))
    try:
        res = run_workload(a, d, cp, expected)
    except Exception:
        sys.stderr.write(traceback.format_exc())
        die("the run failed before its result", 6)
    finally:
        # the trees hold sparse files of several GiB each
        for sub in ("main", "tiny", "stage", "tmp"):
            shutil.rmtree(os.path.join(d, sub), ignore_errors=True)
    for line in res.get("failures", []):
        print("failed: " + line)
    names = [m["name"] for m in bench[
        "per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if res["metrics"].get(n, {}).get("value") is None]
    if missing:
        die("no value for %s" % ", ".join(missing), 5)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: res["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()
