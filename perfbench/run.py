#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, generates the inputs,
prepares the serving artifacts once, then measures one run of one workload
in a fresh JVM started directly on the compiled classpath.

    python3 perfbench/run.py --workload report --seed 1 --seconds 30 --trace 0

The last line of standard output is the run's result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the
line before it is the full run record (versions, cores, heap, seed,
host.ext_load, failures, every end-to-end and per-layer metric).

Other modes:
    --selftest               the benchmark's own checks (timed plan, digests)
    --summary [--seed N]     one untraced and one traced run per workload,
                             every metric printed with its unit, plus the
                             tracing overhead
    --record --workload W    re-record W's expected outputs into expected.tsv
    --survey                 time every declared query cold and warm (median
                             of 3 fresh JVMs), write perfbench/survey.tsv and
                             print the queries it picks and the share of the
                             surveyed time the listed queries carry

Run from the root of a checkout; everything it writes stays under
perfbench/ (build output in .build/, inputs, artifacts and per-run work
dirs in .work/).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(BENCH, ".work")
# The pipeline's live state: a fixed path, because artifact dirs are keyed
# by the corpus path they serve.
LIVE = os.path.join(STATE, "live")
CLASSES = os.path.join(BENCH, ".build", "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
EXPECTED = os.path.join(BENCH, "expected.tsv")
SURVEY = os.path.join(BENCH, "survey.tsv")
SURVEY_JVMS = 3
SURVEY_HEADER = ("# Every declared query timed once cold and once warm (noop sink) on the\n"
                 "# generated inputs in each of 3 fresh JVMs, median of the 3 (4-core host):\n"
                 "# `python3 perfbench/run.py --survey`.\n"
                 "# workload\tfamily\tmodule\tname\tcold_s\twarm_s\tbuild_cold_s\trows\n")
WORKLOADS = ("report", "corpus", "pipeline")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stamped(name, key):
    path = os.path.join(STATE, name + ".stamp")
    return os.path.exists(path) and open(path).read() == key


def stamp(name, key):
    with open(os.path.join(STATE, name + ".stamp"), "w") as fh:
        fh.write(key)


def heap():
    """Tier-1 heap formula: half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def run_logged(cmd, logfile, timeout, env=None, cwd=None):
    """Runs cmd in its own process group with output to logfile; on timeout
    the whole group is killed and waited for. Returns the exit code."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
            return -1


def tail(logfile, n=40):
    try:
        with open(logfile, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def program_key():
    return tree_hash([os.path.join(ROOT, "src", "main", "scala")])


def build():
    key = program_key() + tree_hash([os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                                     os.path.join(BENCH, "project", "build.properties")])
    if stamped("build", key) and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # sbt's scratch files go to the checkout too, not the system temp dir.
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
    logfile = os.path.join(STATE, "build.log")
    log("compiling the program and the benchmark (sbt)")
    t0 = time.time()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], logfile, 300,
                    env=env, cwd=BENCH)
    if rc != 0:
        sys.exit(f"build failed (exit {rc}):\n{tail(logfile)}")
    log(f"compiled in {time.time() - t0:.0f} s")
    stamp("build", key)


def java_cmd(main_args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    # -Xms equal to -Xmx: the heap is sized once, so the collector's
    # pauses do not follow the heap's growth over a run.
    return (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UsePerfData"] + opens +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dgraft.index.root={os.path.join(work, 'index')}",
             "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main"] + main_args)


def data_dir():
    data = os.path.join(STATE, "data")
    key = tree_hash([os.path.join(BENCH, "gendata.py")])
    if stamped("data", key) and os.path.isdir(data):
        return data
    shutil.rmtree(data, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(BENCH, "gendata.py"), data], check=True)
    stamp("data", key)
    return data


def prepared_state(data):
    """The state runs start from, built once per program version in a JVM
    of its own: the corpus's serving artifacts (IndexRun.run) and the
    pipeline's published base. Each run gets a copy."""
    key = program_key() + tree_hash([os.path.join(BENCH, "gendata.py")])
    prep = os.path.join(STATE, "prepare")
    if stamped("prepare", key) and os.path.exists(os.path.join(prep, "prepared")):
        return prep
    shutil.rmtree(prep, ignore_errors=True)
    shutil.rmtree(LIVE, ignore_errors=True)
    log("building the serving artifacts and the pipeline base")
    logfile = os.path.join(STATE, "prepare.log")
    rc = run_logged(java_cmd(["prepare", f"data={data}", f"live={LIVE}",
                              f"out={os.path.join(prep, 'prepared')}"], prep), logfile, 300)
    if rc != 0:
        sys.exit(f"prepare failed (exit {rc}):\n{tail(logfile)}")
    shutil.move(LIVE, os.path.join(prep, "live"))
    shutil.rmtree(os.path.join(prep, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(prep, "spark-local"), ignore_errors=True)
    stamp("prepare", key)
    return prep


def setup():
    """Build, inputs and prepared state; returns (data dir, prepared dir)."""
    build()
    data = data_dir()
    return data, prepared_state(data)


def fresh_work(name, prep):
    """A new work dir holding a copy of the prepared artifact root, and a
    fresh copy of the pipeline's live state."""
    work = os.path.join(STATE, "runs", name)
    for d in (work, LIVE):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(os.path.join(prep, "index"), os.path.join(work, "index"))
    shutil.copytree(os.path.join(prep, "live"), LIVE)
    return work


def measure(workload, seed, seconds, trace, record=False):
    """One run in a fresh JVM. Returns its record line and result line."""
    data, prep = setup()
    work = fresh_work(f"{workload}-{seed}-{trace}-{os.getpid()}", prep)
    out = os.path.join(work, "result.json")
    logfile = os.path.join(STATE, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    if os.path.exists(logfile):
        os.remove(logfile)
    args = ["run", f"workload={workload}", f"seed={seed}", f"trace={trace}", f"data={data}",
            f"work={work}", f"live={LIVE}", f"prepared={os.path.join(prep, 'prepared')}",
            f"expected={EXPECTED}", f"out={out}", f"seconds={seconds}"]
    if record:
        args.append(f"record={EXPECTED}")
    try:
        rc = run_logged(java_cmd(args, work), logfile, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: run failed (exit {rc}), log {logfile}:\n{tail(logfile)}")
        with open(out) as fh:
            rec_line, res_line = fh.read().strip().split("\n")
        return rec_line, res_line
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(LIVE, ignore_errors=True)


def survey():
    """Times every declared query in SURVEY_JVMS fresh JVMs, each meeting the
    modules in another order, and keeps the median of each time."""
    data, prep = setup()
    runs = []
    for i in range(1, SURVEY_JVMS + 1):
        work = fresh_work(f"survey-{os.getpid()}", prep)
        out = os.path.join(work, "survey.tsv")
        logfile = os.path.join(STATE, f"survey-{i}.log")
        if os.path.exists(logfile):
            os.remove(logfile)
        log(f"survey JVM {i} of {SURVEY_JVMS}")
        try:
            rc = run_logged(java_cmd(["survey", f"data={data}", f"seed={i}", f"out={out}"], work),
                            logfile, 1200)
            if rc != 0 or not os.path.exists(out):
                sys.exit(f"survey failed (exit {rc}):\n{tail(logfile)}")
            runs.append({(r[2], r[3]): r for r in read_tsv(out)})
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(LIVE, ignore_errors=True)
    rows = []
    for key in sorted(runs[0]):
        rs = [run[key] for run in runs]
        if any(r[0] == "error" for r in rs):
            rows.append(next(r for r in rs if r[0] == "error"))
            continue
        med = [f"{statistics.median(float(r[i]) for r in rs):.3f}" for i in (4, 5, 6)]
        rows.append(rs[0][:4] + med + [rs[0][7]])
    with open(SURVEY, "w") as fh:
        fh.write(SURVEY_HEADER)
        for r in rows:
            fh.write("\t".join(r) + "\n")
    print_survey(rows)


def read_tsv(path):
    with open(path) as fh:
        return [l.rstrip("\n").split("\t") for l in fh if l.strip() and not l.startswith("#")]


def survey_selection(rows):
    """The query lists the survey picks: for every (workload, module), the
    query with the largest cold-minus-warm gap, the module's heaviest cost
    that only a first execution pays (memo builds, training, collects).
    Queries with an empty result on these inputs are passed over: their
    output check would check nothing."""
    gap = lambda r: float(r[4]) - float(r[5])
    best = {}
    for r in rows:
        key = (r[0], r[2])
        if int(r[7]) > 0 and (key not in best or gap(r) > gap(best[key])):
            best[key] = r
    return [best[k] for k in sorted(best)]


def print_survey(rows):
    """Prints the survey's totals, its selection, and the share of the
    surveyed cold and warm time that the listed queries carry."""
    errors = [r for r in rows if r[0] == "error"]
    rows = [r for r in rows if r[0] != "error"]
    listed = {(e[0], e[3]) for e in read_tsv(EXPECTED)}
    picks = {(r[0], r[3]) for r in survey_selection(rows)}
    for w in ("report", "corpus"):
        mine = [r for r in rows if r[0] == w]
        run = [r for r in mine if (w, r[3]) in listed]
        cold, warm = (sum(float(r[i]) for r in mine) for i in (4, 5))
        rc, rw = (sum(float(r[i]) for r in run) for i in (4, 5))
        print(f"{w}: {len(mine)} queries, cold {cold:.1f} s, warm {warm:.1f} s; "
              f"the {len(run)} listed carry {rc:.1f} s cold ({rc / cold:.0%}), {rw:.1f} s warm ({rw / warm:.0%})")
        for r in sorted(mine, key=lambda r: (r[2], r[3])):
            if (w, r[3]) in picks or (w, r[3]) in listed:
                flag = "listed" if (w, r[3]) in listed else "NOT LISTED"
                print(f"   {r[2]:<11} {r[1]:<14} {r[3]:<28} {r[4]:>7} {r[5]:>7}  {flag}"
                      f"{'' if (w, r[3]) in picks else ' (not picked)'}")
    for r in errors:
        print(f"error: {' '.join(r[1:])}")


def summary(seed, seconds):
    for w in WORKLOADS:
        r = json.loads(measure(w, seed, seconds, 0)[0])["run"]
        t = json.loads(measure(w, seed, seconds, 1)[0])["run"]
        print(f"== {w} (seed {seed}; spark {r['spark']}, java {r['java']}, {r['cores']} cores, "
              f"heap {r['heap_mb']} MB, host.ext_load {r['host.ext_load']:.2f})")
        print("  end-to-end (untraced run)")
        for name, m in r["end_to_end"].items():
            print(f"   {name:<34} {m['value']:>14.4f} {m['unit']}")
        print(f"   {'ops_total':<34} {r['attempted']:>14d} count")
        print(f"   {'ops_failed':<34} {r['failed']:>14d} count")
        print(f"  per-layer (traced run, ops_failed {t['failed']})")
        for name, m in t["per_layer"].items():
            print(f"   {name:<34} {m['value']:>14.4f} {m['unit']}")
        for m in ("warm_s", "job_s"):
            over = t["per_layer"][f"trace.{m}"]["value"] - r["end_to_end"][m]["value"]
            print(f"   {'tracing overhead ' + m:<34} {over:>14.4f} s")


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        sys.exit("perfbench: sbt and java are required")
    os.makedirs(STATE, exist_ok=True)
    # One invocation at a time per checkout: runs share the build, the
    # prepared state and the pipeline's live dir, and would contend anyway.
    with open(os.path.join(STATE, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        dispatch()


def dispatch():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--summary", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--survey", action="store_true")
    a = ap.parse_args()

    if a.summary:
        summary(a.seed, a.seconds)
        return
    if a.survey:
        survey()
        return
    if a.selftest:
        data, prep = setup()
        work = fresh_work(f"aux-{os.getpid()}", prep)
        try:
            rc = subprocess.run(java_cmd(["selftest", f"data={data}", f"work={work}",
                                          f"expected={EXPECTED}"], work)).returncode
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(LIVE, ignore_errors=True)
        sys.exit(rc)
    if a.workload is None:
        ap.error("--workload is required")
    rec_line, res_line = measure(a.workload, a.seed, a.seconds, a.trace, record=a.record)
    print(rec_line)
    print(res_line, flush=True)


if __name__ == "__main__":
    main()
