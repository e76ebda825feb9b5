#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 36 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. Each run:

  1. starts a fresh JVM, timing it from launch until its SparkSession is
     ready (warm-up query included), and runs the workload in it: a cold
     pass, then warm passes until --seconds have passed and four clean
     warm passes are done, query order drawn from --seed; a contended
     attempt (see STEAL_MAX) is repeated in a fresh JVM;
  2. checks every saved result against its DuckDB oracle SQL with
     tools/check_oracle.py;
  3. prints each metric as `name value unit`, then, as the last line, one
     JSON object with `correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer metrics
of a traced run, and writes its span tree. Per-pass host counters, per-query
numbers and spans land in perfbench/results/. Every run stages into a fresh
directory of its own under perfbench/.work/, deleted when the run ends.

The corpus is read from $SPARK_GRAFT_SF_DIR, as graft.Bench reads it, by
default ~/testdata/sf0.1.

Exit status: 0 when every result is correct, 1 when a result is wrong or a
query failed, 2 when the benchmark could not run, or when in every attempt
its time allowed the host stole more than STEAL_MAX of the CPUs' time
during set-up, the cold pass or too many warm passes, so that the run would
measure the host.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import signal
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RESULTS = HERE / "results"
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "launch.stamp"

DEFAULT_SF = str(Path.home() / "testdata" / "sf0.1")
BUILD_TIMEOUT_S = 850
# a run ends within this many seconds after the build, retries included
RUN_BUDGET_S = 170
# A phase during which the host stole more than this share of the CPUs'
# time measures the host, not the program (see Main.scala's Run).
STEAL_MAX = 0.10


def load_spec():
    """Workloads and metrics (name -> unit) from BENCHMARK.json."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = lambda group: {m["name"]: m["unit"] for m in bench[group]}
    return ([w["name"] for w in bench["workloads"]], units("end_to_end"),
            units("per_layer"))


# printed with the end-to-end metrics but not compared between runs:
# fail_ratio is zero on a correct run, and cpu_pass_s spread 40% between
# runs of the same code on a shared 4-core host (it is a per-layer metric)
INFO = {"cpu_pass_s": "s", "fail_ratio": "ratio"}


class BenchError(Exception):
    """The benchmark could not run (exit status 2)."""


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Builds the engine and the harness unless the last build is current;
    returns (classpath, JVM options)."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not need.exists():
            raise BenchError(f"{need} not found: run from the root of a checkout "
                             "of the engine")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")
    stamp = source_stamp()
    if not (LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == stamp):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                                   "-Dsbt.offline=true -Xmx2g")
        log = HERE / "target" / "build.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "launchSpec"], cwd=HERE, env=env, stdout=out,
                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not LAUNCH.exists():
            tail = log.read_text(errors="replace").splitlines()[-30:]
            raise BenchError(f"build failed ({rc}); see {log}:\n" + "\n".join(tail))
        STAMP.write_text(stamp)
    lines = LAUNCH.read_text().splitlines()
    return lines[0], lines[1:]


# ---------------------------------------------------------------- JVM runs

def host_steal():
    """Host steal seconds, summed over the CPUs, and the CPU count, from
    /proc/stat (USER_HZ = 100); (0, 1) where the file does not exist."""
    try:
        lines = Path("/proc/stat").read_text().splitlines()
    except OSError:
        return 0.0, 1
    return (int(lines[0].split()[8]) / 100.0,
            sum(1 for l in lines if l[:3] == "cpu" and l[3:4].isdigit()))


def launch(spec, work, args, timeout):
    """Runs perfbench.Main in a fresh JVM with its own tmpdir under `work`;
    returns (setup seconds, share of the CPUs' time the host stole during
    set-up, RESULT payload). Stops the JVM once it has printed its result,
    at the run's time limit, or as soon as its set-up was contended, with
    a RESULT payload saying so."""
    classpath, jvm_opts = spec
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + jvm_opts +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, "perfbench.Main", f"work={work}"] + args)
    ready = result = setup_steal = None
    with open(work / "jvm.log", "w") as err:
        steal0, cpus = host_steal()
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        watchdog = threading.Timer(timeout, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("READY "):
                    ready = int(line.split()[1]) / 1e3 - t0
                    setup_steal = (host_steal()[0] - steal0) / (ready * cpus)
                    if setup_steal > STEAL_MAX:
                        result = {"contended": f"the host stole {setup_steal:.0%} "
                                               "of the CPUs' time during set-up"}
                        break
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                    break
        finally:
            # everything the run reports is written before its last line;
            # the JVM's own shutdown is not measured, so it is not waited for
            watchdog.cancel()
            proc.kill()
            proc.wait()
            proc.stdout.close()
    if ready is None or result is None:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        raise BenchError("the JVM ended without its result:\n" +
                         "\n".join(tail))
    return ready, setup_steal, result


# ---------------------------------------------------------------- oracle

def oracle_check(work, sf_dir, timeout):
    """Checks each saved result against its DuckDB oracle with
    tools/check_oracle.py; returns {query: None | mismatch}."""
    results = work / "results"
    try:
        p = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(results), sf_dir],
            capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"the oracle check took over {timeout:.0f} s")
    out = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name, _, msg = rest.partition(" ")
            out[name.rstrip(":")] = None if word == "PASS" else msg
    saved = sorted(json.loads((results / "oracle_sql.json").read_text()))
    if p.returncode not in (0, 1) or sorted(out) != saved:
        raise BenchError(f"the oracle check did not run ({p.returncode}):\n"
                         + (p.stdout + p.stderr)[-2000:])
    return out


# ---------------------------------------------------------------- spans

def contains(outer, inner):
    return outer["start_ms"] <= inner["start_ms"] and inner["end_ms"] <= outer["end_ms"]


def span_tree(spans):
    """Fixes each span's parent and derives its self time.

    A span keeps its causal parent when that parent contains it; otherwise
    it moves to the nearest ancestor that does (the run span contains the
    whole run) and is marked `reparented`. Self time is the span's duration
    minus the union of its children's intervals."""
    by_id = {s["id"]: dict(s) for s in spans}
    root = next(s for s in by_id.values() if s["parent"] == 0)
    final = {root["id"]: 0}

    def resolve(sid):
        if sid in final:
            return final[sid]
        s = by_id[sid]
        p = s["parent"] if s["parent"] in by_id else root["id"]
        while p != root["id"] and not contains(by_id[p], s):
            p = resolve(p) or root["id"]
        final[sid] = p
        s["reparented"] = p != s["parent"]
        return p

    for sid in list(by_id):
        resolve(sid)
    children = {}
    for sid, s in by_id.items():
        s["parent"] = final[sid]
        if sid != root["id"]:
            if not contains(root, s):  # outside the run: cannot be placed
                raise BenchError(f"span {s} lies outside the run span")
            children.setdefault(s["parent"], []).append(s)
    for s in by_id.values():
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            if cur_end is None or c["start_ms"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start_ms"], c["end_ms"]
            else:
                cur_end = max(cur_end, c["end_ms"])
        if cur_end is not None:
            covered += cur_end - cur_start
        s["self_ms"] = s["end_ms"] - s["start_ms"] - covered
    return sorted(by_id.values(), key=lambda s: (s["start_ms"], s["id"]))


def check_span_tree(tree):
    """Problems with a span tree: a span outside its parent, or a negative
    self time. Empty when the tree is well formed."""
    by_id = {s["id"]: s for s in tree}
    problems = []
    for s in tree:
        p = by_id.get(s["parent"])
        if s["parent"] != 0 and (p is None or not contains(p, s)):
            problems.append(f"span {s['id']} ({s['kind']} {s['name']}) is not inside "
                            f"its parent {s['parent']}")
        if s["self_ms"] < 0:
            problems.append(f"span {s['id']} has negative self time {s['self_ms']}")
    return problems


# ---------------------------------------------------------------- main

def run(args):
    workloads, end_to_end, per_layer = load_spec()
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload!r}; one of {', '.join(workloads)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF)
    if not (Path(sf_dir) / "lineitem.parquet").exists():
        raise BenchError(f"corpus not found in {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    spec = build()
    # A contended attempt measured the host, not the program (STEAL_MAX);
    # the run starts again in a fresh JVM while its time budget leaves room
    # for a whole attempt: set-up, the window and its 15 s extension, and
    # the oracle check.
    end = time.time() + RUN_BUDGET_S
    longest = args.seconds + 50
    contention = []
    while True:
        work = WORK / (f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}-"
                       f"{len(contention)}")
        shutil.rmtree(work, ignore_errors=True)
        try:
            setup_s, setup_steal, result = launch(spec, work, [
                f"sf={sf_dir}", f"workload={args.workload}", f"seed={args.seed}",
                f"seconds={args.seconds}", f"trace={args.trace}",
                f"steal_max={STEAL_MAX}"], end - time.time())
            if "contended" in result:
                contention.append(result["contended"])
                print(f"perfbench: attempt {len(contention)}: {result['contended']}",
                      file=sys.stderr)
                if time.time() + longest > end:
                    raise BenchError(
                        f"{len(contention)} attempts were contended (the last: "
                        f"{result['contended']}); the run would measure the host, "
                        "not the program: repeat it on a quieter host")
                continue
            oracle = oracle_check(work, sf_dir, max(10.0, end - time.time()))
            artifact = json.loads((work / "run.json").read_text())
            tree = None
            if args.trace:
                tree = span_tree(json.loads((work / "spans.json").read_text()))
                problems = check_span_tree(tree)
                if problems:
                    raise BenchError("malformed span tree:\n" + "\n".join(problems[:10]))
            break
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # an execution fails when it raised, returned something other than its
    # query's first result, or returned a first result the oracle rejects
    wrong = [q for q, m in oracle.items() if m is not None]
    failed = result["failed"] + sum(result["matched"].get(q, 0) for q in wrong)
    attempted = result["attempted"]
    metrics = dict(result["metrics"])
    metrics["setup_s"] = setup_s
    metrics["fail_ratio"] = failed / attempted
    compared = end_to_end if not args.trace else per_layer
    shown = dict(compared, **INFO) if not args.trace else compared
    missing = sorted(set(shown) - set(metrics))
    if missing:
        raise BenchError(f"the run reported no {', '.join(missing)}")
    printed = {n: {"value": metrics[n], "unit": u} for n, u in shown.items()}

    RESULTS.mkdir(exist_ok=True)
    base = RESULTS / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact.update(setup_s=setup_s, setup_steal_share=setup_steal,
                    contended_attempts=contention,
                    oracle=oracle, failed=failed,
                    attempted=attempted, errors=result["errors"], metrics=printed)
    base.with_suffix(".json").write_text(json.dumps(artifact, indent=1))
    if tree is not None:
        Path(str(base) + ".spans.json").write_text(json.dumps(tree))

    for p in artifact["passes"]:
        h = p["host"]
        print(f"pass {p['index']} {p['kind']}{' traced' if p['traced'] else ''}: "
              f"{p['wall_s']:.3f} s, cpu {p['cpu_s']:.2f} s (jit {p['jit_cpu_s']:.2f} s), "
              f"steal {h['steal_s']:.2f} s{' (contended)' if p['contended'] else ''}, "
              f"other cpu {h['other_cpu_s']:.2f} s, load1 {h['load1_start']:.2f}")
    for q, m in oracle.items():
        if m is not None:
            print(f"oracle mismatch {q}: {m}")
    for e in result["errors"]:
        print(f"failed {e}")
    for name, m in printed.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    correct = failed == 0
    payload = {n: printed[n] for n in compared}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": payload}))
    return 0 if correct else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
