#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over the sf0.1 test tables.

One client thread in one JVM runs a fixed number of passes over a
workload's operations back to back (a pass is every operation of the
workload once, in an order fixed by --seed), then checks the outputs
untimed. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer ones. See README.md.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT_ROOT = ROOT / ".bench_out"
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "launch.digest"

HEAP = "-Xmx4g"
# a run must end within 180 s once built; the first one also builds
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 700
# cold set-ups per untraced run, each in its own JVM
SETUPS = 3

# Each workload is a pass of operations run closed loop by one client. A
# run makes exactly `passes` passes (the cold one first), so every run
# does the same work; --seconds is recorded, not obeyed. A traced run
# needs at least three passes: a cold, a traced and an untraced one.
# README.md says why each workload was chosen, and why the iterative and
# curation query groups are not workloads of their own.
WORKLOADS = {
    "interactive": {
        "kind": "batch",
        "queries": ["q_inner_join", "q_win_rank", "q_tpch3", "q_events_funnel"],
        "passes": 8,
    },
    "stream": {
        "kind": "stream",
        "queries": ["session_native", "dedup"],
        "passes": 4,
        "chunks": 2,
        "chunk_rows": 1000,
    },
}

# name -> unit. All three are CPU time of the JVM: on a shared VM its wall
# time moves with the CPU time the host takes away, its CPU time does not.
END_TO_END = {"setup_s": "s", "first_pass_cpu_s": "s", "run_cpu_s": "s"}


class HarnessFault(Exception):
    """A fault of the benchmark itself: no metrics may be printed."""


# ---- pure logic (covered by selftest.py) ---------------------------------

def pass_orders(queries, workload, seed, n):
    """The operation order of each pass, fixed by workload and seed."""
    rng = random.Random(f"{workload}/{seed}")
    return [rng.sample(queries, len(queries)) for _ in range(n)]


def chunk_sizes(n, mean, workload, seed):
    """n micro-batch sizes, each jittered ±25 % around `mean`."""
    rng = random.Random(f"{workload}/{seed}/chunks")
    return [rng.randint(mean * 3 // 4, mean * 5 // 4) for _ in range(n)]


def reportable(n, q):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (1 - q) >= 10 - 1e-9  # 100 * (1 - 0.9) is 9.999...


def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values, unit_scale=1.0):
    """Median, and p90 when it has ten samples beyond it, with the count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values) * unit_scale
        if reportable(len(values), 0.9):
            out["p90"] = percentile(values, 0.9) * unit_scale
    return out


def self_times(spans):
    """Span key -> duration minus the part of it its children cover (s)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["key"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["key"]] = (s["end"] - s["start"] - covered) / 1e3
    return out


def adopt_orphans(spans):
    """Gives each span whose parent was not recorded the innermost span of
    the same operation that contains its start. Jobs of a streaming query
    run on its own thread, so they name the query, not the micro-batch."""
    keys = {s["key"] for s in spans}
    for s in spans:
        if s["parent"] and s["parent"] not in keys:
            hosts = [h for h in spans if h["op"] == s["op"] and h is not s
                     and h["name"] not in ("job", "stage")
                     and h["start"] <= s["start"] <= h["end"]]
            if hosts:
                s["parent"] = min(hosts, key=lambda h: h["end"] - h["start"])["key"]
    return spans


def pass_of(op):
    """Pass number of an operation id such as "p3.12" or "p3.dedup"."""
    return int(op.split(".")[0][1:])


def timed_samples(ops, key="latency"):
    """Times of operations that succeeded; a failure is never timed."""
    return [o[key] for o in ops if o["status"] == "ok"]


# ---- build and launch ----------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", HERE / "src"):
        for p in sorted(base.rglob("*")):
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    for p in (ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"):
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise HarnessFault(f"{cmd[0]} timed out after {timeout}s; see {log}")


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles program and harness once per source state."""
    digest = source_digest()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    OUT_ROOT.mkdir(exist_ok=True)
    log = OUT_ROOT / "build.log"
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     HERE, log, BUILD_TIMEOUT_S, env)
    if rc != 0 or not LAUNCH.exists():
        raise HarnessFault(f"build failed (exit {rc}):\n{tail(log)}")
    STAMP.write_text(digest)


def jvm_args():
    args = [a for a in LAUNCH.read_text().splitlines()
            if a and not a.startswith("-Xmx")]
    # no hsperfdata file in the system temp directory
    return args + [HEAP, "-XX:-UsePerfData"]


def testdata_dirs():
    """sf -> directory of the fixed test tables, as TESTDATA.md lists them."""
    text = (ROOT / "TESTDATA.md").read_text()
    return {m.group(1): m.group(2).rstrip("/")
            for m in re.finditer(r"^\|\s*([\d.]+)\s*\|\s*`([^`]+)`", text, re.M)}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


# ---- one run -------------------------------------------------------------

def read_jsonl(path):
    return [json.loads(line) for line in path.read_text().splitlines() if line]


def steal_s():
    """CPU time the host has taken from this machine (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def launch(plan, out, deadline):
    """Runs the harness JVM on `plan` with `out` as its directory and
    returns its run record."""
    out.mkdir(parents=True, exist_ok=True)
    (out / "plan.json").write_text(json.dumps(dict(plan, out_dir=str(out))))
    (out / "tmp").mkdir()
    cmd = (["java", f"-Djava.io.tmpdir={out / 'tmp'}"] + jvm_args()
           + ["graftbench.Harness", str(out / "plan.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    timeout = deadline - time.monotonic()
    if timeout <= 0:
        raise HarnessFault("no time left for another harness launch")
    rc = run_bounded(cmd, ROOT, out / "harness.log", timeout, env)
    if rc != 0:
        raise HarnessFault(f"harness exited {rc}:\n{tail(out / 'harness.log')}")
    shutil.rmtree(out / "spark-local", ignore_errors=True)
    shutil.rmtree(out / "tmp", ignore_errors=True)
    return json.loads((out / "run.json").read_text())


def run_harness(args, out, deadline):
    w = WORKLOADS[args.workload]
    plan = {
        "workload": args.workload, "kind": w["kind"], "seed": args.seed,
        "trace": args.trace, "sf_dir": args.sf_dir, "cores": os.cpu_count(),
        "passes": pass_orders(w["queries"], args.workload, args.seed, w["passes"]),
        "check": w["queries"] if w["kind"] == "batch" else [],
        "chunks": (chunk_sizes(w["chunks"], w["chunk_rows"], args.workload, args.seed)
                   if w["kind"] == "stream" else []),
    }
    steal0 = steal_s()
    run = launch(plan, out, deadline)
    steal1 = steal_s()
    run["host_steal_s"] = steal1 - steal0 if steal0 is not None else None
    setups = [run]
    if not args.trace:
        # set up again in fresh JVMs; setup_s is the median
        setups += [launch(dict(plan, setup_only=True), out / f"setup{i}", deadline)
                   for i in range(1, SETUPS)]
    run["setups_s"] = [r["setup_s"] for r in setups]
    run["setups_cpu_s"] = [r["setup_cpu_s"] for r in setups]
    run["git_commit"] = git_commit()
    run["source_digest"] = source_digest()
    return plan, run, read_jsonl(out / "ops.jsonl"), read_jsonl(out / "spans.jsonl")


def check_outputs(plan, run, out, deadline):
    """Names of operations whose output failed its check: batch results
    against DuckDB through tools/check.py, stream twins against the row
    count of their batch twin."""
    bad = set(run["check_errors"])
    if plan["kind"] == "batch":
        todo = [q for q in plan["check"] if q not in bad]
        if todo:
            rc = run_bounded([sys.executable, str(ROOT / "tools" / "check.py"),
                              plan["sf_dir"], str(out / "check"), ",".join(todo)],
                             ROOT, out / "check.log", deadline - time.monotonic())
            result = json.loads((out / "check" / "check_result.json").read_text())
            passed = {q for q, r in result["queries"].items() if r["pass"]}
            bad |= {q for q in todo if q not in passed}
            if rc != 0 and not bad:
                raise HarnessFault(f"check.py exited {rc}:\n{tail(out / 'check.log')}")
    else:
        want = run["batch_twin_rows"]
        for r in run["stream_runs"]:
            if r["failed"] or r["emitted"] != want[r["twin"]]:
                bad.add(f"{r['op']}: emitted {r['emitted']} rows, "
                        f"batch twin {want[r['twin']]}")
    return sorted(bad)


def normalise(plan, ops):
    """Uniform op records: pass, traced, status, latency (s)."""
    for o in ops:
        if plan["kind"] == "batch":
            o["latency"] = (o["build_s"] + o["plan_s"] + o["exec_s"]
                            if o["status"] == "ok" else None)
        else:
            o["latency"] = o["latency_ms"] / 1e3 if o["status"] == "ok" else None
    return ops


def untraced_passes(run, ops):
    """Indexes of the passes after the first that ran without tracing."""
    traced = {o["pass"] for o in ops if o["traced"]}
    return [i for i in range(1, len(run["pass_s"])) if i not in traced]


def end_to_end(run, ops):
    """The bounded end-to-end metrics of an untraced run, in JVM CPU time:
    the median cold set-up, the cold first pass, and all the passes. The
    total is steadier than the passes after the first alone: a run whose
    JIT compiles more in one pass compiles less in the next."""
    if len(run["pass_cpu_s"]) < 2 or not timed_samples(ops):
        raise HarnessFault("a single pass, or no successful operation")
    return {
        "setup_s": statistics.median(run["setups_cpu_s"]),
        "first_pass_cpu_s": run["pass_cpu_s"][0],
        "run_cpu_s": sum(run["pass_cpu_s"]),
    }


def counts(plan, run, ops, n_failed_checks):
    """(attempted, failed): timed operations plus output checks."""
    attempted = len(ops) + len(plan["check"] or run.get("stream_runs", []))
    failed = sum(o["status"] != "ok" for o in ops) + n_failed_checks
    return attempted, failed


def summary(plan, run, ops, n_failed_checks):
    """The run's wall-clock figures, for people to read. Latencies are
    taken from the second half of the untraced passes, where the JIT has
    mostly settled."""
    passes = run["pass_s"]
    warm = untraced_passes(run, ops)
    late = [i for i in warm if i >= len(passes) // 2]
    samples = timed_samples([o for o in ops if o["pass"] in late])
    attempted, failed = counts(plan, run, ops, n_failed_checks)
    s = {"workload": plan["workload"], "seed": plan["seed"], "passes": len(passes),
         "setups_s": run["setups_s"], "setups_cpu_s": run["setups_cpu_s"],
         "setup_wall_s": statistics.median(run["setups_s"]),
         "first_pass_s": passes[0],
         "pass_s": statistics.mean(passes[i] for i in warm) if warm else None,
         "pass_cpu_s": (statistics.mean(run["pass_cpu_s"][i] for i in warm)
                        if warm else None),
         "failed_ratio": failed / attempted,
         "host_steal_s": run["host_steal_s"]}
    if plan["kind"] == "batch":
        s["query_s"] = latency_summary(samples)
    else:
        s["batch_ms"] = latency_summary(samples, 1e3)
        feeds = [r for r in run["stream_runs"] if r["pass"] in late]
        s["stream_rows_per_s"] = (sum(r["feed_rows"] for r in feeds)
                                  / sum(r["feed_s"] for r in feeds)) if feeds else None
    return s


def per_layer(plan, run, ops, spans):
    """Per-layer metrics: per-pass totals over traced passes, medians."""
    traced_passes = sorted({o["pass"] for o in ops if o["traced"]})
    if not traced_passes:
        raise HarnessFault("a traced run recorded no traced pass")
    cores = run["config"]["cores"]
    stats_by_pass = {}
    if plan["kind"] == "batch":
        for o in ops:
            if o["traced"]:
                stats_by_pass.setdefault(o["pass"], []).append(o)
    else:
        for r in run["stream_runs"]:
            if r["traced"]:
                stats_by_pass.setdefault(r["pass"], []).append(
                    dict(r, stats=r["stats"] or {}))
    selfs = self_times(adopt_orphans(spans))
    span_by_key = {s["key"]: s for s in spans}

    def per_pass(p):
        rows = stats_by_pass.get(p, [])
        st = lambda k: sum(r["stats"].get(k, 0.0) for r in rows)
        pass_ops = [o for o in ops if o["pass"] == p]
        ok = [o for o in pass_ops if o["status"] == "ok"]
        exec_s = sum(o.get("exec_s", o.get("latency") or 0) for o in ok)
        if plan["kind"] == "batch":
            build_s = sum(o["build_s"] for o in ok)
            plan_s = sum(o["plan_s"] for o in ok)
            phase_s = lambda ph: sum(o[f"plan.{ph}_s"] for o in ok)
        else:
            # a micro-batch is planned inside its trigger: the progress
            # record's queryPlanning, and the trackers of its executions
            build_s = sum(r["build_s"] for r in rows)
            plan_s = sum(b["plan_ms"] for r in rows for b in r["progress"]) / 1e3
            phase_s = lambda ph: st(f"tracker.{ph}_s")
        m = {
            "tables.schema_jobs": st("schema_jobs"),
            "tables.scan_bytes": st("scan_bytes"),
            "tables.scan_rows": st("scan_rows"),
            "build.s": build_s,
            "build.eager_jobs": st("jobs.build"),
            "build.eager_task_s": st("task_run_s.build"),
            "plan.s": plan_s,
            "plan.analysis_s": phase_s("analysis"),
            "plan.optimization_s": phase_s("optimization"),
            "plan.planning_s": phase_s("planning"),
            "plan.exchanges": st("exchanges"),
            "plan.broadcast_joins": st("broadcast_joins"),
            "plan.shuffled_joins": st("shuffled_joins"),
            "exec.s": exec_s,
            "exec.jobs": st("jobs.exec"),
            "exec.stages": st("stages"),
            "exec.tasks": st("tasks"),
            "exec.task_run_s": st("task_run_s"),
            "exec.task_cpu_s": st("task_cpu_s"),
            "exec.gc_s": st("gc_s"),
            "exec.sched_wait_s": st("sched_wait_s"),
            "exec.core_busy": st("task_run_s.exec") / (exec_s * cores) if exec_s else 0.0,
            "exec.shuffle_write_bytes": st("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": st("shuffle_read_bytes"),
            "exec.shuffle_records": st("shuffle_records"),
            "exec.spill_bytes": st("spill_bytes"),
            "op.sort_s": st("op.sort_s"),
            "op.agg_s": st("op.agg_s"),
            "op.hash_build_s": st("op.hash_build_s"),
            "op.shuffle_write_s": st("op.shuffle_write_s"),
        }
        for layer in ("query", "build", "plan", "exec", "job", "stage"):
            m[f"self.{layer}_s"] = sum(
                v for k, v in selfs.items() if span_by_key[k]["name"] == layer
                and pass_of(span_by_key[k]["op"]) == p)
        return m

    rows = [per_pass(p) for p in traced_passes]
    metrics = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    metrics["tables.load_s"] = sum(run.get("tables", {}).values())
    progress = [p for r in run.get("stream_runs", []) if r["traced"]
                for p in r["progress"]]
    for k in ("add_batch_ms", "plan_ms", "commit_ms", "state_commit_ms"):
        metrics[f"stream.{k}"] = (statistics.median(p[k] for p in progress)
                                  if progress else 0.0)
    metrics["stream.state_rows"] = max((p["state_rows"] for p in progress), default=0)
    metrics["stream.state_bytes"] = max((p["state_bytes"] for p in progress), default=0)
    metrics["jvm.gc_s"] = run["jvm"]["gc_s"]
    metrics["jvm.jit_s"] = statistics.median(run["pass_jit_s"][p] for p in traced_passes)
    metrics["jvm.heap_peak_mb"] = run["jvm"]["heap_peak_mb"]
    # tracing overhead: traced passes against the untraced ones after the
    # cold first pass, same run and same operations
    traced_s = [run["pass_s"][p] for p in traced_passes]
    plain_s = [run["pass_s"][i] for i in untraced_passes(run, ops)]
    metrics["trace.overhead_pct"] = (
        (statistics.median(traced_s) / statistics.median(plain_s) - 1) * 100
        if plain_s else 0.0)
    return metrics


UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_mb": "MiB",
         "_pct": "%", "core_busy": "ratio", "jobs": "count", "stages": "count",
         "tasks": "count", "_rows": "count", "_records": "count",
         "exchanges": "count", "_joins": "count"}


def unit_of(name):
    if name.endswith(".s"):
        return "s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="test tables (default: sf0.1 of TESTDATA.md)")
    args = ap.parse_args(argv)
    try:
        for need in (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
                     ROOT / "tools" / "check.py", ROOT / "TESTDATA.md"):
            if not need.exists():
                raise HarnessFault(f"{need.relative_to(ROOT)} is missing: "
                                   "run from a checkout of the repository")
        args.sf_dir = args.sf_dir or testdata_dirs().get("0.1")
        if not args.sf_dir or not Path(args.sf_dir).is_dir():
            raise HarnessFault(f"test data directory {args.sf_dir} is missing")
        build()
        deadline = time.monotonic() + RUN_BUDGET_S
        out = OUT_ROOT / f"{args.workload}-seed{args.seed}-trace{args.trace}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        plan, run, ops, spans = run_harness(args, out, deadline)
        ops = normalise(plan, ops)
        bad = check_outputs(plan, run, out, deadline)
        info = summary(plan, run, ops, len(bad))
        if args.trace:
            metrics = per_layer(plan, run, ops, spans)
        else:
            metrics = end_to_end(run, ops)
    except HarnessFault as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    attempted, failed = counts(plan, run, ops, len(bad))
    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)}
                    for k, v in sorted(metrics.items())},
    }
    config = dict(run["config"], git_commit=run["git_commit"],
                  source_digest=run["source_digest"], heap=HEAP,
                  seconds=args.seconds, workload=args.workload)
    (out / "result.json").write_text(json.dumps(
        {"config": config, "summary": info, "failed_checks": bad, **result},
        indent=1))
    print("config " + json.dumps(config))
    print("summary " + json.dumps(info))
    for b in bad:
        print(f"FAILED CHECK {b}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
