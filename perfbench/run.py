"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <interactive|refresh> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the program and the
harness from source (once per checkout), makes the inputs from the seed,
starts one JVM that sets up a Spark session, warms up and runs the
workload's closed loop, checks every answer against a computation made
apart from graft, and prints one JSON object as its last line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
with open(os.path.join(HERE, "gen.py"), "rb") as _f:
    # generated inputs are reused across runs, keyed by the generator's code
    INPUTS = os.path.join(WORK, "inputs-" + hashlib.sha256(_f.read()).hexdigest()[:12])

CPUS = len(os.sched_getaffinity(0))
THREADS = min(CPUS, 4)  # Spark local threads, 3 at least (README: Threads)
HEAP = "3g"          # fixed (-Xms = -Xmx): no heap resizing, steadier peak RSS
# the collector and JIT settings that keep CPU time per op steady (README: JVM)
JVM_FLAGS = ["-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
             "-XX:-UseDynamicNumberOfCompilerThreads"]
REFRESH_ROUNDS = 2
REFRESH_WARM_ROUNDS = 1
# rounds of query texts planned per run; the loop runs whole rounds until
# --seconds have passed and at least INTERACTIVE_MIN_ROUNDS are done, and
# ends early when the plan runs out (README: Time budget)
INTERACTIVE_ROUNDS = 60
INTERACTIVE_MIN_ROUNDS = 1
JVM_TIMEOUT = 170

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -------------------------------------------------------------- build


def _sources():
    files = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                 os.path.join(ROOT, "project")]:
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".properties", ".sbt"))]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    h = hashlib.sha256()
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds program + harness with sbt when the sources changed; returns
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala")):
        die("no graft sources here: run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = _sources(), os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                           timeout=840)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


# ------------------------------------------------------------ the JVM


def launch(cp, conf, ops, run_dir, stages=()):
    """Writes the plan, runs the harness to its end; returns the launch
    time (epoch seconds)."""
    os.makedirs(run_dir, exist_ok=True)
    local_dir = os.path.join(run_dir, "spark")
    os.makedirs(local_dir, exist_ok=True)
    plan = os.path.join(run_dir, "plan.tsv")
    with open(plan, "w") as f:
        for k, v in dict(conf, threads=THREADS, local_dir=local_dir).items():
            f.write(f"conf\t{k}\t{v}\n")
        for k, d in stages:
            f.write(f"stage\t{k}\t{d}\n")
        for kind, rnd, name, text in ops:
            assert "\t" not in text and "\n" not in text
            f.write(f"{kind}\t{rnd}\t{name}\t{text}\n")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={local_dir}"] + JVM_FLAGS
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", plan, run_dir]
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness timed out, see {run_dir}/jvm.log")
    if rc != 0:
        die(f"harness exited {rc}, see {run_dir}/jvm.log")
    return t0


def setup_s(run_dir, t0):
    with open(os.path.join(run_dir, "ready_ms")) as f:
        return int(f.read()) / 1000.0 - t0


def run_all(cp, conf, ops, run_dir, stages=()):
    """Runs the measured process; returns (set-up seconds, its run dir).
    One set-up per run: see "Time budget" in README.md."""
    d = os.path.join(run_dir, "main")
    return setup_s(d, launch(cp, conf, ops, d, stages)), d


def records(d):
    with open(os.path.join(d, "ops.jsonl")) as f:
        recs = [json.loads(ln) for ln in f]
    with open(os.path.join(d, "summary.json")) as f:
        return recs, json.load(f)


# ---------------------------------------------------------- workloads


def _rounds(seed, stream, fn, n):
    rng = np.random.default_rng([seed, stream])
    return [fn(rng) for _ in range(n)]


def interactive(cp, a, run_dir, plant):
    """A round is one instance of every Spark template and then the doc
    query set, named `doc.<query>`."""
    import expected as E
    data = gen.tables(os.path.join(INPUTS, "tables"))
    path = os.path.join(INPUTS, f"cold-seed{a.seed}.json")
    document = gen.cold_doc(path, a.seed)

    def plan(seed, n):
        return list(zip(_rounds(seed, 1, W.interactive_round, n),
                        _rounds(seed, 3, W.doc_round, n)))
    ops = [("warm", 0, name, text) for name, text in _texts(plan(10_000 + a.seed, 1)[0])]
    rounds = plan(a.seed, INTERACTIVE_ROUNDS)
    ops += [("op", r, name, text) for r, rnd in enumerate(rounds) for name, text in _texts(rnd)]
    # a traced run traces every second round, so it needs two at least
    conf = dict(workload="interactive", data=data, doc=path, seconds=a.seconds, trace=a.trace,
                min_rounds=max(INTERACTIVE_MIN_ROUNDS, 2 * a.trace))
    setup, d = run_all(cp, conf, ops, run_dir)
    recs, summary = records(d)
    twin = E.Interactive(data)
    by_round = [{**{t.name: (t, sql) for t, _, sql in spark},
                 **{"doc." + name: (fn, p) for name, _, fn, p in doc}} for spark, doc in rounds]
    wrong, planted = 0, set()
    for rec in recs:
        if not rec["ok"]:
            continue
        is_doc = rec["name"].startswith("doc.")
        x, y = by_round[rec["round"]][rec["name"]]
        if is_doc:
            want = E.doc_answer(document, x, y)
        else:
            want = twin.answer(y)
        if plant and is_doc not in planted:
            # self-test: the first op of each kind gets a wrong expected answer
            planted.add(is_doc)
            want = [want, want] if is_doc else want[1:] if len(want) > 1 else want + want
        if not (E.doc_check(rec["answer"], want) if is_doc
                else twin.check(rec["answer"], want, x.ordered)):
            rec["ok"] = False
            rec["err"] = "wrong answer"
            wrong += 1
    return loop_metrics(recs, summary, setup), recs, summary, wrong


def _texts(rnd):
    spark, doc = rnd
    return ([(t.name, text) for t, text, _ in spark] +
            [("doc." + name, text) for name, text, _, _ in doc])


def refresh(cp, a, run_dir, plant):
    import expected as E
    stages = gen.corpus(os.path.join(INPUTS, f"corpus-seed{a.seed}"), a.seed, REFRESH_ROUNDS)
    live, out = os.path.join(run_dir, "live"), os.path.join(run_dir, "out")
    conf = dict(workload="refresh", seconds=a.seconds, trace=a.trace, rounds=REFRESH_ROUNDS,
                warm_rounds=REFRESH_WARM_ROUNDS,
                live=live, warm=os.path.join(run_dir, "warm"), out=out,
                parts=THREADS, pack_budget=W.PACK_BUDGET)
    ops = [("text", 0, n, t) for n, t in W.REFRESH.items()]
    setup, d = run_all(cp, conf, ops, run_dir, list(enumerate(stages)))
    recs, summary = records(d)
    twin = E.Refresh(stages)
    wrong = 0
    for i, rec in enumerate(recs):
        if not rec["ok"]:
            continue
        if not twin.check(rec["round"], rec["name"],
                          os.path.join(out, f"r{rec['round']}", rec["name"]),
                          plant=plant and i == 0):
            rec["ok"] = False
            rec["err"] = "wrong answer"
            wrong += 1
    return refresh_metrics(recs, summary, setup), recs, summary, wrong


# ------------------------------------------------------------ metrics


def loop_metrics(recs, summary, setup):
    ok = [r for r in recs if r["ok"] and not r["traced"]]
    return {
        "setup_s": setup,
        "cpu_s_per_op": sum(r["cpu_s"] for r in ok) / len(ok),
        "peak_rss_mb": summary["peak_rss_mb"],
        "op.wall_p50_ms": 1000 * statistics.median(r["wall_s"] for r in ok),
    }


def per_pipeline(recs, key, traced=False):
    """name -> median of `key` over the rounds where the pipeline succeeded."""
    by = {}
    for r in recs:
        if r["ok"] and r["traced"] == traced:
            by.setdefault(r["name"], []).append(r[key])
    return {n: statistics.median(v) for n, v in by.items()}


def refresh_metrics(recs, summary, setup):
    return {
        "setup_s": setup,
        "cpu_s_per_op": statistics.mean(per_pipeline(recs, "cpu_s").values()),
        "peak_rss_mb": summary["peak_rss_mb"],
        "op.wall_p50_ms": 1000 * statistics.median(per_pipeline(recs, "wall_s").values()),
    }


# per-layer metrics and their units; those in LAYER_MEAN are means per
# traced op, the rest are described where layer_metrics computes them
PER_LAYER = {
    "parse.ms": "ms", "lower.ms": "ms", "lower.planned_ratio": "ratio",
    "lower.plan_nodes": "count", "resolve.ms": "ms", "resolve.calls": "count",
    "resolve.jobs": "count", "plantime.jobs": "count", "plantime.ms": "ms", "build.ms": "ms",
    "rung.relational": "count", "rung.rowwise": "count", "rung.document": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "plan.exchanges": "count", "plan.windows": "count",
    "plan.single_partition": "count", "plan.bnlj": "count", "plan.aqe_rereads": "count",
    "exec.ms": "ms", "exec.tasks": "count", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    **{f"pipeline.{n}.ms": "ms" for n in W.REFRESH_PIPELINES},
    "rowwise.rows_evaluated": "count", "rowwise.rows_dropped": "count",
    "doc.json_parse_ms": "ms", "doc.compile_ms": "ms", "doc.eval_ms": "ms",
    "doc.render_ms": "ms", "storage.cached_entries": "count", "storage.cached_mb": "MB",
    "write.ms": "ms", "write.mb": "MB", "shuffle_mb_per_op": "MB",
    "op.wall_p50_ms": "ms", "trace.overhead_pct": "%",
}
LAYER_MEAN = [k for k in PER_LAYER if not k.startswith(
    ("rung.", "pipeline.", "write.", "trace.", "lower.planned_ratio", "shuffle_mb_per_op", "op."))]


def layer_metrics(workload, recs, summary, e2e):
    traced = [r for r in recs if r["traced"]]
    ok = [r for r in traced if r["ok"]]
    m = {"op.wall_p50_ms": e2e["op.wall_p50_ms"]}
    doc_ops = [r for r in ok if r["name"].startswith("doc.")]
    spark_ops = [r for r in ok if not r["name"].startswith("doc.")]
    for k in LAYER_MEAN:
        # a layer's mean is over the ops that pass through it
        pool = ok if k == "parse.ms" else doc_ops if k.startswith("doc.") else spark_ops
        vals = [r["layers"].get(k, 0.0) for r in pool]
        m[k] = statistics.mean(vals) if vals else 0.0
    att = sum(r["layers"].get("lower.attempts", 0) for r in traced)
    m["lower.planned_ratio"] = sum(r["layers"].get("lower.planned", 0) for r in traced) / att \
        if att else 0.0
    n_rounds = len({r["round"] for r in traced}) or 1
    for rung in ["relational", "rowwise", "document"]:
        m[f"rung.{rung}"] = sum(r["layers"].get(f"rung.{rung}", 0) for r in traced) / n_rounds
    pipes = per_pipeline(recs, "wall_s", traced=True)
    for n in W.REFRESH_PIPELINES:
        m[f"pipeline.{n}.ms"] = pipes.get(n, 0.0) * 1000
    rounds = summary.get("rounds", [])
    m["write.ms"] = statistics.median([x["write_s"] * 1000 for x in rounds]) if rounds else 0.0
    m["write.mb"] = statistics.median([x["write_mb"] for x in rounds]) if rounds else 0.0
    untraced = [r for r in recs if r["ok"] and not r["traced"]]
    if workload == "refresh":
        sh = per_pipeline(recs, "shuffle_mb")
        m["shuffle_mb_per_op"] = statistics.mean(sh.values()) if sh else 0.0
    else:
        m["shuffle_mb_per_op"] = statistics.mean(r["shuffle_mb"] for r in untraced) \
            if untraced else 0.0
    t_med = per_pipeline(recs, "wall_s", traced=True)
    u_med = per_pipeline(recs, "wall_s", traced=False)
    common = sorted(set(t_med) & set(u_med))
    m["trace.overhead_pct"] = 100.0 * (sum(t_med[n] for n in common) /
                                       sum(u_med[n] for n in common) - 1) if common else 0.0
    return m


# --------------------------------------------------------------- main


def run_one(cp, workload, a):
    """One run of one workload; prints its failures and steal share and
    returns the result object."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    fn = {"interactive": interactive, "refresh": refresh}[workload]
    st0, tot0 = cpu_ticks()
    e2e, recs, summary, wrong = fn(cp, a, run_dir, a.plant_wrong)
    st1, tot1 = cpu_ticks()
    # share of CPU time the host took away during the run: its load context
    print(f"steal_share: {(st1 - st0) / max(tot1 - tot0, 1):.3f}")
    if a.trace:
        layers = layer_metrics(workload, recs, summary, e2e)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    for name, err in sorted({(r["name"], r["err"]) for r in recs if not r["ok"]}):
        print(f"failed: {name}: {err}")
    return {"correct": wrong == 0, "attempted": len(recs),
            "failed": sum(1 for r in recs if not r["ok"]), "metrics": metrics}


def main():
    if THREADS < 3:
        die(f"{CPUS} CPU(s) available; the benchmark needs 3 or more (README: Threads)")
    ap = argparse.ArgumentParser(description="graft benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "refresh", "all"],
                    help="all: run both in turn, one result line each")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="self-test: corrupt an expected answer (interactive: the "
                         "first Spark op's and the first doc op's; refresh: clean's in round 1)")
    a = ap.parse_args()
    cp = classpath()
    if a.workload != "all":
        print(json.dumps(run_one(cp, a.workload, a)))
        return
    for w in ["interactive", "refresh"]:
        print(f"{w}: {json.dumps(run_one(cp, w, a))}")


if __name__ == "__main__":
    main()
