#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 6 --trace 0

Builds the engine and the harness from source on first use (sbt, cached
under perfbench/.build), runs one workload in one driver JVM on
local[<cpus>], checks its outputs, and prints one JSON line: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. See README.md.
"""
import argparse
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from benchlib import spans as spanlib  # noqa: E402
from benchlib import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "operator_digests.json")
DEADLINE_S = 170

# How each workload's throughput is formed: the median of per-operation
# rates (repetitions), or total items over total time (a campaign or pass).
RATE = {"crawl_bulk": "median", "crawl_stream": "total", "operator_suite": "total",
        "graph_fold": "median"}

# operator_suite's queries: a fixed subset of SparkEntry.queries that fits
# the run budget (see README.md): v3 and d16 (targets of ROADMAP items 2
# and 5), g1 (the small-graph redirect engine) and one light query for each
# other family.
SUITE = [
    "c22_cuckoo_gate", "d1_dedup_exact", "d16_containment", "e8_aligned_corpus",
    "g1_redirect_resolve", "k9_lineage_metrics", "m3_thumbnail", "q1_agg",
    "st1_window_agg", "v3_bpe_train",
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Driver heap: half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def cpus():
    """Spark task slots: half the cores this process may run on. The rest
    is left to the JIT compiler, the garbage collector and the driver
    thread, so a run measures the engine rather than contention for cores
    on a shared host."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def source_stamp():
    """Hash of every input of the build: engine and harness sources and
    their build files."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(base, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt once per source state; returns
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine source missing: {need}")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=800, stdin=subprocess.DEVNULL)
        lf.write(r.stdout)
    if r.returncode != 0:
        raise SystemExit(f"build failed (see {os.path.join(BUILD, 'sbt.log')})")
    lines = [l for l in r.stdout.splitlines()
             if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not lines:
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def sweep():
    shutil.rmtree(WORK, ignore_errors=True)


def run_harness(cp, args, budget_s):
    """Run one workload in a driver JVM; returns the raw record."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    raw_path = os.path.join(WORK, "raw.json")
    # the JVM's default collector (G1), as the engine's own sbt runs use;
    # the parallel collector spent ~8% of a crawl_bulk run in pauses, a
    # dozen of them full collections, whose timing varied run to run
    cmd = (["java", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(WORK, "run"), "--out", raw_path,
              "--data", DATA, "--cpus", str(cpus()),
              "--queries", ",".join(SUITE) if args.workload == "operator_suite" else ""])
    log_path = os.path.join(OUT, f"{args.workload}.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{args.workload} did not finish in {budget_s:.0f}s (see {log_path})")
    if rc != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"harness exited {rc} (see {log_path})")
    with open(raw_path) as f:
        return json.load(f)


def suite_checks(raw):
    """operator_suite: digest every query's result as tools/local_verify.py
    canonicalizes it, and compare with the pinned digests (DuckDB's answers
    to the frozen oracle SQL; for a spec-pinned query, the engine output
    pinned when its spec passed)."""
    import duckdb
    from benchlib import digest
    with open(EXPECTED) as f:
        pinned = json.load(f)["digests"]
    con = duckdb.connect()
    bad = {}
    for q in raw["extra"]["queries"]:
        want = pinned.get(q)
        path = os.path.join(raw["extra"]["results_dir"], q, "*.parquet")
        try:
            got = digest.parquet_digest(con, path)
        except Exception as e:  # noqa: BLE001 - any read failure fails the check
            bad[q] = f"unreadable result: {e}"
            continue
        if want is None:
            bad[q] = "no pinned digest"
        elif got["rows"] != want["rows"] or got["sha256"] != want["sha256"]:
            bad[q] = f"digest {got} != pinned {want}"
    con.close()
    return bad


FAMILIES = [("st", "stream"), ("c", "crawl"), ("d", "dedup"), ("e", "composed"),
            ("g", "graph"), ("k", "table"), ("t", "text"), ("v", "text"),
            ("m", "media")]
NAMED_QUERIES = ["v3", "d16"]


def family(q):
    prefix = q.split("_", 1)[0]
    letters = prefix.rstrip("0123456789")
    for p, fam in FAMILIES:
        if letters == p:
            return fam
    return "other"


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(raw, ops, spec_names):
    """Per-layer metrics of a traced run, named as in BENCHMARK.json."""
    out = {}
    spans = raw["spans"]
    grouped = spanlib.by_name(spans)
    op_spans = [s for s in spans if s.get("op") and "stats" in s]
    st = [s["stats"] for s in op_spans]
    wall = sum(x["wall_s"] for x in st)
    n_cpu = raw["cpus"]
    out.update({
        "catalyst.plan_ms": mean(x["analysis_ms"] + x["optimization_ms"] + x["planning_ms"] for x in st),
        "catalyst.analysis_ms": mean(x["analysis_ms"] for x in st),
        "catalyst.optimization_ms": mean(x["optimization_ms"] for x in st),
        "catalyst.planning_ms": mean(x["planning_ms"] for x in st),
        "codegen.compile_ms": mean(x["compile_ms"] for x in st),
        "scheduler.jobs": mean(x["jobs"] for x in st),
        "scheduler.stages": mean(x["stages"] for x in st),
        "scheduler.driver_gap_s": mean(x["driver_gap_s"] for x in st),
        "executor.cpu_s": mean(x["cpu_s"] for x in st),
        "executor.cpu_util": (sum(x["cpu_s"] for x in st) / (wall * n_cpu)) if wall else 0.0,
        "executor.gc_s": mean(x["gc_s"] for x in st),
        "shuffle.write_bytes": mean(x["shuffle_write_bytes"] for x in st),
        "shuffle.read_records": mean(x["shuffle_read_records"] for x in st),
        "shuffle.spill_bytes": mean(x["spill_bytes"] for x in st),
    })
    traced = [o["wall_s"] for o in ops if o["traced"]]
    bare = [o["wall_s"] for o in ops if not o["traced"]]
    if traced and bare:
        out["trace.overhead_ratio"] = stats.median(traced) / stats.median(bare) - 1.0
    # spans of the benchmark's calls into the engine: self time per call,
    # inclusive counters
    for name, items in grouped.items():
        if any(s.get("op") for s, _ in items):
            continue
        out[f"{name}.wall_s"] = mean(t for _, t in items)
        with_stats = [s["stats"] for s, _ in items if "stats" in s]
        if with_stats:
            out[f"{name}.jobs"] = mean(x["jobs"] for x in with_stats)
            out[f"{name}.plan_ms"] = mean(x["analysis_ms"] + x["optimization_ms"] + x["planning_ms"]
                                          for x in with_stats)
            out[f"{name}.shuffle_bytes"] = mean(x["shuffle_write_bytes"] for x in with_stats)
    if raw["workload"] == "operator_suite":
        per_q = {}
        for s in op_spans:
            per_q.setdefault(s["name"][2:], []).append(s["stats"])
        for q, xs in per_q.items():
            short = q.split("_", 1)[0]
            if short in NAMED_QUERIES:
                out[f"q.{short}.wall_s"] = mean(x["wall_s"] for x in xs)
                out[f"q.{short}.jobs"] = mean(x["jobs"] for x in xs)
        fam = {}
        for q, xs in per_q.items():
            fam.setdefault(family(q), 0.0)
            fam[family(q)] += mean(x["wall_s"] for x in xs)
        for f, v in fam.items():
            out[f"queries.{f}.wall_s"] = v
    out.update(raw["layers"])
    # every per-layer metric is printed; a layer this workload does not
    # exercise reads 0
    printed = {k: float(out.get(k) or 0.0) for k in spec_names}
    return printed, out


def op_walls(workload, ops):
    """Wall times of the operations op_p50_s is the median of: one per rep
    or arrival, and one per whole pass of operator_suite (its queries differ
    too much in cost for a median over single queries to be stable)."""
    walls = [o["wall_s"] for o in ops]
    if workload != "operator_suite":
        return walls
    return stats.pass_totals(walls, len(SUITE))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # the deadline starts after the build: a first run may also build
    cp = build()
    sweep()
    try:
        raw = run_harness(cp, args, DEADLINE_S)
        checks = list(raw["checks"])
        ops = raw["ops"]
        if args.workload == "operator_suite":
            bad = suite_checks(raw)
            for q, why in sorted(bad.items()):
                checks.append({"name": f"oracle.{q}", "ok": False, "detail": why})
            for o in ops:
                if o["key"] in bad:
                    o["ok"] = False
    finally:
        sweep()
    log("setup parts: " + json.dumps(raw["setup_parts"]) + " ops: " +
        " ".join(f"{o['wall_s']:.2f}" for o in ops))
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: {c['detail']}")
    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        raw["layers"]["check.failed_frac"] = failed / max(attempted, 1)
        raw["layers"]["driver.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
        vals, every = layer_metrics(raw, ops, names)
        metrics = {k: {"value": vals[k], "unit": units[k]} for k in names}
        walls = [o["wall_s"] for o in ops]
        with open(os.path.join(OUT, f"trace_{args.workload}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "checks": checks,
                       "ops": ops, "spans": raw["spans"], "layers": every,
                       "op_wall_s": {"median": stats.median(walls), "samples": len(walls),
                                     "p90": stats.percentile(walls, 90)},
                       "setup_parts": raw["setup_parts"]}, f, indent=1)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        walls = op_walls(args.workload, ops)
        if RATE[args.workload] == "median":
            rate = stats.median([o["items"] / o["wall_s"] for o in ops])
        else:
            rate = sum(o["items"] for o in ops) / sum(walls)
        vals = {
            "setup_s": raw["setup_s"],
            "op_p50_s": stats.median(walls),
            "items_per_s": rate,
        }
        metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):
            log(e.code)
            sys.exit(2)
        raise
