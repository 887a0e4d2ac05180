#!/usr/bin/env python3
"""Catalog benchmark: one workload of SparkEntry.queries in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1> [--scope gate|full]

Run from the root of a checkout. The first run builds the program and
the harness with sbt (perfbench/harness) and caches the build under
.bench_build/. The input is perfbench/data/sf0.1, a byte-identical copy
of the repository's sf0.1 test fixture (seed 42), which graft.Bench
reads by default.

Each run starts one JVM with local[nproc], the graft.Bench session confs
and the Tier-1 heap (half of MemTotal, clamped to 2-8 g). Set-up is
Bench's warmup, a micro parquet write, the PRIMER entries and, when an
entry reads them, the hybrid index build. Then the workload's gate
entries run one at a time in an order shuffled by --seed: the catalog
call plus one parquet write of the result (the timed region). After the
JVM exits, every written result is checked against its DuckDB oracle.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones
(wall_s, entry_geomean_s, setup_s, ok_share); with --trace 1 they are the
per-layer totals of perfbench/ledger.py, and the per-entry ledger is
written to .bench_build/ledger/<workload>-seed<n>.json.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(HERE, "workloads.json")
SF = 0.1
DATA = os.path.join(HERE, "data", f"sf{SF}")
RUN_LIMIT_S = 170  # a gate run, build excluded, ends well inside 180 s
FULL_LIMIT_S = 1500  # a full-membership or whole-catalog ledger run
CHECK_RESERVE_S = 60  # left for JVM shutdown and the output check
# A gate is sized to about --seconds of wall on the reference host; entries
# not started within LIMIT_FACTOR x --seconds of the session start are
# reported as not run (and failed), so a pathological slowdown still ends.
LIMIT_FACTOR = 6
INDEX_READERS = ("hybrid_",)  # entries that read the set-up's indexes
# Catalog entries run untimed at the end of set-up, in this order, in every
# run. They are in no gate. They take the JVM-wide first-use costs (class
# loading and JIT of the driver-local and graph-fixpoint paths, ~2-3 s)
# that a shuffled order would otherwise charge to whichever gate entry ran
# first.
PRIMER = ("bpe_stats", "cc_components")

# the root build.sbt's --add-opens list: Spark on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap() -> str:
    """Tier-1 formula: half of MemTotal in GiB, clamped to 2..8 g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_hash() -> str:
    """Digest of everything the build compiles from."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build() -> tuple[str, str]:
    """(runtime classpath, build id); compiles with sbt when sources changed."""
    bid = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{bid}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), bid
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "classes" not in cp or cp.startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, bid


def java_cmd(cp: str, run_dir: str, args: list[str]) -> list[str]:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap()}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "perfbench.Harness", *args]


def run_java(cmd: list[str], run_dir: str, deadline: float) -> None:
    """Run one harness JVM to completion inside the run's own directory."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_HOME", None)
    with open(os.path.join(run_dir, "jvm.log"), "ab") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness JVM exceeded the run limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM exited with {rc}")


def catalog(cp: str, bid: str) -> list[str]:
    """Every SparkEntry.queries name."""
    path = os.path.join(BUILD, f"catalog-{bid}.txt")
    if not os.path.exists(path):
        d = os.path.join(BUILD, "runs", f"list-{os.getpid()}")
        os.makedirs(d, exist_ok=True)
        run_java(java_cmd(cp, d, ["--list", path + ".tmp"]), d,
                 time.time() + 60)
        os.replace(path + ".tmp", path)
        shutil.rmtree(d, ignore_errors=True)
    with open(path) as f:
        return [ln.strip() for ln in f if ln.strip()]


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def entries_for(workload: str, scope: str, names: list[str],
                spec: dict | None) -> list[str]:
    if workload == "all":
        return sorted(names)
    if spec is None or workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {workload!r}")
    w = spec["workloads"][workload]
    return sorted(w["members"] if scope == "full" else w["gate"])


def shuffled(names: list[str], seed: int) -> list[str]:
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def sink_stats(out_dir: str) -> tuple[int, int]:
    """(bytes, rows) of one written parquet result."""
    import pyarrow.parquet as pq
    size = rows = 0
    if os.path.isdir(out_dir):
        for f in sorted(os.listdir(out_dir)):
            p = os.path.join(out_dir, f)
            if os.path.isfile(p):
                size += os.path.getsize(p)
                if f.endswith(".parquet"):
                    rows += pq.ParquetFile(p).metadata.num_rows
    return size, rows


def check_outputs(result: dict, run_dir: str, data: str,
                  spec: dict | None) -> dict:
    """name -> failure reason (None when the output is correct)."""
    from check import Checker
    chk = Checker(data, os.path.join(BUILD, "oracle", f"sf{SF}"))
    rows = (spec or {}).get("no_oracle_rows", {})
    out = {}
    for e in result["entries"]:
        name = e["name"]
        if not e["ok"]:
            out[name] = f"threw: {e['error']}"
            continue
        try:
            out[name] = chk.check(os.path.join(run_dir, "out", name),
                                  result["oracle"].get(name), rows.get(name))
        except Exception as ex:  # a broken oracle is a failed check
            out[name] = f"check error: {ex}"
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scope", choices=("gate", "full"), default="gate",
                    help="gate: the workload's timed set (default); "
                         "full: every member of the workload")
    a = ap.parse_args(argv)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft",
                                           "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no program to measure: {need} is missing from the checkout")
            return 2
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        log(f"no input tables in {os.path.relpath(DATA, ROOT)}")
        return 2
    spec = load_spec() if os.path.exists(SPEC) else None
    cp, bid = build()
    full = a.workload == "all" or a.scope == "full"
    deadline = time.time() + (FULL_LIMIT_S if full else RUN_LIMIT_S)
    limit_s = FULL_LIMIT_S if full else LIMIT_FACTOR * a.seconds
    limit_s = min(limit_s, deadline - time.time() - CHECK_RESERVE_S)
    names = catalog(cp, bid)
    chosen = entries_for(a.workload, a.scope, names, spec)
    missing = [n for n in chosen if n not in names]
    if missing:
        log(f"entries not in the catalog: {missing}")
        return 2
    order = shuffled(chosen, a.seed)

    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(a, spec, cp, bid, order, run_dir, deadline, limit_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, spec, cp, bid, order, run_dir, deadline, limit_s) -> int:
    order_file = os.path.join(run_dir, "order.txt")
    with open(order_file, "w") as f:
        f.write("\n".join(order) + "\n")
    res_file = os.path.join(run_dir, "result.json")
    index = any(n.startswith(INDEX_READERS) for n in order)
    t_launch = time.time()
    run_java(java_cmd(cp, run_dir, [
        "--data", DATA, "--out", run_dir, "--order", order_file,
        "--cpus", str(cpus()), "--trace", str(a.trace),
        "--index", "1" if index else "0", "--primer", ",".join(PRIMER),
        "--limit", str(limit_s),
        "--result", res_file]), run_dir, deadline)
    with open(res_file) as f:
        result = json.load(f)
    entries = result["entries"]
    setup_s = entries[0]["t0_ms"] / 1e3 - t_launch
    walls = [(e["t2_ms"] - e["t0_ms"]) / 1e3 for e in entries]

    failures = check_outputs(result, run_dir, DATA, spec)
    known = (spec or {}).get("known_failures", {})
    failed = [n for n, why in failures.items() if why and n not in known]
    for n, why in sorted(failures.items()):
        if why:
            log(f"{'known failure' if n in known else 'FAILED'} {n}: {why}")
    fixed = [n for n in order if n in known and not failures.get(n)]
    if fixed:
        log(f"recorded known failures now pass: {fixed}")

    if a.trace == 0:
        metrics = {
            "wall_s": (sum(walls), "s"),
            "entry_geomean_s": (geomean(walls), "s"),
            "setup_s": (setup_s, "s"),
            "ok_share": (1 - len([n for n, w in failures.items() if w])
                         / len(entries), "share"),
        }
        hist = history_file(a.workload, bid)
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps({
                "seed": a.seed, "wall_s": sum(walls), "setup_s": setup_s,
                "entries": len(entries),
                "walls": {e["name"]: w for e, w in zip(entries, walls)},
                "setup": result["setup"]}) + "\n")
        ok = not failed
    else:
        import ledger
        for e in entries:
            e["sink_bytes"], e["sink_rows"] = sink_stats(
                os.path.join(run_dir, "out", e["name"]))
        led = ledger.build(result, cpus())
        tot = led["totals"]
        tot["trace.overhead_s"] = tot["trace.wall_s"] - untraced_wall(
            a.workload, bid, spec, len(entries), tot["trace.wall_s"])
        for err in led["reconcile_errors"]:
            log(f"RECONCILE {err}")
        doc = {"workload": a.workload, "seed": a.seed, "order": order,
               "settings": settings(result), "totals": tot,
               "tolerance": {"abs_ms": ledger.TOL_MS,
                             "share_of_wall": ledger.TOL_SHARE},
               "reconcile_errors": led["reconcile_errors"],
               "failures": {n: w for n, w in failures.items() if w},
               "entries": led["entries"]}
        path = os.path.join(BUILD, "ledger", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        log(f"ledger written to {path}")
        metrics = {k: (tot[k], ledger.LAYER_UNITS[k]) for k in ledger.LAYER_UNITS}
        ok = not failed and not led["reconcile_errors"]
    print(json.dumps({
        "correct": ok, "attempted": len(entries), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


def history_file(workload: str, bid: str) -> str:
    """Untraced runs of one workload on one build of the sources."""
    return os.path.join(BUILD, "history", f"{workload}-{bid}.jsonl")


def untraced_wall(workload: str, bid: str, spec, n: int,
                  fallback: float) -> float:
    """Median untraced wall_s of this workload's earlier runs over the same
    number of entries, on the same build, in this checkout; else the gate's
    median recorded on the reference host."""
    hist = history_file(workload, bid)
    walls = []
    if os.path.exists(hist):
        with open(hist) as f:
            walls = [r["wall_s"] for r in map(json.loads, f)
                     if r["entries"] == n]
    if walls:
        return statistics.median(walls)
    ref = (spec or {}).get("workloads", {}).get(workload, {}).get(
        "gate_untraced_wall_s")
    return ref if ref else fallback


def settings(result: dict) -> dict:
    return {"nproc": cpus(), "master": f"local[{cpus()}]",
            "shuffle_partitions": cpus(), "heap": heap(),
            "sf": SF, "data": os.path.relpath(DATA, ROOT),
            "spark": result.get("spark_version"),
            "java": result.get("java_version"),
            "heap_max_mb": result.get("heap_max_mb")}


if __name__ == "__main__":
    sys.exit(main())
