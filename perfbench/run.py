#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload rec_daily --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (cached by content), makes
the seeded input copy (cached per seed), runs the workload in its own JVM at
local[nproc], checks the lane outputs against the stored oracle, writes the
full artifact under .bench_work/artifacts/ and prints one JSON object as the
last line of stdout. See perfbench/README.md for workloads and metrics.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.01"
ORACLE = BENCH / "oracle" / "sf0.01.json"
PARTS = 4            # row groups per seeded input table
JVM_TIMEOUT_S = 170  # a run must end within 180 s
HEAP = "2g"          # fixed (-Xms = -Xmx): a heap resized after each System.gc() made later passes slower
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------- build

def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties",
             BENCH / "run.py"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def java_cmd(classpath, tmp, *extra):
    # C1 only: under C2 the passes kept getting faster for over a minute, so
    # each run sampled a different point of that warm-up; C1 code reaches its
    # level within the untimed passes.
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", *extra, "-cp", classpath, "perfbench.Harness"])


def jar_dirs(classpath):
    """Class directories on the classpath become jars: the JVM's
    class-data-sharing archive only holds classes loaded from jars."""
    import zipfile
    jars = BUILD / "jars"
    shutil.rmtree(jars, ignore_errors=True)
    jars.mkdir(parents=True)
    out = []
    for i, entry in enumerate(classpath.split(":")):
        d = Path(entry)
        if d.is_dir():
            jar = jars / f"classes-{i}.jar"
            with zipfile.ZipFile(jar, "w") as z:
                for f in sorted(d.rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(d).as_posix())
            entry = str(jar)
        out.append(entry)
    return ":".join(out)


def build():
    """Compiles program + harness with sbt unless the sources are unchanged
    since the last build, then dumps a class-data-sharing archive from one
    set-up-only JVM so every run's JVM starts without re-parsing Spark's
    classes. Returns (classpath, seconds spent)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    fp = h.hexdigest()
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "fingerprint"
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text(), 0.0
    t0 = time.monotonic()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=700)
    marker = str(BENCH / "target")
    cps = [ln.replace("[info] ", "").strip() for ln in proc.stdout.splitlines()
           if marker in ln and ":" in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    classpath = jar_dirs(cps[-1])
    train = BUILD / "train"
    train.mkdir(parents=True, exist_ok=True)
    jsa = BUILD / "app.jsa"
    jsa.unlink(missing_ok=True)
    with open(train / "jvm.log", "w") as log:
        subprocess.run(java_cmd(classpath, train, f"-XX:ArchiveClassesAtExit={jsa}") +
                       ["--workload", "rec_daily", "--input", str(DATA), "--out", str(train),
                        "--seconds", "0", "--setup-only", "1"],
                       stdout=log, stderr=subprocess.STDOUT, timeout=120)
    cp_file.write_text(classpath)
    fp_file.write_text(fp)
    return classpath, time.monotonic() - t0


# ---------------------------------------------------------------- input

def make_input(seed):
    """Seeded copy of the base tables: the same rows, in a row order permuted
    by the seed, each table one file of PARTS row groups (the streaming
    lanes read `events.parquet` as a single file by name). Cached per seed."""
    import numpy as np
    import pyarrow.parquet as pq
    out = WORK / "input" / f"seed-{seed}"
    if (out / "_DONE").exists():
        return out, 0.0
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for src in sorted(DATA.glob("*.parquet")):
        table = pq.read_table(src)
        table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
        pq.write_table(table, out / src.name, row_group_size=-(-table.num_rows // PARTS))
    (out / "_DONE").write_text("")
    return out, time.monotonic() - t0


# ---------------------------------------------------------------- check

def canon(rows, cols):
    """Same canonical form as tools/verify_local.py: columns sorted by name,
    doubles rounded to 9 decimals, rows sorted by their string form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            if isinstance(v, list):
                v = tuple(round(x, 9) if isinstance(x, float) else x for x in v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def digest(con, sql):
    cur = con.execute(sql)
    cols, rows = canon(cur.fetchall(), [d[0] for d in cur.description])
    return {"rows": len(rows), "sha256": hashlib.sha256(repr((cols, rows)).encode()).hexdigest()}


def check_outputs(out_dir, lanes, oracle):
    """Returns {lane: reason} for every checked output that does not match."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for lane in lanes:
        want = oracle.get(lane)
        for kind in ("first", "warm"):
            if not list((out_dir / "check" / kind / lane).glob("*.parquet")):
                continue  # the lane threw; counted from raw.json
            got = digest(con, f"SELECT * FROM '{out_dir}/check/{kind}/{lane}/*.parquet'")
            if got != want:
                bad.setdefault(lane, []).append(
                    f"{kind} pass: {got['rows']} rows, hash {got['sha256'][:12]}")
    return {lane: ("output differs from the stored oracle "
                   f"({oracle[lane]['rows']} rows, hash {oracle[lane]['sha256'][:12]})"
                   if lane in oracle else "no stored oracle result") + ": " + "; ".join(v)
            for lane, v in bad.items()}


# ---------------------------------------------------------------- metrics

def pass_s(p, exclude):
    return sum(l["build_s"] + l["sink_s"] for l in p["lanes"]
               if l["ok"] and l["lane"] not in exclude)


def streaming_figures(batches):
    last = {}
    for b in batches:
        last[b["run"]] = b
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.trigger_ms": sum(b["trigger_ms"] for b in batches),
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "streaming.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
        "streaming.commit_offsets_ms": sum(b["commit_offsets_ms"] for b in batches),
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / 1048576,
    }


SPARK_KEYS = ["jobs", "stages", "tasks", "tasks_failed", "driver_only_s", "task_run_s",
              "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_gc_s"]


def spark_figures(p, nproc, exclude):
    lanes = [l for l in p["lanes"] if l["lane"] not in exclude]
    f = {f"spark.{k}": sum(l.get(k, 0) for l in lanes) for k in SPARK_KEYS}
    wall = sum(l["build_s"] + l["sink_s"] for l in lanes)
    f["spark.slot_use"] = f["spark.task_run_s"] / (wall * nproc) if wall else 0.0
    return f


def med_of(dicts):
    return {k: median([d[k] for d in dicts]) for k in dicts[0]} if dicts else {}


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("slot_use") else "count"


def layer_metrics(raw, exclude):
    nproc = raw["env"]["nproc"]
    cold = [p for p in raw["passes"] if p["kind"] == "cold" and p["traced"]]
    warm = [p for p in raw["passes"] if p["kind"] == "warm" and p["traced"]]
    plain = [p for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    m = {}
    m["queries.build_s"] = median([sum(l["build_s"] for l in p["lanes"]) for p in warm])
    m["queries.sink_s"] = median([sum(l["sink_s"] for l in p["lanes"]) for p in warm])
    m["runtime.stage_build_s"] = median([p["stage_build_s"] for p in cold])
    m["runtime.stage_builds"] = median([p["stage_builds"] for p in cold])
    m.update(med_of([spark_figures(p, nproc, exclude) for p in warm]))
    cold_spark = med_of([spark_figures(p, nproc, exclude) for p in cold])
    for k in ("jobs", "driver_only_s", "task_cpu_s", "slot_use"):
        m[f"cold.spark.{k}"] = cold_spark[f"spark.{k}"]
    m.update(med_of([streaming_figures(p["batches"]) for p in warm]))
    m["jvm.gc_s"] = median([p["gc_s"] for p in warm])
    m.update(raw["layers"])
    m["cache_mb"] = raw["cache_mb"]
    m["trace.overhead_pct"] = 100 * (median([pass_s(p, exclude) for p in warm]) /
                                     median([pass_s(p, exclude) for p in plain]) - 1)
    return m


def rebuild_problems(raw):
    """Cold passes must rebuild every shared stage the first pass built;
    warm passes must build none; cold passes run more jobs than warm ones."""
    first = raw["passes"][0]
    probs = []
    for i, p in enumerate(raw["passes"]):
        if p["kind"] == "cold" and p["stage_builds"] != first["stage_builds"]:
            probs.append(f"pass {i} (cold) built {p['stage_builds']} shared stages, "
                         f"the first pass {first['stage_builds']}")
        if p["kind"] in ("warm", "warmcheck") and p["stage_builds"] != 0:
            probs.append(f"pass {i} (warm) rebuilt {p['stage_builds']} shared stages")
    if first["stage_builds"] > 0:
        cold_jobs = [p["jobs"] for p in raw["passes"] if p["kind"] == "cold"]
        warm_jobs = [p["jobs"] for p in raw["passes"] if p["kind"] == "warm"]
        if min(cold_jobs) <= max(warm_jobs):
            probs.append(f"cold passes ran {cold_jobs} jobs, warm passes {warm_jobs}")
    return probs


# ---------------------------------------------------------------- main

def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", metavar="LANE",
                    help="replace LANE's function with one that throws (self-test)")
    a = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", DATA, ORACLE):
        if not need.exists():
            die(f"missing {need.relative_to(ROOT)}: run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classpath, build_s = build()
    inp, input_s = make_input(a.seed)
    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    out = WORK / "runs" / stamp
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    jsa = BUILD / "app.jsa"
    cmd = (java_cmd(classpath, tmp, *([f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else [])) +
           ["--workload", a.workload, "--input", str(inp), "--out", str(out),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    if a.inject_fault:
        cmd += ["--inject-fault", a.inject_fault]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    t0 = time.monotonic()
    with open(out / "jvm.log", "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"the JVM did not finish within {JVM_TIMEOUT_S} s; log in {out / 'jvm.log'}")
    jvm_s = time.monotonic() - t0
    if proc.returncode != 0 or not (out / "raw.json").exists():
        sys.stderr.write((out / "jvm.log").read_text()[-3000:])
        die(f"the JVM exited with code {proc.returncode}")
    raw = json.loads((out / "raw.json").read_text())

    oracle = json.loads(ORACLE.read_text())
    wrong = check_outputs(out, raw["lanes"], oracle)
    threw = {}
    attempted = failed = 0
    for p in raw["passes"]:
        for l in p["lanes"]:
            attempted += 1
            if not l["ok"]:
                failed += 1
                threw.setdefault(l["lane"], l["error"])
            elif l["lane"] in wrong and p["kind"] in ("first", "warmcheck"):
                failed += 1
    failed_lanes = {**{k: f"threw {v}" for k, v in threw.items()}, **wrong}
    problems = rebuild_problems(raw)
    exclude = set(failed_lanes)

    timed = [p for p in raw["passes"] if not p["traced"]]
    cold = [pass_s(p, exclude) for p in timed if p["kind"] == "cold"]
    warm = [pass_s(p, exclude) for p in timed if p["kind"] == "warm"]
    e2e = {"setup_s": median(raw["setup_s"]), "cold_pass_s": median(cold),
           "warm_pass_s": median(warm)}
    layers = layer_metrics(raw, exclude) if a.trace else {}
    correct = not failed_lanes and not problems

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": git_commit(), "env": raw["env"], "heap": HEAP, "input": "sf0.01",
        "one_time": {"build_s": build_s, "input_gen_s": input_s},
        "jvm_wall_s": jvm_s, "first_setup_s": raw["first_setup_s"],
        "setup_samples_s": raw["setup_s"], "cold_samples_s": cold, "warm_samples_s": warm,
        "passes": raw["passes"], "cache_mb": raw["cache_mb"],
        "end_to_end": e2e, "per_layer": layers,
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "failed_lanes": failed_lanes, "problems": problems,
    }
    adir = WORK / "artifacts"
    adir.mkdir(parents=True, exist_ok=True)
    (adir / f"{stamp}.json").write_text(json.dumps(artifact, indent=1))
    shutil.rmtree(out / "check", ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    for lane, why in failed_lanes.items():
        print(f"FAILED lane {lane}: {why}")
    for prob in problems:
        print(f"PROBLEM {prob}")
    print(f"artifact {adir / (stamp + '.json')}  error_rate {artifact['error_rate']:.4f}  "
          f"cold {len(cold)} warm {len(warm)} passes")
    shown = layers if a.trace else e2e
    metrics = {k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)}
               for k, v in shown.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
