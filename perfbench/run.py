#!/usr/bin/env python3
"""Benchmark runner: builds the engine with this directory's sbt project,
prepares a workload's inputs, runs it in one JVM and prints one JSON
line of metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload cid_etl|curation \
      --seed N --seconds S --trace 0|1

Everything it writes goes under perfbench/work/ and the sbt target/
directories. See README.md for the workloads, the metrics and how to
read the trace artifact.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time
from statistics import median

import metrics

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORK = HERE / "work"
DEADLINE_S = 170  # the JVM is killed past this, so the run ends in time
# Cold session set-ups measured in JVMs of their own before the run's
# JVM, which measures one more; setup_s is the median of them all.
SETUP_JVMS = 2

# Each workload: the scale factor of the tables it reads and the
# queries of one pass. The sizes keep a run, cold pass included, near
# 30-45 s on 4 cores, since a workload is judged over tens of runs;
# README.md gives the costs that set them.
WORKLOADS = {
    "cid_etl": (None, []),
    "curation": (0.005, [
        "q42_minhash_signatures", "q44_simhash", "q115_containment_dedup",
        "q121_near_dup_components", "q124_cosine_topk_indexed"]),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    if not ENGINE_SRC.is_dir():
        raise BenchError(f"engine sources not found at {ENGINE_SRC}")
    sources = list(ENGINE_SRC.rglob("*.scala")) + \
        list((HERE / "src").rglob("*.scala")) + \
        [ROOT / "build.sbt", HERE / "build.sbt",
         HERE / "project" / "build.properties"]
    stamp = digest(sources)
    cp_file = HERE / "target" / "classpath.txt"
    stamp_file = WORK / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(WORK / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "writeClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not cp_file.exists():
        raise BenchError(f"sbt build failed, see {WORK / 'build.log'}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), stamp


def java(cp, args, log_path, timeout):
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens",
                                                     f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main", *args]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as out:
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=WORK)
        try:
            rc = proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out, see {log_path}")
    if rc != 0:
        raise BenchError(f"JVM exited {rc}, see {log_path}")


def cores():
    return len(os.sched_getaffinity(0))


def prepare_tables(cp, stamp, sf, queries):
    """Fixed tables at scale `sf` and the oracle's expected result hashes
    for `queries`, made once per checkout and reused."""
    gen = HERE / "gen_tables.py"
    tables = WORK / f"tables-sf{sf:g}-{digest([gen])}"
    if not (tables / "done").exists():
        log(f"generating tables at sf{sf:g}")
        tmp = tables.with_name(tables.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(sf), str(tmp)],
                       check=True, stdin=subprocess.DEVNULL, timeout=600)
        (tmp / "done").write_text("")
        shutil.rmtree(tables, ignore_errors=True)
        tmp.rename(tables)

    names = ",".join(queries)
    names_key = hashlib.sha256(names.encode()).hexdigest()[:12]
    sql_file = WORK / f"oracle-sql-{stamp}-{names_key}.json"
    if not sql_file.exists():
        java(cp, ["oracle-sql", "--queries", names, "--out", str(sql_file)],
             WORK / "oracle-sql.log", 300)
    sql = json.loads(sql_file.read_text())
    key = hashlib.sha256((tables.name + json.dumps(sql, sort_keys=True))
                         .encode()).hexdigest()[:16]
    expected = WORK / f"expected-{key}.json"
    if not expected.exists():
        log("running the DuckDB oracle")
        import duckdb
        out = WORK / f"oracle-{key}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        con = duckdb.connect()
        con.execute(f"SET threads={cores()}")
        con.execute("SET memory_limit='3GB'")
        con.execute(f"SET temp_directory='{WORK / 'tmp' / 'duckdb'}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}.parquet')")
        for n in queries:
            con.execute(f"COPY ({sql[n]}) TO '{out}/{n}.parquet' "
                        "(FORMAT PARQUET)")
        con.close()
        java(cp, ["hash", "--dir", str(out), "--queries", names,
                  "--out", str(expected), "--cores", str(cores()),
                  "--work", str(WORK / "hash")], WORK / "hash.log", 600)
    return tables, expected


def reduce(raw, workload, trace):
    """The metrics line for one run."""
    ops = raw["ops"]
    warm_passes = [p for p in raw["passes"] if p["pass"] > 0]
    if not warm_passes:
        raise BenchError("no warm pass completed")
    first = [p for p in raw["passes"] if p["pass"] == 0][0]
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            log(f"FAILED {o['name']} pass {o['pass']}: {o['error']}")
    # Untraced passes only: a traced run alternates traced and bare
    # passes, and the end-to-end figures must not include tracing.
    bare = [p for p in warm_passes if not p["traced"]]
    bare_ids = {p["pass"] for p in bare}
    warm_ops = [o for o in ops if o["pass"] in bare_ids]
    by_op = {}
    for o in warm_ops:
        by_op.setdefault(o["name"], []).append(o["seconds"])
    # Too few ops in one run for a percentile with ten samples beyond
    # it on cid_etl and curation: the tail goes to the summary only.
    lat = [o["seconds"] for o in warm_ops]
    op_tail = None
    if len(lat) > 10:
        v, pct, n = metrics.tail(lat)
        op_tail = {"op_tail_s": v, "percentile": pct, "samples": n}
    e2e = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "first_pass_s": (first["seconds"], "s"),
        "pass_s": (median([p["seconds"] for p in bare]), "s"),
        "query_geomean_s": (metrics.geomean(
            [median(v) for v in by_op.values()]), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    summary = {"workload": workload, "cores": raw["cores"],
               "setup_samples_s": raw["setup_s"],
               "passes": raw["passes"], "op_tail": op_tail,
               "failed_frac": failed / len(ops),
               "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    if trace:
        layers, artifact = trace_metrics(raw)
        summary.update(artifact)
        out = layers
    else:
        out = e2e
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in out.items()}}, summary


# Every engine package directory, the root package ("graft"), the
# benchmark's own files ("bench") and "other", which also takes the
# jobs of any module not listed, so the counts add up to all jobs.
MODULES = ["sources", "operators", "etl", "sinks", "queries", "functions",
           "multimodal", "plans", "streaming", "graft", "bench", "other"]


def trace_metrics(raw):
    """Per-layer metrics from the traced warm passes (median over them),
    and the trace artifact: per traced pass, the task-busy intervals,
    the no-task time, jobs by module, and per op its phase times, its
    jobs by phase and the planning time of its actions."""
    fields = raw["task_fields"]
    fmods = metrics.file_modules(str(p) for p in ENGINE_SRC.rglob("*.scala"))
    bench_files = {p.name for p in (HERE / "src").rglob("*.scala")}
    passes = {p["pass"]: p for p in raw["passes"]}
    ops = raw["ops"]
    per_pass = []
    artifact_passes = []
    for tr in raw["trace"]:
        p = passes[tr["pass"]]
        lo, hi = p["startMs"], p["endMs"]
        tasks = [dict(zip(fields, t)) for t in tr["tasks"]]
        busy = metrics.busy_intervals(
            [(t["launch_ms"], t["finish_ms"]) for t in tasks], lo, hi)
        no_task = metrics.no_task_time(
            [(t["launch_ms"], t["finish_ms"]) for t in tasks], lo, hi) / 1e3
        wall = (hi - lo) / 1e3
        mods = metrics.jobs_by_module(
            [(metrics.module_of(j["call_site"], fmods, bench_files),
              (j["end_ms"] - j["submit_ms"]) / 1e3) for j in tr["jobs"]],
            MODULES)
        op_jobs = {}
        for j in tr["jobs"]:
            op_jobs.setdefault(j["op"], {}).setdefault(j["phase"], 0)
            op_jobs[j["op"]][j["phase"]] += 1
        pops = [o for o in ops if o["pass"] == tr["pass"]]
        op_plan = {}
        for a in tr["actions"]:
            o = next((o for o in pops
                      if o["startMs"] <= a["start_ms"] <= o["endMs"]), None)
            if o is not None:
                d = op_plan.setdefault(o["name"], [0.0, 0.0, 0.0])
                d[0] += a["analysis_s"]
                d[1] += a["optimization_s"]
                d[2] += a["planning_s"]
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        mb = 1 << 20
        v = {
            "queries.build_s": sum(o["buildS"] for o in pops),
            "queries.build_jobs": sum(j.get("build", 0)
                                      for j in op_jobs.values()),
            "queries.plan_s": sum(o["planS"] for o in pops),
            "spark.plan.analysis_s": sum(a["analysis_s"]
                                         for a in tr["actions"]),
            "spark.plan.optimization_s": sum(a["optimization_s"]
                                             for a in tr["actions"]),
            "spark.plan.planning_s": sum(a["planning_s"]
                                         for a in tr["actions"]),
            "spark.sched.jobs": len(tr["jobs"]),
            "spark.sched.stages": sum(j["stages"] for j in tr["jobs"]),
            "spark.sched.tasks": len(tasks),
            "spark.sched.no_task_s": no_task,
            "spark.exec.task_run_s": run_s,
            "spark.exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spark.exec.core_busy_frac": run_s / (wall * raw["cores"]),
            "spark.shuffle.write_mb": sum(t["shuffle_write_b"]
                                          for t in tasks) / mb,
            "spark.shuffle.read_mb": sum(t["shuffle_read_b"]
                                         for t in tasks) / mb,
            "spark.shuffle.fetch_wait_s": sum(t["fetch_wait_ms"]
                                              for t in tasks) / 1e3,
            "spark.spill_mb": sum(t["spill_b"] for t in tasks) / mb,
            "spark.scan.input_mb": sum(t["input_b"] for t in tasks) / mb,
            "spark.scan.records": sum(t["input_records"] for t in tasks),
            "spark.output_mb": sum(t["output_b"] for t in tasks) / mb,
            "spark.tasks_failed": sum(t["failed"] for t in tasks),
            "spark.codegen.compiles": sum(o["compiles"] for o in pops),
            "jvm.gc_s": sum(o["gcS"] for o in pops),
            "jvm.cpu_s": sum(o["cpuS"] for o in pops),
        }
        for m in MODULES:
            v[f"{m}.jobs"] = mods[m][0]
            v[f"{m}.job_s"] = mods[m][1]
        if tr["pass"] > 0:
            per_pass.append(v)
        artifact_passes.append({
            "pass": tr["pass"], "pass_s": p["seconds"], "wall_s": wall,
            "no_task_s": no_task, "no_task_frac": no_task / wall,
            "busy_intervals_ms": [[a - lo, b - lo] for a, b in busy],
            "jobs_by_module": {m: {"jobs": n, "job_s": s}
                               for m, (n, s) in mods.items()},
            "ops": [{"name": o["name"], "seconds": o["seconds"],
                     "build_s": o["buildS"], "plan_s": o["planS"],
                     "exec_s": o["execS"], "rows": o["rows"], "ok": o["ok"],
                     "codegen_compiles": o["compiles"],
                     "jvm_gc_s": o["gcS"], "jvm_cpu_s": o["cpuS"],
                     "jobs_by_phase": op_jobs.get(o["name"], {}),
                     "analysis_optimization_planning_s":
                         op_plan.get(o["name"], [0.0, 0.0, 0.0])}
                    for o in pops],
            "layers": v})
    if not per_pass:
        raise BenchError("no traced warm pass completed")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "records": "count", "tasks_failed": "count", "frac": "ratio",
             "build_jobs": "count", "compiles": "count"}
    layers = {}
    for k in per_pass[0]:
        suffix = k.rsplit(".", 1)[1]
        unit = units.get(suffix, "MB" if suffix.endswith("_mb") else
                         "ratio" if suffix.endswith("_frac") else "s")
        layers[k] = (median([v[k] for v in per_pass]), unit)
    # The traced run alternates bare and traced warm passes, starting
    # and ending bare, so it measures its own tracing overhead.
    warm = [p for p in raw["passes"] if p["pass"] > 0]
    traced = [p["seconds"] for p in warm if p["traced"]]
    bare = [p["seconds"] for p in warm if not p["traced"]]
    overhead = median(traced) / median(bare) - 1
    layers["trace.pass_s"] = (median(traced), "s")
    layers["trace.overhead_frac"] = (overhead, "ratio")
    return layers, {"trace_passes": artifact_passes,
                    "tracing_overhead": {"traced_pass_s": traced,
                                         "bare_pass_s": bare,
                                         "overhead_frac": overhead}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    WORK.mkdir(parents=True, exist_ok=True)
    try:
        cp, stamp = build()
        run_dir = WORK / f"run-{a.workload}-{a.seed}-{a.trace}"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores()),
                "--work", str(run_dir), "--out", str(run_dir / "raw.json")]
        if a.workload == "cid_etl":
            cid = run_dir / "cid"
            subprocess.run([sys.executable, str(HERE / "gen_cid.py"),
                            str(a.seed), str(cid)], check=True,
                           stdin=subprocess.DEVNULL, timeout=120)
            args += ["--cid", str(cid)]
        else:
            sf, queries = WORKLOADS[a.workload]
            tables, expected = prepare_tables(cp, stamp, sf, queries)
            args += ["--data", str(tables), "--expected", str(expected),
                     "--queries", ",".join(queries)]
        setups = []
        for i in range(SETUP_JVMS):
            out = run_dir / f"setup-{i}.json"
            java(cp, ["setup", "--cores", str(cores()), "--work",
                      str(run_dir), "--out", str(out)],
                 run_dir / f"setup-{i}.log", 25)
            setups.append(json.loads(out.read_text())["setup_s"])
        # A first run in a checkout also builds and prepares inputs, and
        # may take longer; the JVM always gets two minutes at least.
        java(cp, args, run_dir / "jvm.log",
             max(120, DEADLINE_S - (time.monotonic() - t0)))
        raw = json.loads((run_dir / "raw.json").read_text())
        raw["setup_s"] = setups + [raw["setup_s"]]
        line, summary = reduce(raw, a.workload, a.trace == 1)
        summary["seed"] = a.seed
        (WORK / f"summary-{a.workload}-{a.seed}-{a.trace}.json").write_text(
            json.dumps(summary, indent=1))
        for f in run_dir.iterdir():
            if f.name not in ("raw.json", "jvm.log"):
                shutil.rmtree(f) if f.is_dir() else f.unlink()
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
