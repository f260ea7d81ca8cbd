#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`, offline sbt), generates the registry tables
and computes their DuckDB oracle answers; later runs reuse all three from
`perfbench/.state/`. Each run starts one harness JVM (`local[nproc]`, heap
sized as the test tier sizes SPARK_DRIVER_MEM), which sets the workload up,
runs closed-loop ops for `--seconds`, and checks every op's output. This
script finishes the checks that need DuckDB, prints every metric by name
and unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Any failed op makes the exit code 1; the metrics still
print. A checkout without the engine's sources exits 2 without a result.
"""
import argparse
import csv
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["catalog_serve", "registry"]
TABLES_SF = 0.01
TABLES_SEED = 20240101
RUN_LIMIT_S = 170

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "p90_ms": "ms"}

PER_LAYER = {
    "session.start_s": "s", "driver.define_ms": "ms",
    "fs.files_read": "count", "fs.bytes_read": "B",
    "plan.analyze_ms": "ms", "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "plan.aqe_updates": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_ms": "ms", "sched.task_wait_ms": "ms",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_ms": "ms",
    "mem.spill_mb": "MB", "mem.peak_exec_mb": "MB", "jvm.heap_peak_mb": "MB",
    "cache.blocks_put": "count", "cache.mem_peak_mb": "MB", "cache.duplicate_puts": "count",
    "op.scan_rows": "count", "op.exchange_mb": "MB", "op.join_rows": "count",
    "op.agg_rows": "count", "op.window_rows": "count", "op.sort_spill_mb": "MB",
    "op.rows_examined_per_result": "ratio",
    "sources.json_zip_ms": "ms", "domain.frame_solver_ms": "ms",
    "sink.write_s.frames": "s", "sink.write_s.frames_bursts": "s",
    "sink.write_s.burst_id_map": "s", "sink.write_s.fetch_bursts": "s",
    "sink.bytes_per_input_byte": "ratio",
    "build.wall_s": "s", "build.exec_run_s": "s", "build.core_util": "ratio",
    "build.jobs": "count",
    "self_ms.op": "ms", "self_ms.driver.define": "ms", "self_ms.registry.build": "ms",
    "self_ms.registry.execute": "ms", "self_ms.sql.execution": "ms",
    "self_ms.plan.analysis": "ms", "self_ms.plan.optimization": "ms",
    "self_ms.plan.planning": "ms", "self_ms.stages": "ms",
    "trace.overhead_pct": "%", "trace.accounted_pct": "%", "trace.accounted_min_pct": "%",
    "trace.ops": "count",
}

JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout and
    always waits for it, so nothing the command started outlives it."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s != "target" and s != "project")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(cp, work, *args):
    mem = 2
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        mem = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        pass
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{mem}g", "-XX:-UsePerfData", *opens, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
             "-cp", cp, "perfbench.Harness", *args])


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = source_hash()
    bdir = os.path.join(STATE, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp}.txt")
    sql_file = os.path.join(bdir, f"oracle-sql-{stamp}.json")
    if os.path.exists(cp_file) and os.path.exists(sql_file):
        with open(cp_file) as f:
            return f.read().strip(), sql_file
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", " ".join(opts))
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, log, 800, env)
    if rc != 0:
        die(f"build failed (sbt exit {rc}):\n{tail(log)}", 1)
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if "scala-2.13/classes" in l and ":" in l
                 and not l.startswith("[")]
    if not lines:
        die(f"build printed no classpath:\n{tail(log)}", 1)
    cp = lines[-1]
    rc = run_proc(java_cmd(cp, bdir, "oracle-sql", sql_file), bdir, log, 120)
    if rc != 0:
        die(f"oracle SQL export failed:\n{tail(log)}", 1)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, sql_file


def registry_tables():
    d = os.path.join(STATE, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(tmp, TABLES_SF, TABLES_SEED)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ----------------------------------------------------------------- serve checks

def _micros(t):
    """Epoch microseconds of a naive UTC datetime or an ISO-8601 string."""
    if isinstance(t, str):
        t = datetime.datetime.fromisoformat(t.replace("Z", "+00:00"))
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return int((t - datetime.datetime(1970, 1, 1)) / datetime.timedelta(microseconds=1))


def check_serve(result):
    """Checks lookup and fetch responses against DuckDB over the persisted
    catalog and fact table, and the frame-to-burst zip document the fetches
    read against the catalog's own frame-burst join; returns {id: failure}."""
    inputs = result["stamp"]["inputs"]
    cat, facts = inputs["catalog"], inputs["facts"]
    con = oracle.connect()
    for t in ("frames", "frames_bursts", "burst_id_map"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cat}/{t}/*.parquet'")
    con.execute(f"CREATE VIEW facts AS SELECT * FROM '{facts}/*.parquet'")
    failures = {}
    joined = {str(f): sorted(ids) for f, ids in con.execute(
        """SELECT fb.frame_fid, list(DISTINCT b.burst_id_jpl)
           FROM frames_bursts fb JOIN burst_id_map b ON fb.burst_ogc_fid = b.OGC_FID
           GROUP BY fb.frame_fid""").fetchall()}
    with zipfile.ZipFile(inputs["frame_to_burst_zip"]) as z:
        doc = json.loads(z.read(z.namelist()[0]))["data"]
    if {f: sorted(set(v["burst_ids"])) for f, v in doc.items()} != joined:
        # the zip is written at set-up, so its set-up create takes the blame
        setup = [o["id"] for o in result["ops"] if o["id"].startswith("setup-")]
        failures[setup[-1]] = "frame-to-burst zip differs from frames_bursts x burst_id_map"
    for op in result["ops"]:
        if op["failure"] or op["threw"]:
            continue
        req, kind = op["request"], op["kind"]
        if kind == "lookup":
            rows = con.execute(
                """SELECT f.fid, f.epsg, f.is_land, f.is_north_america, f.orbit_pass,
                          f.relative_orbit_number, f.xmin, f.ymin, f.xmax, f.ymax,
                          list_sort(list(b.burst_id_jpl)) AS burst_ids
                   FROM frames f JOIN frames_bursts fb ON f.fid = fb.frame_fid
                   JOIN burst_id_map b ON fb.burst_ogc_fid = b.OGC_FID
                   WHERE f.fid = ? GROUP BY ALL""", [req["fid"]])
            cols = [d[0] for d in rows.description]
            want = [dict(zip(cols, r)) for r in rows.fetchall()]
            got = [json.loads(l) for l in op["lines"]]
            if got != want:
                failures[op["id"]] = f"lookup {req['fid']}: {got[:1]} != {want[:1]}"
        elif kind in ("fetch_granules", "fetch_bursts"):
            ids = [r[0] for r in con.execute(
                """SELECT DISTINCT b.burst_id_jpl FROM frames_bursts fb
                   JOIN burst_id_map b ON fb.burst_ogc_fid = b.OGC_FID
                   WHERE list_contains(?, fb.frame_fid)""", [req["fids"]]).fetchall()]
            where = """FROM facts WHERE sensing_time >= CAST(? AS TIMESTAMP)
                       AND sensing_time <= CAST(? AS TIMESTAMP)
                       AND list_contains(?, burst_id_jpl)"""
            args = [req["start"], req["end"], ids]
            if kind == "fetch_granules":
                want = [r[0] for r in con.execute(
                    f"SELECT DISTINCT replace(granule, '.SAFE', '') AS g {where} ORDER BY g",
                    args).fetchall()]
                got = [json.loads(l).get("granule") for l in op["lines"]]
            else:
                want = [(b, _micros(t), g) for b, t, g in con.execute(
                            f"SELECT burst_id_jpl, sensing_time, granule {where} "
                            "ORDER BY burst_id_jpl, sensing_time", args).fetchall()]
                got = []
                for part in sorted(glob.glob(os.path.join(req["out"], "*.csv"))):
                    with open(part, newline="") as f:
                        for r in csv.DictReader(f):
                            got.append((r["burst_id_jpl"], _micros(r["sensing_time"]),
                                        r["granule"]))
                if op["lines"]:
                    got.append(("injected", 0, ""))
            if got != want:
                failures[op["id"]] = f"{kind}: {len(got)} rows, DuckDB {len(want)}"
    return failures


# --------------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(result):
    """End-to-end metrics over the timed requests; set-up `create` ops only
    count as attempted (and failed, if their check failed)."""
    timed = [o for o in result["ops"] if o["kind"] != "create"]
    done = [o["wall_ms"] for o in timed if not o["threw"]]
    m = {
        "setup_s": statistics.median(result["setup_s"]),
        "ops_per_s": len(done) / result["timed_s"],
        "p50_ms": statistics.median(done) if done else 0.0,
        "p90_ms": quantile(done, 90) if done else 0.0,
    }
    by_kind = {}
    for o in result["ops"]:
        if not o["threw"]:
            by_kind.setdefault(o["kind"], []).append(o["wall_ms"])
    extra = {f"{k}_p50_ms": statistics.median(v) for k, v in sorted(by_kind.items())}
    extra["samples"] = len(done)
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["none", "wrong", "throw"], default="none",
                    help="self-test: make the first op throw or return a wrong result")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources under {ROOT}; run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, sql_file = build()
    started = time.monotonic()
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or commit
    except (OSError, subprocess.SubprocessError):
        pass
    commit = f"{commit} src:{source_hash()}"

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if a.workload == "registry":
            tables = registry_tables()
            with open(sql_file) as f:
                sql = json.load(f)[a.workload]
            expected = oracle.answers(tables, sql, os.path.join(STATE, "oracle"))
            with open(os.path.join(work, "expected.json"), "w") as f:
                json.dump(expected, f)
            extra = ["--tables", tables, "--expected", os.path.join(work, "expected.json")]

        # one harness JVM; a traced run sets up once, as it reports no setup_s
        sub = os.path.join(work, "harness")
        os.makedirs(sub)
        out = os.path.join(sub, "result.json")
        log = os.path.join(sub, "harness.log")
        rc = run_proc(java_cmd(cp, sub, "run", "--workload", a.workload,
                               "--seed", str(a.seed), "--seconds", str(a.seconds),
                               "--trace", str(a.trace), "--work", sub, "--out", out,
                               "--setups", "1" if a.trace else "3",
                               "--inject", a.inject, "--commit", commit, *extra),
                      sub, log, RUN_LIMIT_S - (time.monotonic() - started))
        if rc != 0:
            die(f"harness exited {rc}:\n{tail(log)}", 1)
        with open(out) as f:
            result = json.load(f)
        failures = {o["id"]: o["failure"] for o in result["ops"] if o["failure"]}
        if a.workload == "catalog_serve":
            for k, v in check_serve(result).items():
                failures.setdefault(k, v)
        attempted = len(result["ops"])

        stamp = result["stamp"]
        print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={stamp['nproc']} "
              f"heap={stamp['max_heap_mb']}MB {stamp['jdk']} spark={stamp['spark']} "
              f"commit={stamp['commit']}")
        for k, v in sorted(failures.items()):
            print(f"# FAILED {k}: {v}")
        if a.trace:
            # the untraced and the traced pass ran the same ops in the same
            # order; compare their summed time
            ops = [[o for o in result["ops"] if o["kind"] != "create" and o["traced"] == t]
                   for t in (False, True)]
            pairs = list(zip(*ops))
            if len(ops[0]) != len(ops[1]) or any(u["name"] != t["name"] for u, t in pairs):
                die("the untraced and traced passes ran different ops", 1)
            walls = [sum(o["wall_ms"] for o in x) for x in ops]
            result["layers"]["trace.overhead_pct"] = (walls[1] / walls[0] - 1) * 100
            metrics = {k: {"value": float(result["layers"].get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            m, extra_lines = end_to_end(result)
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
            for k, v in extra_lines.items():
                print(f"# {k} {v:.3f}" if isinstance(v, float) else f"# {k} {v}")
        print(f"# fail_ratio {len(failures) / max(1, attempted):.4f} "
              f"({len(failures)} of {attempted} ops)")
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")

        keep = os.path.join(STATE, "results")
        os.makedirs(keep, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        result["metrics"] = metrics
        result["failures"] = failures
        with open(os.path.join(keep, name + ".json"), "w") as f:
            json.dump(result, f)
        spans = os.path.join(sub, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(keep, name + ".spans.jsonl"))
        shutil.copy(log, os.path.join(keep, name + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
