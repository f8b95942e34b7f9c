#!/usr/bin/env python3
"""Layer-split benchmark of the graft engine.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads, their inputs and scales are
frozen in perfbench/workloads.json. One run:

  1. builds the engine with the harness (perfbench/build.sbt), once per
     source tree;
  2. generates the workload's inputs from the seed, once per
     (workload, scale, seed);
  3. starts one JVM that sets up a session, runs a cold pass and then warm
     passes for --seconds, and writes the correctness outputs afterwards;
  4. checks every operation's output (DuckDB oracle; a planted wrong
     result must be caught);
  5. prints a full record line, then the result line: end-to-end metrics
     with --trace 0, layer metrics with --trace 1.

Everything it writes lives under perfbench/.work and the build's target
directories under perfbench.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

# the oracle scripts and generators are imported from the checkout; leave
# no bytecode caches beside them
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SCRIPTS = os.path.join(ROOT, "scripts")
JVM_TIMEOUT_S = 160
JVM_HEAP = "3g"

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "output_bytes_per_input_byte": "ratio"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def median(xs):
    return statistics.median(xs)


def cpu_ticks():
    """(all, idle, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4], v[7]
    except (OSError, ValueError, IndexError):
        return None


# ---------------------------------------------------------------- build --

def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_key():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(env):
    """Compile the engine and the harness; returns the runtime classpath."""
    key = source_key()
    cp_file = os.path.join(WORK, "build", f"{key}.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), key
    log(f"building engine + harness ({key})")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    benv = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.io.implicit.relative.glob.conversion=allow",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=benv, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "classes" not in cp:
        fail("build did not export a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t:.1f}s")
    return cp, key


# --------------------------------------------------------------- inputs --

def lake_stats(d):
    import pyarrow.parquet as pq
    return {os.path.basename(p)[:-8]: {"rows": pq.ParquetFile(p).metadata.num_rows,
                                       "bytes": os.path.getsize(p)}
            for p in sorted(glob.glob(os.path.join(d, "*.parquet")))}


def inputs(name, w, seed):
    """Generate (or reuse) the workload's inputs; returns (dir, stats)."""
    if w["kind"] == "queries":
        tag = f"lake-{w['scale']}-" + "-".join(f"{k}{v}" for k, v in sorted(w["floors"].items()))
    else:
        tag = f"sparkify-{w['songs']}-{w['events']}"
    d = os.path.join(WORK, "inputs", f"{tag}-seed{seed}")
    done = os.path.join(d, "_stats.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t = time.time()
        if w["kind"] == "queries":
            sys.path.insert(0, HERE)
            import lake_gen
            lake_gen.generate(os.path.join(SCRIPTS, "gen_sf.py"), d, w["scale"], seed,
                              w["floors"])
            stats = lake_stats(d)
        else:
            sys.path.insert(0, HERE)
            import etl_gen
            stats = etl_gen.generate(d, w["songs"], w["events"], seed)
        log(f"generated {name} inputs (seed {seed}) in {time.time() - t:.1f}s")
        with open(done, "w") as f:
            json.dump(stats, f)
    with open(done) as f:
        return d, json.load(f)


# ------------------------------------------------------------------ jvm --

def java_cmd(cp, heap, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([java, f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens
            + ["-cp", cp, "perfbench.Harness"] + args)


def jvm(cp, heap, args, run_dir, env):
    """Run the harness in run_dir; returns its result object."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(cp, heap, args + [f"work={run_dir}", f"out={out}"])
    cmd.insert(1, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    with open(os.path.join(run_dir, "jvm.log"), "a") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S}s (log: {run_dir}/jvm.log)")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- gates --

def gate_queries(lake_dir, dump_dir, names):
    """DuckDB oracle per query (scripts/check.py; the theta/HLL gates get
    scripts/classify_sweep.py's RSE band). Returns {name: ok}."""
    sys.path.insert(0, SCRIPTS)
    import check
    import classify_sweep
    os.environ.setdefault("GRAFT_CHECK_MEM", "2GB")
    os.environ.setdefault("GRAFT_CHECK_TMP", "2GB")
    rec_file = os.path.join(dump_dir, "_check.json")
    os.environ["GRAFT_CHECK_JSON"] = rec_file
    with contextlib.redirect_stdout(sys.stderr):
        check.main(lake_dir, dump_dir)
    with open(rec_file) as f:
        rec = json.load(f)["queries"]
    ok = {}
    for n in names:
        st = rec.get(n, {"status": "missing"})["status"]
        good = st == "pass" or (st == "rows-only" and rec[n]["rows"] > 0)
        if not good and st == "fail" and n in classify_sweep.BANDS:
            good, _ = classify_sweep.band_check(n, classify_sweep.BANDS[n], lake_dir,
                                                dump_dir)
        ok[n] = good
    return ok


def plant_wrong(src_dir, dst_dir):
    """Copy one parquet result with one cell changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(src_dir, "*.parquet")))
    t = pa.concat_tables([pq.read_table(f) for f in files])
    os.makedirs(dst_dir, exist_ok=True)
    for i, field in enumerate(t.schema):
        col = t.column(i).to_pylist()
        v = col[0]
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            col[0] = v + 1
        elif isinstance(v, str):
            col[0] = v + "~"
        else:
            continue
        t = t.set_column(i, field, pa.array(col, type=field.type))
        pq.write_table(t, os.path.join(dst_dir, "part-0.parquet"))
        return True
    return False


def self_check_queries(lake_dir, dump_dir, good):
    """Plant one wrong query result; the gate must count it as failed."""
    for n in sorted(good):
        if not good[n]:
            continue
        planted = os.path.join(os.path.dirname(dump_dir), "planted")
        shutil.rmtree(planted, ignore_errors=True)
        if not plant_wrong(os.path.join(dump_dir, n), os.path.join(planted, n)):
            shutil.rmtree(planted, ignore_errors=True)
            continue
        with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        if n not in oracle:
            shutil.rmtree(planted, ignore_errors=True)
            continue
        with open(os.path.join(planted, "oracle_sql.json"), "w") as f:
            json.dump({n: oracle[n]}, f)
        caught = not gate_queries(lake_dir, planted, [n])[n]
        return {"planted": n, "caught": caught}
    return {"planted": None, "caught": False}


# -------------------------------------------------------------- metrics --

def tail(samples):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    n = len(s)
    rank = max(n - 10, 0) or n  # with ten or fewer samples: the maximum
    return s[rank - 1], 100.0 * rank / n, n


def end_to_end(res, out_bytes_ratio):
    # statistics over the harness's pool of warm passes, a fixed number of
    # them: a faster run must not read warmer because more passes fit its
    # window, and the tail percentile must not move with the sample count
    warm = [p for p in res["passes"] if p["pool"] and not p["traced"]]
    pool = {p["pass"] for p in warm}
    walls = [o["wall_s"] for o in res["ops"] if o["pass"] in pool]
    t, pct, n = tail(walls)
    m = {
        # one sample: a JVM start costs about as much as the warm passes
        "setup_s": res["setup_s"],
        "cold_pass_s": res["passes"][0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "output_bytes_per_input_byte": out_bytes_ratio,
    }
    # per-operation figures: in the record, not bounded (see README)
    per_op = {"query_p50_s": {"value": median(walls), "unit": "s", "samples": n},
              "query_tail_s": {"value": t, "unit": "s", "percentile": pct, "samples": n}}
    return m, per_op, len(warm)


def op_walls(res):
    """Each operation's wall time per pass, cold pass first."""
    walls = {}
    for o in res["ops"]:
        walls.setdefault(o["name"], []).append(round(o["wall_s"], 4))
    return walls


def per_layer(res, cores, result_rows):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if p["pool"] and not p["traced"]]
    written = {p["pass"]: p for p in res["etl_passes"]}
    rows = []
    for p in traced:
        m = dict(p["layers"])
        if p["pass"] in written:
            m["pipelines.bytes_written"] = written[p["pass"]]["bytes_written"]
            m["pipelines.files_written"] = written[p["pass"]]["files_written"]
        g = lambda k: m.get(k, 0.0)
        inv = g("plans.invocations")
        m["plans.rules_effective_frac"] = g("plans.effective_invocations") / inv if inv else 0.0
        m["exec.slot_idle_frac"] = (1 - g("exec.task_s") / (g("exec.s") * cores)
                                    if g("exec.s") else 0.0)
        m["lake.rows_scanned_per_result_row"] = g("lake.scan_rows") / max(1, result_rows)
        task_s = g("exec.task_s") + g("queries.build_task_s")
        m["lake.scan_mb_per_task_s"] = g("lake.scan_bytes") / 1e6 / task_s if task_s else 0.0
        m["exec.task_share"] = g("exec.task_s") / p["wall_s"]
        rows.append(m)
    keys = sorted({k for r in rows for k in r})
    layers = {k: median([r.get(k, 0.0) for r in rows]) for k in keys}
    layers["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                     / median([p["wall_s"] for p in untraced]) - 1)
    # driver heap after a full GC: it does not repeat run to run within any
    # bound the end-to-end metrics could take, so it is reported here
    layers["heap_retained_mb"] = res["heap_retained_mb"]
    # self time per layer as a share of pass wall; `unattributed` is
    # operation time no span covers, and the gaps between operations are
    # in neither
    shares = []
    for p in traced:
        s = {}
        for k, v in p["self_s"].items():
            layer = k.split(".")[0]
            s[layer] = s.get(layer, 0.0) + v / p["wall_s"]
        s["covered"] = sum(v for k, v in s.items() if k != "unattributed")
        shares.append(s)
    skeys = sorted({k for s in shares for k in s})
    share = {k: median([s.get(k, 0.0) for s in shares]) for k in skeys}
    return layers, share


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in (os.path.join(ENGINE_SRC, "graft"), os.path.join(SCRIPTS, "gen_sf.py"),
                 os.path.join(SCRIPTS, "check.py"), os.path.join(SCRIPTS, "classify_sweep.py")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found: run from a checkout "
                 "of the repository")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.pop("SPARK_GRAFT_CPUS", None)

    cp, src_key = build(env)
    in_dir, in_stats = inputs(a.workload, w, a.seed)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        base = [f"kind={w['kind']}", f"input={in_dir}", f"cores={cores}"]
        args = base + [f"seconds={a.seconds}", f"trace={a.trace}"]
        if w["kind"] == "queries":
            args.append("ops=" + ",".join(w["queries"]))
        res = jvm(cp, JVM_HEAP, args, run_dir, env)

        # correctness, outside every timed region
        attempted = len(res["ops"])
        errors = [o for o in res["ops"] if o["error"]]
        failed = len(errors)
        if w["kind"] == "queries":
            import pyarrow.parquet as pq
            dump = res["dumps"]["dir"]
            good = gate_queries(in_dir, dump, w["queries"])
            for e in res["dumps"]["errors"]:
                good[e] = False
            wrong = {n for n, ok in good.items() if not ok}
            failed += sum(1 for o in res["ops"] if o["name"] in wrong and not o["error"])
            self_check = self_check_queries(in_dir, dump, good)
            in_bytes = sum(t["bytes"] for t in in_stats.values())
            out_bytes = sum(os.path.getsize(f) for f in
                            glob.glob(os.path.join(dump, "*", "*.parquet")))
            out_ratio = out_bytes / in_bytes
            result_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in
                              glob.glob(os.path.join(dump, "*", "*.parquet")))
        else:
            sys.path.insert(0, HERE)
            import etl_oracle
            verdicts = etl_oracle.check(in_dir, [p["dir"] for p in res["etl_passes"]])
            op_tables = {"song": ("songs", "artists"), "log": ("users", "time", "songplays")}
            bad = {(o["name"], o["pass"]) for o in res["ops"] if o["name"] in op_tables
                   and not all(verdicts[o["pass"]][t] for t in op_tables[o["name"]])}
            failed += sum(1 for o in res["ops"] if (o["name"], o["pass"]) in bad and not o["error"])
            wrong = sorted({n for n, _ in bad})
            self_check = etl_oracle.self_check(in_dir, res["etl_passes"][0]["dir"],
                                               os.path.join(run_dir, "planted"))
            in_bytes = in_stats["song_data"]["bytes"] + in_stats["log_data"]["bytes"]
            out_ratio = median([p["bytes_written"] / in_bytes for p in res["etl_passes"]])
            result_rows = etl_oracle.rows_written(res["etl_passes"][0]["dir"])
        failed = min(failed, attempted)
        ticks_end = cpu_ticks()
        cpu = {}
        if ticks_start and ticks_end and ticks_end[0] > ticks_start[0]:
            total = ticks_end[0] - ticks_start[0]
            cpu = {"busy_frac": 1 - (ticks_end[1] - ticks_start[1]) / total,
                   "steal_frac": (ticks_end[2] - ticks_start[2]) / total}

        m, per_op, n_warm = end_to_end(res, out_ratio)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()},
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            **per_op,
            "op_walls": op_walls(res),
            "pool_passes": n_warm,
            "wrong": sorted(wrong), "op_errors": errors[:5],
            "gate_self_check": self_check,
            "env": dict(res["env"], nproc=cores, local=f"local[{cores}]",
                        load_avg_start=load_start, load_avg_end=os.getloadavg(),
                        cpu=cpu,
                        seed=a.seed, scale=w.get("scale", {"songs": w.get("songs"),
                                                           "events": w.get("events")}),
                        inputs=in_stats, commit=git_commit(), source_key=src_key),
        }
        if a.trace:
            layers, share = per_layer(res, cores, result_rows)
            record["layers"] = layers
            record["self_share"] = share
            with open(res["spans_file"]) as f:
                spans = json.load(f)
            record["spans"] = len(spans)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"record": record, "spans": spans}, f)
        correct = failed == 0 and self_check["caught"]
        print(json.dumps(record, sort_keys=True))
        metrics = ({k: record["end_to_end"][k] for k in END_TO_END} if not a.trace
                   else layer_metrics(record["layers"]))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    except BaseException:
        log(f"run directory kept for inspection: {run_dir}")
        raise
    shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(layers):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    return {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in names}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
