#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout.  Builds graft and the benchmark
once per checkout (sbt, perfbench/build.sbt), generates the inputs,
runs one JVM with a `local[N]` Spark session (N = cores) through the
workload's warm-up round and closed-loop measured rounds, checks every
operation's output and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.  The line before it is a detail record: sample counts,
set-up parts and the host contention stamp.

Other modes:
    --record        record expected.json (rows + content hash per entry),
                    cross-checking oracle-checked entries against DuckDB
    --steadiness K  run every workload with K seeds, print each
                    end-to-end metric's quartile spread

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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("lakehouse_serve", "corpus_dedup")
JVM_HEAP = "2g"
RUN_LIMIT_S = 170

LAKEHOUSE = ["q01_agg_filter", "q02_project_enrich", "q03_join_enrich",
             "q04_multiway_left_join", "q05_explode_pos", "q06_json_extract",
             "q07_classify_case", "q08_latest_per_key", "q09_daily_active",
             "q10_epoch_rollup", "q11_range_join", "q12_double_entry",
             "q13_event_index", "q14_semi_anti", "q15_topn_per_group",
             "q16_string_codec", "q17_conditional_pivot", "q18_rollup",
             "q19_sliding_window", "t29_langid", "t30_quality", "t31_tokens",
             "q92_checkpointed_travel"]
DEDUP = ["d22_dedup_exact", "d23_dedup_minhash", "d23b_minhash_oracle",
         "d25b_ngram_banded", "d27_dedup_components"]
FOLDS = ["s73_stream_fifo"]
# served reads whose BuildCache builds (about 15 s) are too slow for the
# set-up of every run; a traced lakehouse_serve run measures them
READ_FACES = ["a43_persisted_mips", "q102_layout_matrix"]
INGEST_BATCHES = 3
# what a traced lakehouse_serve run runs after its measured rounds
LEG = [f"ingest_batch_{i}" for i in range(1, INGEST_BATCHES + 1)] + FOLDS + READ_FACES
OPS = LAKEHOUSE + DEDUP + READ_FACES + ["ingest_batch"] + FOLDS
MIXES = {"lakehouse_serve": LAKEHOUSE, "corpus_dedup": DEDUP}
# a warm round's wall on a 4-core host, in whole seconds. A run measures
# max(2, seconds // ROUND_S) rounds: the same number on every host and in
# every run, so each operation's median always covers as many rounds
ROUND_S = {"lakehouse_serve": 10, "corpus_dedup": 7}
MODULES = ["Relational", "TextOps", "Ann", "Export", "Dedup", "Streaming"]

END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
    ("ops_per_s", "1/s"), ("items_per_s", "1/s"), ("success_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
]
SPARK = [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
         ("spark.tasks_per_op", "count"), ("spark.driver_gap_s", "s"),
         ("spark.input_mb", "MB"), ("spark.task_busy_s", "s"),
         ("spark.core_util", "ratio"), ("spark.task_wait_s", "s"),
         ("spark.task_skew", "ratio"), ("spark.shuffle_read_mb", "MB"),
         ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
         ("spark.output_mb", "MB"), ("spark.failed_tasks", "count")]
PER_LAYER = (
    SPARK + [("jvm.gc_s", "s")]
    + [(f"{m}.{p}_s", "s") for m in MODULES for p in ("construct", "exec")]
    + [(f"op.{o}_s", "s") for o in OPS]
    + [("Dedup.shingle_s", "s"), ("Dedup.candidates_s", "s"),
       ("Dedup.candidate_pairs", "count"), ("Dedup.md5_candidates_s", "s"),
       ("Dedup.md5_candidate_pairs", "count"), ("Dedup.verify_s", "s"),
       ("Dedup.verified_pairs", "count"), ("Dedup.verify_yield", "ratio"),
       ("Dedup.components_s", "s"),
       ("Ingest.bronze_s", "s"), ("Ingest.rescued_rows", "count"),
       ("Streaming.gold_merge_s", "s"), ("Streaming.gold_write_amp", "ratio"),
       ("Streaming.dup_dropped_rows", "count"), ("ingest_p50_s", "s"),
       ("Streaming.fold_jobs", "count"),
       ("setup.session_s", "s"), ("setup.warmup_s", "s"),
       ("BuildCache.build_s", "s"), ("setup.generate_s", "s"),
       ("trace.overhead_ratio", "ratio"), ("host.calib_s", "s"),
       ("host.load_1m", "count"), ("host.steal_pct", "%")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_files(root):
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build(root):
    """Compile graft + the benchmark once per source state; returns
    the JVM classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "(run from the root of a graft checkout)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at Spark 4.1")
    h = hashlib.sha256()
    for f in sorted(_source_files(root)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build")
    stamp = os.path.join(out, "perfbench.stamp")
    jar = os.path.join(out, "perfbench.jar")
    built = None
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built = fh.read()
    if not (built == h.hexdigest() and os.path.exists(jar)):
        log("building graft + perfbench (sbt compile)")
        # sbt's scratch files go under the checkout, not the system tmp
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser(
                           "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: build failed")
        os.makedirs(out, exist_ok=True)
        for f in (stamp, jar, jar + ".jsa"):
            if os.path.exists(f):
                os.remove(f)
        # a jar, not the classes directory: the JVM's class-data archive
        # (below) only covers classes loaded from jars
        subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C",
                        os.path.join(HERE, "target", "scala-2.13", "classes"), "."],
                       check=True)
        write_archive(classpath(jar, spark_home), out)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return classpath(jar, spark_home)


def classpath(jar, spark_home):
    return jar + os.pathsep + os.path.join(spark_home, "jars", "*")


def write_archive(cp, out):
    """Write the JVM class-data archive that every run maps: a throwaway
    JVM runs both measured mixes once and archives every class it
    loaded. Part of the build, so no measured run starts without it."""
    log("writing the JVM class-data archive")
    work = os.path.join(out, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen.write_tables(data)
        plan = os.path.join(work, "plan.json")
        with open(plan, "w") as fh:
            json.dump({"entries": LAKEHOUSE + DEDUP}, fh)
        run_jvm(cp, work, {"mode": "warm", "data": data, "work": work,
                           "plan": plan, "out": os.path.join(work, "out.json")},
                time.time() + 600, dump_archive=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(archive(cp)):
        raise SystemExit("perfbench: the JVM wrote no class-data archive")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def archive(cp):
    return cp.split(os.pathsep)[0] + ".jsa"


def run_jvm(cp, work, args, deadline, dump_archive=False):
    """Run graft.perfbench.Main; its logs go to work/jvm.log.

    It maps the class-data archive the build wrote (or, writing it,
    archives every class it loaded), which cuts JVM and Spark start-up
    by a few seconds."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = ("-XX:ArchiveClassesAtExit=" if dump_archive
           else "-XX:SharedArchiveFile=") + archive(cp)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:-UsePerfData",
            cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: JVM ran past the time limit")
    if r.returncode != 0:
        with open(logf) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")


# ---------------------------------------------------------------- host

def host_stamp():
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"load_1m": load, "cpu": cpu}


def steal_pct(before, after):
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


# ---------------------------------------------------------------- inputs

def stage_ingest(staging, seed, batches):
    """Landing batches b0000.. plus a probe batch and tally.json."""
    plan = gen.IngestPlan(seed)
    tally = []
    for i in range(batches + 1):
        files, counts = plan.next_batch()
        name = "probe" if i == batches else f"b{i:04d}"
        d = os.path.join(staging, name)
        os.makedirs(d)
        for k, text in enumerate(files):
            with open(os.path.join(d, f"part-{k}.json"), "w") as fh:
                fh.write(text)
        counts["totals"] = {str(u): [t, c] for u, (t, c) in plan.tally.items()}
        tally.append(counts)
    probe = tally.pop()
    with open(os.path.join(staging, "tally.json"), "w") as fh:
        json.dump({"batches": tally, "probe": probe}, fh)
    return tally, probe


# ---------------------------------------------------------------- metrics

def end_to_end(res, setup_s):
    meas = [s for s in res["samples"] if s["round"] >= 0 and not s["traced"]]
    ok = [s for s in meas if s["error"] is None]
    walls = [s["wall_s"] for s in meas]
    busy = sum(walls)
    wl = res["workload"]
    if wl == "corpus_dedup":
        items = gen.SIZES["documents"] * res["rounds"]
    else:
        items = len(ok)
    attempted = len(res["samples"])
    failed = sum(1 for s in res["samples"] if s["error"] is not None)
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.typical_median(meas),
        "op_p90_s": stats.percentile(walls, 90),
        "ops_per_s": len(ok) / busy,
        "items_per_s": items / busy,
        "success_ratio": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def is_ingest(sample):
    return sample["name"].startswith("ingest_batch")


def per_layer(res, setup, host):
    traced = [s for s in res["samples"] if s["round"] >= 0 and s["traced"]]
    untraced = [s for s in res["samples"] if s["round"] >= 0 and not s["traced"]]
    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    m.update(stats.spark_per_op(traced, res["jobs"], res["stages"], res["cpus"]))
    m["jvm.gc_s"] = statistics.fmean(s["gc_s"] for s in traced)
    # the recorded pass of a traced lakehouse_serve run's leg
    leg = [s for s in res["samples"] if s["round"] == -2]
    layer = traced + leg
    for mod in MODULES:
        # registered entries only: an ingest op constructs nothing in graft
        ss = [s for s in layer if s["module"] == mod and not is_ingest(s)]
        if ss:
            m[f"{mod}.construct_s"] = statistics.median(s["construct_s"] for s in ss)
            m[f"{mod}.exec_s"] = statistics.median(s["exec_s"] for s in ss)
    for o in OPS:
        ss = [s["wall_s"] for s in layer
              if s["name"] == o or (o == "ingest_batch" and is_ingest(s))]
        if ss:
            m[f"op.{o}_s"] = statistics.median(ss)
    # tracing overhead: per entry, traced over untraced median wall
    ratios = []
    for o in {s["name"] for s in traced}:
        t = [s["wall_s"] for s in traced if s["name"] == o]
        u = [s["wall_s"] for s in untraced if s["name"] == o]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    m["trace.overhead_ratio"] = statistics.median(ratios) - 1.0 if ratios else 0.0
    p = res["probes"]
    by_name = stats.self_seconds_by_name(res["spans"])
    if res["workload"] == "corpus_dedup":
        for k in ("shingle", "candidates", "md5_candidates", "components"):
            m[f"Dedup.{k}_s"] = p[f"{k}_s"]
        m["Dedup.verify_s"] = by_name["Dedup.verify"][0]
        for k in ("candidate_pairs", "md5_candidate_pairs", "verified_pairs"):
            m[f"Dedup.{k}"] = p[k]
        m["Dedup.verify_yield"] = (p["verified_pairs"] / p["candidate_pairs"]
                                   if p["candidate_pairs"] else 0.0)
    if leg:
        ing = res["ingest"]
        m["Ingest.bronze_s"] = p["bronze_s"]
        m["Ingest.rescued_rows"] = p["rescued_rows"]
        m["Streaming.gold_merge_s"] = statistics.median(ing["merge_s"])
        m["Streaming.gold_write_amp"] = sum(ing["gold_bytes"]) / ing["landed_bytes"]
        m["Streaming.dup_dropped_rows"] = ing["dup_dropped"]
        m["ingest_p50_s"] = statistics.median(
            s["wall_s"] for s in leg if is_ingest(s))
        m["Streaming.fold_jobs"] = stats.spark_per_op(
            [s for s in leg if s["name"] in FOLDS], res["jobs"], res["stages"],
            res["cpus"])["spark.jobs_per_op"]
    m["setup.session_s"] = setup["session_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["BuildCache.build_s"] = setup["build_s"]
    m["setup.generate_s"] = setup["generate_s"]
    m["host.calib_s"] = res["host"]["calib_after_s"]
    m["host.load_1m"] = host["after"]["load_1m"]
    m["host.steal_pct"] = host["steal_pct"]
    return m


# ---------------------------------------------------------------- one run

def measured_rounds(workload, seconds):
    return max(2, int(seconds // ROUND_S[workload]))


def run_once(root, workload, seed, seconds, trace):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    cp = build(root)
    deadline = max(deadline, time.time() + 120)  # a first build may be slow
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        host0 = host_stamp()
        g0 = time.time()
        data = os.path.join(work, "data")
        gen.write_tables(data)
        tally = probe = None
        staging = os.path.join(work, "staging")
        os.makedirs(staging)
        leg = LEG if workload == "lakehouse_serve" and trace else []
        if leg:
            # the streaming leg's two passes
            tally, probe = stage_ingest(staging, seed, 2 * INGEST_BATCHES)
        rounds = measured_rounds(workload, seconds)
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump({"mix": MIXES[workload], "leg": leg, "rounds": rounds,
                       "orders": gen.op_orders(seed, len(MIXES[workload]), rounds)},
                      fh)
        generate_s = time.time() - g0
        out = os.path.join(work, "result.json")
        run_jvm(cp, work, {
            "workload": workload, "seed": seed,
            "trace": trace, "data": data, "work": work, "staging": staging,
            "plan": os.path.join(work, "plan.json"),
            "expected": os.path.join(HERE, "expected.json"), "out": out},
            deadline)
        host1 = host_stamp()
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = {"before": {"load_1m": host0["load_1m"]},
            "after": {"load_1m": host1["load_1m"]},
            "steal_pct": steal_pct(host0, host1),
            "calib_before_s": res["host"]["calib_before_s"],
            "calib_after_s": res["host"]["calib_after_s"]}
    setup = dict(res["setup"], generate_s=generate_s)
    setup_s = res["setup"]["setup_end_ms"] / 1000.0 - g0 - res["host"]["calib_before_s"]
    problems = [f'{s["name"]}: {s["error"]}' for s in res["samples"]
                if s["error"] is not None]
    if res["ingest"]:
        landed = tally[:res["ingest"]["batches"]]
        want_dropped = sum(b["redelivered"] for b in landed)
        if res["ingest"]["dup_dropped"] != want_dropped:
            problems.append(f'dropped {res["ingest"]["dup_dropped"]} rows, '
                            f'planted {want_dropped} re-deliveries')
        if res["probes"]["rescued_rows"] != probe["malformed"]:
            problems.append(f'rescued {res["probes"]["rescued_rows"]} rows, '
                            f'planted {probe["malformed"]} malformed lines')
    units = dict(END_TO_END + PER_LAYER)
    values = (per_layer(res, setup, host) if trace
              else end_to_end(res, setup_s))
    meas = [s for s in res["samples"] if s["round"] >= 0]
    detail = {"workload": workload, "seed": seed, "trace": trace,
              "rounds": res["rounds"], "window_s": res["window_s"],
              "samples": len(meas),
              "samples_untraced": sum(1 for s in meas if not s["traced"]),
              "warmup_ops": sum(1 for s in res["samples"] if s["round"] == -1),
              "leg_ops": sum(1 for s in res["samples"] if s["round"] < -1),
              "leg_build_s": res["probes"].get("leg_build_s"),
              "setup": setup, "host": host, "problems": problems[:20]}
    for p in problems:
        log(f"check failed: {p}")
    return {
        "detail": detail,
        "result": {
            "correct": not problems,
            "attempted": len(res["samples"]),
            "failed": sum(1 for s in res["samples"] if s["error"] is not None),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in values.items()}}}


# ---------------------------------------------------------------- record

def record_entries(root):
    """Run every entry of both mixes and the streaming leg once in a
    record-mode JVM. Returns its result and the entries whose Spark
    output differs from DuckDB running SparkEntry.oracleSql over the
    same tables."""
    import duckdb
    cp = build(root)
    work = os.path.join(root, ".bench_work", f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen.write_tables(data)
        plan = os.path.join(work, "plan.json")
        with open(plan, "w") as fh:
            json.dump({"entries": LAKEHOUSE + DEDUP + READ_FACES + FOLDS}, fh)
        out = os.path.join(work, "result.json")
        run_jvm(cp, work, {"mode": "record", "data": data, "work": work,
                           "plan": plan, "out": out}, time.time() + 1800)
        with open(out) as fh:
            res = json.load(fh)
        bad = oracle_check(duckdb, data, os.path.join(work, "dump"),
                           res["oracle_sql"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res, bad


def record(root):
    """Record expected.json: rows and content hash of every entry of
    both mixes and the streaming leg, after the DuckDB cross-check of the
    oracle-checked ones."""
    res, bad = record_entries(root)
    if bad:
        for b in bad:
            log(f"oracle mismatch: {b}")
        raise SystemExit("perfbench: DuckDB disagrees; expected.json not written")
    entries = {k: dict(v, oracle=k in res["oracle_sql"])
               for k, v in sorted(res["entries"].items())}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"table_seed": gen.TABLE_SEED, "sizes": gen.SIZES,
                   "entries": entries}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(entries)} entries, "
        f"{len(res['oracle_sql'])} cross-checked against DuckDB")


def oracle_check(duckdb, data, dump, oracle_sql):
    """Names whose Spark dump differs from DuckDB's oracle result
    (columns by name, rows sorted, floats to 1e-9)."""
    con = duckdb.connect()
    for t in sorted(f[:-len(".parquet")] for f in os.listdir(data)):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        srel = con.sql(f"SELECT * FROM '{dump}/{name}/*.parquet'")
        orel = con.sql(sql)
        if sorted(srel.columns) != sorted(orel.columns):
            bad.append(f"{name}: columns {sorted(srel.columns)} vs {sorted(orel.columns)}")
            continue
        cols = sorted(srel.columns)
        q = lambda rel: sorted(  # noqa: E731
            (tuple(_norm(v) for v in r)
             for r in rel.select(*[f'"{c}"' for c in cols]).fetchall()), key=repr)
        a, b = q(srel), q(orel)
        if len(a) != len(b):
            bad.append(f"{name}: {len(a)} rows vs oracle {len(b)}")
        elif any(not _close(x, y) for x, y in zip(a, b)):
            bad.append(f"{name}: values differ")
    return bad


def _norm(v):
    return round(v, 6) if isinstance(v, float) else v


def _close(x, y):
    if isinstance(x, (tuple, list)) and isinstance(y, (tuple, list)):
        return len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
    if isinstance(x, float) and isinstance(y, float):
        return abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))
    return x == y


# ---------------------------------------------------------------- steadiness

def steadiness(root, k, seconds, workloads):
    for wl in workloads:
        vals = {}
        for seed in range(1, k + 1):
            out = run_once(root, wl, seed, seconds, 0)
            print(json.dumps({"run": out}), flush=True)
            r = out["result"]
            for name, mv in r["metrics"].items():
                vals.setdefault(name, []).append(mv["value"])
        for name, vs in vals.items():
            print(json.dumps({"workload": wl, "metric": name,
                              "median": statistics.median(vs),
                              "spread": stats.spread(vs), "values": vs}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=28)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--steadiness", type=int, default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.record:
        record(root)
    elif a.steadiness:
        steadiness(root, a.steadiness, a.seconds,
                   [a.workload] if a.workload else WORKLOADS)
    elif a.workload:
        out = run_once(root, a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(out["detail"]))
        print(json.dumps(out["result"]), flush=True)
    else:
        ap.error("--workload, --record or --steadiness is required")


if __name__ == "__main__":
    main()
