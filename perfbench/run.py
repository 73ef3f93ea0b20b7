#!/usr/bin/env python3
"""DroneDB-on-Spark benchmark: the dataset (ingest + catalog) and analytics workloads.

    python3 perfbench/run.py --workload {dataset,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The first run builds the
benchmark together with the program's sources (sbt, offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. One JVM runs the workload (perfbench.Main) and writes raw
samples; this script checks outputs, computes the metrics, writes the
full artifact to perfbench/target/results/ and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
WORKLOADS = ("dataset", "analytics")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 175


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    out = []
    for p in SOURCES:
        if os.path.isfile(p):
            out.append(p)
        for d, _, fs in os.walk(p):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline_s):
    """Compile the program and the benchmark; return the classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
         "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []))
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=deadline_s)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cps[-1].strip() + "\n")
    return cps[-1].strip()


def steal_ticks():
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) if f[0] == "cpu" and len(f) > 8 else -1


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, workload, seed, seconds, trace, work, raw, timeout_s):
    lanes = json.load(open(os.path.join(BENCH, "lanes.json")))
    args = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds), str(trace), work, raw,
        ",".join(f"{k}:{v}" for k, v in lanes.items())]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = work + ".log"
    with open(log, "w") as fh:
        p = subprocess.Popen(args, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(raw):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"benchmark JVM failed ({code}); log: {log}", 1)
    return json.load(open(raw)), lanes


# ---- output checks the JVM cannot make (DuckDB oracle) -------------------

def canon_hash(rows, cols):
    """Sort columns by name and rows by value, floats at 9 significant
    digits — the canonical form of tools/check.py — then hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    h = hashlib.sha256()
    for line in sorted(out):
        h.update(line.encode() + b"\n")
    return h.hexdigest(), len(out)


def oracle_check(raw, lanes):
    """Compare every lane's result with its DuckDB oracle. Oracle hashes
    are cached under the oracle SQL and the digest of the generated
    inputs it reads (a lane that reads no table is cached once)."""
    import duckdb
    inputs = raw["inputs"]
    tables, results = inputs["tables"], inputs["results"]
    sqls = json.load(open(os.path.join(results, "oracle_sql.json")))
    cache_file = os.path.join(TARGET, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(TARGET, 'duckdb_tmp')}'")
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    verdict = {}
    for lane in lanes:
        sql = sqls[lane]
        reads = re.search(r"\b(events|documents)\b", sql) is not None
        key = f"{inputs['digest'] if reads else 'no-input'}:{lane}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{results}/{lane}/*.parquet')")
            gcols = [d[0] for d in got.description]
            ghash, gn = canon_hash(got.fetchall(), gcols)
            if key not in cache:
                rel = con.sql(sql)
                bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                       if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]
                exp = con.execute(sql)
                ecols = [d[0] for d in exp.description]
                ehash, en = canon_hash(exp.fetchall(), ecols)
                cache[key] = {"hash": ehash, "rows": en, "cols": sorted(ecols), "bad_types": bad}
            want = cache[key]
            ok = not want["bad_types"] and want["cols"] == sorted(gcols) and want["hash"] == ghash
            verdict[lane] = {"ok": ok, "rows": gn, "oracle_rows": want["rows"]}
        except Exception as e:  # a lane whose output cannot be read or compared fails
            verdict[lane] = {"ok": False, "error": f"{type(e).__name__}: {e}"}
    tmp = cache_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_file)
    return verdict


# ---- metrics --------------------------------------------------------------

def rounds_of(raw, ops):
    return [ops[r["first"]:r["last"] + 1] for r in raw["rounds"]]


def by_kind(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    return kinds


def latency_summary(ops):
    """Per op kind: sample count, median, and the highest percentile
    with at least ten samples beyond it (None when there are too few)."""
    out = {}
    for kind, ms in sorted(by_kind(ops).items()):
        q = stats.top_percentile(len(ms))
        out[kind] = {"n": len(ms), "p50_ms": stats.median(ms),
                     "top": q, "top_ms": stats.percentile(ms, q) if q else None}
    return out


def end_to_end(raw, ops):
    ms = [o["ms"] for o in ops]
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "ops_per_s": (len(ms) / (sum(ms) / 1000.0), "1/s"),
        "op_geomean_ms": (stats.geomean([stats.median(v) for v in by_kind(ops).values()]), "ms"),
        # means: with a handful of rounds per run, the mean spreads less
        # between runs than the median does
        "round_s": (stats.mean([sum(o["ms"] for o in r) / 1000.0 for r in rounds_of(raw, ops)]), "s"),
        "round_cpu_s": (stats.mean([sum(o["cpu_ms"] for o in r) / 1000.0 for r in rounds_of(raw, ops)]), "s"),
    }


def per_layer(raw, ops, lanes):
    td = raw["trace_data"]
    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    spans, jobs, stages, counters = {}, {}, {}, {}
    for s in td["spans"]:
        spans.setdefault(s["op"], []).append(s)
    for j in td["jobs"]:
        jobs.setdefault(j["op"], []).append((float(j["start"]), float(j["end"])))
    for s in td["stages"]:
        if s["tasks"] > 0:
            stages.setdefault(s["op"], []).append(s)
    for c in td["counters"]:
        counters[c["op"]] = c

    def span_ms(name, kinds=None):
        return [s["end"] - s["start"] for o in traced if kinds is None or o["kind"] in kinds
                for s in spans.get(o["id"], []) if s["name"] == name]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    tot = dict(construct=0.0, gap=0.0, job=0.0, self_sum=0.0, wall=0.0)
    for o in traced:
        sp = spans.get(o["id"], [])
        root = [s for s in sp if s["parent"] < 0][0]
        jb = jobs.get(o["id"], [])
        tot["construct"] += sum(s["end"] - s["start"] for s in sp if s["name"] == "construct")
        tot["gap"] += stats.gap((root["start"], root["end"]), jb)
        tot["job"] += stats.union_length(jb, root["start"], root["end"])
        own, job_ms = stats.self_times(sp, jb)
        tot["self_sum"] += sum(own.values()) + job_ms
        tot["wall"] += root["end"] - root["start"]
    st = [s for o in traced for s in stages.get(o["id"], [])]
    ct = [counters[o["id"]] for o in traced if o["id"] in counters]
    run_ms = sum(s["run_ms"] for s in st)

    def kind_median(kind):
        return med([o["ms"] for o in traced if o["kind"] == kind])

    # extraction = the input-reading stages inside each add's index write
    extract, index_write = [], []
    for o in traced:
        if o["kind"] != "add":
            continue
        w = [s for s in spans.get(o["id"], []) if s["name"] == "sources.index_write"][0]
        reads = [(s["submit"], s["complete"]) for s in stages.get(o["id"], []) if s["input_bytes"] > 0]
        e = stats.union_length(reads, w["start"], w["end"])
        extract.append(e)
        index_write.append(w["end"] - w["start"] - e)
    changed = raw["extra"].get("changed_bytes", {})
    readds = [o for o in traced if o["kind"] == "readd"]
    readd_read = sum(s["input_bytes"] for o in readds for s in stages.get(o["id"], []))
    readd_changed = sum(changed.get(o["id"], 0) for o in readds)
    ibpe = list(raw["extra"].get("index_bytes_per_entry", {}).values())
    n_files = int(raw["inputs"].get("tree_files", 0))

    # overhead: each traced round against the untraced rounds on either
    # side, so the warm-up trend of the JVM cancels out
    all_rounds = rounds_of(raw, ops)
    flags = [meta["traced"] for meta in raw["rounds"]]
    per_kind = {}
    for i, rnd in enumerate(all_rounds):
        if not flags[i]:
            continue
        near = [all_rounds[j] for j in (i - 1, i + 1) if 0 <= j < len(all_rounds) and not flags[j]]
        for o in rnd:
            base = [u["ms"] for r in near for u in r if u["kind"] == o["kind"]]
            if base:
                per_kind.setdefault(o["kind"], []).append(o["ms"] / stats.mean(base))
    ratios = [stats.median(v) for v in per_kind.values()]
    traced_rounds = [r for r, f in zip(all_rounds, flags) if f]

    m = {
        "jvm.peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "spark.construct_ms": (tot["construct"] / n, "ms"),
        "spark.plan_ms": (sum(c["plan_ms"] for c in ct) / n, "ms"),
        "spark.codegen_compiles": (sum(c["compiles"] for c in ct) / n, "count"),
        "spark.codegen_ms": (sum(c["compile_ms"] for c in ct) / n, "ms"),
        "spark.jobs": (sum(len(jobs.get(o["id"], [])) for o in traced) / n, "count"),
        "spark.stages": (len(st) / n, "count"),
        "spark.one_task_stages": (sum(1 for s in st if s["tasks"] == 1) / n, "count"),
        "spark.tasks": (sum(s["tasks"] for s in st) / n, "count"),
        "spark.gap_ms": (tot["gap"] / n, "ms"),
        "spark.job_ms": (tot["job"] / n, "ms"),
        "spark.exec_run_ms": (run_ms / n, "ms"),
        "spark.exec_cpu_ms": (sum(s["cpu_ns"] for s in st) / 1e6 / n, "ms"),
        "spark.gc_ms": (sum(s["gc_ms"] for s in st) / n, "ms"),
        "spark.cores_busy": (run_ms / tot["job"] if tot["job"] else 0.0, "cores"),
        "spark.shuffle_bytes": (sum(s["shuffle_write"] for s in st) / n, "B"),
        "spark.spill_bytes": (sum(s["spill"] for s in st) / n, "B"),
        "spark.result_bytes": (sum(s["result"] for s in st) / n, "B"),
        "spark.input_bytes": (sum(s["input_bytes"] for s in st) / n, "B"),
        "spark.rows_read_per_result": (
            sum(s["input_records"] for s in st) / max(sum(o["rows"] for o in traced), 1), "ratio"),
        "sources.add_files_per_s": (n_files / (kind_median("add") / 1000.0) if kind_median("add") else 0.0, "1/s"),
        "sources.reindex_ms": (kind_median("readd"), "ms"),
        "sources.list_ms": (med(span_ms("sources.list")), "ms"),
        "sources.extract_ms": (med(extract), "ms"),
        "sources.index_write_ms": (med(index_write), "ms"),
        "sources.ddb_write_ms": (med(span_ms("sources.ddb_write")), "ms"),
        "sources.index_bytes_per_entry": (med(ibpe), "B"),
        "sources.reindex_read_ratio": (readd_read / readd_changed if readd_changed else 0.0, "ratio"),
        "operators.upsert_ms": (med(span_ms("operators.upsert")), "ms"),
        "core.search_ms": (kind_median("search"), "ms"),
        "core.list_ms": (kind_median("list"), "ms"),
        "core.get_entry_ms": (kind_median("get_entry"), "ms"),
        "core.delta_ms": (kind_median("delta"), "ms"),
        "core.status_ms": (kind_median("status"), "ms"),
        "core.stamp_ms": (kind_median("stamp"), "ms"),
        "stac.item_collection_ms": (kind_median("stac"), "ms"),
        "operators.release_ms": (med(span_ms("release")), "ms"),
    }
    for module in ("geo", "raster", "text", "sources"):
        per_pass = [sum(o["ms"] for o in r if lanes.get(o["kind"]) == module) for r in traced_rounds]
        m[f"{module}.lane_ms"] = (stats.mean(per_pass) if per_pass else 0.0, "ms")
    for lane in lanes:
        for part in ("construct", "action"):
            xs = span_ms(part, {lane})
            m[f"lane.{lane}_{part}_ms"] = (sum(xs) / len(xs) if xs else 0.0, "ms")
    m["trace.overhead_pct"] = ((stats.geomean(ratios) - 1.0) * 100.0 if ratios else 0.0, "%")
    m["trace.unattributed_pct"] = (abs(1.0 - tot["self_sum"] / tot["wall"]) * 100.0 if tot["wall"] else 0.0, "%")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}/src/main/scala/graft; run from a full source checkout")

    built = os.path.exists(os.path.join(TARGET, "classpath.txt"))
    cp = build(deadline_s=850)
    budget = RUN_LIMIT_S if built else 880
    work = os.path.join(TARGET, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_file = os.path.join(TARGET, "work", f"{a.workload}.raw.json")
    if os.path.exists(raw_file):
        os.remove(raw_file)

    load0, steal0, t0 = loadavg(), steal_ticks(), time.time()
    raw, lanes = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, raw_file,
                         budget - (time.time() - t_start))
    elapsed = time.time() - t0
    steal = steal_ticks() - steal0
    load1 = loadavg()

    ops = raw["trace_data"]["ops"]
    oracle = oracle_check(raw, lanes) if a.workload == "analytics" else {}
    bad_lanes = {ln for ln, v in oracle.items() if not v["ok"]}
    failed_ops = [o for o in ops if not o["ok"] or o["kind"] in bad_lanes]
    failures = [f"{o['kind']}: {o['error'] or 'oracle mismatch'}" for o in failed_ops] + raw["warm_failures"]
    correct = not failures and not bad_lanes

    if a.trace:
        metrics = per_layer(raw, ops, lanes)
    else:
        metrics = end_to_end(raw, ops)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_digest": source_digest(),
        "master": raw["master"], "cpus": raw["cpus"], "spark_version": raw["spark_version"],
        "conf": raw["conf"], "inputs": raw["inputs"], "generate_s": raw["generate_s"],
        "setup_samples_s": raw["setup_s"], "ops": len(ops), "rounds": len(raw["rounds"]),
        "latency_by_kind": latency_summary([o for o in ops if not o["traced"]]),
        "load_avg_start": load0, "load_avg_end": load1,
        "steal_ticks": steal,
        "steal_pct": 100.0 * steal / (elapsed * 100.0 * (os.cpu_count() or 1)) if steal >= 0 else None,
        "jvm_elapsed_s": elapsed, "oracle": oracle, "failures": failures[:20],
    }
    result = {"correct": correct, "attempted": len(ops), "failed": len(failed_ops), "metrics": metrics}
    os.makedirs(os.path.join(TARGET, "results"), exist_ok=True)
    out = os.path.join(TARGET, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out, "w") as fh:
        json.dump({"provenance": provenance, "result": result, "raw": raw}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
