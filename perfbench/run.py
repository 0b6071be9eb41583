#!/usr/bin/env python3
"""Benchmark of planspark: three workloads, every output checked apart from
the program.

    python3 perfbench/run.py --workload <tpch|corpus_lake|wire_short> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py). Each run generates its inputs from the seed
(perfbench/gen.py) under .bench_work/, starts one JVM for the workload,
checks every output (perfbench/check.py), writes the per-operation detail to
.bench_out/<workload>-seed<n>-trace<t>.json and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer
ones, from a run with the Spark listener and spans switched on.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Input sizes, the same for every seed (see README.md for why).
SF = 0.02                          # TPC-H-shaped tables: 30 k orders, ~120 k lines
N_TEXTS, N_VECS, COPIES = 1000, 400, 10   # 10 k documents, 4 k embeddings
CLIENTS = 4                        # wire clients, one per core of the reference machine
JVM_FLAGS = ["-Xmx4g"]
JVM_TIMEOUT_S = 160
WORKLOADS = ("tpch", "corpus_lake", "wire_short")

# The --add-opens list of build.sbt (jdk17AddOpens): Spark 4 on JDK 17
# needs it outside spark-submit.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or None below forty samples."""
    n = len(xs)
    if n < 40:
        return None
    p = math.floor(100.0 * (n - 10) / n)
    s = sorted(xs)
    return p, s[min(n - 1, math.ceil(p / 100.0 * n) - 1)], n


def end_to_end(jvm):
    ok = [o for o in jvm["ops"] if o["ok"]]
    by_name = {}
    for o in ok:
        by_name.setdefault(o["name"], []).append(o["seconds"] * 1e3)
    ms = [o["seconds"] * 1e3 for o in ok]
    geo = math.exp(sum(math.log(median(v)) for v in by_name.values()) / len(by_name))
    return {
        "setup_s": median(jvm["setup_s"]),
        "retained_heap_mb": jvm["retained_heap_mb"],
        "pass_s": median(jvm["round_s"]),
        "op_geomean_ms": geo,
    }, ms


def per_layer(workload, jvm, e2e, check_layer, layer_names):
    ops = jvm["ops"]

    def secs(*names):
        return [o["seconds"] for o in ops if o["name"] in names and o["ok"]]

    m = {k: 0.0 for k in layer_names}
    m.update({k: float(v) for k, v in jvm["layers"].items() if k in m})
    if workload == "corpus_lake":
        commits = secs("append_docs", "append_vecs", "delete", "update", "merge", "compact")
        scans = secs("pruned_scan", "point_lookup", "time_travel")
        appends = secs("append_docs")
        m.update({
            "lake.append_s": median(secs("append_docs", "append_vecs")),
            "lake.delete_s": median(secs("delete")),
            "lake.update_s": median(secs("update")),
            "lake.merge_s": median(secs("merge")),
            "lake.compact_s": median(secs("compact")),
            "lake.commit_p50_s": median(commits),
            "lake.timetravel_ms": median(secs("time_travel")) * 1e3,
            "lake.scan_p50_ms": median(scans) * 1e3,
            "lake.ingest_docs_per_s": N_TEXTS * COPIES * len(jvm["round_s"]) / sum(appends),
            "lake.bytes_written_per_input_byte": m["lake.bytes_written"] / jvm["input_bytes"],
            "lake.vector_index_build_s": median(secs("vector_index_build")),
            "lake.fts_index_build_s": median(secs("fts_index_build")),
            "lake.ann_search_ms": median(secs("ann_search")) * 1e3,
            "lake.fts_search_ms": median(secs("fts_search")) * 1e3,
            "lake.ann_recall_at_10": median(check_layer["recall"]),
            "pipeline.minhash_dedup_s": median(secs("minhash_dedup")),
            "pipeline.semantic_dedup_s": median(secs("semantic_dedup")),
            "pipeline.kmeans_s": median(secs("kmeans")),
            "pipeline.ivf_train_s": median(secs("ivf_train")),
            "pipeline.dup_pairs": median(check_layer["dup_pairs"]),
            "pipeline.docs_kept": median(check_layer["docs_kept"]),
        })
    m["trace.pass_s"] = e2e["pass_s"]
    m["trace.op_geomean_ms"] = e2e["op_geomean_ms"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    import build
    import check
    import gen

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    try:
        gen.generate(data, a.seed, SF, N_TEXTS, N_VECS, COPIES, CLIENTS)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}",
                f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                f"-Dderby.system.home={tmp}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                  "--data", data, "--out", out, "--seconds", str(a.seconds),
                  "--trace", str(a.trace)])
        t_jvm = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"{a.workload}: JVM did not finish in {JVM_TIMEOUT_S} s")
        if code != 0:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-5000:])
            raise SystemExit(f"{a.workload}: JVM exited with code {code}")
        with open(os.path.join(out, "jvm.json")) as f:
            jvm = json.load(f)
        jvm["input_bytes"] = sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
                                 for t in ("documents", "embeddings"))

        t_check = time.time()
        if a.workload == "tpch":
            with open(os.path.join(out, "tpch_oracles.json")) as f:
                bad, check_layer = check.check_tpch(data, out, json.load(f))
        elif a.workload == "corpus_lake":
            bad, check_layer = check.check_lake(data, out)
        else:
            bad, check_layer = check.check_wire(data, out)

        walls = {"jvm_s": t_check - t_jvm, "check_s": time.time() - t_check}
        e2e, ms = end_to_end(jvm)
        failed = [o for o in jvm["ops"] if not o["ok"]]
        kind = "per_layer" if a.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in spec[kind]}
        values = per_layer(a.workload, jvm, e2e, check_layer, units) if a.trace else e2e
        detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "check_failures": bad, "ops": jvm["ops"],
                  "setup_s": jvm["setup_s"], "round_s": jvm["round_s"],
                  "layers": jvm["layers"], "metrics": values, "walls": walls}
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_out",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(detail, f)
        if a.trace:
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
                ROOT, ".bench_out", f"{a.workload}-seed{a.seed}-spans.jsonl"))

        t = tail(ms)
        summary = {"workload": a.workload, "rounds": len(jvm["round_s"]),
                   "op_p50_ms": round(median(ms), 3),
                   "op_tail": None if t is None else
                   {"percentile": t[0], "ms": round(t[1], 3), "samples": t[2]},
                   "ops": {n: {"attempted": sum(o["name"] == n for o in jvm["ops"]),
                               "failed": sum(o["name"] == n for o in failed)}
                           for n in sorted({o["name"] for o in jvm["ops"]})},
                   "check_failures": bad[:20]}
        print(json.dumps(summary))
        print(json.dumps({
            "correct": not bad,
            "attempted": len(jvm["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
