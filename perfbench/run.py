#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs perfbench.Main with plain `java` at local[<cores>] with
spark.sql.shuffle.partitions = <cores>, checks every output, and prints
the record. The last stdout line is the bare JSON
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record (each metric with its unit, workload, sample count and seed,
plus the raw figures behind them), also kept under <build>/records/ for
perfbench/fold.py. --trace 0 reports BENCHMARK.json's end_to_end
metrics, --trace 1 its per_layer metrics. Exits non-zero, without a
record, when the build or the run fails, and with a record but
"correct": false when any output is wrong.

The seed permutes the key order of the query workloads' cold pass and
generates the ingest feed; the program sees only those inputs. A run
measures whole passes over its keys, the first cold and the rest warm:
round(passes x --seconds / 10), at least 2, with the workload's passes
from spec.json (about --seconds of passes on a 4-core box). The count does
not depend on how fast the run goes, so every run times the same attempts:
warm times fall pass by pass as the JIT compiles, and a run that fitted
fewer passes into --seconds would read slower. Outputs are judged against
perfbench/goldens.json, which perfbench/record_goldens.py writes in a
separate, checked step.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

TIMEOUT_S = 170
MB = 1024.0 * 1024.0
# A fixed heap, not the -Xmx8g of tools/run_bench.sh: spec.json "jvm" says why.
HEAP = ["-Xms1g", "-Xmx1g"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def high_percentile(xs):
    """(p, value): the highest whole percentile with at least 10 samples
    above it, but never below the median (too few samples for a tail)."""
    xs = sorted(xs)
    n = len(xs)
    if not xs:
        return 50, 0.0
    p = max(50, int(100 * (n - 10) / n))
    return p, xs[min(n - 1, int(p / 100 * n))]


def corpus_path(spec):
    """The committed corpus, spelled under the root where graft.Tables
    keeps resolved tables (it matches the path's text). Spark normalizes
    a path's `..` segments as text, so the `_` segment need not exist and
    the files read are the committed ones."""
    root = Path(spec["program_corpus_root"])
    return (f"{root}/_" + "/.." * len(root.parts) +
            str((ROOT / spec["corpus"]).resolve()))


def run_java(classes, spec, a, keys, passes, work, out, cores):
    jars = build.spark_jars()
    cp = os.pathsep.join([str(c) for c in classes] + [str(jars / "*")])
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           HEAP + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(passes), "--trace", str(a.trace),
            "--keys", ",".join(keys), "--corpus", corpus_path(spec),
            "--work", str(work), "--out", str(out), "--cores", str(cores)])
    # the JVM's stdout goes to our stderr: our stdout carries only records
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def by_key(attempts):
    keys = {}
    for r in attempts:
        keys.setdefault(r["key"], []).append(r)
    return keys


def judge(raw, goldens):
    """Marks each attempt ok or failed; returns (attempted, failed, notes)."""
    notes = []
    failed = 0
    query = raw["workload"] != "ingest"
    for key, rs in by_key(raw["attempts"]).items():
        g = goldens.get(key)
        digests = {r.get("digest") for r in rs}
        for r in rs:
            why = None
            if "error" in r:
                why = r["error"]
            elif not r.get("check_ok", False):
                why = r.get("check_detail", "check failed")
            elif query and g is None:
                why = "no golden"
            elif query and (r["rows"], r["digest"]) != (g["rows"], g["digest"]):
                why = f"rows/digest {r['rows']}/{r['digest']} != golden " \
                      f"{g['rows']}/{g['digest']}"
            elif len(digests) > 1:
                why = f"digest differs across attempts: {sorted(digests)}"
            r["ok"] = why is None
            if why:
                failed += 1
                notes.append(f"{key} pass {r['pass']}: {why}")
    return len(raw["attempts"]), failed, notes


def e2e(raw):
    keys = by_key(raw["attempts"])
    cold = sum(rs[0]["wall_s"] for rs in keys.values())
    warm = sum(med([r["wall_s"] for r in rs[1:]]) for rs in keys.values())
    setup = raw["session_s"] + med(raw["resolve_s"]) + med(raw["stage_s"])
    return {"setup_s": (setup, 1), "cold_s": (cold, len(keys)),
            "warm_s": (warm, sum(len(rs) - 1 for rs in keys.values())),
            "peak_rss_mb": (raw["peak_rss_mb"], 1)}


def ingest_detail(raw):
    """Ingest events/s, per-batch times, upsert rate and read-back time,
    from warm passes."""
    keys = by_key(raw["attempts"])
    if "ingest_drain" not in keys:
        return {}
    drains = keys["ingest_drain"][1:]
    batch_ms = [b for r in drains for b in r.get("batch_ms", [])]
    p, high = high_percentile(batch_ms)
    rows = raw["feed"]["rows"]
    return {
        "ingest.eps": (rows / med([r["wall_s"] for r in drains]), len(drains)),
        "ingest.batch_ms_p50": (med(batch_ms), len(batch_ms)),
        "ingest.batch_ms_high": (high, len(batch_ms)),
        "ingest.batch_high_pct": (p, len(batch_ms)),
        "ingest.batch_samples": (len(batch_ms), len(batch_ms)),
        "ingest.upsert_rows_per_s": (
            rows / med([r["wall_s"] for r in keys["ingest_upsert"][1:]]),
            len(keys["ingest_upsert"]) - 1),
        "ingest.readback_s": (
            med([r["wall_s"] for r in keys["ingest_readback"][1:]]),
            len(keys["ingest_readback"]) - 1),
    }


def per_layer(raw):
    keys = by_key(raw["attempts"])
    cores = raw["cores"]
    passes = raw["passes"]
    all_rs = raw["attempts"]

    def warm(field, scale=1.0):
        return sum(med([r.get(field, 0.0) for r in rs[1:]])
                   for rs in keys.values()) * scale

    def cold(field, scale=1.0):
        return sum(rs[0].get(field, 0.0) for rs in keys.values()) * scale

    def worst(field, scale=1.0):
        return max((med([r.get(field, 0.0) for r in rs[1:]])
                    for rs in keys.values()), default=0.0) * scale

    def kernel(key):
        rs = keys.get(key)
        return med([r.get("exec_s", 0.0) for r in rs[1:]]) if rs else 0.0

    def drain(field, per_batch=False):
        rs = keys.get("ingest_drain", [None])[1:]
        return med([r.get(field, 0.0) / (r.get("batches") or 1
                                          if per_batch else 1)
                    for r in rs]) if rs else 0.0

    exec_s = warm("exec_s")
    stores = sum(r.get("block_stores", 0.0) for r in all_rs)
    m = {
        "operators.build_s": warm("build_s"),
        "operators.plan_s": warm("plan_s"),
        "operators.plan_cold_s": cold("plan_s"),
        "operators.exec_s": exec_s,
        "sched.jobs": warm("jobs"),
        "sched.stages": warm("stages"),
        "sched.tasks": warm("tasks"),
        "sched.core_busy_share":
            warm("exec_run_ms", 1e-3) / (exec_s * cores) if exec_s else 0.0,
        "sched.job_gap_s": warm("job_gap_ms", 1e-3),
        "sched.task_skew": worst("task_skew"),
        "exec.run_s": warm("run_ms", 1e-3),
        "exec.cpu_s": warm("cpu_ms", 1e-3),
        "exec.gc_s": warm("gc_ms", 1e-3),
        "shuffle.write_mb": warm("shuffle_write_b", 1 / MB),
        "shuffle.read_mb": warm("shuffle_read_b", 1 / MB),
        "shuffle.fetch_wait_s": warm("fetch_wait_ms", 1e-3),
        "memory.spill_mb": warm("spill_mem_b", 1 / MB),
        "memory.peak_exec_mb": worst("peak_exec_b", 1 / MB),
        "codegen.compiles": cold("codegen_compiles"),
        "codegen.compile_ms": cold("codegen_ms"),
        "codegen.warm_compiles": warm("codegen_compiles"),
        "tables.resolve_s": med(raw["resolve_s"]),
        "scan.input_mb": warm("input_b", 1 / MB),
        "scan.input_rows": warm("input_rows"),
        "pins.created": warm("pins_created"),
        "pins.mb": warm("pins_b", 1 / MB),
        "pins.dup_stores":
            sum(r.get("dup_stores", 0.0) for r in all_rs) / passes,
        "pins.useful_share":
            sum(r.get("distinct_blocks", 0.0) for r in all_rs) / stores
            if stores else 1.0,
        "plans.topk_sort_fallbacks": warm("topk_sort_fallbacks"),
        "op.sort_s": warm("op_sort_ms", 1e-3),
        "op.agg_s": warm("op_agg_ms", 1e-3),
        "op.scan_s": warm("op_scan_ms", 1e-3),
        "op.bcast_build_s": warm("op_bcast_build_ms", 1e-3),
        "kernel.shingle_hash_s": kernel("kernel_shingle_hash"),
        "kernel.minhash_s": kernel("kernel_minhash"),
        "kernel.intersect_s": kernel("kernel_intersect"),
        "kernel.dot_f32_s": kernel("kernel_dot_f32"),
        "stream.add_batch_ms": drain("add_batch_ms", per_batch=True),
        "stream.get_batch_ms": drain("get_batch_ms", per_batch=True),
        "stream.planning_ms": drain("planning_ms", per_batch=True),
        "stream.wal_commit_ms": drain("wal_commit_ms", per_batch=True),
        "stream.state_rows": drain("state_rows"),
        "stream.watermark_dropped": drain("watermark_dropped"),
        "sink.write_s": drain("sink_write_s"),
        "sink.bytes_mb": drain("sink_bytes") / MB,
        "sink.files": drain("sink_files"),
        "sink.write_amp": (drain("sink_bytes") / drain("input_bytes")
                           if drain("input_bytes") else 0.0),
        "trace.warm_s": e2e(raw)["warm_s"][0],
    }
    samples = {k: max(passes - 1, 1) for k in m}
    out = {k: (v, samples[k]) for k, v in m.items()}
    for k, v in ingest_detail(raw).items():
        out.setdefault(k, v)
    for k in ("ingest.eps", "ingest.batch_ms_p50", "ingest.batch_ms_high",
              "ingest.batch_samples", "ingest.upsert_rows_per_s",
              "ingest.readback_s"):
        out.setdefault(k, (0.0, 0))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        spec = json.loads((HERE / "spec.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read the benchmark definition: {e}")
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    try:
        classes = build.build()
    except Exception as e:  # noqa: BLE001 - any build failure stops the run
        fail(f"build failed: {e}", 3)

    keys = list(spec["workloads"][a.workload]["keys"])
    if a.workload != "ingest":
        random.Random(a.seed).shuffle(keys)
    cores = len(os.sched_getaffinity(0))
    passes = max(2, round(spec["workloads"][a.workload]["passes"] *
                          a.seconds / 10))
    work = build.build_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    try:
        code = run_java(classes, spec, a, keys, passes, work, out, cores)
        if code is None:
            fail(f"run exceeded {TIMEOUT_S} s", 4)
        if code != 0 or not out.exists():
            fail(f"benchmark JVM exited with {code}", 4)
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    gold_path = HERE / "goldens.json"
    goldens = json.loads(gold_path.read_text()) if gold_path.exists() else {}
    attempted, failed, notes = judge(raw, goldens)
    for n in notes:
        print(f"perfbench: FAILED {n}", file=sys.stderr)

    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    names = [m["name"] for m in
             bench["per_layer" if a.trace else "end_to_end"]]
    values = per_layer(raw) if a.trace else e2e(raw)
    metrics = {n: {"value": values[n][0], "unit": units[n]} for n in names}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": cores, "passes": raw["passes"], "keys": keys,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failed_share": failed / attempted if attempted else 1.0,
        "metrics": {n: dict(metrics[n], workload=a.workload,
                            samples=values[n][1], seed=a.seed)
                    for n in names},
        "detail": {k: {"value": v[0], "samples": v[1]}
                   for k, v in ingest_detail(raw).items()},
        "per_key": {k: [round(r["wall_s"], 4) if r.get("ok") else
                        -round(r["wall_s"], 4) for r in rs]
                    for k, rs in by_key(raw["attempts"]).items()},
        "feed": raw.get("feed"),
        "timing": {k: raw[k] for k in ("session_s", "resolve_s", "stage_s",
                                       "measure_s", "gc_s")},
        "tables_kept": raw["tables_kept"],
        "wall_s": time.time() - t_start,
    }
    rec_dir = build.build_dir() / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    (rec_dir / f"{stem}.json").write_text(json.dumps(record) + "\n")
    if a.trace and "spans" in raw:
        (rec_dir / f"{stem}.spans.json").write_text(json.dumps(raw["spans"]))
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
