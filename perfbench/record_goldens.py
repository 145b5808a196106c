#!/usr/bin/env python3
"""Records perfbench/goldens.json: the row count and output digest each
query key of the benchmark must produce.

    python3 perfbench/record_goldens.py

A one-off step, run when a key or the corpus changes; benchmark runs only
read the goldens. It
  1. runs graft.Verify on the committed corpus for the benchmark's keys,
     writing each program key's output as one ordered parquet file;
  2. checks every one of those outputs against its DuckDB oracle with
     tools/parity.py, and stops if any key fails or has no oracle;
  3. digests the checked outputs, and the benchmark's own kernel
     projections (which must agree between generated code and the
     interpreted path), in perfbench.Goldens;
  4. writes perfbench/goldens.json.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def java(classes, main, args, env=None):
    cp = os.pathsep.join([str(c) for c in classes] +
                         [str(build.spark_jars() / "*")])
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
           + run.HEAP + ["-Dspark.ui.enabled=false", "-cp", cp, main] + args)
    r = subprocess.run(cmd, env=dict(os.environ, **(env or {})))
    if r.returncode != 0:
        run.fail(f"{main} exited with {r.returncode}")


def main():
    spec = json.loads((run.HERE / "spec.json").read_text())
    keys = sorted({k for w, d in spec["workloads"].items() if w != "ingest"
                   for k in d["keys"]})
    corpus = str((run.ROOT / spec["corpus"]).resolve())
    cores = str(len(os.sched_getaffinity(0)))
    classes = build.build()
    work = build.build_dir() / "goldens"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    verified = work / "verify"
    try:
        java(classes[:1], "graft.Verify", [corpus, str(verified)],
             {"SPARK_GRAFT_ONLY": ",".join(keys), "SPARK_GRAFT_CPUS": cores})
        program = [k for k in keys if (verified / k).is_dir()]
        oracles = json.loads((verified / "oracle_sql.json").read_text())
        missing = [k for k in program if k not in oracles]
        if missing:
            run.fail(f"no DuckDB oracle for {missing}")
        r = subprocess.run([sys.executable, str(run.ROOT / "tools/parity.py"),
                            corpus, str(verified), ",".join(program)],
                           stdout=subprocess.PIPE, text=True)
        print(r.stdout, end="")
        if r.returncode != 0 or f"PASS {len(program)}/{len(program)}" \
                not in r.stdout:
            run.fail("the program's outputs do not all match their oracles")
        out = work / "goldens.json"
        java(classes, "perfbench.Goldens",
             ["--corpus", corpus, "--verified", str(verified),
              "--keys", ",".join(keys), "--out", str(out), "--cores", cores])
        goldens = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (run.HERE / "goldens.json").write_text(
        json.dumps(dict(sorted(goldens.items())), indent=1) + "\n")
    print(f"recorded {len(goldens)} goldens "
          f"({len(program)} checked against oracles)")


if __name__ == "__main__":
    main()
