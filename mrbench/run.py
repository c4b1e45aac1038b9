#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one fresh JVM.

Usage (from the repository root):

    python3 mrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see mrbench/README.md for why each was chosen):
  mr_corpus      graft.mr.MRJob wc then indexer over a seeded Zipf corpus
  llm_ops        SparkEntry queries q210 and q21 (Dedup), q113 (Graph) and
                 q86 (Relational): md5 hash chains, capped LSH dedup,
                 iterative rounds over checkpoints, the GroupTopK rule

The run builds the engine and the harness from source when they changed
(sbt, offline), derives the inputs from the seed (cached under
mrbench/.work/inputs and excluded from every metric), runs the JVM
harness, then checks the outputs of its first warm-up pass: the queries
against DuckDB running SparkEntry.oracleSql through tools/check_oracle.py,
the MR jobs against a sequential wc and indexer. The last line of stdout
is one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import collections
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
SNAPSHOT = BENCH / "data" / "sf0.01"
WORKLOADS = ("mr_corpus", "llm_ops")

# Tables: the sf0.01 snapshot with every id column shifted by one
# seed-chosen offset, so joins stay consistent and dtypes and value
# distributions are kept.
ID_COLS = {
    "region": [], "nation": [],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Corpus: CORPUS_FILES files, CORPUS_TOKENS words in all, drawn from a
# Zipf(1.1) vocabulary of VOCAB letter-only words.
CORPUS_FILES = 16
CORPUS_TOKENS = 2_000_000
VOCAB = 40_000

HEAP = "2g"
JVM_TIMEOUT_S = 160
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[mrbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def build():
    """Compile the engine's main sources and the harness with sbt unless
    a stamp of their contents says the classes are current."""
    files = sorted([*(ROOT / "src" / "main" / "scala").rglob("*.scala"),
                    *(BENCH / "src").rglob("*.scala"),
                    BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = BENCH / "target" / "mrbench.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    log("building engine and harness (sbt compile)")
    tmp = WORK / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt's temp files, server socket and JVM perf data stay in the
    # checkout; sbt still reads its launcher and caches from the home dir
    opts = [f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
            "-Dsbt.server.autostart=false", "-XX:-UsePerfData"]
    env = dict(os.environ,
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", ""), *opts]))
    with open(WORK / "build.log", "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=BENCH, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.stderr.write((WORK / "build.log").read_text()[-4000:])
        die("build failed")
    stamp.write_text(digest.hexdigest())


def ready_dir(name, make):
    """Input cache: `make(tmp)` fills a fresh directory that becomes
    WORK/inputs/<name> once complete."""
    d = WORK / "inputs" / name
    if (d / "_READY").exists():
        return d
    tmp = d.with_name(name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    make(tmp)
    (tmp / "_READY").write_text("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def make_tables(seed):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    shift = random.Random(seed).randrange(1, 100) * 1_000_000

    def make(d):
        for table, keys in ID_COLS.items():
            t = pq.read_table(SNAPSHOT / f"{table}.parquet")
            for k in keys:
                i = t.schema.get_field_index(k)
                t = t.set_column(i, t.schema.field(i),
                                 pc.add(t.column(k), shift))
            pq.write_table(t, d / f"{table}.parquet")
    return ready_dir(f"tables-{seed}", make)


def make_corpus(seed):
    import numpy as np

    def make(d):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = {"".join(rng.choice(letters, n))
                 for n in rng.integers(2, 11, VOCAB)}
        vocab = np.array(sorted(words))
        rng.shuffle(vocab)
        p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        p /= p.sum()
        seps = np.array([" "] * 12 + [", ", ". ", "\n", "; ", " -- ",
                                      " 1999 ", "'s "])
        per_file = CORPUS_TOKENS // CORPUS_FILES
        wc, docs = collections.Counter(), collections.defaultdict(set)
        for f in range(CORPUS_FILES):
            name = f"doc-{f:02d}.txt"
            idx = rng.choice(len(vocab), per_file, p=p)
            text = "".join(np.char.add(vocab[idx],
                                       rng.choice(seps, per_file)).tolist())
            (d / name).write_text(text)
            # the sequential oracle, in the style of mrsequential: the
            # same map (letter runs) and reduce, then one global sort
            words = re.findall(r"[^\W\d_]+", text)
            wc.update(words)
            for w in set(words):
                docs[w].add(name)
        wc = sorted(f"{w} {c}" for w, c in wc.items())
        ix = sorted(f"{w} {len(ds)} {','.join(sorted(ds))}"
                    for w, ds in docs.items())
        (d / "expected.json").write_text(json.dumps(
            {"wc": lines_digest(wc), "indexer": lines_digest(ix)}))
    return ready_dir(f"corpus-{seed}", make)


def lines_digest(sorted_lines):
    h = hashlib.sha256()
    for line in sorted_lines:
        h.update(line.encode() + b"\n")
    return [len(sorted_lines), h.hexdigest()]


def check_mr(corpus, check):
    expected = json.loads((corpus / "expected.json").read_text())
    bad = []
    for job, want in expected.items():
        lines = []
        for part in sorted((check / job).glob("part-*")):
            lines += part.read_text().splitlines()
        if lines_digest(sorted(lines)) != want:
            bad.append(job)
            log(f"FAIL {job}: output differs from the sequential oracle")
    return bad


def check_queries(tables, check):
    names = json.loads((check / "oracle_sql.json").read_text())
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(tables), str(check)],
                       capture_output=True, text=True, timeout=60)
    ok = {line.split()[1] for line in r.stdout.splitlines()
          if line.startswith("OK ")}
    bad = sorted(set(names) - ok)
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            log(line[:400])
    if r.returncode not in (0, 1):
        log(r.stderr[-2000:])
    return bad


def run_jvm(args, data, run):
    cpus = str(len(os.sched_getaffinity(0)))
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    jars = Path(os.environ["SPARK_HOME"]) / "jars"
    for d in ("local", "warehouse", "tmp"):
        (run / d).mkdir(parents=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [str(java), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={run / 'tmp'}",
           f"-Dspark.local.dir={run / 'local'}",
           f"-Dspark.sql.warehouse.dir={run / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{BENCH / 'target' / 'scala-2.13' / 'classes'}:{jars}/*",
           "mrbench.Harness", "--workload", args.workload,
           "--data", str(data), "--work", str(run),
           "--seconds", str(args.seconds), "--seed", str(args.seed),
           "--trace", str(args.trace), "--result", str(run / "result.json")]
    if args.trace:
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        cmd += ["--trace-out",
                str(traces / f"{args.workload}-{args.seed}.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=str(run / "local"))
    with open(run / "jvm.log", "w") as out:
        r = subprocess.run(cmd, cwd=run, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not (run / "result.json").exists():
        sys.stderr.write((run / "jvm.log").read_text()[-4000:])
        die(f"harness exited with {r.returncode}")
    return json.loads((run / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "tools" / "check_oracle.py").is_file():
        die(f"no engine sources under {ROOT}; run from a full checkout")
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME is not set")

    build()
    t0 = time.monotonic()
    if args.workload == "mr_corpus":
        data = make_corpus(args.seed)
    else:
        data = make_tables(args.seed)
    log(f"inputs ready in {time.monotonic() - t0:.1f} s: {data}")

    run = WORK / "run"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    t1 = time.monotonic()
    result = run_jvm(args, data, run)
    t2 = time.monotonic()
    bad = check_mr(data, run / "check") if args.workload == "mr_corpus" \
        else check_queries(data, run / "check")
    log(f"jvm {t2 - t1:.1f} s, {result['passes']} timed passes; "
        f"check {time.monotonic() - t2:.1f} s")
    log("median s per query: " + ", ".join(
        f"{k} {v:.2f}" for k, v in result["queries"].items()))
    for e in result["errors"]:
        log(f"error: {e}")
    failed = result["failed"] + len(bad)
    print(json.dumps({"correct": failed == 0,
                      "attempted": result["attempted"],
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
