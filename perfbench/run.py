"""Benchmark entry point: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repo root. It builds the program from source (build.py),
writes seeded input tables (gen.py), runs the harness JVM
(harness/PerfBench.scala), checks the program's outputs against DuckDB
running the program's own oracle SQL on the same tables, and prints as
its last line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
All state lives under .bench_build/ in the repo root. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

# Inventory queries of the mix, one per family: dedup, similarity,
# text, multimodal and streaming. The count is odd and three of the five
# cost under 0.2 s, so the median query falls inside that group rather
# than between two cost groups. The pipeline family is timed by the
# pipeline workload instead: pipeline_graph_nodes cost 12 s of set-up
# per run (its Stages chain, built cold three times) for 0.05 s per
# pass. Also left out: every query that writes through the program's
# fixed scratch path (scan_*/sink_* writers, stream_dsv2_ingest,
# scan_binary_files, scan_xml_docs, pipeline_batch_envelope), since a
# run must not write outside its checkout.
MIX = [
    "dedup_minhash_pairs", "sim_ann_lsh", "text_nucleus_coverage",
    "multimodal_phash_pairs", "stream_tumbling_window",
]

# Each workload's whole definition: table scale (gen.py) and the
# harness arguments that size it.
WORKLOADS = {
    "pipeline": {"scale": 0.001, "args": ["--docs-per-file", "100"]},
    "curation_mix": {"scale": 0.002, "args": ["--queries", ",".join(MIX)]},
}

# A run must end within 180 s. The harness gets what is left of
# LIMIT_S after input generation, minus CHECK_S for the output checks
# that follow it, and plans its set-up repetitions and timed loop to end
# within that; it is killed only if it overruns LIMIT_S.
LIMIT_S = 170
CHECK_S = 15

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

PER_LAYER_FILE = BENCH.parent / "BENCHMARK.json"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Half of RAM, clamped to 2-8 GiB (the repo's test-run formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def run_jvm(root, classes, work, workload, args, log_path, deadline):
    jars = build.spark_jars(root)
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dgraft.stagecache.dir={work / 'stagecache'}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        "perfbench.PerfBench", "--workload", workload, "--work", str(work),
        "--data", str(work / "data"), "--cores", str(cores()),
        "--budget-s", f"{deadline - CHECK_S - time.monotonic():.1f}",
    ] + args
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_SCRATCH"] = str(work / "stream")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env.pop("SPARK_GRAFT_STAGECACHE", None)
    for d in ("tmp", "stream", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    return rc


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def rows_repr(con, sql):
    return [tuple(repr(v) for v in r) for r in con.execute(sql).fetchall()]


def check_graph(con, checks):
    """The sink's nodes and edges equal the oracle's, as row multisets."""
    sink = checks["sink"]
    problems = []
    for part, oracle, cols in (("nodes", checks["oracle_nodes"], "label, key, uri"),
                               ("edges", checks["oracle_edges"], "src, dst, type")):
        want = sorted(rows_repr(con, f"SELECT {cols} FROM ({oracle})"))
        got = sorted(rows_repr(con, f"SELECT {cols} FROM read_parquet("
                                    f"'{sink}/{part}/*/*.parquet', hive_partitioning = true)"))
        if want != got:
            problems.append(f"{part}: {len(got)} rows in the sink, {len(want)} from the oracle")
    return problems


def check_mix(con, checks):
    """Each query's written result has the row count every timed count
    was checked against, and equals its oracle's, row for row with
    columns sorted by name. Returns the names that differ."""
    bad = {}
    for name in checks["queries"]:
        if name not in checks["reference_counts"]:
            bad[name] = "no result in set-up"
    for name, sql in sorted(checks["oracles"].items()):
        if name in bad:
            continue
        try:
            exp = con.execute(sql)
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
            got = con.execute(f"SELECT * FROM '{checks['results']}/{name}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[name] = f"error: {e}"
            continue
        if len(grows) != checks["reference_counts"].get(name):
            bad[name] = f"written result has {len(grows)} rows, set-up counted " \
                        f"{checks['reference_counts'].get(name)}"
            continue
        if sorted(ecols) != sorted(gcols):
            bad[name] = f"columns {gcols} != {ecols}"
            continue
        ei = [ecols.index(c) for c in sorted(ecols)]
        gi = [gcols.index(c) for c in sorted(gcols)]
        want = [tuple(repr(r[i]) for i in ei) for r in erows]
        have = [tuple(repr(r[i]) for i in gi) for r in grows]
        if want != have:
            bad[name] = f"{len(have)} rows, oracle {len(want)}; values differ"
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = BENCH.parent
    try:
        classes = build.ensure_built(root)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    deadline = time.monotonic() + LIMIT_S

    spec = WORKLOADS[a.workload]
    work = root / build.BUILD_DIR / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    gen.generate(str(work / "data"), spec["scale"], a.seed)
    args = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    args += spec["args"]
    log_path = work / "jvm.log"
    t0 = time.monotonic()
    rc = run_jvm(root, classes, work, a.workload, args, log_path, deadline)
    sys.stderr.write(f"perfbench: harness JVM took {time.monotonic() - t0:.1f} s\n")
    result_path = work / "result.json"
    if rc != 0 or not result_path.is_file():
        sys.stderr.write(log_path.read_text()[-4000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    res = json.loads(result_path.read_text())

    ops = res["ops"]
    checks = res["checks"]
    con = duck(work / "data")
    problems = []
    failed_names = {}
    if a.workload == "pipeline":
        problems = check_graph(con, checks)
        if checks["batch_counts"][0] != checks["documents_in_corpus"]:
            problems.append(f"Engine.run read {checks['batch_counts'][0]} documents, "
                            f"the corpus has {checks['documents_in_corpus']}")
        # The sink is JSON lines: one line per document.
        in_sink = sum(len(f.read_bytes().splitlines())
                      for f in Path(checks["stream_sink"], "documents").glob("*.json"))
        if in_sink != checks["documents_landed"]:
            problems.append(f"stream sink holds {in_sink} documents, "
                            f"{checks['documents_landed']} landed")
        if not checks["all_batches_committed"]:
            problems.append("a batch did not commit")
    else:
        failed_names = check_mix(con, checks)
        problems = [f"{k}: {v}" for k, v in sorted(failed_names.items())]
    for msg in problems:
        sys.stderr.write(f"perfbench: check failed: {msg}\n")

    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_names)
    attempted = max(len(ops), 1)
    correct = not problems and failed == 0 and len(ops) > 0
    secs = [o["seconds"] for o in ops] or [0.0]

    if a.trace == 0:
        metrics = {
            "setup_s": (res["session_s"] + statistics.median(res["setup_reps_s"]), "s"),
            "op_p50_s": (statistics.median(secs), "s"),
            "op_mean_s": (res["timed_wall_s"] / attempted, "s"),
        }
    else:
        layers = dict(res["layers"])
        traced = [o["seconds"] for o in ops if o["traced"]]
        plain = [o["seconds"] for o in ops if not o["traced"]]
        if traced and plain:
            layers["trace.overhead.op_p50_s"] = statistics.median(traced) - statistics.median(plain)
            layers["trace.overhead.op_mean_s"] = statistics.mean(traced) - statistics.mean(plain)
        declared = json.loads(PER_LAYER_FILE.read_text())["per_layer"]
        metrics = {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"]) for m in declared}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
