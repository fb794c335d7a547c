#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program (with the repository's own build) and the benchmark's JVM side
with sbt and records the classpath in .bench_build/. Each run then
generates the workload's inputs from the seed, runs one JVM (one client
in a closed loop against local[nproc]; SPARK_GRAFT_CPUS overrides nproc)
in a scratch directory of its own, checks the outputs, and prints two
JSON lines: a detail line (provenance, the workload's own figures,
failures) and, last, the result line {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The exit code is 0 only when every
operation and check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

HEAP = "2g"
# the heap starts small and grows as the program needs it, so the resident
# set follows the program's memory; the throughput collector sizes it more
# repeatably from run to run than G1 does
JVM_FLAGS = ["-XX:+UseParallelGC"]
JVM_DEADLINE_S = 170  # a run must end within 180 s after the build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

CATALOG = dict(schemas=4, tables=50, columns=25, views=10)
STORE = dict(base_docs=400, batches=60, batch_docs=100)
COMPACT_EVERY = 2
# the store group query_suite ingests into: one batch in the warm-up and
# one per pass, each compacted; the loop stops when the batches run out
SUITE_STORE = dict(base_docs=400, batches=8, batch_docs=20)
# A fixed subset of SparkEntry.orderedQueries: one warm-up plus timed
# passes over all 120 queries do not fit a run (see perfbench/README.md).
SUITE_QUERIES = [
    "q1_agg_pricing", "q11_exists_packed", "q21_funnel",
    "q31_intersect_except", "p14_ivf_ann", "p19_decontaminate",
    "p28_containment", "p37_cross_source_dup", "p46_centroid_drift",
    "p56_exact_sample", "p66_hybrid_rrf", "p72_dsir_weights"]

END_TO_END = {"setup_s": "s", "op_geomean_s": "s", "pass_s": "s",
              "peak_rss_mb": "MB"}
LAYERS = ["smo.build", "concepts.apply", "status.rollup", "scoring.mde",
          "engine.whatif", "queries.relational.build",
          "queries.relational.execute", "queries.pipeline.build",
          "queries.pipeline.execute", "streaming.ingest_batch",
          "streaming.compact", "operators.topk_probe"]
COUNTER_UNITS = {"s": "s", "jobs": "count", "stages": "count",
                 "tasks": "count", "driver_s": "s", "cpu_s": "s",
                 "shuffle_bytes": "bytes", "gc_s": "s"}
EXTRA_UNITS = {"catalog.load_s": "s", "queries.exchanges": "count",
               "queries.reused_exchanges": "count",
               "queries.spill_bytes": "bytes", "store.bytes_written": "bytes",
               "store.bytes_live": "bytes", "store.files": "count",
               "ingest.accepted": "count", "ingest.duplicate": "count",
               "ingest.low_quality": "count", "ingest.contaminated": "count",
               "ingest.accept_ratio": "ratio",
               "ingest.planted_dup_caught_ratio": "ratio"}
# the operation each workload's op_* metrics time
UNIT_OP = {"catalog_ops": None, "query_suite": None, "store_ingest": "batch"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded classpath matches the sources."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("the program's sources (src/main/scala/graft) are not beside "
             "perfbench/; run from a checkout of the repository")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1], digest
    try:
        p = subprocess.run(
            # no boot lock: a build writes nothing outside the checkout
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build failed: {e}", 3)
    cp = [ln for ln in p.stdout.splitlines()
          if os.path.join("target", "scala-2.13", "classes") in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(f"{digest}\n{cp[-1].strip()}\n")
    return cp[-1].strip(), digest


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree."""
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel",
                            "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    lines = p.stdout.split()
    if p.returncode != 0 or len(lines) != 2 \
            or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def generate(workload, in_dir, seed):
    """Write the inputs; return (expectations for the JVM, input sizes)."""
    if workload == "catalog_ops":
        f = gen.catalog(in_dir, seed, **CATALOG)
        expect = {f"status.{k}": v for k, v in f["status"].items()}
        expect.update({"whatif.schema": f["whatif_schema"],
                       "whatif.table": f["whatif_table"],
                       "whatif.column_count": f["whatif_column_count"],
                       "mde.rows": f["base_tables"]})
        sizes = dict(CATALOG, columns_total=f["status"]["column_count"],
                     whatif_dropped_relations=f["whatif_dropped_relations"])
    elif workload == "store_ingest":
        expect = store_expect(in_dir, seed, STORE)
        expect["compact_every"] = COMPACT_EVERY
        sizes = dict(STORE, compact_every=COMPACT_EVERY)
    else:
        f = gen.suite_tables(in_dir, seed)
        os.makedirs(os.path.join(in_dir, "store"))
        expect = store_expect(os.path.join(in_dir, "store"), seed, SUITE_STORE)
        expect.update({f"rows.{t}": n for t, n in f["rows"].items()})
        expect["queries"] = ",".join(SUITE_QUERIES)
        sizes = dict(f["rows"], queries=len(SUITE_QUERIES),
                     store=SUITE_STORE)
    return expect, sizes


def store_expect(in_dir, seed, sizes):
    """Write a store corpus; return the planted duplicates per batch."""
    f = gen.corpus(in_dir, seed, **sizes)
    expect = {"batches": f["batches"]}
    for kind in ("exact", "near"):
        for b, ids in enumerate(f["planted"][kind]):
            expect[f"{kind}.{b}"] = ",".join(map(str, ids))
    return expect


def end_to_end(workload, raw, ops, launch_s):
    """The gated end-to-end values, and the workload's own figures, from
    the timed loop's passes (every pass is complete)."""
    setup = raw["setup"]
    timed = [o for o in ops if o["pass"] >= 0]
    unit = [o["seconds"] for o in timed
            if UNIT_OP[workload] in (None, o["kind"])]
    values = {
        "setup_s": launch_s + statistics.median(setup["prepare_s"])
        + setup.get("store_build_s", 0.0) + setup["warmup_s"],
        "op_geomean_s": statistics.geometric_mean(unit),
        "pass_s": statistics.fmean(o["seconds"] for o in timed)
        * setup["ops_per_pass"],
        "peak_rss_mb": raw["peak_rss_mb"],
    }

    def p50(kind):
        return metrics.median([o["seconds"] for o in timed if o["kind"] == kind])
    t, pct, n = metrics.tail(unit)
    figures = {"op_p50_s": metrics.median(unit), "op_tail_s": t,
               "op_tail_percentile": round(pct, 1), "op_samples": n,
               "p50_s_by_op": {k: p50(k) for k in sorted({o["kind"] for o in timed})}}
    if workload == "catalog_ops":
        figures.update(refresh_p50_s=p50("refresh"), status_p50_s=p50("status"))
        return values, figures
    queries = [o["seconds"] for o in timed if o["kind"] not in ("batch", "probe")]
    batches = [o["seconds"] for o in timed if o["kind"] == "batch"]
    if workload == "query_suite":
        figures.update(suite_s=sum(queries) / max(1, len(batches)),
                       query_p50_s=metrics.median(queries),
                       query_tail_s=metrics.tail(queries)[0])
    o = raw["observed"]
    figures.update(batch_p50_s=metrics.median(batches),
                   batch_tail_s=metrics.tail(batches)[0],
                   probe_p50_s=p50("probe"), batches=o["batches"],
                   write_amp=o["bytes_written"] / max(1, o["input_bytes"]),
                   space_amp=o["bytes_live"]
                   / max(1, o["input_bytes"] + o["base_bytes"]))
    return values, figures


def per_layer(raw):
    spans = raw["spans"]
    out = {}
    for layer in LAYERS:
        c = metrics.span_counters([s for s in spans if s["name"] == layer])
        out.update({f"{layer}.{k}": v for k, v in c.items()})
    load = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
            if s["name"] == "catalog.load"]
    ex = [s for s in spans if s["name"].startswith("queries.")
          and s["name"].endswith(".execute")]
    out["catalog.load_s"] = statistics.fmean(load) if load else 0.0
    for k, f in (("queries.exchanges", "exchanges"),
                 ("queries.reused_exchanges", "reused_exchanges"),
                 ("queries.spill_bytes", "spill_bytes")):
        out[k] = statistics.fmean(s[f] for s in ex) if ex else 0.0
    o = raw["observed"]
    fates = o.get("fates", {})
    seen = sum(fates.values())
    planted = o.get("planted_exact", 0) + o.get("planted_near", 0)
    out.update({
        "store.bytes_written": o.get("bytes_written", 0),
        "store.bytes_live": o.get("bytes_live", 0),
        "store.files": o.get("files", 0),
        "ingest.accepted": fates.get("accepted", 0),
        "ingest.duplicate": fates.get("duplicate", 0),
        "ingest.low_quality": fates.get("low_quality", 0),
        "ingest.contaminated": fates.get("contaminated", 0),
        "ingest.accept_ratio": fates.get("accepted", 0) / seen if seen else 0.0,
        "ingest.planted_dup_caught_ratio":
            o.get("planted_caught", 0) / planted if planted else 0.0,
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(UNIT_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the JVM and the run directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, digest = build()
    start = time.time()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    in_dir = os.path.join(work, "in")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(in_dir)
    try:
        expect, sizes = generate(a.workload, in_dir, a.seed)
        expect_path = os.path.join(work, "expect.properties")
        with open(expect_path, "w") as fh:
            fh.writelines(f"{k}={v}\n" for k, v in sorted(expect.items()))
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xmx{HEAP}", *JVM_FLAGS]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
                  "-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--in", in_dir, "--work", work,
                  "--out", out, "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--cpus", str(cpus),
                  "--expect", expect_path])
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, JVM_DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                fail("the benchmark JVM did not finish in time", 4)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"the benchmark JVM exited with {rc}", 4)
        with open(out) as fh:
            raw = json.load(fh)

        ops = raw["ops"]
        errors = [{"op": k, "error": m} for k, m in raw["errors"]]
        attempted, failed = len(ops), sum(not o["ok"] for o in ops)
        if a.workload == "query_suite":
            with open(os.path.join(work, "oracle_sql.json")) as fh:
                sql = json.load(fh)
            ran = [o["kind"][len("check:"):] for o in ops
                   if o["kind"].startswith("check:") and o["ok"]]
            bad = oracle.check(in_dir, os.path.join(work, "out"), ran, sql)
            attempted += len(ran)
            failed += len(bad)
            errors += [{"op": n, "error": f"oracle: {m}"} for n, m in sorted(bad.items())]

        launch_s = raw["session_ready_ms"] / 1e3 - start
        values, figures = end_to_end(a.workload, raw, ops, launch_s)
        figures["error_rate"] = failed / attempted
        overhead, kinds = metrics.trace_overhead(
            [o for o in ops if o["pass"] >= 0])
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": bool(a.trace),
            "provenance": {
                "nproc": len(os.sched_getaffinity(0)), "cpus": cpus,
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "spark_parallelism": raw["parallelism"],
                "driver_heap": HEAP, "max_heap_mb": raw["max_heap_mb"],
                "spark_version": raw["spark_version"],
                "java_version": raw["java_version"],
                "git_commit": git_commit(), "sources_sha256": digest,
                "input_sizes": sizes},
            "setup": {"launch_s": launch_s,
                      "jvm_and_session_s": (raw["session_ready_ms"]
                                            - raw["jvm_start_ms"]) / 1e3,
                      **raw["setup"]},
            "timed_loop": {"gc_s": raw["loop_gc_s"],
                           "steal_s": raw["loop_steal_s"]},
            "figures": figures,
            "end_to_end": values,
            "trace_overhead": overhead, "trace_overhead_kinds": kinds,
            "errors": errors,
        }
        if a.trace:
            metric_values = per_layer(raw)
            units = {f"{l}.{c}": u for l in LAYERS
                     for c, u in COUNTER_UNITS.items()}
            units.update(EXTRA_UNITS)
        else:
            metric_values, units = values, END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metric_values[k], "unit": units[k]}
                        for k in units},
        }
        print(json.dumps({"detail": detail}))
        print(json.dumps(result))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
