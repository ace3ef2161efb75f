#!/usr/bin/env python3
"""graft benchmark: two workloads at local[nproc], one JVM per run.

  python3 crawlbench/run.py --workload crawl-deep|analytics \
      --seed N --seconds S --trace 0|1
  python3 crawlbench/run.py --self-test

Builds the program from source on first use (see build.py), runs the
workload in one JVM (graftbench.Main), checks every output, and prints
two JSON lines: a report (the workload's named end-to-end metrics, the
host fingerprint, set-up breakdown) and, last, the result
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from
the traced run. Metric definitions: crawlbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("crawl-deep", "analytics")
JVM_TIMEOUT_S = 170  # a run must end within 180 s
CDS_JVM_TIMEOUT_S = 500  # the archive dump, once per build
HEAP = "3g"

END_TO_END = {"op_s_p50": "s", "setup_s": "s"}

# workload-specific end-to-end metrics, printed in the report line
NAMED = {
    "crawl-deep": {"urls_per_s": "1/s", "round_s_p50": "s", "store_bytes_per_url": "B", "failed_frac": "frac"},
    "analytics": {"query_total_s": "s", "failed_frac": "frac"},
}

CRAWL_LABELS = ("frontier-write", "spans-write", "metrics", "fetch-log-write", "seen-write",
                "bloom-update", "cuckoo-write", "pending-write")
STORE_TABLES = ("frontier", "output_spans", "metrics", "fetch_log", "url_seen_delta", "cuckoo", "pending")
QUERIES = ("q06_url_canonicalize", "q08_politeness_admission", "q25_minhash_lsh", "q46_neardup_clusters",
           "q65_containment", "q91_hits", "q96_bigram_lm", "q117_hyperplane_audit")


def _crawl_layers():
    m = [("pipeline.slot_util", "ratio", "higher"), ("pipeline.jobs_per_round", "count", "lower"),
         ("pipeline.barrier_wait_s", "s", "lower"), ("pipeline.gc_s", "s", "lower")]
    for label in CRAWL_LABELS:
        m += [(f"pipeline.job.{label}.wall_s", "s", "lower"), (f"pipeline.job.{label}.task_s", "s", "lower"),
              (f"pipeline.job.{label}.shuffle_mb", "MB", "lower")]
    m += [("functions.canonicalize.s", "s", "lower"), ("functions.canonicalize.rows", "count", "higher"),
          ("frontier.robots.s", "s", "lower"), ("frontier.robots.denied_frac", "frac", "lower"),
          ("frontier.seen.s", "s", "lower"), ("frontier.seen.rows_in", "count", "higher"),
          ("frontier.seen.bloom_new_frac", "frac", "higher"), ("frontier.seen.cuckoo_new_frac", "frac", "higher"),
          ("frontier.seen.exact_dup_frac", "frac", "lower"), ("frontier.seen.bloom_fpp_observed", "frac", "lower"),
          ("frontier.seen.bloom_fpp_configured", "frac", "lower"),
          ("frontier.politeness.s", "s", "lower"), ("frontier.politeness.admitted", "count", "higher"),
          ("frontier.politeness.deferred", "count", "lower"), ("frontier.politeness.skew", "ratio", "lower"),
          ("frontier.sketch.bloom_update_s", "s", "lower"), ("frontier.sketch.cuckoo_update_s", "s", "lower"),
          ("sources.fetch_convert.s", "s", "lower"), ("sources.fetch_convert.rows", "count", "higher"),
          ("sources.fetch_convert.error_frac", "frac", "lower")]
    m += [(f"sources.store.write_s.{t}", "s", "lower") for t in STORE_TABLES]
    m += [(f"sources.store.bytes.{t}", "B", "lower") for t in STORE_TABLES]
    m += [("sources.store.commit_s", "s", "lower"), ("sources.store.read_seen_s", "s", "lower")]
    return m


def _query_layers():
    m = []
    for q in QUERIES:
        m += [(f"query.{q}.s", "s", "lower"), (f"query.{q}.task_s", "s", "lower"),
              (f"query.{q}.shuffle_mb", "MB", "lower"), (f"query.{q}.jobs", "count", "lower")]
    return m


CRAWL_LAYERS = _crawl_layers()
QUERY_LAYERS = _query_layers()
PER_LAYER = CRAWL_LAYERS + QUERY_LAYERS + [("trace.overhead_frac", "frac", "lower")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(classpath, tmp, flags, main, main_args):
    # -UsePerfData: no hsperfdata file under the system temp directory
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + flags
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, main] + main_args)


def wait_jvm(cmd, out_dir, timeout, what):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: {what} exceeded {timeout} s; log in {out_dir}/jvm.log")
    if code != 0:
        tail = open(os.path.join(out_dir, "jvm.log"), errors="replace").read()[-3000:]
        sys.exit(f"run: {what} exited with {code}\n{tail}")


def cds_archive(classpath, bench_hash):
    """The build's class-data-sharing archive, which takes JVM class
    loading out of every measured run's set-up. A throw-away JVM
    (graftbench.Warm: every workload at tiny size) dumps it once
    per build, before any measured run, so all measured runs map the
    same archive."""
    archive = os.path.join(build.build_dir(), f"cds-{bench_hash[:16]}.jsa")
    if os.path.exists(archive):
        return archive
    out_dir = os.path.join(build.build_dir(), "runs", f"{time.strftime('%Y%m%dT%H%M%S')}-cds-{os.getpid()}")
    os.makedirs(out_dir)
    print("run: dumping the class-data-sharing archive", file=sys.stderr)
    cmd = java(classpath, os.path.join(out_dir, "tmp"), [f"-XX:ArchiveClassesAtExit={archive}.tmp"],
               "graftbench.Warm", ["--threads", str(nproc()), "--out", out_dir])
    try:
        wait_jvm(cmd, out_dir, CDS_JVM_TIMEOUT_S, "class-data-sharing warm-up JVM")
    finally:
        for d in os.listdir(out_dir):
            if os.path.isdir(os.path.join(out_dir, d)):
                shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    if not os.path.exists(archive + ".tmp"):
        sys.exit(f"run: the warm-up JVM wrote no archive; log in {out_dir}/jvm.log")
    os.replace(archive + ".tmp", archive)
    for old in os.listdir(build.build_dir()):  # archives of superseded builds
        if old.startswith("cds-") and os.path.join(build.build_dir(), old) != archive:
            os.remove(os.path.join(build.build_dir(), old))
    return archive


def run_jvm(classpath, archive, args, out_dir, launched_ms):
    """Runs graftbench.Main on the build's class-data-sharing archive."""
    cmd = java(classpath, os.path.join(out_dir, "tmp"), [f"-XX:SharedArchiveFile={archive}"], "graftbench.Main",
               ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--size", args.size, "--threads", str(nproc()),
                "--out", out_dir, "--launched-ms", str(launched_ms)])
    wait_jvm(cmd, out_dir, JVM_TIMEOUT_S, "benchmark JVM")
    with open(os.path.join(out_dir, "result.json")) as fh:
        return json.load(fh)


def layer_metrics(workload, layers):
    """Every per-layer metric: the workload's own layers must all be
    measured; layers the workload does not run are reported as 0."""
    own = {n for n, _, _ in (QUERY_LAYERS if workload == "analytics" else CRAWL_LAYERS)}
    own.add("trace.overhead_frac")
    missing = sorted(n for n in own if not isinstance(layers.get(n), (int, float)))
    if missing:
        sys.exit(f"run: traced run did not measure {missing}")
    return {n: {"value": float(layers[n]) if n in own else 0.0, "unit": u} for n, u, _ in PER_LAYER}


def one_run(args):
    if args.workload is None:
        sys.exit("run: --workload is required")
    classpath, src_hash, bench_hash = build.ensure()
    archive = cds_archive(classpath, bench_hash)
    runs = os.path.join(build.build_dir(), "runs")
    out_dir = os.path.join(runs, f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(out_dir)
    # set-up starts after the build and archive dump, which only the first run of a build pays
    launched_ms = int(time.time() * 1000)
    try:
        res = run_jvm(classpath, archive, args, out_dir, launched_ms)
        ops = res["ops"]
        failed_ops = [o for o in ops if not o["ok"]]
        problems = list(res["problems"])
        if args.workload == "analytics":
            verdict = oracle.check(res["extra"]["data_dir"], res["extra"]["oracle_dir"])
            bad = {q: why for q, why in verdict.items() if why}
            for q, why in bad.items():
                problems.append(f"{q}: oracle mismatch: {why}")
            failed_ops = [o for o in ops if not o["ok"] or o["id"].split("/")[1] in bad]
    finally:
        for d in ("work", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)

    attempted = len(ops)
    failed = len(failed_ops)
    named = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["report"].items()}
    named["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "frac"}
    named["setup_s"] = {"value": res["e2e"]["setup_s"], "unit": "s"}
    named["op_s_p50"] = {"value": res["e2e"]["op_s_p50"], "unit": "s"}
    fingerprint = {
        "nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap_max_bytes": res["jvm"]["heap_max_bytes"],
        "spark": res["jvm"]["spark"], "scala": res["jvm"]["scala"], "jdk": res["jvm"]["jdk"],
        "threads": res["jvm"]["threads"], "git_commit": git_commit(), "src_sha256": src_hash,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "loadavg_1m": os.getloadavg()[0],
    }
    report = {"report": named, "fingerprint": fingerprint, "setup": res["setup"],
              "op_s_samples": res["op_s_samples"], "problems": problems,
              "failures": [f"{o['id']}: {o['why']}" for o in failed_ops][:20], "run_dir": out_dir}
    if args.trace:
        metrics = layer_metrics(args.workload, res["layers"])
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    bad_values = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad_values:
        sys.exit(f"run: non-finite metric values {bad_values}")
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def self_test():
    """Tiny runs of every workload, traced and untraced: every named
    metric must be printed with its unit and the output must parse."""
    errors = []
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench_json):
        with open(bench_json) as fh:
            b = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in b["per_layer"]}
        if e2e != END_TO_END:
            errors.append(f"BENCHMARK.json end_to_end {e2e} != {END_TO_END}")
        if layers != {n: u for n, u, _ in PER_LAYER}:
            errors.append("BENCHMARK.json per_layer differs from run.py's PER_LAYER")
        if sorted(w["name"] for w in b["workloads"]) != sorted(WORKLOADS):
            errors.append("BENCHMARK.json workloads differ from run.py's")
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
            tag = f"{w} trace={trace}"
            lines = [x for x in r.stdout.splitlines() if x.strip()]
            if r.returncode != 0 or len(lines) < 2:
                errors.append(f"{tag}: exit {r.returncode}: {r.stderr[-800:]}")
                continue
            try:
                report, result = json.loads(lines[-2]), json.loads(lines[-1])
            except json.JSONDecodeError as e:
                errors.append(f"{tag}: output does not parse: {e}")
                continue
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            want = END_TO_END if trace == 0 else {n: u for n, u, _ in PER_LAYER}
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                errors.append(f"{tag}: metrics/units differ: missing {sorted(set(want) - set(got))}, "
                              f"extra {sorted(set(got) - set(want))}, "
                              f"unit mismatch {[k for k in want if k in got and got[k] != want[k]]}")
            if not all(isinstance(v.get("value"), (int, float)) for v in result["metrics"].values()):
                errors.append(f"{tag}: a metric value is not a number")
            for k, u in NAMED[w].items():
                if report["report"].get(k, {}).get("unit") != u:
                    errors.append(f"{tag}: report lacks {k} [{u}]")
            for k in ("nproc", "mem_total_kb", "heap_max_bytes", "spark", "scala", "jdk", "git_commit", "seed"):
                if k not in report["fingerprint"]:
                    errors.append(f"{tag}: fingerprint lacks {k}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: not correct: {report.get('problems')} {report.get('failures')}")
            print(f"self-test: {tag}: {len(result['metrics'])} metrics, attempted {result['attempted']}, "
                  f"failed {result['failed']}", file=sys.stderr)
    for e in errors:
        print("self-test FAIL:", e, file=sys.stderr)
    print(json.dumps({"self_test": "fail" if errors else "pass", "errors": len(errors)}))
    sys.exit(1 if errors else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        self_test()
    else:
        one_run(args)


if __name__ == "__main__":
    main()
