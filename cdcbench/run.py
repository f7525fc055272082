#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 cdcbench/run.py --workload coref-stream --seed 1 --seconds 10 --trace 0

Builds the program (once per checkout), generates the workload's inputs
from the seed, runs the JVM harness (cdcbench.Main), checks the outputs,
writes a self-explaining result file under cdcbench/results/ and prints
one JSON line as the last line of standard output. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = gen.WORKLOADS
HEAP = "2g"
# The client compiler only. Every op loads tens of freshly generated
# classes, so the optimizing compiler never settles inside a window: it
# burns over two cores for the whole window and op latency keeps falling
# from one op to the next. C1 code runs these engine-bound ops about as
# fast, with a flat per-op latency.
JIT = "-XX:TieredStopAtLevel=1"
RUN_BUDGET_S = 175

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def percentile(samples, q):
    """Nearest-rank q-th tail percentile, or None when fewer than 10 samples
    lie beyond it (a tail read off a handful of samples is noise). The
    median is reported as a median, with its sample count."""
    s = sorted(samples)
    if not s:
        return None
    k = max(0, math.ceil(q / 100 * len(s)) - 1)
    return s[k] if len(s) - k - 1 >= 10 else None


def trend(latencies):
    """Median of the last quarter of ops over the median of the first."""
    q = len(latencies) // 4
    if q < 1:
        return None
    return statistics.median(latencies[-q:]) / statistics.median(latencies[:q])


def cpus():
    # fixed, and never more than the machine has: the engine otherwise
    # defaults to local[32]
    return min(4, os.cpu_count() or 1)


def run_jvm(workload, inputs, work, raw, seconds, trace, classpath, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", JIT, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main", workload, inputs, os.path.join(work, "run"),
            raw, str(seconds), str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
    try:
        proc.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    finally:
        log.close()
    return proc.returncode


def check_coref_batch(raw, result):
    """Every op's written pairs must score, by the harness's own MUC/B3/
    CEAF-e, what the program's evalSummary said; the same input must give
    the same pairs in every op."""
    first, scored, quality = {}, {}, {}
    bad = set()
    for op in raw["ops"]:
        if op["error"]:
            continue
        info = op["info"]
        for algo in ("greedy", "grinch"):
            rows = checks.read_pairs_dir(os.path.join(info["pairs_dir"], algo))
            digest = hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()
            key = (info["input"], algo)
            if first.setdefault(key, digest) != digest:
                bad.add(op["i"])
            if digest not in scored:
                scored[digest] = checks.cluster_scores(rows)
                quality[key] = (info[algo]["mean_f1"], checks.pair_recall(rows))
            mine, prog = scored[digest], info[algo]
            if not all(checks.approx_equal(mine[k], prog[k]) for k in mine):
                bad.add(op["i"])
                result["check_detail"].append(f"op {op['i']} {algo}: program {prog}, harness {mine}")
    f1s = [q[0] for q in quality.values()]
    recalls = [q[1] for q in quality.values()]
    return bad, (statistics.mean(f1s) if f1s else None), (statistics.mean(recalls) if recalls else None)


def check_dedup(raw, inputs, result):
    """Exact Jaccard of every emitted pair, planted exact duplicates grouped,
    one kept representative per component, and the same output for the same
    input. Quality: planted-pair recall, and the components scored against
    the planted groups."""
    num, den = gen.JACCARD_NUM, gen.JACCARD_DEN
    sets, planted, first, recall, f1 = {}, {}, {}, {}, {}
    bad = set()
    for op in raw["ops"]:
        if op["error"]:
            continue
        info = op["info"]
        idx, d = info["input"], info["out_dir"]
        if idx not in sets:
            sets[idx] = checks.load_docs(os.path.join(inputs, f"docs-{idx}.parquet"))
            planted[idx] = [(int(a), int(b), k) for a, b, k in
                            checks.read_tsv(os.path.join(inputs, f"planted-{idx}.tsv"), 3)]
        pairs = [tuple(map(int, r)) for r in checks.read_tsv(os.path.join(d, "pairs.tsv"), 4)]
        labels = [tuple(map(int, r)) for r in checks.read_tsv(os.path.join(d, "labels.tsv"), 2)]
        digest = hashlib.sha256(repr((sorted(pairs), sorted(labels))).encode()).hexdigest()
        if first.setdefault(idx, digest) != digest:
            bad.add(op["i"])
            result["check_detail"].append(f"op {op['i']}: output differs from input {idx}'s first op")
            continue
        if idx in recall:
            continue
        problems, r, due = checks.check_dedup_op(sets[idx], planted[idx], pairs, labels, num, den)
        n_comp = len({c for _, c in labels})
        if checks.kept_rows(d) != len(sets[idx]) - (len(labels) - n_comp):
            problems.append("kept representatives are not one per component")
        if problems:
            bad.add(op["i"])
            result["check_detail"].extend(f"op {op['i']}: {p}" for p in problems[:20])
        recall[idx] = r
        result.setdefault("planted_pairs_due", {})[str(idx)] = due
        comp = dict(labels)
        groups = checks.read_tsv(os.path.join(inputs, f"groups-{idx}.tsv"), 2)
        scores = checks.cluster_scores([(g, comp.get(int(d), int(d))) for d, g in groups])
        f1[idx] = statistics.mean(scores.values())
    # an input whose first op failed a check fails every op of that input
    failed_inputs = {op["info"]["input"] for op in raw["ops"] if op["i"] in bad}
    bad |= {op["i"] for op in raw["ops"] if not op["error"] and op["info"]["input"] in failed_inputs}
    return (bad, statistics.mean(f1.values()) if f1 else None,
            statistics.mean(recall.values()) if recall else None)


def summarize(workload, raw, inputs, trace, spec):
    result = {"workload": workload, "check_detail": []}
    if "fatal" in raw or "ops" not in raw:
        result["fatal"] = raw.get("fatal", "harness wrote no ops")
    ops = raw.get("ops", [])
    fin = raw.get("finish", {})
    bad = {op["i"] for op in ops if op["error"]}
    coref_f1 = fin.get("coref_f1")
    dup_recall = None
    run_ok = "fatal" not in result
    if ops and run_ok:
        if workload == "coref-stream":
            bad |= set(fin["failed_ops"])
            run_ok = not fin["warmup_failed"]
            rows = [tuple(r) for r in checks.read_tsv(fin["quality_pairs"], 2)]
            dup_recall = checks.pair_recall(rows)
            if fin["mismatched_ids"]:
                result["check_detail"].append(f"{fin['mismatched_ids']} mentions differ from clusterByKey")
        elif workload == "coref-batch":
            b, coref_f1, dup_recall = check_coref_batch(raw, result)
            bad |= b
        else:
            b, coref_f1, dup_recall = check_dedup(raw, inputs, result)
            bad |= b
    good = [op for op in ops if op["i"] not in bad]
    lat = [op["latency_ms"] for op in good]
    busy_s = sum(lat) / 1000
    e2e = {
        "setup_s": raw.get("setup_s"),
        "throughput_per_s": sum(op["records"] for op in good) / busy_s if busy_s else None,
        "latency_p50_ms": statistics.median(lat) if lat else None,
        "peak_rss_mb": raw.get("peak_rss_mb"),
        "coref_f1": coref_f1,
        "dup_recall": dup_recall,
    }
    result.update({
        "correct": run_ok and not bad and bool(ops),
        "attempted": len(ops),
        "failed": len(bad),
        "end_to_end": e2e,
        # coref-stream's tail; the batch workloads cannot give 100 ops a run
        "latency_p90_ms": percentile(lat, 90),
        "latency_samples": len(lat),
        "latency_trend": trend([op["latency_ms"] for op in ops if op["i"] not in bad]),
        "testimony": raw.get("testimony"),
        "cpus": raw.get("cpus"),
        "finish": fin,
        "op_latencies_ms": [op["latency_ms"] for op in ops],
        "cached_bytes_after_op": [op["cached_bytes_after_op"] for op in ops],
        # span outputs the harness persisted per op: 0 unless the op was traced
        "harness_persisted": [op["info"].get("harness_persisted") for op in ops],
        "traced_ops": [op["i"] for op in ops if op["traced"]],
    })
    if trace:
        layers = raw.get("layers", {})
        result["layers"] = layers
        result["spans"] = raw.get("spans", [])
        # a layer a workload never calls reads 0, by construction
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return result, metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                    help="input shape; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--results", default=os.path.join(HERE, "results"))
    a = ap.parse_args(argv)
    start = time.time()
    try:
        classpath = build.ensure_built()
        spec = benchmark_spec()
    except (build.MissingProgram, FileNotFoundError) as e:
        print(f"cdcbench: cannot run here: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout also builds; the run budget starts after
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(build.BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen.generate(a.workload, a.seed, a.size, inputs, a.seconds)
        raw_path = os.path.join(work, "raw.json")
        code = run_jvm(a.workload, inputs, work, raw_path, a.seconds, a.trace, classpath, deadline)
        with open(os.path.join(work, "jvm.log")) as f:
            log_tail = f.read()[-4000:]
        try:
            with open(raw_path) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            raw = {"fatal": f"harness exited {code} without a result"}
        if "fatal" in raw:
            raw["fatal"] += "\n" + log_tail
        result, metrics = summarize(a.workload, raw, inputs, a.trace, spec)
        result.update(seed=a.seed, seconds=a.seconds, trace=a.trace, size=a.size,
                      wall_s=time.time() - start)
        os.makedirs(a.results, exist_ok=True)
        with open(os.path.join(a.results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(result, f, indent=1, default=str)
        if not result["correct"] and result.get("fatal"):
            print(result["fatal"], file=sys.stderr)
        line = {"correct": result["correct"], "attempted": max(1, result["attempted"]),
                "failed": result["failed"] if result["attempted"] else 1, "metrics": metrics}
        print(json.dumps(line))
        return 0 if "fatal" not in result else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
