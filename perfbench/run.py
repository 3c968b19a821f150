#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <extract|curate> --seed <n> \
        --seconds <n> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); inputs are generated from the seed
and cached per seed. Everything the benchmark writes goes under
`.bench_build/` in the checkout. Progress and a readable summary go to
stderr; the last line of stdout is the result as one JSON object.

--trace 0 measures the workload untraced and prints the end-to-end metrics;
--trace 1 runs the traced section of every workload (retrieve's too) and
prints the per-layer metrics (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the workloads a run can time; a traced run covers every one of gen.WORKLOADS
MEASURED = ("extract", "curate")
# a run (after the build) that has not ended by then is killed and fails
RUN_DEADLINE_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# Metric names and units, as declared in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}
QUERIES = ("q_dense_topk", "q_sparse_topk", "q_bm25_topk", "q_hybrid_search", "q_rerank",
           "q_rerank_remap", "q_context_budget", "q_prompt_build", "q_ann_ivf")
LAYERS = ("sources", "kernel", "pipeline", "functions", "operators")
PER_LAYER = {
    "sources.synth_doc_us": "us",
    "kernel.extract_doc_us.semantic": "us",
    "kernel.extract_doc_us.chunk": "us",
    "kernel.html_blocks_us": "us",
    "kernel.pdf_layout_us": "us",
    "kernel.chunk_text_us": "us",
    "kernel.spans_per_doc": "count",
    "pipeline.done_groups_s": "s",
    "pipeline.overwrite_group_s": "s",
    "pipeline.commit_group_s": "s",
    "pipeline.extract_stage_s": "s",
    "pipeline.scan_rows_per_input_row": "ratio",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.task_skew": "ratio",
    "pipeline.cached_bytes": "bytes",
    "pipeline.output_bytes": "bytes",
    "extract.write_amp": "ratio",
    "functions.vec_dot_ns": "ns",
    "functions.minhash_sigs_ns": "ns",
    "functions.md5prefix64_ns": "ns",
    **{f"operators.{q}.p50_s": "s" for q in QUERIES},
    "operators.analyze_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.stages_per_request": "count",
    "operators.tasks_per_request": "count",
    "operators.features_s": "s",
    "operators.curate_rest_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
}


DEADLINE = 0.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the root of an engine checkout (build.sbt and src/main/scala not found)")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building engine + harness with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"sbt build failed: {e}", 1)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1]


def heap():
    """The engine's test heap rule: half of MemTotal, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def inputs(seed, workloads):
    # cached per seed and per generator version
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(BUILD, "inputs", f"gen-{version}", f"seed-{seed}")
    manifests = {}
    for w in workloads:
        t0 = time.time()
        manifests[w] = gen.generate(w, seed, os.path.join(data, w))
        log(f"input {w} seed={seed}: {json.dumps(manifests[w], sort_keys=True)} "
            f"({time.time() - t0:.2f}s, excluded from metrics)")
    return data, manifests


def jvm(cp, mode, workload, data, seed, seconds):
    """Launch the harness JVM once; return its result dict."""
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, f"result-{mode}.json")
    if os.path.exists(out):
        os.remove(out)
    logf = os.path.join(BUILD, "logs", f"{workload}-{mode}-seed{seed}.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    t0_us = time.time_ns() // 1000
    cmd = ["java", f"-Xmx{heap()}", *opens, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Harness",
           f"mode={mode}", f"workload={workload}", f"data={data}", f"work={work}",
           f"seconds={seconds}", f"seed={seed}", f"out={out}",
           f"t0_us={t0_us}"]
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(DEADLINE - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logf) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"harness {mode} {workload} failed ({rc}); log: {logf}", 1)
    with open(out) as f:
        return json.load(f)


def metric(value, unit):
    return {"value": value, "unit": unit}


def check_outputs(workload, data, res):
    """DuckDB oracle checks of curate's last job. Returns (checks, failed)."""
    if workload != "curate":
        return [], 0
    import oracle  # needs the engine's scripts/, so only after build() found the engine
    rdir = os.path.join(BUILD, "work", "curate-results")
    got = oracle.check_dir(os.path.join(data, "curate"), rdir,
                           {"curated": "q_curation_pipeline", "funnel": "q_curation_funnel"})
    # a wrong curated table or funnel means every job of the run was wrong
    checks = [{"name": f"curate.{o}.oracle", "ok": ok, "covers": res["attempted"],
               "detail": d} for o, (ok, d) in got.items()]
    failed = sum(c["covers"] for c in checks if not c["ok"])
    return checks, min(failed, res["attempted"] - res["failed"])


def untraced(cp, workload, seed, seconds):
    data, manifests = inputs(seed, [workload])
    res = jvm(cp, "run", workload, data, seed, seconds)
    checks, oracle_failed = check_outputs(workload, data, res)
    checks = res["checks"] + checks
    failed = res["failed"] + oracle_failed
    # a failed operation keeps its time in the throughput total, where only
    # the items of succeeded work count (attempted / failed are in the
    # workload's unit: docs or jobs)
    op_s = res["op_s"]
    values = {"setup_s": res["setup_s"],
              "items_per_s": stats.throughput(res["items_per_op"] * len(op_s),
                                              res["attempted"], failed, sum(op_s))}
    metrics = {name: metric(values[name], unit) for name, unit in END_TO_END.items()}
    # VmHWM of the measuring JVM and the CPU time the host stole while it
    # measured: logged and kept in the artifact, not end-to-end metrics
    # (peak RSS varies 20-40 % between runs of identical work with G1)
    peak_rss_mb = res["vmhwm_kb"] / 1024
    steal = sum(res["op_steal_s"]) / (sum(op_s) * res["host"]["nproc"])
    bad = [c for c in checks if not c["ok"]]
    log(f"host {json.dumps(res['host'], sort_keys=True)}")
    log(f"{workload}: {len(op_s)} ops of {sum(op_s) / len(op_s):.3f} s on average")
    log(f"{workload}: attempted={res['attempted']} failed={failed} "
        f"error_rate={failed / res['attempted']:.6f}")
    for c in bad:
        log(f"FAILED CHECK {c['name']}: {c['detail']}")
    for name, m in metrics.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")
    log(f"  (peak_rss_mb = {peak_rss_mb:.1f} MB, host steal {steal:.1%} of CPU while measuring)")
    artifact = {"workload": workload, "seed": seed, "host": res["host"], "heap": heap(),
                "inputs": manifests, "op_s": op_s, "op_cpu_s": res["op_cpu_s"],
                "op_steal_s": res["op_steal_s"],
                "phases_s": res["phases"], "checks": checks,
                "metrics": metrics, "peak_rss_mb": peak_rss_mb, "steal_share": steal,
                "attempted": res["attempted"], "failed": failed}
    write_artifact(f"{workload}-seed{seed}-trace0.json", artifact)
    return {"correct": not bad and failed == 0, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}


def traced(cp, workload, seed, seconds):
    data, manifests = inputs(seed, gen.WORKLOADS)
    res = jvm(cp, "trace", workload, data, seed, seconds)
    with open(res["spans"]) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    values = dict(res["layer"])
    selfs = stats.self_times(spans)
    for layer in LAYERS:
        values[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    if set(values) != set(PER_LAYER):
        die(f"traced run metrics differ from the declared set: {set(values) ^ set(PER_LAYER)}", 1)
    metrics = {name: metric(values[name], unit) for name, unit in PER_LAYER.items()}
    log(f"host {json.dumps(res['host'], sort_keys=True)}")
    for name, m in metrics.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")
    write_artifact(f"{workload}-seed{seed}-trace1.json",
                   {"workload": workload, "seed": seed, "host": res["host"], "heap": heap(),
                    "inputs": manifests, "metrics": metrics, "spans": len(spans)})
    return {"correct": True, "attempted": len(spans), "failed": 0, "metrics": metrics}


def write_artifact(name, obj):
    d = os.path.join(BUILD, "artifacts")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=MEASURED)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    global DEADLINE
    DEADLINE = time.time() + RUN_DEADLINE_S
    run = traced if a.trace else untraced
    result = run(cp, a.workload, a.seed, a.seconds)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
