"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload etl_logs --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (`build.py`), writes the
workload's inputs from the seed (`gen.py`), runs the workload in one JVM on
`local[N]` with N the number of usable cores, checks every output
(`checks.py`) and prints each metric by name and unit. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Everything it writes goes under `.bench_build/` at the
root of the checkout. See README.md beside this file for what each
workload and metric means.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_logs", "index_serve", "index_maintain")
DEADLINE_S = 170          # a run must end within 180 s once built
MB = 1e6

# metric names and units, as BENCHMARK.json at the checkout root gates them
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# the reference's own method-2 / method-1 wall-time ratio (279.6 s / 114.2 s)
REFERENCE_M2_OVER_M1 = 2.45

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_cpu_ticks():
    """(stolen, total) CPU ticks since boot from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classes, jars, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           *[a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main", *args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the benchmark JVM ran past the deadline (log: {log_path})")
        finally:
            # never leave the JVM behind: not on a timeout, nor on SIGTERM
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"the benchmark JVM exited with {code}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        result = json.load(fh)
    with open(os.path.join(run_dir, "spans.json")) as fh:
        spans = {s["id"]: s for s in json.load(fh)}
    return result, spans


def check(workload, result, truth):
    """Return one (job, problems) pair per attempted operation."""
    finish_problems = (checks.maintain(result["finish"], truth)
                       if workload == "index_maintain" else [])
    out = []
    for j in result["jobs"]:
        if "error" in j:
            out.append((j, [j["error"]]))
        elif "csv" in j:
            check_csv = checks.etl_union_csv if j["kind"] == "extra" else checks.etl_csv
            out.append((j, check_csv(j["csv"], truth)))
        elif "admitted" in j:
            out.append((j, checks.serve_batch(j["admitted"], truth["batches"][j["batch"]])))
        else:
            # a maintenance cycle: the probe after the window checks them all
            out.append((j, finish_problems))
    return out


def dur(s):
    return s["end"] - s["start"]


def self_times(spans):
    """Self time of every span: its duration minus what its children cover
    (children of one parent run one after another)."""
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(dur(s))
    return {i: dur(s) - sum(kids.get(i, [])) for i, s in spans.items()}


def end_to_end(workload, result, spans, truth, ok_jobs):
    roots = [spans[j["span"]] for j in ok_jobs]
    c = [r["counters"] for r in roots]
    # task memory comes in whole pages, so a job's peak jumps between a few
    # values: a mean over every run of the job, warm-ups included, moves
    # smoothly where a median would jump
    peaks = [x["peak_exec_mem_bytes"] for x in c] + [
        s["counters"]["peak_exec_mem_bytes"] for s in spans.values()
        if s["name"] == "setup.warmup"]
    job_s = median([dur(r) for r in roots])
    per_job = {"etl_logs": truth["records"],
               "index_serve": gen.BATCH_DOCS,
               "index_maintain": 2 * gen.CYCLE_DOCS}[workload]
    return {
        "setup_s": result["setup_s"],
        "job_s": job_s,
        "records_per_s": per_job / job_s if job_s else 0.0,
        "cpu_s_per_job": median([x["cpu_s"] for x in c]),
        "write_mb_per_job": median([(x["output_bytes"] + x["shuffle_write_bytes"]) / MB
                                    for x in c]),
        "stored_mb": result["stored_bytes"] / MB,
        "peak_exec_mem_mb": statistics.mean(peaks) / MB if peaks else 0.0,
    }


def per_layer(result, spans, truth, jobs):
    m = dict.fromkeys(PER_LAYER, 0.0)  # 0 for the layers a workload does not load
    untraced = [spans[j["span"]] for j in jobs if j["kind"] == "job" and "error" not in j]
    traced = [j for j in jobs if j["kind"] in ("traced", "extra") and "error" not in j]
    job_s = median([dur(r) for r in untraced])
    m.update({
        "spark.jobs": median([r["counters"]["jobs"] for r in untraced]),
        "spark.stages": median([r["counters"]["stages"] for r in untraced]),
        "spark.tasks": median([r["counters"]["tasks"] for r in untraced]),
        "spark.gc_s": median([r["counters"]["gc_s"] for r in untraced]),
        "spark.slot_busy_ratio": median([r["counters"]["run_s"] / (dur(r) * result["cores"])
                                         for r in untraced]),
        "GraftSession.start_s": result["session_start_s"],
    })
    same_job = [spans[j["span"]] for j in traced if j["kind"] == "traced"]
    if job_s and same_job:
        m["trace.overhead_ratio"] = median([dur(r) for r in same_job]) / job_s

    # (job facts, {child span name: span}) of every traced job
    kids = [(j, {s["name"]: s for s in spans.values() if s["parent"] == j["span"]})
            for j in traced]

    def having(name):
        return [(j, k) for j, k in kids if name in k]

    def med(name, f):
        return median([f(k[name]) for _, k in having(name)])

    def counter(name, key, scale=1.0):
        return med(name, lambda s: s["counters"][key] / scale)

    if having("sources.scan"):
        # each span ran the pipeline prefix ending at its layer: a layer's
        # cost is its span minus the span of the prefix before it
        chain = ["sources.scan", "ops.categorize", "ops.aggregate_pivot",
                 "ops.device_join", "ops.enrich", "sources.csv_write"]
        for prev, name in zip([None] + chain, chain):
            m[name + "_s"] = median([dur(k[name]) - (dur(k[prev]) if prev else 0.0)
                                     for _, k in having(name)])
        # the csv_write span is the whole job
        m["sources.scan_mb"] = counter("sources.csv_write", "input_bytes", MB)
        m["sources.scan_passes"] = counter("sources.csv_write", "input_bytes",
                                           truth["input_bytes"])
        m["sources.scan_tasks"] = counter("sources.scan", "scan_tasks")
        m["sources.csv_write_tasks"] = counter("sources.csv_write", "write_tasks")
        m["ops.shuffle_write_mb"] = counter("sources.csv_write", "shuffle_write_bytes", MB)
        m["ops.spill_mb"] = counter("sources.csv_write", "spill_bytes", MB)
    method2 = [spans[j["span"]] for j in traced if spans[j["span"]]["name"] == "etl.method2"]
    if method2 and job_s:
        m["m2_over_m1"] = dur(method2[0]) / job_s

    if having("ext.probe"):
        for name in ("manifest", "sign", "probe"):
            m[f"ext.{name}_s"] = med(f"ext.{name}", dur)
        m["ext.read_mb"] = counter("ext.probe", "input_bytes", MB)
        serves = [j for j, _ in having("ext.probe")]
        m["ext.read_fraction"] = median([
            k["ext.probe"]["counters"]["input_bytes"] / j["index_bytes"]
            for j, k in having("ext.probe")])
        m["ext.candidate_pairs"] = median([j["candidate_pairs"] for j in serves])
        m["ext.verify_yield"] = median([(gen.BATCH_DOCS - j["admitted_count"]) /
                                        j["candidate_pairs"]
                                        for j in serves if j["candidate_pairs"]])

    cycles = having("ext.compact")
    if cycles:
        for name in ("append", "delete", "compact"):
            m[f"ext.{name}_s"] = med(f"ext.{name}", dur)
        m["ext.compact_write_mb"] = counter("ext.compact", "output_bytes", MB)
        # index bytes of the changed docs: the appended and the taken-down
        # docs at the built index's bytes per doc
        m["ext.write_amp"] = median([
            sum(s["counters"]["output_bytes"] for s in k.values()) /
            (2 * gen.CYCLE_DOCS * j["index_bytes_built"] / truth["records"])
            for j, k in cycles])
        m["ext.buckets_rewritten_ratio"] = median(
            [j["buckets_rewritten"] / j["buckets"] for j, _ in cycles])
        m["ext.retired_mb"] = median([j["retired_bytes"] / MB for j, _ in cycles])
    return m


def print_spans(spans, jobs):
    """Median duration and self time of each traced span, by name."""
    traced_roots = {j["span"] for j in jobs if j["kind"] in ("traced", "extra")}
    selfs = self_times(spans)
    keep = [s for s in spans.values()
            if s["trace"] in traced_roots or s["id"] in traced_roots]
    for name in dict.fromkeys(s["name"] for s in keep):
        group = [s for s in keep if s["name"] == name]
        c = [s["counters"] for s in group]
        print(f"span {name:22s} n={len(group)} wall={median([dur(s) for s in group]):.3f}s "
              f"self={median([selfs[s['id']] for s in group]):.3f}s "
              f"jobs={median([x['jobs'] for x in c]):g} tasks={median([x['tasks'] for x in c]):g} "
              f"cpu={median([x['cpu_s'] for x in c]):.3f}s "
              f"in={median([x['input_bytes'] for x in c]) / MB:.2f}MB "
              f"out={median([x['output_bytes'] for x in c]) / MB:.2f}MB")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or `all` for every workload BENCHMARK.json gates")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exit that runs the cleanup in run_jvm
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        sys.exit(max(subprocess.call([sys.executable, __file__, "--workload", w["name"],
                                      "--seed", str(a.seed), "--seconds", str(a.seconds),
                                      "--trace", str(a.trace)])
                     for w in _SPEC["workloads"]))

    try:
        classes, jars, build_s = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    if build_s:
        print(f"built in {build_s:.1f} s")
    deadline = time.monotonic() + DEADLINE_S

    data_root = os.path.join(build.BUILD, "data")
    kind = "logs" if a.workload == "etl_logs" else "corpus"
    data, truth = gen.materialize(kind, a.seed, data_root)
    print(f"input {a.workload} seed={a.seed}: {truth['records']} records, "
          f"{truth['input_bytes']} bytes" +
          (f" in {truth['files']} files" if kind == "logs" else
           f"; {len(truth['batches'])} batches of {gen.BATCH_DOCS} docs, "
           f"{len(truth['cycles'])} cycles of {gen.CYCLE_DOCS} docs"))

    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    extra = ([truth["dates"][0], truth["dates"][-1]] if kind == "logs" else
             [str(len(truth["batches"]))] if a.workload == "index_serve" else
             [str(len(truth["cycles"]))])
    n = cores()
    ticks0 = host_cpu_ticks()
    try:
        result, spans = run_jvm(classes, jars, [a.workload, data, run_dir, str(a.seconds),
                                                str(a.trace), str(n), *extra],
                                run_dir, deadline)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    ticks1 = host_cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # on a shared VM, time the hypervisor gave to other guests slows
        # every metric of the run; this tells such runs apart
        print(f"host: {100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}% "
              "of CPU time stolen by the hypervisor during the run")

    parts = [f"{s['name']} {dur(s):.2f} s" for s in spans.values()
             if s["parent"] == result["setup_span"]]
    print(f"setup_s {result['setup_s']:.2f} s: session start {result['session_start_s']:.2f} s; "
          + "; ".join(parts))
    outcomes = check(a.workload, result, truth)
    failed = [(j, p) for j, p in outcomes if p]
    for j, p in failed:
        print(f"FAILED {j['kind']} {j.get('csv') or j.get('batch') or j.get('cycle')}: "
              + "; ".join(p[:5]), file=sys.stderr)
    ok_jobs = [j for j, p in outcomes if not p and j["kind"] == "job"]
    attempted = len(outcomes)
    print(f"local[{n}]: {attempted} operations, {len(failed)} failed, "
          f"failed_ratio = {len(failed) / attempted:g}")

    if a.trace:
        print_spans(spans, result["jobs"])
        metrics = per_layer(result, spans, truth, result["jobs"])
        units = PER_LAYER
        if a.workload == "etl_logs":
            print(f"m2_over_m1 = {metrics['m2_over_m1']:.3f} "
                  f"(the reference measured {REFERENCE_M2_OVER_M1})")
    else:
        metrics = end_to_end(a.workload, result, spans, truth, ok_jobs)
        units = END_TO_END
        walls = sorted(dur(spans[j["span"]]) for j in ok_jobs)
        if walls:
            print(f"job_s samples n={len(walls)}: median {statistics.median(walls):.3f} s, "
                  f"max {walls[-1]:.3f} s (too few samples for a tail percentile)")
    if set(metrics) != set(units):
        sys.exit(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} "
                 "are not both measured and declared in BENCHMARK.json")
    for k, v in metrics.items():
        print(f"metric {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
