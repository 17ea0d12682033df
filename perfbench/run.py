#!/usr/bin/env python3
"""Pipeline benchmark: one command, run from the repository root.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the measurement harness from source (once per source
tree, into .bench_build/), generates the workload's inputs from the seed,
runs the harness JVM, checks the outputs, and prints two lines: a record
line naming the full record file and its md5, then the result line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. Exits non-zero on any output mismatch or
failed operation. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = ".bench_build"
DEADLINE_S = 170  # whole command after the build


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, args, run_dir, budget_s):
    jars = os.path.join(build.spark_jars(), "*")
    cp = os.pathsep.join([classes, os.path.join("src", "main", "resources"), jars])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}"]
           + build.ADD_OPENS + ["-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        # own process group: the JVM and the oracle it starts stop together
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum=None, frame=None):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            if signum is not None:
                fail(f"interrupted by signal {signum}", 4)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"harness exceeded {budget_s:.0f}s; see {run_dir}/jvm.log", 3)


def m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw):
    """setup_s, pass_s, events_per_s, trigger_p50_ms, trigger_p90_ms."""
    passes = raw["passes"]
    ingest = raw["workload"] != "curation_batch"
    if ingest:
        rates = [p["events"] / p["wall_s"] for p in passes]
        ops = [t[2] for p in passes for t in p["triggers"]]
    else:
        # a curation "trigger" is one batch pass: the five queries differ
        # too much in size for their pooled times to have a stable median
        rates = [raw["corpus_rows"] / p["wall_s"] for p in passes]
        ops = [p["wall_s"] * 1000 for p in passes]
    p50, _ = stats.percentile(ops, 50)
    p90, beyond = stats.percentile(ops, 90)
    metrics = {
        "setup_s": m(stats.median(raw["setup_s"]), "s"),
        "pass_s": m(stats.median([p["wall_s"] for p in passes]), "s"),
        "events_per_s": m(stats.median(rates), "1/s"),
        "trigger_p50_ms": m(p50, "ms"),
        "trigger_p90_ms": m(p90, "ms"),
    }
    samples = {"passes": len(passes), "operations": len(ops),
               "beyond_p90": beyond, "setups": len(raw["setup_s"])}
    return metrics, samples


# Per-trigger figures of the traced drain. The view and emit spans time
# the planning calls the statement set makes into the compiled pipeline;
# the streaming rows are the Spark jobs each program layer submits.
STREAM_LAYERS = {
    "compile.view_emit": ["wall_ms"],
    "compile.fgac_emit": ["wall_ms"],
    "compile.quarantine_emit": ["wall_ms"],
    "streaming.scan": ["wall_ms", "cpu_ms", "jobs", "input_bytes"],
    "streaming.xref_merge": ["wall_ms", "cpu_ms", "jobs", "shuffle_bytes", "bytes_written"],
    "streaming.xref_delta": ["wall_ms", "jobs"],
    "streaming.sink_append": ["wall_ms", "cpu_ms", "jobs", "shuffle_bytes", "bytes_written"],
    "streaming.fold": ["wall_ms", "cpu_ms", "jobs"],
}
WRITERS = ("streaming.xref_merge", "streaming.sink_append", "streaming.fold")
CURATION_QUERIES = ["q_incr_dedup", "q_simhash_neardup", "q_ann_ivfpq",
                    "q_substring_dedup", "q_bpe_encode"]
QUERY_FIELDS = ["wall_ms", "cpu_ms", "shuffle_bytes", "jobs", "exchanges"]
UNITS = {"wall_ms": "ms", "cpu_ms": "ms", "shuffle_bytes": "bytes",
         "jobs": "count", "input_bytes": "bytes", "bytes_written": "bytes",
         "exchanges": "count"}


def per_layer_units():
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    units = {"compile.sttm_ms": "ms", "compile.bridge_ms": "ms"}
    units.update({f"{layer}.{f}": UNITS[f]
                  for layer, fs in STREAM_LAYERS.items() for f in fs})
    units.update({"streaming.fold.count": "count",
                  "streaming.sink_append.files_written": "count",
                  "streaming.commit_ms": "ms", "streaming.jobs_per_trigger": "count",
                  "streaming.tasks_per_trigger": "count", "streaming.write_amp": "ratio"})
    units.update({f"operators.{q}.{f}": UNITS[f]
                  for q in CURATION_QUERIES for f in QUERY_FIELDS})
    units.update({"trace.overhead": "ratio", "trace.unattributed_ms": "ms"})
    return units


def per_layer(raw):
    """Per-layer metrics of the traced pass, per trigger for streaming
    layers and per query for operators; idle layers read 0."""
    spans = raw["spans"]
    pass_span = next(s for s in spans if s["name"] == "pass")
    window = (pass_span["start_ns"], pass_span["end_ns"])
    # job spans carry the scheduler's millisecond times; self_times clips
    # them to the window
    inner = [s for s in spans if s["id"] != pass_span["id"]
             and s["end_ns"] >= window[0] and s["start_ns"] <= window[1]]
    table = stats.layer_table(inner, window)
    wall_ns = window[1] - window[0]
    ingest = raw["workload"] != "curation_batch"
    units = per_layer_units()
    out = {n: m(0, u) for n, u in units.items()}

    def row(name):
        return table.get(name, {"count": 0, "wall_ms": 0.0, "self_ms": 0.0, "counters": {}})

    def c(name, key):
        return row(name)["counters"].get(key, 0)

    for name in ("compile.sttm", "compile.bridge"):
        ws = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]
        out[f"{name}_ms"] = m(stats.median(ws) if ws else 0.0, "ms")
    if ingest:
        traced_pass = raw["traced_pass"]
        n = max(1, len(traced_pass["triggers"]))
        for layer, fields in STREAM_LAYERS.items():
            for f in fields:
                if f == "wall_ms":
                    v = row(layer)["wall_ms"] / n
                elif f == "cpu_ms":
                    v = c(layer, "cpu_ns") / 1e6 / n
                else:
                    v = c(layer, f) / n
                out[f"{layer}.{f}"] = m(v, UNITS[f])
        out["streaming.fold.count"] = m(traced_pass["folds"], "count")
        out["streaming.sink_append.files_written"] = m(traced_pass["sink_files"] / n, "count")
        out["streaming.commit_ms"] = m(
            stats.median([t[2] - t[3] for t in traced_pass["triggers"]]), "ms")
        for k in ("jobs", "tasks"):
            out[f"streaming.{k}_per_trigger"] = m(traced_pass[k] / n, "count")
        written = sum(c(x, "bytes_written") for x in WRITERS)
        out["streaming.write_amp"] = m(
            written / max(1, c("streaming.scan", "input_bytes")), "ratio")
    else:
        for q in CURATION_QUERIES:
            r = row(f"operators.{q}")
            out[f"operators.{q}.wall_ms"] = m(r["wall_ms"], "ms")
            out[f"operators.{q}.cpu_ms"] = m(r["counters"].get("cpu_ns", 0) / 1e6, "ms")
            for f in ("shuffle_bytes", "jobs", "exchanges"):
                out[f"operators.{q}.{f}"] = m(r["counters"].get(f, 0), UNITS[f])
    untraced = raw["passes"][0]["wall_s"]
    traced = raw["traced_pass"]["wall_s"]
    out["trace.overhead"] = m(traced / untraced, "ratio")
    out["trace.unattributed_ms"] = m(table["unattributed"]["self_ms"], "ms")
    self_sum = sum(r["self_ms"] for r in table.values())
    layers = {"wall_ms": wall_ns / 1e6, "self_sum_ms": self_sum,
              "untraced_pass_s": untraced, "traced_pass_s": traced, "rows": table}
    return out, layers


def main(argv):
    ap = argparse.ArgumentParser(description="pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    missing = [p for p in ("src/main/scala", "src/main/resources", "build.sbt")
               if not os.path.exists(p)]
    if missing:
        fail(f"run from the repository root; missing {', '.join(missing)}")
    classes = build.build(BUILD_DIR)
    t_built = time.time()
    data = os.path.abspath(gen.generate(os.path.join(BUILD_DIR, "data"), a.workload, a.seed))
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    rc = run_jvm(classes, ["--workload", a.workload, "--data", data,
                           "--work", os.path.abspath(os.path.join(run_dir, "work")),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--out", raw_path],
                 run_dir, DEADLINE_S - (time.time() - t_built))
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"harness exited {rc}; see {run_dir}/jvm.log", 1)
    with open(raw_path) as f:
        raw = json.load(f)
    correct = (raw["failed"] == 0 and not raw["errors"]
               and all(ch["ok"] for ch in raw["checks"]) and len(raw["checks"]) > 0)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": raw["cpus"], "correct": correct,
              "attempted": raw["attempted"], "failed": raw["failed"],
              "checks": raw["checks"], "errors": raw["errors"],
              "params": gen.WORKLOADS[a.workload]}
    if raw.get("passes"):
        e2e, samples = end_to_end(raw)
        record["end_to_end"], record["samples"] = e2e, samples
    if a.trace:
        metrics, record["layers"] = per_layer(raw)
        record["spans"] = raw["spans"]
    else:
        metrics = e2e
    record["metrics"] = metrics
    record["raw"] = {k: v for k, v in raw.items() if k != "spans"}
    rec_path = os.path.join(BUILD_DIR, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    body = json.dumps(record, indent=1, sort_keys=True)
    with open(rec_path, "w") as f:
        f.write(body + "\n")
    md5 = hashlib.md5((body + "\n").encode()).hexdigest()
    summary = {k: [round(v["value"], 4), v["unit"]] for k, v in
               record.get("end_to_end", {}).items()}
    print(json.dumps({"perfbench": a.workload, "record": rec_path, "md5": md5,
                      "end_to_end": summary}, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics},
                     separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
