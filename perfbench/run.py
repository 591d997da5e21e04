#!/usr/bin/env python3
"""Benchmark of the streaming engine and its query block.

    python3 perfbench/run.py --workload stream_bulk --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in fresh JVMs sized from this box, checks every
result by content, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/README.md). Everything the run writes stays under
perfbench/.work/; the full record of the last run of a workload,
spans included, is perfbench/.work/<workload>/report.json.
"""
import argparse
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
import stats  # noqa: E402

# JDK 17 module openings Spark needs outside spark-submit (the same
# list the engine's build.sbt passes to its forked JVMs)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# a run must end within this many seconds of its start (a build in the
# same run gets its own time on top)
RUN_LIMIT_S = 170

# stream_bulk: the corpus of every seed has this many docs (about
# three extracted rows each), cut into this many large micro-batches
BULK_DOCS = 12000
BULK_TRANCHES = 2
MIN_PASSES_4N = 3
MIN_PASSES_N = 2
MAX_PASSES = 12

# query_block: the fixed inputs and the queries it times (see README)
QUERY_SF = os.path.join(HERE, "testdata", "sf0.001")
QUERY_REFS = os.path.join(HERE, "reference", "sf0.001.txt")
QUERIES = [
    "paginate_crawl", "details_join", "extract_flat",
    "q_join_agg",
    "jaccard_pairs", "ann_ivf",
]
MIN_REPS = 2
MAX_REPS = 10



class RunError(RuntimeError):
    pass


class Box:
    """What the run is sized from: CPUs, memory, and the derived heap
    and thread counts."""

    def __init__(self):
        self.nproc = stats.nproc()
        self.mem_kb = stats.mem_total_kb()
        self.heap_mb = stats.heap_mb(self.mem_kb)
        self.n, self.n4 = stats.levels(self.nproc)

    def record(self):
        return {"nproc": self.nproc, "mem_total_mb": self.mem_kb // 1024,
                "heap_mb": self.heap_mb, "n": self.n, "4n": self.n4}


class Jvms:
    """Starts measuring JVMs one at a time and makes sure none outlives
    the run."""

    def __init__(self, classpath, box, work, deadline):
        self.cp = os.pathsep.join(classpath)
        self.box = box
        self.work = work
        self.deadline = deadline
        self.live = None
        self.count = 0

    def run(self, mode, **kv):
        self.count += 1
        tag = f"{self.count}-{mode}"
        out = os.path.join(self.work, f"{tag}.json")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # a fixed-size heap, so that peak RSS does not depend on when
        # the collector decides to grow it
        heap = f"{self.box.heap_mb}m"
        cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, "perfbench.Main", mode]
        cmd += [f"{k}={v}" for k, v in kv.items()] + [f"out={out}", f"work={self.work}"]
        log = os.path.join(self.work, f"{tag}.log")
        with open(log, "w") as fh:
            self.live = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                         start_new_session=True)
            try:
                rc = self.live.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                self.stop()
                raise RunError(f"{tag} ran past the time limit; log: {log}")
            finally:
                self.live = None
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                tail = fh.read()[-3000:]
            raise RunError(f"{tag} exited with {rc}; log tail:\n{tail}")
        with open(out) as fh:
            return json.load(fh)

    def stop(self):
        p = self.live
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def latency(ms):
    """Median and tail of a sample of operation times, with its size;
    the tail is the highest percentile that leaves ten samples beyond
    it, and there is none below twenty samples."""
    if not ms:
        return {"n": 0}
    p = stats.tail_percentile(len(ms))
    return {"n": len(ms), "p50": stats.median(ms),
            "tail": None if p is None else {"p": p, "ms": stats.percentile(ms, p)}}


def doc_window(seed, docs):
    """First doc index of the seed's window; windows of different seeds
    are distinct and all stay within 8-digit doc ids."""
    slots = 90_000_000 // docs
    return (seed * 2654435761 % slots) * docs


def stream_bulk(jvms, box, seed, seconds, trace):
    docs = stats.capped_docs(BULK_DOCS, box.heap_mb)
    lo = doc_window(seed, docs)
    common = dict(run_id=f"stream_bulk-{seed}", mfpt=box.n4, max_passes=MAX_PASSES,
                  seconds=seconds / 2)
    # 4N first: it writes the corpus and the oracle both levels use,
    # warms up with one untimed pass over the whole corpus, and gives
    # the headline; N warms up on the first slice
    hi = jvms.run("stream", threads=box.n4, synth=1, lo=lo, docs=docs,
                  tranches=BULK_TRANCHES, files_per_tranche=box.n4,
                  warm_files=BULK_TRANCHES * box.n4, min_passes=MIN_PASSES_4N, trace=trace,
                  **common)
    low = jvms.run("stream", threads=box.n, synth=0, warm_files=box.n4,
                   min_passes=MIN_PASSES_N, trace=0, **common)
    levels = {}
    for lv in (hi, low):
        ok = [p for p in lv["passes"] if p["ok"]]
        levels[lv["threads"]] = {
            "rates": [p["rows"] / p["wall_s"] for p in ok],
            "walls_s": [p["wall_s"] for p in lv["passes"]],
            "errors": [p["error"] for p in lv["passes"] if not p["ok"]],
            "batch_ms": [b for p in ok for b in p["batch_ms"]],
            "setup_s": lv["setup_s"], "peak_rss_mb": lv["peak_rss_mb"],
        }
    passes = hi["passes"] + low["passes"]
    attempted = len(passes)
    failed = sum(not p["ok"] for p in passes)
    tr = hi.get("trace") or {}
    if tr:
        attempted += 2
        failed += (not tr["ok"]) + (not tr["after"]["ok"])
    report = {"docs": docs, "doc_window": [lo, lo + docs], "rows": hi["expected_rows"],
              "files": hi["files"], "levels": levels,
              "microbatch_ms_4n": latency(levels[box.n4]["batch_ms"])}
    hi_ok, lo_ok = levels[box.n4]["rates"], levels[box.n]["rates"]
    metrics = {"setup_s": stats.median([hi["setup_s"], low["setup_s"]]),
               "peak_rss_mb": max(hi["peak_rss_mb"], low["peak_rss_mb"])}
    if hi_ok:
        rate4 = stats.median(hi_ok)
        metrics["rows_per_s"] = rate4
        metrics["op_ms_p50"] = 1000 * stats.median(
            [p["wall_s"] for p in hi["passes"] if p["ok"]])
        report["stream_rows_per_s_4n"] = rate4
    if lo_ok:
        report["stream_rows_per_s_n"] = stats.median(lo_ok)
    if hi_ok and lo_ok:
        # raw and uncapped: rate_4n / ((4N / N) * rate_n)
        report["scaling_efficiency"] = report["stream_rows_per_s_4n"] / (
            box.n4 / box.n * report["stream_rows_per_s_n"])
    layers = stream_layers(tr, report, hi["passes"][-1]["wall_s"]) if tr else {}
    return attempted, failed, metrics, layers, report, [hi, low]


def stream_layers(tr, report, before_s):
    """Per-layer figures of the traced pass of a stream workload."""
    batches = tr["batches"]
    phases = {"latest_offset": "latestOffset", "get_batch": "getBatch",
              "query_planning": "queryPlanning", "wal_commit": "walCommit",
              "add_batch": "addBatch", "commit_offsets": "commitOffsets"}
    out = {"microbatch.count": len(batches)}
    for name, key in phases.items():
        xs = [b["durations"].get(key, 0) for b in batches]
        out[f"microbatch.{name}_ms"] = sum(xs)
        out[f"microbatch.{name}_ms_p50"] = stats.median(xs) if xs else 0
    # batch time outside the six phases (the self time of its span)
    out["microbatch.self_ms"] = tr["microbatch_self_ms"]
    out.update({
        "stitch.state_commit_ms": sum(b["commit_ms"] for b in batches),
        "stitch.update_ms": sum(b["update_ms"] for b in batches),
        "stitch.removal_ms": sum(b["removal_ms"] for b in batches),
        "stitch.state_rows_peak": max((b["state_rows"] for b in batches), default=0),
        "stitch.state_mem_bytes_peak": max((b["state_mem"] for b in batches), default=0),
        "stitch.rows_dropped_by_watermark": sum(b["dropped"] for b in batches),
    })
    out.update(tr["stages"])
    out["extract.probe_rows_per_s"] = tr["extract_probe_rows_per_s"]
    for k, v in tr["sink"].items():
        out[f"sink.{k}"] = v
    rb = tr["readback"]
    for k in ("log_list_ms", "read_ms", "read_asof_ms", "files", "bytes_per_row"):
        out[f"sink.{k}"] = rb[k]
    out["stream.rows_per_s_n"] = report.get("stream_rows_per_s_n", 0)
    out["stream.scaling_efficiency"] = report.get("scaling_efficiency", 0)
    out["trace.layer_coverage"] = tr["coverage"]
    # against the untraced passes just before and just after it
    out["trace.overhead"] = tr["wall_s"] / ((before_s + tr["after"]["wall_s"]) / 2) - 1
    return out


def query_block(jvms, box, seed, seconds, trace):
    r = jvms.run("queries", threads=box.nproc, run_id=f"query_block-{seed}", sf=QUERY_SF,
                 refs=QUERY_REFS, names=",".join(QUERIES), seconds=seconds,
                 min_reps=MIN_REPS, max_reps=MAX_REPS, trace=trace)
    qs = r["queries"]
    attempted = sum(1 + len(q["walls_s"]) for q in qs.values())
    failed = sum((q["digest_error"] is not None) + len(q["errors"]) for q in qs.values())
    passed = {n: q for n, q in qs.items() if q["digest_error"] is None and not q["errors"]}
    medians = {n: stats.median(q["walls_s"]) for n, q in passed.items()}
    block_s = sum(medians.values())
    report = {"sf": os.path.relpath(QUERY_SF, HERE), "reps": r["reps"],
              "query_ms": latency([1000 * w for q in passed.values() for w in q["walls_s"]]),
              "query_block_s": block_s,
              "failed_queries": {n: q["digest_error"] or q["errors"] for n, q in qs.items()
                                 if n not in passed},
              "per_query_median_s": medians}
    metrics = {"setup_s": r["setup_s"], "peak_rss_mb": r["peak_rss_mb"]}
    if passed:
        metrics["rows_per_s"] = sum(q["rows"] for q in passed.values()) / block_s
        metrics["op_ms_p50"] = 1000 * stats.median(list(medians.values()))
    layers = {}
    tr = r.get("trace") or {}
    if tr:
        attempted += 2 * len(qs)
        failed += len(tr["errors"])
        layers.update(tr["stages"])
        layers["extract.probe_rows_per_s"] = tr["extract_probe_rows_per_s"]
        groups = {"queries.relational": 0.0, "queries.token_engine": 0.0, "pipeline": 0.0}
        for n, q in qs.items():
            layers[f"q.{n}_s"] = medians.get(n, 0.0)
            groups[q["module"]] += medians.get(n, 0.0)
        layers["queries.relational_s"] = groups["queries.relational"]
        layers["queries.token_engine_s"] = groups["queries.token_engine"]
        layers["pipeline_s"] = groups["pipeline"]
        layers["trace.layer_coverage"] = tr["coverage"]
        # against the untraced repetitions just before and just after it
        traced_s = sum(tr["walls_s"][n] for n in passed)
        around_s = sum(q["walls_s"][-1] + tr["after_walls_s"][n] for n, q in passed.items()) / 2
        layers["trace.overhead"] = traced_s / around_s - 1 if around_s else 0
    return attempted, failed, metrics, layers, report, [r]


WORKLOADS = {"stream_bulk": stream_bulk, "query_block": query_block}


def declared_metrics(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t0 = time.monotonic()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    box = Box()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvms = Jvms(classpath, box, work, time.monotonic() + RUN_LIMIT_S)
    signal.signal(signal.SIGTERM, lambda *_: (jvms.stop(), sys.exit(143)))
    try:
        attempted, failed, e2e, layers, report, raw = WORKLOADS[a.workload](
            jvms, box, a.seed, a.seconds, a.trace)
    except RunError as e:
        print(f"[perfbench] {a.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        jvms.stop()
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    report.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "box": box.record(), "wall_s": time.monotonic() - t0,
                   "attempted": attempted, "failed": failed, "end_to_end": e2e,
                   "per_layer": layers})
    with open(os.path.join(work, "report.json"), "w") as fh:
        json.dump(dict(report, jvms=raw), fh, indent=1)
    # a layer the workload does not run reports 0; an end-to-end metric
    # without a passing operation is left out, and the run is not correct
    if a.trace:
        declared = declared_metrics("per_layer")
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in declared}
    else:
        declared = declared_metrics("end_to_end")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in declared if n in e2e}
    correct = failed == 0 and len(metrics) == len(declared)
    for k, v in report.items():
        if k not in ("per_layer", "end_to_end", "levels", "per_query_median_s"):
            print(f"[perfbench] {k}: {json.dumps(v)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
