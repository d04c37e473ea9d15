#!/usr/bin/env python3
"""graft benchmark: the ENA build in both id-resolution regimes, and the
query suite.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see `WORKLOADS` and BENCHMARK.json for why each exists):

  ena_bulk        a few large generated .dat.gz files; broadcast regime
  ena_many_files  hundreds of tiny generated files and an idmapping well
                  above the broadcast cap; shuffle regime (not listed in
                  BENCHMARK.json)
  query_suite     a fixed set of `SparkEntry.queries` on the read-only
                  test tables `graft.Bench` reads by default, at sf0.01

`--seed` picks the generated ENA corpus (cached per shape and seed
under .bench_build/data); the query suite's tables are fixed.

The program is driven through its public calls only: an ENA build is
`EnaMain.main`'s sequence (readIdmapping, chooseBroadcastRegime,
EnaPipeline.enaTab, EnaPipeline.writeTsv) with EnaMain's session
settings; a query is `SparkEntry.queries(name)(spark, dir)` forced with
a noop write, with `graft.Bench`'s session settings and layout
normalization, plus `Checkpoints.releaseLeaked` inside the query's wall.

End-to-end metrics (`--trace 0`), every workload:

  setup_s      process start to the first timed call. ENA: JVM, session
               and the untimed warm-up builds (the first build is cold,
               and the JIT settles over the next). query_suite: JVM,
               session, UDF registration and the warm pass, which also
               checks every result digest; the layout-normalized tables
               are cached like the generated ENA corpora
  pass_s       one pass over the workload: an ENA build (median over the
               run's timed builds; `build_s`) or the sum of the per-query
               walls of a timed pass (median over the run's passes;
               `suite_s`)

A summary line before the result also gives `query_p50_s`, the 90th
percentile of the operation walls (`build_p90_s`, `query_p90_s`) and
`failed_frac`. They are not gated: the median query wall falls between
clusters of light and heavy queries and moved by a quarter between
runs, a run has too few operations for ten to lie beyond the 90th
percentile, and failures are the result's `failed` count. Peak RSS
(VmHWM) of the measuring JVM is the per-layer jvm.peak_rss_mb: it did
not repeat within a tenth between runs.

`--trace 1` makes a separate run with a Spark listener and in-memory
spans, prints every per-layer metric of perfbench/layers.json (0 where
a layer does not run on the workload) and writes the spans to
.bench_build/trace/. Every run also prints a `{"box": ...}` line: the
calibration anchor, cpus, partition settings, input bytes, seed and
versions, never gated. Outputs are checked in every run: each ENA
build's TSV against the generator's digest, each query's warm-pass
result against a digest recorded from an oracle-green run
(perfbench/query_digests.json). A failure makes `correct` false and the
exit code 1.

Everything the benchmark writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import re
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
import gen_ena  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
HEAP = "4g"
# a run after the build must end within 180 s
RUN_BUDGET_S = 170
# The ENA corpora are scaled down from production, and so is the cap
# on the idmapping rows EnaMain's probe sends to the broadcast regime
# (its ENA_BROADCAST_MAX_ROWS, default 1e6): ena_bulk's idmapping stays
# under it and ena_many_files' lies well above it.
ENA_MAX_ROWS = "50000"
# generated ENA inputs kept per shape, newest first
DATA_KEEP = 3

# workload -> (runner, warm-up builds, fewest timed builds or passes).
# An ENA run first makes untimed warm-up builds, counted in set-up: the
# first build is cold and the JIT settles over the next ones.
# ena_many_files is not listed in BENCHMARK.json: the listed workloads'
# runs must fit a fixed time budget, and three did not.
WORKLOADS = {
    "ena_bulk": ("ena", 3, 8),
    "ena_many_files": ("ena", 2, 5),
    "query_suite": ("suite", 0, 3),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(3)


def jvm(classpath, args, log_path, deadline, env=None):
    """Run the harness; return (launch epoch s, result record)."""
    result = os.path.join(args["work"], "result.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath,
            "graftbench.Harness", f"result={result}"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "a") as logf:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=logf, stderr=logf, cwd=ROOT,
                             env=dict(os.environ, **(env or {})))
        _children.append(p)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness timed out; see {log_path}")
        finally:
            _children.remove(p)
    if rc != 0 or not os.path.exists(result):
        raise RuntimeError(f"harness exited {rc}; see {log_path}")
    with open(result) as fh:
        return launched, json.load(fh)


def quantile(xs, q):
    """Linear-interpolated quantile, as numpy's default."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def evict_data(shape, keep_dir):
    root = os.path.join(BUILD, "data")
    dirs = [os.path.join(root, d) for d in os.listdir(root)
            if d.startswith(shape + "-s")]
    dirs = [d for d in dirs if d != keep_dir]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[DATA_KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def run_ena(a, classpath, cpus, work, log_path, deadline):
    t = time.time()
    data = gen_ena.generate(a.workload, a.seed, os.path.join(BUILD, "data"))
    os.utime(data)
    gen_s = time.time() - t
    evict_data(a.workload, data)
    with open(os.path.join(data, "manifest.json")) as fh:
        manifest = json.load(fh)
    launched, r = jvm(classpath, dict(
        mode="ena", manifest=os.path.join(data, "manifest.json"),
        work=work, cpus=cpus, seconds=a.seconds, trace=a.trace,
        warmup_builds=WORKLOADS[a.workload][1],
        min_builds=WORKLOADS[a.workload][2],
        trace_file=trace_path(a)), log_path, deadline,
        env=dict(ENA_BROADCAST_MAX_ROWS=ENA_MAX_ROWS))
    ops = r["builds"]
    e2e = dict(setup_s=r["first_timed_ms"] / 1e3 - launched,
               pass_s=statistics.median(ops))
    summary = dict(setup_s=e2e["setup_s"], build_s=e2e["pass_s"],
                   build_p90_s=quantile(ops, 0.9), builds=len(ops))
    box = dict(master=f"local[{cpus}]", shuffle_partitions=cpus,
               input_bytes=manifest["gz_bytes"], files=manifest["files"],
               idmap_rows=manifest["idmap_rows"], gen_s=gen_s,
               regime=r["regime"], builds_s=ops)
    return r, e2e, summary, box


def sf_dir():
    """The test tables `graft.Bench` reads by default, at scale 0.01:
    the scale the recorded result digests belong to."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft",
                           "Bench.scala")) as fh:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', fh.read())
    path = os.path.join(os.path.dirname(m.group(1)), "sf0.01")
    if not os.path.isdir(path):
        raise RuntimeError(f"no query-suite tables at {path}")
    return path


def run_suite(a, classpath, cpus, work, log_path, deadline):
    sf = sf_dir()
    with open(os.path.join(HERE, "queries.json")) as fh:
        names = json.load(fh)["suite"]
    launched, r = jvm(classpath, dict(
        mode="suite", sf=sf, work=work, cpus=cpus, seconds=a.seconds,
        min_passes=WORKLOADS[a.workload][2],
        trace=a.trace, trace_file=trace_path(a), queries=",".join(names),
        digests=os.path.join(HERE, "query_digests.json"),
        layout_cache=os.path.join(BUILD, "data", "sf_layout-" + hashlib.sha1(
            repr(sorted((e.name, e.stat().st_size) for e in os.scandir(sf))
                 ).encode()).hexdigest()[:12]),
        families=os.path.join(HERE, "queries.json")), log_path, deadline)
    passes = r["passes"]
    walls = [w for p in passes for w in p.values()]
    e2e = dict(setup_s=r["first_timed_ms"] / 1e3 - launched,
               pass_s=statistics.median(sum(p.values()) for p in passes))
    summary = dict(setup_s=e2e["setup_s"], suite_s=e2e["pass_s"],
                   query_p50_s=statistics.median(walls),
                   query_p90_s=quantile(walls, 0.9),
                   queries=len(names), passes=len(passes))
    box = dict(master=f"local[{cpus}]",
               shuffle_partitions=r["shuffle_partitions"],
               layout_partitions=r["layout_partitions"],
               input_bytes=r["input_bytes"], sf_dir=sf,
               normalize_s=r["normalize_s"],
               warm_pass_s=sum(r["warm_s"].values()))
    return r, e2e, summary, box


def trace_path(a):
    return os.path.join(BUILD, "trace", f"{a.workload}-s{a.seed}.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(str(e))
        return 2
    deadline = time.time() + RUN_BUDGET_S
    cpus = len(os.sched_getaffinity(0))
    # private to this run, so runs in one checkout never share outputs
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    if os.path.exists(log_path):
        os.remove(log_path)
    runner = run_ena if WORKLOADS[a.workload][0] == "ena" else run_suite
    try:
        r, e2e, summary, box = runner(a, classpath, cpus, work, log_path, deadline)
    except RuntimeError as e:
        log(str(e))
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = int(r["attempted"]), int(r["failed"])
    for err in r["errors"][:20]:
        log(f"FAILED {err}")
    summary["failed_frac"] = failed / attempted
    units = dict(builds="count", queries="count", passes="count",
                 failed_frac="ratio")
    print(f"{a.workload}: " + ", ".join(
        f"{k}={v:.4f} {units.get(k, 's')}" if isinstance(v, float)
        else f"{k}={v} {units.get(k, 's')}" for k, v in summary.items()))
    box.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, nproc=cpus, anchor_s=r["anchor_s"],
               peak_rss_mb=r["peak_rss_mb"],
               failed_frac=summary["failed_frac"], **r["versions"])
    print(json.dumps({"box": box}))
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(dict(box=box, e2e=e2e, summary=summary)) + "\n")
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    if a.trace:
        got = r["layers"]
        got["box.anchor_s"] = r["anchor_s"]
        got["jvm.peak_rss_mb"] = r["peak_rss_mb"]
        values = {m["name"]: float(got.get(m["name"], 0.0)) for m in layers}
        units = {m["name"]: m["unit"] for m in layers}
        log(f"trace written to {trace_path(a)}")
    else:
        values = e2e
        units = dict(setup_s="s", pass_s="s")
    print(json.dumps(dict(
        correct=failed == 0, attempted=attempted, failed=failed,
        metrics={k: dict(value=v, unit=units[k]) for k, v in values.items()})))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
