#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

It compiles the checkout's `src/main/scala` and the JVM runner
(`perfbench/Runner.scala`) into `.bench_build/`, generates the workload's
inputs from the seed (`perfbench/gen.py`, cached per seed), runs the runner
in a fresh JVM as a closed loop (one client, one query at a time) on
`local[N]`, checks every answer against the query's DuckDB twin, prints one
`metric` line per measured value and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md). The process exits non-zero only
when the benchmark itself cannot run (no sources, a compile error, a bad
argument); a workload that throws, times out or answers wrong still prints
its result with the failures counted.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the checkout's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    return Path(m.group(1)) if m else Path("jars")


SPARK_JARS = spark_jars_dir()
SCALA_VERSION = "2.13.17"

WORKLOADS = {
    "wordcount": ["q_topk", "q_topk_per_reducer"],
    "graph_iter": ["q_betweenness"],
}
# Both workloads' warm jobs take about this long on 4 cores. `--seconds` of
# jobs at this pace is the timed job count, so the count is fixed for a
# given `--seconds` however fast the checkout runs.
NOMINAL_JOB_S = 3.3
MIN_JOBS = 3
WARMUP_JOBS = 2

END_TO_END = [("setup_s", "s"), ("cold_job_s", "s"), ("job_s", "s"),
              ("heap_live_peak_mb", "MB")]

PER_LAYER = [
    ("sessions.build_s", "s"),
    ("construct.s", "s"), ("construct.tasks", "count"), ("construct.jobs", "count"),
    ("construct.jobs.schema", "count"), ("construct.jobs.ckpt", "count"),
    ("construct.jobs.other", "count"),
    ("scan.input_mb", "MB"), ("scan.records", "count"), ("scan.tasks", "count"),
    ("scan.widened", "count"),
    ("wc.map.rows_out", "count"), ("wc.combine.rows_in", "count"),
    ("wc.combine.rows_out", "count"), ("wc.combine_ratio", "ratio"),
    ("wc.reduce.agg_s", "s"), ("wc.sort_topk.s", "s"), ("wc.topk.rows_out", "count"),
    ("op.agg_s", "s"), ("op.sort_s", "s"), ("op.generate.rows_out", "count"),
    ("op.join.rows_out", "count"), ("op.spill_mb", "MB"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.stages_skipped", "count"), ("exec.tasks", "count"),
    ("task.run_s", "s"), ("task.cpu_s", "s"), ("task.gc_s", "s"),
    ("task.sched_delay_s", "s"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.records", "count"), ("spill.mb", "MB"), ("exec.peak_mem_mb", "MB"),
    ("exec.slot_util", "ratio"), ("exec.task_skew", "ratio"),
    ("ckpt.cached_mb", "MB"), ("ckpt.blocks", "count"),
    ("self.job_s", "s"), ("self.construct_s", "s"), ("self.action_s", "s"),
    ("self.spark_job_s", "s"), ("self.stage_s", "s"),
    ("trace.job_s", "s"), ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s"),
]

# JVM options of the engine's forked runs (build.sbt / dev/run.sh).
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.language=en", "-Duser.country=US"]
HEAP = "3g"
RUN_LIMIT_S = 165      # wall budget of one run after the build


class BenchError(Exception):
    """The benchmark itself cannot run (as opposed to a failing workload)."""


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        raise BenchError(f"no Spark jars under {SPARK_JARS}")
    return jars


def scalac(sources, out, classpath):
    """Compile `sources` into `out` with the Scala compiler jar shipped
    alongside Spark (no sbt)."""
    comp = [SPARK_JARS / f"scala-{m}-{SCALA_VERSION}.jar"
            for m in ("compiler", "library", "reflect")]
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "scalac.args"
    args.write_text("\n".join(
        ["-nowarn", "-d", str(tmp), "-classpath",
         os.pathsep.join(map(str, classpath))] + [str(s) for s in sources]))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, comp)),
         "scala.tools.nsc.Main", f"@{args}"],
        capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    args.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Compile the engine and the runner, unless the stamped sources are
    unchanged since the last build in this checkout."""
    src = ROOT / "src" / "main" / "scala"
    engine = sorted(src.rglob("*.scala")) if src.is_dir() else []
    if not engine:
        raise BenchError(f"no engine sources under {src}")
    runner = sorted(HERE.glob("*.scala"))
    h = hashlib.sha256()
    for f in engine + runner:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = BUILD / "classes.stamp"
    engine_out, runner_out = BUILD / "engine", BUILD / "runner"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return [runner_out, engine_out]
    t0 = time.monotonic()
    jars = spark_classpath()
    scalac(engine, engine_out, jars)
    scalac(runner, runner_out, [engine_out] + jars)
    stamp_file.write_text(stamp)
    log(f"built engine + runner in {time.monotonic() - t0:.1f} s")
    return [runner_out, engine_out]


def inputs(workload, seed, scale, cores):
    """Generated tables for (workload, seed, scale), cached under
    .bench_build/data. Returns (dir, generation seconds, props)."""
    d = BUILD / "data" / f"{workload}-s{seed}-x{scale:g}-c{cores}"
    if (d / "props.json").exists():
        return d, 0.0, json.loads((d / "props.json").read_text())
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.monotonic()
    props = gen.generate(workload, seed, tmp, scale, cores)
    secs = time.monotonic() - t0
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, secs, props


def run_jvm(classpath, work, args, limit_s):
    """Run the runner in a fresh JVM inside `work`. Returns (result dict or
    None, launch epoch, error text)."""
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    cmd = (["java"] + JVM_OPTS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp",
            os.pathsep.join([str(p) for p in classpath] + [str(SPARK_JARS / "*")]),
            "perfbench.Runner"] + [f"{k}={v}" for k, v in args.items()])
    err = ""
    with open(work / "jvm.log", "w") as logf:
        launch = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            err = f"runner JVM exceeded {limit_s:.0f} s and was killed"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 and not err:
        err = f"runner JVM exited with code {p.returncode}"
    res = work / "out" / "result.json"
    result = json.loads(res.read_text()) if res.exists() else None
    if err:
        tail = (work / "jvm.log").read_text(errors="replace")[-2000:]
        err += "\n" + tail
    return result, launch, err


def cpu_times():
    """The machine's aggregate CPU time counters (Linux /proc/stat), or
    None where there are none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Per job and span kind: summed self time (duration minus the part
    covered by child spans). Returns {kind: [per-job totals]}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    per = {}
    for s in spans:
        if s["kind"] == "workload" or s["end"] is None:
            continue
        cover, cur = 0.0, None
        for c in sorted((max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"]))
                        for c in kids.get(s["id"], [])):
            if c[1] <= c[0]:
                continue
            if cur is None or c[0] > cur[1]:
                if cur:
                    cover += cur[1] - cur[0]
                cur = list(c)
            else:
                cur[1] = max(cur[1], c[1])
        if cur:
            cover += cur[1] - cur[0]
        key = per.setdefault(s["kind"], {})
        key[s["trace"]] = key.get(s["trace"], 0.0) + (s["end"] - s["start"] - cover)
    return {k: list(v.values()) for k, v in per.items()}


def end_to_end(r, launch):
    jobs = r.get("jobs", [])
    return {
        "setup_s": r["ready_epoch"] - launch if "ready_epoch" in r else 0.0,
        "cold_job_s": r.get("cold_job_s", 0.0),
        "job_s": median([j["s"] for j in jobs]),
        "heap_live_peak_mb": max([j["heap_mb"] for j in jobs], default=0.0),
    }


def per_layer(workload, r, e2e, spans):
    """Median over the traced jobs of every per-layer counter, plus span
    self times and the tracing overhead."""
    traced = r.get("traced_jobs", [])
    layers = {}
    for j in traced:
        for k, v in j["layers"].items():
            layers.setdefault(k, []).append(v)
    per = {k: median(v) for k, v in layers.items()}
    per["sessions.build_s"] = r.get("sessions_build_s", 0.0)
    for kind, vals in self_times(spans).items():
        per[f"self.{kind}_s"] = median(vals)
    per["trace.job_s"] = median([j["s"] for j in traced])
    per["trace.untraced_job_s"] = e2e["job_s"]
    per["trace.overhead_s"] = per["trace.job_s"] - e2e["job_s"]
    if workload == "wordcount":
        per["wc.topk.rows_out"] = float(sum((r.get("result_rows") or {}).values()))
    return per


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: input scale, and a planted wrong expected answer
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    classpath = build()
    t0 = time.monotonic()
    cores = max(1, min(4, os.cpu_count() or 1))
    queries = WORKLOADS[a.workload]
    data, gen_s, props = inputs(a.workload, a.seed, a.scale, cores)
    print(f"inputs {data.name}: {json.dumps(props['stats'])} gen_s={gen_s:.3f}")

    work = BUILD / "tmp" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    limit = RUN_LIMIT_S - 15 - (time.monotonic() - t0)
    t_jvm, cpu0 = time.monotonic(), cpu_times()
    try:
        result, launch, err = run_jvm(classpath, work, {
            "out": work / "out", "cpus": cores, "data": data,
            "queries": ",".join(queries), "warmup": WARMUP_JOBS,
            "jobs": max(MIN_JOBS, round(a.seconds / NOMINAL_JOB_S)),
            "trace": a.trace, "deadline": limit - 40,
        }, limit)
        t_check, cpu1 = time.monotonic(), cpu_times()
        r = result or {}
        if err:
            print(f"error: {err}")
        # correctness, outside the timed window
        wrong = {q: f"threw {e}" for q, e in (r.get("errors") or {}).items()}
        if result is not None:
            try:
                wrong.update(check.verify(a.workload, data, work / "out" / "verify",
                                          r.get("oracle", {}), queries, a.plant_wrong,
                                          skip=set(wrong)))
            except Exception as e:  # an unreadable answer is a wrong answer
                wrong.update({q: f"check failed: {e!r}" for q in queries if q not in wrong})
        trace = work / "out" / "trace.json"
        spans = json.loads(trace.read_text()) if trace.exists() else []
        if spans:
            keep = BUILD / "traces"
            keep.mkdir(parents=True, exist_ok=True)
            shutil.copy(trace, keep / f"{a.workload}-s{a.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for q, why in sorted(wrong.items()):
        print(f"FAIL {q}: {why}")
    print(f"phases: gen {gen_s:.1f} s, runner JVM {t_check - t_jvm:.1f} s, "
          f"check {time.monotonic() - t_check:.1f} s")
    if cpu0 and cpu1:
        # busy and stolen (taken by the hypervisor) shares of all CPU time
        # while the runner JVM ran: context for a run that reads slow
        d = [b - a for a, b in zip(cpu0, cpu1)]
        total = max(1, sum(d))
        print(f"cpu during the run: busy {1 - (d[3] + d[4]) / total:.1%}, "
              f"steal {d[7] / total:.1%}")

    # a job fails when one of its queries threw, or when any query's
    # verified answer is wrong (every job runs the same plans on the same
    # inputs); a runner JVM that died counts one more failed attempt
    jobs = r.get("jobs", [])
    all_jobs = ([r.get("cold_failed", [])] if "cold_job_s" in r else []) + \
        [j["failed"] for j in r.get("warmup", []) + jobs + r.get("traced_jobs", [])]
    attempted = len(all_jobs) + (0 if result else 1)
    failed = sum(1 for f in all_jobs if wrong or f) + (0 if result else 1)
    correct = not wrong and not err and bool(jobs)

    e2e = end_to_end(r, launch)
    for name, unit in END_TO_END:
        extra = f" (median of {len(jobs)} jobs)" if name == "job_s" else ""
        print(f"metric {a.workload} {name} = {e2e[name]:.6g} {unit}{extra}")
    print(f"metric {a.workload} fail_ratio = {failed / attempted:.6g} "
          f"({failed} of {attempted} jobs)")
    print("timed jobs: " + ", ".join(f"{j['s']:.3f} s / {j['heap_mb']:.1f} MB"
                                     for j in jobs))
    for q, ts in (r.get("query_s") or {}).items():
        print(f"query {q}: median {median(ts[1:] or ts):.3f} s over {len(ts) - 1} warm runs")

    if a.trace:
        per = per_layer(a.workload, r, e2e, spans)
        metrics = {n: {"value": float(per.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        for n, m in metrics.items():
            print(f"layer {a.workload} {n} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run_jvm's cleanup


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"benchmark error: {e}")
        sys.exit(2)
