#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks, each on a tiny input scale:
  1. one seed generates byte-identical inputs twice, for every workload;
  2. a run of each workload prints every end-to-end metric (untraced) and
     every per-layer metric (traced) with its unit, and answers correctly;
  3. a planted wrong expected answer makes fail_ratio non-zero while the
     command still exits 0 with its result line;
  4. in a directory holding only BENCHMARK.json and the benchmark, the
     command exits non-zero without printing a result.
"""
import filecmp
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import run  # noqa: E402

ROOT = Path.cwd()
SCALE = "0.05"
failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def bench(*args, cwd=ROOT):
    script = cwd / HERE.relative_to(ROOT) / "run.py"
    r = subprocess.run([sys.executable, str(script), "--seed", "7",
                        "--seconds", "1", "--scale", SCALE, *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return r, lines, result


def main():
    scratch = Path(tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".bench_build"
                                    if (ROOT / ".bench_build").is_dir() else None))
    try:
        for w in run.WORKLOADS:
            a, b = scratch / f"{w}-a", scratch / f"{w}-b"
            gen.generate(w, 7, a, float(SCALE))
            gen.generate(w, 7, b, float(SCALE))
            names = sorted(p.name for p in a.iterdir())
            same = names == sorted(p.name for p in b.iterdir()) and all(
                filecmp.cmp(a / n, b / n, shallow=False) for n in names)
            expect(same, f"{w}: seed 7 generates byte-identical inputs")

        for w in run.WORKLOADS:
            r, lines, res = bench("--workload", w, "--trace", "1")
            expect(r.returncode == 0 and res is not None, f"{w}: traced run exits 0 "
                   f"with a result line (code {r.returncode}) {r.stderr[-300:]}")
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0,
                   f"{w}: every answer correct ({res['failed']} failed)")
            for name, unit in run.END_TO_END:
                expect(any(ln.startswith(f"metric {w} {name} = ") and f" {unit}" in ln
                           for ln in lines), f"{w}: prints {name} in {unit}")
            expect(any(ln.startswith(f"metric {w} fail_ratio = ") for ln in lines),
                   f"{w}: prints fail_ratio")
            got = res["metrics"]
            missing = [n for n, u in run.PER_LAYER
                       if got.get(n, {}).get("unit") != u]
            expect(not missing and len(got) == len(run.PER_LAYER),
                   f"{w}: traced result has every per-layer metric {missing}")

        r, lines, res = bench("--workload", "wordcount", "--trace", "0",
                              "--plant-wrong")
        expect(r.returncode == 0 and res is not None and res["failed"] > 0
               and not res["correct"],
               f"planted wrong answer counts as failed: {res and res['failed']}")
        expect(sorted(res["metrics"]) == sorted(n for n, _ in run.END_TO_END)
               if res else False, "untraced result has every end-to-end metric")
        ratio = [ln for ln in lines if " fail_ratio = " in ln]
        expect(bool(ratio) and not ratio[0].split(" = ")[1].startswith("0 "),
               f"planted wrong answer makes fail_ratio non-zero: {ratio}")

        bare = scratch / "bare"
        shutil.copytree(HERE, bare / HERE.name,
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        r, lines, res = bench("--workload", "wordcount", "--trace", "0", cwd=bare)
        expect(r.returncode != 0 and res is None,
               f"without the engine sources: exit {r.returncode}, no result line")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "selftest ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
