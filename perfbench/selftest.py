"""Self-test of the benchmark's checkers and seeded generators.

    python3 perfbench/run.py --selftest

1. Planted wrong answers: each workload runs with one planted error
   (a perturbed mart value, a perturbed curation output, a row dropped
   from the commit model, a lookup checked against the wrong version).
   Each must fail the run and be counted in `failed`.
2. Seeded generators: the same seed gives the same operation list and
   the same input files; another seed gives another list and other
   files.
3. Counts: two traced runs of the same seed and the same number of
   steps report the same work counts (jobs, files scanned, bytes
   written per row, space amplification).
"""

import json
import os
import subprocess
import sys

import run

PLANTS = [("medallion_batch", "perturb_mart", 1), ("curation_batch", "perturb_curation", 1),
          ("commit_mix", "drop_model_row", 1), ("lookup_mix", "wrong_version", 10)]

COUNT_RUNS = [("commit_mix", 1), ("lookup_mix", 10)]


def invoke(script, *argv):
    proc = subprocess.run([sys.executable, script] + list(argv), stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=600)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    return proc.returncode, json.loads(last) if last.startswith("{") else {}


def jvm(*argv):
    cp, cds, _ = run.classpath()
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    proc = subprocess.run(run.java_cmd(cp, run.WORK, cds) + list(argv), stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    return proc.stdout.strip().splitlines()[-1]


def main(script):
    problems = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    for wl, plant, steps in PLANTS:
        rc, res = invoke(script, "--workload", wl, "--seed", "3", "--steps", str(steps),
                         "--reps", "1", "--plant", plant)
        expect(rc != 0 and res.get("failed", 0) > 0 and res.get("correct") is False,
               "%s with planted %s fails (exit %d, failed %s)" % (wl, plant, rc, res.get("failed")))

    for wl in run.ALL_WORKLOADS:
        a, b, c = (jvm("--workload", wl, "--seed", s, "--list-ops", "40") for s in ("1", "1", "2"))
        expect(a == b, "%s: same seed, same operation list" % wl)
        expect(a != c, "%s: other seed, other operation list" % wl)
    for wl in ("medallion_batch", "curation_batch"):
        os.makedirs(os.path.join(run.WORK, "digest", "tmp"), exist_ok=True)
        work = os.path.join(run.WORK, "digest")
        a, b, c = (jvm("--workload", wl, "--seed", s, "--digest", "1", "--work", work)
                   for s in ("1", "1", "2"))
        expect(a == b, "%s: same seed, same input files" % wl)
        expect(a != c, "%s: other seed, other input files" % wl)

    for wl, steps in COUNT_RUNS:
        runs = [invoke(script, "--workload", wl, "--seed", "5", "--steps", str(steps),
                       "--reps", "1", "--trace", "1")[1] for _ in range(2)]
        names = [n for n, _, _ in run.PER_LAYER
                 if n.endswith((".jobs", ".files_scanned", "bytes_written"))
                 or n in ("write_bytes_per_row", "space_amp", "commit.files_live",
                          "commit.delete_files_live", "dedup.NearDup.pairs")]
        got = [{n: r["metrics"][n]["value"] for n in names} for r in runs]
        diff = {n: (got[0][n], got[1][n]) for n in names if got[0][n] != got[1][n]}
        expect(not diff, "%s: same seed, same counts %s" % (wl, diff or ""))

    print("%d problem(s)" % len(problems))
    return 1 if problems else 0
