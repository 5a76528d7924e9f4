#!/usr/bin/env python3
"""Benchmark of the importer and of the LLM-pipeline query mix.

Usage (from the repository root):
  python3 perfbench/run.py --workload <import_tweets|import_flat|llm_pipeline_mix>
                           --seed <n> --seconds <s> --trace <0|1>

One run builds the program and the harness if they are not built yet
(perfbench/build.sh), generates the seeded tweet dump if it is not on disk
yet, and then starts one JVM (perfbench/harness) that sets up, warms up and
times import rounds for --seconds, or one cold pass of the query mix. After
the JVM has ended, the outputs of the last pass are checked against
computations made apart from the program
(perfbench/checks.py). The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Progress and check details go to stderr.

Everything the run makes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path.insert(0, str(BENCH))

ROWS = 240_000          # rows of the seeded dump (about 86 MB of CSV)
KEEP_INPUTS = 12        # generated dumps kept on disk, newest first
CPUS = 4                # Spark local threads and shuffle partitions
HEAP = "3g"
JVM_TIMEOUT_S = 165
WORKLOADS = ("import_tweets", "import_flat", "llm_pipeline_mix")
MIX_QUERIES = ("q28", "q37", "q39", "q116", "q30", "q114", "q29", "q42", "q517", "q44", "q121")

# metric names and units, as BENCHMARK.json declares them
_DECL = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _DECL["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECL["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the program's own build names (build.sbt unmanagedBase)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def tables_dir():
    """The fixed sf0.01 query tables, as TESTDATA.md lists them."""
    for line in (ROOT / "TESTDATA.md").read_text().splitlines():
        m = re.match(r"\|\s*0\.01\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    raise SystemExit("TESTDATA.md lists no sf0.01 tables")


def build(jars):
    """Classes of the program plus the harness, rebuilt when a source changes.
    Runs are serial: a new build removes the classes of older source states."""
    h = hashlib.sha256()
    srcs = sorted(p for d in (ROOT / "src/main", BENCH / "harness") for p in d.rglob("*")
                  if p.is_file())
    for p in srcs + [BENCH / "build.sh"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    out = WORK / "build" / key
    if not (out / "done").exists():
        for old in (WORK / "build").glob("*"):
            shutil.rmtree(old, ignore_errors=True)
        log(f"building program and harness into {out.relative_to(ROOT)}")
        t0 = time.time()
        subprocess.run(["bash", str(BENCH / "build.sh"), str(out / "classes")],
                       check=True, env=dict(os.environ, SPARK_JARS=jars),
                       stdout=sys.stderr, timeout=840)
        (out / "done").write_text("")
        log(f"built in {time.time() - t0:.1f} s")
    return out / "classes"


def tweet_input(seed, rows):
    """The dump of `seed`, generated once and kept for later runs of that seed."""
    import gen_tweets
    base = WORK / "input"
    version = hashlib.sha256((BENCH / "gen_tweets.py").read_bytes()).hexdigest()[:8]
    d = base / f"tweets-s{seed}-r{rows}-{version}"
    if not (d / "expect.json").exists():
        tmp = base / ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen_tweets.generate(str(tmp), seed, rows)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
        log(f"generated {d.name} in {time.time() - t0:.1f} s")
    os.utime(d)
    kept = sorted(base.glob("tweets-*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_harness(classes, jars, workload, seconds, trace, input_dir, tables, out_dir):
    run_dir = WORK / "run"
    tmp = WORK / "tmp"
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    result = run_dir / "result.json"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file: the JVM would write it under the system temp dir
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{ROOT / 'src/main/resources'}:{jars}/*", "perfbench.Harness",
            workload, str(seconds), "1" if trace else "0", str(input_dir),
            str(ROOT / "src/test/data/tweets.schema"), tables, str(out_dir), str(result)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=str(tmp / "spark"))
    with open(run_dir / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness JVM exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not result.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        log("\n".join(tail))
        raise SystemExit(f"harness JVM failed with exit code {rc}")
    return json.loads(result.read_text())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    ps = [p for p in res["passes"] if p["wall_s"] is not None]  # None: the import threw
    vals = {"setup_s": res["setup_s"],
            "pass_s": median([p["wall_s"] for p in ps]),
            "cpu_s": median([p["cpu_s"] for p in ps]),
            "input_bytes": median([p["input_bytes"] for p in ps]),
            "output_bytes": median([p["output_bytes"] for p in ps])}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(res):
    vals = {k: 0.0 for k in PER_LAYER}
    for k, v in res["fixed"].items():
        vals[k.replace("standing.standing_", "standing.")] = v
    for k, xs in res["samples"].items():
        vals[k] = median([x for x in xs if x is not None])
    unknown = set(vals) - set(PER_LAYER)
    if unknown:
        raise SystemExit(f"harness reported undeclared metrics {sorted(unknown)}")
    return {k: {"value": vals[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala", "build.sbt", "TESTDATA.md", "src/test/data/tweets.schema"):
        if not (ROOT / need).exists():
            raise SystemExit(f"not a checkout of the program: {need} is missing")
    jars = spark_jars()
    classes = build(jars)
    tables = tables_dir()
    importing = a.workload != "llm_pipeline_mix"
    input_dir = tweet_input(a.seed, ROWS) if importing else WORK / "input"
    out_dir = WORK / "out"
    log(f"running {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    res = run_harness(classes, jars, a.workload, a.seconds, a.trace == 1, input_dir, tables,
                      out_dir)
    import checks
    failed = res["failed"]
    if importing:
        (out_dir / f"{a.workload}.source").write_text(str(input_dir))
        threw = {e.split(":")[0] for e in res["errors"]}
        rounds = [out_dir / a.workload / str(i) for i in range(1, len(res["passes"]) + 1)
                  if f"pass.{i}" not in threw]
        # the full checks read the last round that did not throw
        problems = (checks.check_import(a.workload, rounds[-1],
                                        json.loads((input_dir / "expect.json").read_text()))
                    if rounds else [])
        if a.workload == "import_tweets":
            # A sorted import whose files are not in tweetid order fails.
            for r in rounds:
                unsorted = checks.unsorted_files(r)
                if unsorted:
                    failed += 1
                    log(f"operation failed: pass.{r.name}: {len(unsorted)} of "
                        f"{len(list(r.rglob('*.parquet')))} files not sorted by tweetid, "
                        f"first {unsorted[0]}")
    else:
        problems = checks.check_mix(out_dir / a.workload, tables, MIX_QUERIES,
                                    [e.split(":")[0] for e in res["errors"]])
    for e in res["errors"]:
        log(f"operation failed: {e}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    metrics = per_layer(res) if a.trace else end_to_end(res)
    log(f"{len(res['passes'])} timed rounds, {res['attempted']} operations, {failed} failed; "
        f"checks {'passed' if not problems else 'FAILED (%d)' % len(problems)}")
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
