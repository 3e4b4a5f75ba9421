"""Engine benchmark: build, run one workload (or all), print the result.

    python3 perfbench/run.py --workload corpus_pipeline --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 7
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload chain_graph --write-goldens

Builds the engine and the benchmark from source (build.py), then runs
``graft.perfbench.Main`` in one JVM at local[<cores>]. Everything the run
writes lives under ``.bench_build/`` at the repository root and is
removed afterwards, except the compiled classes. The last stdout line of
a workload run is its JSON result. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["corpus_pipeline", "chain_graph"]
DEFAULT_SEED = 42
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens; the -D flags
# mirror the engine's build.sbt javaOptions.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.objectHashAggregate.sortBased.fallbackThreshold="
    + os.environ.get("SPARK_GRAFT_OHA_FALLBACK", "1000000"),
    "-XX:-UsePerfData",
]


def run_jvm(classes: Path, main_args: list, deadline: float) -> int:
    """Run graft.perfbench.Main (or another main) with a private work dir."""
    work = build.OUT / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + JVM_OPTS + ["-cp", build.classpath(classes)]
           + [a.replace("{work}", str(work)) for a in main_args])
    proc = subprocess.Popen(cmd, cwd=work)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 124
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(classes: Path) -> int:
    code = run_jvm(classes, ["graft.perfbench.SelfTest", "{work}"],
                   time.monotonic() + RUN_TIMEOUT_S)
    out = subprocess.run(["java", "-cp", build.classpath(classes),
                          "graft.perfbench.Main", "--catalog"],
                         capture_output=True, text=True, check=True).stdout
    catalog = json.loads(out.strip().splitlines()[-1])
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    ok = True
    for key in ("end_to_end", "per_layer"):
        want = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        got = {m["name"]: (m["unit"], m["better"]) for m in catalog[key]}
        if want != got:
            ok = False
            print(f"FAIL BENCHMARK.json {key} differs from the catalog: "
                  f"missing {sorted(set(got) - set(want))}, "
                  f"extra {sorted(set(want) - set(got))}, "
                  f"changed {sorted(k for k in set(got) & set(want) if got[k] != want[k])}")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(catalog["workloads"]):
        ok = False
        print("FAIL BENCHMARK.json workloads differ from the catalog")
    print(("ok" if ok else "FAIL") + " BENCHMARK.json matches the metric catalog")
    return code if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-goldens", action="store_true",
                    help="rewrite the workload's goldens at the default seed")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        return selftest(classes)

    code = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        args = ["graft.perfbench.Main", "--workload", w,
                "--seed", str(DEFAULT_SEED if a.write_goldens else a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work-dir", "{work}",
                "--goldens", str(build.BENCH / "goldens")]
        if a.write_goldens:
            args.append("--write-goldens")
        code = run_jvm(classes, args, time.monotonic() + RUN_TIMEOUT_S) or code
        sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
