"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark program (build.py), generates the fixture
(fixture.py), runs one workload in one JVM on ``local[N]`` with N the
number of processors, checks its outputs against expected.json and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Everything it writes stays under ``.bench_build``.

``--record`` also stores this run's outputs in expected.json as the
expected ones (for the medallion: a cold build of the full fixture).
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
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import accounting  # noqa: E402
import build  # noqa: E402
import fixture  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
SF = 0.1
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fixture_dir(sf):
    """The generated fixture at scale factor sf, made once per checkout."""
    d = os.path.join(ROOT, build.BUILD_DIR,
                     f"fixture-sf{sf}-v{fixture.VERSION}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        fixture.write(d, sf)
    return d


def run_jvm(classpath, work, args):
    """Run the JVM side; return its samples, or raise on any failure."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "samples.json")
    env = dict(os.environ,
               SPARK_GRAFT_WARM_CACHE=os.path.join(work, "warm_cache"))
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{workloads.HEAP}", f"-Xmx{workloads.HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-cp", classpath, "perfbench.Main"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))] +
           ["--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, env=env)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        raise SystemExit(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    classpath = build.build(ROOT)
    spec = workloads.WORKLOADS[a.workload]
    work = os.path.join(ROOT, build.BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    staging_s = 0.0
    try:
        args = {"workload": spec["kind"], "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace}
        if spec["kind"] == "catalog":
            args["fixture"] = fixture_dir(SF)
            args["queries"] = ",".join(spec["queries"])
            args["warm"] = ",".join(spec["warm"])
        else:
            t0 = time.perf_counter()
            args.update(fixture.stage_medallion(
                fixture_dir(SF), os.path.join(work, "inputs"), a.seed))
            staging_s = time.perf_counter() - t0
            args["reference"] = int(a.record)
        samples = run_jvm(classpath, work, args)
        samples["setup"]["staging_s"] = staging_s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as fh:
        expected = json.load(fh)
    if a.record:
        accounting.record_expected(samples, expected)
        with open(expected_path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    problems = accounting.check(samples, expected)
    for p in problems:
        print(f"[perfbench] wrong output: {p}", file=sys.stderr)
    for f in samples["failures"]:
        print(f"[perfbench] failed: {f['op']}: {f['exception']}: "
              f"{f['message']}", file=sys.stderr)
    failed = accounting.failed_ops(samples, problems)
    if a.trace:
        metrics = accounting.per_layer(samples, failed)
    else:
        metrics = accounting.end_to_end(samples)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": samples["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
