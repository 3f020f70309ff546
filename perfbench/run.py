"""Log-to-metrics benchmark.

    python3 perfbench/run.py --workload <backfill_json|fanout_typed|stream_tail>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), runs one
workload in a JVM and prints one JSON result line last on stdout. Exits
non-zero, without a result, if the build or the run fails; exits 1 after
the result if any output point differs from the generator's oracle.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["backfill_json", "fanout_typed", "stream_tail"]
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
            os.path.join(build.ROOT, "BENCHMARK.json")]
    # a terminated benchmark stops its JVM and removes its files too
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, cwd=work)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded %d s" % TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
