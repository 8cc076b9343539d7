"""Benchmark entry point: build the engine with the harness, run one workload
in one JVM, and relay its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The last line of stdout is the result
object; a build or run failure exits non-zero without printing one.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("erp_bulk_load", "erp_refresh", "corpus_increment")
# Fixed heap: the same on every machine, not derived from its memory.
HEAP = "3g"
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classpath, work, main, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {main} exceeded {timeout:.0f} s")
    return proc.returncode, out


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    root = os.getcwd()
    classpath = build.build(root)
    work = os.path.join(build.build_dir(root), "work", "selftest" if a.selftest else a.workload)
    os.makedirs(work, exist_ok=True)
    if a.selftest:
        code, out = jvm(classpath, work, "perfbench.SelfTest", [root], DEADLINE_S)
        sys.stdout.write(out)
        sys.exit(code)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "run")]
    left = DEADLINE_S - (time.monotonic() - t0)
    code, out = jvm(classpath, work, "perfbench.Main", args, max(10.0, left))
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        raise SystemExit(f"perfbench: run failed (exit {code})")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
