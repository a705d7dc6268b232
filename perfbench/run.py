"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (see build.py), then runs one workload
in a fresh JVM. The JVM prints one line per metric and, as the last line of
stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Everything the run writes stays under `.perfbench/` in the
checkout.
"""
import argparse
import pathlib
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("registry-sf0.001", "stream-restart")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-golden", action="store_true",
                   help="rewrite perfbench/golden.json from the current program")
    a = p.parse_args()
    if not (a.workload or a.record_golden):
        p.error("--workload is required")
    try:
        b = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    if a.record_golden:
        return build.java(b.classpath, "perfbench.Main",
                          ["--root", str(ROOT), "--record-golden"], stdout=None)[0]
    args = ["--root", str(ROOT), "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    rc, out = build.java(b.classpath, "perfbench.Main", args, timeout=170)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.stderr.write(f"perfbench: run exited with {rc} and no result\n")
        return rc or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
