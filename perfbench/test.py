"""Runs the benchmark's own tests (perfbench/test/perfbench/SelfTest.scala).

    python3 perfbench/test.py
"""
import pathlib
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

if __name__ == "__main__":
    try:
        b = build.build(tests=True)
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        sys.exit(2)
    rc, _ = build.java(b.classpath, "perfbench.SelfTest", [str(build.ROOT)], timeout=600, stdout=None)
    sys.exit(rc)
