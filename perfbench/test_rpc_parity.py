#!/usr/bin/env python3
"""One chain window must give identical sink contents whether the nine
pipelines fetch over the loopback http:// JSON-RPC server or through the
in-process fake:// transport.

    python3 perfbench/test_rpc_parity.py    # from the checkout root
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = run.spark_jars()
    classes = run.build(root, build_dir, jars)
    work = os.path.join(build_dir, "work", f"parity-{os.getpid()}")
    os.makedirs(work)
    try:
        log = os.path.join(work, "jvm.log")
        code = run.java(root, classes, jars, work, "perfbench.ParityCheck",
                        ["--work", work], log)
        with open(log) as f:
            lines = [l for l in f.read().splitlines()
                     if l.startswith(("SAME", "DIFF", "[perfbench]", "Exception"))]
        print("\n".join(lines))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("PASS" if code == 0 else f"FAIL (exit {code})")
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
