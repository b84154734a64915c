#!/usr/bin/env python3
"""The benchmark's self-tests: the POS feed generator is byte-deterministic
per seed, a feed cut at a round boundary replays as a prefix of the full
feed, and the feed's gold model matches PosPipeline.runEndToEnd on a tiny
seed.

Usage, from the root of a checkout:  python3 perfbench/selftest.py
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp, _ = run.classpath()
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    p = subprocess.run(run.java_cmd(cp, work, "perfbench.SelfTest") + [work],
                       cwd=run.ROOT, stdin=subprocess.DEVNULL, timeout=300,
                       capture_output=True, text=True)
    print(p.stdout, end="")
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
