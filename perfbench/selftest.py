#!/usr/bin/env python3
"""Generator self-test: one seed gives identical content, another seed
different content, for every input the benchmark generates.

    python3 perfbench/selftest.py [--seed 7]

Needs numpy and pyarrow only; writes under ``.perfbench_work/`` in the
repository and removes it again.
"""

import argparse
import os
import shutil
import sys

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def digests(seed: int, out: str) -> dict:
    stream = gen.DocStream(seed)
    return {
        "events": gen.content_digest(
            gen.make_events(seed, f"{out}/events")["files"]),
        "wide": gen.content_digest(gen.make_wide(seed, f"{out}/wide")["files"]),
        "docs": gen.content_digest(
            [f for b in range(3)
             for f in stream.write_batch(b, f"{out}/docs")["files"]]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        a = digests(seed, f"{work}/a")
        b = digests(seed, f"{work}/b")
        c = digests(seed + 1, f"{work}/c")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"seed {seed}: {a}")
    print(f"seed {seed + 1}: {c}")
    ok = a == b and all(a[k] != c[k] for k in a)
    print("selftest " + ("ok" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
