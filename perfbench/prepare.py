"""Make one workload's inputs for a seed and the expected outputs the
benchmark checks against.  Runs as its own process, before anything is
timed, so its memory never counts in the benchmark's process tree.

    python3 perfbench/prepare.py <workload> <seed> <out_dir>

Writes the inputs, ``inputs.json`` and ``expected.json`` under
``<out_dir>``.
"""

from __future__ import annotations

import json
import os
import sys

import gen
import oracle


def main(argv: list[str]) -> int:
    workload, seed, out_dir = argv[0], int(argv[1]), argv[2]
    meta = gen.generate(workload, seed, out_dir)
    expected = oracle.expected(meta)
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
