#!/usr/bin/env python3
"""Records the expected outputs of every input variant.

    python3 graftbench/record.py

Runs each workload once per input variant (seeds 0..7; a seed's variant
is seed mod 8) and writes the crawl-order, seen-set and per-query
fingerprints to graftbench/data/expected.tsv, which later runs check
their outputs against. Record only on a commit whose outputs are known
to be right: the file is the reference, not a cache.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
VARIANTS = 8
WORKLOADS = ("crawl_bulk", "curation")


def main():
    rows = []
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as tmp:
        for w in WORKLOADS:
            for v in range(VARIANTS):
                raw = os.path.join(tmp, f"{w}-{v}.json")
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(v), "--seconds", "1", "--trace", "0",
                                "--raw", raw], check=True, stdout=subprocess.DEVNULL)
                with open(raw) as f:
                    fps = json.load(f)["fingerprints"]
                rows += [(w, v, k, fp) for k, fp in sorted(fps.items())]
                print(f"{w} variant {v}: {len(fps)} fingerprints", flush=True)
    with open(os.path.join(HERE, "data", "expected.tsv"), "w") as f:
        for r in rows:
            f.write("\t".join(map(str, r)) + "\n")


if __name__ == "__main__":
    main()
