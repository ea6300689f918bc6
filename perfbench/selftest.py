"""Spark-free self-test of the seeded input generators.

    python3 perfbench/selftest.py

Checks that one seed gives byte-identical inputs (star tables, raw SGP
tree, draft script), and that another seed gives different bytes with
the same shape: the same files, schemas and row counts.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from perfbench import gen_sgp, gen_star  # noqa: E402


def _files(root: str) -> dict[str, str]:
    """relative path -> sha256 of every file under root"""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _shape(root: str, rel: str):
    p = os.path.join(root, rel)
    if rel.endswith(".parquet"):
        md = pq.read_metadata(p)
        return md.num_rows, str(md.schema.to_arrow_schema())
    with open(p) as f:
        lines = f.read().splitlines()
    return len(lines), lines[0]


def _script(seed: int):
    pool = [(str(100001 + i), f"Player {i}", 1.0 + i) for i in range(120)]
    return gen_sgp.draft_script(seed, pool, 8, teams=12, rounds=3)


def main() -> int:
    failures = []
    with tempfile.TemporaryDirectory() as tmp:
        trees = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            star, raw = os.path.join(tmp, tag, "star"), os.path.join(tmp, tag, "raw")
            gen_star.write_tables(seed, star)
            gen_sgp.write_tree(seed, raw)
            trees[tag] = (star, raw)
        for i, kind in enumerate(("star", "raw")):
            a, b, c = (_files(trees[t][i]) for t in "abc")
            if a != b:
                failures.append(f"{kind}: seed 7 twice gave different bytes")
            if set(a) != set(c):
                failures.append(f"{kind}: seeds 7 and 8 gave different file sets")
            elif not any(a[k] != c[k] for k in a):
                failures.append(f"{kind}: seeds 7 and 8 gave identical bytes")
            else:
                for rel in sorted(a):
                    if _shape(trees["a"][i], rel) != _shape(trees["c"][i], rel):
                        failures.append(f"{kind}: {rel} changed shape between seeds")
    if _script(7) != _script(7):
        failures.append("draft script: seed 7 twice differs")
    if _script(7) == _script(8):
        failures.append("draft script: seeds 7 and 8 agree")
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
