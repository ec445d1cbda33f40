"""Merge per-batch correctness_json.py artifacts into one driver-style
file (the sf100h sweep runs in batches so one heavy oracle failing cannot
waste the others' hours). _meta is recomputed; later files win on key
collisions.

Usage: python tools/merge_correctness.py <out.json> <in.json> [in.json ...]
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="merged artifact to write")
    ap.add_argument("inputs", nargs="+", help="per-batch artifacts, later wins")
    args = ap.parse_args()
    out_path, ins = args.out, args.inputs
    merged: dict = {}
    meta_src = None
    for p in ins:
        with open(p) as fh:
            d = json.load(fh)
        meta_src = d.get("_meta", meta_src)
        merged.update({k: v for k, v in d.items() if k != "_meta"})
    n_ok = sum(1 for r in merged.values() if r.get("hash_match"))
    artifact = {
        "_meta": {
            "sf_dir": (meta_src or {}).get("sf_dir"),
            "gates": len(merged),
            "green": n_ok,
            "merged_from": ins,
        }
    }
    artifact.update(merged)
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"{n_ok}/{len(merged)} green -> {out_path}")


if __name__ == "__main__":
    main()
