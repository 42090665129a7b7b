"""Committed stress record (r16 verdict item 4), the one home of the
beyond-fixture recall studies (bench.py does not run them): the ×300
ANN recall once lived only in CHANGELOG prose. This runner
executes the ANN stress at a given factor BRACKETED by the bench
cpu/io probes (so a reader can verify the box was quiet) and persists
``STRESS_r{N}.json`` at the repo root.

Usage: python tools/stress_record.py [factor] [seed]   (default 300 8)
Optionally merges extra blocks from files named on argv as
``key=path.json`` (e.g. ``anomaly_skew_isolated=/tmp/skew.json``, or
``lsh_recall_10x=/tmp/lsh.json`` from ``tools/lsh_stress.py 10 8``).

``--no-ann`` (r18): skip the ANN rerun and carry forward the newest
committed ``ann_recall_*`` block by reference — for rounds whose stress
work is skew-only (VERDICT r17 item 3) and whose similarity code is
unchanged, re-burning ~10 min of ANN compute would measure nothing new.
The record then stores ``ann_carried_from`` naming the source record so
a reader knows those numbers were not re-measured this round.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def main() -> int:
    import bench
    from ann_stress import run_stress_ann

    from mysqldatasynctool_spark.session import get_spark

    no_ann = "--no-ann" in sys.argv[1:]
    argv = [a for a in sys.argv[1:] if a != "--no-ann"]
    pos = [a for a in argv if "=" not in a]
    extras = [a for a in argv if "=" in a]
    factor = int(pos[0]) if len(pos) > 0 else 300
    seed = int(pos[1]) if len(pos) > 1 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # load extras BEFORE the multi-minute stress: a typo'd path must
    # fail in the first second, not after the run it would discard
    extra_blocks = {}
    for kv in extras:
        key, path = kv.split("=", 1)
        with open(path) as f:
            extra_blocks[key] = json.load(f)

    rec: dict = {
        "record": "stress" if no_ann else "ann_stress",
        "factor": factor,
        "seed": seed,
        "sf_dir": sf_dir,
        "cpu_probe": {"start": bench._cpu_probe()},
        "io_probe": {"start": bench._io_probe()},
    }
    if no_ann:
        # carry the newest committed ANN block forward by reference
        import glob as _glob

        prior = sorted(_glob.glob(os.path.join(REPO, "STRESS_r*.json")))
        for path in reversed(prior):
            with open(path) as f:
                old = json.load(f)
            ann_keys = [k for k in old if k.startswith("ann_recall_")]
            if ann_keys:
                rec["ann_carried_from"] = os.path.basename(path)
                for k in ann_keys:
                    rec[k] = old[k]
                break
    else:
        spark = get_spark(app_name=f"stress_record_x{factor}")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            rec[f"ann_recall_{factor}x"] = run_stress_ann(
                spark, sf_dir, factor=factor, seed=seed
            )
        finally:
            spark.stop()
    rec["cpu_probe"]["end"] = bench._cpu_probe()
    rec["io_probe"]["end"] = bench._io_probe()
    rec.update(extra_blocks)

    out = os.path.join(REPO, f"STRESS_r{bench._current_round():02d}.json")
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}")
    print("STRESS_JSON: " + json.dumps(rec, sort_keys=True)[:1800])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
