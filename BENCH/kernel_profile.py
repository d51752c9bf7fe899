"""Per-kernel bandwidth profile of the e2e hot path (no Spark).

Per-process throughput of the raw kernels drops past 16 procs on a
32-core box; this probe shows WHICH kernels pay for it.  It runs each
stage of `batch_image.image_features_batch` separately — decode,
grayscale, brightness/phash, ROI crop (blur + Otsu + components), and
every cropped-plane kernel (median3, box
sums, the four adaptive thresholds, morphology, Laplacian, skew /
core components) — over the same Arrow-sized shape groups the
production UDF sees, in P pinned processes, and reports per-kernel
aggregate rows/sec at each P plus the P_max/P_min per-process
retention ("scale%": 100 = perfectly flat, lower = bandwidth-bound).

    python BENCH/kernel_profile.py [--procs 1,8,32] [--reps 6] [--rows 256]

Writes BENCH/kernel_profile.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.join(REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)


def load_pxs(n: int):
    """Decoded fixture images, in fixture order (mixed shapes)."""
    import pyarrow.parquet as pq

    from make_fixtures import ensure_fixtures
    from qfilter import codecs

    t = pq.read_table(
        os.path.join(ensure_fixtures("bench"), "images.parquet"),
        columns=["bytes", "fmt", "w", "h"],
    ).slice(0, n)
    rows = list(
        zip(t["bytes"].to_pylist(), t["fmt"].to_pylist(), t["w"].to_pylist(), t["h"].to_pylist())
    )
    pxs = []
    for b, f, ww, hh in rows:
        try:
            pxs.append(codecs.decode(b, f, int(ww), int(hh)))
        except Exception:  # noqa: BLE001
            pass
    return rows, pxs


def build_stages(rows, pxs):
    """(name, fn, n_rows) list.  Each fn runs ONE stage over the same
    shape-grouped stacks the production batch path builds, using the
    production kernels on the production mask form (0/1 uint8, as
    `_cropped_group_features` and `_roi_crop_b` build them).  Stages
    receive precomputed inputs so each timing isolates one kernel
    family's memory traffic."""
    import numpy as np

    from qfilter import batch_image as B
    from qfilter import codecs
    from qfilter.session import ARROW_BATCH_ROWS

    # shape groups per Arrow batch (the unit the UDF actually sees)
    batches = []
    for i in range(0, len(pxs), ARROW_BATCH_ROWS):
        chunk = pxs[i : i + ARROW_BATCH_ROWS]
        groups = {}
        for p in chunk:
            groups.setdefault(p.shape, []).append(p)
        batches.append([np.stack(g) for g in groups.values()])

    grays = [[B.grayscale_b(st) for st in b] for b in batches]
    # cropped stacks (stage-2 input), grouped by cropped shape
    cropped_stacks = []
    for b in grays:
        per_batch = {}
        for g3 in b:
            cropped, _ = B._roi_crop_b(g3)
            for c in cropped:
                per_batch.setdefault(c.shape, []).append(c)
        cropped_stacks.append([np.stack(v) for v in per_batch.values()])
    meds = [[B.median3_b(c) for c in b] for b in cropped_stacks]
    blurs = [[B.binomial5_blur_b(g) for g in b] for b in grays]

    nrow = len(pxs)

    def stage_decode():
        for b, f, ww, hh in rows:
            try:
                codecs.decode(b, f, int(ww), int(hh))
            except Exception:  # noqa: BLE001
                pass

    def open_lines(thr):
        # one threshold mask, opened along both axes (production order)
        return B._open01(thr, 1, 40), B._open01(thr, 40, 1)

    def per_group(stacks, fn):
        def run():
            for b in stacks:
                for st in b:
                    fn(st)
        return run

    stages = [
        ("decode", stage_decode, len(rows)),
        ("grayscale", per_group(batches, B.grayscale_b), nrow),
        ("brightness", per_group(grays, B.brightness_stats_b), nrow),
        ("phash", per_group(grays, B.average_hash_b), nrow),
        ("blur5", per_group(grays, B.binomial5_blur_b), nrow),
        ("otsu+cc(roi)", per_group(blurs, lambda bl: B._cc_stats_batch(
            (bl > B.otsu_threshold_b(bl)[:, None, None]).view(np.uint8))), nrow),
        ("median3", per_group(cropped_stacks, B.median3_b), nrow),
        ("boxsums35+41", per_group(meds, lambda m: B.box_sums_shared_b(m, (35, 41))), nrow),
        ("adapt35+open3", per_group(meds, lambda m: B._open01(
            B.adaptive_threshold_inv_b(m, 35, 15), 3, 3)), nrow),
        ("adapt31+open40", per_group(cropped_stacks, lambda c: open_lines(
            B.adaptive_threshold_inv_b(c, 31, 10))), nrow),
        ("adapt41+close15", per_group(meds, lambda m: B._close01(
            B.adaptive_threshold_inv_b(m, 41, 15), 15, 15)), nrow),
        ("laplacian", per_group(cropped_stacks, B.laplacian_variance_b), nrow),
    ]

    # full batch path as the reference row
    def stage_full():
        for i in range(0, len(pxs), ARROW_BATCH_ROWS):
            B.image_features_batch(pxs[i : i + ARROW_BATCH_ROWS])

    stages.append(("FULL_PATH", stage_full, nrow))
    return stages


def _worker(cpu, rows, reps, conn):
    os.sched_setaffinity(0, {cpu})
    from qfilter import codecs

    pxs = []
    for b, f, ww, hh in rows:
        try:
            pxs.append(codecs.decode(b, f, int(ww), int(hh)))
        except Exception:  # noqa: BLE001
            pass
    stages = build_stages(rows, pxs)
    for _, fn, _ in stages:
        fn()  # warm-up
    out = {}
    for name, fn, cnt in stages:
        t0 = time.time()
        for _ in range(reps):
            fn()
        out[name] = (cnt * reps, time.time() - t0)
    conn.send(out)
    conn.close()


def run_level(nproc: int, rows, reps: int) -> dict:
    procs, pipes = [], []
    for c in range(nproc):
        parent, child = mp.Pipe()
        p = mp.Process(target=_worker, args=(c, rows, reps, child))
        p.start()
        procs.append(p)
        pipes.append(parent)
    results = [pipe.recv() for pipe in pipes]
    for p in procs:
        p.join()
    agg = {}
    for name in results[0]:
        cnt = sum(r[name][0] for r in results)
        wall = max(r[name][1] for r in results)
        agg[name] = cnt / wall if wall > 0 else 0.0
    return agg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", default="1,8,32")
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--rows", type=int, default=256)
    args = ap.parse_args()
    levels = [int(p) for p in args.procs.split(",")]

    rows, _ = load_pxs(args.rows)  # load ONCE; workers re-decode only
    out = {"procs": levels, "rows": args.rows, "reps": args.reps, "kernels": {}}
    per_level = {}
    for p in levels:
        per_level[p] = run_level(p, rows, args.reps)
        print(f"# level {p} done", file=sys.stderr)

    names = list(per_level[levels[0]].keys())
    pmin, pmax = levels[0], levels[-1]
    hdr = "| kernel | " + " | ".join(f"{p}p rows/s" for p in levels) + " | per-proc retention |"
    print(hdr)
    print("|---" * (len(levels) + 2) + "|")
    for name in names:
        rates = [per_level[p][name] for p in levels]
        # per-process throughput retention from pmin to pmax procs
        ret = (rates[-1] / pmax) / (rates[0] / pmin) * 100.0 if rates[0] else 0.0
        out["kernels"][name] = {str(p): round(per_level[p][name], 1) for p in levels}
        out["kernels"][name]["retention_pct"] = round(ret, 1)
        print(
            f"| {name} | "
            + " | ".join(f"{r:,.0f}" for r in rates)
            + f" | {ret:.1f}% |"
        )
    with open(os.path.join(REPO, "BENCH", "kernel_profile.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
