"""Seeded inputs for the pipeline workload: detections (dataA) and
locations (dataB), written as parquet.

The shape follows the program's own detection generator (a skewed
location, ten cameras per location, a bounded item vocabulary,
duplicates that share a detection_oid but carry a jittered timestamp),
but it is the benchmark's own code, so a change to the program cannot
change the benchmark's inputs. The same seed gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANCHOR = 1735689600  # 2025-01-01T00:00:00Z


def generate(out_dir, seed, rows=10_000_000, locations=10_000, items=50,
             dup_rate=0.15, skew_location=1, skew_factor=20.0, files=8):
    """Write out_dir/dataA (rows detections) and out_dir/dataB."""
    rng = np.random.default_rng(seed)
    unique = int(rows * (1 - dup_rate))
    skew_share = 0.7 * skew_factor / (1 + skew_factor)
    loc = rng.integers(1, locations + 1, unique, dtype=np.int64)
    loc[rng.random(unique) < skew_share] = skew_location
    camera = loc * 10 + rng.integers(1, 11, unique, dtype=np.int64)
    item = rng.integers(0, items, unique, dtype=np.int32)
    ts = ANCHOR - rng.integers(0, 86400 * 30, unique, dtype=np.int64)
    oid = np.arange(1, unique + 1, dtype=np.int64)

    # duplicates: a seeded sample of base rows, same detection_oid, the
    # timestamp jittered by 0..9 s
    pick = rng.integers(0, unique, rows - unique)
    cols = {
        "geographical_location_oid": np.concatenate([loc, loc[pick]]),
        "video_camera_oid": np.concatenate([camera, camera[pick]]),
        "detection_oid": np.concatenate([oid, oid[pick]]),
        "item_name": np.concatenate([item, item[pick]]),
        "timestamp_detected": np.concatenate(
            [ts, ts[pick] + rng.integers(0, 10, rows - unique)]),
    }
    # spread duplicates through the files instead of leaving them at the end
    order = rng.permutation(rows)
    names = pa.array([f"item_{i + 1:03d}" for i in range(items)])
    a_dir = os.path.join(out_dir, "dataA")
    os.makedirs(a_dir, exist_ok=True)
    for f, part in enumerate(np.array_split(order, files)):
        table = pa.table({
            k: (pa.DictionaryArray.from_arrays(pa.array(v[part]), names)
                if k == "item_name" else pa.array(v[part]))
            for k, v in cols.items()})
        pq.write_table(table, os.path.join(a_dir, f"part-{f:05d}.parquet"),
                       compression="snappy")

    b_dir = os.path.join(out_dir, "dataB")
    os.makedirs(b_dir, exist_ok=True)
    ids = np.arange(1, locations + 1, dtype=np.int64)
    pq.write_table(pa.table({
        "geographical_location_oid": ids,
        "geographical_location": pa.array([f"city_{i:03d}" for i in ids]),
    }), os.path.join(b_dir, "part-00000.parquet"), compression="snappy")
    return a_dir, b_dir
