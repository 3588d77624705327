"""Benchmark-generated inputs, cached in the work directory and verified
by content hash before reuse. Generation runs before the session starts,
so it is never part of ``setup_s``."""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(out_dir: str, expect_source: str) -> bool:
    manifest = os.path.join(out_dir, "MANIFEST.json")
    data = os.path.join(out_dir, "data")
    try:
        with open(manifest) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    if m.get("source_sha256") != expect_source or not os.path.isdir(data):
        return False
    return sorted(os.listdir(data)) == sorted(m["files"]) and all(
        sha256_file(os.path.join(data, name)) == digest
        for name, digest in m["files"].items())


def replay_boundaries(n_rows: int, n_parts: int, seed: int) -> list[int]:
    """Row offsets splitting ``n_rows`` into ``n_parts`` near-equal
    files; the seed shifts each inner boundary by up to a quarter of a
    part."""
    rng = random.Random(seed)
    step = n_rows / n_parts
    cuts = [0]
    for i in range(1, n_parts):
        jitter = rng.uniform(-0.25, 0.25) * step
        cuts.append(int(round(i * step + jitter)))
    cuts.append(n_rows)
    return cuts


def event_replay(events_path: str, out_root: str, n_parts: int,
                 seed: int) -> tuple[str, int]:
    """The events table in event-time order as ``n_parts`` parquet files
    for a file-stream replay; returns the directory of the part-files and
    the row count. The manifest of content hashes sits beside that
    directory.

    ``ts`` is written as timestamp[us] whatever the fixture's unit (ns is
    floored to µs, as the engine's loader does), so the stream reads it
    with the plain events schema."""
    source = sha256_file(events_path)
    out_dir = os.path.join(out_root, f"replay-s{seed}-p{n_parts}")
    table = pq.read_table(events_path)
    data = os.path.join(out_dir, "data")
    if _verified(out_dir, source):
        return data, table.num_rows
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(data)
    ts = table.column("ts")
    if ts.type.unit != "us":
        ts = pc.cast(ts, pa.timestamp("us"), safe=False)
        table = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
    table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    cuts = replay_boundaries(table.num_rows, n_parts, seed)
    files = {}
    for i in range(n_parts):
        name = f"part-{i:04d}.parquet"
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(data, name))
        files[name] = sha256_file(os.path.join(data, name))
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump({"source_sha256": source, "files": files}, f, indent=1)
    return data, table.num_rows
