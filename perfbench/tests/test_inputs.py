import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.inputs import event_replay, replay_boundaries


def test_boundaries_are_seeded_ordered_and_cover_every_row():
    a = replay_boundaries(1000, 20, seed=3)
    assert a == replay_boundaries(1000, 20, seed=3)
    assert a != replay_boundaries(1000, 20, seed=4)
    assert a[0] == 0 and a[-1] == 1000 and len(a) == 21
    assert all(x < y for x, y in zip(a, a[1:]))


def test_replay_is_time_ordered_cached_and_regenerated_when_tampered(tmp_path):
    n = 200
    src = tmp_path / "events.parquet"
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([(n - i) * 10**9 for i in range(n)],
                       pa.timestamp("ns")),
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
    }), src)
    out = tmp_path / "inputs"
    data, rows = event_replay(str(src), str(out), 5, 1)
    assert rows == n
    parts = sorted(os.listdir(data))
    assert len(parts) == 5
    table = pa.concat_tables(pq.read_table(os.path.join(data, p))
                             for p in parts)
    assert table.schema.field("ts").type == pa.timestamp("us")
    ts = table.column("ts").to_pylist()
    assert ts == sorted(ts) and table.num_rows == n

    stamp = os.stat(os.path.join(data, parts[0])).st_mtime_ns
    event_replay(str(src), str(out), 5, 1)          # verified reuse
    assert os.stat(os.path.join(data, parts[0])).st_mtime_ns == stamp

    with open(os.path.join(data, parts[1]), "ab") as f:
        f.write(b"tampered")
    event_replay(str(src), str(out), 5, 1)
    assert pq.read_table(os.path.join(data, parts[1])).num_rows > 0
