import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq

import ingest_read
from oracles import StoreOracle, store_files


def test_read_cycle_keeps_point_kinds_level():
    kinds = list(itertools.islice(ingest_read._kinds(), 200))
    for cut in range(1, len(kinds)):
        counts = [kinds[:cut].count(k) for k in ingest_read.POINT_KINDS]
        assert max(counts) - min(counts) <= 1
    # every hop and scan kind within the first two turns of each
    head = kinds[: 2 * 5 * len(ingest_read.OTHER_KINDS)]
    assert set(ingest_read.KIND_CLASS) <= set(head)


def _write(path, ids):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": ids, "objectId": [f"o{i}" for i in ids]}), path)


def test_oracle_snapshot_sees_only_the_files_of_its_time(tmp_path):
    work = str(tmp_path)
    _write(f"{work}/alerts/year=2019/month=11/day=01/part-0.parquet", [1, 2, 3])
    _write(f"{work}/ids/part-0.parquet", [1, 2, 3])
    _write(f"{work}/graph/vertices/day=01/a.parquet", [1, 2])
    _write(f"{work}/graph/edges/label=similarity/a.parquet", [1])
    before = store_files(work)
    _write(f"{work}/graph/vertices/day=02/b.parquet", [3])
    then, now = StoreOracle(work, before), StoreOracle(work)
    try:
        assert then.vertex(3) is None and then.vertex(2)["objectId"] == "o2"
        assert now.vertex(3)["objectId"] == "o3"
    finally:
        then.close()
        now.close()
