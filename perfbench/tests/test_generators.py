import os

import pyarrow.parquet as pq

import alerts
import mixdata

SPEC = alerts.AlertSpec(alerts_per_night=4000, nights=3)


def test_alerts_are_deterministic_per_seed():
    a = alerts.generate(7, SPEC)
    b = alerts.generate(7, SPEC)
    c = alerts.generate(8, SPEC)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])


def test_alert_shape():
    nights = alerts.generate(3, SPEC)
    assert [t.num_rows for t in nights] == [4000] * 3
    ids = [set(t.column("objectId").to_pylist()) for t in nights]
    # the pool is reused: most of a night's objects were seen the night before
    assert len(ids[1] & ids[0]) > 0.5 * len(ids[1])
    per_object = nights[0].num_rows / len(ids[0])
    assert 1.5 < per_object < 4
    rf = [v for t in nights for v in t.column("rfscore").to_pylist()]
    assert 0 < sum(v > 0.9 for v in rf) / len(rf) < 0.02
    cds = {v for t in nights for v in t.column("cdsxmatch").to_pylist()}
    assert set(alerts.CATALOG_VALUES) <= cds
    roid = {v for t in nights for v in t.column("roid").to_pylist()}
    assert {0, 2} <= roid
    ml = sum(a == b == "ML" for t in nights for a, b in zip(t.column("mulens_class_1").to_pylist(), t.column("mulens_class_2").to_pylist()))
    assert ml > 0


def test_fixed_vertices_cover_every_recipe():
    with open(alerts.FIXED_VERTICES_CSV) as f:
        text = f.read()
    for recipe in ("supernova", "microlensing", "asteroids", "catalog"):
        assert f'"{recipe}"' in text
    for value in alerts.CATALOG_VALUES:
        assert f'"{value}"' in text


def test_night_layout_is_padded(tmp_path):
    path = alerts.write_night(str(tmp_path), 0, alerts.generate(1, alerts.AlertSpec(10, 1))[0])
    assert path.endswith(os.path.join("year=2019", "month=11", "day=01"))
    assert pq.read_table(path).num_rows == 10


def test_mix_tables_are_deterministic_per_seed():
    spec = mixdata.MixSpec(documents=50, embeddings=40, events=200, users=20)
    a, b, c = mixdata.generate(5, spec), mixdata.generate(5, spec), mixdata.generate(6, spec)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["documents"].equals(c["documents"])
    assert len(a["embeddings"].column("embedding")[0].values) == mixdata.DIM
    texts = a["documents"].column("text").to_pylist()
    assert all(10 <= len(t.split()) <= 99 for t in texts)
