"""Seeded Fink/ZTF-shaped alert generator for the ingest_read workload.

One call yields whole nights of alerts. The same seed always gives the
same rows. ObjectIds come from a uniform pool that every night draws
from again, so an object collects a few alerts per night and more over
the run; that is what makes the same-value and similarity rules emit
new-by-old edges. (A Zipf draw over objectIds puts a quarter of all
alerts on one object, past the rules' hot-key threshold, and turns a
night into a multi-minute skew test; uniform keeps the workload about
the ordinary path.)

About 0.5% of alerts score ``rfscore > 0.9``: they belong to a few
"high-score" objects, so pairs that satisfy both similarity tokens
(``value == 2``) exist. Crossmatch labels cover every catalog recipe in
``fixed_vertices.csv`` plus the supernova host classes; ``roid`` and the
microlensing flags feed the asteroid and microlensing recipes. These
shares are assumptions chosen so every rule and recipe emits edges, not
distributions fitted to ZTF data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXED_VERTICES_CSV = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixed_vertices.csv")

# ``equals`` values of the catalog rows in fixed_vertices.csv
CATALOG_VALUES = ["WD*", "AGN", "QSO", "RRLyr", "EB*"]
# a subset of the supernova recipe's host classes (TwoModeClassifier)
SUPERNOVA_HOSTS = ["galaxy", "Candidate_SN*", "SN", "Seyfert_1", "EmG"]
OTHER_CLASSES = ["Star", "V*", "Mira"]

# (labels, probabilities) of an object's crossmatch class
_CDS = (
    ["Unknown"] + CATALOG_VALUES + SUPERNOVA_HOSTS + OTHER_CLASSES,
    [0.50] + [0.05] * 5 + [0.03] * 5 + [0.10 / 3] * 3,
)
HIGH_SCORE_SHARE = 0.005
RESERVED_ID_SPACE = 200
START_DATE = date(2019, 11, 1)

SCHEMA = pa.schema(
    [
        ("candid", pa.int64()),
        ("objectId", pa.string()),
        ("jd", pa.float64()),
        ("ra", pa.float64()),
        ("dec", pa.float64()),
        ("magpsf", pa.float32()),
        ("fid", pa.int32()),
        ("rfscore", pa.float64()),
        ("snn_snia_vs_nonia", pa.float64()),
        ("snn_sn_vs_all", pa.float64()),
        ("drb", pa.float32()),
        ("ndethist", pa.int32()),
        ("classtar", pa.float32()),
        ("roid", pa.int32()),
        ("cdsxmatch", pa.string()),
        ("mulens_class_1", pa.string()),
        ("mulens_class_2", pa.string()),
    ]
)


@dataclass(frozen=True)
class AlertSpec:
    """Shape of one generated alert stream."""

    alerts_per_night: int
    nights: int
    alerts_per_object_night: float = 2.0

    @property
    def pool_size(self) -> int:
        return max(1, int(self.alerts_per_night / self.alerts_per_object_night))


def night_date(i: int) -> date:
    return START_DATE + timedelta(days=i)


def generate(seed: int, spec: AlertSpec) -> list[pa.Table]:
    """One table per night, all drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_pool = spec.pool_size
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    names = ["ZTF19" + "".join(rng.choice(letters, 7)) for _ in range(n_pool)]
    # name collisions are astronomically unlikely but would merge objects
    object_ids = np.array(list(dict.fromkeys(names)), dtype=object)
    n_pool = len(object_ids)
    obj_ra = rng.uniform(0.0, 360.0, n_pool)
    obj_dec = rng.uniform(-30.0, 90.0, n_pool)
    cds_labels, cds_p = _CDS
    obj_cds = rng.choice(np.array(cds_labels, dtype=object), n_pool, p=np.array(cds_p) / sum(cds_p))
    obj_high = rng.random(n_pool) < HIGH_SCORE_SHARE

    nights = []
    candid = 1_100_000_000_000_000_000 + int(rng.integers(0, 1_000_000)) * 1_000_000
    for night in range(spec.nights):
        n = spec.alerts_per_night
        obj = rng.integers(0, n_pool, n)
        high = obj_high[obj]
        rf = np.where(high, rng.uniform(0.9001, 1.0, n), rng.uniform(0.0, 0.9, n))
        ml = rng.random(n) < 0.01
        ml_other = np.array([None, "CONSTANT", "VARIABLE"], dtype=object)
        mul1 = np.where(ml, "ML", rng.choice(ml_other, n))
        mul2 = np.where(ml, "ML", rng.choice(ml_other, n))
        roid = rng.choice(np.array([0, 1, 2, 3], dtype=np.int32), n, p=[0.88, 0.07, 0.03, 0.02])
        jd0 = 2458788.5 + night
        cols = {
            "candid": np.arange(candid, candid + n, dtype=np.int64),
            "objectId": object_ids[obj],
            "jd": jd0 + np.sort(rng.uniform(0.0, 0.4, n)),
            "ra": obj_ra[obj] + rng.normal(0.0, 1e-4, n),
            "dec": obj_dec[obj] + rng.normal(0.0, 1e-4, n),
            "magpsf": rng.uniform(14.0, 21.0, n).astype(np.float32),
            "fid": rng.integers(1, 3, n).astype(np.int32),
            "rfscore": rf,
            "snn_snia_vs_nonia": rng.random(n),
            "snn_sn_vs_all": rng.random(n),
            "drb": rng.random(n).astype(np.float32),
            "ndethist": rng.integers(1, 600, n).astype(np.int32),
            "classtar": rng.random(n).astype(np.float32),
            "roid": roid,
            "cdsxmatch": obj_cds[obj],
            "mulens_class_1": mul1,
            "mulens_class_2": mul2,
        }
        candid += n
        nights.append(pa.table(cols, schema=SCHEMA))
    return nights


def write_night(base_path: str, night: int, table: pa.Table) -> str:
    """Write one night as ``year=YYYY/month=MM/day=DD`` (the padded
    layout the reader's partition manager looks for)."""
    d = night_date(night)
    path = os.path.join(base_path, f"year={d.year}", f"month={d.month:02d}", f"day={d.day:02d}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def ingest_config(work: str, parallelism: int) -> dict:
    """Job config with all three rules on, as in the nightly Fink run."""
    return {
        "reader": {"basePath": os.path.join(work, "alerts")},
        "idManager": {
            "dataPath": os.path.join(work, "ids"),
            "reservedIdSpace": RESERVED_ID_SPACE,
        },
        "edgeLoader": {
            "rulesToApply": [
                "similarityClassifier",
                "sameValueClassifier",
                "twoModeClassifier",
            ],
            "similarityClassifer": {"similarityExp": "rfscore OR objectId"},
            "sameValueClassifier": {"colsToConnect": ["objectId"]},
            "twoModeClassifier": {
                "recipes": ["supernova", "microlensing", "asteroids", "catalog"]
            },
            "parallelism": parallelism,
        },
        "fixedVertices": {"path": FIXED_VERTICES_CSV},
        "graph": {"storagePath": os.path.join(work, "graph"), "vertexLabel": "alert"},
    }
