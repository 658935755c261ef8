"""DuckDB oracles for the ingest_read workload.

They read the generated alerts and the store's parquet files directly,
so no engine code sits between a result and its check. Checks run
after the timed region.
"""

from __future__ import annotations

import math
import os

import duckdb

from alerts import CATALOG_VALUES, RESERVED_ID_SPACE, START_DATE

# the supernova recipe's host classes (reference TwoModeClassifier.scala:46-68)
SUPERNOVA_CDSXMATCH = [
    "galaxy", "Galaxy", "EmG", "Seyfert", "Seyfert_1", "Seyfert_2",
    "BlueCompG", "StarburstG", "LSB_G", "HII_G", "High_z_G", "GinPair",
    "GinGroup", "BClG", "GinCl", "PartofG", "Unknown", "Candidate_SN*",
    "SN", "Transient",
]


def _in_list(values: list[str]) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def norm(v):
    """Engine-independent form of one cell: floats to 9 significant
    digits, everything else as is."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    return v


def norm_row(d: dict) -> dict:
    return {k: norm(v) for k, v in d.items()}


def store_files(work: str) -> dict[str, list[str]]:
    """The vertex and edge parquet files in the store now."""
    out = {}
    for table in ("vertices", "edges"):
        found = []
        for root, _, files in os.walk(os.path.join(work, "graph", table)):
            found += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        out[table] = sorted(found)
    return out


class StoreOracle:
    """The store's tables in DuckDB: as they are, or restricted to the
    vertex and edge files of a ``store_files`` snapshot."""

    def __init__(self, work: str, files: dict[str, list[str]] | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        graph = os.path.join(work, "graph")
        self.fixed_path = os.path.join(graph, "fixed_vertices")
        self.con.execute(
            f"CREATE VIEW alerts AS SELECT *, date_diff('day', DATE '{START_DATE.isoformat()}', "
            f"make_date(year::BIGINT, month::BIGINT, day::BIGINT)) AS night "
            f"FROM read_parquet('{work}/alerts/*/*/*/*.parquet', hive_partitioning = true)"
        )
        for table in ("vertices", "edges"):
            source = f"'{graph}/{table}/**/*.parquet'" if files is None else repr(files[table])
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet({source}, hive_partitioning = true)")
        self.con.execute(
            f"CREATE VIEW ids AS SELECT * FROM read_parquet('{work}/ids/**/*.parquet', hive_partitioning = true)"
        )

    def _scalar(self, sql: str, *params):
        return self.con.execute(sql, list(params)).fetchone()[0]

    # ------------------------------------------------------------ ingest

    def expected_edge_rows(self, last_night: int) -> dict[int, dict[str, int]]:
        """Edge rows (both directions) each night should write, per label.

        A pair joins a night's alert with any alert ingested before it:
        an earlier night, or earlier in the same night, so each
        unordered pair counts once. The counts do not depend on which
        id an alert got."""
        pairs = {}
        for name, cond in {
            "obj": "x.objectId = y.objectId",
            "hi": "x.rfscore > 0.9 AND y.rfscore > 0.9",
            "both": "x.objectId = y.objectId AND x.rfscore > 0.9 AND y.rfscore > 0.9",
        }.items():
            rows = self.con.execute(
                f"SELECT x.night, count(*) FROM alerts x JOIN alerts y ON {cond} "
                f"AND (y.night < x.night OR (y.night = x.night AND y.candid < x.candid)) "
                f"WHERE x.night <= ? AND y.night <= ? GROUP BY x.night",
                [last_night, last_night],
            ).fetchall()
            pairs[name] = dict(rows)
        satr = dict(
            self.con.execute(
                f"""SELECT night,
                  count(*) FILTER (WHERE snn_snia_vs_nonia > 0.75 AND snn_sn_vs_all > 0.75
                      AND drb::DOUBLE > 0.5 AND ndethist < 400 AND classtar::DOUBLE > 0.4
                      AND cdsxmatch IN ({_in_list(SUPERNOVA_CDSXMATCH)}))
                + count(*) FILTER (WHERE mulens_class_1 = 'ML' AND mulens_class_2 = 'ML')
                + count(*) FILTER (WHERE roid > 1)
                + count(*) FILTER (WHERE cdsxmatch IN ({_in_list(CATALOG_VALUES)}))
                FROM alerts WHERE night <= ? GROUP BY night""",
                [last_night],
            ).fetchall()
        )
        out = {}
        for n in range(last_night + 1):
            obj = pairs["obj"].get(n, 0)
            sim = obj + pairs["hi"].get(n, 0) - pairs["both"].get(n, 0)
            out[n] = {"similarity": 2 * sim, "exactmatch": 2 * obj, "satr": 2 * satr.get(n, 0)}
        return out

    def store_problems(self, n_alerts: int, edge_rows: dict[str, int], n_fixed: int) -> list[str]:
        """Store-wide invariants after the last night."""
        problems = []
        n, distinct, lo, hi = self.con.execute("SELECT count(*), count(DISTINCT id), min(id), max(id) FROM ids").fetchone()
        if (n, distinct, lo, hi) != (n_alerts, n_alerts, RESERVED_ID_SPACE + 1, RESERVED_ID_SPACE + n_alerts):
            problems.append(f"ids not dense from {RESERVED_ID_SPACE + 1}: count={n} distinct={distinct} min={lo} max={hi}")
        nv = self._scalar("SELECT count(*) FROM vertices")
        if nv != n_alerts:
            problems.append(f"vertices: {nv} rows for {n_alerts} alerts")
        on_disk = dict(self.con.execute("SELECT label, count(*) FROM edges GROUP BY label").fetchall())
        if on_disk != {k: v for k, v in edge_rows.items() if v}:
            problems.append(f"edge rows on disk {on_disk} != written {edge_rows}")
        nf = self._scalar(f"SELECT count(*) FROM read_parquet('{self.fixed_path}/*.parquet')")
        if nf != n_fixed:
            problems.append(f"fixed vertices: {nf} rows, expected {n_fixed}")
        return problems

    # ------------------------------------------------------------- reads

    def vertex(self, vertex_id: int) -> dict | None:
        cur = self.con.execute("SELECT * FROM vertices WHERE id = ?", [vertex_id])
        row = cur.fetchone()
        return None if row is None else dict(zip([d[0] for d in cur.description], row))

    def object_vertices(self, object_id: str) -> list[dict]:
        cur = self.con.execute("SELECT * FROM vertices WHERE objectId = ? ORDER BY id", [object_id])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def out(self, vertex_id: int, label: str) -> list[int]:
        rows = self.con.execute("SELECT dst FROM edges WHERE label = ? AND src = ? ORDER BY dst", [label, vertex_id]).fetchall()
        return [r[0] for r in rows]

    def out_e_count(self, label: str, value: str) -> int:
        return self._scalar("SELECT count(*) FROM edges WHERE label = ? AND propVal = ?", label, value)

    def degree_top(self, k: int) -> list[tuple[int, int]]:
        rows = self.con.execute(
            "SELECT src AS id, count(*) AS degree FROM edges GROUP BY src ORDER BY degree DESC, id ASC LIMIT ?", [k]
        ).fetchall()
        return [tuple(r) for r in rows]

    def vertex_columns(self) -> set[str]:
        return {d[0] for d in self.con.execute("SELECT * FROM vertices LIMIT 0").description}

    def close(self) -> None:
        self.con.close()
