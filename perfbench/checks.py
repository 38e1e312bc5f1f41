"""Output checks.  Each check returns a list of problems; an empty
list means the output is correct.  The benchmark counts an operation
whose check reports a problem as failed.

The checks take plain files and rows, never Spark objects, so that
``selftest.py`` can feed them known-good and corrupted outputs
without starting Spark.
"""

from __future__ import annotations

import csv
import glob
import math
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------- medallion
#: API field -> bronze column (dlt snake_case normalisation), written
#: out here rather than taken from the engine, so the oracle's input
#: does not depend on the code under test
BRONZE_COLUMNS = {
    "Minutes1UTC": "minutes1_utc",
    "CO2Emission": "co2_emission",
    "ProductionGe100MW": "production_ge100_mw",
    "ProductionLt100MW": "production_lt100_mw",
    "SolarPower": "solar_power",
    "OffshoreWindPower": "offshore_wind_power",
    "OnshoreWindPower": "onshore_wind_power",
    "ExchangeSum": "exchange_sum",
    "ExchangeDK1_DE": "exchange_dk1_de",
    "ExchangeDK2_DE": "exchange_dk2_de",
    "ExchangeDK1_NL": "exchange_dk1_nl",
    "ExchangeDK1_GB": "exchange_dk1_gb",
    "ExchangeDK1_NO": "exchange_dk1_no",
    "ExchangeDK1_SE": "exchange_dk1_se",
    "ExchangeDK2_SE": "exchange_dk2_se",
    "ExchangeDK1_DK2": "exchange_dk1_dk2",
}

#: the reference's ML feature export, in file order (gold_aggr.py)
EXPORT_HEADER = [
    "time_id", "avg_co2_emission", "avg_total_production",
    "avg_renewable_ratio", "avg_solar_production", "avg_wind_production",
    "avg_offshore_wind", "avg_onshore_wind", "production_volatility",
    "co2_volatility", "wind_solar_ratio", "hour_of_day", "is_weekend",
    "season",
]

REL_TOL = 1e-9
ABS_TOL = 1e-9


def write_bronze_page(records: list[dict], path: str) -> None:
    """One API page as a parquet file of bronze columns (the oracle's
    input for that page)."""
    cols: dict[str, list] = {c: [] for c in BRONZE_COLUMNS.values()}
    for rec in records:
        for api, col in BRONZE_COLUMNS.items():
            v = rec.get(api)
            if api == "Minutes1UTC" and v is not None:
                v = datetime.fromisoformat(v)
            cols[col].append(v)
    schema = pa.schema(
        [pa.field("minutes1_utc", pa.timestamp("us"))]
        + [pa.field(c, pa.float64()) for c in list(cols)[1:]])
    pq.write_table(pa.table(cols, schema=schema), path)


class MedallionOracle:
    """The reference's DuckDB replay (tests/reference_oracle.py), fed
    the same pages at the same boundaries as the engine."""

    def __init__(self, bronze_dir: str):
        from tests import reference_oracle

        self.ro = reference_oracle
        self.bronze_dir = bronze_dir
        self.pages = 0
        self.con = None

    def add_page(self, records: list[dict]) -> None:
        write_bronze_page(
            records, os.path.join(self.bronze_dir,
                                  f"page_{self.pages:05d}.parquet"))
        self.pages += 1
        if self.con is None:
            self.con = self.ro.connect(self.bronze_dir)
        else:
            self.ro.set_bronze_view(self.con, self.bronze_dir)
        self.ro.run_silver(self.con)
        self.ro.run_gold(self.con)

    def gold_rows(self) -> list[tuple]:
        return self.con.execute(
            "SELECT * FROM power_system_5min_avg ORDER BY time_id"
        ).fetchall()

    def gold_columns(self) -> list[str]:
        return [r[0] for r in self.con.execute(
            "DESCRIBE power_system_5min_avg").fetchall()]

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def compare_rows(mine: list[tuple], want: list[tuple],
                 what: str) -> tuple[list[str], int]:
    """(problems, rows of ``want`` reproduced exactly)."""
    problems = []
    if len(mine) != len(want):
        problems.append(f"{what}: {len(mine)} rows, oracle {len(want)}")
    matched = 0
    first = None
    for i, (a, b) in enumerate(zip(mine, want)):
        if len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b)):
            matched += 1
        elif first is None:
            first = i
    if first is not None:
        problems.append(f"{what}: row {first} differs: {mine[first]} "
                        f"vs oracle {want[first]}")
    return problems, matched


def read_gold_parquet(table_dir: str, columns: list[str]) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        sel = ", ".join(columns)
        return con.execute(
            f"SELECT {sel} FROM read_parquet('{table_dir}/*.parquet') "
            "ORDER BY time_id").fetchall()
    finally:
        con.close()


def _csv_value(text: str, like):
    if text == "":
        return None
    if isinstance(like, datetime):
        ts = datetime.fromisoformat(text)
        return ts.replace(tzinfo=None) if ts.tzinfo else ts
    if isinstance(like, bool):
        return {"true": True, "false": False}.get(text, text)
    if isinstance(like, int):
        return int(text)
    if isinstance(like, float):
        return float(text)
    return text


def read_export_csv(out_dir: str, like: list[tuple]) -> tuple[list[str],
                                                               list[tuple]]:
    """(header, rows) of the single-file CSV export, values parsed to
    the types of the oracle's rows (``like``)."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.csv")))
    if len(files) != 1:
        raise ValueError(f"export wrote {len(files)} csv files, want 1")
    with open(files[0], newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader, [])
        raw = list(reader)
    # each column's type from its first non-NULL oracle value
    proto = [next((r[i] for r in like if r[i] is not None), "")
             for i in range(len(like[0]))] if like else []
    rows = [tuple(_csv_value(v, proto[i] if i < len(proto) else v)
                  for i, v in enumerate(r)) for r in raw]
    return header, rows


def check_medallion(warehouse: str, csv_dir: str,
                    oracle: MedallionOracle) -> tuple[list[str], float]:
    """Gold table and CSV export against the oracle.  Returns
    (problems, share of oracle gold rows reproduced exactly)."""
    cols = oracle.gold_columns()
    want = oracle.gold_rows()
    problems = []
    try:
        mine = read_gold_parquet(
            os.path.join(warehouse, "gold", "power_system_5min_avg"), cols)
    except Exception as exc:  # unreadable table = failed output
        return [f"gold table unreadable: {exc!r}"], 0.0
    p, matched = compare_rows(mine, want, "gold")
    problems += p
    idx = [cols.index(c) for c in EXPORT_HEADER]
    want_csv = [tuple(r[i] for i in idx) for r in want]
    try:
        header, got_csv = read_export_csv(csv_dir, want_csv)
    except (OSError, ValueError) as exc:
        return problems + [f"csv export unreadable: {exc!r}"], \
            matched / max(1, len(want))
    if header != EXPORT_HEADER:
        problems.append(f"csv header {header}")
    problems += compare_rows(got_csv, want_csv, "csv")[0]
    return problems, matched / max(1, len(want))


# -------------------------------------------------------------- corpus
def planted_groups(corpus) -> dict[tuple, list[int]]:
    """Planted duplicate groups: ('n', family) and ('x', exact group)
    -> member doc ids."""
    out: dict[tuple, list[int]] = {}
    for d, f, g in zip(corpus.doc_id, corpus.family, corpus.exact_group):
        if f >= 0:
            out.setdefault(("n", f), []).append(d)
        if g >= 0:
            out.setdefault(("x", g), []).append(d)
    return out


def check_curation(corpus, kept: list[tuple],
                   reps: list[tuple]) -> tuple[list[str], dict]:
    """``kept``: curation_pipeline rows (doc_id first);
    ``reps``: curation_cluster_representatives rows
    (doc_id, cluster_id, is_representative).

    Returns (problems, quality) with quality holding
    ``planted_dup_recall`` (share of the planted duplicates, beyond
    one per group, that were not kept as representatives) and
    ``false_merge_ratio`` (share of documents whose cluster mixes
    planted groups)."""
    problems = []
    ids = set(corpus.doc_id)
    labelled = [r[0] for r in reps]
    if len(labelled) != len(set(labelled)):
        problems.append("a document is labelled more than once")
    if set(labelled) != ids:
        problems.append(f"{len(ids - set(labelled))} documents unlabelled, "
                        f"{len(set(labelled) - ids)} unknown ids labelled")
    reps_per_cluster: dict[int, int] = {}
    cluster_of = {}
    for doc, cl, is_rep in reps:
        cluster_of[doc] = cl
        reps_per_cluster[cl] = reps_per_cluster.get(cl, 0) + bool(is_rep)
    bad = [c for c, n in reps_per_cluster.items() if n != 1]
    if bad:
        problems.append(f"{len(bad)} clusters without exactly one "
                        f"representative (e.g. cluster {bad[0]})")
    kept_ids = [r[0] for r in kept]
    if len(kept_ids) != len(set(kept_ids)) or not set(kept_ids) <= ids:
        problems.append("curated keep-set has repeated or unknown ids")
    is_rep = {doc: bool(r) for doc, _, r in reps}
    kept_set = set(kept_ids)
    groups = planted_groups(corpus)
    removed = expected = 0
    for (kind, _), members in groups.items():
        reps_kept = sum(is_rep.get(d, False) for d in members)
        if kind == "x":
            if reps_kept > 1:
                problems.append(f"exact-duplicate group {members} keeps "
                                f"{reps_kept} representatives")
            if sum(d in kept_set for d in members) > 1:
                problems.append(f"exact-duplicate group {members} keeps "
                                "several documents in the curated set")
        expected += len(members) - 1
        removed += len(members) - max(1, reps_kept)
    group_of = {}
    for key, members in groups.items():
        for d in members:
            group_of[d] = key
    cluster_groups: dict[int, set] = {}
    for doc, cl in cluster_of.items():
        cluster_groups.setdefault(cl, set()).add(group_of.get(doc, doc))
    mixed = sum(1 for doc, cl in cluster_of.items()
                if len(cluster_groups[cl]) > 1)
    quality = {
        "planted_dup_recall": removed / max(1, expected),
        "false_merge_ratio": mixed / max(1, len(cluster_of)),
    }
    return problems, quality
