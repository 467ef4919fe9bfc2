"""Output checks, run outside every timed span.

Catalog keys are compared with their DuckDB oracle
(``queries_catalog.ORACLES``) under the parity normalisation of
``tools/parity_check.py``: columns sorted by name, floats rounded to 6
places, rows sorted, then hashed. The oracle's digest is cached per
key, keyed on the oracle SQL text and the data fingerprint, because
running the oracles costs far more than one benchmark run.

Zipf joins are checked against a cardinality computed from the staged
key counts, independently of Spark, and the four strategies of one
skew cell must agree on an order-independent checksum.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import pyarrow as pa

# part of the oracle cache key: a change to the canonical form below
# must not match results cached under the old one
CANON_VERSION = "2"
_PLAIN = (int, str, bool, type(None))


def normalize(value):
    """The parity normalisation (floats to 6 places, NaN as a string,
    timestamps and dates as ISO text), made exact enough to hash: an
    integral float or decimal becomes an int, so a double 2.0 and a
    BIGINT 2 agree, other decimals go through float, aware timestamps
    are taken to naive UTC, and structs become lists of their values."""
    if isinstance(value, decimal.Decimal):
        # DuckDB hands HUGEINT results to Arrow as scale-0 decimals
        if value == value.to_integral_value():
            return int(value)
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        if math.isinf(value):
            return "inf" if value > 0 else "-inf"
        value = round(value, 6)
        return int(value) if value.is_integer() and abs(value) < 2**53 \
            else value
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(
                tzinfo=None)
        return value.isoformat(sep=" ", timespec="microseconds")
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, dict):
        return [normalize(v) for v in value.values()]
    if isinstance(value, (list, tuple)):
        return [normalize(v) for v in value]
    return value


def canonical(columns: list[str], data: list[list]) -> dict:
    """Column names, row count and a digest of the normalised rows,
    columns in name order and rows sorted; ``data`` holds one value
    list per column. Equal results give equal digests whichever engine
    produced them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = []
    for i in order:
        col = data[i]
        if not all(type(v) in _PLAIN for v in col):
            col = [normalize(v) for v in col]
        cols.append(col)
    rows = list(zip(*cols))
    rows.sort(key=repr)
    text = json.dumps(rows, separators=(",", ":"))
    return {"columns": [columns[i] for i in order], "rows": len(rows),
            "digest": hashlib.sha256(text.encode()).hexdigest()}


def arrow_result(table) -> dict:
    """:func:`canonical` of a pyarrow Table. Both engines' results come
    through Arrow; top-level timestamps compare as epoch microseconds
    (naive values read as UTC), which skips building datetime objects."""
    data = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
        data.append(col.to_pylist())
    return canonical(table.column_names, data)


def compare(key: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the cached oracle result, else a
    one-line reason."""
    if got["columns"] != expected["columns"]:
        return f"{key}: columns {got['columns']} != {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"{key}: {got['rows']} rows != oracle {expected['rows']}"
    if got["digest"] != expected["digest"]:
        return f"{key}: row values differ from the oracle"
    return None


class OracleCache:
    """Expected catalog results, one JSON file per (oracle SQL, data)."""

    def __init__(self, cache_dir: str, data_dir: str, fingerprint: str,
                 tables: tuple[str, ...]):
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.fingerprint = fingerprint
        self.tables = tables
        self._con = None

    def _path(self, sql: str) -> str:
        h = hashlib.sha256("\0".join(
            (CANON_VERSION, self.fingerprint, sql)).encode())
        return os.path.join(self.cache_dir, h.hexdigest() + ".json")

    def _run_oracle(self, sql: str) -> dict:
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return arrow_result(self._con.execute(sql).arrow())

    def expected(self, sql: str) -> dict:
        path = self._path(sql)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        result = self._run_oracle(sql)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.replace(tmp, path)
        return result

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def zipf_cardinality(fact_counts: dict, dim_counts: dict) -> int:
    """Inner-join row count from per-key counts of both sides."""
    return sum(c * dim_counts.get(k, 0) for k, c in fact_counts.items())


def staged_key_counts(path: str) -> dict:
    """Per-key row counts of a staged parquet directory (key column
    ``k``), read with DuckDB so the expected cardinality never goes
    through Spark."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT k, count(*) FROM read_parquet('{path}/*.parquet') "
            "GROUP BY k").fetchall()
    finally:
        con.close()
    return dict(rows)


def check_zipf(cell: str, strategy: str, count: int, checksum: int,
               expected_count: int, checksums: dict) -> str | None:
    """None when a join's (count, checksum) is right. ``checksums``
    maps cell → the first checksum seen for it, so every strategy and
    pass of one skew cell must agree."""
    if count != expected_count:
        return (f"{cell}/{strategy}: {count} rows != {expected_count} "
                "from the staged key counts")
    first = checksums.setdefault(cell, (strategy, checksum))
    if first[1] != checksum:
        return (f"{cell}/{strategy}: checksum {checksum} != "
                f"{first[0]}'s {first[1]}")
    return None
