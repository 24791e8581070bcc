"""Outside-in correctness checks, run once per benchmark invocation.

Every query result the JVM dumped is compared with DuckDB over the same
parquet: the column names, the kind of every column's type (an integer
column never matches a floating or decimal one) and every value exactly.
Oracle results depend only on the SQL text and the corpus, so they are
cached under the work directory.
"""
import datetime
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]
MANDATORY = ["date", "asset_id", "ticker"]
SORT_KEYS = {
    "getPrices": ["date", "asset_id"], "getReturns": ["date", "asset_id"],
    "getUniverse": ["date", "asset_id"], "getFundamentals": ["report_date", "asset_id"],
    "getAnalystConsensus": ["date", "asset_id"],
    "getAnalystRatingsHistory": ["date", "asset_id"],
    "getMacro": ["date", "series_name"], "getStyleFactorReturns": ["date", "factor_name"],
    "getBenchmarkReturns": ["date"],
}
DATASETS = {  # method -> (subdir, dataset, date-partitioned, date column)
    "getPrices": ("data_processed", "prices_daily", True, "date"),
    "getReturns": ("data_processed", "returns_daily", True, "date"),
    "getUniverse": ("data_meta", "universe_sp500", False, "date"),
    "getFundamentals": ("data_processed", "fundamentals_quarterly", False, "report_date"),
    "getAnalystConsensus": ("data_processed", "analyst_consensus", False, "date"),
    "getAnalystRatingsHistory": ("data_processed", "analyst_ratings_history", False, "date"),
    "getMacro": ("data_processed", "macro_timeseries", False, "date"),
    "getStyleFactorReturns": ("data_processed", "style_factor_returns", False, "date"),
    "getBenchmarkReturns": ("data_processed", "benchmarks", False, "date"),
}


def kind(t: pa.DataType) -> str:
    """Type family used for the dtype comparison."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{kind(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{kind(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{kind(t.key_type)},{kind(t.item_type)}>"
    return str(t)


def _plain(t: pa.DataType) -> pa.DataType:
    """Same type with timestamps at microseconds, no zone (Spark's precision)."""
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_plain(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _plain(f.type)) for f in t])
    if pa.types.is_large_string(t):
        return pa.string()
    return t


def rows(table: pa.Table, columns) -> list:
    cols = []
    for c in columns:
        col = table.column(c)
        cols.append(col.cast(_plain(col.type)).to_pylist())
    return list(zip(*cols)) if cols else []


def same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


_SCALARS = (bool, int, float, str, datetime.date, datetime.datetime)


def _order_key(row):
    return tuple((v is not None, v if isinstance(v, _SCALARS) else repr(v))
                 if v is not None else (False, 0) for v in row)


def compare(got: pa.Table, want: pa.Table, ordered_columns: bool, multiset: bool):
    """None when equal, else the first difference."""
    gc, wc = got.column_names, want.column_names
    if ordered_columns:
        if gc != wc:
            return f"columns differ: spark={gc} oracle={wc}"
    elif sorted(gc) != sorted(wc):
        return f"columns differ: spark={sorted(gc)} oracle={sorted(wc)}"
    cols = gc if ordered_columns else sorted(gc)
    for c in cols:
        kg, kw = kind(got.schema.field(c).type), kind(want.schema.field(c).type)
        if kg != kw:
            return f"column {c} type differs: spark={kg} oracle={kw}"
    if got.num_rows != want.num_rows:
        return f"row count differs: spark={got.num_rows} oracle={want.num_rows}"
    g, w = rows(got, cols), rows(want, cols)
    if multiset:
        g, w = sorted(g, key=_order_key), sorted(w, key=_order_key)
    for i, (rg, rw) in enumerate(zip(g, w)):
        if not same(list(rg), list(rw)):
            return f"row {i} differs: spark={rg!r} oracle={rw!r}"
    return None


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def _fingerprint(corpus: str) -> str:
    h = hashlib.sha256()
    for t in CORPUS_TABLES:
        with open(os.path.join(corpus, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_oracles(specs, corpus: str, cache_dir: str, tmp_dir: str) -> list:
    """Problems found comparing each dumped query with its oracle SQL."""
    problems = []
    os.makedirs(cache_dir, exist_ok=True)
    fp = _fingerprint(corpus)
    con = None
    for spec in specs:
        name, sql = spec["name"], spec.get("sql")
        if not sql:
            problems.append(f"{name}: no oracle SQL")
            continue
        try:
            got = pq.read_table(spec["path"])
        except Exception as e:  # missing dump: the serve failed
            problems.append(f"{name}: result unreadable ({e})")
            continue
        key = hashlib.sha256((fp + "\n" + sql).encode()).hexdigest()[:32]
        cached = os.path.join(cache_dir, f"{key}.parquet")
        if os.path.exists(cached):
            want = pq.read_table(cached)
        else:
            if con is None:
                con = _connect(tmp_dir)
                for t in CORPUS_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{corpus}/{t}.parquet')")
            try:
                want = con.execute(sql).fetch_arrow_table()
            except Exception as e:
                problems.append(f"{name}: oracle failed ({e})")
                continue
            pq.write_table(want, cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        diff = compare(got, want, ordered_columns=False, multiset=False)
        if diff:
            problems.append(f"{name}: {diff}")
    return problems


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def handler_sql(spec: dict, root: str) -> str:
    """DuckDB twin of one DataHandler call over the ingested store."""
    m = spec["method"]
    sub, name, partitioned, date_col = DATASETS[m]
    base = f"{root}/{sub}/{name}.parquet"
    src = (f"read_parquet('{base}/**/*.parquet', hive_partitioning=true)" if partitioned
           else f"read_parquet('{base}/*.parquet')")
    star = "* EXCLUDE (_p_year, _p_month)" if partitioned else "*"
    where = []
    if m in ("getPrices", "getReturns", "getFundamentals", "getAnalystConsensus",
             "getAnalystRatingsHistory") and spec.get("tickers"):
        tl = ",".join(_lit(t) for t in spec["tickers"])
        where.append(f"asset_id IN (SELECT asset_id FROM read_parquet("
                     f"'{root}/data_meta/assets_master.parquet/*.parquet') "
                     f"WHERE ticker IN ({tl}))")
    if m == "getUniverse":
        if spec.get("date"):
            where.append(f"{date_col} = TIMESTAMP {_lit(spec['date'])}")
    else:
        if spec.get("start"):
            where.append(f"{date_col} >= TIMESTAMP {_lit(spec['start'])}")
        if spec.get("end"):
            where.append(f"{date_col} <= TIMESTAMP {_lit(spec['end'])}")
    if m == "getBenchmarkReturns":
        where.append(f"benchmark_name = {_lit(spec['benchmark'])}")
    cols = star
    if spec.get("fields") and m in ("getPrices", "getAnalystConsensus",
                                     "getAnalystRatingsHistory"):
        keep = list(dict.fromkeys(MANDATORY + spec["fields"]))
        cols = ", ".join(f'"{c}"' for c in keep)
    sql = f"SELECT {cols} FROM {src}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    return sql


def check_handler(specs, tmp_dir: str) -> list:
    """Problems found comparing each dumped handler call with DuckDB: same
    columns in the same order, same types, same rows, and sorted by the
    method's documented key."""
    problems = []
    con = _connect(tmp_dir)
    for i, spec in enumerate(specs):
        label = f"handler {spec['method']} #{i}"
        try:
            got = pq.read_table(spec["path"])
        except Exception as e:
            problems.append(f"{label}: result unreadable ({e})")
            continue
        try:
            want = con.execute(handler_sql(spec, spec["store"])).fetch_arrow_table()
        except Exception as e:
            problems.append(f"{label}: oracle failed ({e})")
            continue
        keys = SORT_KEYS[spec["method"]]
        if all(k in got.column_names for k in keys):
            krows = rows(got, keys)
            if any(_order_key(a) > _order_key(b) for a, b in zip(krows, krows[1:])):
                problems.append(f"{label}: result not sorted by {keys}")
        diff = compare(got, want, ordered_columns=True, multiset=True)
        if diff:
            problems.append(f"{label}: {diff}")
    return problems
