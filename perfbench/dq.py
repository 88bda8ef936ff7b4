"""dq_batch inputs and their independent check, both with DuckDB.

Inputs: a lineitem-shaped table split into FILES parquet files, every value a
pure function of (seed, row id), with planted faults, each a fixed share of
rows: nulls and empty strings, malformed numeric strings for CASTED_NUMBER,
malformed dates for FORMATTED_DATE, lower-case ship modes for REGEX_MATCH and
repeated (orderkey, linenumber) pairs for DUPLICATE_VALUES. Beside it, a
row-count history of HISTORY_DAYS earlier runs in the program's DQ-storage
layout, which each run copies into a fresh storage directory.

Check: every metric value and check status recomputed over the same parquet
files the job reads.

Exact: counts, extremes, integer sums, the exact-cardinality TOP_N share and
every check status. Float moments (mean, population std, shares): relative
tolerance FLOAT_TOL. Approximate metrics: the median must have a rank within
N / accuracy of N / 2 (percentile_approx's stated bound), and the
approximate distinct count must lie within 5 x accuracyError of the exact
count (5 standard errors of HyperLogLog++).
"""
import json
import math
import shutil
from pathlib import Path

import duckdb

FLOAT_TOL = 1e-9
MEDIAN_ACCURACY = 10000      # QuantileMetric's default accuracy
DISTINCT_RSD = 0.01          # accuracyError of approx_orders
ROWS = 300000                # Inputs.DqRows
FILES = 8
HISTORY_DAYS = 8
JOB_ID = "perfbench_dq"      # Inputs.DqJobId
REFERENCE_TS = "2026-01-15 00:00:00+00"  # Inputs.DqReferenceTs
REGEX = "^[A-Z]+( [A-Z]+)?$"

EXACT = {"row_count", "null_mode_flag", "empty_instruct_comment", "regex_shipmode",
         "casted_price", "min_comment_len", "max_comment_len", "flag_domain",
         "shipdate_ok", "min_qty", "max_price", "sum_qty", "discount_between",
         "distinct_flags", "dup_lines"}
FLOAT = {"complete_comment", "avg_comment_len", "avg_price", "std_price",
         "top_shipmode", "trend_row_count", "null_share", "bad_price_share"}


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def generate(inputs: Path, seed: int) -> None:
    """Writes table/ and history/results_metrics/ under `inputs`."""
    con = connect()
    con.execute(f"CREATE MACRO h(i, k) AS hash(i, {int(seed)}, k)")
    con.execute("CREATE MACRO u(i, k) AS h(i, k) % 100000")
    con.execute("CREATE MACRO pick(i, k, xs) AS xs[1 + (h(i, k) % len(xs))::INTEGER]")
    modes = "['REG AIR', 'AIR', 'RAIL', 'SHIP', 'TRUCK', 'MAIL', 'FOB']"
    instructs = "['DELIVER IN PERSON', 'COLLECT COD', 'NONE', 'TAKE BACK RETURN']"
    words = ("['carefully', 'final', 'deposits', 'sleep', 'quickly', 'regular', 'packages', "
             "'haggle', 'furiously', 'ironic', 'accounts', 'bold', 'pending']")
    con.execute(f"""
      CREATE TABLE t AS
      SELECT i, i // 4 + 1 AS l_orderkey,
        (h(i, 2) % 200000 + 1)::BIGINT AS l_partkey,
        (h(i, 3) % 10000 + 1)::INTEGER AS l_suppkey,
        CASE WHEN u(i, 1) < 200 THEN 1 ELSE (i % 4 + 1)::INTEGER END AS l_linenumber,
        (h(i, 4) % 50 + 1)::INTEGER AS l_quantity,
        cents / 100.0 AS l_extendedprice,
        (h(i, 6) % 11)::DOUBLE / 100.0 AS l_discount,
        (h(i, 7) % 9)::DOUBLE / 100.0 AS l_tax,
        CASE WHEN u(i, 9) < 200 THEN NULL ELSE pick(i, 8, ['R', 'A', 'N']) END AS l_returnflag,
        pick(i, 15, ['O', 'F']) AS l_linestatus,
        CASE WHEN u(i, 11) < 100 THEN '1995-13-45'
             WHEN u(i, 11) < 150 THEN 'not a date'
             ELSE strftime(DATE '1992-01-02' + ship_days, '%Y-%m-%d') END AS l_shipdate,
        strftime(DATE '1992-01-02' + ship_days + (h(i, 16) % 60)::INTEGER, '%Y-%m-%d') AS l_commitdate,
        CASE WHEN u(i, 12) < 300 THEN '' ELSE pick(i, 17, {instructs}) END AS l_shipinstruct,
        CASE WHEN u(i, 14) < 100 THEN NULL
             WHEN u(i, 13) < 150 THEN lower(pick(i, 18, {modes}))
             ELSE pick(i, 18, {modes}) END AS l_shipmode,
        CASE WHEN u(i, 19) < 500 THEN NULL
             WHEN u(i, 19) < 800 THEN ''
             ELSE concat_ws(' ', pick(i, 20, {words}), pick(i, 21, {words}), pick(i, 22, {words}),
                            substr(pick(i, 23, {words}), 1, (h(i, 24) % 9 + 1)::INTEGER)) END AS l_comment,
        CASE WHEN u(i, 25) < 100 THEN NULL
             WHEN u(i, 25) < 200 THEN ''
             WHEN u(i, 25) < 300 THEN 'N/A'
             WHEN u(i, 25) < 400 THEN '12,' || (h(i, 26) % 100)::VARCHAR
             WHEN u(i, 25) < 500 THEN '1.2.3'
             ELSE (cents // 100)::VARCHAR || '.' || lpad((cents % 100)::VARCHAR, 2, '0') END AS l_price_str
      FROM (SELECT range AS i, (h(range, 5) % 10000000 + 90000)::BIGINT AS cents,
                   (h(range, 10) % 2500)::INTEGER AS ship_days FROM range({ROWS}))""")
    (inputs / "table").mkdir(parents=True)
    for f in range(FILES):
        con.execute(f"COPY (SELECT * EXCLUDE (i) FROM t WHERE i % {FILES} = {f} ORDER BY i) "
                    f"TO '{inputs}/table/part-{f:05d}.parquet' (FORMAT PARQUET)")
    hist = inputs / "history" / "results_metrics"
    hist.mkdir(parents=True)
    con.execute(f"""
      COPY (SELECT '{JOB_ID}' AS job_id, 'row_count' AS metric_id, 'ROW_COUNT' AS metric_name,
                   'lineitem' AS source_id, '' AS columns,
                   ({ROWS} - 5000 + h(d, 99) % 10000)::DOUBLE AS result, '' AS additional_result,
                   TIMESTAMPTZ '{REFERENCE_TS}' - INTERVAL (d) DAY AS reference_ts,
                   NULL::VARCHAR AS description, NULL::VARCHAR AS metadata
            FROM range(1, {HISTORY_DAYS + 1}) r(d) ORDER BY d DESC)
      TO '{hist}/part-00000.parquet' (FORMAT PARQUET)""")


def expected(table: Path, history: Path) -> dict:
    """Metric values and check statuses the job must report."""
    con = connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table}/*.parquet')")
    q = lambda sql: con.execute(sql).fetchone()[0]
    m = {}
    m["row_count"] = q("SELECT count(*) FROM t")
    m["null_mode_flag"] = q("SELECT count(*) FILTER (l_shipmode IS NULL) + count(*) FILTER (l_returnflag IS NULL) FROM t")
    m["empty_instruct_comment"] = q("SELECT count(*) FILTER (l_shipinstruct = '') + count(*) FILTER (l_comment = '') FROM t")
    m["complete_comment"] = q("SELECT count(l_comment) / count(*) FROM t")
    m["regex_shipmode"] = q(f"SELECT count(*) FILTER (regexp_matches(l_shipmode, '{REGEX}')) FROM t")
    m["casted_price"] = q("SELECT count(*) FILTER (TRY_CAST(l_price_str AS DOUBLE) IS NOT NULL) FROM t")
    m["min_comment_len"] = q("SELECT min(length(l_comment)) FROM t")
    m["max_comment_len"] = q("SELECT max(length(l_comment)) FROM t")
    m["avg_comment_len"] = q("SELECT sum(length(l_comment)) / count(l_comment) FROM t")
    m["flag_domain"] = q("SELECT count(*) FILTER (l_returnflag IN ('A', 'N', 'R')) FROM t")
    m["shipdate_ok"] = q("SELECT count(*) FILTER (try_strptime(l_shipdate, '%Y-%m-%d') IS NOT NULL) FROM t")
    m["min_qty"] = q("SELECT min(l_quantity) FROM t")
    m["max_price"] = q("SELECT max(l_extendedprice) FROM t")
    m["sum_qty"] = q("SELECT sum(l_quantity) FROM t")
    m["avg_price"] = q("SELECT avg(l_extendedprice) FROM t")
    m["std_price"] = q("SELECT stddev_pop(l_extendedprice) FROM t")
    m["top_shipmode"] = q("SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM t WHERE l_shipmode IS NOT NULL GROUP BY l_shipmode)")
    m["discount_between"] = q("SELECT count(*) FILTER (l_discount BETWEEN 0.0 AND 0.08) FROM t")
    m["distinct_flags"] = q("SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM t "
                            "WHERE l_returnflag IS NOT NULL OR l_linestatus IS NOT NULL)")
    m["dup_lines"] = q("SELECT sum(c - 1) FROM (SELECT count(*) c FROM t GROUP BY l_orderkey, l_linenumber)")
    m["trend_row_count"] = q(f"SELECT avg(result) FROM (SELECT result FROM read_parquet('{history}/results_metrics/*.parquet') "
                             "WHERE metric_id = 'row_count' ORDER BY reference_ts DESC LIMIT 5)")
    m["null_share"] = m["null_mode_flag"] / m["row_count"]
    m["bad_price_share"] = 1 - m["casted_price"] / m["row_count"]
    exact_distinct = q("SELECT count(DISTINCT l_orderkey) FROM t")
    ncol = len(con.execute("SELECT * FROM t LIMIT 0").description)
    c = {
        "columns_16": ncol == 16,
        "keys_exist": True,
        "rows_exact": m["row_count"] == ROWS,
        "few_nulls": m["null_mode_flag"] < 4000,
        "prices_cast": m["casted_price"] > 0.99 * ROWS,
        "dates_vs_rows": abs(m["shipdate_ok"] - m["row_count"]) / m["row_count"] < 0.01,
        "null_share_low": m["null_share"] < 0.005,
        "modes_vs_flags": m["regex_shipmode"] > m["row_count"] or m["dup_lines"] == 0,
        "rows_vs_trend": abs(m["row_count"] - m["trend_row_count"]) / m["trend_row_count"] < 0.05,
    }
    m = {k: float(v) for k, v in m.items()}
    return {"metrics": m, "checks": c, "exact_distinct": float(exact_distinct),
            "passed": c["columns_16"] and c["keys_exist"] and c["rows_exact"]}


def median_rank_ok(table: Path, value: float, n: int) -> bool:
    con = connect()
    lo, hi = con.execute(
        f"SELECT count(*) FILTER (l_extendedprice < ?), count(*) FILTER (l_extendedprice <= ?) "
        f"FROM read_parquet('{table}/*.parquet')", [value, value]).fetchone()
    target = 0.5 * n
    slack = n / MEDIAN_ACCURACY + 1
    return lo <= target + slack and hi >= target - slack


def compare(got: dict, exp: dict, table: Path) -> list:
    """Violations of one job result against the expected values."""
    errs = []
    gm, em = got["metrics"], exp["metrics"]
    for k, v in em.items():
        g = gm.get(k, {}).get("value")
        if g is None:
            errs.append(f"metric {k} missing")
        elif k in EXACT and g != v:
            errs.append(f"metric {k} = {g}, DuckDB {v}")
        elif k in FLOAT and not math.isclose(g, v, rel_tol=FLOAT_TOL, abs_tol=1e-12):
            errs.append(f"metric {k} = {g}, DuckDB {v}")
    a = gm.get("approx_orders", {}).get("value")
    d = exp["exact_distinct"]
    if a is None or abs(a - d) > 5 * DISTINCT_RSD * d:
        errs.append(f"approx_orders = {a}, exact {d}")
    med = gm.get("median_price", {}).get("value")
    if med is None or not median_rank_ok(table, med, int(em["row_count"])):
        errs.append(f"median_price = {med} is outside the rank bound")
    for k, v in exp["checks"].items():
        if got["checks"].get(k) != v:
            errs.append(f"check {k} = {got['checks'].get(k)}, DuckDB {v}")
    if got["passed"] != exp["passed"]:
        errs.append(f"job passed = {got['passed']}, expected {exp['passed']}")
    extra = set(gm) - set(em) - {"approx_orders", "median_price"}
    if extra:
        errs.append(f"unexpected metrics {sorted(extra)}")
    return errs


def stored_matches(storage: Path, got: dict, reference_ts: str) -> list:
    """Read the stored results back with DuckDB; they must equal what the
    job returned."""
    con = connect()
    rows = con.execute(
        f"SELECT metric_id, result FROM read_parquet('{storage}/results_metrics/*.parquet') "
        "WHERE reference_ts = CAST(? AS TIMESTAMP)", [reference_ts.replace("T", " ").rstrip("Z")]).fetchall()
    stored = dict(rows)
    errs = []
    for k, v in got["metrics"].items():
        s = stored.get(k)
        if v["value"] is None:
            if s is None or not math.isnan(s):
                errs.append(f"stored {k} = {s}, job returned NaN")
        elif s != v["value"]:
            errs.append(f"stored {k} = {s}, job returned {v['value']}")
    if len(stored) != len(got["metrics"]):
        errs.append(f"stored {len(stored)} metrics, job returned {len(got['metrics'])}")
    return errs


def prepare(inputs: Path, seed: int, rebuild: bool = False) -> dict:
    """Writes the inputs unless complete and returns the expected values,
    cached beside them as expected.json (`rebuild` recomputes them)."""
    if not (inputs / "_COMPLETE").is_file():
        shutil.rmtree(inputs, ignore_errors=True)
        generate(inputs, seed)
        (inputs / "_COMPLETE").touch()
    f = inputs / "expected.json"
    if f.is_file() and not rebuild:
        return json.loads(f.read_text())
    exp = expected(inputs / "table", inputs / "history")
    tmp = f.with_suffix(".tmp")
    tmp.write_text(json.dumps(exp, indent=1, sort_keys=True))
    tmp.rename(f)
    return exp
