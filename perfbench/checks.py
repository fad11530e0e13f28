"""Output checks, run after the timed window. Each returns a list of
(what was checked, error or None) pairs; every pair counts as one attempted
operation, and a non-None error as a failed one.

* ``etl``: every report the job wrote is recomputed in DuckDB from the same
  CSVs and hash-compared; the meta file must hold exactly the committed dates.
* ``oracle_gate``: every query result is compared with its registry oracle SQL
  run in DuckDB, with the canonicalization of scripts/check.py, and the row
  count of every timed (noop) materialization must equal the oracle's.
"""
import ast
import csv
import functools
import decimal
import glob
import hashlib
import math
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.lru_cache(maxsize=None)
def _check_canon():
    """scripts/check.py's `canon`, taken from its source (the script runs its
    gate on import, so it cannot be imported)."""
    path = os.path.join(ROOT, "scripts", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"math": math}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["canon"]


def canon(rows, cols):
    return _check_canon()(rows, cols)


def _digest(cols, rows):
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def bround2(v):
    """Spark's bround(v, 2) on a double: HALF_EVEN on the shortest decimal
    form of the value, through a BigDecimal, which has no negative zero."""
    if v is None or math.isnan(v) or math.isinf(v):
        return v
    return float(decimal.Decimal(repr(v)).quantize(
        decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_EVEN)) + 0.0


# Mirrors EventBars.report1Oracle on the Xetra column names: explicit full
# frames for first/last, min/max/sum per (ISIN, Date), the lag on the OPENING
# price, and the zero guard. Rounding happens in Python (bround2).
REPORT_SQL = """
WITH bars AS (
  SELECT * FROM read_csv({files}, header = true, columns = {{
    'ISIN': 'VARCHAR', 'Mnemonic': 'VARCHAR', 'Date': 'VARCHAR',
    'Time': 'VARCHAR', 'StartPrice': 'DOUBLE', 'EndPrice': 'DOUBLE',
    'MinPrice': 'DOUBLE', 'MaxPrice': 'DOUBLE', 'TradedVolume': 'BIGINT'}})
  WHERE ISIN IS NOT NULL AND Mnemonic IS NOT NULL AND Date IS NOT NULL
    AND Time IS NOT NULL AND StartPrice IS NOT NULL AND EndPrice IS NOT NULL
    AND MinPrice IS NOT NULL AND MaxPrice IS NOT NULL
    AND TradedVolume IS NOT NULL
), w AS (
  SELECT ISIN, Date, MinPrice, MaxPrice, TradedVolume,
    first_value(StartPrice) OVER (PARTITION BY ISIN, Date ORDER BY Time
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS op,
    last_value(StartPrice) OVER (PARTITION BY ISIN, Date ORDER BY Time
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cl
  FROM bars
), daily AS (
  SELECT ISIN, Date, min(op) AS opening_price_eur,
    min(cl) AS closing_price_eur, min(MinPrice) AS minimum_price_eur,
    max(MaxPrice) AS maximum_price_eur,
    CAST(sum(TradedVolume) AS BIGINT) AS daily_traded_volume
  FROM w GROUP BY ISIN, Date
), lagged AS (
  SELECT *, lag(opening_price_eur) OVER (PARTITION BY ISIN ORDER BY Date)
    AS prev FROM daily
)
SELECT ISIN, Date, opening_price_eur, closing_price_eur, minimum_price_eur,
  maximum_price_eur, daily_traded_volume,
  CASE WHEN prev <> 0 THEN (opening_price_eur - prev) / prev * 100 END
    AS "change_prev_closing_%"
FROM lagged WHERE Date >= '{extract_date}'
"""


def expected_report(con, source, dates, extract_date):
    files = [f for d in dates for f in
             sorted(glob.glob(os.path.join(source, d, "*.csv")))]
    rel = con.sql(REPORT_SQL.format(files=files, extract_date=extract_date))
    rows = [tuple(bround2(v) if isinstance(v, float) else v for v in r)
            for r in rel.fetchall()]
    return canon(rows, rel.columns)


def report_key(out, day):
    """Where the job wrote the report of the run whose clock read `day`."""
    stamp = day.replace("-", "") + "_200000"
    return os.path.join(out, "target", "report1",
                        f"xetra_daily_report1_{stamp}.parquet")


def etl(runs, source, out):
    """runs: [(day, dates read, extract date, committed dates, error)] in
    commit order, as scheduled by the runner."""
    con = duckdb.connect()
    results = []
    for day, dates, extract_date, _, error in runs:
        what = f"etl report {day}"
        if error:
            results.append((what, error))
            continue
        try:
            got = con.sql("SELECT * FROM read_parquet("
                          f"'{report_key(out, day)}/*.parquet')")
            gcols, grows = canon(got.fetchall(), got.columns)
            ecols, erows = expected_report(con, source, dates, extract_date)
            if _digest(gcols, grows) != _digest(ecols, erows):
                diff = [(g, e) for g, e in zip(grows, erows) if g != e][:2]
                results.append((what, f"report differs: rows got "
                                f"{len(grows)} expected {len(erows)} {diff}"))
            else:
                results.append((what, None))
        except Exception as e:  # a missing or unreadable output is a failure
            results.append((what, f"{type(e).__name__}: {e}"))
    expected = [(d, f"{day} 20:00:00") for day, _, _, committed, error
                in runs if not error for d in committed]
    try:
        with open(os.path.join(out, "meta", "meta_file.csv")) as f:
            meta = [(r["source_date"], r["datetime_of_processing"])
                    for r in csv.DictReader(f)]
        err = None if meta == expected else (
            f"meta rows {meta[:3]}... != committed {expected[:3]}...")
    except OSError as e:
        meta, err = [], f"meta file unreadable: {e}"
    results.append(("etl meta file", err))
    return results, len(meta)


def oracle_gate(gate, rows, data, dump):
    """gate: {query: {"oracle": sql} or {"error": ...}}; rows: {query: [row
    count of each noop materialization]}."""
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    results = []
    for name, g in gate.items():
        what = f"oracle {name}"
        if "error" in g:
            results.append((what, g["error"]))
            continue
        if not g.get("oracle"):
            results.append((what, "no registry oracle"))
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet("
                          f"'{os.path.join(dump, name)}/*.parquet')")
            gcols, grows = canon(got.fetchall(), got.columns)
            exp = con.sql(g["oracle"])
            ecols, erows = canon(exp.fetchall(), exp.columns)
        except Exception as e:
            results.append((what, f"{type(e).__name__}: {e}"))
            continue
        if gcols != ecols:
            err = f"schema got={gcols} expected={ecols}"
        elif grows != erows:
            diff = [(a, b) for a, b in zip(grows, erows) if a != b][:2]
            err = f"rows got={len(grows)} expected={len(erows)} {diff}"
        elif any(n != len(erows) for n in rows[name]):
            err = (f"noop materializations counted {sorted(set(rows[name]))} "
                   f"rows, oracle has {len(erows)}")
        else:
            err = None
        results.append((what, err))
    return results
