"""Output checks run after a workload's timed phase.

analytics: every crunch output and every dashboard panel is recomputed
with DuckDB over the same parquet and compared row by row (floats to a
relative 1e-9; sums of doubles may be added in another order). The EWMA
recurrence has no SQL form in DuckDB, so its loop runs in Python over rows
DuckDB reads and orders.

registry: each query's output must have the row count, and for
oracle-backed queries the order-insensitive digest, recorded in
`expected/registry.json` from a run whose outputs pass
`tools/localverify.py`.
"""
import glob
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "registry.json")
TOL = 1e-9
# EWMA smoothing of the FPP crunch: 2/9, the reference implementation's value
ALPHA = 2.0 / 9.0

UNIT_MW = "FPP---UNIT_MW---1"
FREQ = "FPP---REGION_FREQ_MEASURE---1"
PRED = "DEMAND---INTERMITTENT_DS_PRED---1"


def _connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    return con


def _epoch_view(con, name, source):
    """View `name` over `source` with every timestamp column as epoch µs."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name}__raw AS {source}")
    cols = con.execute(f"DESCRIBE {name}__raw").fetchall()
    sel = ", ".join(
        f'epoch_us("{c}") AS "{c}"' if t.startswith("TIMESTAMP") else f'"{c}"'
        for c, t, *_ in cols)
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT {sel} FROM {name}__raw")


def _compare(con, what, spark_view, oracle_view, keys, values):
    """Row-by-row comparison on unique `keys`; returns failure messages."""
    n_s = con.execute(f"SELECT count(*) FROM {spark_view}").fetchone()[0]
    n_o = con.execute(f"SELECT count(*) FROM {oracle_view}").fetchone()[0]
    if n_s != n_o:
        return [f"{what}: {n_s} rows, DuckDB {n_o}"]
    if n_o == 0:
        return [f"{what}: no rows"]
    k = ", ".join(f'"{c}"' for c in keys)
    d = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {k} FROM {oracle_view})").fetchone()[0]
    if d != n_o:
        return [f"{what}: keys {keys} are not unique"]
    on = " AND ".join(f's."{c}" IS NOT DISTINCT FROM o."{c}"' for c in keys)
    diff = " OR ".join(
        f'NOT (s."{v}" IS NOT DISTINCT FROM o."{v}" OR '
        f'abs(s."{v}" - o."{v}") <= {TOL} * greatest(1.0, abs(o."{v}")))'
        for v in values) or "false"
    bad = con.execute(
        f"SELECT count(*) FROM {spark_view} s FULL OUTER JOIN {oracle_view} o ON {on} "
        f'WHERE s."{keys[0]}" IS NULL OR o."{keys[0]}" IS NULL OR {diff}').fetchone()[0]
    return [f"{what}: {bad} of {n_o} rows differ from DuckDB"] if bad else []


def _ewma_oracle(con, lake, day):
    """Step 1 oracle: quality filter in DuckDB, per-region EWMA of the
    negated deviation in Python (state 0 per region; a null value emits
    null and leaves the state alone)."""
    rows = con.execute(
        f"SELECT epoch_us(MEASUREMENT_DATETIME), REGIONID, FREQ_DEVIATION_HZ, FREQ_MEASURE_HZ "
        f"FROM read_parquet('{lake}/{FREQ}/date={day}/*.parquet', union_by_name=true) "
        f"WHERE HZ_QUALITY_FLAG = 1 ORDER BY REGIONID, 1").fetchall()
    out, key, state = [], None, 0.0
    for ts, region, dev, aemo in rows:
        if region != key:
            key, state = region, 0.0
        if dev is None:
            fm = None
        else:
            state = (1.0 - ALPHA) * state + ALPHA * (-dev)
            fm = state
        out.append((ts, region, dev, aemo, fm))
    import pandas as pd
    df = pd.DataFrame(out, columns=["ts", "region", "freq_dev", "aemo_freq_measure",
                                    "freq_measure"]).astype({"ts": "int64"})
    con.register("o_fm_df", df)
    con.execute("CREATE OR REPLACE TEMP TABLE o_fm AS SELECT * FROM o_fm_df")
    con.unregister("o_fm_df")


def check_crunch_day(con, res, day):
    lake, out, settle = res["lake"], res["crunch"], res["settle"]
    t0 = con.execute(f"SELECT epoch_us(TIMESTAMPTZ '{day} 00:00:00')").fetchone()[0]
    fails = []

    def spark(step):
        _epoch_view(con, f"s_{step}", f"SELECT * FROM read_parquet('{out}/{step}/date={day}/*.parquet')")
        return f"s_{step}"

    _ewma_oracle(con, lake, day)
    fails += _compare(con, f"crunch {day} step1", spark("freq_measure"), "o_fm",
                      ["ts", "region"], ["freq_dev", "aemo_freq_measure", "freq_measure"])
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE o_latest AS
      SELECT DUID AS duid, epoch_us(INTERVAL_DATETIME) AS ts_5m, FORECAST_POE50 AS poe50 FROM (
        SELECT *, row_number() OVER (PARTITION BY DUID, INTERVAL_DATETIME
                                     ORDER BY RUN_DATETIME DESC, OFFERDATETIME DESC) AS rn
        FROM read_parquet('{lake}/{PRED}/date={day}/*.parquet', union_by_name=true)
        WHERE ORIGIN = 'AWEFS_ASEFS') WHERE rn = 1""")
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE o_traj AS
      WITH grid AS (
        SELECT r.range AS ts, d.duid, r.range // 300000000 * 300000000 AS ts_5m
        FROM range({t0}, {t0} + 86400000000, 4000000) r,
             (SELECT DISTINCT duid FROM o_latest) d),
      j AS (
        SELECT g.ts, g.duid,
               coalesce(CAST(g.ts // 1000 - g.ts_5m // 1000 AS DOUBLE) / 300000.0, 0.0) AS frac,
               coalesce(p.poe50, 0.0) AS p0, coalesce(n.poe50, p.poe50, 0.0) AS n0
        FROM grid g
        LEFT JOIN o_latest p ON g.duid = p.duid AND g.ts_5m = p.ts_5m
        LEFT JOIN o_latest n ON g.duid = n.duid AND g.ts_5m + 300000000 = n.ts_5m)
      SELECT ts, duid, p0 + (n0 - p0) * frac AS reference_mw FROM j""")
    fails += _compare(con, f"crunch {day} step2", spark("trajectory"), "o_traj",
                      ["ts", "duid"], ["reference_mw"])
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE o_dev AS
      SELECT t.ts, t.duid, t.reference_mw, u.MEASURED_MW AS measured_mw,
             u.MEASURED_MW - t.reference_mw AS deviation
      FROM o_traj t JOIN (
        SELECT epoch_us(MEASUREMENT_DATETIME) AS ts, FPP_UNITID AS duid, MEASURED_MW
        FROM read_parquet('{lake}/{UNIT_MW}/date={day}/*.parquet', union_by_name=true)) u
      ON t.ts = u.ts AND t.duid = u.duid""")
    fails += _compare(con, f"crunch {day} step3", spark("deviations"), "o_dev",
                      ["ts", "duid"], ["reference_mw", "measured_mw", "deviation"])
    con.execute("""
      CREATE OR REPLACE TEMP TABLE o_perf AS
      SELECT d.*, f.freq_measure,
             CASE WHEN f.freq_measure < 0 THEN f.freq_measure ELSE 0.0 END * d.deviation AS p_lower,
             CASE WHEN f.freq_measure > 0 THEN f.freq_measure ELSE 0.0 END * d.deviation AS p_raise
      FROM o_dev d LEFT JOIN (SELECT ts, freq_measure FROM o_fm WHERE region = 'NSW1') f
      ON d.ts = f.ts""")
    fails += _compare(con, f"crunch {day} step4", spark("performance"), "o_perf",
                      ["ts", "duid"], ["freq_measure", "p_lower", "p_raise", "deviation"])

    def st(t):
        _epoch_view(con, f"st_{t}", f"SELECT * FROM read_parquet('{settle}/{t}/date={day}/*.parquet')")
        return f"st_{t}"
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE o_charges AS
      WITH res AS (SELECT ts, sum(p_raise) AS raise_residual_perf,
                          sum(p_lower) AS lower_residual_perf FROM o_perf GROUP BY ts),
      w AS (
        SELECT c.constraintid, c.ts, r.raise_residual_perf, r.lower_residual_perf,
               coalesce(rd.residual_dcf, dc.default_contribution_factor) AS used_dcf
        FROM {st('cf')} c LEFT JOIN res r ON c.ts = r.ts
        LEFT JOIN {st('default_cf')} dc ON c.constraintid = dc.constraintid AND c.ts = dc.ts
        LEFT JOIN {st('residual_dcf')} rd ON c.constraintid = rd.constraintid AND c.ts = rd.ts)
      SELECT w.*, w.raise_residual_perf * w.used_dcf * pr.fpp_payment_rate
                + w.lower_residual_perf * w.used_dcf * pr.fpp_recovery_rate AS interval_charge
      FROM w LEFT JOIN {st('perf_rates')} pr ON w.constraintid = pr.constraintid AND w.ts = pr.ts""")
    fails += _compare(con, f"crunch {day} settlement", spark("charges"), "o_charges",
                      ["constraintid", "ts"],
                      ["raise_residual_perf", "lower_residual_perf", "used_dcf", "interval_charge"])
    con.execute("CREATE OR REPLACE TEMP TABLE o_summary AS "
                "SELECT 1 AS k, sum(interval_charge) AS total_fpp_charge FROM o_charges")
    _epoch_view(con, "s_summary1", f"SELECT 1 AS k, * FROM read_parquet('{out}/summary/date={day}/*.parquet')")
    fails += _compare(con, f"crunch {day} summary", "s_summary1", "o_summary",
                      ["k"], ["total_fpp_charge"])
    return fails


def panel_oracles(res):
    """DuckDB formulations of the dashboard panels:
    name -> (sql, key columns, value columns)."""
    lake, hist, out = res["lake"], res["hist"], res["crunch"]
    cur, prev = res["current"], res["previous"]

    def t(name):
        return f"read_parquet('{lake}/{name}/*/*.parquet', hive_partitioning=true, union_by_name=true)"
    b5 = "epoch_us(MEASUREMENT_DATETIME) // 300000000 * 300000000"
    return {
        "bucket5m": (f"""SELECT {b5} AS bucket, count(*) AS n, count(MEASURED_MW) AS n_mw,
                           avg(MEASURED_MW) AS avg_mw, max(MEASURED_MW) AS max_mw
                         FROM {t(UNIT_MW)} WHERE date >= DATE '{prev}' GROUP BY 1""",
                     ["bucket"], ["n", "n_mw", "avg_mw", "max_mw"]),
        "pivot": (f"""SELECT {b5} AS bucket,
                        {", ".join(f"avg(FREQ_DEVIATION_HZ) FILTER (WHERE REGIONID = '{r.upper()}') AS {r}"
                                   for r in ("nsw1", "qld1", "sa1", "tas1", "vic1"))}
                      FROM {t(FREQ)} WHERE date = DATE '{cur}' AND HZ_QUALITY_FLAG = 1 GROUP BY 1""",
                  ["bucket"], ["nsw1", "qld1", "sa1", "tas1", "vic1"]),
        "percent": (f"""SELECT p.n AS n_processed, d.n AS n_downloaded,
                          CAST(p.n AS DOUBLE) / CAST(d.n AS DOUBLE) AS frac
                        FROM (SELECT count(*) AS n FROM read_parquet('{hist}/processed/*.parquet')) p,
                             (SELECT count(*) AS n FROM read_parquet('{hist}/downloaded/*.parquet')) d""",
                    ["n_processed"], ["n_downloaded", "frac"]),
        "timeline": (f"""SELECT epoch_us(MEASUREMENT_DATETIME) AS MEASUREMENT_DATETIME, FPP_UNITID,
                           MEASURED_MW FROM {t(UNIT_MW)}
                         ORDER BY MEASUREMENT_DATETIME DESC, FPP_UNITID DESC LIMIT 5000""",
                     ["MEASUREMENT_DATETIME", "FPP_UNITID"], ["MEASURED_MW"]),
        "latest_forecast": (f"""SELECT DUID, epoch_us(INTERVAL_DATETIME) AS INTERVAL_DATETIME,
                                  epoch_us(RUN_DATETIME) AS RUN_DATETIME, FORECAST_POE50 FROM (
                                  SELECT *, row_number() OVER (PARTITION BY DUID, INTERVAL_DATETIME
                                    ORDER BY RUN_DATETIME DESC, OFFERDATETIME DESC) AS rn
                                  FROM {t(PRED)} WHERE date = DATE '{cur}' AND ORIGIN = 'AWEFS_ASEFS')
                                WHERE rn = 1""",
                            ["DUID", "INTERVAL_DATETIME"], ["RUN_DATETIME", "FORECAST_POE50"]),
        "fpp_perf": (f"""SELECT duid, count(*) AS n, sum(p_raise) AS raise, sum(p_lower) AS lower
                         FROM read_parquet('{out}/performance/*/*.parquet') GROUP BY duid""",
                     ["duid"], ["n", "raise", "lower"]),
    }


def check_analytics(res):
    con = _connect()
    fails = []
    for day in res["days"]:
        fails += check_crunch_day(con, res, day)
    for name, (sql, keys, values) in panel_oracles(res).items():
        con.execute(f"CREATE OR REPLACE TEMP VIEW o_{name} AS {sql}")
        _epoch_view(con, f"s_{name}", f"SELECT * FROM read_parquet('{res['panels']}/{name}/*.parquet')")
        fails += _compare(con, f"panel {name}", f"s_{name}", f"o_{name}", keys, values)
    con.close()
    return fails


def digest(qdir):
    """Row count and order-insensitive digest of one query's parquet output
    (columns sorted by name, rows sorted, as tools/localverify.py compares)."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return 0, None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64" if df[c].isna().any() else "int64")
    text = df.astype(str).sort_values(by=list(df.columns), ignore_index=True).to_csv(index=False)
    return len(df), hashlib.sha256(text.encode()).hexdigest()


def check_registry(res):
    got = {}
    for q in res["queries"]:
        rows, h = digest(os.path.join(res["out"], q))
        got[q] = {"rows": rows, "sha256": h if q in res["oracle"] else None}
    with open(EXPECTED) as f:
        want = json.load(f)
    fails = []
    for q in res["queries"]:
        w = want.get(q)
        if w is None:
            fails.append(f"registry {q}: no recorded output")
        elif got[q]["rows"] != w["rows"]:
            fails.append(f"registry {q}: {got[q]['rows']} rows, recorded {w['rows']}")
        elif w["sha256"] is not None and got[q]["sha256"] != w["sha256"]:
            fails.append(f"registry {q}: output digest differs from the recorded one")
    return fails
