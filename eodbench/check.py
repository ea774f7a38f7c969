"""Correctness checks, computed apart from the program in DuckDB.

`run_checks(workload, run_dir)` reads the generated inputs and the outputs a
finished run left in `run_dir` and returns `[(name, ok, detail)]`.

`python3 eodbench/check.py --selftest <run_dir>` corrupts one row of each
checked output in a copy of a kept run directory (`run.py --keep`) and
shows that every check then fails.
"""

import glob
import json
import os
import shutil
import sys

import duckdb

TABLES = ("raw_eod_prices", "core_eod_prices", "core_eod_prices_reject",
          "dim_security", "dim_date", "fact_daily_price")
VALUE_ORDER = "close DESC, high DESC, low DESC, open DESC, volume DESC"


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _tsv(path):
    with open(path) as fh:
        return [ln.rstrip("\n").split("\t") for ln in fh if ln.strip()]


def _same(con, a, b, cols="*"):
    """Multiset difference of two relations, both ways; 0 when equal."""
    q = f"SELECT count(*) FROM ((SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b}) " \
        f"UNION ALL (SELECT {cols} FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))"
    return con.execute(q).fetchone()[0]


# ------------------------------------------------------------------- EOD

def _load_bronze(con, run_dir):
    """Every delivered bronze row, parsed as the loader parses it, with its
    delivery sequence (later deliveries win)."""
    deliveries = _tsv(os.path.join(run_dir, "out", "ingested.tsv"))
    con.execute("""CREATE OR REPLACE TABLE bronze (seq INT, file VARCHAR,
        file_date DATE, trade_date DATE, symbol VARCHAR, open DECIMAL(18,6),
        high DECIMAL(18,6), low DECIMAL(18,6), close DECIMAL(18,6),
        volume DECIMAL(38,0))""")
    for seq, (date, path) in enumerate(deliveries):
        con.execute(f"""INSERT INTO bronze SELECT {seq}, '{os.path.basename(path)}',
            DATE '{date}', TRY_CAST(trade_date AS DATE), NULLIF(symbol, 'NULL'),
            TRY_CAST(NULLIF(open, 'NULL') AS DECIMAL(18,6)),
            TRY_CAST(NULLIF(high, 'NULL') AS DECIMAL(18,6)),
            TRY_CAST(NULLIF(low, 'NULL') AS DECIMAL(18,6)),
            TRY_CAST(NULLIF(close, 'NULL') AS DECIMAL(18,6)),
            TRY_CAST(NULLIF(volume, 'NULL') AS DECIMAL(38,0))
            FROM read_csv('{path}', header = true, auto_detect = false, delim = ',',
              quote = '"', columns = {{'trade_date': 'VARCHAR', 'symbol': 'VARCHAR',
              'open': 'VARCHAR', 'high': 'VARCHAR', 'low': 'VARCHAR',
              'close': 'VARCHAR', 'volume': 'VARCHAR'}})""")
    con.execute("""CREATE OR REPLACE VIEW loaded AS
        SELECT *, upper(trim(symbol)) AS sym FROM bronze
        WHERE trade_date IS NOT NULL AND symbol IS NOT NULL AND trade_date = file_date""")
    # CORE: latest delivery wins per normalized key among `volume >= 0` rows
    con.execute(f"""CREATE OR REPLACE TABLE exp_core AS
        SELECT trade_date, sym AS symbol, open, high, low, close, volume FROM (
          SELECT *, row_number() OVER (PARTITION BY sym, trade_date
            ORDER BY seq DESC, file DESC, {VALUE_ORDER}) AS rn
          FROM loaded WHERE volume >= 0) WHERE rn = 1""")
    # REJECT: insert-only, so the first delivery with a `volume < 0` row
    # for a key brings all of that delivery's rows for the key
    con.execute("""CREATE OR REPLACE TABLE exp_reject AS
        SELECT trade_date, sym AS symbol, open, high, low, close, volume,
               'NEGATIVE_VOLUME' AS reject_reason FROM (
          SELECT *, min(seq) OVER (PARTITION BY sym, trade_date) AS first_seq
          FROM loaded WHERE volume < 0) WHERE seq = first_seq""")


def check_warehouse(con, run_dir):
    wh = os.path.join(run_dir, "wh")
    out = []
    cols = "trade_date, symbol, open, high, low, close, volume"
    d = _same(con, "exp_core", f"(SELECT {cols} FROM {_pq(wh + '/core_eod_prices')})", cols)
    out.append(("core_latest_ingest_wins", d == 0, f"{d} rows differ"))
    rcols = cols + ", reject_reason"
    d = _same(con, "exp_reject",
              f"(SELECT {rcols} FROM {_pq(wh + '/core_eod_prices_reject')})", rcols)
    out.append(("reject_negative_volume", d == 0, f"{d} rows differ"))
    fact = f"""(SELECT f.trade_date, s.symbol, f.open, f.high, f.low, f.close, f.volume
        FROM {_pq(wh + '/fact_daily_price')} f JOIN {_pq(wh + '/dim_security')} s
        USING (security_id)
        WHERE f.date_sk = year(f.trade_date) * 10000 + month(f.trade_date) * 100
                          + day(f.trade_date))"""
    d = _same(con, "exp_core", fact, cols)
    out.append(("fact_join_dim_security", d == 0, f"{d} rows differ"))
    # ids dense, gap-free, in (first date, symbol) order
    d = con.execute(f"""SELECT count(*) FROM (
        SELECT symbol, row_number() OVER (ORDER BY first_date, symbol) AS want FROM (
          SELECT symbol, min(trade_date) AS first_date FROM exp_core GROUP BY symbol)) e
        FULL JOIN {_pq(wh + '/dim_security')} s USING (symbol)
        WHERE e.want IS DISTINCT FROM s.security_id""").fetchone()[0]
    out.append(("dim_security_dense_ids", d == 0, f"{d} ids differ"))
    return out


def check_audit(con, run_dir):
    rows = _tsv(os.path.join(run_dir, "out", "audit.tsv"))
    con.execute("""CREATE OR REPLACE TABLE got_audit (d DATE, raw BIGINT, rej BIGINT,
        ins BIGINT, upd BIGINT, skipped BIGINT, core BIGINT, fact BIGINT)""")
    con.executemany("INSERT INTO got_audit VALUES (?, ?, ?, ?, ?, ?, ?, ?)", rows)
    d = con.execute("""WITH per AS (
          SELECT file_date AS d, seq,
            count(*) FILTER (WHERE trade_date = file_date AND symbol IS NOT NULL) AS raw,
            count(*) FILTER (WHERE trade_date = file_date AND symbol IS NOT NULL
                             AND volume < 0) AS rej,
            count(DISTINCT (upper(trim(symbol)), trade_date)) FILTER (
              WHERE trade_date = file_date AND symbol IS NOT NULL AND volume >= 0) AS keys,
            count(*) FILTER (WHERE trade_date IS NULL OR symbol IS NULL) AS skipped
          FROM bronze GROUP BY file_date, seq),
        want AS (SELECT p.d, p.raw, p.rej, p.keys AS ins, 0 AS upd, p.skipped,
            (SELECT count(*) FROM exp_core c WHERE c.trade_date = p.d) AS core,
            (SELECT count(*) FROM exp_core c WHERE c.trade_date = p.d) AS fact FROM per p)
        SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM got_audit)
          UNION ALL (SELECT * FROM got_audit EXCEPT ALL SELECT * FROM want))""").fetchone()[0]
    return [("audit_counts_per_date", d == 0, f"{d} rows differ")]


def check_rerun(con, run_dir):
    before = os.path.join(run_dir, "wh_before_rerun")
    after = os.path.join(run_dir, "wh_after_rerun")
    bad = []
    for t in TABLES:
        cols = "* EXCLUDE (load_ts)" if t in ("core_eod_prices", "fact_daily_price") else "*"
        if _same(con, f"(SELECT {cols} FROM {_pq(before + '/' + t)})",
                 f"(SELECT {cols} FROM {_pq(after + '/' + t)})"):
            bad.append(t)
    return [("rerun_date_changes_nothing", not bad, f"changed: {bad}")]


def check_restated(con, run_dir):
    wh = os.path.join(run_dir, "wh")
    n_restated, d = con.execute(f"""WITH v2 AS (
          SELECT trade_date, sym AS symbol, open, high, low, close, volume FROM (
            SELECT *, row_number() OVER (PARTITION BY sym, trade_date
              ORDER BY {VALUE_ORDER}) AS rn
            FROM loaded WHERE volume >= 0 AND file LIKE '%_v2.csv') WHERE rn = 1),
        core AS (SELECT trade_date, symbol, open, high, low, close, volume
                 FROM {_pq(wh + '/core_eod_prices')})
        SELECT (SELECT count(DISTINCT trade_date) FROM v2),
               (SELECT count(*) FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM core))
        """).fetchone()
    ok = d == 0 and n_restated > 0
    return [("restated_dates_hold_correction", ok,
             f"{n_restated} restated dates, {d} rows differ")]


def check_dashboard(con, run_dir):
    res = json.load(open(os.path.join(run_dir, "out", "result.json")))
    wh, out = os.path.join(run_dir, "wh"), os.path.join(run_dir, "out")
    con.execute(f"""CREATE OR REPLACE TABLE exp_serve AS
        SELECT security_id, trade_date,
               CAST(close AS DOUBLE) / CAST(lag(close) OVER w AS DOUBLE) - 1 AS ret,
               CAST(close * volume AS DECIMAL(38,6)) AS traded_value
        FROM {_pq(wh + '/fact_daily_price')}
        WHERE trade_date >= DATE '{res['serve_from']}'
        WINDOW w AS (PARTITION BY security_id ORDER BY trade_date)""")
    n_ret, bad_ret = con.execute(f"""SELECT count(*), count(*) FILTER (WHERE
          (e.ret IS NULL) <> (g.ret IS NULL) OR abs(e.ret - CAST(g.ret AS DOUBLE)) > 1e-9
          OR e.security_id IS NULL OR g.security_id IS NULL)
        FROM exp_serve e FULL JOIN {_pq(out + '/serve_returns')} g
        USING (security_id, trade_date)""").fetchone()
    n_tv, bad_tv = con.execute(f"""SELECT count(*), count(*) FILTER (WHERE
          e.traded_value IS DISTINCT FROM CAST(g.traded_value AS DECIMAL(38,6)))
        FROM exp_serve e FULL JOIN {_pq(out + '/serve_traded_value')} g
        USING (security_id, trade_date)""").fetchone()
    return [("dashboard_daily_return", bad_ret == 0 and n_ret > 0,
             f"{bad_ret} of {n_ret} differ"),
            ("dashboard_traded_value", bad_tv == 0 and n_tv > 0,
             f"{bad_tv} of {n_tv} differ")]


# ------------------------------------------------------------------- store

def check_store(con, run_dir):
    loop = os.path.join(run_dir, "loop")
    summary = json.load(open(os.path.join(run_dir, "inputs.json")))
    applied = _tsv(os.path.join(run_dir, "out", "ingested.tsv"))
    files = ", ".join(f"'{f}'" for _, f in applied)
    ids = ", ".join(b for b, _ in applied)
    con.execute(f"CREATE OR REPLACE VIEW shard_docs AS SELECT * FROM read_parquet([{files}])")
    con.execute(f"""CREATE OR REPLACE VIEW verdicts AS
        SELECT * FROM {_pq(loop + '/verdicts')} WHERE batch_id IN ({ids})""")
    out = []
    recrawl = [(int(k), v) for k, v in summary["recrawl"].items()]
    con.execute("CREATE OR REPLACE TABLE recrawl (doc_id BIGINT, origin BIGINT)")
    con.executemany("INSERT INTO recrawl VALUES (?, ?)", recrawl)
    n, bad = con.execute("""SELECT count(*), count(*) FILTER (WHERE v.dropped_at IS DISTINCT
          FROM 'exact' OR v.dup_of IS DISTINCT FROM r.origin)
        FROM recrawl r JOIN shard_docs s USING (doc_id) LEFT JOIN verdicts v USING (doc_id)
        """).fetchone()
    out.append(("recrawl_drops_at_exact", bad == 0 and n > 0, f"{bad} of {n} re-crawls"))
    dup = con.execute("""SELECT count(*) FROM (SELECT s.text FROM verdicts v
        JOIN shard_docs s USING (doc_id) WHERE v.kept GROUP BY s.text HAVING count(*) > 1)
        """).fetchone()[0]
    out.append(("kept_texts_distinct", dup == 0, f"{dup} texts kept twice"))
    bad = con.execute(f"""WITH want AS (
          SELECT CAST(batch_id AS BIGINT) AS b, count(*) AS n_docs,
            count(*) FILTER (WHERE dropped_at IS NULL OR dropped_at NOT IN ('exact')) AS e,
            count(*) FILTER (WHERE dropped_at IS NULL OR dropped_at NOT IN ('exact', 'neardup')) AS nd,
            count(*) FILTER (WHERE dropped_at IS NULL OR dropped_at NOT IN
              ('exact', 'neardup', 'vector')) AS v,
            count(*) FILTER (WHERE dropped_at IS NULL OR dropped_at NOT IN
              ('exact', 'neardup', 'vector', 'decontam')) AS dc,
            count(*) FILTER (WHERE kept) AS k
          FROM verdicts GROUP BY batch_id),
        got AS (SELECT CAST(batch_id AS BIGINT) AS b, n_docs, n_after_exact AS e,
            n_after_neardup AS nd, n_after_vector AS v, n_after_decontam AS dc, n_kept AS k
          FROM {_pq(loop + '/funnel')} WHERE batch_id IN ({ids}))
        SELECT (SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM got)
                 UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want)))
             + (SELECT count(*) FROM got WHERE NOT (n_docs >= e AND e >= nd AND nd >= v
                 AND v >= dc AND dc >= k))
             + (SELECT count(*) FROM want w WHERE w.n_docs <> (SELECT count(*)
                 FROM shard_docs s JOIN verdicts v USING (doc_id) WHERE v.batch_id = w.b))
        """).fetchone()[0]
    out.append(("funnel_matches_verdicts", bad == 0, f"{bad} batches differ"))
    res = json.load(open(os.path.join(run_dir, "out", "result.json")))
    snap = os.path.join(run_dir, "stores_before_reingest")
    changed = []
    tables = []  # (name, path now, path in the snapshot)
    for t in res["store_tables"].split(","):
        if t == "loop":  # the loop's outputs: one table a subdirectory
            tables += [(f"loop/{d}", os.path.join(loop, d), os.path.join(snap, t, d))
                       for d in sorted(os.listdir(loop))]
        else:
            tables.append((t, os.path.join(run_dir, "catalog", t), os.path.join(snap, t)))
    for t, now, was in tables:
        if not os.path.exists(now) and not os.path.exists(was):
            continue
        pq_now = glob.glob(now + "/**/*.parquet", recursive=True)
        pq_was = glob.glob(was + "/**/*.parquet", recursive=True)
        if pq_now or pq_was:
            if not pq_now or not pq_was or _same(con, _pq(was), _pq(now)):
                changed.append(t)
        elif sorted(os.listdir(now)) != sorted(os.listdir(was)):
            changed.append(t)
    out.append(("reingest_applied_batch_changes_no_store", not changed, f"changed: {changed}"))
    return out


def run_checks(workload, run_dir):
    con = duckdb.connect()
    try:
        if workload == "store_ingest":
            return check_store(con, run_dir)
        _load_bronze(con, run_dir)
        out = check_warehouse(con, run_dir) + check_dashboard(con, run_dir)
        if workload == "eod_daily":
            out += check_audit(con, run_dir) + check_rerun(con, run_dir)
        else:
            out += check_restated(con, run_dir)
        return out
    finally:
        con.close()


# ------------------------------------------------------------------- self-test

def _corrupt(path, sql):
    """Rewrite the first parquet file under `path` in which `sql` (an UPDATE
    of one row of table t) changes a row."""
    con = duckdb.connect()
    for f in sorted(glob.glob(path + "/**/*.parquet", recursive=True)):
        con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM read_parquet('{f}')")
        if con.execute(sql.replace("{first}", "rowid = (SELECT min(rowid) FROM t)")).fetchone()[0]:
            con.execute(f"COPY t TO '{f}' (FORMAT PARQUET)")
            return
    raise RuntimeError(f"no row to corrupt under {path}")


def _corrupt_tsv(path):
    rows = _tsv(path)
    rows[0][1] = str(int(rows[0][1]) + 1)
    with open(path, "w") as fh:
        fh.write("".join("\t".join(r) + "\n" for r in rows))


EOD_CORRUPTIONS = {
    "core_latest_ingest_wins": ("wh/core_eod_prices", "UPDATE t SET close = close + 1 WHERE {first}"),
    "reject_negative_volume": ("wh/core_eod_prices_reject", "UPDATE t SET volume = volume - 1 WHERE {first}"),
    "fact_join_dim_security": ("wh/fact_daily_price", "UPDATE t SET open = open + 1 WHERE {first}"),
    "dim_security_dense_ids": ("wh/dim_security", "UPDATE t SET security_id = security_id + 100000 WHERE {first}"),
    "dashboard_daily_return": ("out/serve_returns", "UPDATE t SET ret = ret + 0.001 WHERE "
                               "rowid = (SELECT min(rowid) FROM t WHERE ret IS NOT NULL)"),
    "dashboard_traded_value": ("out/serve_traded_value", "UPDATE t SET traded_value = traded_value + 1 WHERE {first}"),
    "audit_counts_per_date": ("out/audit.tsv", None),
    "rerun_date_changes_nothing": ("wh_before_rerun/dim_date", "UPDATE t SET day_name = 'Xyz' WHERE {first}"),
    "restated_dates_hold_correction": ("wh/core_eod_prices", "UPDATE t SET close = close + 1 WHERE "
                                       "rowid = (SELECT min(rowid) FROM t)"),
}
STORE_CORRUPTIONS = {
    "recrawl_drops_at_exact": ("loop/verdicts", "UPDATE t SET dup_of = dup_of + 1 WHERE dropped_at = 'exact' "
                               "AND rowid = (SELECT min(rowid) FROM t WHERE dropped_at = 'exact')"),
    "kept_texts_distinct": ("loop/verdicts", "UPDATE t SET doc_id = (SELECT min(doc_id) FROM t WHERE kept) "
                            "WHERE rowid = (SELECT max(rowid) FROM t WHERE kept)"),
    "funnel_matches_verdicts": ("loop/funnel", "UPDATE t SET n_after_vector = n_after_vector + 1 WHERE {first}"),
    "reingest_applied_batch_changes_no_store": ("stores_before_reingest/main_fp",
                                                "UPDATE t SET canonical_id = canonical_id + 1 WHERE {first}"),
}


def selftest(run_dir):
    workload = os.path.basename(run_dir.rstrip("/")).rsplit("-", 2)[0]
    table = STORE_CORRUPTIONS if workload == "store_ingest" else EOD_CORRUPTIONS
    names = [n for n, _, _ in run_checks(workload, run_dir)]
    base = {n: ok for n, ok, _ in run_checks(workload, run_dir)}
    assert all(base.values()), f"the uncorrupted run must pass: {base}"
    shown = 0
    for name in names:
        rel, sql = table[name]
        copy = run_dir.rstrip("/") + "-corrupt"
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(run_dir, copy)
        target = os.path.join(copy, rel)
        # paths inside the run's own files still point at the original copy;
        # only outputs are corrupted, and inputs are shared read-only
        if sql is None:
            _corrupt_tsv(target)
        else:
            _corrupt(target, sql)
        got = {n: ok for n, ok, _ in run_checks(workload, copy)}
        shutil.rmtree(copy, ignore_errors=True)
        print(f"selftest {name}: {'fails on corrupted copy' if not got[name] else 'DID NOT FAIL'}")
        shown += not got[name]
    print(f"selftest: {shown} of {len(names)} checks fail on a corrupted copy")
    return shown == len(names)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--selftest":
        sys.exit(0 if selftest(sys.argv[2]) else 1)
    print(__doc__)
    sys.exit(2)
