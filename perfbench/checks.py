"""Correctness checks that run after the timed region, in DuckDB over
the generated inputs, independent of the engine code they check."""
import glob
import os

import duckdb

# ttlSeconds of the examplegen_bulk registry views (PerfBench.scala).
TTL = {"order_value": 7776000, "order_status": 31536000, "user_activity": 2592000}


def _con(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def examplegen_bulk(raw, data_dir, work_dir, inputs):
    """Split counts sum to the spine, and the decoded records equal a
    DuckDB ASOF point-in-time join over the generated tables."""
    out = {}
    last = raw["units"][-1]
    spine = inputs["orders"]
    out["splits_sum_to_spine"] = (sum(last["splits"].values()) == spine,
                                  f"{last['splits']} vs spine {spine}")
    con = _con(data_dir, ["customer", "orders", "events"])
    con.execute(f"CREATE VIEW decoded AS SELECT * FROM "
                f"read_parquet('{work_dir}/check/decoded.parquet/*.parquet')")
    n_dec = con.sql("SELECT count(*) FROM decoded").fetchone()[0]
    out["decoded_count"] = (n_dec == spine, f"{n_dec} decoded vs spine {spine}")
    # ASOF picks each key's latest row at or before the spine time; a
    # row older than the view's TTL means no admissible row at all.
    oracle = f"""
      WITH s AS (SELECT o_orderkey, o_custkey, o_orderdate AS ets FROM orders),
      ov AS (SELECT s.o_orderkey, CASE WHEN o.o_orderdate >= s.ets - to_seconds({TTL['order_value']})
                                       THEN o.o_totalprice END AS o_totalprice
             FROM s ASOF LEFT JOIN orders o
               ON o.o_custkey = s.o_custkey AND o.o_orderdate <= s.ets),
      os AS (SELECT s.o_orderkey,
                    CASE WHEN o.o_orderdate >= s.ets - to_seconds({TTL['order_status']})
                         THEN o.o_orderstatus END AS o_orderstatus,
                    CASE WHEN o.o_orderdate >= s.ets - to_seconds({TTL['order_status']})
                         THEN o.o_orderpriority END AS o_orderpriority
             FROM s ASOF LEFT JOIN orders o
               ON o.o_custkey = s.o_custkey AND o.o_orderdate <= s.ets),
      ua AS (SELECT s.o_orderkey,
                    CASE WHEN e.ts >= s.ets - to_seconds({TTL['user_activity']}) THEN e.value END AS value,
                    CASE WHEN e.ts >= s.ets - to_seconds({TTL['user_activity']}) THEN e.event_type END AS event_type
             FROM s ASOF LEFT JOIN events e
               ON e.user_id = s.o_custkey AND e.ts <= s.ets)
      SELECT s.o_orderkey, s.o_custkey, s.o_custkey AS c_custkey, s.o_custkey AS user_id,
             CAST(c.c_acctbal AS FLOAT) AS c_acctbal, CAST(ov.o_totalprice AS FLOAT) AS o_totalprice,
             CAST(ua.value AS FLOAT) AS value,
             strftime(s.ets, '%Y-%m-%dT%H:%M:%S.%fZ') AS event_timestamp,
             c.c_mktsegment, os.o_orderstatus, os.o_orderpriority, ua.event_type
      FROM s LEFT JOIN customer c ON c.c_custkey = s.o_custkey
      JOIN ov USING (o_orderkey) JOIN os USING (o_orderkey) JOIN ua USING (o_orderkey)"""
    cols = ("o_orderkey, o_custkey, c_custkey, user_id, c_acctbal, o_totalprice, value, "
            "event_timestamp, c_mktsegment, o_orderstatus, o_orderpriority, event_type")
    diff = con.sql(f"""
      WITH e AS ({oracle}), d AS (SELECT {cols} FROM decoded)
      SELECT (SELECT count(*) FROM (SELECT {cols} FROM d EXCEPT ALL SELECT {cols} FROM e)),
             (SELECT count(*) FROM (SELECT {cols} FROM e EXCEPT ALL SELECT {cols} FROM d))""").fetchone()
    out["asof_oracle"] = (diff == (0, 0),
                          f"{diff[0]} decoded-only, {diff[1]} oracle-only records")
    return out


def _canon(df):
    """check_oracles.py's canonical form: columns by name, floats at 6
    dp, -0.0 folded, rows stringified and sorted."""
    df = df[sorted(df.columns)]
    rows = []
    for r in df.itertuples(index=False):
        vals = []
        for v in r:
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        rows.append("\x01".join(vals))
    return sorted(rows)


def operator_mix(raw, data_dir, work_dir, inputs):
    """Each declared query's result equals its oracle SQL in DuckDB (the
    transform chain has no oracle; PerfBench.scala checks it)."""
    con = _con(data_dir, ["documents", "embeddings", "events"])
    out, oracle = {}, {}
    for q in sorted(raw["units"][0]["queries"]):
        if q == "corpus_chain":
            continue
        sql = raw["oracle_sql"].get(q)
        files = glob.glob(os.path.join(work_dir, "check", q, "*.parquet"))
        if sql is None or not files:
            out[q] = (False, "no oracle" if sql is None else "no result")
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{work_dir}/check/{q}/*.parquet')").df()
            if sql not in oracle:  # queries may share one oracle
                oracle[sql] = con.sql(sql).df()
            exp = oracle[sql]
        except duckdb.Error as e:
            out[q] = (False, f"duckdb: {e}")
            continue
        got.columns = [c.lower() for c in got.columns]
        exp.columns = [c.lower() for c in exp.columns]
        ok = sorted(got.columns) == sorted(exp.columns) and _canon(got) == _canon(exp)
        out[q] = (ok, f"{len(got)} rows vs {len(exp)} oracle rows")
    return out


CHECKS = {
    "examplegen_bulk": examplegen_bulk,
    "operator_mix": operator_mix,
}
