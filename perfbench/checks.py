"""Output checks, computed apart from the program with DuckDB.

Every check is one operation: attempted once per round, failed when it
does not hold. Each workload runs the same fixed list of checks every
round, so the failed share never depends on the seed or the run length.
"""
import datetime
import decimal
import glob
import json
import os
import re

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# ROADMAP "Open defects": TextOps.filterDecisionOn derives
# n_tokens from size(split(trim(NULL))), which is NULL, so no rule fires
# and the curate intake accepts a null-text document. These checks fail
# until that is fixed; they are counted in `failed`, not in `correct`.
KNOWN_FAULTS = {"intake.fault_doc_900001_too_short", "intake.fault_doc_900002_too_short"}
FAULT_DOC_IDS = [900001, 900002, 900003, 900004, 900005, 900006]
RECALL_FLOOR = 0.90
HLL_RSD = 0.02


def _con(sf):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _canon(rel):
    rows = [tuple(_norm(x) for x in r) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return rows


_CTE = re.compile(r"(^|WITH\s+|,\s*)(\w+)\s+AS\s+\(", re.MULTILINE)


def materialized(sql):
    """The oracle SQL with every CTE materialised. Same result; DuckDB
    otherwise may re-expand a CTE at each of its references."""
    if not sql.lstrip().upper().startswith("WITH"):
        return sql
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def oracle_equal(con, sql, result_dir):
    """Result parquet == oracle SQL in DuckDB, the repo's oracle-gate
    rule: same column names, same row multiset, cells equal exactly."""
    if not glob.glob(f"{result_dir}/*.parquet"):
        return False, "no result parquet"
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM '{result_dir}/*.parquet'")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {materialized(sql)}")
    cols = sorted(c[0] for c in con.execute("SELECT * FROM got LIMIT 0").description)
    exp_cols = sorted(c[0] for c in con.execute("SELECT * FROM exp LIMIT 0").description)
    if cols != exp_cols:
        return False, f"columns {cols} != {exp_cols}"
    n_got, n_exp = _scalar(con, "SELECT count(*) FROM got"), _scalar(con, "SELECT count(*) FROM exp")
    if n_got != n_exp:
        return False, f"rowcount {n_got} != {n_exp}"
    sel = ", ".join(f'"{c}"' for c in cols)
    try:
        diff = _scalar(con, f"""SELECT count(*) FROM (
            (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM exp) UNION ALL
            (SELECT {sel} FROM exp EXCEPT ALL SELECT {sel} FROM got))""")
    except duckdb.Error:
        # column types with no common supertype: compare normalised rows
        got = _canon(con.sql(f"SELECT {sel} FROM got"))
        exp = _canon(con.sql(f"SELECT {sel} FROM exp"))
        diff = sum(1 for g, e in zip(got, exp) if g != e)
    if diff:
        return False, f"{diff} rows differ"
    return True, f"{n_got} rows"


def _scalar(con, sql):
    return con.sql(sql).fetchone()[0]


def check_stream(inp, root):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"""CREATE VIEW cdc AS SELECT * FROM read_json('{inp}/cdc/*.json',
        format='newline_delimited', columns={{'type': 'VARCHAR', 'table': 'VARCHAR',
        'data': 'JSON'}})""")
    con.execute("""CREATE VIEW detail AS SELECT
        CAST(data->>'id' AS BIGINT) AS id, CAST(data->>'order_id' AS BIGINT) AS order_id,
        CAST(data->>'sku_id' AS BIGINT) AS sku_id, CAST(data->>'sku_num' AS BIGINT) AS sku_num,
        CAST(data->>'order_price' AS DOUBLE) AS price
        FROM cdc WHERE "table" = 'order_detail' AND type = 'insert'""")
    con.execute("""CREATE VIEW header AS SELECT CAST(data->>'id' AS BIGINT) AS id,
        CAST(round(CAST(data->>'final_total_amount' AS DOUBLE) * 100) AS BIGINT) AS final_c,
        CAST(round(CAST(data->>'original_total_amount' AS DOUBLE) * 100) AS BIGINT) AS original_c
        FROM cdc WHERE "table" = 'order_info' AND type = 'insert'""")
    con.execute(f"CREATE VIEW part AS SELECT * FROM '{inp}/sku/part.parquet'")
    con.execute(f"""CREATE VIEW logs AS SELECT * FROM read_json('{inp}/startlog/*.json',
        format='newline_delimited', columns={{'common': 'STRUCT(mid VARCHAR)', 'ts': 'BIGINT'}})""")
    # each detail's exact proportional share final * detail / original, in
    # cents; the order's detail count k
    con.execute("""CREATE TEMP TABLE prop AS SELECT d.id, d.order_id, d.sku_id, h.final_c,
        h.final_c != h.original_c AS discounted, count(*) OVER (PARTITION BY d.order_id) AS k,
        CAST(h.final_c AS DOUBLE) * CAST(round(d.price * d.sku_num * 100) AS BIGINT) / h.original_c AS p
        FROM detail d JOIN header h ON d.order_id = h.id""")
    con.execute(f"""CREATE TEMP TABLE shares AS SELECT order_detail_id AS id, order_id,
        CAST(round(final_detail_amount * 100) AS BIGINT) AS share_c FROM '{root}/wide/*.parquet'""")
    checks = []
    # per-trademark cents == the detail x part sum of the proportional
    # shares. An order's shares differ from their proportional values by
    # under a cent each, except the remainder detail's (under k - 1
    # cents); without a discount every share is the detail itself
    diff = _scalar(con, f"""WITH exp AS (
          SELECT p_brand AS tm_name, SUM(p) AS c,
                 SUM(CASE WHEN discounted THEN greatest(1, k - 1) ELSE 0 END) AS tol
          FROM prop JOIN part ON sku_id = p_partkey GROUP BY 1),
        got AS (SELECT tm_name, SUM(amount_c) AS c FROM '{root}/agg/*/*.parquet' GROUP BY 1)
        SELECT count(*) FROM exp FULL OUTER JOIN got USING (tm_name)
        WHERE got.c IS NULL OR exp.c IS NULL OR abs(got.c - exp.c) > exp.tol + 0.5""")
    checks.append(("chain.trademark_cents", diff == 0, f"{diff} trademarks differ"))
    # every order's apportioned shares sum to its final total exactly, in
    # cents, and every generated detail was apportioned exactly once
    bad = _scalar(con, """WITH got AS (SELECT order_id, count(*) AS n, count(DISTINCT id) AS nd,
          SUM(share_c) AS share_c FROM shares GROUP BY 1),
        exp AS (SELECT order_id, any_value(final_c) AS final_c, count(*) AS n FROM prop GROUP BY 1)
        SELECT count(*) FROM exp FULL OUTER JOIN got USING (order_id)
        WHERE got.share_c IS DISTINCT FROM exp.final_c OR got.n IS DISTINCT FROM exp.n
           OR got.nd IS DISTINCT FROM got.n""")
    checks.append(("chain.apportion_sums", bad == 0, f"{bad} orders off"))
    # proportional split: in every order at most one detail (the one that
    # absorbs the remainder) is a cent or more off its proportional share
    bad = _scalar(con, """SELECT count(*) FROM (SELECT prop.order_id,
          count(*) FILTER (WHERE s.share_c IS NULL OR abs(s.share_c - prop.p) >= 1) AS off
          FROM prop LEFT JOIN shares s USING (id) GROUP BY 1) WHERE off > 1""")
    checks.append(("chain.apportion_shares", bad == 0, f"{bad} orders off their proportional split"))
    # the router keeps exactly the fact inserts
    routed = dict(con.sql(f"""SELECT topic, count(*) FROM read_parquet('{root}/routed/*/*.parquet',
        hive_partitioning = true) GROUP BY 1""").fetchall())
    exp_routed = {"ods_order_info": _scalar(con, "SELECT count(*) FROM header"),
                  "ods_order_detail": _scalar(con, "SELECT count(*) FROM detail")}
    checks.append(("chain.router_topics", routed == exp_routed, f"{routed} vs {exp_routed}"))
    # DAU: (dt, mid) set == DuckDB's distinct set, each pair exactly once
    con.execute(f"""CREATE VIEW dau AS SELECT CAST(dt AS VARCHAR) AS dt, mid
        FROM read_parquet('{root}/dau/*/*.parquet', hive_partitioning = true)""")
    con.execute("""CREATE VIEW exp_dau AS SELECT DISTINCT
        strftime(make_timestamp(ts * 1000), '%Y-%m-%d') AS dt, common.mid AS mid FROM logs""")
    n_out, n_distinct = con.sql("SELECT count(*), count(DISTINCT (dt, mid)) FROM dau").fetchone()
    checks.append(("dau.exactly_once", n_out == n_distinct, f"{n_out} rows, {n_distinct} pairs"))
    sym = _scalar(con, """SELECT count(*) FROM (
        (SELECT * FROM exp_dau EXCEPT SELECT * FROM dau) UNION ALL
        (SELECT * FROM dau EXCEPT SELECT * FROM exp_dau))""")
    checks.append(("dau.pair_set", sym == 0, f"{sym} pairs differ"))
    return checks, {}


def check_batch(inp, root, oracle, queries):
    con = _con(f"{inp}/sf")
    checks = []
    for q in queries:
        if q in oracle:
            ok, detail = oracle_equal(con, oracle[q], f"{root}/{q}")
        elif q == "q16_dau_approx":
            # rows-only query: each day's HLL estimate within 3 sigma of
            # the exact distinct count
            bad = _scalar(con, f"""WITH exp AS (SELECT CAST(ts AS DATE) AS dt,
                  count(DISTINCT user_id) AS n FROM events GROUP BY 1)
                SELECT count(*) FROM exp FULL OUTER JOIN '{root}/{q}/*.parquet' got USING (dt)
                WHERE got.dau_approx IS NULL OR exp.n IS NULL
                   OR abs(got.dau_approx - exp.n) > {3 * HLL_RSD} * exp.n""")
            ok, detail = bad == 0, f"{bad} days outside the HLL bound"
        else:
            ok, detail = False, "no independent check for this query"
        checks.append((f"batch.{q}", ok, detail))
    return checks


def check_corpus(inp, root, oracle):
    con = _con(f"{inp}/sf")
    checks = []
    for q in ("q34_curate_llm", "q35_curate_full"):
        ok, detail = oracle_equal(con, oracle[q], f"{root}/{q}")
        checks.append((f"curate.{q}", ok, detail))
    con.execute(f"CREATE VIEW intake AS SELECT * FROM '{inp}/intake/*.parquet'")
    con.execute(f"""CREATE VIEW decisions AS SELECT * FROM read_parquet(
        '{root}/decisions/*/*.parquet', hive_partitioning = true)""")
    n_in = _scalar(con, "SELECT count(*) FROM intake")
    bad = _scalar(con, """SELECT count(*) FROM (SELECT doc_id, count(*) AS n FROM decisions GROUP BY 1)
        FULL OUTER JOIN (SELECT doc_id FROM intake) USING (doc_id) WHERE n IS DISTINCT FROM 1""")
    checks.append(("intake.one_decision_per_doc", bad == 0, f"{bad} docs without exactly one"))
    acc, dropped = con.sql("""SELECT count(*) FILTER (WHERE accepted AND drop_reason IS NULL),
        count(*) FILTER (WHERE NOT accepted AND drop_reason IS NOT NULL) FROM decisions""").fetchone()
    checks.append(("intake.rows_conserved", n_in == acc + dropped,
                   f"rows_in {n_in} vs accepted {acc} + dropped {dropped}"))
    faults = ",".join(map(str, FAULT_DOC_IDS))
    bad = _scalar(con, f"""SELECT count(*) FROM intake i JOIN decisions d USING (doc_id)
        WHERE i.doc_id NOT IN ({faults}) AND
              (d.drop_reason IS NOT DISTINCT FROM 'too_short') !=
              (len(string_split_regex(trim(i.text), '\\s+')) < 15)""")
    checks.append(("intake.too_short_agrees", bad == 0, f"{bad} docs disagree"))
    for fid in FAULT_DOC_IDS:
        reason = con.sql(f"SELECT any_value(drop_reason) FROM decisions WHERE doc_id = {fid}").fetchone()[0]
        checks.append((f"intake.fault_doc_{fid}_too_short", reason == "too_short", f"drop_reason={reason}"))
    # ANN serve
    con.execute(f"CREATE VIEW annq AS SELECT * FROM '{inp}/annq/*.parquet'")
    con.execute(f"""CREATE VIEW answers AS SELECT * FROM read_parquet(
        '{root}/ann_answers/*/*.parquet', hive_partitioning = true)""")
    bad = _scalar(con, """SELECT count(*) FROM (SELECT query_id, count(*) AS n FROM answers GROUP BY 1)
        FULL OUTER JOIN (SELECT query_id FROM annq) USING (query_id) WHERE n IS DISTINCT FROM 5""")
    checks.append(("ann.k_answers", bad == 0, f"{bad} queries without exactly 5 answers"))
    con.execute("""CREATE TABLE exact AS SELECT q.query_id, e.vec_id,
        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        FROM annq q, embeddings e""")
    bad = _scalar(con, """SELECT count(*) FROM answers a LEFT JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.vec_id
        WHERE x.cos IS NULL OR abs(a.cos - x.cos) > 1e-6""")
    checks.append(("ann.scores_exact", bad == 0, f"{bad} answers off the exact cosine"))
    recall = _scalar(con, """WITH top AS (SELECT query_id, vec_id FROM (SELECT *,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk FROM exact)
          WHERE rk <= 5)
        SELECT count(a.query_id) / count(*) FROM top t LEFT JOIN answers a
          ON a.query_id = t.query_id AND a.neighbor_id = t.vec_id""")
    checks.append(("ann.recall_floor", recall >= RECALL_FLOOR, f"recall@5 {recall:.4f}"))
    return checks, {"ann.recall_at_5": recall}


def run(workload, inp, out, result):
    """All checks of every round: (checks, per-layer extras)."""
    oracle = {}
    if os.path.exists(f"{out}/oracle_sql.json"):
        oracle = json.load(open(f"{out}/oracle_sql.json"))
    checks, extras = [], {}
    for r in range(result["rounds"]):
        root = result["manifest"][f"round-{r}"]
        if workload == "gmall_stream":
            c, e = check_stream(inp, root)
            c += check_batch(inp, root, oracle, result["manifest"]["queries"].split(","))
        else:
            c, e = check_corpus(inp, root, oracle)
        checks += c
        for k, v in e.items():
            extras.setdefault(k, []).append(v)
    return checks, extras
