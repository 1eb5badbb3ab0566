"""Output checks for the benchmark, computed independently in DuckDB.

lakehouse_ingest: a set-algebra fold of the generated day batches (the
seed table, each day's upserts with latest-wins by `seq`, each day's
cancelled keys) gives the expected silver after every day. Final silver,
the stream mirror, every day's gold KPIs, every day's analyst report,
every day's change feed and the last DQ audit must match it.

corpus_curation: on the same generated input, every pass's curated set
must equal the q130 oracle registered with the library, its
near-duplicate pairs the library's DuckDB replay of MinHash-LSH, its PQ
top-k the q149 oracle pointed at the seeded queries, and its BM25 top-k
an independent BM25 in SQL. Its BPE encoding must keep per-document
invariants: one row per document, the document's token count, at least
one and at most one subword per character of each token, the exact
chars-per-subword ratio, and a planted copy that encodes to its
original plus the encoding of the prepended word.
"""
import math
import os

import duckdb

COLS = ["l_id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"]
SEL = ", ".join(COLS)

KPI = """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
  count(*) AS n_rows,
  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty_rows,
  round(avg(l_discount), 4) AS avg_disc,
  round(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) * 100.0 / count(*), 2)
    AS big_qty_rate
FROM {t} GROUP BY 1, 2"""

REPORT = """SELECT r.r_name AS region, c.c_mktsegment AS segment,
  count(*) AS n_items,
  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
  CAST(sum(CASE WHEN p.l_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM s_now l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN s_prev p ON p.l_id = l.l_id
GROUP BY 1, 2"""

DQ = {1: "l_returnflag IS NULL OR trim(l_returnflag) = '' OR "
         "l_linestatus IS NULL OR trim(l_linestatus) = '' OR l_shipdate IS NULL",
      2: "l_discount > 0.1 OR l_quantity <= 0",
      3: "l_extendedprice <= 0"}


def _key(row):
    return tuple((0, "") if v is None else
                 (1, repr(v)) if not isinstance(v, float) else (1, "%.6e" % v)
                 for v in row)


def same_rows(got, exp, exact=False):
    """Equal multisets of rows; floats equal to 1e-9 relative unless
    `exact`."""
    if len(got) != len(exp):
        return False, f"{len(got)} rows vs {len(exp)} expected"
    g = sorted((tuple(r) for r in got), key=_key)
    e = sorted((tuple(r) for r in exp), key=_key)
    for a, b in zip(g, e):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float) and not exact:
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False, f"row {a} vs {b}"
            elif x != y:
                return False, f"row {a} vs {b}"
    return True, f"{len(g)} rows"


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet')" if os.path.isdir(path) \
        else f"read_parquet('{path}')"


def check_ingest(r, con):
    ws = r["workload_stats"]
    d = ws["dir"]
    days = [x["day"] for x in ws["days"]]
    timed_first = days[-1] - len(r["ops"]) + 1
    results, failed_days, global_ok = {}, set(), True
    con.execute(f"CREATE TABLE s AS SELECT {SEL} FROM {_pq(d + '/seed.parquet')}")
    for t in ("orders", "customer", "nation", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"{_pq(f'{d}/gen/{t}.parquet')}")
    gold = con.execute(f"SELECT * FROM {_pq(d + '/out/gold')}").fetchall()
    gold_cols = [c[0] for c in con.description]
    for day in days:
        f = f"day{day:05d}.parquet"
        con.execute(f"""CREATE OR REPLACE TABLE u AS SELECT {SEL} FROM (
            SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY seq DESC) AS rn
            FROM read_parquet('{d}/bronze/upserts/{f}')) WHERE rn = 1""")
        con.execute(f"CREATE OR REPLACE TABLE x AS SELECT l_id FROM "
                    f"read_parquet('{d}/bronze/cancels/{f}')")
        con.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM s")
        con.execute(f"""CREATE OR REPLACE TABLE s1 AS
            SELECT * FROM prev WHERE l_id NOT IN (SELECT l_id FROM u)
            UNION ALL SELECT * FROM u""")
        exp_cdf = con.execute(f"""
            SELECT 'update_preimage', l_id, l_quantity, l_extendedprice, l_discount
              FROM prev WHERE l_id IN (SELECT l_id FROM u)
            UNION ALL SELECT 'update_postimage', l_id, l_quantity, l_extendedprice,
              l_discount FROM u WHERE l_id IN (SELECT l_id FROM prev)
            UNION ALL SELECT 'insert', l_id, l_quantity, l_extendedprice, l_discount
              FROM u WHERE l_id NOT IN (SELECT l_id FROM prev)
            UNION ALL SELECT 'delete', l_id, l_quantity, l_extendedprice, l_discount
              FROM s1 WHERE l_id IN (SELECT l_id FROM x)""").fetchall()
        con.execute("CREATE OR REPLACE TABLE s AS SELECT * FROM s1 "
                    "WHERE l_id NOT IN (SELECT l_id FROM x)")
        got_cdf = con.execute(f"""SELECT _change_type, l_id, l_quantity,
            l_extendedprice, l_discount FROM {_pq(f'{d}/out/cdf/day={day}')}""").fetchall()
        ok_cdf, msg_cdf = same_rows(got_cdf, exp_cdf, exact=True)
        exp_gold = con.execute(KPI.format(t="s")).fetchall()
        got_gold = [tuple(row[gold_cols.index(c)] for c in gold_cols if c != "day")
                    for row in gold if row[gold_cols.index("day")] == day]
        ok_gold, msg_gold = same_rows(got_gold, exp_gold)
        con.execute("CREATE OR REPLACE VIEW s_now AS SELECT * FROM s")
        con.execute("CREATE OR REPLACE VIEW s_prev AS SELECT * FROM prev")
        exp_rep = con.execute(REPORT).fetchall()
        got_rep = con.execute(f"""SELECT region, segment, n_items, revenue, n_new
            FROM {_pq(f'{d}/out/report/day={day}')}""").fetchall()
        ok_rep, msg_rep = same_rows(got_rep, exp_rep)
        results[f"day{day}"] = {"cdf": msg_cdf, "gold": msg_gold,
                                "report": msg_rep,
                                "ok": ok_cdf and ok_gold and ok_rep}
        if not (ok_cdf and ok_gold and ok_rep):
            failed_days.add(day)
    got = con.execute(f"SELECT {SEL} FROM {_pq(d + '/out/silver')}").fetchall()
    ok, msg = same_rows(got, con.execute("SELECT * FROM s").fetchall(), exact=True)
    results["silver_final"] = msg
    global_ok &= ok
    # the mirror receives every upsert (first batch creates it), no deletes
    exp_m = con.execute(f"""SELECT {SEL} FROM (
        SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY seq DESC) AS rn
        FROM read_parquet('{d}/bronze/upserts/*.parquet')) WHERE rn = 1""").fetchall()
    got_m = con.execute(f"SELECT {SEL} FROM {_pq(d + '/out/mirror')}").fetchall()
    ok, msg = same_rows(got_m, exp_m, exact=True)
    results["mirror_final"] = msg
    global_ok &= ok
    exp_dq = {c: con.execute(f"SELECT count(*) FROM s WHERE {w}").fetchone()[0]
              for c, w in DQ.items()}
    got_dq = {x["config"]: x["n"] for x in ws["dq_last"]}
    results["dq_last"] = {"got": got_dq, "expected": exp_dq}
    global_ok &= got_dq == exp_dq
    failed_ops = [i for i in range(len(r["ops"]))
                  if not global_ok or timed_first + i in failed_days]
    return {"correct": global_ok and not failed_days, "checks": results,
            "failed_ops": failed_ops}


TOKS = ("list_filter(string_split_regex(lower(text), '[^a-z]+'), "
        "x -> x <> '')")


def bm25_sql(queries, k, k1=1.2, b=0.75):
    """Top-k BM25 per query over `documents`: the Lucene idf, term
    scores rounded to 6 digits, a query's score the sum of its terms'
    in query order, ties broken by doc_id."""
    terms = sorted({t for q in queries for t in q["terms"]})
    per_query = []
    for q in queries:
        chain = " + ".join(
            f"coalesce(max(CASE WHEN tok = '{t}' THEN score END), 0.0)"
            for t in q["terms"])
        in_list = ", ".join(f"'{t}'" for t in q["terms"])
        per_query.append(
            f"SELECT CAST({q['id']} AS BIGINT) AS query_id, doc_id, "
            f"round({chain}, 6) AS score FROM sc WHERE tok IN ({in_list}) "
            f"GROUP BY doc_id")
    return f"""WITH d AS (SELECT doc_id, toks, len(toks) AS dl FROM (
        SELECT doc_id, {TOKS} AS toks FROM documents)),
      s AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM d),
      tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
             WHERE tok IN ({", ".join(f"'{t}'" for t in terms)})
             GROUP BY 1, 2, 3),
      dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      sc AS (SELECT tf.doc_id, tf.tok,
               round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * {k1 + 1} /
                 (tf + {k1} * ({1 - b} + {b} * dl / avgdl)), 6) AS score
             FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN s),
      lex AS ({" UNION ALL ".join(per_query)})
    SELECT query_id, doc_id, score,
      CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank
    FROM lex QUALIFY rank <= {k}"""


def bpe_violations(con, path, max_gen_id):
    """Rows of the BPE encoding at `path` that break an invariant; the
    first few, and their number."""
    con.execute(f"""CREATE OR REPLACE TABLE enc AS
        SELECT e.*, d.doc_id AS d_id, d.toks FROM
        read_parquet('{path}/*.parquet') e
        FULL OUTER JOIN (SELECT doc_id, {TOKS} AS toks FROM documents) d
        ON e.doc_id = d.doc_id""")
    bad = con.execute("""SELECT d_id, doc_id, n_tok, n_sub FROM enc WHERE
        doc_id IS NULL OR d_id IS NULL OR n_tok <> len(toks)
        OR n_sub < n_tok OR n_sub > len(array_to_string(toks, ''))
        OR n_distinct_sub > n_sub OR n_distinct_sub < 1
        OR chars_per_sub <> round(CAST(len(array_to_string(toks, '')) AS DOUBLE)
             / CAST(greatest(n_sub, 1) AS DOUBLE), 6)""").fetchall()
    bad += con.execute(f"""SELECT c.doc_id, o.doc_id, c.n_sub, o.n_sub
        FROM enc c JOIN enc o ON c.doc_id = o.doc_id + {max_gen_id + 1}
        WHERE c.n_tok <> o.n_tok + 1 OR c.n_sub - o.n_sub < 1
          OR c.n_sub - o.n_sub > len(c.toks[1])""").fetchall()
    dup = con.execute("SELECT count(*) - count(DISTINCT doc_id) FROM enc"
                      ).fetchone()[0]
    return len(bad) + dup, bad[:3]


def check_corpus(r, con):
    ws = r["workload_stats"]
    d = ws["dir"]
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/in/{t}.parquet/*.parquet')")
    expected = {}
    for stage in ("curation", "dedup", "similarity"):
        expected[stage] = con.sql(open(f"{d}/out/{stage}.sql").read())
    expected["retrieval"] = con.sql(bm25_sql(ws["term_queries"], ws["top_k"]))
    expected = {k: (list(rel.columns), rel.fetchall())
                for k, rel in expected.items()}
    results, failed = {}, []
    for i in range(len(r["ops"])):
        verdicts, ok_pass = {}, True
        for stage, (cols, exp) in expected.items():
            path = f"{d}/out/{stage}/pass={i}"
            if not os.path.isdir(path):
                ok, msg = False, "no output"
            else:
                got = con.execute(f"SELECT {', '.join(cols)} FROM "
                                  f"read_parquet('{path}/*.parquet')").fetchall()
                ok, msg = same_rows(got, exp, exact=True)
            verdicts[stage] = msg
            ok_pass &= ok
        path = f"{d}/out/bpe/pass={i}"
        if os.path.isdir(path):
            n_bad, sample = bpe_violations(con, path, ws["max_gen_id"])
            verdicts["bpe"] = f"{n_bad} violations {sample}" if n_bad \
                else "invariants hold"
            ok_pass &= n_bad == 0
        else:
            verdicts["bpe"] = "no output"
            ok_pass = False
        results[f"pass{i}"] = verdicts
        if not ok_pass:
            failed.append(i)
    return {"correct": not failed, "checks": results, "failed_ops": failed}


def check(workload, r, tmp):
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads TO 4")
    try:
        if workload == "lakehouse_ingest":
            return check_ingest(r, con)
        return check_corpus(r, con)
    except (duckdb.Error, OSError, KeyError, ValueError) as e:
        return {"correct": False, "checks": {"error": repr(e)},
                "failed_ops": list(range(len(r["ops"])))}
    finally:
        con.close()
