"""Seeded inputs and independently computed answers for the benchmark.

Inputs are written with DuckDB: every column is a pure function of the row
number, the run seed and a per-column salt (DuckDB's `hash`), so the same
seed writes the same tables. Expected answers are computed with plain DuckDB
SQL over the same parquet files, never through the engine under test, and
written as JSON for the harness to compare replies against.
"""
import json
import os

import duckdb

VOCAB = ["spark", "data", "query", "table", "row", "column", "index", "scan", "join",
         "group", "sort", "hash", "filter", "value", "key", "batch", "stream", "window",
         "merge", "vector", "part", "line", "order", "customer", "fast", "slow", "big",
         "small", "agg", "the", "a", "plan", "shard", "field", "bitmap", "count", "sum",
         "range", "time", "event"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# request parameter domains; the harness draws from the same lists
QUANTITIES = [10, 20, 30, 40]
NTHS = [25, 50, 75, 90, 99]

BASE_TS = "TIMESTAMP '2024-01-01 00:00:00'"


def _u(seed, salt, key="i"):
    """Uniform double in [0, 1) from (key, seed, salt)."""
    return f"((hash({key}, {seed}, {salt}) % 1000003)::DOUBLE / 1000003)"


def _ui(seed, salt, lo, hi, key="i"):
    return f"({lo} + floor({_u(seed, salt, key)} * {hi - lo + 1}))::INTEGER"


def _pick(values, seed, salt):
    lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lst}[{_ui(seed, salt, 1, len(values))}]"


def sizes(sf, full):
    """Row counts at scale factor sf; tables outside `full` get 10 rows."""
    base = {"orders": 1500000, "customer": 150000, "part": 200000, "supplier": 10000,
            "events": 1000000, "documents": 50000, "embeddings": 20000}
    z = {t: max(10, round(n * sf)) if t in full else 10 for t, n in base.items()}
    z["lineitem"] = z["orders"] * 4
    z["users"] = max(10, round(15000 * sf)) if "events" in full else 10
    return z


def star(out, sf, seed, full):
    """The ten tables the engine registers at start-up, with the column names
    and types of the TPC-H-shaped data it is developed against (sf 0.1 =
    600k lineitem rows). Tables outside `full` get 10 rows."""
    z = sizes(sf, full)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    tables = {
        "region": "SELECT i::INTEGER AS r_regionkey, 'REGION' || i AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION' || lpad(i::VARCHAR, 2, '0') AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT (i + 1)::BIGINT AS c_custkey, 'Customer#' || (i + 1) AS c_name, "
                    f"{_ui(seed, 1, 0, 24)} AS c_nationkey, "
                    f"round({_u(seed, 2)} * 10000 - 1000, 2) AS c_acctbal, "
                    f"{_pick(['BUILDING', 'AUTOMOBILE', 'MACHINERY', 'HOUSEHOLD', 'FURNITURE'], seed, 3)} "
                    f"AS c_mktsegment FROM range({z['customer']}) t(i)",
        "supplier": f"SELECT (i + 1)::BIGINT AS s_suppkey, 'Supplier#' || (i + 1) AS s_name, "
                    f"{_ui(seed, 4, 0, 24)} AS s_nationkey, "
                    f"round({_u(seed, 5)} * 10000 - 1000, 2) AS s_acctbal "
                    f"FROM range({z['supplier']}) t(i)",
        "part": f"SELECT (i + 1)::BIGINT AS p_partkey, 'part ' || (i + 1) AS p_name, "
                f"'Brand#' || {_ui(seed, 6, 1, 5)} || {_ui(seed, 7, 1, 5)} AS p_brand, "
                f"{_pick(['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO'], seed, 8)} AS p_type, "
                f"{_ui(seed, 9, 1, 50)} AS p_size, "
                f"round(900 + {_u(seed, 10)} * 1200, 2) AS p_retailprice FROM range({z['part']}) t(i)",
        "orders": f"SELECT (i + 1)::BIGINT AS o_orderkey, "
                  f"(1 + floor({_u(seed, 11)} * {z['customer']}))::BIGINT AS o_custkey, "
                  f"{_pick(['O', 'F', 'P'], seed, 12)} AS o_orderstatus, "
                  f"round(1000 + {_u(seed, 13)} * 450000, 2) AS o_totalprice, "
                  f"{BASE_TS} - INTERVAL 2546 DAY + to_days({_ui(seed, 14, 0, 2399)}) AS o_orderdate, "
                  f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], seed, 15)} "
                  f"AS o_orderpriority FROM range({z['orders']}) t(i)",
        "lineitem": f"SELECT (i // 4 + 1)::BIGINT AS l_orderkey, "
                    f"(1 + floor({_u(seed, 16)} * {z['part']}))::BIGINT AS l_partkey, "
                    f"(1 + floor({_u(seed, 17)} * {z['supplier']}))::BIGINT AS l_suppkey, "
                    f"(i % 4 + 1)::INTEGER AS l_linenumber, "
                    f"{_ui(seed, 18, 1, 50)}::DOUBLE AS l_quantity, "
                    f"round(900 + {_u(seed, 19)} * 100000, 2) AS l_extendedprice, "
                    f"round(floor({_u(seed, 20)} * 11) / 100, 2) AS l_discount, "
                    f"round(floor({_u(seed, 21)} * 9) / 100, 2) AS l_tax, "
                    f"{_pick(['R', 'A', 'N'], seed, 22)} AS l_returnflag, "
                    f"{_pick(['O', 'F'], seed, 23)} AS l_linestatus, "
                    f"{BASE_TS} - INTERVAL 2315 DAY + to_days({_ui(seed, 24, 0, 2499)}) AS l_shipdate "
                    f"FROM range({z['lineitem']}) t(i)",
        "events": f"SELECT i::BIGINT AS event_id, "
                  f"{BASE_TS} + to_microseconds(i * 30000000 + floor({_u(seed, 25)} * 30000000)::BIGINT) AS ts, "
                  f"floor({_u(seed, 26)} * {z['users']})::BIGINT AS user_id, "
                  f"{_pick(EVENT_TYPES, seed, 27)} AS event_type, "
                  f"round({_u(seed, 28)} * 200, 2) AS value, "
                  f"'{{\"k\": ' || {_ui(seed, 29, 0, 99)} || '}}' AS props FROM range({z['events']}) t(i)",
        "documents": "SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ("
                     "SELECT i::BIGINT AS doc_id, array_to_string(list_transform(range("
                     f"{_ui(seed, 40, 8, 48)}), j -> {_vocab()}[floor(pow("
                     f"{_u(seed, 41, 'i * 64 + j')}, 2) * {len(VOCAB)})::INTEGER + 1]), ' ') AS text, "
                     f"{_pick(LANGS, seed, 42)} AS lang, 'src' || (i % 20) AS source "
                     f"FROM range({z['documents']}) t(i))",
        "embeddings": f"SELECT i::BIGINT AS vec_id, list_transform(range(8), j -> "
                      f"({_u(seed, 30, 'i * 8 + j')} - 0.5)::FLOAT) AS embedding, "
                      f"{_ui(seed, 31, 0, 9)} AS label FROM range({z['embeddings']}) t(i)",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    return z


def _vocab():
    return "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"


def _rows(con, sql):
    return [list(r) for r in con.execute(sql).fetchall()]


def percentile(hist, nth):
    """The engine's reference-semantics Percentile: value-domain bisection
    with Go's midpoint and floor()'d rank targets, replayed over a value
    histogram [(value, count)]."""
    total = sum(c for _, c in hist)
    dl = (total * nth) // 100
    dg = (total * (100 - nth)) // 100
    mn = min(v for v, _ in hist)
    mx = max(v for v, _ in hist)
    if dg == 0:
        return mx
    if dl == 0 or mn >= mx:
        return mn
    lo, hi = mn, mx
    while True:
        m = lo // 2 + hi // 2 + ((lo % 2 + hi % 2) // 2)
        less = sum(c for v, c in hist if v < m)
        greater = sum(c for v, c in hist if v > m)
        nlo, nhi = (lo, m - 1) if less > dl else (m + 1, hi)
        if (less <= dl and greater <= dg) or nlo >= nhi:
            return m
        lo, hi = nlo, nhi


def read_mix_expected(data):
    """Every answer a read_mix request can ask for."""
    con = duckdb.connect()
    for t in ("lineitem", "documents", "orders", "customer", "nation", "part", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    con.execute("CREATE VIEW doc_words AS SELECT lang, source, n_chars, unnest(list_distinct("
                "list_filter(string_split(text, ' '), x -> x <> ''))) AS w FROM documents")
    docs = {}
    for lang, source, w, c, s in _rows(con, "SELECT lang, source, w, count(*), sum(n_chars) "
                                            "FROM doc_words GROUP BY ALL"):
        docs.setdefault(lang, []).append([source, w, c, s])
    sorted_ = {}
    for st, k, p in _rows(con, "SELECT o_orderstatus, o_orderkey, o_totalprice FROM (SELECT *, "
                               "row_number() OVER (PARTITION BY o_orderstatus ORDER BY "
                               "o_totalprice DESC) AS rn FROM orders) WHERE rn <= 200 "
                               "ORDER BY o_orderstatus, o_totalprice DESC"):
        sorted_.setdefault(st, []).append([k, p])
    hist = _rows(con, "SELECT p_size, count(*) FROM part WHERE p_size IS NOT NULL GROUP BY 1")
    out = {
        "li_groupby": _rows(con, "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity) "
                                 "FROM lineitem GROUP BY ALL"),
        "doc_groupby_set": docs,
        "count_intersect": {f"{f}|{q}": c for q in QUANTITIES for f, c in _rows(
            con, f"SELECT l_returnflag, count(*) FROM lineitem WHERE l_quantity > {q} GROUP BY 1")},
        "topk": _rows(con, "SELECT w, count(*) AS c FROM doc_words GROUP BY w ORDER BY c DESC, w"),
        "sort": sorted_,
        "percentile": {str(n): percentile(hist, n) for n in NTHS},
        "join_agg": _rows(con, "SELECT n_name, count(*), round(sum(o_totalprice), 2) FROM orders "
                               "JOIN customer ON o_custkey = c_custkey JOIN nation "
                               "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),
        "seg_index": _rows(con, "SELECT event_type, count(DISTINCT user_id) FROM events "
                                "GROUP BY 1 ORDER BY 1"),
    }
    con.close()
    return out


def events_rows(data):
    """(event_id, event_type, value) of every event: the write workload's
    starting state, which its replay of acked writes builds on."""
    con = duckdb.connect()
    rows = _rows(con, f"SELECT event_id, event_type, value FROM '{data}/events.parquet' "
                      "ORDER BY event_id")
    con.close()
    return rows


def corpus(out, n, seed):
    """A dedup corpus of n docs over a 5000-word vocabulary, 30-60 words
    each, with planted duplicates: every 50th doc from id 25 is an exact copy
    of the doc before it, and every 50th from id 50 copies the doc 7 ids
    below it with its last word replaced (Jaccard well above 0.8 on
    3-shingles). Returns the planted (original, copy) pairs."""
    con = duckdb.connect()
    con.execute(f"""COPY (
      WITH k AS (SELECT i AS doc_id,
          CASE WHEN i % 50 = 25 THEN 'exact' WHEN i % 50 = 0 AND i > 0 THEN 'near'
               ELSE 'orig' END AS kind FROM range({n}) t(i)),
      s AS (SELECT doc_id, kind, CASE kind WHEN 'exact' THEN doc_id - 1
               WHEN 'near' THEN doc_id - 7 ELSE doc_id END AS src FROM k),
      w AS (SELECT doc_id, kind, src, list_transform(range({_ui(seed, 50, 30, 60, 'src')}),
               j -> 'w' || (hash(src * 64 + j, {seed}, 51) % 5000)) AS ws FROM s)
      SELECT doc_id::BIGINT AS doc_id, kind, src::BIGINT AS src, array_to_string(
        CASE WHEN kind = 'near' THEN list_concat(ws[1:len(ws) - 1], ['planted']) ELSE ws END,
        ' ') AS text FROM w ORDER BY doc_id
    ) TO '{out}' (FORMAT PARQUET)""")
    pairs = _rows(con, f"SELECT src, doc_id FROM '{out}' WHERE kind <> 'orig' ORDER BY doc_id")
    con.close()
    return pairs


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
