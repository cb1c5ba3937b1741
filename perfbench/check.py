"""Output checks against DuckDB, independent of Spark.

* Registered queries: each query's dumped parquet result is compared with
  its ``SparkEntry.oracleSql`` statement run in DuckDB over the same input
  tables: columns compared by sorted name, row count, then values row by row
  in returned order (floats at 1e-9 relative tolerance).
* Trade ETL: the two single-file JSON outputs are compared with the
  ``q_etl_cleaned_trades`` / ``q_etl_exceptions`` oracle statements, their
  CSV paths pointed at the generated inputs.
"""
import hashlib
import json
import math
import os
import re

import duckdb

def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(ocols, orows, scols, srows):
    """``None`` when equal, else a one-line reason."""
    if sorted(ocols) != sorted(scols):
        return f"columns differ: oracle={sorted(ocols)} spark={sorted(scols)}"
    if len(orows) != len(srows):
        return f"row count differs: oracle={len(orows)} spark={len(srows)}"
    operm = [ocols.index(c) for c in sorted(ocols)]
    sperm = [scols.index(c) for c in sorted(scols)]
    for i, (ra, rb) in enumerate(zip(orows, srows)):
        for a, b in zip((ra[k] for k in operm), (rb[k] for k in sperm)):
            if not _eq(a, b):
                return f"value differs at row {i}: oracle={a!r} spark={b!r}"
    return None


# ------------------------------------------------ transcribed oracles
#
# Some oracle statements are brute force in DuckDB: q_docs_clusters_stars'
# recursive reachability CTE takes over a minute on sf0.1 documents. Such a
# statement is transcribed below, step for step, into Python. A transcription
# is used only while the program's statement is byte-identical to the one it
# was checked against (``testdata/ported_oracles.json``, see
# ``test_check.py``).

PORTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "ported_oracles.json")


def _md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _docs(con):
    return con.execute("SELECT doc_id, text FROM documents").fetchall()


def clusters_stars(con):
    """``q_docs_clusters_stars``: 8-char shingles at stride 4, eight minhashes,
    four LSH bands of two, buckets of 2..1000 docs, connected components."""
    rows = _docs(con)
    buckets = {}
    for doc, text in rows:
        stop = max(len(text) - 7, 1)
        hv = {int(_md5(text[i - 1:i + 7])[:8], 16) for i in range(1, stop + 1, 4)}
        h = [min((a * x + b) % 2147483647 for x in hv)
             for a, b in ((1000003 + 2 * k, 12345 + 7 * k) for k in range(8))]
        for band in range(4):
            key = (band, _md5(f"{h[2 * band]}|{h[2 * band + 1]}"))
            buckets.setdefault(key, []).append(doc)
    parent = {doc: doc for doc, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for docs in buckets.values():
        if 2 <= len(docs) <= 1000:
            r0 = find(docs[0])
            for d in docs[1:]:
                r1 = find(d)
                if r1 != r0:
                    lo, hi = min(r0, r1), max(r0, r1)
                    parent[hi] = lo
                    r0 = lo
    out = []
    for doc in sorted(parent):
        root = find(doc)
        out.append((doc, root, doc == root))
    return ["doc_id", "cluster_id", "keep"], out


TRANSCRIBED = {"q_docs_clusters_stars": clusters_stars}


def _ported_sql():
    with open(PORTED) as f:
        return json.load(f)


def check_queries(tables_dir, dump_dir, oracle):
    """``{query: reason}`` for every query whose dump does not match."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{tables_dir}/{f}'")
    ported = _ported_sql()
    bad = {}
    for name, sql in sorted(oracle.items()):
        path = f"{dump_dir}/{name}"
        if not os.path.isdir(path):
            bad[name] = "no output dumped"
            continue
        if name in TRANSCRIBED and ported.get(name) != sql:
            bad[name] = "oracle statement changed since its Python transcription was checked"
            continue
        try:
            if name in TRANSCRIBED:
                ocols, orows = TRANSCRIBED[name](con)
            else:
                o = con.execute(sql)
                ocols, orows = [d[0] for d in o.description], o.fetchall()
            s = con.execute(f"SELECT * FROM '{path}/*.parquet'")
            scols, srows = [d[0] for d in s.description], s.fetchall()
        except Exception as e:  # noqa: BLE001 - any engine error is a failed check
            bad[name] = f"error: {e}"
            continue
        why = compare_rows(ocols, orows, scols, srows)
        if why:
            bad[name] = why
    return bad


CSV_PATH = re.compile(r"read_csv\('[^']*/(trades|counterparty_fills|symbols_reference)\.csv'")


def etl_sql(sql, trades_dir):
    """The oracle statement with its CSV paths pointed at ``trades_dir``."""
    return CSV_PATH.sub(lambda m: f"read_csv('{trades_dir}/{m.group(1)}.csv'", sql)


def _records(rows, cols):
    """Rows as JSON objects; a null field is absent, as in Spark's JSON."""
    return [{c: v for c, v in zip(cols, r) if v is not None} for r in rows]


def _same_records(want, got):
    if len(want) != len(got):
        return f"array length differs: oracle={len(want)} spark={len(got)}"
    for i, (a, b) in enumerate(zip(want, got)):
        if a.keys() != b.keys():
            return f"keys differ at element {i}: oracle={sorted(a)} spark={sorted(b)}"
        for k in a:
            if not _eq(a[k], b[k]):
                return f"value differs at element {i}.{k}: oracle={a[k]!r} spark={b[k]!r}"
    return None


def check_etl(trades_dir, out_dir, oracle):
    """``{output: reason}`` for each JSON output that differs from DuckDB."""
    con = duckdb.connect()
    bad = {}
    specs = [("q_etl_cleaned_trades", "cleaned_trades.json"),
             ("q_etl_exceptions", "exceptions_report.json")]
    for name, fname in specs:
        try:
            cur = con.execute(etl_sql(oracle[name], trades_dir))
            cols, rows = [d[0] for d in cur.description], cur.fetchall()
            with open(f"{out_dir}/{fname}") as f:
                got = json.load(f)
        except Exception as e:  # noqa: BLE001
            bad[fname] = f"error: {e}"
            continue
        want = _records(rows, cols)
        if name == "q_etl_exceptions":
            # the oracle renders raw_data as JSON text; the sink nests it
            for w in want:
                w["raw_data"] = json.loads(w["raw_data"])
            want.sort(key=lambda r: r["record_id"])
        why = _same_records(want, got)
        if why:
            bad[fname] = why
    return bad
