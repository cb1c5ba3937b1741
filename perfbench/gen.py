"""Seeded input generators for the benchmark.

Two families, both a pure function of the seed:

* ``gen_tables``: the ten sf0.1-shaped parquet tables the registered queries
  read (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the same schemas, physical types and value
  distributions as the harness fixtures (uniform keys, 2-dp money, day-grained
  order/ship dates, micro-second event times, a 30-word document vocabulary
  with planted near-duplicates, unit-norm 64-d embeddings).
* ``gen_trades``: the trade-reconciliation CSVs (trades, counterparty fills,
  symbols reference) with the reference feed's data-quality mix, planting exact
  counts of every defect so the pipeline's six metrics are known in advance.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
NEAR_DUPS = 250   # documents that are another document plus one " dup" token
EXACT_DUPS = 8    # documents whose text repeats another's verbatim


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def gen_tables(out_dir, seed, tables=TABLES):
    """Write the named sf0.1-shaped tables as ``<out_dir>/<name>.parquet``.

    Each table draws from its own random stream, so a table's content
    depends only on the seed, not on which other tables are generated.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        _TABLE_GEN[name](np.random.default_rng([seed, 1, TABLES.index(name)]), f"{out_dir}/{name}.parquet")
    return {"seed": seed, "rows": {t: SF01_ROWS[t] for t in tables}}


_i32, _i64, _f64, _s, _ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")


def _region(rng, path):
    _write(pa.table({"r_regionkey": pa.array(range(5), _i32), "r_name": pa.array(REGIONS, _s)}), path)


def _nation(rng, path):
    _write(pa.table({"n_nationkey": pa.array(range(25), _i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], _s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], _i32)}), path)


def _customer(rng, path):
    n = SF01_ROWS["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n), _i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], _s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), _i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), _f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n), _s)}), path)


def _supplier(rng, path):
    n = SF01_ROWS["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), _i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], _s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), _i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), _f64)}), path)


def _part(rng, path):
    n = SF01_ROWS["part"]
    keys = np.arange(n)
    _write(pa.table({
        "p_partkey": pa.array(keys, _i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))], _s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], _s),
        "p_type": pa.array(rng.choice(PART_TYPES, n), _s),
        "p_size": pa.array(rng.integers(1, 51, n), _i32),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2), _f64)}), path)


def _orders(rng, path):
    n = SF01_ROWS["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n), _i64),
        "o_custkey": pa.array(rng.integers(0, SF01_ROWS["customer"], n), _i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), _s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), _f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n), _ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), _s)}), path)


def _lineitem(rng, path):
    n = SF01_ROWS["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, SF01_ROWS["orders"], n), _i64),
        "l_partkey": pa.array(rng.integers(0, SF01_ROWS["part"], n), _i64),
        "l_suppkey": pa.array(rng.integers(0, SF01_ROWS["supplier"], n), _i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), _i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), _f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n), _f64),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2), _f64),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2), _f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), _s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), _s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n), _ts)}), path)


def _events(rng, path):
    n = SF01_ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n), _i64),
        "ts": pa.array(start + offs, _ts),
        "user_id": pa.array(rng.integers(0, 1500, n), _i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), _s),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), _f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], _s)}), path)


def _documents(rng, path):
    n = SF01_ROWS["documents"]
    words = rng.choice(VOCAB, (n, 100))
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[i, :lens[i]]) for i in range(n)]
    picks = rng.permutation(n)[: 2 * (NEAR_DUPS + EXACT_DUPS)]
    srcs, dsts = picks[: NEAR_DUPS + EXACT_DUPS], picks[NEAR_DUPS + EXACT_DUPS:]
    for k, (a, b) in enumerate(zip(srcs, dsts)):
        texts[b] = texts[a] + " dup" if k < NEAR_DUPS else texts[a]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), _i64),
        "text": pa.array(texts, _s),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), _s),
        "source": pa.array([f"src{i % 20}" for i in range(n)], _s),
        "n_chars": pa.array([len(t) for t in texts], _i64)}), path)


def _embeddings(rng, path):
    n = SF01_ROWS["embeddings"]
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), _i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), _i32)}), path)


_TABLE_GEN = {"region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
              "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
              "documents": _documents, "embeddings": _embeddings}


# ---------------------------------------------------------------- trade ETL

SYMBOLS = [("AAPL", "Apple Inc.", "Technology"), ("MSFT", "Microsoft Corp.", "Technology"),
           ("GOOGL", "Alphabet Inc.", "Technology"), ("AMZN", "Amazon.com Inc.", "Consumer"),
           ("JPM", "JPMorgan Chase", "Financials"), ("XOM", "Exxon Mobil", "Energy"),
           ("JNJ", "Johnson & Johnson", "Healthcare"), ("NVDA", "NVIDIA Corp.", "Technology"),
           ("TSLA", "Tesla Inc.", "Consumer")]
# Shares of the unique trades (cancelled, duplicate rows) and of the
# non-cancelled ones (the disjoint defect classes), after the reference feed:
# ~9.8% duplicate rows, ~20% cancelled, ~13% of the rest invalid.
TRADE_MIX = {"duplicate": 0.098, "cancelled": 0.20}
DEFECT_MIX = {"symbol_unknown": 0.090, "symbol_inactive": 0.005, "quantity_bad": 0.012,
              "price_bad": 0.025, "symbol_and_price_bad": 0.004}
# shares of the VALID trades
VALID_MIX = {"timestamp_bad": 0.06, "fill_discrepant": 0.45, "fill_consistent": 0.15,
             "fill_unconfirmed": 0.05}
BAD_QUANTITIES = ["", "0", "-5", "abc"]
BAD_PRICES = ["", "0", "-3.50", "n/a"]


def planted_counts(n_trades):
    """Exact defect counts for ``n_trades`` unique trades (no RNG involved)."""
    c = {"unique": n_trades, "duplicate": round(TRADE_MIX["duplicate"] * n_trades),
         "cancelled": round(TRADE_MIX["cancelled"] * n_trades)}
    live = n_trades - c["cancelled"]
    for k, share in DEFECT_MIX.items():
        c[k] = round(share * live)
    c["invalid"] = sum(c[k] for k in DEFECT_MIX)
    c["valid"] = live - c["invalid"]
    for k, share in VALID_MIX.items():
        c[k] = round(share * c["valid"])
    return c


def expected_metrics(c):
    """The six ``TradePipeline.Metrics`` fields the planted counts imply."""
    return {"processedTrades": c["unique"] + c["duplicate"], "duplicateTrades": c["duplicate"],
            "cancelledTrades": c["cancelled"], "successfulTrades": c["valid"],
            "invalidTrades": c["invalid"], "discrepancyTrades": c["fill_discrepant"]}


def _timestamps(rng, n):
    """Parseable timestamps in the feed's three formats (ISO, epoch, US)."""
    secs = 1705276800 + rng.integers(0, 5 * 86400, n)   # 2024-01-15 .. 2024-01-19 UTC
    fmt = rng.integers(0, 3, n)
    dt = secs.astype("datetime64[s]").astype(object)
    out = []
    for f, sec, d in zip(fmt, secs, dt):
        if f == 0:
            out.append(d.strftime("%Y-%m-%dT%H:%M:%S.000Z"))
        elif f == 1:
            out.append(str(int(sec)))
        else:
            out.append(f"{d.month}/{d.day}/{d.year} {d.hour}:{d.minute:02d}:{d.second:02d}")
    return out


def gen_trades(out_dir, seed, n_trades):
    """Write trades.csv, counterparty_fills.csv and symbols_reference.csv.

    Every unique trade falls in exactly one class: cancelled, one of the
    invalid classes, or valid; a valid trade may additionally carry an
    unparseable timestamp and has a consistent, discrepant, unconfirmed or
    no counterparty fill. Duplicate rows are byte-identical copies of random
    unique trades. Returns the planted counts and the expected metrics.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    c = planted_counts(n_trades)
    n = n_trades

    classes = (["cancelled"] * c["cancelled"] + [k for k in DEFECT_MIX for _ in range(c[k])])
    classes += ["valid"] * (n - len(classes))
    cls = np.array(classes, dtype=object)[rng.permutation(n)]
    valid_idx = np.flatnonzero(cls == "valid")
    order = rng.permutation(valid_idx)
    sub = {}
    pos = 0
    for k in ("fill_discrepant", "fill_consistent", "fill_unconfirmed"):
        sub[k] = set(order[pos:pos + c[k]].tolist())
        pos += c[k]
    ts_bad = set(rng.permutation(valid_idx)[: c["timestamp_bad"]].tolist())

    ticker = np.array([t for t, _, _ in SYMBOLS], dtype=object)
    sym = ticker[rng.integers(0, len(SYMBOLS), n)]
    qty = rng.integers(1, 1001, n).astype(str).astype(object)
    cents = rng.integers(1000, 50000, n)
    price = np.array([f"{p // 100}.{p % 100:02d}" for p in cents], dtype=object)
    # the feed's float noise: some prices carry > 2 decimals, some none
    noisy = rng.random(n) < 0.10
    price[noisy] = [f"{p / 100 - 0.00000001:.8f}" for p in cents[noisy]]
    whole = rng.random(n) < 0.01
    price[whole] = [str(p // 100) for p in cents[whole]]
    ts = np.array(_timestamps(rng, n), dtype=object)
    status = np.where(cls == "cancelled", "CANCELLED", "EXECUTED").astype(object)

    sym[cls == "symbol_unknown"] = "INVALID_SYM"
    sym[cls == "symbol_and_price_bad"] = "INVALID_SYM"
    sym[cls == "symbol_inactive"] = "OLDCO"
    qb = np.flatnonzero(cls == "quantity_bad")
    qty[qb] = [BAD_QUANTITIES[i % len(BAD_QUANTITIES)] for i in range(len(qb))]
    pb = np.flatnonzero((cls == "price_bad") | (cls == "symbol_and_price_bad"))
    price[pb] = [BAD_PRICES[i % len(BAD_PRICES)] for i in range(len(pb))]
    for i in ts_bad:   # US format with a one-digit second: unparseable by design
        ts[i] = f"1/{15 + i % 5}/2024 {i % 24}:{i % 60:02d}:{i % 10}"

    ids = np.array([f"TRD{i:08d}" for i in range(n)], dtype=object)
    buyer = [f"BUY{b}" for b in rng.integers(1, 500, n)]
    seller = [f"SEL{b}" for b in rng.integers(1, 500, n)]
    rows = [f"{ids[i]},{ts[i]},{sym[i]},{qty[i]},{price[i]},{buyer[i]},{seller[i]},{status[i]}"
            for i in range(n)]
    dup_src = rng.integers(0, n, c["duplicate"])
    rows += [rows[i] for i in dup_src]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    with open(f"{out_dir}/trades.csv", "w") as f:
        f.write("trade_id,timestamp,symbol,quantity,price,buyer_id,seller_id,trade_status\n")
        f.write("\n".join(rows))
        f.write("\n")

    # fills: every planted valid-trade fill, plus fills on ~half of the
    # other trades (their content cannot change any metric)
    others = np.flatnonzero(cls != "valid")
    others = others[rng.random(len(others)) < 0.5]
    fills = []
    for j, i in enumerate(sorted(set().union(*sub.values()) | set(others.tolist()))):
        fq, fp, fs = qty[i], price[i], sym[i]
        if i in sub["fill_discrepant"]:
            kind = j % 3
            if kind == 0:
                fq = str(int(qty[i]) + 1 + j % 5)
            elif kind == 1:
                fp = f"{float(price[i]) + 0.05 + (j % 50) / 10:.2f}"
            else:
                fs = ticker[(list(ticker).index(sym[i]) + 1) % len(ticker)]
        elif i in sub["fill_unconfirmed"]:
            fq, fp = "", ""
        fills.append(f"EXT{j:08d},{ids[i]},{ts[i] if i not in ts_bad else ''},{fs},{fq},{fp},CP{j % 97}")
    fills = [fills[k] for k in rng.permutation(len(fills))]
    with open(f"{out_dir}/counterparty_fills.csv", "w") as f:
        f.write("external_ref_id,our_trade_id,timestamp,symbol,quantity,price,counterparty_id\n")
        f.write("\n".join(fills))
        f.write("\n")

    with open(f"{out_dir}/symbols_reference.csv", "w") as f:
        f.write("symbol,company_name,sector,is_active\n")
        for t, name, sector in SYMBOLS:
            f.write(f"{t},{name},{sector},true\n")
        f.write("OLDCO,Old Company,Industrials,false\n")
    return {"seed": seed, "n_trades": n_trades, "rows": n + c["duplicate"], "fills": len(fills),
            "planted": c, "expected_metrics": expected_metrics(c)}
