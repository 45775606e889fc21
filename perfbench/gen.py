"""Seeded input generators for the benchmark.

Two families, both pure functions of (seed, GEN_VERSION):

* ``star`` writes the star-schema tables the registry queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings), one parquet file each, with the column names, types and
  value domains of the repo's query fixtures.
* ``etl`` writes the ``etl_ingest`` op plan over a 407-ticker universe:
  wide provider price frames, trade candidate batches and the starting
  ledger, plus the counts each op must produce. Its streaming ops drain
  the events of the seed's star-schema tables and are checked against
  their DuckDB twins instead. The counts come from a
  plain-Python simulation of the reference semantics (INSERT OR IGNORE on
  (ticker, ts); the oversell walk in (ts, id) order), independent of the
  Spark code under test.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

N_TICKERS = 407
WATCHLIST = 24  # tickers one provider call fetches (the reference fetches a short list)
N_USERS = 8
HISTORY_DAYS = 40
WINDOW_DAYS = 5
BACKFILL_DAYS = 365
TRADES_PER_BATCH = 200
ETL_OPS = 160
BASE_DAY = dt.date(2024, 3, 1)

# one block of the op mix, in a fixed order; a run stops only at the end
# of a block. The seed makes the data only: an op's cost depends on the
# ops before it, and with a seeded order two seeds' median op differed by
# ~15% run after run on a quiet host. The two streaming registry queries
# drain the events backlog of the seed's star-schema tables: q31 is the
# streaming twin of the price load, q45 a stateful RocksDB query.
ETL_BLOCK = ["daily", "trades", "refresh", "daily", "q31_stream_dedup_merge", "trades",
             "daily", "backfill", "refresh", "q45_stream_sessionize", "daily", "trades"]


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="datetime64[D]")
                    .astype("datetime64[us]"), pa.timestamp("us"))


def star(out, seed, sf):
    """Star-schema tables at scale factor ``sf`` (sf0.1 = 600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    n_users = int(15000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["blue", "cold", "hot", "red", "small", "big", "green", "old"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    d0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    d1 = (dt.date(2001, 8, 1) - dt.date(1970, 1, 1)).days
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(d0 + 1, d1 + 95, n_line))})
    e0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ev_ts = np.sort(e0 + rng.integers(0, span, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(("the a fast slow big small key order sort table scan merge "
                      "part window hash join batch stream spark group query row "
                      "data filter customer line value column agg vector dup").split())
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def _days(d):
    return (d - dt.date(1970, 1, 1)).days


def _wide(day_list, tickers, px, null_p, rng):
    """Provider frame: one row per day, one column per ticker, prices from
    ``px(ticker_array, day_number_array)``; returns the table and the set
    of non-null (ticker, day-number) cells it carries."""
    dn = np.array([_days(d) for d in day_list])
    tk = np.asarray(tickers)
    vals = px(tk[None, :], dn[:, None])
    null = rng.random(vals.shape) < null_p
    cols = {"ts": pa.array(dn.astype("datetime64[D]"), pa.date32())}
    for j, t in enumerate(tk):
        cols[str(t)] = pa.array(vals[:, j], pa.float64(), mask=null[:, j])
    di, tj = np.nonzero(~null)
    return pa.table(cols), set(zip(tk[tj].tolist(), dn[di].tolist()))


def etl(out, seed):
    """The etl_ingest op plan and its expected counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    drift = rng.normal(0.0002, 0.01, N_TICKERS)
    start_px = rng.uniform(20.0, 800.0, N_TICKERS)

    def closes(tk, dn):
        # a deterministic per-(ticker, day) price: same value in every fetch
        k = dn - _days(BASE_DAY)
        return np.round(start_px[tk] * np.exp(drift[tk] * k + 0.01 * np.sin(k * 0.7 + tk)), 4)

    tickers = list(range(N_TICKERS))
    # HISTORY_DAYS before BASE_DAY for every ticker, loaded in set-up; it
    # ships long (ts, ticker, close), the table a previous backfill left
    hist_days = [BASE_DAY - dt.timedelta(days=i) for i in range(HISTORY_DAYS, 0, -1)]
    hdn = np.array([_days(d) for d in hist_days])
    tk_grid, dn_grid = np.meshgrid(np.array(tickers), hdn)
    _write(pa.table({
        "ts": pa.array(dn_grid.ravel().astype("datetime64[D]"), pa.date32()),
        "ticker": pa.array(tk_grid.ravel().astype(str)),
        "close": closes(tk_grid.ravel(), dn_grid.ravel())}),
        os.path.join(out, "history.parquet"))
    loaded = set(zip(tk_grid.ravel().tolist(), dn_grid.ravel().tolist()))

    # starting ledger: buys only, so no holding starts negative
    ledger_rows, held, next_id = [], {}, 1
    for _ in range(1500):
        u, tk = int(rng.integers(0, N_USERS)), int(rng.integers(0, N_TICKERS))
        d = hist_days[int(rng.integers(0, len(hist_days)))]
        ledger_rows.append((u, tk, d, next_id, "BUY", float(rng.integers(1, 50)),
                            round(float(rng.uniform(10, 900)), 2),
                            round(float(rng.uniform(0, 5)), 2)))
        next_id += 1
    ledger_rows.sort(key=lambda r: (r[2], r[3]))
    for r in ledger_rows:
        held[(r[0], r[1])] = held.get((r[0], r[1]), 0.0) + r[5]
    _write(_trades_table(ledger_rows), os.path.join(out, "ledger.parquet"))

    ops, day = [], BASE_DAY
    blocks = (ETL_OPS + len(ETL_BLOCK) - 1) // len(ETL_BLOCK)
    kinds, adj_ops = [], set()
    for b in range(blocks):
        # exactly one daily load per block, the first, brings an adj_close
        # frame: a load with one joins a second melted frame, and a
        # per-load coin flip made the timed round's cost differ from seed
        # to seed
        adj_ops.add(b * len(ETL_BLOCK) + ETL_BLOCK.index("daily"))
        kinds += ETL_BLOCK
    watch = sorted(int(x) for x in rng.choice(N_TICKERS, WATCHLIST, replace=False))
    for i, kind in enumerate(kinds[:ETL_OPS]):
        op = {"i": i, "kind": kind}
        if kind in ("daily", "backfill"):
            if kind == "daily":
                days = [day - dt.timedelta(days=k) for k in range(WINDOW_DAYS - 1, -1, -1)]
                day = day + dt.timedelta(days=1)
                fetch = watch
            else:
                last = day - dt.timedelta(days=1)
                days = [last - dt.timedelta(days=k) for k in range(BACKFILL_DAYS - 1, -1, -1)]
                fetch = sorted(int(x) for x in rng.choice(N_TICKERS, WATCHLIST, replace=False))
            wide, cells = _wide(days, fetch, closes, 0.02, rng)
            _write(wide, os.path.join(out, f"op{i:04d}_close.parquet"))
            op["offered"] = len(cells)
            op["has_adj"] = i in adj_ops
            if op["has_adj"]:
                adj_tk = sorted(int(x) for x in rng.choice(fetch, len(fetch) // 2, replace=False))
                adj, _ = _wide(days, adj_tk, lambda tk, dn: np.round(closes(tk, dn) * 0.97, 4),
                               0.05, rng)
                _write(adj, os.path.join(out, f"op{i:04d}_adj.parquet"))
            new = cells - loaded
            loaded |= new
            op["appended"] = len(new)
        elif kind == "trades":
            ts = day - dt.timedelta(days=1)
            rows, expect = [], {"rejected": 0, "oversold": 0, "accepted": 0}
            for _ in range(TRADES_PER_BATCH):
                u, tk = int(rng.integers(0, N_USERS)), int(rng.integers(0, N_TICKERS))
                side = "BUY" if rng.random() < 0.55 else "SELL"
                qty = float(rng.integers(1, 30))
                h = held.get((u, tk), 0.0)
                roll = rng.random()
                if side == "SELL" and h >= 1.0 and roll >= 0.05:
                    qty = float(min(qty, h))
                elif side == "SELL" and roll < 0.05:
                    qty = h + float(rng.integers(1, 10))  # oversold on purpose
                elif side == "SELL":
                    side = "BUY"
                price = round(float(rng.uniform(10, 900)), 2)
                fee = round(float(rng.uniform(0, 5)), 2)
                bad = rng.random() < 0.10
                row = [u, tk, ts, next_id, side, qty, price, fee]
                next_id += 1
                if bad:
                    which = int(rng.integers(0, 5))
                    if which == 0:
                        row[4] = "HOLD"
                    elif which == 1:
                        row[5] = -qty
                    elif which == 2:
                        row[6] = 0.0
                    elif which == 3:
                        row[7] = -1.0
                    else:
                        row[2] = None
                    # lower-case sides too, which validation must normalize
                    row[4] = row[4].lower() if which != 0 else row[4]
                    expect["rejected"] += 1
                elif side == "SELL" and qty > h + 1e-12:
                    expect["oversold"] += 1
                else:
                    held[(u, tk)] = h + (qty if side == "BUY" else -qty)
                    expect["accepted"] += 1
                rows.append(tuple(row))
            _write(_trades_table(rows), os.path.join(out, f"op{i:04d}_trades.parquet"))
            op.update(expect)
        elif kind == "refresh":
            op["positions"] = len(held)
            op["open"] = sum(1 for q in held.values() if q > 0)
        else:
            op["kind"] = "stream"
            op["query"] = kind
        ops.append(op)
    plan = {"gen_version": GEN_VERSION, "seed": seed, "n_tickers": N_TICKERS,
            "block": len(ETL_BLOCK),
            "history_rows": len(hist_days) * N_TICKERS, "ops": ops}
    with open(os.path.join(out, "plan.json.tmp"), "w") as f:
        json.dump(plan, f)
    os.replace(os.path.join(out, "plan.json.tmp"), os.path.join(out, "plan.json"))


def _trades_table(rows):
    cols = list(zip(*rows)) if rows else [()] * 8
    return pa.table({
        "user_id": pa.array(cols[0], pa.int64()),
        "ticker": pa.array(cols[1], pa.int64()),
        "ts": pa.array(cols[2], pa.date32()),
        "id": pa.array(cols[3], pa.int64()),
        "side": pa.array(cols[4], pa.string()),
        "qty": pa.array(cols[5], pa.float64()),
        "price": pa.array(cols[6], pa.float64()),
        "fee": pa.array(cols[7], pa.float64())})
