"""Seeded, S&P-500-shaped WRDS snapshot for the quant_panel workload.

Writes the parquet tables `graft.sources.SnapshotEquitySource` reads
(`<dir>/<name>.parquet`) with the column names and types its fallback
schemas declare. Row counts depend only on the shape constants below, never
on the seed; the seed draws values, dates, renames, churn and delistings.

Run standalone:  python3 perfbench/snapshot.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = "2021-01-01"  # ingest window (inclusive): one year of trading days,
END = "2021-12-31"    # inside the years StubMacroSource covers
N_MEMBERS = 500       # constituents at the start of the window
N_JOINERS = 100       # assets that enter the index during the window
N_RENAMES = 80        # assets whose ticker changes during the window
N_ANALYSTS = 6        # analysts per IBES ticker in the detail history
FAR_END = np.datetime64("2030-12-31", "us")

TABLES = ["universe", "name_records", "ipo_dates", "prices_daily_raw",
          "delists", "ccm_links", "funda", "ibes_ids", "crsp_cusip_names",
          "recdsum", "recddet", "ff_factors", "prices_monthly_raw",
          "dividends_raw", "benchmark_raw"]

TS = pa.timestamp("us", tz="UTC")


def _ts(values):
    return pa.array(np.asarray(values, dtype="datetime64[us]"), type=TS)


def _tickers(rng, n):
    """n distinct 3-4 letter tickers."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    seen, out = set(), []
    while len(out) < n:
        k = 3 + int(rng.integers(0, 2))
        t = "".join(rng.choice(letters, k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def generate(out_dir: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    days = np.arange(np.datetime64(START), np.datetime64(END) + 1,
                     dtype="datetime64[D]")
    wdays = days[np.is_busday(days)]
    n_days = len(wdays)
    n_assets = N_MEMBERS + N_JOINERS
    permno = np.arange(10001, 10001 + n_assets, dtype=np.int64)
    tables = {}

    # universe: members from before the window, some leave inside it;
    # joiners enter inside it and stay
    start = np.empty(n_assets, dtype="datetime64[D]")
    end = np.full(n_assets, FAR_END.astype("datetime64[D]"))
    start[:N_MEMBERS] = np.datetime64("1995-01-01") + rng.integers(
        0, 9000, N_MEMBERS).astype("timedelta64[D]")
    leavers = rng.choice(N_MEMBERS, N_JOINERS, replace=False)
    leave_idx = np.sort(rng.integers(20, n_days - 20, N_JOINERS))
    end[leavers] = wdays[leave_idx]
    start[N_MEMBERS:] = wdays[leave_idx + 1]
    tables["universe"] = pa.table({
        "permno": permno, "start_date": _ts(start), "end_date": _ts(end)})

    # name records: one per asset, plus an older ticker for renamed assets
    tick = _tickers(rng, n_assets + N_RENAMES)
    renamed = rng.choice(n_assets, N_RENAMES, replace=False)
    rename_day = wdays[rng.integers(10, n_days - 10, N_RENAMES)]
    first = np.datetime64("1990-01-01") + rng.integers(
        0, 3000, n_assets).astype("timedelta64[D]")
    nr_id, nr_tic, nr_first, nr_last = [], [], [], []
    new_first = dict(zip(renamed.tolist(), rename_day))
    old = iter(tick[n_assets:])
    for i in range(n_assets):
        if i in new_first:
            old_end = new_first[i] - np.timedelta64(1, "D")
            nr_id.append(permno[i]); nr_tic.append(next(old))
            nr_first.append(first[i]); nr_last.append(old_end)
            nr_id.append(permno[i]); nr_tic.append(tick[i])
            nr_first.append(new_first[i]); nr_last.append(FAR_END)
        else:
            nr_id.append(permno[i]); nr_tic.append(tick[i])
            nr_first.append(first[i]); nr_last.append(FAR_END)
    tables["name_records"] = pa.table({
        "asset_id": np.array(nr_id, dtype=np.int64), "ticker": nr_tic,
        "first_date": _ts(nr_first), "last_date": _ts(nr_last)})

    has_ipo = np.sort(rng.choice(n_assets, int(n_assets * 0.7), replace=False))
    tables["ipo_dates"] = pa.table({
        "asset_id": permno[has_ipo],
        "ipodate": _ts(first[has_ipo] - rng.integers(
            0, 400, len(has_ipo)).astype("timedelta64[D]"))})

    # daily prices: geometric random walk per asset on every weekday
    rets = rng.normal(0.0004, 0.018, (n_assets, n_days))
    close = 20.0 + rng.random(n_assets)[:, None] * 180.0
    close = np.round(close * np.exp(np.cumsum(rets, axis=1)), 4)
    ret = np.empty_like(close)
    ret[:, 0] = np.round(rets[:, 0], 6)
    ret[:, 1:] = np.round(close[:, 1:] / close[:, :-1] - 1.0, 6)
    spread = np.round(close * rng.uniform(0.001, 0.02, close.shape), 4)
    cfacpr = np.ones_like(close)
    split = rng.choice(n_assets, 30, replace=False)
    for i, d in zip(split, rng.integers(50, n_days - 50, 30)):
        cfacpr[i, :d] = 2.0
    shrout = rng.integers(50_000, 5_000_000, n_assets)
    vol = rng.integers(10_000, 20_000_000, (n_assets, n_days))
    tables["prices_daily_raw"] = pa.table({
        "date": _ts(np.tile(wdays, n_assets)),
        "permno": np.repeat(permno, n_days),
        "open": (close - spread * 0.5).ravel(),
        "high": (close + spread).ravel(),
        "low": (close - spread).ravel(),
        "close": close.ravel(),
        "cfacpr": cfacpr.ravel(),
        "ret": ret.ravel(),
        "shrout": np.repeat(shrout, n_days).astype(np.int64),
        "volume": vol.ravel().astype(np.int64)})

    # delistings for half of the leavers, on their exit day
    dl = leavers[: N_JOINERS // 2]
    tables["delists"] = pa.table({
        "asset_id": permno[dl], "date": _ts(end[dl]),
        "delret": np.round(rng.uniform(-0.6, 0.1, len(dl)), 6)})

    gvkey = np.array([f"{100000 + i:06d}" for i in range(n_assets)])
    linkdt = first - np.timedelta64(30, "D")
    linkend = np.full(n_assets, np.datetime64("NaT"), dtype="datetime64[us]")
    tables["ccm_links"] = pa.table({
        "gvkey": gvkey, "permno": permno, "linkdt": _ts(linkdt),
        "linkenddt": _ts(linkend)})

    # fundamentals: one annual filing per year per firm (Dec fiscal years)
    fy = np.array(["2020-12-31", "2021-12-31"], dtype="datetime64[D]")
    n_f = n_assets * len(fy)
    scale = np.repeat(rng.uniform(100, 50_000, n_assets), len(fy))
    fcols = {"gvkey": np.repeat(gvkey, len(fy)),
             "datadate": _ts(np.tile(fy, n_assets))}
    for c, k in [("revt", 1.0), ("sale", 0.97), ("ni", 0.08), ("at", 2.5),
                 ("ceq", 0.9), ("dltt", 0.6), ("pstk", 0.02), ("oancf", 0.12),
                 ("capx", 0.05), ("xrd", 0.03)]:
        v = np.round(scale * k * rng.uniform(0.8, 1.2, n_f), 3)
        v[rng.random(n_f) < 0.03] = np.nan
        fcols[c] = pa.array(v, from_pandas=True)
    tables["funda"] = pa.table(fcols)

    # IBES identity via CUSIP: every firm has an IBES ticker whose 8-char
    # cusip matches its CRSP ncusip
    cusip = np.array([f"{i:06d}10" for i in range(200000, 200000 + n_assets)])
    ibtic = np.array([f"I{i:04d}" for i in range(n_assets)])
    tables["ibes_ids"] = pa.table({
        "ticker": ibtic, "cusip": cusip,
        "cname": np.array([f"Company {i}" for i in range(n_assets)]),
        "start_date": _ts(first),
        "end_date": _ts(np.full(n_assets, np.datetime64("NaT"), dtype="datetime64[us]"))})
    tables["crsp_cusip_names"] = pa.table({
        "asset_id": permno, "ncusip": cusip, "start_date": _ts(first),
        "end_date": _ts(np.full(n_assets, np.datetime64("NaT"), dtype="datetime64[us]"))})

    # monthly consensus summaries (third Thursday-ish: the 15th)
    months = np.arange(np.datetime64(START, "M"), np.datetime64(END, "M") + 1)
    statpers = months.astype("datetime64[D]") + np.timedelta64(14, "D")
    n_m = len(months)
    n_r = n_assets * n_m
    buy = np.round(rng.uniform(0, 100, n_r), 2)
    hold = np.round((100 - buy) * rng.uniform(0, 1, n_r), 2)
    mean = np.round(rng.uniform(1, 5, n_r), 3)
    mean[rng.random(n_r) < 0.02] = np.nan
    tables["recdsum"] = pa.table({
        "statpers": _ts(np.tile(statpers, n_assets)),
        "ticker": np.repeat(ibtic, n_m),
        "oftic": np.repeat(np.array(tick[:n_assets]), n_m),
        "cusip": np.repeat(cusip, n_m),
        "cname": np.repeat(np.array([f"Company {i}" for i in range(n_assets)]), n_m),
        "buypct": buy, "holdpct": hold,
        "sellpct": np.round(100 - buy - hold, 2),
        "meanrec": pa.array(mean, from_pandas=True),
        "medrec": np.round(rng.uniform(1, 5, n_r), 1),
        "stdev": np.round(rng.uniform(0, 1.5, n_r), 3),
        "numup": rng.integers(0, 5, n_r).astype(np.int64),
        "numdown": rng.integers(0, 5, n_r).astype(np.int64),
        "numrec": rng.integers(1, 40, n_r).astype(np.int64),
        "usfirm": np.ones(n_r, dtype=np.int64)})

    # analyst-level recommendation history: each analyst revises quarterly
    n_q = 8
    n_d = n_assets * N_ANALYSTS * n_q
    ann = wdays[rng.integers(0, n_days, n_d)]
    rec = rng.integers(1, 6, n_d).astype(np.float64)
    text = np.array(["Strong Buy", "Buy", "Hold", "Underperform", "Sell"])
    tables["recddet"] = pa.table({
        "ticker": np.repeat(ibtic, N_ANALYSTS * n_q),
        "anndats": _ts(ann),
        "analys": (np.tile(np.repeat(np.arange(N_ANALYSTS), n_q), n_assets)
                   + 1000 * np.repeat(np.arange(n_assets), N_ANALYSTS * n_q)).astype(np.int64),
        "ireccd": rec,
        "etext": np.where(rng.random(n_d) < 0.5, "up", "down"),
        "itext": text[(rec - 1).astype(int)],
        "statpers": _ts(ann)})

    ff = {"date": _ts(wdays)}
    for c, s in [("mktrf", 1.0), ("smb", 0.5), ("hml", 0.5), ("rmw", 0.3),
                 ("cma", 0.3), ("umd", 0.7)]:
        ff[c] = np.round(rng.normal(0, s, n_days), 4)
    ff["rf"] = np.round(np.full(n_days, 0.015) + rng.normal(0, 0.001, n_days), 4)
    tables["ff_factors"] = pa.table(ff)

    # month-end prices: last weekday of each month
    month_of = wdays.astype("datetime64[M]")
    last_idx = np.flatnonzero(np.r_[month_of[1:] != month_of[:-1], True])
    m_close = close[:, last_idx]
    m_ret = np.empty_like(m_close)
    m_ret[:, 0] = 0.0
    m_ret[:, 1:] = np.round(m_close[:, 1:] / m_close[:, :-1] - 1.0, 6)
    tables["prices_monthly_raw"] = pa.table({
        "date": _ts(np.tile(wdays[last_idx], n_assets)),
        "permno": np.repeat(permno, len(last_idx)),
        "close": m_close.ravel(), "ret": m_ret.ravel(),
        "volume": vol[:, last_idx].ravel().astype(np.int64),
        "shrout": np.repeat(shrout, len(last_idx)).astype(np.int64)})

    # quarterly dividends on month-ends for 40 % of firms; some paid twice
    payers = np.sort(rng.choice(n_assets, int(n_assets * 0.4), replace=False))
    q_idx = last_idx[2::3]
    d_id = np.repeat(permno[payers], len(q_idx))
    d_date = np.tile(wdays[q_idx], len(payers))
    dup = rng.random(len(d_id)) < 0.05
    d_id = np.r_[d_id, d_id[dup]]
    d_date = np.r_[d_date, d_date[dup]]
    n_div = len(d_id)
    tables["dividends_raw"] = pa.table({
        "asset_id": d_id.astype(np.int64),
        "distcd": np.where(rng.random(n_div) < 0.9, 1232, 1272).astype(np.int64),
        "divamt": np.round(rng.uniform(0.05, 1.5, n_div), 4),
        "facpr": np.zeros(n_div), "facshr": np.zeros(n_div),
        "date": _ts(d_date)})

    tables["benchmark_raw"] = pa.table({
        "date": _ts(wdays), "ret": np.round(rng.normal(0.0003, 0.011, n_days), 6)})

    sizes = {}
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = tables[name].num_rows
    return sizes


if __name__ == "__main__":
    for k, v in generate(sys.argv[1], int(sys.argv[2])).items():
        print(f"{k} {v}")
