"""Seeded input generator for the benchmark workloads.

Every input the measured program sees is made here, from a seed, under the
directory it is given. Nothing is read from outside that directory.

  registry   TPC-H-like star schema + events/documents/embeddings parquet
             tables with the column names, types and value domains the
             registry queries expect, at the row counts of the sf0.1 test
             data (600k lineitem, 5,000 documents) and with its measured
             document shape. Made once from a fixed data seed so the
             recorded per-query checksums in expected/registry.tsv hold; the
             run seed only shuffles query order.
  jobs       pipeline/: raw fixtures CSV (FIXTURES.md section 1) and
             team-history CSV part files (section 3), plus the
             Pipeline.Stats the program must report for them, derived here
             independently; stream/: a backlog of equal, time-ordered event
             parquet files with the `events` schema (ts as a UTC-adjusted
             TIMESTAMP).

Usage: python3 gen.py {registry|jobs} OUT_DIR [--seed N]
"""
import argparse
import csv
import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGISTRY_DATA_SEED = 42

# ---------------------------------------------------------------- registry

# The 31-word vocabulary of the sf0.1 `documents` table; "dup" is also the
# marker its near-duplicates end with.
VOCAB = ("a the data spark window merge table column vector stream value "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch dup").split()


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def gen_registry(out):
    """The sf0.1 table sizes (TESTDATA.md) and the sf0.1 `documents` shape:
    5,000 docs of 10..100 words, 5 % near-duplicates (a copy whose last
    word is replaced by "dup"), 8 exact duplicates (0.16 %), 20 sources
    round-robin, lang mix en 40 % / de, es, fr, zh 15 % each."""
    rng = np.random.default_rng(REGISTRY_DATA_SEED)
    n_cust, n_supp, n_part, n_ord, n_line = 15000, 1000, 20000, 150000, 600000
    n_events, n_users, n_emb, docs = 100000, 1500, 2000, 5000
    n_exact = 8

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions}), f"{out}/region.parquet")
    nations = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
               "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
               "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
               "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
               "UNITED KINGDOM", "UNITED STATES"]
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": nations,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(segments, n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    adj = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")

    def days(lo, hi, n):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int)
        return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")

    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_line),
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    # events: ts is TIMESTAMP(MICROS) without UTC adjustment (Spark reads
    # TIMESTAMP_NTZ), the encoding the registry's events() loader handles
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")

    words = VOCAB[:-1]
    exact = set(rng.choice(np.arange(11, docs), n_exact, replace=False).tolist())
    texts, originals = [], []        # originals: not yet copied
    for i in range(docs):
        if i in exact:               # exact duplicate of an earlier original
            texts.append(texts[originals.pop(int(rng.integers(len(originals))))])
        elif i > 10 and rng.random() < 0.05:   # near-duplicate
            ws = texts[originals.pop(int(rng.integers(len(originals))))].split()
            ws[-1] = "dup"
            texts.append(" ".join(ws))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(words, n)))
            originals.append(i)
    langs = rng.choice(["en", "zh", "es", "fr", "de"], docs,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


# ---------------------------------------------------------------- pipeline

# The program's default alias map (functions/Normalize.defaultAliases),
# restated so the expected statistics are derived independently of it.
ALIASES = {
    "Manchester United": "Man United", "Manchester City": "Man City",
    "Tottenham": "Tottenham Hotspur", "Tottenham Hotspur": "Tottenham",
    "Newcastle": "Newcastle United", "Newcastle United": "Newcastle",
    "Wolverhampton Wanderers": "Wolves", "Wolves": "Wolverhampton Wanderers",
    "Atletico Madrid": "Atlético Madrid", "Atlético Madrid": "Atletico Madrid",
    "Atletico": "Atlético Madrid", "Real Betis": "Betis", "Betis": "Real Betis",
    "Bayern Munich": "Bayern München", "Bayern München": "Bayern Munich",
    "RB Leipzig": "Leipzig", "Leipzig": "RB Leipzig",
    "Bayer Leverkusen": "Leverkusen", "Leverkusen": "Bayer Leverkusen",
    "Inter": "Inter Milan", "Inter Milan": "Inter",
    "AC Milan": "Milan", "Milan": "AC Milan",
    "Paris Saint Germain": "PSG", "Paris Saint-Germain": "PSG",
    "PSG": "Paris Saint-Germain",
}

PLACES = ("Aston Bard Cliff Dale Eden Fair Glen Harbor Iron King Lake Mill "
          "North Oak Port Queen River Stone Tower Vale West York").split()
KINDS = "United City Rovers Athletic Town Wanderers Albion County".split()

PIPELINE_TODAY = "2025-05-12"
HISTORY_STATS = ["xg", "xg_against", "possession", "total_passes",
                 "pass_completion_pct", "shots", "shots_on_target",
                 "big_chances_created", "corners", "fouls_committed",
                 "yellow_cards", "red_cards"]
HISTORY_COLS = (["team", "season", "date", "competition", "venue", "opponent",
                 "result", "goals_for", "goals_against", "is_home",
                 "home_team", "away_team", "match_id", "match_url"]
                + [c for s in HISTORY_STATS for c in (s, f"opponent_{s}")]
                + ["shot_accuracy", "conversion_rate"])


def normalize_team(raw):
    s = re.sub(r"\s+(FC|CF|AFC)$", "", raw.strip())
    return ALIASES.get(s, s)


def match_id(date, home, away):
    def key(name):
        return re.sub(r"[^a-z0-9]", "", name.lower())
    return f"{date.replace('-', '')}_{key(home)}_{key(away)}"


def raw_variant(rng, name):
    """A source-specific spelling that normalizes back to `name`'s club."""
    r = rng.random()
    if r < 0.25:
        return name + " FC"
    if r < 0.35:
        return f"  {name} "
    return name


def gen_pipeline(out, seed, leagues=170, teams_per_league=8, days=15,
                 matches_per_day=300, history_per_team=22, history_parts=8):
    rng = np.random.default_rng(seed)
    today = dt.date.fromisoformat(PIPELINE_TODAY)
    # clubs: `teams_per_league` per league, names unique after normalization; the alias
    # clubs sit in the first leagues so the alias map has work to do
    alias_names = sorted(set(ALIASES) - {"Paris Saint Germain", "Atletico"})
    league_names, league_teams, used = [], [], set()
    for li in range(leagues):
        name = f"League {li:03d}"
        if li % 17 == 0:
            name += ", Apertura"          # commas force CSV quoting
        league_names.append(name)
        teams = []
        while len(teams) < teams_per_league:
            if alias_names and li < 4:
                cand = alias_names.pop()
            else:
                cand = (f"{PLACES[rng.integers(len(PLACES))]} "
                        f"{KINDS[rng.integers(len(KINDS))]} {rng.integers(1000)}")
            norm = normalize_team(cand)
            if norm in used or cand in used:
                continue
            used.update([norm, cand])
            teams.append(cand)
        league_teams.append(teams)

    first_day = today - dt.timedelta(days=2)      # two past days get filtered
    rows = []
    for d in range(days):
        date = (first_day + dt.timedelta(days=d)).isoformat()
        n = int(rng.poisson(matches_per_day))
        seen = set()
        for _ in range(n):
            li = int(rng.integers(leagues))
            h, a = rng.choice(len(league_teams[li]), 2, replace=False)
            home, away = league_teams[li][h], league_teams[li][a]
            if (home, away) in seen:
                continue
            seen.add((home, away))
            hhmm = (f"{int(rng.integers(10, 23)):02d}:{int(rng.choice([0, 15, 30, 45])):02d}"
                    if rng.random() > 0.05 else "Unknown")
            row = [date, str(int(rng.integers(10**7, 10**8))), home, away,
                   league_names[li], f"Country {li % 40}",
                   str(int(rng.integers(1746000000, 1748000000))), hhmm,
                   "Not started", "" if rng.random() < 0.6 else f"Stadium {li}",
                   str(int(rng.integers(1, 39))), "api"]
            rows.append(row)
            if rng.random() < 0.03:     # same match captured again by another source
                rows.append(row[:2] + [raw_variant(rng, home),
                                       raw_variant(rng, away)] + row[4:])
    for row in rows:                    # source-specific spellings
        if rng.random() < 0.3:
            row[2] = raw_variant(rng, row[2])
            row[3] = raw_variant(rng, row[3])

    os.makedirs(out, exist_ok=True)
    with open(f"{out}/fixtures.csv", "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["date", "id", "home_team", "away_team", "league", "country",
                    "start_timestamp", "start_time", "status", "venue",
                    "round", "source"])
        w.writerows(rows)

    # expected Pipeline.Stats, from the raw rows by the documented rules:
    # normalize names, dedup by match id, keep date >= today
    kept = {}
    for r in rows:
        home, away = normalize_team(r[2]), normalize_team(r[3])
        mid = match_id(r[0], home, away)
        kept.setdefault(mid, (r[0], home, away, r[4], r[7]))
    kept = [v for v in kept.values() if v[0] >= today.isoformat()]
    n = len(kept)
    with_kickoff = sum(1 for v in kept if ":" in v[4])
    completion = sum([1.0, 1.0, 1.0, 1.0, 1.0, with_kickoff / n]) / 6
    expected = {
        "fixtures_count": n,
        "teams_count": len({v[1] for v in kept} | {v[2] for v in kept}),
        "joined_records": n,
        "leagues_covered": len({v[3] for v in kept}),
        "data_completion": completion,
        "start_date": min(v[0] for v in kept),
        "end_date": max(v[0] for v in kept),
        "today": PIPELINE_TODAY,
        "input_rows": 0,
    }

    # history: every club, one match on each of `history_per_team` distinct
    # dates of the last 365 days (a few land after `today`; the past filter
    # drops those), written as equal CSV part files so scans can split
    clubs = [(li, ti, t) for li, teams in enumerate(league_teams)
             for ti, t in enumerate(teams)]
    k = history_per_team
    n_hist = len(clubs) * k
    offsets = np.concatenate([rng.choice(365, k, replace=False) - 362
                              for _ in clubs])
    club = np.repeat(np.arange(len(clubs)), k)
    opp_shift = rng.integers(1, teams_per_league, n_hist)
    home = rng.random(n_hist) < 0.5
    gf, ga = rng.poisson(1.4, n_hist), rng.poisson(1.2, n_hist)
    outcome = np.where(gf > ga, 0, np.where(gf == ga, 1, 2))
    spelling = rng.integers(0, 3, n_hist)
    detailed = rng.random(n_hist) < 0.7
    stats = np.round(rng.uniform(0, 30, (n_hist, 2 * len(HISTORY_STATS))), 2)
    results = [("W", "Win", "1"), ("D", "Draw", "0.5"), ("L", "Loss", "0")]
    dates = [(today + dt.timedelta(days=int(o))).isoformat() for o in offsets]
    teams_col, opps_col, season, homes, aways, urls = [], [], [], [], [], []
    for i in range(n_hist):
        li, ti, team = clubs[club[i]]
        opp = league_teams[li][(ti + opp_shift[i]) % teams_per_league]
        teams_col.append(raw_variant(rng, team))
        opps_col.append(raw_variant(rng, opp))
        y = int(dates[i][:4]) - (0 if int(dates[i][5:7]) >= 8 else 1)
        season.append(f"{y}-{y + 1}")
        homes.append(team if home[i] else opp)
        aways.append(opp if home[i] else team)
        urls.append(f"https://fbref.example/m/{i}" if detailed[i] else None)
    cols = {
        "team": teams_col, "season": season, "date": dates,
        "competition": [league_names[clubs[c][0]] for c in club],
        "venue": np.where(home, "Home", "Away"), "opponent": opps_col,
        "result": [results[o][sp] for o, sp in zip(outcome, spelling)],
        "goals_for": gf.astype(np.float64), "goals_against": ga.astype(np.float64),
        "is_home": home.astype(np.int32), "home_team": homes, "away_team": aways,
        "match_id": pa.nulls(n_hist, pa.string()), "match_url": urls}
    for j, name in enumerate(HISTORY_COLS[14:-2]):
        cols[name] = pa.array(stats[:, j], mask=~detailed)
    cols["shot_accuracy"] = pa.nulls(n_hist, pa.float64())
    cols["conversion_rate"] = pa.nulls(n_hist, pa.float64())
    table = pa.table(cols)
    hist_dir = f"{out}/history"
    os.makedirs(hist_dir, exist_ok=True)
    part = -(-n_hist // history_parts)
    opts = pacsv.WriteOptions(quoting_style="needed")
    for p in range(history_parts):
        pacsv.write_csv(table.slice(p * part, part),
                        f"{hist_dir}/part-{p:03d}.csv", opts)
    expected["input_rows"] = len(rows) + n_hist
    expected["history_rows"] = n_hist
    expected["fixture_rows"] = len(rows)
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, indent=1)


# ------------------------------------------------------------------ stream

def gen_stream(out, seed, files=6, rows_per_file=4000, hours_per_file=24):
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/events", exist_ok=True)
    start = np.datetime64("2024-03-01T00:00:00", "us")
    span = hours_per_file * 3600 * 10**6
    types = ["click", "error", "purchase", "signup", "view"]
    for i in range(files):
        offs = i * span + np.sort(rng.integers(0, span, rows_per_file))
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file)
        _write(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"),
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 1500, rows_per_file), pa.int64()),
            "event_type": rng.choice(types, rows_per_file),
            "value": np.round(rng.exponential(50.0, rows_per_file), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows_per_file)]}),
            f"{out}/events/part-{i:04d}.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"files": files, "input_rows": files * rows_per_file}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["registry", "jobs"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "registry":
        gen_registry(a.out)
    else:
        gen_pipeline(f"{a.out}/pipeline", a.seed)
        gen_stream(f"{a.out}/stream", a.seed)


if __name__ == "__main__":
    main()
