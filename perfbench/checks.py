"""Output checks that do not trust graft: each compares one job's written
output with what the generators planted, or with DuckDB running the
engine's oracle SQL over the same inputs. Each returns a list of
failures (empty = the job is correct)."""
import glob
import gzip
import json
import os

import duckdb
import numpy as np
import pandas as pd

from gen_docs import EMAIL_RE


def _parquet(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def _contiguous(values, n):
    return sorted(values) == list(range(1, n + 1))


def check_motogp(job_dir, exp):
    con = duckdb.connect()
    fails = []
    t = {name: _parquet(con, os.path.join(job_dir, name)) for name in exp["tables"]}
    for name, n in exp["tables"].items():
        if len(t[name]) != n:
            fails.append(f"{name}: {len(t[name])} rows, planted {n}")
    if fails:
        return fails
    race = t["race"]
    if not _contiguous(race["id_race"].tolist(), len(race)):
        fails.append("race: id_race not contiguous from 1")
    for row in race.itertuples():
        d = str(row.date)[:10]
        if exp["id_race"].get(d) != row.id_race or exp["race_circuit_id"].get(d) != row.circuit_id:
            fails.append(f"race {d}: id_race {row.id_race} circuit {row.circuit_id}")
            break
    if not _contiguous(t["info_race"]["id_race"].tolist(), len(t["info_race"])):
        fails.append("info_race: id_race not contiguous from 1")
    if sorted(t["circuit"]["circuit_id"]) != sorted(exp["race_circuit_id"].values()):
        fails.append("circuit: circuit ids differ from the planted circuits")
    teams = t["teams"]
    if not _contiguous(teams["team_id"].tolist(), len(teams)) or \
            any(exp["teams"][r.team_id - 1] != r.team_name for r in teams.itertuples()):
        fails.append("teams: team_id is not the 1-based file order")
    rider = {r[0]: [r[1], r[2], r[3], r[4]] for r in
             t["rider"][["rider_name", "1st_pos", "2nd_pos", "3rd_pos", "other_pos"]].itertuples(index=False)}
    if rider != exp["rider_places"]:
        fails.append("rider: podium counts differ from the planted results")
    part = t["partecipation"]["id_race"]
    if part.isna().any():
        fails.append("partecipation: unresolved id_race")
    elif {int(k): v for k, v in part.value_counts().items()} != \
            {int(k): v for k, v in exp["partecipation_id_race"].items()}:
        fails.append("partecipation: id_race is not each circuit's first race")
    got = {f"{r.year}|{r.category}|{r.team_name}": [r.total_points, r.final_position]
           for r in t["team_standings"].itertuples()}
    if got != {k: list(v) for k, v in exp["standings"].items()}:
        fails.append("team_standings: points or ranks differ from the planted results")
    return fails


def _jsonl(pattern):
    for path in sorted(glob.glob(pattern)):
        with gzip.open(path, "rt", encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def check_docs(job_dir, exp):
    fails = []
    rows = list(_jsonl(os.path.join(job_dir, "corpus", "*.json.gz")))
    got = {r["doc_id"]: r for r in rows}
    want = exp["docs"]
    if len(got) != len(rows):
        fails.append("corpus: duplicate doc_id")
    if set(got) != set(want):
        fails.append(f"corpus: {len(set(got) - set(want))} unexpected and "
                     f"{len(set(want) - set(got))} missing documents")
    else:
        for d, w in want.items():
            bad = [k for k in ("text", "n_tok", "domain") if got[d][k] != w[k]]
            if bad:
                fails.append(f"corpus: doc {d} {bad[0]} {got[d][bad[0]]!r} differs from "
                             f"the replay's {w[bad[0]]!r}")
                break
    if any(EMAIL_RE.search(r["text"]) for r in rows):
        fails.append("corpus: an e-mail address survived redaction")
    spent = {}
    for r in rows:
        spent[r["domain"]] = spent.get(r["domain"], 0) + r["n_tok"]
    over = [d for d, n in spent.items() if n > exp["budgets"][d]]
    if over:
        fails.append(f"corpus: token budget exceeded for {over}")
    quarantined = sum(1 for _ in _jsonl(os.path.join(job_dir, "quarantine", "*.json.gz")))
    if quarantined != exp["corrupt"]:
        fails.append(f"quarantine: {quarantined} lines, planted {exp['corrupt']}")
    return fails


def normalize(df):
    """Columns by name, values in comparable types, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: None if v is None or (isinstance(v, float) and np.isnan(v))
                                else str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


# The near-duplicate clustering oracle's shape: 3-gram Jaccard >= 0.5
# within (lang, doc_id % 16) blocks, then a recursive transitive closure
# that DuckDB needs minutes for. When the SQL still has this shape, the
# same definition runs here in Python, closure by union-find.
CLOSURE_SHAPE = ["lang || '#' || CAST(doc_id % 16 AS VARCHAR) AS blk",
                 "lower(trim(text)) AS s", "range(1, len(s) - 1)", ">= 0.5",
                 "reach(a, b) AS (", "least(n.id, min(r.b))"]


def dup_clusters(con):
    docs = con.execute("SELECT doc_id, lang, text FROM documents").fetchall()
    blocks = {}
    for doc_id, lang, text in docs:
        if lang is None or text is None:
            continue
        s = text.strip().lower()
        grams = {s} if len(s) <= 3 else {s[i:i + 3] for i in range(len(s) - 2)}
        blocks.setdefault(f"{lang}#{doc_id % 16}", []).append((doc_id, grams))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in blocks.values():
        for i, (a, ga) in enumerate(members):
            for b, gb in members[i + 1:]:
                if round(len(ga & gb) / len(ga | gb), 6) >= 0.5:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"id": list(parent), "cluster": [find(x) for x in parent]})


def oracle(in_dir, sqls):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return {q: normalize(dup_clusters(con) if all(p in sql for p in CLOSURE_SHAPE)
                         else con.execute(sql).df())
            for q, sql in sqls.items()}


def check_iterative(job_dir, expected):
    con = duckdb.connect()
    fails = []
    for q, want in expected.items():
        got = normalize(_parquet(con, os.path.join(job_dir, q)))
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            fails.append(f"{q}: shape {got.shape} {list(got.columns)}, oracle {want.shape}")
            continue
        for c in got.columns:
            a, b = got[c], want[c]
            if pd.api.types.is_float_dtype(a):
                same = ((a - b).abs() <= 1e-9) | (a.isna() & b.isna())
            else:
                same = (a.astype(object).where(a.notna(), None) == b.astype(object).where(b.notna(), None)) | \
                    (a.isna() & b.isna())
            if not same.all():
                fails.append(f"{q}: column {c} differs from the oracle")
                break
    return fails

