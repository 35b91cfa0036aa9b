"""Correctness checks, run after the harness exits (outside every timed
region). Each returns what failed, so the caller can charge the failures to
the ops they belong to.
"""
import glob
import json
import os

import duckdb
import pandas as pd

OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")


def _read(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise FileNotFoundError(f"no output under {path}")
    return pd.read_parquet(path)


# olap_queries writes every query's output twice: from the warm-up round on
# the first instance, and after the timed loop from the instance it ran on
OLAP_ROUNDS = ("warmup", "final")


def olap(check_dir, input_dir, oracle_sql, names, compare):
    """Every query's outputs against its DuckDB oracle on the same generated
    tables (`compare` is the repo's oracle-gate rule), and the state-table
    read against its raw twin, in each round. Returns {name: reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in OLAP_TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name in names:
        if name not in oracle_sql:
            continue
        try:
            exp = con.execute(oracle_sql[name]).fetchdf()
        except Exception as e:  # a failing oracle fails the query
            bad[name] = f"oracle: {type(e).__name__}: {e}"
            continue
        for rnd in OLAP_ROUNDS:
            try:
                ok, msg = compare(_read(os.path.join(check_dir, rnd, name)), exp.copy())
            except Exception as e:  # so does a missing or unreadable output
                ok, msg = False, f"{type(e).__name__}: {e}"
            if not ok:
                bad.setdefault(name, f"{rnd}: {msg}")
    keys = ["day", "event_type"]
    for rnd in OLAP_ROUNDS:
        try:
            st = _read(os.path.join(check_dir, rnd, "mv_state_read"))
            raw = _read(os.path.join(check_dir, rnd, "mv_raw_read"))
            ok, msg = compare(st.sort_values(keys, ignore_index=True),
                              raw.sort_values(keys, ignore_index=True))
        except Exception as e:
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            for n in ("mv_state_read", "mv_raw_read"):
                bad.setdefault(n, f"{rnd}: state read != raw read: {msg}")
    return bad


def dedup(ops, input_dir, manifest, ledger_path):
    """Survivor checks. `ops` are all harness op records (warm-up and
    measured; a traced run measures the batches twice, in an untraced and a
    traced loop, each from a fresh set-up). Returns {op id: reason} for
    measured ops that failed: two survivors (or a survivor and a history
    doc) sharing an exact text; a hot replica group not keeping exactly one
    doc; a survivor count that differs from the warm-up's, the other loop's
    or an earlier run's of the same build and seed on that batch."""
    hist = pd.read_parquet(os.path.join(input_dir, manifest["history"]))
    bad = {}
    counts = {o["batch"]: len(o.get("survivors", [])) for o in ops
              if o["phase"] == "warmup" and o.get("ok")}
    try:
        with open(ledger_path) as f:
            ledger = {int(k): v for k, v in json.load(f).items()}
    except (OSError, ValueError):
        ledger = {}
    for traced in (False, True):
        seen = set(hist["text"])
        for o in ops:
            if o["phase"] != "measure" or o["traced"] != traced or not o.get("ok"):
                continue
            b = pd.read_parquet(os.path.join(input_dir, manifest["batches"][o["batch"]]["file"]))
            kept = b[b["doc_id"].isin(set(o["survivors"]))]
            texts = list(kept["text"])
            if len(set(texts)) != len(texts) or seen.intersection(texts):
                bad[o["id"]] = "two survivors share an exact text"
            seen.update(texts)
            hot = kept[kept["kind"] == "hot"].groupby("grp").size()
            groups = set(b.loc[b["kind"] == "hot", "grp"])
            if set(hot.index) != groups or (hot != 1).any():
                bad[o["id"]] = "a hot replica group did not keep exactly one doc"
            n = len(o["survivors"])
            for other in (counts.get(o["batch"]), ledger.get(o["batch"])):
                if other is not None and other != n:
                    bad[o["id"]] = f"batch {o['batch']}: {n} survivors, {other} elsewhere"
            ledger.setdefault(o["batch"], n)
    os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
    with open(ledger_path, "w") as f:
        json.dump({str(k): v for k, v in sorted(ledger.items())}, f)
    return bad


def dedup_counts(ops, input_dir, manifest):
    """(exact duplicates, near duplicates, survivors) of each measured dedup
    op, in batch order, against the history and every earlier survivor."""
    seen = set(pd.read_parquet(os.path.join(input_dir, manifest["history"]))["text"])
    out = []
    for o in sorted(ops, key=lambda o: o["batch"]):
        b = pd.read_parquet(os.path.join(input_dir, manifest["batches"][o["batch"]]["file"]))
        survivors = set(o.get("survivors", []))
        exact, batch_seen = 0, set()
        for text in b.sort_values("doc_id")["text"]:
            exact += text in seen or text in batch_seen
            batch_seen.add(text)
        seen.update(b.loc[b["doc_id"].isin(survivors), "text"])
        out.append((exact, len(b) - len(survivors) - exact, len(survivors)))
    return out
