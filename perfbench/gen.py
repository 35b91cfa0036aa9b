#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

Every input the library sees is written here, from one seed, as parquet:

  olap_queries  TPC-H-ish star schema plus an `events` stream, in the
                schemas of the declared query packs, at about sf0.1 row counts
  dedup_ingest  a document corpus with planted near-duplicate groups and hot
                exact-replica groups, cut into a history and fixed batches

The same (workload, seed, scale) always gives byte-identical files; a
different seed gives different files. `python3 perfbench/gen.py --check`
proves both on a small scale.

Usage:
  python3 perfbench/gen.py --workload W --seed N --out DIR [--scale X]
  python3 perfbench/gen.py --check
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bumped whenever the generated data changes shape, so cached inputs are
# regenerated instead of reused.
GEN_VERSION = 4

WORKLOADS = ("olap_queries", "dedup_ingest")

# dedup_ingest corpus shape
DOC_WORDS = 40
DOC_VOCAB = 5000
DOC_TAIL = 4          # words replaced in a near-dup variant (Jaccard ~0.73)
HOT_GROUPS = 1        # hot exact-replica groups per batch
HOT_REPLICAS = 24     # replicas per hot group


def _write(table, path):
    # no pandas metadata, fixed writer settings: same data -> same bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   store_schema=False)


def _cents(rng, lo, hi, n):
    """Uniform 2-decimal money values in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values, pa.string())).cast(pa.string())


def _days(rng, start, end, n):
    """Date-only timestamps (microsecond unit) uniform in [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype("int64")
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + d * 86_400_000_000, pa.timestamp("us"))


def _distinct_micros(rng, lo, span, n):
    """n distinct microsecond offsets in [lo, lo + span)."""
    got = np.unique(rng.integers(0, span, n))
    while len(got) < n:
        got = np.unique(np.concatenate([got, rng.integers(0, span, n - len(got))]))
    rng.shuffle(got)
    return lo + got


def gen_olap(rng, out, scale):
    n_cust, n_part, n_supp = int(15000 * scale), int(20000 * scale), int(1000 * scale)
    n_ord, n_line, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_users = max(10, int(1500 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))})
    adj = ["large", "small", "hot", "cold", "red", "green", "shiny", "dull"]
    noun = ["ring", "bolt", "nut", "gear", "spring", "valve", "pipe", "plate"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pc.binary_join_element_wise(
            _pick(rng, adj, n_part), _pick(rng, noun, n_part), " "),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_cents(rng, 900, 2000, n_part))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_cents(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line)})
    # events: 30 days of 2024-01, no (user_id, ts) ties (q66's oracle orders
    # by ts alone), exponential values with two decimals
    start = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    ts = _distinct_micros(rng, start, 30 * 86_400 * 10**6, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    files = {}
    for name, tab in t.items():
        _write(tab, os.path.join(out, f"{name}.parquet"))
        files[name] = f"{name}.parquet"
    return {"tables": files, "rows": {k: v.num_rows for k, v in t.items()}}


def gen_dedup(rng, out, scale):
    vocab = np.array([hashlib.md5(f"w{i}".encode()).hexdigest()[:7] for i in range(DOC_VOCAB)])
    n_hist = max(40, int(2000 * scale))
    n_batches = max(4, int(40 * scale))
    batch_docs = max(60, int(160 * scale))
    next_id = [0]
    texts = []   # every text generated so far, for near-dup bases

    def fresh():
        return list(vocab[rng.integers(0, DOC_VOCAB, DOC_WORDS)])

    def variant(words):
        w = list(words)
        w[-DOC_TAIL:] = list(vocab[rng.integers(0, DOC_VOCAB, DOC_TAIL)])
        return w

    def doc(words, kind, group):
        i = next_id[0]; next_id[0] += 1
        texts.append(words)
        return (i, " ".join(words), kind, group)

    def table(rows):
        ids, txt, kind, group = zip(*rows)
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt),
                         "kind": pa.array(kind), "grp": pa.array(group, pa.int64())})

    # history: unique docs plus near-dup pairs, no exact duplicates
    hist = []
    while len(hist) < n_hist:
        if hist and rng.random() < 0.2:
            hist.append(doc(variant(texts[rng.integers(0, len(texts))]), "near", -1))
        else:
            hist.append(doc(fresh(), "unique", -1))
    _write(table(hist), os.path.join(out, "history.parquet"))
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    batches = []
    for b in range(n_batches):
        rows = []
        # hot exact-replica groups, new in this batch: the in-batch band
        # join sees HOT_REPLICAS^2 candidate pairs per group
        for g in range(HOT_GROUPS):
            words = fresh()
            for _ in range(HOT_REPLICAS):
                rows.append(doc(words, "hot", b * HOT_GROUPS + g))
        while len(rows) < batch_docs:
            r = rng.random()
            if r < 0.3:
                # planted near-dup of an earlier doc (history or batch)
                rows.append(doc(variant(texts[rng.integers(0, len(texts))]), "near", -1))
            else:
                rows.append(doc(fresh(), "unique", -1))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        name = f"batches/b{b:04d}.parquet"
        _write(table(rows), os.path.join(out, name))
        batches.append({"file": name, "rows": len(rows)})
    return {"history": "history.parquet", "history_rows": len(hist),
            "batches": batches, "threshold": 0.4}


GENERATORS = {"olap_queries": gen_olap, "dedup_ingest": gen_dedup}


def generate(workload, seed, out, scale=1.0):
    """Write the workload's inputs for `seed` into `out` (replaced) and
    return the manifest, which is also written as `out/manifest.json`."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.Generator(np.random.PCG64([seed, WORKLOADS.index(workload)]))
    manifest = GENERATORS[workload](rng, out, scale)
    manifest.update({"workload": workload, "seed": seed, "scale": scale,
                     "version": GEN_VERSION})
    raw = 0
    for root, _, files in os.walk(out):
        raw += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    manifest["raw_bytes"] = raw
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def cached(workload, seed, out, scale=1.0):
    """The manifest of `out` if it already holds this exact input, else
    regenerate it."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            m = json.load(f)
        if (m.get("workload"), m.get("seed"), m.get("scale"), m.get("version")) == \
                (workload, seed, scale, GEN_VERSION):
            return m
    except (OSError, ValueError):
        pass
    return generate(workload, seed, out, scale)


def digest(out):
    """sha256 over every file under `out`, by relative path."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check(base, scale=0.05):
    """Same seed twice -> identical files; another seed -> different files.
    Returns a list of failure messages (empty when the generator is sound)."""
    fails = []
    for w in WORKLOADS:
        a = digest_of(w, 7, os.path.join(base, f"{w}-a"), scale)
        b = digest_of(w, 7, os.path.join(base, f"{w}-b"), scale)
        c = digest_of(w, 8, os.path.join(base, f"{w}-c"), scale)
        if a != b:
            fails.append(f"{w}: same seed gave different files")
        if a == c:
            fails.append(f"{w}: different seeds gave identical files")
    shutil.rmtree(base, ignore_errors=True)
    return fails


def digest_of(workload, seed, out, scale):
    generate(workload, seed, out, scale)
    return digest(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    if a.check:
        here = os.path.dirname(os.path.abspath(__file__))
        fails = check(os.path.join(here, ".work", "gen-check"))
        for f in fails:
            print("FAIL", f)
        print("generator check:", "ok" if not fails else f"{len(fails)} failures")
        return 1 if fails else 0
    if not (a.workload and a.out):
        ap.error("--workload and --out are required")
    m = generate(a.workload, a.seed, a.out, a.scale)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "raw_bytes": m["raw_bytes"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
