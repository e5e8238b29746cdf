"""Output checkers, one per workload.

Each checker reads the run's generated inputs and the JVM's outputs and
recomputes what the answer must be without graft: DuckDB for the relational
checks and numpy for the vector maths. A checker returns a Verdict; `ok` is
False when any output is wrong, and `quality` is the workload's answer
quality (recall@10 for vector search, else the share of checks that passed).
"""
import datetime
import json
import math
import os
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


@dataclass
class Verdict:
    ok: bool = True
    quality: float = 1.0
    messages: list = field(default_factory=list)

    def require(self, cond, msg):
        if not cond:
            self.ok = False
            self.messages.append(msg)
        return cond


def _json(path):
    with open(path) as f:
        return json.load(f)


# ---- etl_jdbc ----------------------------------------------------------------

INT_COLS = ["ID", "TS", "I_S", "I_I", "I_B"]
STR_COLS = ["S_NV", "S_V", "LOB"]


def check_etl(inputs, outputs):
    v = Verdict()
    facts = _json(os.path.join(outputs, "etl.json"))
    start, sentinel = facts["start_time"], facts["sentinel"]

    ivs = facts["intervals"]
    v.require(len(ivs) > 0, "no chunk intervals")
    if ivs:
        v.require(ivs[0][0] == start, f"first interval starts at {ivs[0][0]}, not {start}")
        v.require(ivs[-1][1] == sentinel, f"last interval ends at {ivs[-1][1]}, not {sentinel}")
        v.require(all(lo < hi for lo, hi in ivs), "an interval is empty or reversed")
        v.require(all(a[1] == b[0] for a, b in zip(ivs, ivs[1:])),
                  "intervals are not sorted, disjoint and contiguous")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet("
                f"'{inputs}/etl/src.parquet') WHERE TS >= {start} AND TS < {sentinel}")
    con.execute(f"CREATE VIEW sink AS SELECT * FROM read_parquet("
                f"'{facts['sink']}/*.parquet')")
    n_src = con.execute("SELECT count(*) FROM src").fetchone()[0]
    n_sink, n_ids = con.execute(
        "SELECT count(*), count(DISTINCT ID) FROM sink").fetchone()
    v.require(n_sink == n_src, f"sink has {n_sink} rows, source range {n_src}")
    v.require(n_ids == n_sink, f"{n_sink - n_ids} duplicated IDs at the sink")
    v.require(facts["rows_appended"] == n_sink,
              f"runJdbc reported {facts['rows_appended']} rows, sink has {n_sink}")
    v.require(facts["scan_records"] == n_sink,
              f"scan pass read {facts['scan_records']} JDBC records, sink has {n_sink}")
    missing = con.execute("SELECT count(*) FROM src WHERE ID NOT IN "
                          "(SELECT CAST(ID AS BIGINT) FROM sink)").fetchone()[0]
    v.require(missing == 0, f"{missing} source rows missing at the sink")

    expect = {c: f"CAST(s.{c} AS VARCHAR)" for c in INT_COLS}
    expect.update({c: f"CASE WHEN lower(s.{c}) = 'null' THEN NULL ELSE s.{c} END"
                   for c in STR_COLS})
    expect["B"] = "CASE WHEN s.B THEN 'true' WHEN NOT s.B THEN 'false' END"
    expect["DT"] = "strftime(s.DT, '%Y-%m-%d')"
    join = "FROM src s JOIN sink k ON CAST(k.ID AS BIGINT) = s.ID"
    for c, e in expect.items():
        bad = con.execute(f"SELECT count(*) {join} WHERE k.{c} IS DISTINCT FROM {e}"
                          ).fetchone()[0]
        v.require(bad == 0, f"column {c}: {bad} values differ")
    bad = con.execute(f"SELECT count(*) {join} WHERE (k.D_DEC IS NULL) <> "
                      f"(s.D_DEC IS NULL) OR CAST(k.D_DEC AS DECIMAL(18,4)) "
                      f"<> s.D_DEC").fetchone()[0]
    v.require(bad == 0, f"column D_DEC: {bad} values differ")
    for c, dt, it in (("D_DBL", np.float64, np.int64), ("D_REAL", np.float32, np.int32)):
        s_val, k_val = con.execute(f"SELECT s.{c}, k.{c} {join} ORDER BY s.ID"
                                   ).fetchnumpy().values()
        s_null = np.ma.getmaskarray(s_val) if np.ma.isMaskedArray(s_val) else \
            pd.isna(s_val)
        k_null = pd.isna(k_val)
        v.require(bool((s_null == k_null).all()), f"column {c}: NULLs differ")
        keep = ~s_null & ~k_null
        src_bits = np.asarray(np.ma.getdata(s_val)[keep], dtype=dt).view(it)
        sink_bits = np.array([float(x) for x in np.asarray(k_val)[keep]],
                             dtype=np.float64).astype(dt).view(it)
        bad = int((src_bits != sink_bits).sum())
        v.require(bad == 0, f"column {c}: {bad} values are not bit-exact")
    return v


# ---- curation ----------------------------------------------------------------

def check_curation(inputs, outputs):
    v = Verdict()
    with open(os.path.join(outputs, "curation_kept.txt")) as f:
        kept = [int(x) for x in f.read().split()]
    v.require(len(kept) == len(set(kept)), "a kept doc_id repeats")
    sql = _json(os.path.join(outputs, "oracle_sql.json"))["q_curation"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{inputs}/corpus/documents.parquet')")
    want = {int(r[0]) for r in con.execute(sql).fetchall()}
    got = set(kept)
    v.require(got == want, f"kept set differs from the oracle: "
              f"{len(got - want)} extra, {len(want - got)} missing")
    lens = dict(con.execute("SELECT doc_id, length(text) FROM documents").fetchall())
    short = [d for d in got if not 100 <= lens.get(d, -1) <= 520]
    v.require(not short, f"{len(short)} kept documents fail the length gate")
    v.require(len(kept) > 0, "nothing kept")
    return v


# ---- vector_search -------------------------------------------------------------

def check_vectors(inputs, outputs):
    v = Verdict()
    with open(os.path.join(inputs, "params.properties")) as f:
        params = dict(l.strip().split("=", 1) for l in f if "=" in l)
    q, k = int(params["queries"]), int(params["k"])
    t = pq.read_table(os.path.join(inputs, "vectors", "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    pos = {int(i): p for p, i in enumerate(ids)}
    norms = np.sqrt((emb * emb).sum(axis=1))

    rows = []
    with open(os.path.join(outputs, "topk.tsv")) as f:
        for line in f:
            a, b, c, d = line.split("\t")
            rows.append((int(a), int(b), int(c), float(d)))
    by_q = {}
    for qi, rk, ni, cos in rows:
        by_q.setdefault(qi, []).append((rk, ni, cos))
    v.require(sorted(by_q) == list(range(q)), f"answers for {len(by_q)} of {q} queries")
    hits = 0
    for qi in range(q):
        got = sorted(by_q.get(qi, []))
        v.require([r for r, _, _ in got] == list(range(1, k + 1)),
                  f"query {qi}: ranks are not 1..{k}")
        x = emb[pos[qi]]
        exact = emb @ x / (norms * norms[pos[qi]])
        for rk, ni, cos in got:
            v.require(ni != qi, f"query {qi}: returns itself")
            ref = exact[pos[ni]]
            v.require(abs(cos - ref) <= 1e-9 * abs(ref),
                      f"query {qi}: cos({ni}) = {cos!r}, numpy {ref!r}")
        order = [(-cos, ni) for _, ni, cos in got]
        v.require(order == sorted(order), f"query {qi}: not ordered by cos, then id")
        cand = [(-exact[p], int(i)) for p, i in enumerate(ids) if int(i) != qi]
        truth = {i for _, i in sorted(cand)[:k]}
        hits += len(truth & {ni for _, ni, _ in got})
    v.quality = hits / float(q * k)
    return v


# ---- query_mix -----------------------------------------------------------------

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(x):
    """One cell in canonical text form, the same rules as tools/drivercheck.py:
    NaN is NULL, decimals and floats keep their exact text, a date equals the
    midnight timestamp, arrays compare element-wise."""
    if x is None:
        return "@NULL"
    if isinstance(x, (float, np.floating)):
        f = float(x)
        return "@NULL" if math.isnan(f) else repr(f)
    if isinstance(x, Decimal):
        return "DEC:" + str(x)
    if isinstance(x, (bool, np.bool_)):
        return "B:" + str(bool(x))
    if isinstance(x, (int, np.integer)):
        return "I:" + str(int(x))
    if isinstance(x, pd.Timestamp):
        return "T:" + x.isoformat()
    if isinstance(x, datetime.date) and not isinstance(x, datetime.datetime):
        return "T:" + datetime.datetime(x.year, x.month, x.day).isoformat()
    if isinstance(x, (bytes, bytearray)):
        return "X:" + bytes(x).hex()
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(y) for y in x) + "]"
    try:
        if pd.isna(x):
            return "@NULL"
    except (TypeError, ValueError):
        pass
    return "S:" + str(x)


def compare_frames(s, o):
    """None when equal as multisets of canonical rows, else a reason."""
    s = s[sorted(s.columns)]
    o = o[sorted(o.columns)]
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    srows = sorted(tuple(canon(x) for x in r) for r in s.itertuples(index=False))
    orows = sorted(tuple(canon(x) for x in r) for r in o.itertuples(index=False))
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None


def check_mix(inputs, outputs):
    v = Verdict()
    oracles = _json(os.path.join(outputs, "oracle_sql.json"))
    with open(os.path.join(inputs, "lanes.txt")) as f:
        lanes = [l.strip() for l in f if l.strip()]
    v.require(sorted(oracles) == sorted(lanes), "results missing for some lanes")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{inputs}/fixtures/{t}.parquet')")
    good = 0
    for name in sorted(oracles):
        sql = oracles[name]
        if not v.require(bool(sql), f"{name}: no oracle"):
            continue
        try:
            s = pd.read_parquet(os.path.join(outputs, "mix", name))
            o = con.execute(sql).df()
        except Exception as e:          # noqa: BLE001 - reported as a failure
            v.require(False, f"{name}: {e}")
            continue
        why = compare_frames(s, o)
        if v.require(why is None, f"{name}: {why}"):
            good += 1
    v.quality = good / max(1, len(lanes))
    return v


CHECKERS = {
    "etl_jdbc": check_etl,
    "curation": check_curation,
    "vector_search": check_vectors,
    "query_mix": check_mix,
}
