"""Seeded input generators for the four workloads.

Every generator takes a seed and an output directory and writes parquet
files (plus a `params.properties` the benchmark's JVM reads). The same seed gives
byte-identical files; nothing depends on the clock or on the machine.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes -----------------------------------------------------------------

ETL_ROWS = 128_000
ETL_CHUNK = 5120               # ~24 chunks, more than the task slots
ETL_START = 1_600_000_000      # startTime, inclusive (GraftConfig)
CURATION_DOCS = 2_000
VECTORS = 300
VECTOR_DIMS = 64
VECTOR_CLUSTERS = 12
VECTOR_QUERIES = 20
TOP_K = 10

WORDS = ("agg table spark hash sort key vector fast join value data query "
         "window batch filter group line column small stream merge scan "
         "order slow big row part customer").split()
# marker words the language gate counts (CurationPipeline / TextAnalysis)
MARKERS = {"en": ["the", "a", "and"], "de": ["der", "und", "die"],
           "es": ["el", "la", "y"], "fr": ["le", "et", "les"],
           "zh": ["shi", "de", "le"]}
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings, no pandas metadata: identical bytes per seed
    pq.write_table(table, path, compression="snappy", store_schema=False,
                   write_statistics=True, row_group_size=1 << 20)


def _params(out, **kv):
    with open(os.path.join(out, "params.properties"), "w") as f:
        for k in sorted(kv):
            f.write(f"{k}={kv[k]}\n")


def _with_nulls(rng, values, share):
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def _null_literals(rng, values, share):
    """Replace a share of values with case variants of the string "null"."""
    variants = ["NULL", "null", "Null", "nUlL"]
    pick = rng.random(len(values)) < share
    which = rng.integers(0, len(variants), len(values))
    return [variants[w] if p else v for v, p, w in zip(values, pick, which)]


def _decimals(unscaled, null_mask, precision=18, scale=4):
    """DECIMAL(precision, scale) array from int64 unscaled values."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)   # 128-bit sign extension
    valid = pa.array(~null_mask).buffers()[1]
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(unscaled),
                                 [valid, pa.py_buffer(words.tobytes())],
                                 null_count=int(null_mask.sum()))


# ---- etl_jdbc ----------------------------------------------------------------

def _phrases(rng, lengths):
    """One string of `lengths[i]` random words per row, drawn in one call."""
    ws = np.array(WORDS, dtype=object)[
        rng.integers(0, len(WORDS), int(lengths.sum()))].tolist()
    ends = np.cumsum(lengths).tolist()
    return [" ".join(ws[e - k:e]) for k, e in zip(lengths.tolist(), ends)]


def gen_etl(seed, out, rows=ETL_ROWS):
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, rows + 1, dtype=np.int64)
    # epoch seconds with many ties; ~5% before startTime (not read) and a
    # few exactly at startTime (read: startTime is inclusive)
    ts = ETL_START + rng.integers(-20_000, 400_000, rows)
    ts[rng.choice(rows, 5, replace=False)] = ETL_START
    s_nv = _phrases(rng, rng.integers(1, 8, rows))
    s_nv = _with_nulls(rng, _null_literals(rng, s_nv, 0.05), 0.03)
    s_v = [f"C{v:05d}" for v in rng.integers(0, 50_000, rows)]
    s_v = _with_nulls(rng, _null_literals(rng, s_v, 0.04), 0.03)
    lob = _phrases(rng, rng.integers(5, 30, rows))
    lob = _with_nulls(rng, _null_literals(rng, lob, 0.02), 0.03)
    i_s = _with_nulls(rng, rng.integers(-32768, 32768, rows).tolist(), 0.02)
    i_i = _with_nulls(rng, rng.integers(-2**31, 2**31, rows).tolist(), 0.02)
    i_b = _with_nulls(rng, rng.integers(-2**62, 2**62, rows).tolist(), 0.02)
    d_dec = _decimals(rng.integers(-10**14, 10**14, rows), rng.random(rows) < 0.02)
    mag = 10.0 ** rng.integers(-5, 11, rows)
    d_dbl = rng.standard_normal(rows) * mag
    d_dbl[d_dbl == 0.0] = 1.0
    d_dbl = _with_nulls(rng, d_dbl.tolist(), 0.02)
    d_real = (rng.standard_normal(rows) * 10.0 ** rng.integers(-3, 7, rows)
              ).astype(np.float32)
    d_real[d_real == 0.0] = np.float32(1.0)
    d_real = _with_nulls(rng, d_real.tolist(), 0.02)
    b = _with_nulls(rng, (rng.random(rows) < 0.5).tolist(), 0.02)
    dt = _with_nulls(rng, rng.integers(7_300, 19_000, rows).tolist(), 0.02)
    table = pa.table({
        "ID": pa.array(ids, pa.int64()),
        "TS": pa.array(ts, pa.int64()),
        "S_NV": pa.array(s_nv, pa.string()),
        "S_V": pa.array(s_v, pa.string()),
        "LOB": pa.array(lob, pa.string()),
        "I_S": pa.array(i_s, pa.int16()),
        "I_I": pa.array(i_i, pa.int32()),
        "I_B": pa.array(i_b, pa.int64()),
        "D_DEC": d_dec,
        "D_DBL": pa.array(d_dbl, pa.float64()),
        "D_REAL": pa.array(d_real, pa.float32()),
        "B": pa.array(b, pa.bool_()),
        "DT": pa.array(dt, pa.int32()).cast(pa.date32()),
    })
    _write(table, os.path.join(out, "etl", "src.parquet"))
    _params(out, start_time=ETL_START, chunk_size=ETL_CHUNK, rows=rows)


# ---- curation ----------------------------------------------------------------

def _doc_text(rng, lang, n_words):
    words = list(rng.choice(WORDS, n_words))
    # language markers, plus enough stop words for the stop-ratio floor
    n_mark = max(2, n_words // 8)
    marks = list(rng.choice(MARKERS[lang], n_mark))
    # stop words that are not English markers, so the gate stays with lang
    stops = (list(rng.choice(["of", "to", "in", "is"], max(1, n_words // 12)))
             if lang != "en" else [])
    toks = words + marks + stops
    rng.shuffle(toks)
    return " ".join(toks)


def _mutate(rng, text, share):
    toks = text.split(" ")
    for i in np.nonzero(rng.random(len(toks)) < share)[0]:
        toks[i] = WORDS[rng.integers(0, len(WORDS))] + "x"
    return " ".join(toks)


def gen_corpus(seed, out, docs=CURATION_DOCS):
    rng = np.random.default_rng([seed, 2])
    texts, langs = [], []
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            # exact duplicate after normalization: case and punctuation only
            j = int(rng.integers(0, i))
            t = texts[j].upper() if rng.random() < 0.5 else texts[j] + " !!"
            texts.append(t)
            langs.append(langs[j])
        elif i > 10 and r < 0.20:
            # near duplicate: a few words (Jaccard above 0.5) or many (below)
            j = int(rng.integers(0, i))
            share = 0.03 if rng.random() < 0.5 else 0.35
            texts.append(_mutate(rng, texts[j], share))
            langs.append(langs[j])
        else:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            # lengths on both sides of the 100..520 character gate
            texts.append(_doc_text(rng, lang, int(rng.integers(10, 95))))
            # a few labels disagree with the text's language
            langs.append(lang if rng.random() > 0.05
                         else LANGS[int(rng.integers(0, len(LANGS)))])
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, os.path.join(out, "corpus", "documents.parquet"))
    _params(out, docs=docs)


# ---- vector_search -------------------------------------------------------------

def gen_vectors(seed, out, n=VECTORS, dims=VECTOR_DIMS,
                clusters=VECTOR_CLUSTERS, queries=VECTOR_QUERIES):
    rng = np.random.default_rng([seed, 3])
    centers = rng.standard_normal((clusters, dims))
    label = rng.integers(0, clusters, n)
    vecs = centers[label] + 0.6 * rng.standard_normal((n, dims))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, dims).cast(pa.list_(pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })
    _write(table, os.path.join(out, "vectors", "embeddings.parquet"))
    _params(out, queries=queries, k=TOP_K, vectors=n)


# ---- query_mix -----------------------------------------------------------------

# Lanes of SparkEntry.queries that own no shared memo, write no fixed path
# and agree with their DuckDB oracle on every generated fixture set.
LANES = [
    "q_chunk_intervals", "q_range_halfopen", "q_stringify", "q_null_literal",
    "q_cast_type_map", "q_window_battery", "q_rollup", "q_semi_anti",
    "q_topk_per_group", "q_text_quality", "q_lang_id", "q_sim_topk_brute",
]

MIX_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500}


def _ts(days, secs=None):
    """Naive timestamps (parquet isAdjustedToUTC=false, read as NTZ)."""
    base = np.datetime64("1970-01-01T00:00:00", "us")
    us = np.asarray(days, np.int64) * 86_400_000_000
    if secs is not None:
        us = us + np.asarray(secs, np.int64)
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _day(y, m, d):
    return (datetime.date(y, m, d) - datetime.date(1970, 1, 1)).days


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def gen_fixtures(seed, out, lanes=None):
    rng = np.random.default_rng([seed, 4])
    d = os.path.join(out, "fixtures")
    s = MIX_SIZES
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{d}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{d}/nation.parquet")
    n = s["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(list(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n))),
    }), f"{d}/customer.parquet")
    n = s["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    }), f"{d}/supplier.parquet")
    n = s["part"]
    adj = ["blue", "red", "small", "old", "new", "hot", "cold"]
    noun = ["bolt", "gear", "anvil", "ring", "rod", "plate", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 7, n), rng.integers(0, 7, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(list(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n))),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1
                                           + rng.integers(0, 100, n), 2)),
    }), f"{d}/part.parquet")
    n = s["orders"]
    o_lo, o_hi = _day(1995, 1, 1), _day(2001, 8, 1)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n)),
        "o_orderstatus": pa.array(list(rng.choice(["F", "O", "P"], n))),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _ts(rng.integers(o_lo, o_hi + 1, n)),
        "o_orderpriority": pa.array(list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n))),
    }), f"{d}/orders.parquet")
    n = s["lineitem"]
    l_lo, l_hi = _day(1995, 1, 2), _day(2001, 11, 4)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, s["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(list(rng.choice(["A", "N", "R"], n))),
        "l_linestatus": pa.array(list(rng.choice(["O", "F"], n))),
        "l_shipdate": _ts(rng.integers(l_lo, l_hi + 1, n)),
    }), f"{d}/lineitem.parquet")
    n = s["events"]
    secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(np.full(n, _day(2024, 1, 1)), secs),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": pa.array(list(rng.choice(
            ["click", "signup", "error", "view", "purchase"], n))),
        "value": pa.array(_money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), f"{d}/events.parquet")
    n = s["documents"]
    texts = [" ".join(rng.choice(WORDS + ["the", "a", "dup"], k))
             for k in rng.integers(8, 80, n)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(LANGS, n, p=[.44, .14, .14, .14, .14]))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{d}/documents.parquet")
    n = s["embeddings"]
    vecs = (rng.standard_normal((n, 64)) * 0.1).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }), f"{d}/embeddings.parquet")
    order = list(lanes if lanes is not None else LANES)
    rng.shuffle(order)
    with open(os.path.join(out, "lanes.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
    _params(out, lanes=len(order))


GENERATORS = {
    "etl_jdbc": gen_etl,
    "curation": gen_corpus,
    "vector_search": gen_vectors,
    "query_mix": gen_fixtures,
}
