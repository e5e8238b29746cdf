"""Tests of the benchmark itself: generators and checkers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generators must be reproducible byte for byte, and every checker must
reject a corrupted output. Correct outputs are built here in Python from the
generated inputs, so no JVM is needed.
"""
import glob
import json
import os
import shutil
import tempfile
import unittest

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen


def _files(root):
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


class Tmp(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def sub(self, name):
        p = os.path.join(self.dir, name)
        os.makedirs(p, exist_ok=True)
        return p


SMALL = {
    "etl_jdbc": dict(rows=3000),
    "curation": dict(docs=400),
    "vector_search": dict(n=200),
    "query_mix": {},
}


class GeneratorTest(Tmp):
    def test_same_seed_same_bytes(self):
        for name, fn in gen.GENERATORS.items():
            with self.subTest(workload=name):
                a, b, c = self.sub(name + "a"), self.sub(name + "b"), self.sub(name + "c")
                fn(7, a, **SMALL[name])
                fn(7, b, **SMALL[name])
                fn(8, c, **SMALL[name])
                fa = _files(a)
                self.assertTrue(fa)
                self.assertEqual(fa, _files(b))
                self.assertNotEqual(fa, _files(c))


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_the_runner(self):
        import run
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(run.WORKLOADS))


# ---- etl_jdbc ----------------------------------------------------------------

class EtlCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        self.inputs = self.sub("inputs")
        self.out = self.sub("out")
        gen.gen_etl(3, self.inputs, rows=3000)
        start, sentinel = gen.ETL_START, 2_000_000_000
        src = pq.read_table(os.path.join(self.inputs, "etl", "src.parquet"))
        rows = [r for r in src.to_pylist() if start <= r["TS"] < sentinel]
        self.rows = [self.stringify(r) for r in rows]
        self.facts = {"sink": os.path.join(self.dir, "sink"),
                      "rows_appended": len(rows), "scan_records": len(rows),
                      "start_time": start, "sentinel": sentinel,
                      "intervals": [[start, start + 1000],
                                    [start + 1000, sentinel]]}

    @staticmethod
    def stringify(r):
        """What the pipeline appends: strings, "null" literals as NULL."""
        out = {}
        for k, v in r.items():
            if v is None:
                out[k] = None
            elif isinstance(v, bool):
                out[k] = "true" if v else "false"
            elif k in ("D_DBL", "D_REAL"):
                out[k] = repr(float(v))
            elif k in check.STR_COLS and v.lower() == "null":
                out[k] = None
            else:
                out[k] = str(v)
        return out

    def run_check(self, rows, **facts):
        sink = os.path.join(self.dir, "sink")
        shutil.rmtree(sink, ignore_errors=True)
        os.makedirs(sink)
        cols = list(self.rows[0])
        pq.write_table(pa.table({c: pa.array([r[c] for r in rows], pa.string())
                                 for c in cols}), os.path.join(sink, "part-0.parquet"))
        f = dict(self.facts, rows_appended=len(rows), scan_records=len(rows))
        f.update(facts)
        with open(os.path.join(self.out, "etl.json"), "w") as fh:
            json.dump(f, fh)
        return check.check_etl(self.inputs, self.out)

    def test_correct_output_passes(self):
        v = self.run_check(self.rows)
        self.assertTrue(v.ok, v.messages)

    def test_dropped_row_fails(self):
        self.assertFalse(self.run_check(self.rows[1:]).ok)

    def test_duplicated_row_fails(self):
        self.assertFalse(self.run_check(self.rows + self.rows[:1]).ok)

    def test_altered_values_fail(self):
        for col, val in (("I_B", "12345"), ("D_DEC", "1.0000"),
                         ("D_DBL", "0.30000000000000004"), ("DT", "1999-01-01"),
                         ("S_V", "changed")):
            with self.subTest(column=col):
                rows = [dict(r) for r in self.rows]
                i = next(i for i, r in enumerate(rows) if r[col] not in (None, val))
                rows[i][col] = val
                self.assertFalse(self.run_check(rows).ok)

    def test_null_literal_left_as_string_fails(self):
        src = pq.read_table(os.path.join(self.inputs, "etl", "src.parquet")).to_pylist()
        lit_ids = {str(r["ID"]) for r in src if r["S_NV"] and r["S_NV"].lower() == "null"}
        rows = [dict(r) for r in self.rows]
        i = next(i for i, r in enumerate(rows) if r["ID"] in lit_ids)
        rows[i]["S_NV"] = "null"
        self.assertFalse(self.run_check(rows).ok)

    def test_bad_intervals_fail(self):
        s, e = gen.ETL_START, 2_000_000_000
        for ivs in ([[s, s + 10], [s + 20, e]], [[s + 1, e]], [[s, s + 10]]):
            with self.subTest(intervals=ivs):
                self.assertFalse(self.run_check(self.rows, intervals=ivs).ok)

    def test_scan_record_mismatch_fails(self):
        self.assertFalse(self.run_check(self.rows, scan_records=len(self.rows) * 2).ok)


# ---- curation ----------------------------------------------------------------

class CurationCheckTest(Tmp):
    SQL = ("SELECT doc_id FROM documents WHERE length(text) BETWEEN 100 AND 520 "
           "AND doc_id % 3 = 0 ORDER BY doc_id")

    def setUp(self):
        super().setUp()
        self.inputs = self.sub("inputs")
        self.out = self.sub("out")
        gen.gen_corpus(4, self.inputs, docs=400)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_curation": self.SQL}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.inputs}/corpus/documents.parquet'")
        self.kept = [r[0] for r in con.execute(self.SQL).fetchall()]
        self.short = con.execute("SELECT min(doc_id) FROM documents "
                                 "WHERE length(text) < 100").fetchone()[0]

    def run_check(self, kept):
        with open(os.path.join(self.out, "curation_kept.txt"), "w") as f:
            f.write("\n".join(str(k) for k in kept) + "\n")
        return check.check_curation(self.inputs, self.out)

    def test_correct_output_passes(self):
        v = self.run_check(self.kept)
        self.assertTrue(v.ok, v.messages)

    def test_dropped_duplicated_or_extra_docs_fail(self):
        self.assertFalse(self.run_check(self.kept[1:]).ok)
        self.assertFalse(self.run_check(self.kept + self.kept[:1]).ok)
        self.assertFalse(self.run_check(self.kept + [self.short]).ok)


# ---- vector_search -------------------------------------------------------------

class VectorCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        self.inputs = self.sub("inputs")
        self.out = self.sub("out")
        gen.gen_vectors(5, self.inputs, n=200, queries=6)
        t = pq.read_table(os.path.join(self.inputs, "vectors", "embeddings.parquet"))
        emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        norms = np.sqrt((emb * emb).sum(axis=1))
        self.rows = []
        for q in range(6):
            cos = emb @ emb[q] / (norms * norms[q])
            order = sorted((-cos[i], i) for i in range(len(emb)) if i != q)
            for rk, (neg, i) in enumerate(order[:gen.TOP_K], 1):
                self.rows.append([q, rk, i, -neg])
        self.cos = lambda q, i: float(emb[q] @ emb[i] / (norms[q] * norms[i]))

    def run_check(self, rows):
        with open(os.path.join(self.out, "topk.tsv"), "w") as f:
            for q, rk, n, c in rows:
                f.write(f"{q}\t{rk}\t{n}\t{c!r}\n")
        return check.check_vectors(self.inputs, self.out)

    def test_correct_output_passes(self):
        v = self.run_check(self.rows)
        self.assertTrue(v.ok, v.messages)
        self.assertEqual(v.quality, 1.0)

    def test_wrong_neighbour_fails(self):
        rows = [list(r) for r in self.rows]
        rows[0][2] = 150                       # same cosine, another vector
        self.assertFalse(self.run_check(rows).ok)

    def test_wrong_cosine_fails(self):
        rows = [list(r) for r in self.rows]
        rows[3][3] *= 1 + 1e-6
        self.assertFalse(self.run_check(rows).ok)

    def test_self_match_or_bad_ranks_fail(self):
        rows = [list(r) for r in self.rows]
        rows[0][2], rows[0][3] = 0, 1.0        # query 0 returns itself
        self.assertFalse(self.run_check(rows).ok)
        self.assertFalse(self.run_check(self.rows[1:]).ok)

    def test_recall_counts_true_neighbours(self):
        # an honest answer that misses the true 10th neighbour: still
        # correct, but recall drops below 1
        rows = [list(r) for r in self.rows]
        far = max(range(1, 200), key=lambda i: -self.cos(0, i))
        rows[gen.TOP_K - 1] = [0, gen.TOP_K, far, self.cos(0, far)]
        v = self.run_check(rows)
        self.assertTrue(v.ok, v.messages)
        self.assertLess(v.quality, 1.0)


# ---- query_mix -----------------------------------------------------------------

class MixCheckTest(Tmp):
    SQL = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q, "
           "min(l_shipdate) AS first FROM lineitem GROUP BY l_returnflag")

    def setUp(self):
        super().setUp()
        self.inputs = self.sub("inputs")
        self.out = self.sub("out")
        gen.gen_fixtures(6, self.inputs, lanes=["q_demo"])
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_demo": self.SQL}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{self.inputs}/fixtures/lineitem.parquet'")
        self.result = con.execute(self.SQL).arrow()

    def run_check(self, table):
        d = os.path.join(self.out, "mix", "q_demo")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        return check.check_mix(self.inputs, self.out)

    def test_correct_output_passes(self):
        v = self.run_check(self.result)
        self.assertTrue(v.ok, v.messages)

    def test_one_changed_cell_fails(self):
        for col in self.result.column_names:
            with self.subTest(column=col):
                df = self.result.to_pandas()
                v = df.at[1, col]
                df.at[1, col] = (v + pd.Timedelta(seconds=1) if col == "first"
                                 else v + 1 if not isinstance(v, str) else v + "x")
                table = pa.Table.from_pandas(df, schema=self.result.schema,
                                             preserve_index=False)
                self.assertFalse(self.run_check(table).ok)

    def test_missing_row_fails(self):
        self.assertFalse(self.run_check(self.result.slice(1)).ok)


if __name__ == "__main__":
    unittest.main()
