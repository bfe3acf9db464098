"""The oracle checks report corrupted results as failures.

    python3 perfbench/test_oracle.py

Runs without the engine: it feeds the checks correct and corrupted outputs
built from DuckDB's own answers.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import httpmix  # noqa: E402
import oracle  # noqa: E402


class OracleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, "out"))
        cls.data = os.path.join(cls.tmp, "data")
        gen.write_tables(cls.data, gen.star_schema(
            1, customers=200, orders=2000, events=500, parts=10, suppliers=5,
            lineitems=10))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def answer(self, name, lits, fmt):
        url, sql = httpmix.render(name, lits, fmt)
        con = oracle.connect(self.data, ["region", "nation", "customer", "orders", "events"])
        cur = con.execute(sql)
        return url, [d[0] for d in cur.description], cur.fetchall()

    def json_body(self, cols, rows):
        return json.dumps([dict(zip(cols, r)) for r in rows])

    def test_http_body_checks(self):
        _, cols, rows = self.answer("customer_big_orders", {"k": 50, "p": 400000}, "json")
        self.assertIsNone(httpmix.check("customer_big_orders", "json",
                                        self.json_body(cols, rows), cols, rows))
        bad = [list(r) for r in rows]
        bad[3][1] += 1
        self.assertIsNotNone(httpmix.check("customer_big_orders", "json",
                                           self.json_body(cols, bad), cols, rows))
        self.assertIsNotNone(httpmix.check("customer_big_orders", "json",
                                           self.json_body(cols, rows[:-1]), cols, rows))
        csv_body = "\n".join([",".join(cols)] + [",".join(map(str, r)) for r in rows])
        self.assertIsNone(httpmix.check("customer_big_orders", "csv", csv_body, cols, rows))
        self.assertIsNotNone(httpmix.check("customer_big_orders", "csv",
                                           csv_body.replace(",0\n", ",7\n", 1), cols, rows))

    def test_corrupted_response_counts_as_failed_request(self):
        work = os.path.join(self.tmp, "http")
        os.makedirs(os.path.join(work, "bodies"))
        reqs = [("order_quotient", {"g": "o_orderstatus"}, "json"),
                ("region_nations", {"r": 1}, "json")]
        res_reqs = []
        for i, (name, lits, fmt) in enumerate(reqs):
            _, cols, rows = self.answer(name, lits, fmt)
            if i == 1:
                rows = rows[:-1]  # corrupted: a row is missing
            sha = f"body{i}"
            with open(os.path.join(work, "bodies", sha), "w") as fh:
                fh.write(self.json_body(cols, rows))
            res_reqs.append({"i": i, "status": 200, "sha": sha, "lat_ms": 1.0})
        res = {"untraced": {"requests": res_reqs, "wall_s": 1.0}}
        out = oracle.check_http(res, work, {"data": self.data}, {"requests": reqs})
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))

    def test_corrupted_table_is_a_mismatch(self):
        t = pa.table({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
        self.assertIsNone(oracle.compare_tables(t, t))
        bad = pa.table({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 0.126]})
        self.assertIsNotNone(oracle.compare_tables(bad, t))
        self.assertIsNotNone(oracle.compare_tables(t.slice(0, 2), t))

    def test_corrupted_survivors_and_searches_fail(self):
        path = os.path.join(self.tmp, "a000.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([0, 4, 6], pa.int64()),
                                 "text": ["a b c d", "x y z café",
                                          "x y z café"]}), path)
        want = os.path.join(self.tmp, "want.txt")
        with open(want, "w") as fh:
            fh.write("0\n4")  # 6 is an NFC-equal clone of 4
        drains = [{"docs": 3, "wallS": 1.0, "compactions": 0}]
        searches = [{"latMs": 1.0, "ok": True, "checked": True, "staged": 1,
                     "terms": "x"}]
        res = {"untraced": {"ingest": {"drains": drains, "searches": searches,
                                       "survivors": want}}}
        drawn = {"arrivals": [f"{path}\t3\t30"]}
        self.assertEqual(oracle.check_ingest(res, drawn)["failed"], 0)
        with open(want, "w") as fh:
            fh.write("0\n4\n6")
        self.assertEqual(oracle.check_ingest(res, drawn)["failed"], 1)
        with open(want, "w") as fh:
            fh.write("0\n4")
        searches[0]["ok"] = False
        self.assertEqual(oracle.check_ingest(res, drawn)["failed"], 1)


if __name__ == "__main__":
    unittest.main()
