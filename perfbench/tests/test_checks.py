"""The output checks catch a perturbed result.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

AGGS = {"orders_lineitem_merged": {
    "groupby": ["o_orderstatus_orders"], "aggcols": ["l_quantity_lineitem"],
    "funcs": ["sum", "mean", "min", "max", "count"]}}


class MedallionCheckTest(unittest.TestCase):
    """A layer written exactly as the replay computes it passes; one
    changed value, one dropped row or one missing table fails."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        gen.write_star(5, 0.0005, cls.tmp, 2, 0.3)
        cls.source = os.path.join(cls.tmp, "source")
        cls.expected = checks.replay_medallion(cls.source, gen.STAR_TABLES,
                                               AGGS)
        # the program's layers, stood in for by DuckDB writing the replay
        cls.layers = os.path.join(cls.tmp, "layers")
        con = duckdb.connect()
        for t in gen.STAR_TABLES:
            cls._write(con, "raw", t, checks.source_view_sql(cls.source, t))
        con.execute(f"CREATE VIEW lineitem AS "
                    f"{checks.source_view_sql(cls.source, 'lineitem')}")
        con.execute(f"CREATE VIEW orders AS "
                    f"{checks.source_view_sql(cls.source, 'orders')}")
        cls.con = con

    @classmethod
    def _write(cls, con, layer, name, sql):
        d = os.path.join(cls.layers, layer, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.tmp)

    def test_mapping_plan_keeps_the_empty_name_joins(self):
        merged = [t for t in self.expected["silver_mapping"]
                  if t.endswith("_merged")]
        empty = [t for t in merged
                 if self.expected["silver_mapping"][t][1] == 0]
        self.assertEqual(len(merged), 14)
        self.assertIn("region_customer_merged", empty)
        self.assertIn("events", self.expected["silver_mapping"])

    def test_raw_layer_equal_to_source_passes(self):
        got = checks.layer_digests(self.layers, layers=("raw",))
        self.assertEqual(checks.compare_layers(
            {"raw": self.expected["raw"]}, got), [])

    def test_perturbed_value_is_caught(self):
        perturbed = os.path.join(self.tmp, "perturbed")
        shutil.copytree(self.layers, perturbed)
        path = f"{perturbed}/raw/lineitem.parquet/part-0.parquet"
        table = pq.read_table(path)
        qty = table.column("l_quantity").to_numpy().copy()
        qty[3] += 1
        table = table.set_column(table.schema.get_field_index("l_quantity"),
                                 "l_quantity", [qty])
        pq.write_table(table, path)
        got = checks.layer_digests(perturbed, layers=("raw",))
        problems = checks.compare_layers({"raw": self.expected["raw"]}, got)
        self.assertEqual(len(problems), 1)
        self.assertIn("raw/lineitem", problems[0])
        shutil.rmtree(perturbed)

    def test_dropped_row_and_missing_table_are_caught(self):
        expected = copy.deepcopy(self.expected)
        got = copy.deepcopy(self.expected)
        cols, n, h = got["silver"]["agg_orders_lineitem_merged"]
        got["silver"]["agg_orders_lineitem_merged"] = [cols, n - 1, h]
        del got["silver_mapping"]["events"]
        problems = checks.compare_layers(expected, got)
        self.assertEqual(len(problems), 2)

    def test_a_table_without_parts_compares_as_empty(self):
        empty = [["a"], 0, 0]
        full = [["a"], 3, 123]
        for exp, got, n in ((empty, None, 0), (None, empty, 0),
                            (None, None, 0), (None, full, 1),
                            (full, None, 1)):
            self.assertEqual(len(checks.compare_layers(
                {"silver": {"t": exp}}, {"silver": {"t": got}})), n,
                (exp, got))

    def test_aggregate_replay_matches_direct_sql(self):
        cols, n, _ = self.expected["silver"]["agg_orders_lineitem_merged"]
        self.assertEqual(cols, ["o_orderstatus_orders",
                                "l_quantity_lineitem_sum",
                                "l_quantity_lineitem_mean",
                                "l_quantity_lineitem_min",
                                "l_quantity_lineitem_max",
                                "l_quantity_lineitem_count"])
        statuses = self.con.execute(
            "SELECT count(DISTINCT o.o_orderstatus) FROM orders o JOIN "
            "lineitem l ON o.o_orderkey = l.l_orderkey").fetchone()[0]
        self.assertEqual(n, statuses)


class CorpusCheckTest(unittest.TestCase):
    def setUp(self):
        rng = np.random.default_rng(0)
        self.ids = np.arange(200, dtype=np.int64)
        self.vecs = rng.normal(size=(200, 8))
        self.q_ids = np.array([10**9, 10**9 + 1], dtype=np.int64)
        self.truth = checks.brute_force(self.q_ids, rng.normal(size=(2, 8)),
                                        self.ids, self.vecs, 10)

    def served(self, truth):
        return [(q, i, r + 1) for q, ranked in truth.items()
                for r, (_, i) in enumerate(ranked[:10])]

    def test_exact_serve_passes(self):
        self.assertEqual(checks.exact_topk_matches(
            self.served(self.truth), self.truth, 10), [])
        self.assertEqual(checks.recall_at_k(
            self.served(self.truth), self.truth, 10), 1.0)

    def test_perturbed_serve_is_caught(self):
        rows = self.served(self.truth)
        q0 = rows[0][0]
        outsider = next(i for i in self.ids.tolist()
                        if i not in {r[1] for r in rows if r[0] == q0})
        rows[0] = (q0, outsider, 1)
        self.assertEqual(checks.exact_topk_matches(rows, self.truth, 10), [q0])
        self.assertEqual(checks.recall_at_k(rows, self.truth, 10), 19 / 20)

    def test_missing_rows_are_caught(self):
        rows = self.served(self.truth)[1:]
        self.assertEqual(len(checks.exact_topk_matches(rows, self.truth, 10)),
                         1)


class IngestCheckTest(unittest.TestCase):
    """The recorded curation survivors and Dedup flags of a generated
    corpus pass when they are what the gates and an exact Jaccard give;
    a curation that keeps nothing, a Dedup that flags everything or
    nothing, each fails."""

    CONFIG = {"min_quality": 0.5, "langs": ["de", "en", "es", "fr"],
              "length_floor": "1/10"}

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        gen.write_corpus(3, 400, 2, 100, 4, 10, cls.tmp)

        def read(path):
            return pq.read_table(os.path.join(cls.tmp, path), columns=[
                "doc_id", "text", "lang"]).to_pydict()
        cls.base = read("documents.parquet")
        cls.batches = [read(f"batches/{b}/documents.parquet")
                       for b in range(2)]
        with open(os.path.join(cls.tmp, "takedown.json")) as f:
            cls.takedown = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def honest(self):
        """What a correct ingest records: the gates' survivors, and those
        of them that a planted " dup" copy of a live base text."""
        out = []
        for docs in self.batches:
            kept = checks.curation_survivors(docs, self.CONFIG)
            dups = [d for d, t in zip(docs["doc_id"], docs["text"])
                    if d in kept and t.endswith(" dup")]
            out.append({"docs": docs, "kept": sorted(kept),
                        "near_dups": dups})
        return out

    def check(self, batches):
        return checks.check_ingest(self.base, batches, self.takedown,
                                   self.CONFIG)

    def test_generated_batches_follow_the_fixture_shape(self):
        docs = self.batches[0]
        planted = [t for t in docs["text"] if t.endswith(" dup")]
        self.assertEqual(len(planted), 5)
        words = [len(t.split()) for t in docs["text"]]
        self.assertGreaterEqual(min(words), gen.MIN_WORDS)
        self.assertLessEqual(max(words), gen.MAX_WORDS + 1)
        self.assertTrue(set(docs["lang"]) <= set(gen.LANGS))

    def test_quality_score_follows_the_three_signals(self):
        self.assertEqual(checks.quality_score("the cat sat on a mat")[0], 1.0)
        self.assertEqual(checks.quality_score("cat sat mat!!!")[0], 0.3333)
        self.assertEqual(checks.quality_score("")[0], 0.3333)

    def test_length_floor_drops_the_shortest_tenth(self):
        docs = {"doc_id": list(range(20)),
                "text": ["the " + "word " * i for i in range(20)],
                "lang": ["en"] * 20}
        # k = ceil(20 / 10) = 2: the two shortest go
        self.assertEqual(checks.curation_survivors(docs, self.CONFIG),
                         set(range(2, 20)))

    def test_correct_ingest_passes(self):
        batches = self.honest()
        self.assertTrue(any(b["near_dups"] for b in batches))
        self.assertEqual(self.check(batches), [])

    def test_curation_keeping_nothing_is_caught(self):
        batches = self.honest()
        batches[1]["kept"], batches[1]["near_dups"] = [], []
        found = self.check(batches)
        self.assertIn(1, [b for b, _ in found])

    def test_dedup_flagging_everything_is_caught(self):
        batches = self.honest()
        batches[0]["near_dups"] = list(batches[0]["kept"])
        self.assertIn(0, [b for b, _ in self.check(batches)])

    def test_dedup_flagging_nothing_is_caught(self):
        batches = self.honest()
        for b in batches:
            b["near_dups"] = []
        self.assertEqual([b for b, _ in self.check(batches)], [None])


if __name__ == "__main__":
    unittest.main()
