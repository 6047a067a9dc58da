"""Tests of the seeded generator and request stream.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402


def digest_tree(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f == "plan.json":  # holds absolute paths; compared separately
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generated(workload, seed):
    """Digest of every file and the plan, with work-dir paths made relative."""
    with tempfile.TemporaryDirectory() as work:
        plan = gen.generate(workload, seed, work)
        text = json.dumps(plan, sort_keys=True).replace(work, "<work>")
        return digest_tree(work), text


class SmallSizes(unittest.TestCase):
    def setUp(self):
        self.saved = {k: dict(v) for k, v in gen.SIZES.items()}
        gen.SIZES["lookup"].update(docs=400, emb=200)
        gen.SIZES["pipeline"].update(docs=600, emb=200, events=3000)

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.saved)


class Determinism(SmallSizes):
    def test_same_seed_gives_identical_inputs_and_requests(self):
        for w in ("lookup", "pipeline"):
            with self.subTest(workload=w):
                self.assertEqual(generated(w, 7), generated(w, 7))

    def test_other_seed_differs(self):
        for w in ("lookup", "pipeline"):
            with self.subTest(workload=w):
                a, b = generated(w, 7), generated(w, 8)
                self.assertNotEqual(a[0], b[0])
                self.assertNotEqual(a[1], b[1])

    def test_stream_draws_every_kind(self):
        with tempfile.TemporaryDirectory() as work:
            plan = gen.generate("lookup", 3, work)
        kinds = set()
        for i in plan["stream"]:
            r = plan["distinct"][i]
            kinds.add(r["op"] if r["op"] != "buscar" else (set(r) - {"op"}).pop())
        self.assertEqual(kinds, set(gen.LOOKUP_MIX))


class StaleProbe(unittest.TestCase):
    def test_documents_probes_have_answers_before_and_after_replacement(self):
        # a probe with an empty answer on the replacement cannot tell a
        # stale reader's empty answer from a fresh one; at full size,
        # pipeline seed 35 drew such an n_chars search before the probe
        # was pointed at lengths both corpora contain
        for w, seed in (("pipeline", 35), ("lookup", 1)):
            with self.subTest(workload=w, seed=seed), tempfile.TemporaryDirectory() as work:
                plan = gen.generate(w, seed, work)
                for docs in (os.path.join(plan["data"], "documents.parquet"),
                             plan["replacement"]):
                    con = duckdb.connect()
                    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
                    for q in plan["probe"]:
                        if q["op"] == "buscar":
                            sql, args = check.twin_sql(q)
                            n = con.execute(f"SELECT count(*) FROM ({sql})", args).fetchone()
                            self.assertGreater(n[0], 0, q)


# Exact token-set Jaccard over all document pairs, rounded half-up like
# the engine, computed by DuckDB without the generator's cluster labels.
ALL_PAIRS_SQL = """
WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents)
SELECT a.doc_id, b.doc_id,
       round(1.0 * len(list_intersect(a.s, b.s))
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) >= 0.85 * greatest(len(a.s), len(b.s))
"""


class PlantedTruth(SmallSizes):
    def test_planted_pairs_are_exactly_the_pairs_duckdb_finds(self):
        with tempfile.TemporaryDirectory() as work:
            plan = gen.generate("pipeline", 11, work)
            with open(os.path.join(plan["data"], "planted_pairs.json")) as f:
                planted = [tuple(p) for p in json.load(f)]
            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(plan["data"], "documents.parquet"))
            found = sorted((a, b, float(j)) for a, b, j in con.execute(ALL_PAIRS_SQL).fetchall()
                           if j >= gen.JACCARD_MIN)
        self.assertGreater(len(planted), 10)
        self.assertEqual(planted, found)

    def test_embeddings_cluster_by_label(self):
        with tempfile.TemporaryDirectory() as work:
            plan = gen.generate("lookup", 5, work)
            con = duckdb.connect()
            con.execute("CREATE VIEW e AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(plan["data"], "embeddings.parquet"))
            # same-label pairs are far more similar than cross-label pairs
            same, cross = con.execute("""
                SELECT avg(s) FILTER (WHERE same), avg(s) FILTER (WHERE NOT same)
                FROM (SELECT a.label = b.label AS same,
                             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[])) AS s
                      FROM e a JOIN e b ON a.vec_id < b.vec_id)
            """).fetchone()
        self.assertGreater(same, 0.4)
        self.assertLess(abs(cross), 0.15)


if __name__ == "__main__":
    unittest.main()
